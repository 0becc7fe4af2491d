package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py` (which builds the
  * classpath, sizes the heap and turns this output into the result line).
  *
  * {{{
  * Main --workload crawl_deep|queries --seed N --seconds S
  *      --trace 0|1 --work DIR [--forums N] [--corrupt-pin]
  * Main --write-pins FILE --work DIR [--unstable q1,q2]
  * }}}
  *
  * Prints `PERFBENCH_ENV {...}` (seed, machine, effective Spark conf) and,
  * last, `PERFBENCH_RESULT {...}` with the attempted count, one message
  * per failed operation, and the metric values (null when no operation
  * succeeded). Spans of a traced run go to DIR/spans.json.
  */
object Main {

  val Workloads = Seq("crawl_deep", "queries")

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val (opts, flags) = parse(args.toList)
    val work = opts.getOrElse("work", sys.error("--work is required"))
    Files.createDirectories(Paths.get(work))

    val (spark, sessionSec) = Bench.secondsOf(session(work))
    try {
      opts.get("write-pins") match {
        case Some(out) =>
          val ctx = Ctx(spark, 0L, 0, trace = false, work, new Spans(false), sessionSec)
          QueryBench.writePins(ctx, out,
            opts.get("unstable").map(_.split(',').toSet).getOrElse(Set.empty))
        case None =>
          val workload = opts("workload")
          require(Workloads.contains(workload), s"unknown workload $workload")
          val trace = opts("trace") == "1"
          val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toDouble,
            trace, work, new Spans(trace), sessionSec)
          printEnv(ctx, workload)
          val (steal0, total0) = Bench.cpuJiffies
          val corrupt = flags.contains("corrupt-pin")
          val outcome = workload match {
            case "queries" => QueryBench.run(ctx, pinEdit = pins =>
              if (!corrupt) pins else {
                val first = QueryBench.names.head
                pins.updated(first, pins(first).copy(rows = pins(first).rows + 1))
              })
            case _ => CrawlBench.run(ctx,
              forums = opts.get("forums").map(_.toInt).getOrElse(12),
              pinEdit = p => if (corrupt) p.copy(fetched = p.fetched + 1) else p)
          }
          if (trace) Files.writeString(Paths.get(work, "spans.json"), ctx.spans.toJson)
          val (steal1, total1) = Bench.cpuJiffies
          Bench.info(f"CPU steal during the run: " +
            f"${100.0 * (steal1 - steal0) / math.max(1L, total1 - total0)}%.1f%%")
          println("PERFBENCH_RESULT " + Json.render(Map(
            "attempted" -> outcome.attempted,
            "failures" -> outcome.failures,
            "metrics" -> outcome.metrics)))
      }
    } finally spark.stop()
  }

  /** `--key value` pairs, and `--flag`s that take no value. */
  def parse(args: List[String]): (Map[String, String], Set[String]) = args match {
    case Nil => (Map.empty, Set.empty)
    case k :: v :: rest if k.startsWith("--") && !v.startsWith("--") =>
      val (o, f) = parse(rest); (o + (k.drop(2) -> v), f)
    case k :: rest if k.startsWith("--") =>
      val (o, f) = parse(rest); (o, f + k.drop(2))
    case other :: _ => sys.error(s"unexpected argument $other")
  }

  private def printEnv(ctx: Ctx, workload: String): Unit = {
    val rt = Runtime.getRuntime
    println("PERFBENCH_ENV " + Json.render(Map(
      "workload" -> workload,
      "seed" -> ctx.seed,
      "seconds" -> ctx.seconds,
      "trace" -> ctx.trace,
      "nproc" -> rt.availableProcessors(),
      "mem_total_kb" -> Bench.memTotalKb,
      "max_heap_mb" -> rt.maxMemory() / (1L << 20),
      "java" -> System.getProperty("java.version"),
      "spark" -> ctx.spark.version,
      "spark_conf" -> ctx.spark.conf.getAll.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" })))
  }
}
