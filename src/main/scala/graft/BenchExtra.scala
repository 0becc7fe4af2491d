package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Extra measurement main (guide §1: measure first; §1.4 noop sink) —
  * NOT part of the driver contract. Times the declared queries exactly
  * the way graft.Bench does (same session shape, same `.count()` action,
  * same sf dir) but with repeats, optional noop-sink isolation, and
  * `.explain("formatted")` dumps for plan evidence.
  *
  * Usage: runMain graft.BenchExtra <sfDir> <planOutDir|-> <repeats> [name...]
  *   - sfDir: testdata dir (default /root/testdata/sf0.1)
  *   - planOutDir: where to write <name>.txt formatted plans ('-' = skip)
  *   - repeats: timed repeats per query (first is reported separately as
  *     the cold number; Bench itself records cold numbers)
  *   - name...: restrict to these query names (default: all)
  *
  * Prints one JSON object keyed by query name: `cold`, `noop` and (with
  * repeats) `warm_min` seconds, or `"failed":true` and the error message
  * for a query that threw.
  */
object BenchExtra {

  private def session(cores: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-benchextra-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** `v` as a JSON string literal. */
  private def jsonString(v: String): String = "\"" + v.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val planDir = if (args.length > 1) args(1) else "-"
    val repeats = if (args.length > 2) args(2).toInt else 1
    val only: Set[String] = args.drop(3).toSet
    System.setProperty("graft.golden.sfcheck", "off")
    val s = session(32)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    if (planDir != "-")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(planDir))
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      s.sparkContext.setJobDescription(name)
      // a query that throws reports its failure, never a time
      val fields = try {
        // cold run exactly as Bench times it
        val (_, cold) = timed(fn(s, sfDir).count())
        val warm = (1 until repeats).map(_ => timed(fn(s, sfDir).count())._2)
        // noop-sink isolation (computes every column, discards output)
        val (_, noop) = timed(
          fn(s, sfDir).write.format("noop").mode("overwrite").save())
        println(f"[benchextra] $name%-28s cold=$cold%7.3f noop=$noop%7.3f " +
          (if (warm.isEmpty) "" else f"warm_min=${warm.min}%7.3f"))
        val warmStr =
          if (warm.isEmpty) "" else f""","warm_min":${warm.min}%.3f"""
        f""""cold":$cold%.3f,"noop":$noop%.3f$warmStr"""
      } catch { case NonFatal(e) =>
        println(s"[benchextra] $name FAILED: $e")
        s""""failed":true,"error":${jsonString(String.valueOf(e.getMessage))}"""
      }
      if (planDir != "-") {
        try {
          val plan = fn(s, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(planDir, s"$name.txt"), plan)
        } catch { case NonFatal(e) =>
          println(s"[benchextra] plan dump $name FAILED: ${e.getMessage}")
        }
      }
      s""""$name":{$fields}"""
    }
    println(results.mkString("{", ",", "}"))
    val total = names.size
    println(s"[benchextra] done: $total queries, sf=$sfDir")
    s.stop()
  }
}
