package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `queries` workload: every `SparkEntry.queries` entry over the
  * tables of [[QueryTables]], each result fully materialised into its row
  * count and an order-insensitive row hash, and checked against pins. */
object QueryBench {

  val PinsPath = "perfbench/pins/queries.tsv"
  val Scale = 1.0

  /** Which engine module each query calls; unlisted queries are plain
    * Spark SQL in `Queries` and count as relational. */
  val Modules: Seq[(String, Set[String])] = Seq(
    "ops.dedup_s" -> Set("q_decontaminate", "q_dedup_ngram_jaccard",
      "q_dedup_minhash_lsh", "q_dedup_clusters", "q_dedup_embed_cosine",
      "q_dedup_simhash", "q_pipeline_end_to_end"),
    "ops.similarity_s" -> Set("q_ann_brute_topk", "q_ann_lsh_topk"),
    "ops.textops_s" -> Set("q_text_langid", "q_text_token_counts",
      "q_text_quality", "q_text_pii_redact", "q_text_gopher_c4",
      "q_text_fingerprint"),
    "ops.multimodal_s" -> Set("q_multimodal_features", "q_multimodal_resize"),
    "analytics_s" -> Set("q_a2_keyword_top10", "q_j3_keyword_search",
      "q_chart_keyword_freq", "q_s7_count_upsert", "q_o1_top20_sorted",
      "q_sentiment_buckets", "q_summary_containment", "q_weibo_pipeline",
      "q_s8_csv_roundtrip"),
    "stream_s" -> Set("q_t1_stream_window_agg", "q_t2_stream_sessionize"))

  def module(query: String): String =
    Modules.find(_._2.contains(query)).map(_._1).getOrElse("relational_s")

  val ModuleNames: Seq[String] = Modules.map(_._1) :+ "relational_s"

  /** A query's pinned output: row count, schema, and the row hash — None
    * for a query whose hash is not stable from run to run. */
  final case class Pin(rows: Long, hash: Option[String], schema: String)

  def readPins(path: String): Map[String, Pin] =
    Files.readAllLines(Paths.get(path)).asScala
      .filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
        val Array(name, rows, hash, schema) = l.split("\t", 4)
        name -> Pin(rows.toLong, if (hash == "-") None else Some(hash), schema)
      }.toMap

  /** Doubles and floats enter the hash as 9 significant digits, so a
    * different summation order across partitions cannot change it. */
  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => canonical(x, et))
    case st: StructType =>
      when(c.isNull, lit(null)).otherwise(struct(st.fields.toSeq.map(f =>
        canonical(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  /** Computes every column of `df` into (row count, order-insensitive
    * hash): the sum of per-row xxhash64 values, modulo 2^64. */
  def materialise(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map(f =>
      canonical(df.col("`" + f.name + "`"), f.dataType))
    val row = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).collect()(0)
    val total = Option(row.getDecimal(1)).map(_.toBigInteger)
      .getOrElse(java.math.BigInteger.ZERO)
    (row.getLong(0), total.mod(java.math.BigInteger.ONE.shiftLeft(64)).toString(16))
  }

  /** One successful query: its wall seconds and [start, end) epoch ms. */
  final case class QueryRun(name: String, secs: Double, start: Long, end: Long)

  /** Runs one query under its own job group; a throw or a pin mismatch is
    * a failure with its message, never a time sample. */
  def runOne(ctx: Ctx, name: String, dir: String,
             pins: Map[String, Pin]): Either[String, QueryRun] = {
    val sc = ctx.spark.sparkContext
    sc.setJobGroup(name, name)
    val start = System.currentTimeMillis()
    try {
      val ((rows, hash, schema), secs) = Bench.secondsOf(ctx.spans(s"query.$name") {
        val df = SparkEntry.queries(name)(ctx.spark, dir)
        val (rows, hash) = materialise(df)
        (rows, hash, df.schema.catalogString)
      })
      pins.get(name) match {
        case None => Left(s"$name: no pin")
        case Some(p) if p.rows != rows => Left(s"$name: $rows rows, pinned ${p.rows}")
        case Some(p) if p.schema != schema => Left(s"$name: schema $schema, pinned ${p.schema}")
        case Some(p) if p.hash.exists(_ != hash) => Left(s"$name: row hash $hash, pinned ${p.hash.get}")
        case Some(_) => Right(QueryRun(name, secs, start, System.currentTimeMillis()))
      }
    } catch {
      case e: Exception => Left(s"$name threw ${e.getClass.getName}: ${e.getMessage}")
    } finally sc.clearJobGroup()
  }

  /** Table generation, repeated for a median set-up time. */
  def generate(ctx: Ctx, reps: Int): (Seq[Double], String) = {
    val secs = (1 to reps).map { i =>
      Bench.secondsOf(ctx.spans("query_tables.write") {
        QueryTables.write(ctx.spark, s"${ctx.work}/tables-$i", Scale)
      })._2
    }
    (1 until reps).foreach(i => Bench.deleteTree(s"${ctx.work}/tables-$i"))
    (secs, s"${ctx.work}/tables-$reps")
  }

  /** Fixed order: the tables do not depend on the workload seed (the pins
    * need them fixed), so neither does anything else in this workload. */
  def names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  def run(ctx: Ctx, pinEdit: Map[String, Pin] => Map[String, Pin] = identity): Outcome = {
    System.setProperty("graft.golden.sfcheck", "off")
    val (genSecs, dir) = generate(ctx, Bench.SetupReps)
    val setupSec = ctx.sessionSec + Stats.median(genSecs)
    val pins = pinEdit(readPins(PinsPath))
    val failures = collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def ok(r: Either[String, QueryRun]): Option[QueryRun] = {
      attempted += 1
      r.left.foreach(failures += _)
      r.toOption
    }

    // whole passes until the run's seconds are spent; a traced run does
    // the same with the recorder on, so its item_ms read beside an
    // untraced run's shows the tracing overhead
    final case class Pass(runs: Seq[QueryRun], wall: Double, cpu: Double, gc: Double)
    val rec = new JobRecorder
    val passes = collection.mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val cpu0 = Bench.cpuSeconds
      val gc0 = Bench.gcSeconds
      def pass = names.flatMap(n => ok(runOne(ctx, n, dir, pins)))
      val (runs, wall) = Bench.secondsOf(
        if (ctx.trace) rec.around(ctx.spark.sparkContext)(pass) else pass)
      passes += Pass(runs, wall, Bench.cpuSeconds - cpu0, Bench.gcSeconds - gc0)
    }
    val good = passes.filter(_.runs.size == names.size).toSeq
    val secs = passes.flatMap(_.runs.map(_.secs)).toSeq
    val e2e = Map(
      "item_ms" -> Bench.med(good.map(p => p.wall * 1000 / p.runs.size)),
      "step_iqm_s" -> (if (secs.isEmpty) None else Some(Stats.iqm(secs))),
      "cpu_ms_per_item" -> Bench.med(good.map(p => p.cpu * 1000 / p.runs.size)),
      "setup_s" -> Some(setupSec))
    val metrics =
      if (!ctx.trace) e2e
      else {
        val runs = passes.flatMap(_.runs).toSeq
        rec.steps(runs.map(r => (r.start, r.end)), runs.size, ctx.cores) ++
          queryLayers(passes.last.runs) ++
          LayerProbes.core(ctx, CrawlBench.shape(ctx.seed)) ++
          LayerProbes.bloom(ctx, CrawlBench.ExpectedUrls) ++
          CrawlBench.LayerNames.map(_ -> Some(0.0)) ++ Map(
          "corpus.gen_s" -> Some(Stats.median(genSecs)),
          "corpus.mb" -> Some(Bench.dirBytes(dir) / 1e6),
          "jvm.cpu_s" -> Bench.med(passes.map(_.cpu).toSeq),
          "jvm.gc_s" -> Bench.med(passes.map(_.gc).toSeq),
          "jvm.peak_rss_mb" -> Some(Bench.peakRssMb),
          "trace.item_ms" -> e2e("item_ms"),
          "step.p80_s" -> (if (secs.isEmpty) None else Some(Stats.quantile(secs, 0.8))),
          "step.max_s" -> (if (secs.isEmpty) None else Some(secs.max)),
          "trace.pass_s" -> Bench.med(good.map(_.wall)))
      }
    Outcome(attempted, failures.toSeq, metrics)
  }

  /** Per-layer metrics only the queries produce; a crawl, which uses none
    * of these layers, reports them as 0. */
  def LayerNames: Seq[String] = ModuleNames ++ names.map(n => s"query.${n}_s")

  /** Per-query seconds of one pass, and their sums per engine module. */
  def queryLayers(runs: Seq[QueryRun]): Map[String, Option[Double]] =
    runs.map(r => s"query.${r.name}_s" -> Some(r.secs)).toMap ++
      ModuleNames.map(m =>
        m -> Some(runs.filter(r => module(r.name) == m).map(_.secs).sum)).toMap

  /** Writes the pins of every query; `unstable` queries, whose hash varies
    * from run to run, are pinned on row count and schema only. */
  def writePins(ctx: Ctx, out: String, unstable: Set[String]): Unit = {
    System.setProperty("graft.golden.sfcheck", "off")
    val (_, dir) = generate(ctx, reps = 1)
    val lines = names.map { n =>
      val df = SparkEntry.queries(n)(ctx.spark, dir)
      val (rows, hash) = materialise(df)
      Seq(n, rows.toString, if (unstable(n)) "-" else hash,
        df.schema.catalogString).mkString("\t")
    }
    Files.createDirectories(Paths.get(out).getParent)
    val header = Seq(
      "# unstable (pinned on rows and schema only): " +
        (if (unstable.isEmpty) "none" else unstable.toSeq.sorted.mkString(",")),
      s"# scale=$Scale seed=${QueryTables.Seed}")
    Files.write(Paths.get(out), (header ++ lines).asJava)
  }
}
