package graft.frontier

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature,
  PropertyNamingStrategies}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iceberg-style snapshot layout over Parquet (SURVEY.md §7.0: no Iceberg
  * jars ship in this sandbox, so we implement the same *semantics* — atomic
  * snapshot commit, parent lineage, time-travel to round k, resumability —
  * as a directory protocol; swapping in real Iceberg is a sink change):
  *
  * {{{
  * warehouse/
  *   snap-00000/    tables written by CrawlRound.seed: the seeds as
  *                  round 0 (bloom and manifest committed by CrawlLoop
  *                  like every round's)
  *     head/          frontier head
  *     host_state/    per-host backlog state; only while some host is
  *                    backlogged (the manifest's backlogPending > 0)
  *     backlog_add/ backlog_rm/ backlog_base/   backlog delta segments
  *     seen_delta/    url-hash pairs first enqueued this round
  *     fetched/       the round's fetch working set (item tables and the
  *                    fetch log are views over it — see [[Tables]])
  *     misses/        selected urls with no page row
  *     bloom.bin      cumulative Bloom as of this round; with S > 1
  *                    shards, `bloom-%03d.bin`, one per url_hash range
  *     manifest.json  COMMIT MARKER — written last; a snapshot without a
  *                    manifest is invisible (aborted round ⇒ clean resume)
  * }}}
  *
  * Every directory is a Parquet table. `fetched` is the round's working
  * set (url, lineage columns, extracted `out` struct, text_match); the
  * item tables are views over it at read time — one write per round
  * instead of five. `fetched` and `misses` store no round column:
  * [[readTable]] derives it from the snap dir ([[roundOfFile]]).
  *
  * The seed and every round write their tables and return their
  * [[Manifest]] and delta Bloom; `CrawlLoop` commits each snapshot,
  * snapshot 0 included, the same way: the delta ORed into the cumulative
  * Bloom, `bloom*.bin`, then `manifest.json`.
  *
  * Item tables and the seen set are stored as per-round DELTAS: the full
  * table at round k = union of deltas 0..k. At the 10^10-URL design point
  * this keeps each commit O(round output), never O(total crawl state).
  */
object Snapshots {

  /** Logical tables exposed to readers (`frontier` = head ∪ pending
    * backlog). */
  val Tables: Seq[String] =
    Seq("frontier", "seen_delta", "fetched", "misses", "posts", "replies",
      "comments", "tieba_names", "fetch_log")

  def snapDir(warehouse: String, round: Int): String =
    f"$warehouse/snap-$round%05d"

  final case class Manifest(round: Int, parent: Int, frontierCount: Long,
                            seenDeltaCount: Long, fetched: Long, errors: Long,
                            deduped: Long, lineage: Seq[PartitionLineage],
                            headCount: Long, backlogPending: Long,
                            backlogPhysRows: Long, baseRound: Int)

  /** The state before snapshot 0 ("round −1"): nothing pending, no
    * backlog, no compacted base. Snapshot 0's previous manifest; never
    * written. */
  val EmptyManifest: Manifest =
    Manifest(-1, -2, 0L, 0L, 0L, 0L, 0L, Nil, 0L, 0L, 0L, -1)

  /** Manifest JSON: snake_case keys; a manifest missing a key fails to
    * read. */
  private val manifestJson = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES)
    .build()

  def writeManifest(warehouse: String, m: Manifest): Unit = {
    val json = manifestJson.writeValueAsString(m)
    val dir = Paths.get(snapDir(warehouse, m.round))
    Files.createDirectories(dir)
    val tmp = dir.resolve("manifest.json.tmp")
    Files.writeString(tmp, json)
    // atomic publish: the rename IS the commit
    Files.move(tmp, dir.resolve("manifest.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def readManifest(warehouse: String, round: Int): Option[Manifest] = {
    val p = Paths.get(snapDir(warehouse, round), "manifest.json")
    if (!Files.exists(p)) None
    else Some(manifestJson.readValue(Files.readString(p), classOf[Manifest]))
  }

  private val SnapDirPattern = "snap-(\\d+)".r

  /** Highest committed round, i.e. max snap-k having a manifest. Stray
    * non-numeric snap-* entries are ignored; the listing stream is closed
    * (this runs every round and per reader — ADVICE r1). */
  def latestCommittedRound(warehouse: String): Option[Int] = {
    val w = Paths.get(warehouse)
    if (!Files.exists(w)) return None
    val stream = Files.list(w)
    try {
      stream.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case SnapDirPattern(k) => k.toInt }
        .filter(r => Files.exists(Paths.get(snapDir(warehouse, r), "manifest.json")))
        .maxOption
    } finally stream.close()
  }

  /** Sharded seen-filter persistence ([[ShardedBloom]]): S = 1 keeps the
    * single `bloom.bin` (existing snapshots stay readable); S > 1 writes
    * one `bloom-%03d.bin` per url_hash-range shard — at the 10^10 design
    * point the cumulative filter (~12 GB) cannot be one file or one JVM
    * array anyway, and per-shard files let a sharded reader fetch only
    * the shards it owns. */
  def writeBloomShards(warehouse: String, round: Int,
                       shards: Array[Array[Byte]]): Unit = {
    val dir = Paths.get(snapDir(warehouse, round))
    Files.createDirectories(dir)
    if (shards.length == 1) Files.write(dir.resolve("bloom.bin"), shards(0))
    else shards.zipWithIndex.foreach { case (b, i) =>
      Files.write(dir.resolve(f"bloom-$i%03d.bin"), b)
    }
  }

  def readBloomShards(warehouse: String, round: Int): Array[Array[Byte]] = {
    val dir = Paths.get(snapDir(warehouse, round))
    val single = dir.resolve("bloom.bin")
    if (Files.exists(single)) Array(Files.readAllBytes(single))
    else {
      val stream = Files.list(dir)
      val names = try stream.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("bloom-") && n.endsWith(".bin"))
        .toSeq
      finally stream.close()
      require(names.nonEmpty, s"no bloom files in $dir")
      // place by the PARSED shard index, never lexicographic filename
      // order — at ≥1000 shards the %03d padding overflows and a sort
      // would put shards at wrong indices (probe reads the wrong range
      // ⇒ Bloom false negatives ⇒ re-crawled URLs)
      val byIdx = names
        .map(n => n.stripPrefix("bloom-").stripSuffix(".bin").toInt -> n)
        .sortBy(_._1)
      require(byIdx.map(_._1) == byIdx.indices.toList,
        s"bloom shard files not contiguous in $dir: ${byIdx.map(_._1)}")
      byIdx.map { case (_, n) => Files.readAllBytes(dir.resolve(n)) }.toArray
    }
  }

  def tablePath(warehouse: String, round: Int, table: String): String =
    s"${snapDir(warehouse, round)}/$table"

  private def existingDeltaPaths(warehouse: String, table: String,
                                 upToRound: Int): Seq[String] =
    (0 to upToRound).map(r => tablePath(warehouse, r, table))
      .filter(p => Files.exists(Paths.get(p)))

  /** Fixed schemas for the simple physical tables: supplying them skips
    * the per-read footer-inference job (serial driver time in the round
    * loop). `fetched` stays inferred — its nested `out` struct follows
    * the extractor's item types. */
  private[frontier] val StaticSchemas: Map[String, org.apache.spark.sql.types.StructType] =
    Map(
      "head" -> TieredFrontier.feSchema,
      "backlog_add" -> TieredFrontier.backlogSchema,
      "backlog_base" -> TieredFrontier.backlogSchema,
      "host_state" -> TieredFrontier.hostStateSchema,
      "seen_delta" -> org.apache.spark.sql.types.StructType.fromDDL(
        "url_hash BIGINT, url_hash2 BIGINT"),
      "backlog_rm" -> org.apache.spark.sql.types.StructType.fromDDL(
        "url_hash BIGINT, host_hash BIGINT"),
      "misses" -> org.apache.spark.sql.types.StructType.fromDDL(
        "url STRING, url_hash BIGINT, host STRING, depth INT"))

  /** The round a file-source row was read from: the `k` of the
    * `snap-k/<table>/<file>` it lives in. `fetched` and `misses` store no
    * round column — a per-round literal in the round's plan would make
    * every round compile new code — so readers derive it from here. */
  def roundOfFile: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    regexp_extract(col("_metadata.file_path"), ".*/snap-(\\d+)/[^/]+/[^/]+$", 1)
      .cast("int")
  }

  private def readPhysical(spark: SparkSession, warehouse: String,
                           table: String, upToRound: Int): Option[DataFrame] = {
    val paths = existingDeltaPaths(warehouse, table, upToRound)
    if (paths.isEmpty) None
    else StaticSchemas.get(table) match {
      case Some(s) => Some(spark.read.schema(s).parquet(paths: _*))
      case None    => Some(spark.read.parquet(paths: _*))
    }
  }

  /** Full logical table at round k = union of committed deltas 0..k.
    * Item tables and the fetch log are derived from `fetched`/`misses`.
    * `frontier` is NOT a delta table — each round writes the full pending
    * state — so it reads only the latest dir ≤ k (ADVICE r1). */
  def readTable(spark: SparkSession, warehouse: String, table: String,
                upToRound: Int): Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    def fetched = readPhysical(spark, warehouse, "fetched", upToRound)
      .map(_.withColumn("round", roundOfFile))
    def misses = readPhysical(spark, warehouse, "misses", upToRound)
      .map(m => m.select(roundOfFile.as("round") +: m.columns.map(col): _*))
    table match {
      case "frontier" =>
        val baseRound = readManifest(warehouse, upToRound)
          .map(_.baseRound).getOrElse(-1)
        TieredFrontier.readPending(spark, warehouse, upToRound, baseRound)
      case "posts" => fetched.map(
        _.select(explode(col("out.posts")).as("p")).select(col("p.*")))
      case "replies" => fetched.map(
        _.select(explode(col("out.replies")).as("r")).select(col("r.*")))
      case "comments" => fetched.map(
        _.select(explode(col("out.comments")).as("c")).select(col("c.*")))
      case "tieba_names" => fetched.map(
        _.select(col("url").as("user_url"),
          explode(col("out.tieba_names")).as("tieba")))
      case "misses" => misses
      case "fetch_log" =>
        val f = fetched.map(_.select(col("round"), col("url"),
          col("url_hash"), col("host"), col("depth"),
          lit("fetched").as("status"), col("text_match")))
        val m = misses.map(_.select(col("round"), col("url"),
          col("url_hash"), col("host"), col("depth"), lit("miss").as("status"),
          lit(false).as("text_match")))
        (f, m) match {
          case (Some(a), Some(b)) => Some(a.unionByName(b))
          case (a, b) => a.orElse(b)
        }
      case "fetched" => fetched
      case _ => readPhysical(spark, warehouse, table, upToRound)
    }
  }

  def readLatestTable(spark: SparkSession, warehouse: String,
                      table: String): Option[DataFrame] =
    latestCommittedRound(warehouse)
      .flatMap(r => readTable(spark, warehouse, table, r))
}
