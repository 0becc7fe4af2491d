package graft.frontier

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
import org.apache.spark.storage.StorageLevel

/** Tiered frontier storage — the O(delta)-per-round layout (Mercator's
  * front/back-queue design re-expressed for batch rounds).
  *
  * The pending frontier is split into:
  *
  *  - '''head''' — per-host top-H entries in the politeness order
  *    (priority, warc_ts, url_hash), H = headFactor × perHostBudget.
  *    Small (O(active hosts × H)); rewritten in full each round. All
  *    selection windows run over the head ONLY.
  *  - '''backlog''' — everything else. Append-only per-round segment
  *    files (`backlog_add`, partitioned by host_bucket for pruned refill
  *    scans) plus per-round tombstone files (`backlog_rm`, url hashes
  *    moved back into the head). Never rewritten per round; compacted to
  *    a `backlog_base` when tombstones exceed [[CompactFraction]].
  *  - '''host_state''' — (host_hash, backlog_count, bmin = the backlog's
  *    minimum politeness key): the tiny full-state table driving refill
  *    decisions without scanning the backlog. It lists backlogged hosts
  *    only, so it is written only in a round whose backlog is in use, and
  *    a snapshot whose manifest has backlogPending = 0 may have none.
  *
  * The head/backlog split itself lives in the round's merge
  * ([[graft.round.CrawlRound]]): snapshot 0 is a round with no fetch, its
  * seeds split per host exactly like discovered links. This object owns
  * the layout: schemas, paths, reads and backlog compaction.
  *
  * Invariant (per host): every backlog entry orders AFTER every head
  * entry, so head-only selection equals full-frontier selection whenever
  * |head(host)| ≥ min(perHostBudget, pending(host)) — guaranteed by
  * refilling any host whose head dropped below the budget at the end of
  * the previous round (overflow hosts always keep a full head, so refill
  * decisions can use the previous round's host_state).
  *
  * Per-round cost: O(head + new links + overflow) writes and one
  * head-sized window — independent of backlog size. Refill rounds add a
  * bucket-pruned backlog read for the refilling hosts only; each entry
  * moves head→backlog→head at most once. This replaces the r1 design
  * that windowed and rewrote the ENTIRE frontier every round (O(10^10)
  * at the design point).
  */
object TieredFrontier {

  /** Head capacity multiplier: H = HeadFactor × perHostBudget. Larger ⇒
    * rarer refills (a host refills every ~(H-B)/B rounds) at the price of
    * a bigger per-round head rewrite. */
  val HeadFactor = 8

  /** Compact the backlog once tombstones exceed this fraction of its
    * physical rows (and it is big enough to matter). The min-rows floor is
    * a system property so tests can force compaction at tiny scale. */
  val CompactFraction = 0.3
  val DefaultCompactMinRows = 100000L
  def CompactMinRows: Long = sys.props.get("graft.frontier.compactMinRows")
    .map(_.toLong).getOrElse(DefaultCompactMinRows)

  /** Static schemas for every per-round read: schema inference costs one
    * small Spark job per `spark.read.parquet` (a footer read), and the
    * round loop does several reads per round — at cluster job-launch
    * latencies that was measurable serial driver time (F) every round. */
  val feSchema: StructType = StructType.fromDDL(
      "url STRING, url_hash BIGINT, host STRING, host_hash BIGINT, " +
        "priority INT, depth INT, parent_url STRING, " +
        "discovered_round INT, warc_ts TIMESTAMP")
  val feCols: Seq[String] = feSchema.fieldNames.toSeq
  /** Backlog segments are directory-partitioned by host_bucket. */
  val backlogSchema: StructType = feSchema.add("host_bucket", IntegerType)

  /** The politeness order (priority, warc_ts, url_hash): selection,
    * overflow, refill and the head/backlog invariant all rank by it. */
  private val orderNames = Seq("priority", "warc_ts", "url_hash")
  val orderCols: Seq[Column] = orderNames.map(col)
  /** Per-host rank in the politeness order. */
  val hostWindow: WindowSpec =
    Window.partitionBy(col("host_hash")).orderBy(orderCols: _*)
  /** The order as one comparable struct — host_state's `bmin`. */
  def keyCol: Column = struct(orderCols: _*)
  val keyType: StructType = StructType(orderNames.map(feSchema(_)))
  val hostStateSchema: StructType = new StructType()
    .add("host_hash", LongType).add("backlog_count", LongType)
    .add("bmin", keyType)

  def headPath(wh: String, round: Int): String =
    Snapshots.tablePath(wh, round, "head")
  def addPath(wh: String, round: Int): String =
    Snapshots.tablePath(wh, round, "backlog_add")
  def rmPath(wh: String, round: Int): String =
    Snapshots.tablePath(wh, round, "backlog_rm")
  def basePath(wh: String, round: Int): String =
    Snapshots.tablePath(wh, round, "backlog_base")
  def hostStatePath(wh: String, round: Int): String =
    Snapshots.tablePath(wh, round, "host_state")

  def readHead(spark: SparkSession, wh: String, round: Int): DataFrame =
    spark.read.schema(feSchema).parquet(headPath(wh, round))

  def readHostState(spark: SparkSession, wh: String, round: Int): DataFrame =
    spark.read.schema(hostStateSchema).parquet(hostStatePath(wh, round))

  private def existing(paths: Seq[String]): Seq[String] =
    paths.filter(p => Files.exists(Paths.get(p)))

  /** Pending backlog at round `upTo`: (base at baseRound if any) ∪ adds in
    * (baseRound, upTo] minus tombstones in (baseRound, upTo]. Pass
    * `buckets` to prune the scan to the host_buckets being refilled. */
  def readBacklogPending(spark: SparkSession, wh: String, baseRound: Int,
                         upTo: Int,
                         buckets: Option[Seq[Int]] = None): Option[DataFrame] = {
    val from = math.max(baseRound, 0)
    val segPaths = existing(
      (if (baseRound >= 0) Seq(basePath(wh, baseRound)) else Nil) ++
        ((from + (if (baseRound >= 0) 1 else 0)) to upTo).map(addPath(wh, _)))
    if (segPaths.isEmpty) return None
    // each segment dir is its own partitioned (host_bucket=…) root — read
    // separately and union (one shared read would mis-infer the layout);
    // the bucket filter still prunes at the directory level per segment
    val segs = segPaths.map { p =>
      val d = spark.read.schema(backlogSchema).parquet(p)
      buckets match {
        case Some(bs) => d.filter(col("host_bucket").isin(bs.map(Int.box): _*))
        case None     => d
      }
    }.reduce(_ unionByName _)
    val rmPaths = existing(((from + 1) to upTo).map(rmPath(wh, _)))
    val pending =
      if (rmPaths.isEmpty) segs
      else segs.join(
        spark.read.schema(Snapshots.StaticSchemas("backlog_rm"))
          .parquet(rmPaths: _*).select("url_hash"),
        Seq("url_hash"), "left_anti")
    Some(pending)
  }

  /** Full pending frontier (head ∪ backlog) — the logical `frontier`
    * table exposed to readers. */
  def readPending(spark: SparkSession, wh: String, round: Int,
                  baseRound: Int): Option[DataFrame] = {
    val head =
      if (Files.exists(Paths.get(headPath(wh, round))))
        Some(readHead(spark, wh, round).select(feCols.map(col): _*))
      else None
    val backlog = readBacklogPending(spark, wh, baseRound, round)
      .map(_.select(feCols.map(col): _*))
    (head, backlog) match {
      case (Some(h), Some(b)) => Some(h.unionByName(b))
      case (h, b)             => h.orElse(b)
    }
  }

  /** Map-side partial top-k for the refill path: per INPUT partition, keep
    * only the k best entries per host in the politeness order — a bounded
    * heap per (partition, host), no shuffle. The exact global window then
    * ranks ≤ k × hosts × partitions rows instead of the whole backlog.
    * (Classic two-phase top-k; mapPartitions is justified here because no
    * built-in aggregate expresses bounded top-k with map-side combine.) */
  def localTopKPerHost(df: DataFrame, k: Int): DataFrame = {
    val schema = df.schema
    val iHost = schema.fieldIndex("host_hash")
    val iPrio = schema.fieldIndex("priority")
    val iTs = schema.fieldIndex("warc_ts")
    val iHash = schema.fieldIndex("url_hash")
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      type Key = (Int, Long, Long)
      def keyOf(r: org.apache.spark.sql.Row): Key =
        (r.getInt(iPrio), r.getTimestamp(iTs).getTime, r.getLong(iHash))
      // max-heap on the key: the root is the WORST of the kept k smallest
      val ord = Ordering.by[(Key, org.apache.spark.sql.Row), Key](_._1)
      val heaps = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.PriorityQueue[(Key, org.apache.spark.sql.Row)]]
      it.foreach { r =>
        val h = heaps.getOrElseUpdate(r.getLong(iHost),
          scala.collection.mutable.PriorityQueue.empty(ord))
        val key = keyOf(r)
        if (h.size < k) h.enqueue((key, r))
        else if (ord.lt((key, r), h.head)) { h.dequeue(); h.enqueue((key, r)) }
      }
      heaps.valuesIterator.flatMap(_.iterator.map(_._2))
    }
  }

  /** Rewrite the pending backlog as a single compacted base at `round`
    * (amortized: runs only when tombstones ≥ CompactFraction). Returns the
    * new physical row count (== pending count). */
  def compact(spark: SparkSession, wh: String, round: Int,
              prevBaseRound: Int): Long = {
    val pending = readBacklogPending(spark, wh, prevBaseRound, round)
      .getOrElse(return 0L)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // a fully-tombstoned backlog must write NOTHING: a 0-row partitioned
      // parquet write emits no part files, and every later read of that
      // base dir would die on schema inference — skipping the write leaves
      // no base dir, which readBacklogPending's existence filter handles
      val n = pending.count()
      if (n > 0)
        pending.write.mode("overwrite").partitionBy("host_bucket")
          .parquet(basePath(wh, round))
      n
    } finally pending.unpersist()
  }
}
