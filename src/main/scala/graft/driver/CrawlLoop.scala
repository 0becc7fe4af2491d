package graft.driver

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.core.Crawl
import graft.frontier.{ShardedBloom, Snapshots, TieredFrontier}
import graft.round.CrawlRound
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The driver-side fixpoint loop replacing the reference's Twisted reactor
  * (SURVEY.md §3.1 step 4): bounded iterative BFS = batch rounds with a
  * global barrier, NOT Structured Streaming.
  *
  * Every round commits an Iceberg-style snapshot (frontier, seen delta,
  * item deltas, cumulative Bloom, manifest-with-lineage). Reading the next
  * round's frontier back from the committed snapshot both breaks Spark
  * lineage (no ever-growing plan across iterations) and makes
  * cancel ≡ stop-after-round and resume ≡ load-latest-snapshot (T6/T7).
  *
  * The seed ([[CrawlRound.seed]]) and every round ([[CrawlRound.run]])
  * return their manifest and delta Bloom uncommitted, and all snapshots,
  * snapshot 0 included, commit through one path: OR the delta into the
  * cumulative filter, compact the backlog when tombstones dominate, write
  * the Bloom, then the manifest.
  */
object CrawlLoop {

  /** `pendingAfter` > 0 means the loop exited on maxRounds (or a cancel
    * marker) with work left — a capped run, not a drained crawl. Recorded
    * so throughput measurements can prove the corpus actually drained. */
  final case class CrawlSummary(rounds: Int, totalFetched: Long,
                                totalErrors: Long, totalDeduped: Long,
                                seenCount: Long, pendingAfter: Long = 0L)

  val CancelMarker = "CANCEL"

  /** `expectedUrls` sizes the seen filter. At the 10^10 design point a
    * single 1%-fpp Bloom is ~12 GB — beyond one JVM array — so the filter
    * is SHARDED by url_hash range ([[ShardedBloom]]): shard count derives
    * from expectedUrls (S=1 locally — identical to a single filter),
    * deltas build as one shard-grouped distributed agg, rounds merge
    * per-shard, and the probe reads exactly one shard per row. */
  def run(spark: SparkSession,
          pages: DataFrame,
          seedUrls: Seq[String],
          cfg: Crawl.CrawlConfig,
          warehouse: String,
          expectedUrls: Long = 1L << 20,
          resume: Boolean = false,
          robots: Map[String, Vector[String]] = Map.empty): CrawlSummary = {
    import spark.implicits._

    // the last committed manifest and the cumulative Bloom (shard array),
    // which lives in driver memory across rounds: the per-round file write
    // is the resume source of truth, read only when resuming
    val (start, bloom) = Snapshots.latestCommittedRound(warehouse) match {
      case Some(r) if resume => (Snapshots.readManifest(warehouse, r).get,
        Snapshots.readBloomShards(warehouse, r))
      case Some(_) =>
        sys.error(s"warehouse $warehouse already has snapshots; pass resume=true")
      case None => (Snapshots.EmptyManifest, ShardedBloom.empty(expectedUrls,
        numShards = ShardedBloom.numShardsFor(expectedUrls)))
    }
    var prev = start
    var committed = Vector.empty[Snapshots.Manifest]

    // The one commit path, for snapshot 0 and every round. Incremental
    // Bloom merge (north_rule "merge deltas at round boundaries"): the
    // round built its delta Bloom DISTRIBUTED with the cumulative filter's
    // geometry; one bitwise OR here — the driver never sees raw hashes,
    // only two bitsets. Amortized backlog compaction: rewrite pending as a
    // fresh base once tombstones dominate (keeps refill scans and reader
    // anti-joins bounded without any per-round rewrite); snapshot 0 has no
    // tombstones. The manifest is written last: it is the commit marker.
    def commit(result: (Snapshots.Manifest, Array[Array[Byte]])): Unit = {
      val (m, delta) = result
      ShardedBloom.mergeInto(bloom, delta)
      val tombstones = m.backlogPhysRows - m.backlogPending
      val done =
        if (m.backlogPhysRows > TieredFrontier.CompactMinRows &&
          tombstones > TieredFrontier.CompactFraction * m.backlogPhysRows)
          m.copy(backlogPhysRows = TieredFrontier.compact(spark, warehouse,
            m.round, m.baseRound), baseRound = m.round)
        else m
      Snapshots.writeBloomShards(warehouse, done.round, bloom)
      Snapshots.writeManifest(warehouse, done)
      prev = done
      committed :+= done
    }

    if (prev.round < 0)
      commit(seedSnapshot(spark, seedUrls, cfg, warehouse, expectedUrls, robots))
    // prev.headCount is the trusted upper bound CrawlRound gates the fetch
    // join on
    while (prev.frontierCount != 0L && prev.round < cfg.maxRounds &&
      !Files.exists(Paths.get(warehouse, CancelMarker))) {
      val head = TieredFrontier.readHead(spark, warehouse, prev.round)
      val seen = Snapshots.readTable(spark, warehouse, "seen_delta", prev.round)
        .getOrElse(Seq.empty[(Long, Long)].toDF("url_hash", "url_hash2"))
      // the round writes its tables itself; commit() makes it visible
      commit(CrawlRound.run(spark, head, pages, seen, bloom, cfg,
        prev.round + 1, warehouse, prev, expectedUrls, robots))
    }

    // arithmetic, not a count job: seen = Σ per-round seen_delta counts
    // (an O(seen) scan here would grow with crawl age for a summary field);
    // the totals count only this invocation's rounds
    val seenCount = (0 to prev.round)
      .flatMap(Snapshots.readManifest(warehouse, _))
      .map(_.seenDeltaCount).sum
    CrawlSummary(prev.round, committed.map(_.fetched).sum,
      committed.map(_.errors).sum, committed.map(_.deduped).sum, seenCount,
      pendingAfter = math.max(prev.frontierCount, 0L))
  }

  /** Snapshot 0: seeds only (mirrors start_urls, PostSpider.py:40).
    * DISTRIBUTED: seed lists can be millions of urls (the bench's frontier
    * harness seeds 3M), so they are canonicalized over a parallelized seed
    * RDD — never driver-side sorting or one giant LocalRelation in the
    * plan — and then enter the frontier the way discovered links do
    * ([[CrawlRound.seed]]: robots gate, dedupe on the canonical url, as the
    * oracle simulator's `seen.add` does, and the head/backlog split).
    * Returns snapshot 0's manifest and Bloom, committed like any round's. */
  private def seedSnapshot(spark: SparkSession, seedUrls: Seq[String],
                           cfg: Crawl.CrawlConfig, warehouse: String,
                           expectedUrls: Long,
                           robots: Map[String, Vector[String]]
                          ): (Snapshots.Manifest, Array[Array[Byte]]) = {
    import spark.implicits._
    val canonUdf = udf((u: String) => graft.core.UrlCanon.canonicalize(u))
    val slices = math.max(1, math.min(64, seedUrls.size / 50000 + 1))
    val seeds = spark.sparkContext.parallelize(seedUrls, slices).toDF("raw_url")
      .select(canonUdf(col("raw_url")).as("url"), lit(0).as("priority"),
        lit(0).as("depth"), lit("").as("parent_url"),
        lit(0).as("discovered_round"), lit(new Timestamp(0L)).as("warc_ts"))
    CrawlRound.seed(spark, seeds, cfg, warehouse, expectedUrls, robots)
  }

  /** Final item tables (union of per-round deltas at the latest snapshot). */
  def outputs(spark: SparkSession, warehouse: String): Map[String, DataFrame] =
    Snapshots.Tables.flatMap(t =>
      Snapshots.readLatestTable(spark, warehouse, t).map(t -> _)).toMap
}
