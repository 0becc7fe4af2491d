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

    // the cumulative Bloom (shard array) lives in driver memory across
    // rounds (it is merged here anyway); the per-round file write remains
    // the resume source of truth, but only a resumed run's first round
    // reads it
    var bloomShards: Array[Array[Byte]] = null
    var round = Snapshots.latestCommittedRound(warehouse) match {
      case Some(r) if resume => r + 1
      case Some(_) =>
        sys.error(s"warehouse $warehouse already has snapshots; pass resume=true")
      case None =>
        bloomShards =
          seedSnapshot(spark, seedUrls, cfg, warehouse, expectedUrls, robots)
        1
    }
    var totalFetched = 0L
    var totalErrors = 0L
    var totalDeduped = 0L
    // derived arithmetically per round: pending' = pending - selected + new.
    // Round - 1 is always committed (snapshot 0 from seedSnapshot, or the
    // latest round on resume), and its headCount is the trusted upper
    // bound CrawlRound gates the fetch join on.
    val start = Snapshots.readManifest(warehouse, round - 1).getOrElse(
      sys.error(s"warehouse $warehouse: no manifest for round ${round - 1}"))
    var state = CrawlRound.FrontierState(start.frontierCount, start.headCount,
      start.backlogPending, start.backlogPhysRows, start.baseRound)

    while (state.pending != 0L && round <= cfg.maxRounds &&
      !Files.exists(Paths.get(warehouse, CancelMarker))) {
      val prev = round - 1
      val head = TieredFrontier.readHead(spark, warehouse, prev)
      val seen = Snapshots.readTable(spark, warehouse, "seen_delta", prev)
        .getOrElse(Seq.empty[(Long, Long)].toDF("url_hash", "url_hash2"))
      val bloom = Option(bloomShards)
        .getOrElse(Snapshots.readBloomShards(warehouse, prev))

      // the round writes fetched/misses/head/backlog deltas/host_state/
      // seen_delta itself; manifest below is the commit marker
      val res = CrawlRound.run(spark, head, pages, seen, bloom, cfg,
        round, warehouse, state, expectedUrls, robots)

      // incremental Bloom merge (north_rule "merge deltas at round
      // boundaries"): the round built this delta's Bloom DISTRIBUTED with
      // the cumulative filter's geometry; one bitwise OR here — the driver
      // never sees raw hashes, only two bitsets.
      bloomShards = res.deltaBloom.fold(bloom)(ShardedBloom.mergeInto(bloom, _))
      Snapshots.writeBloomShards(warehouse, round, bloomShards)
      state = res.state

      // amortized backlog compaction: rewrite pending as a fresh base once
      // tombstones dominate (keeps refill scans and reader anti-joins
      // bounded without any per-round rewrite)
      val tombstones = state.backlogPhysRows - state.backlogPending
      if (state.backlogPhysRows > TieredFrontier.CompactMinRows &&
        tombstones > TieredFrontier.CompactFraction * state.backlogPhysRows) {
        val physAfter = TieredFrontier.compact(spark, warehouse, round,
          state.baseRound)
        state = state.copy(backlogPhysRows = physAfter, baseRound = round)
      }

      Snapshots.writeManifest(warehouse, Snapshots.Manifest(round, prev,
        state.pending, res.newCount, res.fetchedCount, res.errorCount,
        res.dedupedCount, res.lineage, headCount = state.headCount,
        backlogPending = state.backlogPending,
        backlogPhysRows = state.backlogPhysRows, baseRound = state.baseRound))

      totalFetched += res.fetchedCount
      totalErrors += res.errorCount
      totalDeduped += res.dedupedCount
      round += 1
    }

    val lastRound = round - 1
    // arithmetic, not a count job: seen = Σ per-round seen_delta counts
    // (an O(seen) scan here would grow with crawl age for a summary field)
    val seenCount = (0 to lastRound)
      .flatMap(Snapshots.readManifest(warehouse, _))
      .map(_.seenDeltaCount).sum
    CrawlSummary(lastRound, totalFetched, totalErrors, totalDeduped,
      seenCount, pendingAfter = math.max(state.pending, 0L))
  }

  /** Snapshot 0: seeds only (mirrors start_urls, PostSpider.py:40).
    * DISTRIBUTED: seed lists can be millions of urls (the bench's frontier
    * harness seeds 3M), so they are canonicalized over a parallelized seed
    * RDD — never driver-side sorting or one giant LocalRelation in the
    * plan — and then enter the frontier the way discovered links do
    * ([[CrawlRound.seed]]: robots gate, dedupe on the canonical url, as the
    * oracle simulator's `seen.add` does, and the head/backlog split).
    * Returns snapshot 0's cumulative Bloom. */
  private def seedSnapshot(spark: SparkSession, seedUrls: Seq[String],
                           cfg: Crawl.CrawlConfig, warehouse: String,
                           expectedUrls: Long,
                           robots: Map[String, Vector[String]]
                          ): Array[Array[Byte]] = {
    import spark.implicits._
    val canonUdf = udf((u: String) => graft.core.UrlCanon.canonicalize(u))
    val slices = math.max(1, math.min(64, seedUrls.size / 50000 + 1))
    val seeds = spark.sparkContext.parallelize(seedUrls, slices).toDF("raw_url")
      .select(canonUdf(col("raw_url")).as("url"), lit(0).as("priority"),
        lit(0).as("depth"), lit("").as("parent_url"),
        lit(0).as("discovered_round"), lit(new Timestamp(0L)).as("warc_ts"))
    val s = CrawlRound.seed(spark, seeds, cfg, warehouse, expectedUrls, robots)
    Snapshots.writeBloomShards(warehouse, 0, s.bloom)
    Snapshots.writeManifest(warehouse, Snapshots.Manifest(0, -1,
      s.newCount, s.newCount, 0, 0, 0, Nil,
      headCount = s.newCount - s.backlogCount,
      backlogPending = s.backlogCount, backlogPhysRows = s.backlogCount,
      baseRound = -1))
    s.bloom
  }

  /** Final item tables (union of per-round deltas at the latest snapshot). */
  def outputs(spark: SparkSession, warehouse: String): Map[String, DataFrame] =
    Snapshots.Tables.flatMap(t =>
      Snapshots.readLatestTable(spark, warehouse, t).map(t -> _)).toMap
}
