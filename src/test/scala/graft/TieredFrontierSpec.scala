package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.YearMonth

import graft.core.Crawl
import graft.corpus.{CorpusWriter, SyntheticWeb, WebSpec}
import graft.driver.CrawlLoop
import graft.frontier.{FrontierEntry, Snapshots, TieredFrontier}
import graft.sim.ReferenceSimulator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The tiered frontier's scale machinery under stress: a config whose
  * per-host queues far exceed the head capacity, forcing overflow →
  * backlog, budget-driven drain, and refills — while the crawl must stay
  * EXACTLY parity with the single-threaded oracle (the head/backlog split
  * is invisible to semantics). Also covers backlog compaction. */
class TieredFrontierSpec extends AnyFunSuite {

  // 2 hosts × deep queues: 24 posts per index page vs headCap = 8×2 = 16 ⇒
  // guaranteed overflow; budget 2/host drains slowly ⇒ guaranteed refills
  private val spec = WebSpec(nForums = 2, indexPagesPerForum = 1,
    postsPerIndexPage = 24, maxRepliesPerPost = 1, commentsPerPage = 1,
    maxCommentPages = 1, nHosts = 2, nUsers = 10)

  private val cfg = Crawl.CrawlConfig(
    startMonth = YearMonth.of(2019, 1), endMonth = YearMonth.of(2019, 12),
    today = YearMonth.of(2019, 6), indexPageBudget = 1, perHostBudget = 2,
    maxRounds = 80)

  private val seeds = SyntheticWeb.seeds(spec, 2)

  private lazy val sim = ReferenceSimulator.run(spec, seeds, cfg)

  private lazy val wh: String = {
    val spark = TestSpark.spark
    val pagesPath = TestSpark.tmpDir("tf-pages")
    CorpusWriter.write(spark, spec, pagesPath, numPartitions = 4)
    val w = TestSpark.tmpDir("tf-wh")
    CrawlLoop.run(spark, CorpusWriter.read(spark, pagesPath), seeds, cfg, w,
      expectedUrls = 1L << 16)
    w
  }

  test("overflow and refill actually happen under deep per-host queues") {
    val last = Snapshots.latestCommittedRound(wh).get
    val adds = (0 to last).count(r =>
      Files.exists(Paths.get(TieredFrontier.addPath(wh, r))))
    val rms = (0 to last).count(r =>
      Files.exists(Paths.get(TieredFrontier.rmPath(wh, r))))
    assert(adds > 0, "no backlog_add segment written — head never overflowed")
    assert(rms > 0, "no backlog_rm written — no refill ever happened")
    val maxPhys = (0 to last).flatMap(Snapshots.readManifest(wh, _))
      .map(_.backlogPhysRows).max
    assert(maxPhys > 0)
  }

  test("crawl ordering parity holds across overflow/refill rounds") {
    val spark = TestSpark.spark
    val log = Snapshots.readLatestTable(spark, wh, "fetch_log").get
    val engineByRound = log.filter("status = 'fetched'")
      .select("round", "url").collect()
      .map(r => (r.getInt(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val simByRound = sim.fetchOrder.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    assert(engineByRound == simByRound)
    val engineSeen = Snapshots.readLatestTable(spark, wh, "seen_delta")
      .get.collect().map(_.getLong(0)).toSet
    assert(engineSeen == sim.seen)
  }

  test("frontier table = head ∪ pending backlog; manifest counts consistent") {
    val spark = TestSpark.spark
    // at a mid-crawl round the pending set must equal manifest arithmetic
    val mid = Snapshots.latestCommittedRound(wh).get / 2
    val m = Snapshots.readManifest(wh, mid).get
    val pending = Snapshots.readTable(spark, wh, "frontier", mid).get
    assert(pending.count() == m.frontierCount)
    assert(m.frontierCount == m.headCount + m.backlogPending)
    val head = TieredFrontier.readHead(spark, wh, mid)
    assert(head.count() == m.headCount)
  }

  test("every committed manifest equals a recount of its snapshot") {
    val spark = TestSpark.spark
    val last = Snapshots.latestCommittedRound(wh).get
    // rows per round of the per-round delta tables, one job each
    def perRound(df: DataFrame): Map[Int, Long] =
      df.groupBy("round").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val fetched = perRound(Snapshots.readTable(spark, wh, "fetched", last).get)
    val misses = perRound(Snapshots.readTable(spark, wh, "misses", last).get)
    val seenDelta = perRound(Snapshots.readTable(spark, wh, "seen_delta", last)
      .get.withColumn("round", Snapshots.roundOfFile))
    for (k <- 0 to last) {
      val m = Snapshots.readManifest(wh, k).get
      val at = s"round $k: $m"
      assert(Snapshots.readTable(spark, wh, "frontier", k).fold(0L)(_.count())
        == m.frontierCount, at)
      assert(TieredFrontier.readHead(spark, wh, k).count() == m.headCount, at)
      assert(TieredFrontier.readBacklogPending(spark, wh, m.baseRound, k)
        .fold(0L)(_.count()) == m.backlogPending, at)
      assert(seenDelta.getOrElse(k, 0L) == m.seenDeltaCount, at)
      assert(fetched.getOrElse(k, 0L) == m.fetched, at)
      assert(misses.getOrElse(k, 0L) == m.errors, at)
      assert(m.lineage.map(_.fetched).sum == m.fetched, at)
    }
  }

  test("seed snapshot splits head/backlog when seeds exceed one host's head capacity") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 40 seeds on ONE host vs headCap = 8 × 2 = 16 ⇒ seed-time overflow
    // (the seeds go through the round's per-host split); pages is EMPTY so
    // every fetch misses and the loop drains the frontier 2/round,
    // refilling the head from the seed backlog along the way
    val seedUrls = (0 until 40).map(i => s"http://only.example.com/p/$i")
    val emptyPages = Seq.empty[(Int, String, java.sql.Timestamp, Array[Byte], String)]
      .toDF("host_bucket", "url", "warc_ts", "html", "text")
    val whCfg = Crawl.CrawlConfig(YearMonth.of(2019, 1),
      YearMonth.of(2019, 12), YearMonth.of(2019, 6), indexPageBudget = 1,
      perHostBudget = 2, maxRounds = 40)
    val w2 = TestSpark.tmpDir("tf-seedovfl")
    val summary = CrawlLoop.run(spark, emptyPages, seedUrls, whCfg, w2,
      expectedUrls = 1L << 16)
    val m0 = Snapshots.readManifest(w2, 0).get
    assert(m0.frontierCount == 40)
    assert(m0.headCount == 16, s"headCount ${m0.headCount}")
    assert(m0.backlogPending == 24, s"backlog ${m0.backlogPending}")
    assert(Files.exists(Paths.get(TieredFrontier.addPath(w2, 0))))
    // the whole seed set drains through head refills: every url misses
    // exactly once, nothing is lost between the tiers
    assert(summary.totalErrors == 40)
    val missed = Snapshots.readLatestTable(spark, w2, "misses").get
      .select("url").collect().map(_.getString(0)).toSet
    assert(missed == seedUrls.toSet)
    val mLast = Snapshots.readManifest(w2,
      Snapshots.latestCommittedRound(w2).get).get
    assert(mLast.frontierCount == 0)
  }

  test("backlog compaction preserves the pending set") {
    val spark = TestSpark.spark
    import spark.implicits._
    val cw = TestSpark.tmpDir("tf-compact")
    val ts = new Timestamp(0L)
    def entry(i: Int): FrontierEntry =
      FrontierEntry.fromUrl(s"http://h${i % 3}.example.com/p/$i", 0, 1, "",
        0, ts)
    def writeAdd(round: Int, ids: Range): Unit =
      spark.createDataset(ids.map(entry))
        .withColumn("host_bucket", pmod(col("host_hash"),
          lit(graft.round.CrawlRound.NumHostBuckets.toLong)).cast("int"))
        .write.mode("overwrite").partitionBy("host_bucket")
        .parquet(TieredFrontier.addPath(cw, round))
    writeAdd(0, 0 until 50)
    writeAdd(1, 50 until 80)
    // tombstone 20 of them at round 1
    spark.createDataset((10 until 30).map(i => entry(i).url_hash))
      .toDF("url_hash").write.mode("overwrite")
      .parquet(TieredFrontier.rmPath(cw, 1))

    val before = TieredFrontier.readBacklogPending(spark, cw, -1, 1).get
      .select("url_hash").collect().map(_.getLong(0)).toSet
    assert(before.size == 60)

    val phys = TieredFrontier.compact(spark, cw, 1, -1)
    assert(phys == 60L)
    val after = TieredFrontier.readBacklogPending(spark, cw, 1, 1).get
      .select("url_hash").collect().map(_.getLong(0)).toSet
    assert(after == before)
    // bucket pruning on the compacted base still works
    val buckets = TieredFrontier
      .readBacklogPending(spark, cw, 1, 1, Some(Seq(0, 1, 2, 3)))
      .get.select("host_bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(buckets.subsetOf(Set(0, 1, 2, 3)))

    // fully-tombstoned compaction: a 0-row partitioned parquet write emits
    // no files and every later read would die on schema inference — the
    // empty case must write NOTHING and read back as absent, not crash
    spark.createDataset((0 until 50).map(i => entry(i).url_hash)
      ++ (50 until 80).map(i => entry(i).url_hash))
      .toDF("url_hash").write.mode("overwrite")
      .parquet(TieredFrontier.rmPath(cw, 2))
    val physEmpty = TieredFrontier.compact(spark, cw, 2, 1)
    assert(physEmpty == 0L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(TieredFrontier.basePath(cw, 2))))
    assert(TieredFrontier.readBacklogPending(spark, cw, 2, 2).isEmpty)
  }
}
