package graft

import java.time.YearMonth

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.core.Crawl
import graft.corpus.{CorpusWriter, SyntheticWeb, WebSpec}
import graft.driver.CrawlLoop
import graft.frontier.{ShardedBloom, Snapshots, TieredFrontier}
import graft.round.CrawlRound
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A round that throws must leave no cached frame and no running job
  * behind, and a crawl that fails mid-round must resume to the same result
  * as one that never failed. */
class RoundFailureSpec extends AnyFunSuite {

  private val spec = WebSpec(nForums = 3, indexPagesPerForum = 2,
    postsPerIndexPage = 5, maxRepliesPerPost = 3, commentsPerPage = 3,
    maxCommentPages = 2, nHosts = 4, nUsers = 40)

  private val cfg = Crawl.CrawlConfig(
    startMonth = YearMonth.of(2019, 3), endMonth = YearMonth.of(2019, 8),
    today = YearMonth.of(2019, 6), indexPageBudget = 3, perHostBudget = 4,
    maxRounds = 40)

  private val seeds = SyntheticWeb.seeds(spec, 2)

  private lazy val pagesPath: String = {
    val p = TestSpark.tmpDir("fail-pages")
    CorpusWriter.write(TestSpark.spark, spec, p, numPartitions = 4)
    p
  }

  /** Drops every cached block so the assertions below see only what the
    * code under test leaves behind. */
  private def clearCaches(): Unit = {
    val sc = TestSpark.spark.sparkContext
    TestSpark.spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(sc.getPersistentRDDs.isEmpty)
  }

  private def assertNothingLeft(): Unit = {
    val sc = TestSpark.spark.sparkContext
    // job ends reach the status store through the listener bus
    ListenerBridge.waitUntilEmpty(sc, 60000)
    assert(sc.getPersistentRDDs.isEmpty,
      s"cached after the throw: ${sc.getPersistentRDDs.values.mkString(", ")}")
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      s"jobs still running: ${sc.statusTracker.getActiveJobIds.mkString(", ")}")
  }

  test("a round whose seen scan throws leaves no cache and no running job") {
    val spark = TestSpark.spark
    val pages = CorpusWriter.read(spark, pagesPath)
    val wh = TestSpark.tmpDir("fail-wh")
    // snapshot 0 only: the seed head, seen_delta and manifest (these
    // seeds overflow no host, so there is no host_state)
    CrawlLoop.run(spark, pages, seeds, cfg.copy(maxRounds = 0), wh,
      expectedUrls = 1L << 16)
    val m0 = Snapshots.readManifest(wh, 0).get
    // every bit set: each discovered link is a suspect, so the exact
    // confirm must scan `seen`
    val bloom = ShardedBloom.empty(1L << 16)
    bloom.foreach(b => java.util.Arrays.fill(b, 8, b.length, (-1).toByte))
    val boom = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("seen scan failed")
      id
    }
    val seen = spark.range(8).select(boom(col("id")).as("url_hash"),
      col("id").as("url_hash2"))

    clearCaches()
    // on its own thread with a deadline: a round that deadlocks on its own
    // failure fails this test instead of hanging the suite
    val e = intercept[Exception] {
      Await.result(Future(CrawlRound.run(spark,
        TieredFrontier.readHead(spark, wh, 0), pages, seen, bloom, cfg, 1, wh,
        m0, 1L << 16))(ExecutionContext.global), 5.minutes)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("seen scan failed")),
      e.toString)
    assertNothingLeft()
    assert(Snapshots.latestCommittedRound(wh).contains(0))
  }

  test("a crawl that fails mid-round resumes to the uninterrupted result") {
    val spark = TestSpark.spark
    val pages = CorpusWriter.read(spark, pagesPath)
    val whFull = TestSpark.tmpDir("fail-full")
    val full = CrawlLoop.run(spark, pages, seeds, cfg, whFull,
      expectedUrls = 1L << 16)

    // one page row duplicated, reached in round 2: the fetch join hits it
    // twice and the round's unique-(host_bucket, url) check throws
    val url = Snapshots.readLatestTable(spark, whFull, "fetch_log").get
      .filter("status = 'fetched' AND round = 2").select("url")
      .orderBy("url").head().getString(0)
    val dirty = pages.unionByName(pages.filter(col("url") === url))
    val wh = TestSpark.tmpDir("fail-cut")
    clearCaches()
    val e = intercept[IllegalArgumentException] {
      CrawlLoop.run(spark, dirty, seeds, cfg, wh, expectedUrls = 1L << 16)
    }
    assert(e.getMessage.contains("unique-(host_bucket,url)"), e.getMessage)
    assertNothingLeft()
    assert(Snapshots.latestCommittedRound(wh).contains(1))

    val resumed = CrawlLoop.run(spark, pages, seeds, cfg, wh,
      expectedUrls = 1L << 16, resume = true)
    // the resumed run counts only its own rounds; the manifests hold all
    def totals(w: String) = (1 to Snapshots.latestCommittedRound(w).get)
      .flatMap(Snapshots.readManifest(w, _))
      .map(m => (m.fetched, m.errors, m.deduped))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    assert(totals(whFull) ==
      ((full.totalFetched, full.totalErrors, full.totalDeduped)))
    assert(totals(wh) == totals(whFull))
    assert((resumed.rounds, resumed.seenCount, resumed.pendingAfter) ==
      ((full.rounds, full.seenCount, full.pendingAfter)))
    assert(resumed.totalFetched ==
      full.totalFetched - Snapshots.readManifest(wh, 1).get.fetched)

    for (t <- Seq("posts", "replies", "comments", "tieba_names", "fetch_log",
      "seen_delta", "misses")) {
      def rows(w: String) = Snapshots.readLatestTable(spark, w, t).get
        .collect().map(_.toString).groupBy(identity).view.mapValues(_.length)
        .toMap
      assert(rows(wh) == rows(whFull), t)
    }
  }
}
