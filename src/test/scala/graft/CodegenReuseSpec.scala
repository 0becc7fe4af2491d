package graft

import java.time.YearMonth

import graft.core.Crawl
import graft.corpus.{CorpusWriter, SyntheticWeb, WebSpec}
import graft.driver.CrawlLoop
import graft.expressions.UrlExpressions
import graft.frontier.Snapshots
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A crawl round's generated code must fit Spark's codegen cache, so that
  * a round reuses the classes the previous round compiled. The cache holds
  * 100 entries in four LRU segments of 25, keyed by source AND the thread's
  * context class loader: in local mode a whole-stage class is compiled on
  * the driver thread (a compile check) and again on an executor task
  * thread, so it takes two entries. A round whose entries exceed the cache
  * evicts its own classes and recompiles most of them every round.
  *
  * Measured as the classes a second, identical crawl compiles in the same
  * JVM (the count of `CodegenMetrics.METRIC_COMPILATION_TIME` samples —
  * one per compile). Every plan of the second crawl was compiled by the
  * first, so what it compiles is what the cache could not hold. */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // no backlog (every host's queue fits the head), and links back to pages
  // crawled in earlier rounds, so steady rounds confirm suspects
  private val spec = WebSpec(nForums = 3, indexPagesPerForum = 2,
    postsPerIndexPage = 5, maxRepliesPerPost = 3, commentsPerPage = 3,
    maxCommentPages = 2, nHosts = 8, nUsers = 12)

  private val cfg = Crawl.CrawlConfig(
    startMonth = YearMonth.of(2019, 3), endMonth = YearMonth.of(2019, 8),
    today = YearMonth.of(2019, 6), indexPageBudget = 3, perHostBudget = 2,
    maxRounds = 40)

  /** K, from the census of this shape (10 rounds, 7 of them confirming
    * suspects): the second crawl compiled 16 classes once a round's code
    * fit the cache, and 848 (about 85 per round) when each round's working
    * set (~130 entries) overflowed it. K leaves room for a few more
    * evictions, not for a round that outgrows the cache. */
  private val MaxSecondCrawlCompiles = 100L

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second identical crawl recompiles almost none of the first one's code") {
    val pagesPath = TestSpark.tmpDir("cg-pages")
    CorpusWriter.write(spark, spec, pagesPath, numPartitions = 4)
    val pages = CorpusWriter.read(spark, pagesPath)
    val seeds = SyntheticWeb.seeds(spec, 2)

    def crawl(): (CrawlLoop.CrawlSummary, String, Long) = {
      val wh = TestSpark.tmpDir("cg-wh")
      val c0 = compiles
      val sum = CrawlLoop.run(spark, pages, seeds, cfg, wh,
        expectedUrls = 1L << 16)
      (sum, wh, compiles - c0)
    }
    val (first, wh, firstCompiles) = crawl()
    val (second, _, secondCompiles) = crawl()
    assert(second == first)

    // the shape has several steady rounds that confirm suspects: some link
    // discovered in round k was already seen before it
    val links = Snapshots.readLatestTable(spark, wh, "fetched").get
      .select(col("round"), explode(col("out.links.url")).as("url"))
      .select(col("round"), UrlExpressions.urlHash(col("url")).as("url_hash"))
    val confirming = (2 to first.rounds).count { k =>
      val seenBefore = Snapshots.readTable(spark, wh, "seen_delta", k - 1).get
      !links.filter(col("round") === k).join(seenBefore, Seq("url_hash"),
        "left_semi").isEmpty
    }
    assert(confirming >= 5, s"only $confirming rounds confirm suspects")

    info(s"${first.rounds} rounds; compiles: first crawl $firstCompiles, " +
      s"second $secondCompiles")
    assert(secondCompiles <= MaxSecondCrawlCompiles,
      s"second crawl compiled $secondCompiles classes (first: $firstCompiles)")
  }
}
