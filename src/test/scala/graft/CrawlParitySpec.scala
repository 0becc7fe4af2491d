package graft

import java.time.YearMonth

import graft.core.Crawl
import graft.corpus.{CorpusWriter, SyntheticWeb, WebSpec}
import graft.driver.CrawlLoop
import graft.frontier.Snapshots
import graft.sim.ReferenceSimulator
import org.scalatest.funsuite.AnyFunSuite

/** The flagship invariant (BASELINE.json north_rule): the distributed
  * engine reproduces the single-threaded oracle's crawl ordering, URL-seen
  * set, item tables and per-URL extracted text, given the same seed list
  * and politeness budget.
  */
class CrawlParitySpec extends AnyFunSuite {

  private val spec = WebSpec(nForums = 3, indexPagesPerForum = 2,
    postsPerIndexPage = 5, maxRepliesPerPost = 3, commentsPerPage = 3,
    maxCommentPages = 2, nHosts = 4, nUsers = 40)

  private val cfg = Crawl.CrawlConfig(
    startMonth = YearMonth.of(2019, 3), endMonth = YearMonth.of(2019, 8),
    today = YearMonth.of(2019, 6), indexPageBudget = 3, perHostBudget = 4,
    maxRounds = 40)

  private val seeds = SyntheticWeb.seeds(spec, 2)

  private lazy val sim = ReferenceSimulator.run(spec, seeds, cfg)

  private lazy val engineWarehouse: String = {
    val spark = TestSpark.spark
    val pagesPath = TestSpark.tmpDir("pages")
    CorpusWriter.write(spark, spec, pagesPath, numPartitions = 4)
    val wh = TestSpark.tmpDir("wh")
    val pages = CorpusWriter.read(spark, pagesPath)
    CrawlLoop.run(spark, pages, seeds, cfg, wh, expectedUrls = 1L << 16)
    wh
  }

  test("URL-seen sets identical") {
    val spark = TestSpark.spark
    val engineSeen = Snapshots.readLatestTable(spark, engineWarehouse, "seen_delta")
      .get.collect().map(_.getLong(0)).toSet
    assert(engineSeen == sim.seen)
  }

  test("per-round fetch sets identical (crawl ordering)") {
    val spark = TestSpark.spark
    val log = Snapshots.readLatestTable(spark, engineWarehouse, "fetch_log").get
    val engineFetches = log.filter("status = 'fetched'")
      .select("round", "url").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(engineFetches == sim.fetchOrder.toSet)
    // round-by-round equality, not just overall
    val engineByRound = engineFetches.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val simByRound = sim.fetchOrder.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(engineByRound == simByRound)
  }

  test("fetch misses identical (error rows)") {
    val spark = TestSpark.spark
    val log = Snapshots.readLatestTable(spark, engineWarehouse, "fetch_log").get
    val engineMisses = log.filter("status = 'miss'")
      .select("round", "url").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(engineMisses == sim.misses.toSet)
    assert(engineMisses.nonEmpty, "config should produce some misses")
  }

  test("item tables match oracle (multisets)") {
    val spark = TestSpark.spark
    def multiset(rows: Seq[Product]): Map[Product, Int] =
      rows.groupBy(identity).view.mapValues(_.size).toMap

    val posts = Snapshots.readLatestTable(spark, engineWarehouse, "posts").get
      .collect().map(r => Crawl.PostItem(r.getString(0), r.getString(1), r.getString(2)))
    assert(multiset(posts.toSeq) == multiset(sim.posts))
    assert(posts.nonEmpty)

    val replies = Snapshots.readLatestTable(spark, engineWarehouse, "replies").get
      .collect().map(r => Crawl.ReplyItem(r.getString(0), r.getString(1),
        r.getString(2), r.getString(3)))
    assert(multiset(replies.toSeq) == multiset(sim.replies))
    assert(replies.nonEmpty)

    val comments = Snapshots.readLatestTable(spark, engineWarehouse, "comments").get
      .collect().map(r => Crawl.CommentItem(r.getString(0), r.getString(1), r.getString(2)))
    assert(multiset(comments.toSeq) == multiset(sim.comments))
    assert(comments.nonEmpty)

    val tn = Snapshots.readLatestTable(spark, engineWarehouse, "tieba_names").get
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(tn == sim.tiebaNames.toSet)
    assert(tn.nonEmpty)
  }

  test("CSV sinks byte-identical to python-encoded simulator items (S6)") {
    import graft.sources.CsvCompat
    val spark = TestSpark.spark
    val dir = TestSpark.tmpDir("parity-csv")
    def bytes(p: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))

    CsvCompat.writePosts(
      Snapshots.readLatestTable(spark, engineWarehouse, "posts").get,
      s"$dir/posts.csv")
    val expPosts = sim.posts.sortBy(_.post_id)
      .map(p => CsvCompat.encodeRowPy(Seq(p.post_id, p.title, p.reply_num)))
      .mkString
    assert(bytes(s"$dir/posts.csv").sameElements(expPosts.getBytes("UTF-8")))

    CsvCompat.writeReplies(
      Snapshots.readLatestTable(spark, engineWarehouse, "replies").get,
      s"$dir/replies.csv")
    val expReplies = sim.replies.sortBy(r => (r.post_id, r.reply_id))
      .map(r => CsvCompat.encodeRowPy(
        Seq(r.post_id, r.reply_id, r.content, r.comment_num))).mkString
    assert(bytes(s"$dir/replies.csv")
      .sameElements(expReplies.getBytes("UTF-8")))

    CsvCompat.writeComments(
      Snapshots.readLatestTable(spark, engineWarehouse, "comments").get,
      s"$dir/comments.csv")
    val expComments = sim.comments
      .sortBy(c => (c.post_id, c.reply_id, c.content))
      .map(c => CsvCompat.encodeRowPy(Seq(c.post_id, c.reply_id, c.content)))
      .mkString
    assert(bytes(s"$dir/comments.csv")
      .sameElements(expComments.getBytes("UTF-8")))

    // tieba_count via the forum-count aggregate (name-asc pinned order)
    val counts = graft.analytics.TiebaAnalytics.forumCounts(
      Snapshots.readLatestTable(spark, engineWarehouse, "tieba_names").get
        .select(org.apache.spark.sql.functions.col("tieba")))
    CsvCompat.writeTiebaCount(counts, s"$dir/tieba_count.csv")
    val expCounts = sim.tiebaNames.map(_._2).filter(_.trim.nonEmpty)
      .groupBy(identity).view.mapValues(_.size).toSeq.sortBy(_._1)
      .map { case (t, n) => CsvCompat.encodeRowPy(Seq(t, n.toString)) }
      .mkString
    assert(bytes(s"$dir/tieba_count.csv")
      .sameElements(expCounts.getBytes("UTF-8")))

    // and the explicit-schema scan reads the engine CSV back losslessly
    val back = CsvCompat.readReplies(spark, s"$dir/replies.csv")
    assert(back.count() == sim.replies.size.toLong)
  }

  test("extracted text byte-identical for every fetched url") {
    val spark = TestSpark.spark
    val log = Snapshots.readLatestTable(spark, engineWarehouse, "fetch_log").get
    val bad = log.filter("status = 'fetched' AND NOT text_match").count()
    assert(bad == 0L)
  }

  test("manifest lineage totals are consistent") {
    val last = Snapshots.latestCommittedRound(engineWarehouse).get
    val manifests = (1 to last).flatMap(r => Snapshots.readManifest(engineWarehouse, r))
    assert(manifests.nonEmpty)
    val totalFetched = manifests.map(_.fetched).sum
    assert(totalFetched == sim.fetchOrder.size.toLong)
    manifests.foreach { m =>
      val lineageFetched = m.lineage.map(_.fetched).sum
      assert(lineageFetched == m.fetched, s"round ${m.round}")
    }
  }

  test("global budget: per-round fetch sets, misses and seen set ≡ oracle") {
    val spark = TestSpark.spark
    val gcfg = cfg.copy(globalBudget = 5, maxRounds = 80)
    val gsim = ReferenceSimulator.run(spec, seeds, gcfg)
    // the cap really binds: the uncapped oracle fetches more in some round
    assert(sim.fetchOrder.groupBy(_._1).values.exists(_.size > 5))
    val pagesPath = TestSpark.tmpDir("pages-global")
    CorpusWriter.write(spark, spec, pagesPath, numPartitions = 4)
    val wh = TestSpark.tmpDir("wh-global")
    val summary = CrawlLoop.run(spark, CorpusWriter.read(spark, pagesPath),
      seeds, gcfg, wh, expectedUrls = 1L << 16)
    assert(summary.rounds == gsim.rounds)
    val log = Snapshots.readLatestTable(spark, wh, "fetch_log").get
      .select("round", "url", "status").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(log.filter(_._3 == "fetched").map(r => (r._1, r._2)) ==
      gsim.fetchOrder.toSet)
    assert(log.filter(_._3 == "miss").map(r => (r._1, r._2)) ==
      gsim.misses.toSet)
    val seen = Snapshots.readLatestTable(spark, wh, "seen_delta").get
      .collect().map(_.getLong(0)).toSet
    assert(seen == gsim.seen)
  }

  test("resume-from-snapshot ≡ uninterrupted run (checkpoint equivalence)") {
    val spark = TestSpark.spark
    val pagesPath = TestSpark.tmpDir("pages2")
    CorpusWriter.write(spark, spec, pagesPath, numPartitions = 4)
    val pages = CorpusWriter.read(spark, pagesPath)
    val wh2 = TestSpark.tmpDir("wh2")
    // stop early after 2 rounds…
    CrawlLoop.run(spark, pages, seeds, cfg.copy(maxRounds = 2), wh2,
      expectedUrls = 1L << 16)
    // …then resume to completion
    CrawlLoop.run(spark, pages, seeds, cfg, wh2, expectedUrls = 1L << 16,
      resume = true)
    val seenResumed = Snapshots.readLatestTable(spark, wh2, "seen_delta")
      .get.collect().map(_.getLong(0)).toSet
    assert(seenResumed == sim.seen)
    val fetched = Snapshots.readLatestTable(spark, wh2, "fetch_log").get
      .filter("status = 'fetched'").select("round", "url").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(fetched == sim.fetchOrder.toSet)
  }
}
