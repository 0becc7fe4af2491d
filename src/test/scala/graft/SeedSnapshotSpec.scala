package graft

import java.time.YearMonth

import graft.core.{Crawl, Robots, UrlCanon}
import graft.corpus.{CorpusWriter, SyntheticWeb, WebSpec}
import graft.driver.CrawlLoop
import graft.frontier.Snapshots
import graft.sim.ReferenceSimulator
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot 0 from a messy seed list: aliases of one url (upper-case host,
  * `#fragment`, explicit `:80`), an exact duplicate and a seed the robots
  * rules disallow must enter the frontier once per allowed canonical url,
  * exactly as the oracle simulator enqueues them. */
class SeedSnapshotSpec extends AnyFunSuite {

  private val spec = WebSpec(nForums = 3, indexPagesPerForum = 2,
    postsPerIndexPage = 4, maxRepliesPerPost = 2, commentsPerPage = 2,
    maxCommentPages = 1, nHosts = 3, nUsers = 20)

  private val cfg = Crawl.CrawlConfig(
    startMonth = YearMonth.of(2019, 3), endMonth = YearMonth.of(2019, 8),
    today = YearMonth.of(2019, 6), indexPageBudget = 2, perHostBudget = 4,
    maxRounds = 40, obeyRobots = true)

  test("seeds dedupe on the canonical url and pass the robots gate") {
    val base = SyntheticWeb.seeds(spec, 3)
    val aliases = base.flatMap { u =>
      val host = UrlCanon.host(u)
      Seq(u.replace(s"://$host", s"://${host.toUpperCase}"), u + "#top",
        u.replace(s"://$host/", s"://$host:80/"))
    }
    // a real page, disallowed on its host
    val blocked = SyntheticWeb.homeUrl(spec, 0)
    val robots = Robots.index(Robots.parseRobotsTxt(UrlCanon.host(blocked),
      "User-agent: *\nDisallow: /home/main?un=user0"))
    val seedUrls = base ++ aliases ++ Seq(base.head, blocked)
    assert(aliases.forall(a => !base.contains(a)) &&
      aliases.map(UrlCanon.canonicalize(_)).toSet == base.toSet)
    assert(!Robots.isAllowed(robots, blocked))

    val sim = ReferenceSimulator.run(spec, seedUrls, cfg, robots)
    val spark = TestSpark.spark
    val pagesPath = TestSpark.tmpDir("seed-pages")
    CorpusWriter.write(spark, spec, pagesPath, 4)
    val wh = TestSpark.tmpDir("seed-wh")
    CrawlLoop.run(spark, CorpusWriter.read(spark, pagesPath), seedUrls, cfg,
      wh, expectedUrls = 1L << 16, robots = robots)

    val allowed = seedUrls.map(UrlCanon.canonicalize(_))
      .filter(Robots.isAllowed(robots, _)).distinct
    assert(allowed.size == base.size)
    assert(Snapshots.readManifest(wh, 0).get.frontierCount == allowed.size)

    val engineSeen = Snapshots.readLatestTable(spark, wh, "seen_delta").get
      .collect().map(_.getLong(0)).toSet
    assert(engineSeen == sim.seen)
    val engineByRound = Snapshots.readLatestTable(spark, wh, "fetch_log").get
      .filter("status = 'fetched'").select("round", "url").collect()
      .map(r => (r.getInt(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val simByRound = sim.fetchOrder.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    assert(simByRound.nonEmpty)
    assert(engineByRound == simByRound)
  }
}
