package graft.sim

import scala.collection.mutable

import graft.core.{Crawl, UrlCanon}
import graft.corpus.{SyntheticWeb, WebSpec}

/** Single-threaded oracle crawler (SURVEY.md §5.1): the reference's
  * scheduler semantics (priority queue + exact URL-seen set + politeness
  * budgets, /root/reference/webcrawler/webcrawler/settings.py:62-70 +
  * Scrapy's default dupefilter) made deterministic.
  *
  * Round semantics are the engine's contract: each round takes, per host,
  * the first `perHostBudget` pending entries in (priority, warc_ts,
  * url_hash) order (then an optional global cap in the same order),
  * fetches them against the same synthetic web, runs the SAME pure
  * [[Crawl.process]], and enqueues never-seen links. The engine must
  * reproduce this oracle's per-round fetch sets, final seen set, item
  * multisets, and per-URL extracted text exactly.
  */
object ReferenceSimulator {

  final case class SimEntry(url: String, urlHash: Long, host: String,
                            priority: Int, depth: Int, warcTs: Long)

  final case class SimResult(fetchOrder: Vector[(Int, String)], // (round, url)
                             seen: Set[Long],
                             posts: Vector[Crawl.PostItem],
                             replies: Vector[Crawl.ReplyItem],
                             comments: Vector[Crawl.CommentItem],
                             tiebaNames: Vector[(String, String)], // (user_url, name)
                             textByUrl: Map[String, String],
                             misses: Vector[(Int, String)],
                             rounds: Int)

  def pageLookup(spec: WebSpec): String => Option[SyntheticWeb.PageRow] = {
    val index = mutable.HashMap.empty[String, SyntheticWeb.PageRow]
    var i = 0L
    val n = SyntheticWeb.pageCount(spec)
    while (i < n) {
      SyntheticWeb.pageAt(spec, i).foreach(p => index(p.url) = p)
      i += 1
    }
    index.get
  }

  def run(spec: WebSpec, seedUrls: Seq[String], cfg: Crawl.CrawlConfig,
          robots: Map[String, Vector[String]] = Map.empty): SimResult = {
    val lookup = pageLookup(spec)
    val seen = mutable.HashSet.empty[Long]
    var pending = Vector.empty[SimEntry]
    def allowed(canonicalUrl: String): Boolean =
      !(cfg.obeyRobots && robots.nonEmpty) ||
        graft.core.Robots.isAllowed(robots, canonicalUrl)

    def entryOf(url: String, priority: Int, depth: Int, warcTs: Long): SimEntry = {
      val c = UrlCanon.canonicalize(url)
      SimEntry(c, UrlCanon.urlHash(c), UrlCanon.host(c), priority, depth, warcTs)
    }

    seedUrls.foreach { u =>
      val e = entryOf(u, 0, 0, 0L)
      if (allowed(e.url) && seen.add(e.urlHash)) pending :+= e
    }

    val fetchOrder = Vector.newBuilder[(Int, String)]
    val misses = Vector.newBuilder[(Int, String)]
    val posts = Vector.newBuilder[Crawl.PostItem]
    val replies = Vector.newBuilder[Crawl.ReplyItem]
    val comments = Vector.newBuilder[Crawl.CommentItem]
    val tiebaNames = Vector.newBuilder[(String, String)]
    val textByUrl = mutable.HashMap.empty[String, String]

    var round = 1
    while (pending.nonEmpty && round <= cfg.maxRounds) {
      val ordered = pending.sortBy(e => (e.priority, e.warcTs, e.urlHash))
      val perHostTaken = mutable.HashMap.empty[String, Int].withDefaultValue(0)
      var selected = Vector.empty[SimEntry]
      var deferred = Vector.empty[SimEntry]
      ordered.foreach { e =>
        if (perHostTaken(e.host) < cfg.perHostBudget) {
          perHostTaken(e.host) += 1; selected :+= e
        } else deferred :+= e
      }
      if (cfg.globalBudget > 0 && selected.size > cfg.globalBudget) {
        val keep = selected.take(cfg.globalBudget)
        deferred = selected.drop(cfg.globalBudget) ++ deferred
        selected = keep
      }

      val discovered = Vector.newBuilder[SimEntry]
      selected.foreach { e =>
        lookup(e.url) match {
          case None => misses += ((round, e.url))
          case Some(page) =>
            fetchOrder += ((round, e.url))
            val out = Crawl.process(e.url, page.html, cfg)
            textByUrl(e.url) = out.text
            posts ++= out.posts
            replies ++= out.replies
            comments ++= out.comments
            out.tieba_names.foreach(n => tiebaNames += ((e.url, n)))
            out.links.foreach { l =>
              val e = entryOf(l.url, l.priority, l.depth, page.warcTs.getTime)
              if (allowed(e.url)) discovered += e
            }
        }
      }

      // enqueue order-independent: in-round dedup keeps the min
      // (priority, warcTs) representative per url, matching the engine's
      // min-struct groupBy (CrawlRound.scala)
      val newEntries = discovered.result()
        .groupBy(_.urlHash).valuesIterator
        .map(_.minBy(e => (e.priority, e.warcTs)))
        .filter(e => !seen.contains(e.urlHash))
        .toVector
      newEntries.foreach(e => seen.add(e.urlHash))
      pending = deferred ++ newEntries
      round += 1
    }

    // seeds count as seen from round 0 (they were enqueued)
    SimResult(fetchOrder.result(), seen.toSet, posts.result(),
      replies.result(), comments.result(), tiebaNames.result(),
      textByUrl.toMap, misses.result(), round - 1)
  }
}
