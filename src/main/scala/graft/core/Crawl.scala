package graft.core

import java.time.YearMonth

/** Shared fetch-parse-emit semantics: given a fetched page, which items are
  * emitted and which links are enqueued. This is the crawl's business logic
  * distilled from the reference spider's four parse callbacks
  * (/root/reference/webcrawler/webcrawler/spiders/PostSpider.py:47-172),
  * expressed as a pure function used identically by:
  *   - the distributed engine (wrapped in one UDF inside the round pipeline)
  *   - the single-threaded oracle simulator (graft.sim.ReferenceSimulator)
  * so crawl ordering / seen-set / item parity is by construction.
  */
object Crawl {

  /** Month-range crawl task + politeness budgets.
    *
    * Reference values: indexPageBudget = NUM_TIEZI/50 = 14
    * (settings.py:135, PostSpider.py:80), perHostBudget = 16
    * (CONCURRENT_REQUESTS_PER_DOMAIN, settings.py:69). `today` pins the
    * reference's wall-clock fallback (PostSpider.py:183) for determinism.
    * `globalBudget` ≤ 0 disables the global per-round cap. */
  final case class CrawlConfig(startMonth: YearMonth,
                               endMonth: YearMonth,
                               today: YearMonth,
                               indexPageBudget: Int = 14,
                               perHostBudget: Int = 16,
                               globalBudget: Int = 0,
                               maxRounds: Int = 64,
                               obeyRobots: Boolean = false,
                               // read the corpus's pre-extracted text and
                               // record per-url byte-identity with our
                               // extraction (the parity contract). Costs a
                               // full extra column through scan + fetch
                               // join; production fetch+extract reads only
                               // html, so throughput runs turn this off.
                               verifyText: Boolean = true) {
    def startStr: String = TiebaDates.monthStr(startMonth)
    def endStr: String = TiebaDates.monthStr(endMonth)
    def todayStr: String = TiebaDates.monthStr(today)
  }

  // item rows — mirror the reference CSV columns (pipelines.py:25-34)
  final case class PostItem(post_id: String, title: String, reply_num: String)
  final case class ReplyItem(post_id: String, reply_id: String,
                             content: String, comment_num: String)
  final case class CommentItem(post_id: String, reply_id: String, content: String)

  /** Depth doubles as priority: lower depth fetched first (BFS, the
    * deterministic ordering contract — SURVEY.md §7.4.2). */
  object Depth {
    val Index = 0; val Post = 1; val CommentPage = 2; val Home = 3
  }

  final case class Link(url: String, depth: Int, priority: Int)

  /** One page's items and links. The round's fetch UDF returns it as is,
    * so its field names are the columns of `fetched`'s `out` struct —
    * snake_case, like the item classes. */
  final case class PageOutput(posts: Vector[PostItem] = Vector.empty,
                              replies: Vector[ReplyItem] = Vector.empty,
                              comments: Vector[CommentItem] = Vector.empty,
                              tieba_names: Vector[String] = Vector.empty,
                              links: Vector[Link] = Vector.empty,
                              text: String = "")

  private def queryParam(url: String, key: String): Option[String] =
    UrlCanon.parse(url).flatMap { p =>
      p.query.split('&').collectFirst {
        case kv if kv.startsWith(key + "=") => kv.drop(key.length + 1)
      }
    }

  /** Process one fetched page. `url` must already be canonical. */
  def process(url: String, html: Array[Byte], cfg: CrawlConfig): PageOutput = {
    val parsed = Extract.parseBytes(url, html)
    val abs = (href: String) => UrlCanon.canonicalize(href, base = url)
    parsed.kind match {
      case Extract.Kind.Index =>
        // P5/P6 date gate BEFORE descending — prunes the whole fetch
        // subtree (PostSpider.py:63), the engine's cross-round pushdown
        val inRange = parsed.posts.filter(p =>
          TiebaDates.inRange(p.createTime, cfg.startMonth, cfg.endMonth, cfg.today) ||
            TiebaDates.inRange(p.lastReplyTime, cfg.startMonth, cfg.endMonth, cfg.today))
        val items = inRange.map(p => PostItem(p.postId, p.title, p.replyNum))
        val childLinks = inRange.flatMap { p =>
          Vector(Link(abs("/p/" + p.postId), Depth.Post, Depth.Post),
            Link(abs(p.authorHref), Depth.Home, Depth.Home))
        }
        // index pagination budget (PostSpider.py:80-82): from page k
        // enqueue page k+1 while k < NUM_TIEZI/50
        val pn = queryParam(url, "pn").map(_.toInt).getOrElse(0)
        val k = pn / 50
        val nextIndex =
          if (k < cfg.indexPageBudget) {
            val kw = queryParam(url, "kw").getOrElse("")
            Vector(Link(abs(s"/f?ie=utf-8&kw=$kw&pn=${(k + 1) * 50}"),
              Depth.Index, Depth.Index))
          } else Vector.empty
        PageOutput(posts = items, links = childLinks ++ nextIndex,
          text = parsed.text)

      case Extract.Kind.Post =>
        val postId = UrlCanon.parse(url).map(_.path.stripPrefix("/p/")).getOrElse("")
        val kept = parsed.replies.filter(r =>
          TiebaDates.replyInRange(r.dateRaw, cfg.startMonth, cfg.endMonth, cfg.today))
        val items = kept.map(r => ReplyItem(postId, r.replyId, r.content, r.commentNum))
        val links = kept.flatMap { r =>
          Vector(
            // comment page 1 always enqueued per in-range reply
            // (PostSpider.py:129-130), even when comment_num is 0
            Link(abs(s"/p/comment?pid=${r.replyId}&pn=1&tid=$postId"),
              Depth.CommentPage, Depth.CommentPage),
            Link(abs(r.authorHref), Depth.Home, Depth.Home))
        }
        // reply pagination intentionally NOT followed: the reference's
        // `::herf` typo (PostSpider.py:134) makes it dead code; we match
        // the effective behavior (SURVEY.md §7.4.5)
        PageOutput(replies = items, links = links, text = parsed.text)

      case Extract.Kind.CommentPage =>
        val tid = queryParam(url, "tid").getOrElse("")
        val pid = queryParam(url, "pid").getOrElse("")
        val curPage = queryParam(url, "pn").map(_.toInt).getOrElse(1)
        val items = parsed.comments.map(c => CommentItem(tid, pid, c.content))
        val authorLinks = parsed.comments.map(c =>
          Link(abs(c.authorHref), Depth.Home, Depth.Home))
        val nextPage =
          if (parsed.pagerNext > curPage)
            Vector(Link(abs(s"/p/comment?pid=$pid&pn=${parsed.pagerNext}&tid=$tid"),
              Depth.CommentPage, Depth.CommentPage))
          else Vector.empty
        PageOutput(comments = items, links = authorLinks ++ nextPage,
          text = parsed.text)

      case Extract.Kind.Home =>
        // set() semantics (PostSpider.py:171) → distinct, order pinned to
        // first occurrence (Python set order is nondeterministic; we
        // canonicalize — SURVEY.md §5.1)
        PageOutput(tieba_names = parsed.forumNames.distinct, text = parsed.text)

      case _ => PageOutput(text = parsed.text)
    }
  }
}
