package graft.core

/** URL canonicalization — the single source of truth for `url_hash`.
  *
  * Re-expresses the reference's implicit URL identity (Scrapy's request
  * fingerprint over the literal request URL; reference never overrides
  * `DUPEFILTER_CLASS` — see /root/reference/webcrawler/webcrawler/settings.py)
  * as an explicit, deterministic canonical form:
  *
  *  - lowercase scheme and host, strip default ports (:80/:443)
  *  - resolve relative URLs against a base
  *  - drop fragments
  *  - sort query parameters by (key, value) — stable identity for the
  *    seen-set regardless of parameter emission order
  *  - empty path → "/"
  *
  * Pure Scala, no Spark imports: unit-testable and shared verbatim between
  * the distributed engine (via UDF) and the single-threaded oracle
  * simulator so both compute identical seen-sets.
  */
object UrlCanon {

  final case class Parsed(scheme: String, host: String, port: Int,
                          path: String, query: String)

  /** Canonical absolute URL; `base` is required for relative inputs. */
  def canonicalize(raw: String, base: String = ""): String = {
    val abs = resolve(raw.trim, base)
    parse(abs) match {
      case Some(p) =>
        val portPart =
          if (p.port < 0 || (p.scheme == "http" && p.port == 80) ||
            (p.scheme == "https" && p.port == 443)) ""
          else ":" + p.port
        val q = canonicalQuery(p.query)
        val qPart = if (q.isEmpty) "" else "?" + q
        val path = if (p.path.isEmpty) "/" else p.path
        s"${p.scheme}://${p.host}$portPart$path$qPart"
      case None => abs // non-URL-shaped input: identity (hash still stable)
    }
  }

  /** Resolve `raw` against `base` if relative. Fragment is dropped. */
  private def resolve(raw0: String, base: String): String = {
    val raw = raw0.split('#')(0)
    if (raw.contains("://") || base.isEmpty) raw
    else if (raw.startsWith("//")) {
      val scheme = base.takeWhile(_ != ':')
      s"$scheme:$raw"
    } else if (raw.startsWith("/")) {
      parse(base) match {
        case Some(p) => s"${p.scheme}://${p.host}${portSuffix(p)}$raw"
        case None    => raw
      }
    } else if (raw.startsWith("?")) {
      parse(base) match {
        case Some(p) =>
          val path = if (p.path.isEmpty) "/" else p.path
          s"${p.scheme}://${p.host}${portSuffix(p)}$path$raw"
        case None => raw
      }
    } else {
      // relative path: resolve against base's parent directory
      parse(base) match {
        case Some(p) =>
          val dir = p.path.lastIndexOf('/') match {
            case -1 => "/"
            case i  => p.path.substring(0, i + 1)
          }
          s"${p.scheme}://${p.host}${portSuffix(p)}$dir$raw"
        case None => raw
      }
    }
  }

  private def portSuffix(p: Parsed): String =
    if (p.port < 0) "" else ":" + p.port

  def parse(url: String): Option[Parsed] = {
    val i = url.indexOf("://")
    if (i <= 0) return None
    val scheme = url.substring(0, i).toLowerCase
    val rest = url.substring(i + 3)
    val pathStart = rest.indexWhere(c => c == '/' || c == '?')
    val (authority, pathQuery) =
      if (pathStart < 0) (rest, "") else (rest.take(pathStart), rest.drop(pathStart))
    val (hostRaw, port) = authority.lastIndexOf(':') match {
      case -1 => (authority, -1)
      case j =>
        val portStr = authority.substring(j + 1)
        if (portStr.nonEmpty && portStr.forall(_.isDigit))
          (authority.substring(0, j), portStr.toInt)
        else (authority, -1)
    }
    val qIdx = pathQuery.indexOf('?')
    val (path, query) =
      if (qIdx < 0) (pathQuery, "")
      else (pathQuery.take(qIdx), pathQuery.drop(qIdx + 1))
    Some(Parsed(scheme, hostRaw.toLowerCase, port, path, query))
  }

  private def canonicalQuery(q: String): String =
    if (q.isEmpty) ""
    else q.split('&').filter(_.nonEmpty).sorted.mkString("&")

  def host(url: String): String = parse(url).map(_.host).getOrElse("")

  def urlHash(canonicalUrl: String): Long = XxHash64.hashString(canonicalUrl)

  /** `url_hash2`'s xxhash64 seed, shared with the native expression. */
  val Hash2Seed: Long = 0x9E3779B97F4A7C15L

  /** Second independent url hash (seen-confirm pair key — see
    * [[graft.expressions.UrlExpressions.UrlHash64B]]). */
  def urlHash2(canonicalUrl: String): Long =
    XxHash64.hashString(canonicalUrl, Hash2Seed)

  def hostHash(host: String): Long = XxHash64.hashString(host)
}
