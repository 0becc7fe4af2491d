package graft.frontier

import java.sql.Timestamp

/** The URL frontier: a partitioned priority-queue Dataset keyed by
  * (host_hash, priority, warc_ts) — the engine's re-expression of Scrapy's
  * scheduler queue + request meta (SURVEY.md §1.4). Snake_case field names
  * are deliberate: they are the on-disk Parquet column names.
  */
final case class FrontierEntry(url: String,
                               url_hash: Long,
                               host: String,
                               host_hash: Long,
                               priority: Int,
                               depth: Int,
                               parent_url: String,
                               discovered_round: Int,
                               warc_ts: Timestamp)

object FrontierEntry {
  def fromUrl(canonicalUrl: String, priority: Int, depth: Int,
              parentUrl: String, round: Int, warcTs: Timestamp): FrontierEntry = {
    val host = graft.core.UrlCanon.host(canonicalUrl)
    FrontierEntry(canonicalUrl, graft.core.UrlCanon.urlHash(canonicalUrl),
      host, graft.core.UrlCanon.hostHash(host), priority, depth, parentUrl,
      round, warcTs)
  }
}

/** Per-partition lineage metrics carried in every snapshot manifest
  * (north_rule: "per-partition lineage (round, partition_id, fetched,
  * deduped, errors)"). */
final case class PartitionLineage(round: Int, partition_id: Int,
                                  fetched: Long, deduped: Long, errors: Long)
