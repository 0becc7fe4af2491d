package graft.corpus

import graft.round.CrawlRound
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed writer for the synthetic pages corpus.
  *
  * `spark.range(pageCount)` → `pageAt(i)` is embarrassingly parallel: no
  * shuffle, no skew, linear in page count — the 10^10 design point is the
  * same plan with more range partitions. The table is written
  * disk-partitioned by `host_bucket`, the fetch join's co-location key, so
  * a reader that filters on it skips whole buckets.
  */
object CorpusWriter {

  final case class PageOut(url: String, warc_ts: java.sql.Timestamp,
                           html: Array[Byte], text: String, lang: String,
                           host_bucket: Int)

  def pagesDf(spark: SparkSession, spec: WebSpec,
              numPartitions: Int = 0): DataFrame = {
    import spark.implicits._
    val n = SyntheticWeb.pageCount(spec)
    val parts = if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, parts).flatMap { i =>
      SyntheticWeb.pageAt(spec, i).map { p =>
        PageOut(p.url, p.warcTs, p.html, p.text, p.lang,
          CrawlRound.hostBucketOf(graft.core.UrlCanon.hostHash(
            graft.core.UrlCanon.host(p.url))))
      }
    }.toDF()
  }

  def write(spark: SparkSession, spec: WebSpec, path: String,
            numPartitions: Int = 0): Unit =
    pagesDf(spark, spec, numPartitions)
      .write.mode("overwrite")
      .partitionBy("host_bucket")
      // urls/html/text are unique per row — dictionary encoding only
      // buffers + falls back; disable
      .option("parquet.enable.dictionary", "false")
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
