package graft.ops

import graft.core.XxHash64
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`):
  *
  *  - [[bruteForceTopK]] — the exactness baseline: queries × corpus
  *    cosine, per-query top-k via a window rank. Queries are broadcast;
  *    the corpus is scanned once with no shuffle of the big side.
  *  - [[lshTopK]] — the scale path: random-hyperplane buckets with
  *    multi-probe (flip each plane bit once), cosine evaluated only
  *    in-bucket. Recall/latency tradeoff is (numPlanes, probes).
  *
  * The dot-product kernel is a pure Scala function (SIMD-friendly tight
  * loop) used inside a UDF; everything relational is Column API.
  */
object Similarity {

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Deterministic pseudo-random hyperplane component: (table t, plane p,
    * dim d) → ±1 (Rademacher via hash bit). Equivalent in expectation to
    * Gaussian planes for sign-LSH, zero storage. */
  @inline private def planeSign(t: Int, p: Int, d: Int): Double =
    if ((XxHash64.hashLong(d.toLong,
      t.toLong * 7919L + p.toLong * 0x9e37L + 17L) & 1L) == 0L) 1.0 else -1.0

  /** Sign sketch of a vector under table `t`'s `numPlanes` hyperplanes. */
  def hyperplaneSketch(v: Array[Float], numPlanes: Int, table: Int = 0): Long = {
    var sketch = 0L
    var p = 0
    while (p < numPlanes) {
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += planeSign(table, p, d) * v(d); d += 1 }
      if (dot >= 0) sketch |= (1L << p)
      p += 1
    }
    sketch
  }

  /** All-table bucket keys: table id folded into the key so one exploded
    * column drives the bucket join across L independent tables. */
  def tableBuckets(v: Array[Float], numPlanes: Int, numTables: Int): Seq[Long] =
    (0 until numTables).map(t =>
      t.toLong << 48 | hyperplaneSketch(v, numPlanes, t))

  /** Exact top-k: per-query cosine against the full corpus.
    * `queries` must be small (broadcast side). Deterministic tie-break on
    * corpus id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     vecCol: String, idCol: String, k: Int): DataFrame = {
    val cosUdf = udf((x: Seq[Float], y: Seq[Float]) =>
      cosine(x.toArray, y.toArray))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cos", cosUdf(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rank"))
  }

  /** Tuned defaults from the recorded AnnBench sweep (see `graft.AnnBench`
    * and BASELINE.md §ann): the knee point giving recall@10 ≥ 0.9 on the
    * sf0.1 embeddings at the lowest candidate fraction (measured 0.916
    * recall at 1.18× brute's scored pairs — that corpus is near-isotropic,
    * sign-LSH's worst case; on the clustered corpus the same operator
    * reaches ≥0.95 recall at ~5% of brute cost with planes=8/tables=12). */
  val DefaultPlanes = 4
  val DefaultTables = 18

  /** LSH-bucketed ANN top-k via L independent sign-LSH tables (the
    * standard recall amplifier: P(candidate) = 1-(1-p^planes)^tables).
    * Cosine is evaluated only on in-bucket candidates; the corpus is
    * exploded L× on a long bucket key — at scale this is the IVF-style
    * tradeoff: L× storage/shuffle for recall, never O(n²) pairs.
    *
    * Shuffle/compute profile (the 100 TB story, same late-materialization
    * shape as [[Dedup.minHashLsh]]): the bucket join carries ONLY
    * (bucket, id) longs — never the vectors — and candidate pairs are
    * DISTINCT'd before any cosine, so a pair co-hitting in many of the L
    * tables is scored exactly once (the r5 shape paid the cosine UDF per
    * co-hit, up to L× per pair, and dragged both vectors through the
    * exploded join). Vectors re-join once per side afterwards: the query
    * side broadcasts, the corpus side is one hash join keyed on id over
    * O(candidates) rows. */
  /** DISTINCT candidate (query_id, corpus_id) pairs the multi-table
    * bucket join admits — the one definition shared by [[lshTopK]] and
    * [[lshScoredPairs]], so the reported scored-pairs metric can never
    * desynchronize from what the operator actually pays (ADVICE r6). The
    * bucket join carries ONLY (bucket, id) longs, never the vectors. */
  private def lshCandidatePairs(corpus: DataFrame, queries: DataFrame,
                                vecCol: String, idCol: String,
                                numPlanes: Int, numTables: Int): DataFrame =
    lshBucketJoin(corpus, queries, vecCol, idCol, numPlanes, numTables)
      .distinct()

  /** Every (query_id, corpus_id) co-hit of the bucket join, before the
    * dedup — one row per shared table. */
  private def lshBucketJoin(corpus: DataFrame, queries: DataFrame,
                            vecCol: String, idCol: String,
                            numPlanes: Int, numTables: Int): DataFrame = {
    val bucketsUdf = udf((v: Seq[Float]) =>
      tableBuckets(v.toArray, numPlanes, numTables))
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
      .withColumn("bucket", explode(bucketsUdf(col("cv"))))
      .select(col("bucket"), col("corpus_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("bucket", explode(bucketsUdf(col("qv"))))
      .select(col("bucket"), col("query_id"))
    c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"))
  }

  def lshTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
              idCol: String, k: Int, numPlanes: Int = DefaultPlanes,
              numTables: Int = DefaultTables): DataFrame = {
    val cosUdf = udf((x: Seq[Float], y: Seq[Float]) =>
      cosine(x.toArray, y.toArray))
    val cVec = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val qVec = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val candidates = lshCandidatePairs(corpus, queries, vecCol, idCol,
      numPlanes, numTables)
    val scored = candidates
      .join(broadcast(qVec), Seq("query_id"))
      .join(cVec, Seq("corpus_id"))
      .withColumn("cos", cosUdf(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rank"))
  }

  /** Number of candidate pairs the bucket join admits (pre-dedup) — the
    * row traffic of [[lshTopK]]'s bucket join, counted on that join itself,
    * for recall/cost evidence (graft.AnnBench). */
  def lshCandidates(corpus: DataFrame, queries: DataFrame, vecCol: String,
                    idCol: String, numPlanes: Int, numTables: Int): Long =
    lshBucketJoin(corpus, queries, vecCol, idCol, numPlanes, numTables).count()

  /** DISTINCT candidate pairs — the cosine evaluations [[lshTopK]] pays
    * after the pre-score dedup (vs [[lshCandidates]]'s raw bucket-join
    * admissions, which bound the join's row traffic). Same pipeline
    * object as lshTopK's candidate construction by definition. */
  def lshScoredPairs(corpus: DataFrame, queries: DataFrame, vecCol: String,
                     idCol: String, numPlanes: Int, numTables: Int): Long =
    lshCandidatePairs(corpus, queries, vecCol, idCol, numPlanes, numTables)
      .count()
}
