package graft.frontier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The seen-filter sharded by url_hash range — the north-rule capacity
  * path ("sustains a 10^10-entry frontier by sharding the seen-filter
  * across executors and merging deltas at round boundaries").
  *
  * A single Bloom tops out near 1.8e9 expected items (fpp 1%) at the JVM's
  * 2 GB array limit; 10^10 needs ~12 GB of filter. The sharded layout is
  * S = 2^k independent [[BloomSeen]] filters, each owning one RANGE of the
  * unsigned url_hash space (shard = top k bits), so:
  *
  *  - capacity scales to any S × shard size;
  *  - the per-round delta build is ONE distributed job: per-partition
  *    puts, then a per-shard OR reduce (S final filters — the driver only
  *    ever sees S finished bitsets, never raw hashes);
  *  - round-boundary merge is a per-shard bitwise OR;
  *  - the probe ships as one broadcast of the shard array and reads
  *    exactly one shard's cache lines per row (native codegen'd
  *    expression — the engine's only Bloom probe);
  *  - on a real cluster each executor holds the full (broadcast) shard
  *    array once; a memory-constrained deployment can instead map shard →
  *    executor affinity by repartitioning probes on the shard key — the
  *    layout supports it because shard id is a pure function of the hash.
  *
  * S = 1 degenerates to exactly a single filter (same geometry, same
  * `bloom.bin` file), so local runs and existing snapshots are unchanged.
  * The round's one-off filters (the selected slice above the fetch gate,
  * the burst confirm's suspects) are one-shard arrays of the same kind.
  */
object ShardedBloom {

  /** Per-shard filter size cap. Default 256 MB (a comfortable broadcast);
    * the system property exists so tests can force multi-shard geometry
    * at tiny scale. */
  val DefaultMaxShardBytes: Long = 256L << 20
  def maxShardBytes: Long = sys.props.get("graft.bloom.maxShardBytes")
    .map(_.toLong).getOrElse(DefaultMaxShardBytes)

  /** Smallest power-of-two shard count whose per-shard filter fits
    * [[maxShardBytes]]. */
  def numShardsFor(expectedItems: Long, fpp: Double = 0.01): Int = {
    val (bits, _) = BloomSeen.geometry(expectedItems, fpp)
    val bytes = 8L + bits / 8
    var s = 1
    while (bytes / s > maxShardBytes) s *= 2
    s
  }

  @inline def shardOf(h: Long, numShards: Int): Int =
    if (numShards == 1) 0
    else (h >>> (64 - Integer.numberOfTrailingZeros(numShards))).toInt

  def perShardExpected(expectedItems: Long, numShards: Int): Long =
    math.max(1L, expectedItems / numShards)

  def empty(expectedItems: Long, fpp: Double = 0.01,
            numShards: Int = 1): Array[Array[Byte]] =
    Array.fill(numShards)(
      BloomSeen.empty(perShardExpected(expectedItems, numShards), fpp))

  def put(shards: Array[Array[Byte]], v: Long): Unit =
    BloomSeen.put(shards(shardOf(v, shards.length)), v)

  def mightContain(shards: Array[Array[Byte]], v: Long): Boolean =
    BloomSeen.mightContain(shards(shardOf(v, shards.length)), v)

  /** In-place per-shard OR-merge (same shard count + geometry required). */
  def mergeInto(acc: Array[Array[Byte]],
                other: Array[Array[Byte]]): Array[Array[Byte]] = {
    require(acc.length == other.length,
      s"shard count mismatch: ${acc.length} vs ${other.length}")
    var i = 0
    while (i < acc.length) { BloomSeen.mergeInto(acc(i), other(i)); i += 1 }
    acc
  }

  /** Distributed build, plus the row count in the same job: each input
    * partition puts its hashes into the shards it touches, and the
    * partial filters are OR-merged per shard (S reduce partitions, so the
    * driver only ever sees S finished bitsets, never raw hashes). It runs
    * on the query's internal rows ([[InternalRows]]): no encoder, and no
    * generated code beyond the input plan's own. The filters equal those a
    * sequential [[put]] of the same hashes builds. Absent shards come back
    * as empty filters with identical geometry so merges stay well-defined. */
  def buildShardsWithCount(df: DataFrame, hashColName: String,
                           expectedItems: Long, numShards: Int,
                           fpp: Double = 0.01): (Array[Array[Byte]], Long) = {
    val perShard = perShardExpected(expectedItems, numShards)
    val rows = InternalRows.run(df.select(col(hashColName)))(_
      .mapPartitions { it =>
        val part = new Array[Array[Byte]](numShards)
        val n = new Array[Long](numShards)
        it.foreach { r =>
          val h = r.getLong(0)
          val s = shardOf(h, numShards)
          if (part(s) == null) part(s) = BloomSeen.empty(perShard, fpp)
          BloomSeen.put(part(s), h)
          n(s) += 1
        }
        Iterator.range(0, numShards).filter(part(_) != null)
          .map(s => (s, (part(s), n(s))))
      }
      .reduceByKey((a, b) => (BloomSeen.mergeInto(a._1, b._1), a._2 + b._2),
        numShards)
      .collect())
    val out = empty(expectedItems, fpp, numShards)
    rows.foreach { case (s, (b, _)) => out(s) = b }
    (out, rows.map(_._2._2).sum)
  }

  /** Probe column: native codegen'd expression over the broadcast shard
    * array — see [[graft.expressions.UrlExpressions.ShardedBloomMightContain]]. */
  def mightContainCol(
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Byte]]],
      hashCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.expressions.UrlExpressions.shardedBloomProbe(bc, hashCol)
}
