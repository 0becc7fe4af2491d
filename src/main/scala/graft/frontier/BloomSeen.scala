package graft.frontier

import graft.core.XxHash64

/** From-scratch Bloom filter over 64-bit url hashes — the engine's scalable
  * URL-seen pre-filter (north_rule: "broadcast-merged Bloom URL-seen filter
  * rebuilt incrementally per crawl round"). This is the single-filter
  * kernel; the engine builds, probes and persists filters only as
  * [[ShardedBloom]] shard arrays (one shard = one of these filters). The
  * distributed build (per-partition puts, per-shard OR reduce) is
  * [[ShardedBloom.buildShardsWithCount]].
  *
  * Exactness contract: the Bloom is an accelerator only. It has no false
  * negatives (tested by property), so `mightContain == false` proves
  * novelty; positives are confirmed by an exact anti-join against the
  * seen-hash table (SURVEY.md §7.4.4). Correctness never depends on the
  * filter.
  *
  * Serialized form: [numHashes: int][numWords: int][words: long*], all
  * big-endian via ByteBuffer. Merging = bitwise OR (same geometry).
  */
object BloomSeen {

  /** Standard sizing: m = -n ln(p) / ln(2)^2, k = (m/n) ln(2). */
  def geometry(expectedItems: Long, fpp: Double): (Long, Int) = {
    val n = math.max(1L, expectedItems)
    val m = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val k = math.max(1, math.round((m.toDouble / n) * math.log(2)).toInt)
    (((m + 63) / 64) * 64, k)
  }

  def empty(expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    val (bits, k) = geometry(expectedItems, fpp)
    val words = bits / 64
    // size the buffer in Long first: at expectedItems ≳ 1.8e9 (fpp 0.01)
    // Int arithmetic would overflow to a negative allocation (ADVICE r1)
    val byteSize = 8L + words * 8L
    require(byteSize <= Int.MaxValue.toLong,
      s"bloom for $expectedItems items (fpp=$fpp) needs $byteSize bytes — " +
        "exceeds a single array; shard the Bloom by url_hash range " +
        "(one filter per shard, probe the matching shard)")
    val buf = java.nio.ByteBuffer.allocate(byteSize.toInt)
    buf.putInt(0, k)
    buf.putInt(4, words.toInt)
    buf.array()
  }

  @inline private def wordCount(b: Array[Byte]): Int =
    java.nio.ByteBuffer.wrap(b).getInt(4)

  @inline private def idx(h1: Long, h2: Long, i: Int, nBits: Long): Long = {
    val combined = h1 + i.toLong * h2
    val positive = combined & Long.MaxValue
    positive % nBits
  }

  def put(b: Array[Byte], v: Long): Unit = {
    val k = java.nio.ByteBuffer.wrap(b).getInt(0)
    val nBits = wordCount(b).toLong * 64
    val h1 = XxHash64.hashLong(v, 0x51ee7L)
    val h2 = XxHash64.hashLong(v, 0xb10faceL) | 1L
    var i = 0
    val bb = java.nio.ByteBuffer.wrap(b)
    while (i < k) {
      val bit = idx(h1, h2, i, nBits)
      val wordPos = 8 + (bit >>> 6).toInt * 8
      bb.putLong(wordPos, bb.getLong(wordPos) | (1L << (bit & 63)))
      i += 1
    }
  }

  def mightContain(b: Array[Byte], v: Long): Boolean = {
    val k = java.nio.ByteBuffer.wrap(b).getInt(0)
    val nBits = wordCount(b).toLong * 64
    val h1 = XxHash64.hashLong(v, 0x51ee7L)
    val h2 = XxHash64.hashLong(v, 0xb10faceL) | 1L
    val bb = java.nio.ByteBuffer.wrap(b)
    var i = 0
    while (i < k) {
      val bit = idx(h1, h2, i, nBits)
      val word = bb.getLong(8 + (bit >>> 6).toInt * 8)
      if ((word & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** In-place OR-merge of `other` into `acc` (same geometry required). */
  def mergeInto(acc: Array[Byte], other: Array[Byte]): Array[Byte] = {
    require(acc.length == other.length, "bloom geometry mismatch")
    val a = java.nio.ByteBuffer.wrap(acc)
    val o = java.nio.ByteBuffer.wrap(other)
    var pos = 8
    while (pos < acc.length) {
      a.putLong(pos, a.getLong(pos) | o.getLong(pos))
      pos += 8
    }
    acc
  }
}
