package graft

import graft.frontier.{BloomSeen, ShardedBloom}
import org.scalatest.funsuite.AnyFunSuite

class BloomSeenSpec extends AnyFunSuite {

  test("no false negatives (the correctness-critical property)") {
    val b = BloomSeen.empty(10000, 0.01)
    val items = (0 until 10000).map(i => graft.core.XxHash64.hashLong(i.toLong))
    items.foreach(BloomSeen.put(b, _))
    assert(items.forall(BloomSeen.mightContain(b, _)))
  }

  test("false positive rate near configured fpp") {
    val n = 20000
    val b = BloomSeen.empty(n.toLong, 0.01)
    (0 until n).foreach(i => BloomSeen.put(b, graft.core.XxHash64.hashLong(i.toLong)))
    val probes = (n until n + 50000)
      .count(i => BloomSeen.mightContain(b, graft.core.XxHash64.hashLong(i.toLong)))
    val fpr = probes.toDouble / 50000
    assert(fpr < 0.03, s"fpr=$fpr")
  }

  test("merge == union") {
    val a = BloomSeen.empty(1000, 0.01)
    val b = BloomSeen.empty(1000, 0.01)
    (0 until 500).foreach(i => BloomSeen.put(a, i.toLong * 7))
    (500 until 1000).foreach(i => BloomSeen.put(b, i.toLong * 7))
    val m = BloomSeen.mergeInto(a, b)
    assert((0 until 1000).forall(i => BloomSeen.mightContain(m, i.toLong * 7)))
  }

  test("distributed build equals driver-side build") {
    val spark = TestSpark.spark
    import spark.implicits._
    val hashes = (0 until 5000).map(i => graft.core.XxHash64.hashLong(i.toLong, 9L))
    val (shards, n) = ShardedBloom.buildShardsWithCount(
      hashes.toDF("url_hash").repartition(4), "url_hash", 5000, numShards = 1)
    assert(n == 5000 && shards.length == 1)
    val distributed = shards(0)
    assert(hashes.forall(BloomSeen.mightContain(distributed, _)))
    val local = BloomSeen.empty(5000, 0.01)
    hashes.foreach(BloomSeen.put(local, _))
    assert(java.util.Arrays.equals(distributed, local))
  }
}
