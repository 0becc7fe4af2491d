package graft

import graft.corpus.{CorpusWriter, WebSpec}
import graft.round.CrawlRound
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the physical plans the engine relies on at scale
  * must actually materialize — broadcast fetch join, partition pruning on
  * host_bucket, parquet filter/column pushdown, no shuffle of the pages
  * side. Catching regressions here is the local proxy for "would this
  * survive a 100× scale-up". */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val pagesPath: String = {
    val p = TestSpark.tmpDir("plan-pages")
    CorpusWriter.write(spark,
      WebSpec(nForums = 2, indexPagesPerForum = 2, postsPerIndexPage = 5,
        maxRepliesPerPost = 2, nHosts = 4, nUsers = 20), p, 4)
    p
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("fetch join: pages side broadcast-joined, partition-pruned, never shuffled") {
    import spark.implicits._
    val pages = CorpusWriter.read(spark, pagesPath)
    val selected = Seq(
      ("http://tieba0.example.com/p/1000001", 37),
      ("http://tieba1.example.com/p/2000001", 12))
      .toDF("url", "host_bucket")
      .select(col("host_bucket"), col("url"))
    // the broadcast join CrawlRound.run builds; the static IN filter
    // checks that host_bucket predicates prune the disk partitions
    val hits = CrawlRound.withHostBucket(pages)
      .filter(col("host_bucket").isin(12, 37))
      .join(broadcast(selected), Seq("host_bucket", "url"))
    val plan = planOf(hits)
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // disk-partitioned corpus ⇒ host_bucket IN (...) is a partition filter
    // on the scan (file skipping), not a post-scan Filter
    assert(plan.contains("PartitionFilters: [host_bucket"), plan.take(2000))
    assert(plan.contains("host_bucket#") && plan.contains("IN (12,37)"),
      plan.take(2000))
    // the big side must not shuffle
    assert(!plan.contains("Exchange hashpartitioning(url"), plan.take(2000))
  }

  test("parquet scans: filter and column pushdown reach the reader") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val q = li.filter(col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_quantity"))
    val plan = planOf(q)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,45.0)]"),
      plan.take(1500))
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      plan.take(1500))
  }

  test("containment join broadcasts the small terms side") {
    val q = Queries.all("q_j2_containment_join")(spark, sf)
    val plan = planOf(q)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("grouped count uses partial aggregation (map-side combine)") {
    val q = Queries.all("q_a1_grouped_count")(spark, sf)
    val plan = planOf(q)
    // two HashAggregate levels around the exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(2000))
    assert(plan.contains("partial_count") || plan.contains("count"), plan.take(500))
  }

  test("anti-join shape for the seen filter is a real join, not a filter-collect") {
    val q = Queries.all("q_j5_seen_antijoin")(spark, sf)
    val plan = planOf(q)
    assert(plan.contains("LeftAnti"), plan.take(2000))
  }

  test("fetch join is size-gated: broadcast under the gate, shuffled above") {
    import graft.round.CrawlRound
    val pagesPath = TestSpark.tmpDir("plan-gate-pages")
    spark.range(1000).selectExpr("cast(id % 64 as int) as host_bucket",
      "concat('http://h', id, '.x/p') as url",
      "timestamp'2019-01-01' as warc_ts", "cast('x' as binary) as html",
      "'t' as text").write.mode("overwrite").parquet(pagesPath)
    val pages = spark.read.parquet(pagesPath)
    val selPath = TestSpark.tmpDir("plan-gate-sel")
    spark.range(100).selectExpr("cast(id % 64 as int) as host_bucket",
      "concat('http://h', id, '.x/p') as url")
      .write.mode("overwrite").parquet(selPath)
    val sel = spark.read.parquet(selPath)

    val under = planOf(CrawlRound.fetchJoin(pages, sel, selectedCount = 100))
    assert(under.contains("BroadcastHashJoin"), under.take(2000))

    // above the gate the FORCED hint must be gone: with the cost-model
    // broadcast disabled (as it would be for design-point stats), the
    // plan falls back to a shuffled join — proving no hint survives
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val over = planOf(CrawlRound.fetchJoin(pages, sel,
        selectedCount = CrawlRound.BroadcastRowGate + 1))
      assert(!over.contains("BroadcastHashJoin"), over.take(2000))
      assert(over.contains("SortMergeJoin") ||
        over.contains("ShuffledHashJoin"), over.take(2000))
      // and UNDER the gate the explicit hint overrides even a disabled
      // cost model (steady-state rounds keep the single-scan fetch)
      val underForced = planOf(
        CrawlRound.fetchJoin(pages, sel, selectedCount = 100))
      assert(underForced.contains("BroadcastHashJoin"), underForced.take(2000))

      // above-gate WITH the selected-slice Bloom: the runtime row-level
      // filter must land on the pages scan side (below the join), so the
      // shuffle moves O(selected) pages, never the corpus — and the join
      // output is unchanged vs the unfiltered fallback (no false negatives)
      val bloom = graft.frontier.BloomSeen.empty(1000)
      spark.range(100).selectExpr("concat('http://h', id, '.x/p') as url")
        .collect().foreach(r => graft.frontier.BloomSeen.put(bloom,
          graft.core.UrlCanon.urlHash(r.getString(0))))
      val filteredJoin = CrawlRound.fetchJoin(pages, sel,
        CrawlRound.BroadcastRowGate + 1, Some(Array(bloom)))
      val overF = planOf(filteredJoin)
      assert(!overF.contains("BroadcastHashJoin"), overF.take(2000))
      assert(overF.contains("Filter"), overF.take(2000))
      // the runtime filter is the native bloom probe, not a Scala UDF
      assert(!overF.contains("UDF"), overF.take(2000))
      assert(overF.contains("graft_bloom_might_contain"), overF.take(2000))
      val unfiltered = CrawlRound.fetchJoin(pages, sel,
        CrawlRound.BroadcastRowGate + 1, None)
      assert(filteredJoin.count() == unfiltered.count())
    } finally spark.conf.set(thresholdKey, saved)
  }

  test("seen confirm: zero exchanges steady-state, probe-prefiltered burst, identical results") {
    val seenPath = TestSpark.tmpDir("confirm-seen")
    spark.range(200000).selectExpr("id * 3 as url_hash",
      "xxhash64(id * 3) as url_hash2")
      .write.mode("overwrite").parquet(seenPath)
    val seen = spark.read.parquet(seenPath)
    val susPath = TestSpark.tmpDir("confirm-sus")
    // overlap: every even suspect hash is divisible by 3 half the time
    spark.range(4000).selectExpr("id * 2 as url_hash",
      "xxhash64(id * 2) as url_hash2",
      "concat('http://s', id) as url")
      .write.mode("overwrite").parquet(susPath)
    val suspects = spark.read.parquet(susPath)

    // steady state: suspects broadcast out, matched set broadcast back —
    // the seen table is scanned, nothing shuffles
    val under = CrawlRound.confirmNew(seen, suspects, nSuspects = 4000)
    val underP = planOf(under)
    assert(!underP.contains("Exchange hashpartitioning"), underP.take(2000))
    assert("BroadcastHashJoin".r.findAllIn(underP).size == 2, underP.take(2000))

    // burst: the suspect-hash Bloom lands as the native probe filter on
    // the seen scan (below any join), so only matches+fp leave the scan
    val over = CrawlRound.confirmNew(seen, suspects,
      nSuspects = CrawlRound.SuspectBloomGate + 1)
    val overP = planOf(over)
    assert(overP.contains("graft_bloom_might_contain"), overP.take(2000))
    assert(!overP.contains("UDF"), overP.take(2000))

    // both regimes compute the same exact confirmation
    val a = under.collect().map(_.getLong(0)).sorted.toSeq
    val b = over.collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b && a.nonEmpty)
    // and it IS the exact answer
    val exact = suspects.join(seen, CrawlRound.ConfirmKey, "left_anti")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(a == exact)

    // the round's own call shape: `rows` is every probed candidate — the
    // suspects plus Bloom-cleared novel rows, which are absent from seen —
    // and the suspects are a filter over it
    val probedPath = TestSpark.tmpDir("confirm-probed")
    suspects.withColumn("maybe_seen", lit(true))
      .unionByName(spark.range(3000).selectExpr("-(id + 1) as url_hash",
        "xxhash64(-(id + 1)) as url_hash2", "concat('http://n', id) as url",
        "false as maybe_seen"))
      .write.mode("overwrite").parquet(probedPath)
    val probed = spark.read.parquet(probedPath)
    val probedSuspects = probed.filter(col("maybe_seen")).drop("maybe_seen")
    val exactRows = probed.join(seen, CrawlRound.ConfirmKey, "left_anti")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(exactRows.size == exact.size + 3000)
    for (n <- Seq(4000L, CrawlRound.SuspectBloomGate + 1)) {
      val got = CrawlRound.confirmNew(seen, probedSuspects, n,
        rows = Some(probed)).collect().map(_.getLong(0)).sorted.toSeq
      assert(got == exactRows, s"nSuspects=$n")
    }
  }

  test("burst confirm: anti join builds the matched set, never the suspect burst") {
    // At burst scale (> SuspectBloomGate) the exact confirm is
    //   suspects ANTI-JOIN matchedSeen   (matchedSeen = Bloom-collapsed seen)
    // and the build side MUST be matchedSeen — O(matches), bounded by the
    // true-duplicate count. A pathological size estimate that flipped the
    // build to the suspect side would hash the FULL burst (millions of
    // rows with url strings) into executor build tables. Lock the shape on
    // the post-AQE executed plan at real > gate row counts.
    val seenPath = TestSpark.tmpDir("burst-seen")
    spark.range(300000).selectExpr("id * 3 as url_hash",
      "xxhash64(id * 3) as url_hash2")
      .write.mode("overwrite").parquet(seenPath)
    val seen = spark.read.parquet(seenPath)
    val susPath = TestSpark.tmpDir("burst-sus")
    val nBurst = CrawlRound.SuspectBloomGate + 50000
    spark.range(nBurst).selectExpr("id * 2 as url_hash",
      "xxhash64(id * 2) as url_hash2", "concat('http://s', id) as url")
      .write.mode("overwrite").parquet(susPath)
    val suspects = spark.read.parquet(susPath)

    val out = CrawlRound.confirmNew(seen, suspects, nSuspects = nBurst)
    val n = out.count() // materialize so AQE finalizes the join strategy
    assert(n > 0)
    val plan = planOf(out)
    // hash-join build side (when a hash join is chosen) is the matched
    // set — BuildRight; never the burst side. Scope the assertion to the
    // anti-join node's OWN line, not the whole plan string: other nodes'
    // build sides may legitimately change across Spark/AQE estimate
    // changes without the confirm shape being wrong (ADVICE r5).
    val antiLines = plan.linesIterator.filter(_.contains("LeftAnti")).toSeq
    assert(antiLines.nonEmpty, plan.take(3000))
    antiLines.foreach { l =>
      assert(l.contains("BuildRight") && !l.contains("BuildLeft"), l)
    }
    // and the raw seen table still never enters an exchange: the only
    // allowed exchanges move suspects (O(delta)) or matchedSeen (O(matches))
    assert(plan.contains("graft_bloom_might_contain"), plan.take(3000))
  }

  test("seen confirm survives a forced 64-bit url_hash collision (pair key)") {
    import spark.implicits._
    import graft.round.CrawlRound
    // an earlier url whose hashes are (H, X) is in the seen set; a NEW,
    // different url collides on H but (with certainty 1 - 2^-64 in
    // production, by construction here) differs on the second hash — the
    // design-point failure a url_hash-only confirm silently swallows
    // (~2.7 expected collisions at 10^10 urls, each one an uncrawled url)
    val H = 42L
    val seen = Seq((H, 1111L), (7L, 70L)).toDF("url_hash", "url_hash2")
    val suspects = Seq(
      (H, 2222L, "http://new.example.com/collides-on-h"), // colliding NEW url
      (H, 1111L, "http://old.example.com/truly-seen"),    // true duplicate
      (7L, 70L, "http://old.example.com/also-seen"))
      .toDF("url_hash", "url_hash2", "url")
    for (n <- Seq(3L, CrawlRound.SuspectBloomGate + 1)) {
      val out = CrawlRound.confirmNew(seen, suspects, n)
        .select("url").collect().map(_.getString(0)).toSeq
      assert(out == Seq("http://new.example.com/collides-on-h"),
        s"nSuspects=$n got $out")
    }
  }

  test("bloom probe is a native codegen expression with exact semantics") {
    import spark.implicits._
    val bloom = graft.frontier.BloomSeen.empty(1000)
    val present = (0L until 200L).map(_ * 13 + 7)
    present.foreach(graft.frontier.BloomSeen.put(bloom, _))
    val bc = spark.sparkContext.broadcast(Array(bloom))
    // parquet-backed so the probe isn't constant-folded out of the plan
    val p = TestSpark.tmpDir("plan-bloom")
    (present ++ Seq(-1L, -2L, -3L)).toDF("h")
      .write.mode("overwrite").parquet(p)
    val probed = spark.read.parquet(p).withColumn("hit",
      graft.frontier.ShardedBloom.mightContainCol(bc, col("h")))
    val plan = planOf(probed)
    assert(!plan.contains("UDF"), plan.take(2000))
    assert(plan.contains("graft_bloom_might_contain"), plan.take(2000))
    val got = probed.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // no false negatives ever; the 3 absent probes match the local kernel
    assert(present.forall(got(_)))
    Seq(-1L, -2L, -3L).foreach { h =>
      assert(got(h) == graft.frontier.BloomSeen.mightContain(bloom, h))
    }
  }

  test("robots gate and host-bucket derivation run as native expressions, no UDF") {
    import spark.implicits._
    val rules = Map("tieba0.example.com" -> Vector("/p/comment"))
    // parquet-backed so the gate isn't constant-folded out of the plan
    val linksPath = TestSpark.tmpDir("plan-links")
    Seq("http://tieba0.example.com/p/comment?tid=1",
      "http://tieba0.example.com/p/9").toDF("url")
      .write.mode("overwrite").parquet(linksPath)
    val gated = CrawlRound.withHostBucket(spark.read.parquet(linksPath)
      .filter(graft.expressions.UrlExpressions.robotsAllowed(col("url"), rules)))
    val plan = planOf(gated)
    assert(!plan.contains("UDF"), plan.take(2000))
    assert(plan.contains("graft_robots_allowed"), plan.take(2000))
    assert(plan.contains("graft_url_host"), plan.take(2000))
    // codegen path evaluates correctly (reference-object map in the
    // generated code)
    assert(gated.collect().map(_.getString(0)).toSeq ==
      Seq("http://tieba0.example.com/p/9"))

    // every derived bucket is CorpusWriter's hostBucketOf(hostHash(host)),
    // also for a host whose hash is negative (the floor-mod)
    import graft.core.UrlCanon
    val negUrl = Iterator.from(0).map(i => s"http://h$i.example.com/p")
      .find(u => UrlCanon.hostHash(UrlCanon.host(u)) < 0).get
    val bucketsPath = TestSpark.tmpDir("plan-buckets")
    Seq("http://tieba0.example.com/p/9", "http://tieba1.example.com/p/1",
      negUrl).toDF("url").write.mode("overwrite").parquet(bucketsPath)
    val buckets = CrawlRound.withHostBucket(spark.read.parquet(bucketsPath))
      .collect().map(r => r.getString(0) -> r.getInt(1))
    assert(buckets.map(_._1).toSet ==
      Set("http://tieba0.example.com/p/9", "http://tieba1.example.com/p/1", negUrl))
    buckets.foreach { case (u, b) =>
      assert(b == CrawlRound.hostBucketOf(UrlCanon.hostHash(UrlCanon.host(u))), u)
    }
  }
}
