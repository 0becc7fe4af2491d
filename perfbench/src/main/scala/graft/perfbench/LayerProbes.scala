package graft.perfbench

import graft.core.{Crawl, Extract, TextAnalysis, UrlCanon, WeiboClean, XxHash64}
import graft.corpus.SyntheticWeb
import graft.frontier.{BloomSeen, ShardedBloom, Snapshots}

/** Single-thread timings of the pure-JVM kernels and the frontier's Bloom
  * filter, taken by calling their public functions on this workload's
  * inputs after a warm-up pass. */
object LayerProbes {

  /** Median over five batches of the time per call, in `unit` ns. Each
    * batch repeats `op` over the inputs for at least 50 ms. */
  private def perCall[A](ctx: Ctx, name: String, inputs: IndexedSeq[A],
                         unitNs: Double)(op: A => Int): Double = {
    require(inputs.nonEmpty, s"$name: no inputs")
    var sink = 0
    inputs.foreach(a => sink += op(a)) // warm-up
    val batches = (1 to 5).map { _ =>
      ctx.spans(name) {
        var calls = 0L
        val t0 = System.nanoTime()
        var t = t0
        while (t - t0 < 50000000L) {
          inputs.foreach(a => sink += op(a))
          calls += inputs.size
          t = System.nanoTime()
        }
        (t - t0) / calls.toDouble / unitNs
      }
    }
    if (sink == 42) println("") // keeps the calls observable to the JIT
    Stats.median(batches)
  }

  def core(ctx: Ctx, s: CrawlBench.Shape): Map[String, Option[Double]] = {
    val n = SyntheticWeb.pageCount(s.spec)
    val pages = (0L until 1000L).flatMap(i =>
      SyntheticWeb.pageAt(s.spec, i * n / 1000)).toIndexedSeq
    val links = pages.flatMap(p =>
      Crawl.process(p.url, p.html, s.cfg).links.map(l => (p.url, l.url)))
    val texts = pages.map(_.text).filter(_.nonEmpty)
    val weibo = texts.zipWithIndex.map { case (t, i) =>
      s"""$t<span class="url-icon"><img alt=[赞] src="x.png"></span>""" +
        s"""<a href="/u/$i">@user$i</a>：$t<br/>"""
    }
    Map(
      "core.process_us" -> perCall(ctx, "core.process", pages, 1e3)(p =>
        Crawl.process(p.url, p.html, s.cfg).links.size),
      "core.extract_us" -> perCall(ctx, "core.extract", pages, 1e3)(p =>
        Extract.parseBytes(p.url, p.html).text.length),
      "core.canon_us" -> perCall(ctx, "core.canon", links, 1e3) {
        case (base, l) => UrlCanon.canonicalize(l, base).length },
      "core.xxhash_ns" -> perCall(ctx, "core.xxhash", links, 1.0) {
        case (_, l) => XxHash64.hashString(l).toInt },
      "core.weiboclean_us" -> perCall(ctx, "core.weiboclean", weibo, 1e3)(t =>
        WeiboClean.clean(t).length),
      "core.textanalysis_us" -> perCall(ctx, "core.textanalysis", texts, 1e3)(t =>
        TextAnalysis.sentiment(t).toInt + TextAnalysis.keywords(t).size)
    ).map { case (k, v) => k -> Some(v) }
  }

  /** Bloom put/probe at the workload's expected-url geometry, and the
    * per-round merge, write and read of the sharded filter. */
  def bloom(ctx: Ctx, expectedUrls: Long): Map[String, Option[Double]] = {
    val n = math.min(expectedUrls, 1L << 20).toInt
    val rnd = new java.util.SplittableRandom(ctx.seed)
    val present = Array.fill(n)(rnd.nextLong())
    val absent = Array.fill(n)(rnd.nextLong())
    val puts = (1 to 3).map { _ =>
      val b = BloomSeen.empty(expectedUrls)
      val (_, sec) = Bench.secondsOf(ctx.spans("frontier.bloom_put") {
        present.foreach(BloomSeen.put(b, _))
      })
      (b, sec * 1e9 / n)
    }
    val b = puts.last._1
    val probes = (1 to 3).map { _ =>
      Bench.secondsOf(ctx.spans("frontier.bloom_probe") {
        require(present.forall(BloomSeen.mightContain(b, _)),
          "Bloom false negative")
        absent.count(BloomSeen.mightContain(b, _))
      })._2 * 1e9 / (2L * n)
    }

    val shards = ShardedBloom.numShardsFor(expectedUrls)
    def filled(): Array[Array[Byte]] = {
      val a = ShardedBloom.empty(expectedUrls, numShards = shards)
      (0 until n by 2).foreach(i => ShardedBloom.put(a, rnd.nextLong()))
      a
    }
    val acc = filled()
    val delta = filled()
    val merges = (1 to 5).map(_ => Bench.secondsOf(ctx.spans("frontier.bloom_merge") {
      ShardedBloom.mergeInto(acc, delta)
    })._2 * 1e3)
    val wh = s"${ctx.work}/bloom-io"
    val writes = (1 to 5).map(r => Bench.secondsOf(ctx.spans("frontier.bloom_write") {
      Snapshots.writeBloomShards(wh, r, acc)
    })._2 * 1e3)
    val reads = (1 to 5).map { r =>
      val (back, sec) = Bench.secondsOf(ctx.spans("frontier.bloom_read") {
        Snapshots.readBloomShards(wh, r)
      })
      require(back.length == acc.length &&
        back.indices.forall(i => java.util.Arrays.equals(back(i), acc(i))),
        "Bloom shards read back differ from those written")
      sec * 1e3
    }
    Bench.deleteTree(wh)
    Map(
      "frontier.bloom_put_ns" -> Stats.median(puts.map(_._2)),
      "frontier.bloom_probe_ns" -> Stats.median(probes),
      "frontier.bloom_merge_ms" -> Stats.median(merges),
      "frontier.bloom_write_ms" -> Stats.median(writes),
      "frontier.bloom_read_ms" -> Stats.median(reads)
    ).map { case (k, v) => k -> Some(v) }
  }
}
