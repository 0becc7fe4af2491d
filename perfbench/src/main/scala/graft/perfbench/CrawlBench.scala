package graft.perfbench

import java.nio.file.{Files, Paths}
import java.time.YearMonth

import graft.core.Crawl
import graft.corpus.{CorpusWriter, SyntheticWeb, WebSpec}
import graft.driver.CrawlLoop
import graft.frontier.{Snapshots, TieredFrontier}
import graft.round.CrawlRound
import graft.sim.ReferenceSimulator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The crawl workload: a drained `CrawlLoop.run` over a synthetic web
  * made from the workload seed, repeated on fresh warehouses until the
  * run's seconds are spent. */
object CrawlBench {

  /** A crawl workload: corpus shape, crawl config and Bloom geometry. */
  final case class Shape(spec: WebSpec, cfg: Crawl.CrawlConfig,
                         expectedUrls: Long)

  val ExpectedUrls: Long = 1L << 20

  /** `crawl_deep`: Zipf hosts, thin pages and a per-host budget of 1024,
    * so the hot host needs rounds beyond the crawl tree's depth. At this
    * size every round costs about the same whatever it fetches, so fixed
    * per-round work (job scheduling, rank, head rewrite, Bloom merge and
    * write, manifest commit) dominates; 12 forums give 6-8 rounds and
    * 9.4-10.2 k pages for every seed tried. */
  def shape(seed: Long, forums: Int = 12): Shape = {
    val spec = WebSpec(nForums = forums, indexPagesPerForum = 2,
      postsPerIndexPage = 50, maxRepliesPerPost = 4, commentsPerPage = 5,
      maxCommentPages = 1, nHosts = 64, nUsers = 20000, seed = seed,
      contentScale = 1, hostSkew = true)
    Shape(spec, Crawl.CrawlConfig(YearMonth.of(2019, 1), YearMonth.of(2019, 12),
      YearMonth.of(2019, 6), indexPageBudget = 1, perHostBudget = 1024,
      maxRounds = 200, verifyText = false), ExpectedUrls)
  }

  /** Outputs every drained crawl of the shape must reproduce, taken from
    * the single-threaded reference simulator. */
  final case class Pins(fetched: Long, rounds: Int, seen: Long, errors: Long)

  def pins(s: Shape): Pins = {
    val sim = ReferenceSimulator.run(s.spec, seeds(s), s.cfg)
    Pins(sim.fetchOrder.size.toLong, sim.rounds, sim.seen.size.toLong,
      sim.misses.size.toLong)
  }

  def seeds(s: Shape): Seq[String] = SyntheticWeb.seeds(s.spec, s.spec.nForums)

  /** One drained crawl, measured from outside the loop. Round k's wall
    * time runs from the commit of snap-(k-1)/manifest.json to the commit
    * of snap-k/manifest.json (file modification times). */
  final case class CrawlRun(wall: Double, cpu: Double, gc: Double,
                            fetched: Long, roundSecs: Seq[Double],
                            roundBounds: Seq[(Long, Long)],
                            warehouseBytes: Long, warehouse: String)

  def crawlOnce(ctx: Ctx, s: Shape, pages: DataFrame, pin: Pins,
                warehouse: String): Either[String, CrawlRun] = {
    val cpu0 = Bench.cpuSeconds
    val gc0 = Bench.gcSeconds
    try {
      val (sum, wall) = Bench.secondsOf {
        ctx.spans("crawl_loop.run") {
          CrawlLoop.run(ctx.spark, pages, seeds(s), s.cfg, warehouse,
            expectedUrls = s.expectedUrls)
        }
      }
      val cpu = Bench.cpuSeconds - cpu0
      val gc = Bench.gcSeconds - gc0
      val got = Pins(sum.totalFetched, sum.rounds, sum.seenCount,
        sum.totalErrors)
      if (sum.pendingAfter != 0)
        Left(s"crawl did not drain: pending=${sum.pendingAfter}")
      else if (got != pin) Left(s"crawl output $got != pinned $pin")
      else {
        val commits = (0 to sum.rounds).map { k =>
          Files.getLastModifiedTime(Paths.get(
            Snapshots.snapDir(warehouse, k), "manifest.json")).toMillis
        }
        val bounds = commits.zip(commits.tail)
        Right(CrawlRun(wall, cpu, gc, sum.totalFetched,
          bounds.map { case (a, b) => (b - a) / 1000.0 }, bounds,
          Bench.dirBytes(warehouse), warehouse))
      }
    } catch {
      case e: Exception => Left(s"crawl threw ${e.getClass.getName}: ${e.getMessage}")
    }
  }

  /** Corpus generation for the shape, repeated for a median set-up time;
    * returns the generation seconds and the path of the last copy. */
  def generate(ctx: Ctx, s: Shape): (Seq[Double], String) = {
    val reps = Bench.SetupReps
    val secs = (1 to reps).map { i =>
      val path = s"${ctx.work}/pages-$i"
      val (_, sec) = Bench.secondsOf {
        ctx.spans("corpus.write") { CorpusWriter.write(ctx.spark, s.spec, path) }
      }
      if (i < reps) Bench.deleteTree(path)
      sec
    }
    (secs, s"${ctx.work}/pages-$reps")
  }

  def run(ctx: Ctx, forums: Int = 12,
          pinEdit: Pins => Pins = identity): Outcome = {
    val s = shape(ctx.seed, forums)
    val (genSecs, pagesPath) = generate(ctx, s)
    val pages = CorpusWriter.read(ctx.spark, pagesPath)
    val (pin0, pinSec) = Bench.secondsOf(pins(s))
    val pin = pinEdit(pin0)
    val setupSec = ctx.sessionSec + Stats.median(genSecs)
    Bench.info(f"set-up: session ${ctx.sessionSec}%.2f s, corpus " +
      genSecs.map(g => f"$g%.2f").mkString("/") + f" s, pins $pinSec%.2f s ($pin0)")

    val recorder = new JobRecorder
    val runs = collection.mutable.ArrayBuffer.empty[CrawlRun]
    val failures = collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0
    // each run is a fresh driver JVM, as a submitted crawl job is: the first
    // crawl's JIT compilation is part of what is measured. A traced run
    // does the same with the recorder on, so its item_ms read beside an
    // untraced run's shows the tracing overhead.
    val t0 = System.nanoTime()
    while (attempted == 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val wh = s"${ctx.work}/wh-$attempted"
      val r = if (ctx.trace) recorder.around(ctx.spark.sparkContext)(
          crawlOnce(ctx, s, pages, pin, wh))
        else crawlOnce(ctx, s, pages, pin, wh)
      attempted += 1
      r match {
        case Right(c) =>
          Bench.info(f"crawl $attempted: ${c.fetched} pages, " +
            f"${c.roundSecs.size} rounds, ${c.wall}%.2f s, " +
            c.roundSecs.map(x => f"$x%.2f").mkString("rounds ", "/", " s"))
          // the last warehouse stays for the layer probes
          runs.lastOption.foreach(p => Bench.deleteTree(p.warehouse))
          runs += c
        case Left(msg) => failures += msg; Bench.deleteTree(wh)
      }
    }

    val e2e = endToEnd(runs.toSeq, setupSec)
    val metrics =
      if (!ctx.trace) e2e
      else {
        val layers = runs.lastOption.map(last => Bench.guarded(failures) {
          crawlLayers(ctx, pages, runs.toSeq, recorder, last.warehouse)
        }).getOrElse(Map.empty)
        layers ++ LayerProbes.core(ctx, s) ++
          LayerProbes.bloom(ctx, s.expectedUrls) ++
          QueryBench.LayerNames.map(_ -> Some(0.0)) ++ Map(
          "corpus.gen_s" -> Some(Stats.median(genSecs)),
          "corpus.mb" -> Some(Bench.dirBytes(pagesPath) / 1e6),
          "jvm.cpu_s" -> Bench.med(runs.map(_.cpu).toSeq),
          "jvm.gc_s" -> Bench.med(runs.map(_.gc).toSeq),
          "jvm.peak_rss_mb" -> Some(Bench.peakRssMb),
          "trace.item_ms" -> e2e("item_ms"),
          "step.p80_s" -> Bench.med(runs.map(r => Stats.quantile(r.roundSecs, 0.8)).toSeq),
          "step.max_s" -> Bench.med(runs.map(_.roundSecs.max).toSeq),
          "trace.pass_s" -> Bench.med(runs.map(_.wall).toSeq))
      }
    runs.foreach(r => Bench.deleteTree(r.warehouse))
    Outcome(attempted, failures.toSeq, metrics)
  }

  def endToEnd(runs: Seq[CrawlRun], setupSec: Double): Map[String, Option[Double]] =
    Map(
      "item_ms" -> Bench.med(runs.map(r => r.wall * 1000 / r.fetched)),
      "step_iqm_s" -> Bench.med(runs.map(r => Stats.iqm(r.roundSecs))),
      "cpu_ms_per_item" -> Bench.med(runs.map(r => r.cpu * 1000 / r.fetched)),
      "setup_s" -> Some(setupSec))

  /** Per-layer metrics only a crawl produces; the queries workload, which
    * uses none of these layers, reports them as 0. */
  val LayerNames: Seq[String] = Seq("frontier.seen_segments",
    "frontier.commit_kb_per_round", "frontier.commit_growth",
    "frontier.new_frac", "frontier.backlog_waste",
    "frontier.warehouse_kb_per_page", "round.fetch_join_s",
    "round.confirm_steady_s", "round.confirm_burst_s")

  /** Per-layer numbers of traced crawls: listener activity attributed to
    * rounds by manifest commit times, the frontier state the manifests
    * and snapshot files record, and direct calls into the round's fetch
    * join and exact confirm on the last traced warehouse. */
  def crawlLayers(ctx: Ctx, pages: DataFrame, runs: Seq[CrawlRun],
                  rec: JobRecorder, wh: String): Map[String, Option[Double]] = {
    val rounds = runs.last.roundSecs.size
    val manifests = (0 to rounds).map(k => Snapshots.readManifest(wh, k).get)
    val after = manifests.tail
    val commitKb = (1 to rounds).map(k =>
      Bench.dirBytes(Snapshots.snapDir(wh, k)) / 1024.0)
    val backlogRounds = after.filter(_.backlogPending > 0)
    rec.steps(runs.flatMap(_.roundBounds), runs.map(_.fetched).sum, ctx.cores) ++ Map(
      "frontier.seen_segments" -> Some((0 until rounds).map(k =>
        Bench.files(Paths.get(Snapshots.tablePath(wh, k, "seen_delta")),
          ".parquet")).sum.toDouble),
      "frontier.commit_kb_per_round" -> Bench.med(commitKb),
      "frontier.commit_growth" -> Some(commitKb.last / commitKb.head),
      "frontier.new_frac" -> Some(after.map(_.seenDeltaCount).sum.toDouble /
        math.max(1L, after.map(m => m.seenDeltaCount + m.deduped).sum)),
      "frontier.backlog_waste" -> Some(
        if (backlogRounds.isEmpty) 0.0
        else backlogRounds.map(_.backlogPhysRows).sum.toDouble /
          backlogRounds.map(_.backlogPending).sum),
      "frontier.warehouse_kb_per_page" ->
        Bench.med(runs.map(r => r.warehouseBytes / 1024.0 / r.fetched))) ++
      roundProbes(ctx, pages, wh, manifests)
  }

  /** Direct calls, timed as the median of three: `CrawlRound.fetchJoin`
    * on the largest head the crawl recorded, and `CrawlRound.confirmNew`
    * below and above `SuspectBloomGate` on a suspect set of half known,
    * half novel url hashes (the result must be exactly the novel half). */
  def roundProbes(ctx: Ctx, pages: DataFrame, wh: String,
                  manifests: Seq[Snapshots.Manifest]): Map[String, Option[Double]] = {
    val spark = ctx.spark
    val headRound = manifests.init.maxBy(_.headCount).round
    val selected = TieredFrontier.readHead(spark, wh, headRound)
      .withColumn("host_bucket", CrawlRound.hostBucketCol(col("host_hash")))
      .cache()
    val nSelected = selected.count()
    val fetchJoin = (1 to 3).map { _ =>
      Bench.secondsOf(ctx.spans("crawl_round.fetch_join") {
        CrawlRound.fetchJoin(CrawlRound.withHostBucket(pages), selected,
          nSelected, withText = false)
          .write.format("noop").mode("overwrite").save()
      })._2
    }
    selected.unpersist()

    val last = manifests.last.round
    val seen = Snapshots.readTable(spark, wh, "seen_delta", last).get
    val half = math.min(20000L, manifests.map(_.seenDeltaCount).sum / 2)
    val novel = spark.range(half).select(
      xxhash64(col("id"), lit("novel")).as("url_hash"),
      xxhash64(col("id"), lit("novel2")).as("url_hash2"))
    val suspects = seen.limit(half.toInt).unionByName(novel).cache()
    val nSuspects = suspects.count()
    def confirm(n: Long, tag: String): Seq[Double] = (1 to 3).map { _ =>
      val (got, sec) = Bench.secondsOf(ctx.spans(s"crawl_round.confirm_new.$tag") {
        CrawlRound.confirmNew(seen, suspects, n).count()
      })
      require(got == half, s"confirmNew ($tag) kept $got of $half novel hashes")
      sec
    }
    require(nSuspects <= CrawlRound.SuspectBloomGate)
    val steady = confirm(nSuspects, "steady")
    val burst = confirm(CrawlRound.SuspectBloomGate + 1, "burst")
    suspects.unpersist()
    Map("round.fetch_join_s" -> Some(Stats.median(fetchJoin)),
      "round.confirm_steady_s" -> Some(Stats.median(steady)),
      "round.confirm_burst_s" -> Some(Stats.median(burst)))
  }
}
