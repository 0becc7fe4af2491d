package graft.round

import scala.collection.mutable
import scala.concurrent.Future

import graft.core.Crawl
import graft.expressions.UrlExpressions.{robotsAllowed, urlHash, urlHash2,
  urlHost}
import graft.frontier.{InternalRows, PartitionLineage, ShardedBloom, Snapshots,
  TieredFrontier}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One crawl round as a declarative Dataset pipeline (north_rule):
  *
  *   canonicalize → (already canonical on insert) → per-host window rank ≤
  *   politeness budget OVER THE FRONTIER HEAD ONLY → fetch (join the
  *   bounded selected slice against the pages table — ONE scan of pages)
  *   → extract via
  *   the shared pure [[Crawl.process]] → ONE `fetched` working-set write
  *   (item tables are views derived on read — see [[Snapshots]]) → explode
  *   discovered links → Bloom pre-filter + exact confirm vs the seen set →
  *   merge into the tiered frontier (head rewrite + backlog overflow delta
  *   + bucket-pruned refill — see [[TieredFrontier]]).
  *
  * Scale/latency notes (the 100 TB story):
  *  - per-round state touched is O(head + new links), NEVER O(total
  *    frontier): the politeness window ranks only the per-host head
  *    (≤ HeadFactor × budget entries/host) and the backlog is append/
  *    tombstone deltas — the r1 full-frontier window + rewrite is gone;
  *  - the fetch joins pages ⋈ selected on (host_bucket, url) with a
  *    SIZE-GATED broadcast: selected is broadcast when its known row count
  *    is under [[BroadcastRowGate]] (the steady-state case — bounded by
  *    budget × hosts), and falls back to a plain equi-join (AQE-planned,
  *    shuffled-hash) when a burst round exceeds it — never an unconditional
  *    driver-side broadcast of an unbounded slice;
  *  - the round's CRITICAL PATH is three serial jobs — the fetch+extract
  *    write (its first stage builds the cached ranked head), the suspect
  *    count (the expansion's dedup shuffle, whose completion picks the
  *    confirm branch), and the overflow probe (a per-host count over the
  *    cached head and new entries, which also counts the head rows left
  *    behind: selected = head − remaining, no count job of its own). The
  *    head write runs as a CONCURRENT job over the same caches (measured
  *    -11% wall vs the serial write in an interleaved same-binary A/B),
  *    and everything else (lineage, miss log, seen delta, Bloom delta
  *    build, and — only when a host overflows or the backlog is in use —
  *    the backlog delta and host-state upkeep) is likewise off the
  *    critical path; all bookkeeping counts are derived arithmetically
  *    from the previous round's manifest (pending' = pending - selected +
  *    new), and the round returns its own manifest — the seed's comes from
  *    the same arithmetic — for the caller to commit. A steady round (no
  *    overflow, no backlog) runs 17-20 Spark jobs on crawl_deep,
  *    broadcast and shuffle-stage jobs included: fetch 4, expand 3,
  *    delta-bloom 2-4, misses 2, seen-delta 1-2, merge 1-2 (the overflow
  *    probe), head 1-2, lineage 1 — and no host_state write, since
  *    host_state exists only while some host is backlogged;
  *  - discovered-link dedup is a groupBy on url (map-side partial agg),
  *    then a Bloom broadcast probe drops the overwhelmingly-seen majority;
  *    suspects are confirmed WITHOUT shuffling the seen table (no false
  *    negatives ⇒ correctness unaffected; see frontier/BloomSeen.scala).
  *
  * Generated-code budget: Spark's codegen cache holds 100 classes, and in
  * local mode a whole-stage class takes two entries (driver compile check
  * + executor task). A steady round uses about 76 entries; a plan that
  * needs more makes every round recompile its own classes. Hence: no
  * per-round literal inside a round plan (the round number is read from
  * the snapshot dir, see [[Snapshots.roundOfFile]]), bookkeeping counts
  * and sums run on internal rows ([[rowCount]], [[perKeySums]]) instead
  * of as aggregation stages, and only frames read more than once are
  * cached.
  */
object CrawlRound {

  val NumHostBuckets = 64

  /** Broadcast the selected slice into the fetch join only below this row
    * count (~30-70 MB as a JVM broadcast relation). Measured on the bench
    * corpus (interleaved A/B, 2 reps, BASELINE.md §gate calibration):
    * broadcasting 1.1-1.4M row slices LOST to the Bloom-prefiltered
    * equi-join at both levels, while ≤100k-row slices win with broadcast.
    * The crossover is memory- and cluster-shape-dependent — the original
    * A/B ran on executors silently capped at 1 GB heap (the local-cluster
    * config bug found in r4), and a 16 GB re-check puts the crossover
    * higher at 4 executors but LOWER at 1 (the lone executor pays
    * relation build + GC on top of all the work) — so the conservative
    * default stands.
    * Above the gate (the 10^10 design point is 16/host × 10^7 hosts ≈
    * 1.6e8 selected rows — a guaranteed driver OOM if forced) the join is
    * a plain equi-join with a [[fetchJoin selected-slice Bloom]] pushed
    * into the pages scan, so the shuffle moves O(selected) pages, never
    * the whole corpus. */
  val BroadcastRowGate = 250000L

  /** Above this many Bloom-positive suspects, the exact confirm switches
    * from the AQE-broadcast semi join to the suspect-Bloom-prefiltered
    * scan (see [[confirmNew]]). Sized like the fetch gate: ≤100k hashes is
    * a sub-MB broadcast either way. */
  val SuspectBloomGate = 100000L

  /** Exact confirmation of Bloom-positive suspects against the cumulative
    * seen table, with the invariant the 10^10 design point demands: THE
    * SEEN TABLE NEVER ENTERS AN EXCHANGE — O(crawl age) rows may be
    * scanned (columnar, single long column, embarrassingly parallel) but
    * never shuffled, in any regime.
    *
    *  - steady state (suspects ≤ [[SuspectBloomGate]], the common case —
    *    the cumulative Bloom already dropped the novel majority): the tiny
    *    suspect set rides as the broadcast build side of a semi join over
    *    the seen scan, then the matched set (≤ suspects) broadcasts back
    *    into the anti join. Zero shuffles.
    *  - burst (millions of suspects — seed storms, frontier rewinds): a
    *    shuffled join would exchange the whole seen table (the r2 'weak'
    *    finding). Instead: one O(suspects) job builds a Bloom over the
    *    suspect hashes, sized by `nSuspects`, pushed into the seen scan as
    *    the native codegen'd probe — seen collapses to (true matches +
    *    ~0.1% fp) BEFORE any join, and the anti join's build side is
    *    O(matches). The suspect shuffle is O(delta); seen is scanned,
    *    never moved.
    *
    * Exactness: the suspect Bloom has no false negatives, so every true
    * match survives the prefilter; false positives on the seen side have
    * hashes ∉ suspects, so the anti join ignores them.
    *
    * The match key is the (url_hash, url_hash2) PAIR — two independent
    * 64-bit hashes. A single 64-bit key expects ~2.7 collisions at the
    * 10^10-URL design point, and each collision is a genuinely-new URL
    * silently confirmed seen and never crawled; the 128-bit pair drops
    * the expectation to ~10^-19. The Bloom stages still key on url_hash
    * alone (a filter false positive only costs a redundant suspect, never
    * correctness).
    *
    * `rows` are the rows to filter, the suspects by default. A superset of
    * the suspects may ride along — e.g. every candidate, the Bloom-cleared
    * ones included: those are absent from seen, so the anti join keeps
    * them, and one pass yields all new entries with no union. The seen
    * match is still built from the suspects alone. */
  val ConfirmKey: Seq[String] = Seq("url_hash", "url_hash2")

  def confirmNew(seen: DataFrame, suspects: DataFrame,
                 nSuspects: Long,
                 rows: Option[DataFrame] = None): DataFrame = {
    val from = rows.getOrElse(suspects)
    if (nSuspects <= SuspectBloomGate) {
      val matchedSeen = seen
        .join(broadcast(suspects.select(ConfirmKey.map(col): _*)), ConfirmKey,
          "left_semi")
      from.join(broadcast(matchedSeen), ConfirmKey, "left_anti")
    } else {
      val bc = suspects.sparkSession.sparkContext.broadcast(
        bloomOver(suspects, nSuspects, 0.001))
      from.join(seen.filter(ShardedBloom.mightContainCol(bc, col("url_hash"))),
        ConfirmKey, "left_anti")
    }
  }

  /** A one-shard Bloom ([[ShardedBloom]]) over `df`'s `url_hash`, sized
    * for at least `capacity` items. */
  private def bloomOver(df: DataFrame, capacity: Long,
                        fpp: Double): Array[Array[Byte]] =
    ShardedBloom.buildShardsWithCount(df, "url_hash",
      math.max(capacity, MinBloomItems), numShards = 1, fpp)._1

  /** `df`'s row count, as a job on its internal rows ([[InternalRows]]). */
  private def rowCount(df: DataFrame): Long =
    InternalRows.run(df.select())(_.count())

  /** Per-key sums of `df`'s long columns after the first (the key), as a
    * job on its internal rows ([[InternalRows]]) — for the round's
    * bookkeeping aggregates. `finish` runs the action on the per-key sums. */
  private def perKeySums[T](df: DataFrame)(
      finish: RDD[(Long, Array[Long])] => T): T = {
    val width = df.columns.length - 1
    def add(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < width) { a(i) += b(i); i += 1 }
      a
    }
    InternalRows.run(df) { rows =>
      finish(rows.mapPartitions { it =>
        val acc = mutable.HashMap.empty[Long, Array[Long]]
        it.foreach { r =>
          add(acc.getOrElseUpdate(r.getLong(0), new Array[Long](width)),
            Array.tabulate(width)(i => r.getLong(i + 1)))
        }
        acc.iterator
      }.reduceByKey(add _))
    }
  }

  /** Floor on every Bloom the round sizes from a row count or bound. */
  private val MinBloomItems = 1L << 16

  def hostBucketOf(hostHash: Long): Int =
    (((hostHash % NumHostBuckets) + NumHostBuckets) % NumHostBuckets).toInt

  /** host_hash → host_bucket as column algebra — the ONE definition of the
    * frontier/pages co-location key (must agree with [[hostBucketOf]]). */
  def hostBucketCol(hostHash: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(hostHash, lit(NumHostBuckets.toLong)).cast("int")

  /** pages with a host_bucket column: pass-through when the corpus writer
    * already partitioned by it; derived otherwise (input_hint tables have
    * exactly the 5 contract columns) from the native codegen'd host hash —
    * no UDF on the pages scan. */
  def withHostBucket(pages: DataFrame): DataFrame =
    if (pages.columns.contains("host_bucket")) pages
    else pages.withColumn("host_bucket",
      hostBucketCol(urlHash(urlHost(col("url")))))

  /** `df` with the frontier keys derived from its `url` column: `url_hash`,
    * `url_hash2`, `host` and `host_hash` — the one definition for seeds
    * and discovered links alike (native codegen'd expressions, the same
    * kernels as the oracle). */
  def withUrlKeys(df: DataFrame): DataFrame = df
    .withColumn("url_hash", urlHash(col("url")))
    .withColumn("url_hash2", urlHash2(col("url")))
    .withColumn("host", urlHost(col("url")))
    .withColumn("host_hash", urlHash(col("host")))

  /** pages columns renamed for the fetch join. The corpus's pre-extracted
    * `text` column rides along ONLY when the caller verifies extraction
    * byte-identity — it is a whole extra text column through the scan and
    * (above-gate) the shuffle, which production fetch+extract never reads. */
  private def pagesB(p: DataFrame, withText: Boolean): DataFrame = {
    val base = Seq(col("host_bucket"), col("url"),
      col("warc_ts").as("page_warc_ts"), col("html"))
    p.select(base ++ (if (withText) Seq(col("text").as("page_text"))
                      else Nil): _*)
  }

  /** The fetch join with its size gate: broadcast the selected slice when
    * its KNOWN row count is under [[BroadcastRowGate]] — the pages scan is
    * then never shuffled at all. Above the gate (burst rounds / the 10^10
    * design point, where a forced broadcast is a driver OOM) the join
    * falls back to a plain equi-join, but with a RUNTIME ROW-LEVEL FILTER:
    * a Bloom over the selected slice's url hashes probed on the scan side
    * (codegen'd hash + broadcast probe, no false negatives), so only
    * ~selected-many pages (+ ~1% fp) enter the shuffle instead of the
    * whole corpus — at 100 TB that is the difference between shuffling
    * gigabytes and shuffling the dataset. AQE plans the residual join
    * (shuffled-hash at these key counts). */
  def fetchJoin(pages: DataFrame, selected: DataFrame,
                selectedCount: Long,
                selectedBloom: Option[Array[Array[Byte]]] = None,
                withText: Boolean = true): DataFrame =
    if (selectedCount <= BroadcastRowGate)
      pagesB(pages, withText).join(broadcast(selected),
        Seq("host_bucket", "url"))
    else {
      val scanSide = selectedBloom match {
        case Some(b) =>
          val bc = pages.sparkSession.sparkContext.broadcast(b)
          pagesB(pages, withText).filter(
            ShardedBloom.mightContainCol(bc, urlHash(col("url"))))
        case None => pagesB(pages, withText)
      }
      scanSide.join(selected, Seq("host_bucket", "url"))
    }

  /** Runs the round and writes `fetched` / `misses` / `head` /
    * `backlog_add` / `backlog_rm` / `host_state` / `seen_delta` into the
    * round's snapshot dir. `prev` is the previous round's manifest, from
    * which every count of this round's manifest follows arithmetically
    * (no count jobs over big tables). Returns that manifest, uncommitted
    * (the caller's commit writes it), and the round's delta Bloom, built
    * with `bloom`'s geometry from `expectedUrls` so the caller can OR it
    * into the cumulative filter (all-zero when nothing is new). Every
    * cached frame and side job belongs to a [[RoundScope]]: whether the
    * round returns or throws, no cache and no writer outlives this call. */
  def run(spark: SparkSession,
          head: DataFrame,
          pages: DataFrame,
          seen: DataFrame, // (url_hash, url_hash2): Long pair (exact set)
          bloom: Array[Array[Byte]], // url_hash-range shards (ShardedBloom)
          cfg: Crawl.CrawlConfig,
          round: Int,
          warehouse: String,
          prev: Snapshots.Manifest,
          expectedUrls: Long,
          robots: Map[String, Vector[String]] = Map.empty
         ): (Snapshots.Manifest, Array[Array[Byte]]) =
    RoundScope(spark.sparkContext, round) { scope =>
      val p = new Phases(spark, cfg, round, warehouse, prev, scope)
      val sel = p.select(head, pages)
      val fetch = p.fetchExtract(sel)
      val exp = p.expandConfirm(fetch.fetched, seen, bloom, expectedUrls,
        robots)
      val merge = p.mergeOverflow(sel.remaining, exp.newEntries)
      val refill = p.refillReconcile(merge)
      p.sideWrites(fetch, exp, merge, refill)
    }

  /** Writes snapshot 0 (`head`, `seen_delta`, and `backlog_add` +
    * `host_state` when the seeds overflow a host) as a round with no
    * fetch: `seeds` (canonical `url` plus the link columns) enter the
    * frontier the way discovered links do — the round's link dedupe,
    * new-entry side jobs and tier merge. Nothing is seen yet, so there is
    * no probe and no confirm, and no filter to broadcast. Returns what
    * [[run]] returns: snapshot 0's uncommitted manifest, from
    * [[Snapshots.EmptyManifest]] by the round's own arithmetic, and the
    * seeds' Bloom in the cumulative filter's geometry. */
  def seed(spark: SparkSession, seeds: DataFrame, cfg: Crawl.CrawlConfig,
           warehouse: String, expectedUrls: Long,
           robots: Map[String, Vector[String]]
          ): (Snapshots.Manifest, Array[Array[Byte]]) =
    RoundScope(spark.sparkContext, 0) { scope =>
      val p = new Phases(spark, cfg, 0, warehouse, Snapshots.EmptyManifest,
        scope)
      val exp = scope.phase("expand")(p.newEntryJobs(
        p.dedupeLinks(seeds, robots), expectedUrls,
        ShardedBloom.numShardsFor(expectedUrls)))
      val noHead = spark.createDataFrame(java.util.List.of[Row](),
        TieredFrontier.feSchema)
      val merge = p.mergeOverflow(noHead, exp.newEntries)
      // no backlog yet, so no refill: this only rewrites the head when
      // the seeds overflow a host
      val refill = p.refillReconcile(merge)
      val overflow =
        scope.phase("side-writes")(p.backlogWrites(merge, refill))
      val (delta, newCount) = scope.await(exp.deltaBloom)
      (p.nextManifest(selected = 0L, fetched = 0L, errors = 0L, deduped = 0L,
        newCount, scope.await(overflow), removed = 0L, lineage = Nil), delta)
    }

  private val feColsC = TieredFrontier.feCols.map(col)

  // values the phases hand to each other
  private final case class Selection(selected: DataFrame, remaining: DataFrame,
                                     pages: DataFrame)
  /** `lineage`: (fetch partition, pages, links) per fetch partition. */
  private final case class Fetch(fetched: DataFrame,
                                 lineage: Future[Seq[(Int, Long, Long)]])
  /** `deltaBloom`: the new entries' Bloom shards and count. */
  private final case class Expansion(newEntries: DataFrame,
      deltaBloom: Future[(Array[Array[Byte]], Long)])
  /** `prevHostState`, `newWorse` and `overflow` are None when known empty;
    * `remainingCount` is the number of head rows the selection left
    * behind. */
  private final case class Merge(prevHostState: Option[DataFrame],
                                 newWorse: Option[DataFrame], kept: DataFrame,
                                 overflow: Option[DataFrame],
                                 mergedCounts: DataFrame, remainingCount: Long,
                                 headWrite: Future[Unit]) {
    def noOverflow: Boolean = overflow.isEmpty
  }
  /** `rows` carries `from_backlog`; `rm` = the picks taken off the backlog;
    * `nextMin` = each refilled host's new backlog minimum. */
  private final case class Picks(rows: DataFrame, rm: DataFrame,
                                 nextMin: DataFrame, rmCount: Future[Long])
  private final case class Refill(needs: Option[DataFrame], picks: Option[Picks])

  private final class Phases(spark: SparkSession, cfg: Crawl.CrawlConfig,
                             round: Int, warehouse: String,
                             prev: Snapshots.Manifest, scope: RoundScope) {
    private val headCap = cfg.perHostBudget * TieredFrontier.HeadFactor

    private def path(table: String): String =
      Snapshots.tablePath(warehouse, round, table)

    /** Politeness: per-host budget via window rank (W1) over the HEAD only
      * — O(active hosts × headCap) rows, never the whole frontier — then
      * the optional global cap in the same order. */
    def select(head: DataFrame, pages: DataFrame): Selection =
      scope.phase("select") {
        // one window shuffle, cached once; `selected` is a filter over it
        val ranked = scope.persist(head.select(feColsC: _*)
          .withColumn("host_bucket", hostBucketCol(col("host_hash")))
          .withColumn("rn", row_number().over(TieredFrontier.hostWindow)))
        val within = ranked.filter(col("rn") <= cfg.perHostBudget).drop("rn")
        val beyond = ranked.filter(col("rn") > cfg.perHostBudget).drop("rn")
        val (selected, remaining) =
          if (cfg.globalBudget <= 0) (within, beyond)
          else {
            val capped = scope.persist(within
              .orderBy(TieredFrontier.orderCols: _*).limit(cfg.globalBudget))
            (capped, beyond.unionByName(within.join(capped.select("url_hash"),
              Seq("url_hash"), "left_anti")))
          }
        // No bucket pruning before the join: a pre-job collecting the
        // selected buckets cost more than the pages scan it saved (crawl_deep,
        // 4 of 4 interleaved pairs), and its IN list made every round's plan
        // new code. The broadcast fetch join reads every bucket.
        Selection(selected, remaining, withHostBucket(pages))
      }

    /** pages ⋈ selected (size-gated broadcast), extracted via the shared
      * pure [[Crawl.process]] and written once as `fetched`.
      *
      * The broadcast gate needs a row bound BEFORE the fetch join, but the
      * EXACT selected count is only bookkeeping (error/pending arithmetic,
      * consumed after the fetch write). The manifest's headCount bounds
      * selected from above (selection ranks within the head), so the gate
      * decision — and the selected-slice Bloom's sizing above the gate —
      * use the bound, and the exact count comes later and for free from
      * the overflow probe (selected = head − remaining): no serial
      * head-size barrier in any round (one cost 2-8 s/round of serial time
      * in above-gate rounds at cluster job latencies). Conservative in the
      * bound direction only: a round whose head exceeds the gate but whose
      * selected slice is under it takes the Bloom-prefiltered join instead
      * of the broadcast — correct, and the Bloom oversize is capped by
      * HeadFactor. */
    def fetchExtract(sel: Selection): Fetch = scope.phase("fetch") {
      val underGate = prev.headCount <= BroadcastRowGate
      val selectedBloom = Option.when(!underGate)(
        bloomOver(sel.selected, prev.headCount, 0.01))
      val hits = fetchJoin(sel.pages,
        sel.selected.select("host_bucket", "url", "url_hash", "host",
          "host_hash", "depth", "priority"),
        prev.headCount, selectedBloom, withText = cfg.verifyText)

      val cfgB = spark.sparkContext.broadcast(cfg)
      val processUdf = udf((url: String, html: Array[Byte]) =>
        Crawl.process(url, html, cfgB.value))
      // critical-path job #1: scan+join+extract, written exactly once; every
      // downstream consumer re-reads this bounded working set from parquet.
      // (Measured alternative, rejected: persisting the pre-write DF and
      // running the write concurrently with expansion LOST ~20% at 2 cores —
      // the in-memory cache can't prune nested fields, so expansion paid for
      // the whole `out` struct instead of parquet's out.links-only read.)
      // (dictionary encoding off: text/urls are unique per row — the encoder
      // would only buffer and fall back, the hottest write frame in JFR)
      // text_match column is stable in the fetched schema; when verification
      // is off (production/throughput runs) it is vacuously true rather than
      // a per-row compare against a corpus column we then never read
      val fetchedOut = hits
        .withColumn("out", processUdf(col("url"), col("html")))
        .withColumn("text_match",
          if (cfg.verifyText) col("out.text") === col("page_text")
          else lit(true))
        .withColumn("partition_id", spark_partition_id())
        .drop((Seq("html") ++
          (if (cfg.verifyText) Seq("page_text") else Nil)): _*)
      fetchedOut.write.mode("overwrite")
        .option("parquet.enable.dictionary", "false")
        .parquet(path("fetched"))

      // re-read with the schema we just wrote: no footer-inference job
      val fetched = spark.read.schema(fetchedOut.schema).parquet(path("fetched"))
      val lineage = scope.future("lineage") {
        perKeySums(fetched.select(col("partition_id").cast("long"),
          lit(1L).as("pages"), size(col("out.links")).cast("long")))(_.collect())
          .toSeq
          .map { case (pid, Array(pages, links)) => (pid.toInt, pages, links) }
          .sortBy(_._1)
      }
      scope.future("misses") {
        // same size gate as the fetch join: fetched ≤ selected rows, so an
        // above-gate round must NOT force a driver-side broadcast here
        // either (it would reintroduce the OOM the gate exists to prevent).
        // Key is (url_hash, url): the hash narrows the probe, the string
        // makes it exact — a 64-bit collision between two selected urls
        // must not erase a miss row from the fetch log.
        val fetchedHashes = fetched.select("url_hash", "url")
        val side = if (underGate) broadcast(fetchedHashes) else fetchedHashes
        sel.selected
          .join(side, Seq("url_hash", "url"), "left_anti")
          .select(col("url"), col("url_hash"), col("host"), col("depth"))
          .write.mode("overwrite").parquet(path("misses"))
      }
      Fetch(fetched, lineage)
    }

    /** Discovered links → in-round dedup → Bloom probe → exact confirm of
      * the suspects → the new-entry side jobs. */
    def expandConfirm(fetched: DataFrame, seen: DataFrame,
                      bloom: Array[Array[Byte]], expectedUrls: Long,
                      robots: Map[String, Vector[String]]
                     ): Expansion = scope.phase("expand") {
      // discovered_round is this round, read from the snapshot dir the
      // fetched rows live in: a lit(round) would make every round's plan
      // new code to compile
      val rawLinks = fetched.select(col("url").as("parent_url"),
          col("page_warc_ts").as("warc_ts"),
          Snapshots.roundOfFile.as("discovered_round"),
          explode(col("out.links")).as("l"))
        .select(col("l.url").as("url"), col("l.depth").as("depth"),
          col("l.priority").as("priority"), col("parent_url"), col("warc_ts"),
          col("discovered_round"))
      newEntryJobs(confirmUnseen(dedupeLinks(rawLinks, robots), seen, bloom),
        expectedUrls, bloom.length)
    }

    /** Link dedupe: the robots gate, then one row per canonical url, with
      * the frontier keys. `links` carries url, priority, warc_ts, depth,
      * parent_url and discovered_round. */
    def dedupeLinks(links: DataFrame,
                    robots: Map[String, Vector[String]]): DataFrame = {
      // robots gate (T3) at ENQUEUE time: blocked urls never enter the
      // frontier or the seen set (default off — ROBOTSTXT_OBEY=False in the
      // reference); gating here keeps the frontier-count arithmetic exact.
      // Native codegen'd expression, not a UDF — this sits on the per-link
      // hot path when enabled.
      val gated =
        if (cfg.obeyRobots && robots.nonEmpty)
          links.filter(robotsAllowed(col("url"), robots))
        else links

      // in-round dedup: one deterministic representative per url (min
      // struct; discovered_round is the same on every row)
      withUrlKeys(gated
        .groupBy(col("url"))
        .agg(min(struct(col("priority"), col("warc_ts"), col("depth"),
          col("parent_url"), col("discovered_round"))).as("m"))
        .select(col("url"), col("m.priority").as("priority"),
          col("m.warc_ts").as("warc_ts"), col("m.depth").as("depth"),
          col("m.parent_url").as("parent_url"),
          col("m.discovered_round").as("discovered_round")))
    }

    /** The deduped links no earlier round has seen: Bloom probe, suspect
      * count, exact confirm of the suspects. */
    private def confirmUnseen(candidates: DataFrame, seen: DataFrame,
                              bloom: Array[Array[Byte]]): DataFrame = {
      // Bloom pre-filter (broadcast probe); suspects confirmed WITHOUT
      // shuffling the seen table in ANY regime (see confirmNew).
      // Zero-suspect rounds (Bloom cleared everything) skip the exact
      // confirm entirely — otherwise every round pays an O(seen) scan for
      // nothing, which grows with crawl age.
      // The count is an EXACT post-dedup count, deliberately: r6 A/B'd an
      // observe()-metric upper bound measured on the fetch write (raw
      // Bloom-positive links, zero extra jobs) and it LOST ~11% end-to-end —
      // the per-link probe taxed the write job 3-6 s/round, and raw-link
      // multiplicity (links to already-crawled pages recur across pages)
      // pushed steady-state rounds over SuspectBloomGate, trading the
      // zero-shuffle broadcast confirm for the O(seen)-scan burst path.
      // The exact count is the dedup shuffle the expansion needs anyway;
      // its job completion here is what keeps the gate decision sharp.
      // The CACHE sits on `probed` (all candidates + flag), not on the
      // suspects slice: one expansion pass — explode, dedup shuffle,
      // Bloom probe — feeds the suspects and the confirm; the count below
      // materializes it.
      val bloomBc = spark.sparkContext.broadcast(bloom)
      val probed = scope.persist(candidates.withColumn("maybe_seen",
        ShardedBloom.mightContainCol(bloomBc, col("url_hash"))))
      val suspects = probed.filter(col("maybe_seen")).drop("maybe_seen")
      // The suspect count is the serial barrier that picks the confirm
      // branch; a burst round (count > SuspectBloomGate) then builds its
      // exactly sized suspect Bloom inside confirmNew (a second scan of
      // the cached `probed`).
      val nSuspects = rowCount(suspects)
      // the confirm filters every candidate in one pass: the Bloom-cleared
      // ones are absent from seen, so they pass the anti join untouched
      if (nSuspects == 0) probed
      else confirmNew(seen, suspects, nSuspects, rows = Some(probed))
    }

    /** New entries → cached frontier rows, plus their side jobs: the delta
      * Bloom (`numShards` shards, the cumulative filter's geometry, so the
      * driver's round-boundary merge is a per-shard OR) and `seen_delta`. */
    def newEntryJobs(fresh: DataFrame, expectedUrls: Long,
                     numShards: Int): Expansion = {
      // url_hash2 rides along ONLY into seen_delta (the confirm pair key);
      // the frontier schema stays url_hash-only
      val newEntries = scope.persist(
        fresh.select(feColsC :+ col("url_hash2"): _*))
      // delta Bloom + new count in ONE small job over the cached delta
      val deltaBloom = scope.future("delta-bloom") {
        ShardedBloom.buildShardsWithCount(newEntries, "url_hash",
          expectedUrls, numShards)
      }
      // seen_delta persisted sorted for parquet min/max range pruning at scale
      scope.future("seen-delta") {
        newEntries.select(col("url_hash"), col("url_hash2"))
          .sortWithinPartitions(col("url_hash"))
          .write.mode("overwrite").parquet(path("seen_delta"))
      }
      Expansion(newEntries, deltaBloom)
    }

    /** Tiered-frontier maintenance: new entries split against each host's
      * backlog minimum, the optimistic head write, and the overflow probe.
      *
      * Invariant to preserve (per host): every backlog entry orders AFTER
      * every head entry in the politeness key, so head-only selection
      * equals full-frontier selection. host_state carries the backlog's
      * per-host MINIMUM key (`bmin`): new entries ranking worse than bmin go
      * straight to the backlog (they must not jump ahead of backlogged
      * work); entries better than bmin compete for the head. All
      * O(head + new) — backlog size irrelevant. */
    def mergeOverflow(remaining: DataFrame, newEntries: DataFrame): Merge =
      scope.phase("merge") {
        // host_state lists backlogged hosts only, so with an empty backlog
        // (exact manifest arithmetic) there is none to read, every new
        // entry competes for the head and the bmin join is skipped. Not
        // cached: a tiny parquet table, cheaper to re-read than to cache
        // and scan.
        val prevHostState =
          if (prev.backlogPending <= 0) None
          else Some(TieredFrontier.readHostState(spark, warehouse, round - 1))
        val (newBetter, newWorse) = prevHostState match {
          case None => (newEntries, None)
          case Some(hs) =>
            val key = TieredFrontier.keyCol
            val newWithMin = newEntries.join(
              hs.filter(col("backlog_count") > 0)
                .select(col("host_hash"), col("bmin")),
              Seq("host_hash"), "left")
            (newWithMin.filter(col("bmin").isNull || key < col("bmin"))
              .drop("bmin"),
              Some(newWithMin.filter(col("bmin").isNotNull && key > col("bmin"))
                .drop("bmin")))
        }

        // merged is NOT cached in the common no-overflow round: a
        // full-row (url + parent_url strings) cache WRITE of the whole next
        // head sat on the round's critical path — measured 2.5-7.3 s/round
        // at the bench shape. Both inputs (`remaining` via the ranked cache,
        // `newBetter` via the newEntries cache) are already cached, so the
        // concurrent head write streams the union straight from those
        // caches, and the overflow probe aggregates host_hash-only cache
        // scans instead of materializing full rows. Overflow rounds
        // (burst/skew) persist merged, where it is consumed several times.
        val merged = remaining.select(feColsC: _*)
          .unionByName(newBetter.select(feColsC: _*))

        // OPTIMISTIC head write: in a no-overflow round — the invariant case
        // for a uniform corpus, since headCap is 8× the politeness budget —
        // merged IS the next head. The write runs as a CONCURRENT job:
        // it overlaps the probe agg and every side future instead of sitting
        // on the critical path (interleaved same-binary A/B at 12k forums,
        // 4×2 executors: 102-107 s concurrent vs 118-120 s serial). Rounds
        // that DO overflow detect it post-launch, await the write, and
        // rewrite the head (refillReconcile) — one wasted bounded parquet
        // job, paid only in rounds that already pay the per-host window.
        // Crash-safety: the scope awaits (or, on failure, cancels and
        // drains) this write before run() returns, and the manifest write is
        // the commit marker, so a half-written head dir in an uncommitted
        // round is invisible to resume.
        val headWrite = scope.future("head") {
          merged.write.mode("overwrite").parquet(path("head"))
        }

        // Overflow probe: a map-side-combined per-host count (≤ one row per
        // active host) instead of an unconditional row_number over the whole
        // merged set — the common round has NO host over headCap, so merged
        // passes straight through and the O(n log n) per-host sort is
        // skipped; only over-cap hosts' rows (burst rounds) pay the window.
        // The counts aggregate the host_hash column of the two CACHED inputs
        // (same multiset as merged, no full-row materialization); the same
        // job counts the remaining head rows, from which the exact selected
        // count follows (selected + remaining = head). They are
        // NOT cached before the probe: the probe may be the first reader of
        // newEntries, and a thread building a cache layered on newEntries
        // while another thread's newEntries build fails deadlocks the
        // driver (Spark clears the dependent caches under the failing
        // cache's lock) instead of failing the round. Only burst rounds
        // cache the over-cap hosts, once the probe has built newEntries.
        def hostRows(df: DataFrame, remainingRow: Long) =
          df.select(col("host_hash"), lit(1L).as("n"), lit(remainingRow).as("r"))
        val (remainingCount, maxPerHost) = perKeySums(
            hostRows(remaining, 1L).unionByName(hostRows(newBetter, 0L)))(
          _.values.aggregate((0L, 0L))(
            { case ((r, mx), Array(n, nr)) => (r + nr, math.max(mx, n)) },
            { case ((r1, m1), (r2, m2)) => (r1 + r2, math.max(m1, m2)) }))
        // the per-host counts again, for the burst and refill paths
        val mergedCounts = remaining.select(col("host_hash"))
          .unionByName(newBetter.select(col("host_hash")))
          .groupBy(col("host_hash"))
          .agg(count(lit(1)).as("n"))
        val (kept, overflow) =
          if (maxPerHost <= headCap) (merged, None)
          else {
            val overHosts = scope.persist(
              mergedCounts.filter(col("n") > headCap).select("host_hash"))
            val mp = scope.persist(merged)
            // AQE broadcasts overHosts when few hosts burst (the usual case)
            val over = scope.persist(
              mp.join(overHosts, Seq("host_hash"), "left_semi")
                .withColumn("rn", row_number().over(TieredFrontier.hostWindow)))
            (mp.join(overHosts, Seq("host_hash"), "left_anti")
              .unionByName(over.filter(col("rn") <= headCap).drop("rn")),
              Some(over.filter(col("rn") > headCap).drop("rn")))
          }
        Merge(prevHostState, newWorse, kept, overflow, mergedCounts,
          remainingCount, headWrite)
      }

    /** Refill hosts whose kept head dropped below the budget but still have
      * backlog (per the PREVIOUS round's host_state — overflow needs
      * merged > headCap ≥ budget, so overflow and refill hosts are
      * disjoint), then reconcile the optimistic head write. The backlog
      * scan is pruned to the refilling hosts' buckets; this round's
      * `newWorse` joins the refill pool so a fresh link can still be
      * promoted if it outranks the backlog. */
    def refillReconcile(m: Merge): Refill = scope.phase("refill") {
      // Driver-side shortcut: a backlog-less crawl (the common steady
      // shape here) has no previous host_state (see mergeOverflow) and
      // skips the whole refill decision — no keptCounts aggregation, no
      // collect, no backlog read: two serial jobs gone from every such round.
      val needs = m.prevHostState.map { hs =>
        val keptCounts =
          if (m.noOverflow) m.mergedCounts.select(col("host_hash"),
            col("n").as("head_n"))
          else m.kept.groupBy(col("host_hash"))
            .agg(count(lit(1)).as("head_n"))
        scope.persist(hs.filter(col("backlog_count") > 0)
          .join(keptCounts, Seq("host_hash"), "left")
          .select(col("host_hash"),
            coalesce(col("head_n"), lit(0L)).as("head_n"))
          .filter(col("head_n") < cfg.perHostBudget)
          .withColumn("need", lit(headCap.toLong) - col("head_n")))
      }
      val picks = needs.flatMap { rn =>
        val buckets = rn.select(hostBucketCol(col("host_hash")).as("b"))
          .distinct().collect().map(_.getInt(0)).toSeq.sorted
        if (buckets.isEmpty) None
        else TieredFrontier.readBacklogPending(spark, warehouse,
          prev.baseRound, round - 1, Some(buckets)).map(pick(_, rn, m.newWorse))
      }

      // Reconcile the optimistic head write. Three cases:
      //  - no overflow, no refill (the common round): merged already IS the
      //    head on disk (once the head write lands) — nothing to do;
      //  - no overflow + refill picks: the promoted rows APPEND to the head
      //    dir (kept ≡ merged is already there) — the in-flight optimistic
      //    write must finish first so the append sees a settled dir;
      //  - overflow: rewrite the head as kept ∪ picks (the one wasted
      //    optimistic write — bounded, burst-rounds-only) — likewise only
      //    after the in-flight write, or overwrite-vs-write would race on
      //    the same directory.
      if (!m.noOverflow) {
        scope.await(m.headWrite)
        picks.map(p => m.kept.unionByName(p.rows.select(feColsC: _*)))
          .getOrElse(m.kept)
          .write.mode("overwrite").parquet(path("head"))
      } else picks.foreach { p =>
        scope.await(m.headWrite)
        p.rows.select(feColsC: _*).write.mode("append").parquet(path("head"))
      }
      Refill(needs, picks)
    }

    /** The refill pool ranked per host against each host's `need`. */
    private def pick(backlog: DataFrame, needs: DataFrame,
                     newWorse: Option[DataFrame]): Picks = {
      // map-side partial top-k: only the best rows per (input partition,
      // host) reach the exact window — the refill shuffle is
      // O(headCap × refill hosts), not O(backlog). Keep headCap+1 so rank
      // need+1 (the next backlog minimum) always survives.
      val fromBacklog = TieredFrontier.localTopKPerHost(
          backlog.select(feColsC: _*), headCap + 1)
        .select(feColsC :+ lit(true).as("from_backlog"): _*)
      val pool = newWorse.fold(fromBacklog)(nw => fromBacklog.unionByName(
        nw.select(feColsC :+ lit(false).as("from_backlog"): _*)))
      val pranked = scope.persist(pool
        .join(needs.select("host_hash", "need"), Seq("host_hash"))
        .withColumn("rn", row_number().over(TieredFrontier.hostWindow)))
      val rows = pranked.filter(col("rn") <= col("need"))
      val rm = scope.persist(rows.filter(col("from_backlog"))
        .select("url_hash", "host_hash"))
      // pool rank need+1 = the refilled host's NEW backlog minimum
      // (accounts for both surviving backlog and unpicked new entries);
      // rmCount is bookkeeping-only (pending arithmetic at the end), so it
      // runs as a concurrent job, never a barrier before the head reconcile
      Picks(rows, rm,
        pranked.filter(col("rn") === col("need") + 1)
          .select(col("host_hash"), TieredFrontier.keyCol.as("bmin_next")),
        scope.future("refill-count")(rowCount(rm)))
    }

    /** host_state' = host_state + this round's backlog adds − refill picks,
      * with each host's new backlog minimum. `prevHostState` is None when
      * no host was backlogged before this round (hence no refill either). */
    private def writeHostState(backlogAdd: DataFrame,
                               prevHostState: Option[DataFrame],
                               r: Refill): Unit = {
      val addStats = backlogAdd.groupBy(col("host_hash"))
        .agg(count(lit(1)).as("d_add"),
          min(TieredFrontier.keyCol).as("add_min"))
      val st0 = prevHostState.fold(addStats
          .withColumn("backlog_count", lit(0L))
          .withColumn("bmin", lit(null).cast(TieredFrontier.keyType)))(
        _.join(addStats, Seq("host_hash"), "full_outer"))
      val st = r.picks match {
        case Some(p) => st0
          .join(p.rm.groupBy(col("host_hash")).agg(count(lit(1)).as("d_rm")),
            Seq("host_hash"), "full_outer")
          .join(p.nextMin, Seq("host_hash"), "full_outer")
        case None => st0.withColumn("d_rm", lit(0L))
          .withColumn("bmin_next", lit(null).cast(TieredFrontier.keyType))
      }
      // refilled hosts get the freshly-scanned minimum (null = drained;
      // already covers entries added this round — they were in the pool);
      // everyone else keeps least(old bmin, this round's added minimum)
      val withRefilled = r.needs match {
        case Some(rn) => st.join(rn.select(col("host_hash"),
          lit(true).as("was_refilled")), Seq("host_hash"), "left")
        case None => st.withColumn("was_refilled", lit(false))
      }
      withRefilled
        .select(col("host_hash"),
          (coalesce(col("backlog_count"), lit(0L)) +
            coalesce(col("d_add"), lit(0L)) -
            coalesce(col("d_rm"), lit(0L))).as("backlog_count"),
          when(coalesce(col("was_refilled"), lit(false)), col("bmin_next"))
            .otherwise(least(col("bmin"), col("add_min"))).as("bmin"))
        .filter(col("backlog_count") > 0)
        .coalesce(1) // tiny table; one valid footer even when empty
        .write.mode("overwrite").parquet(path("host_state"))
    }

    /** Backlog deltas + host-state upkeep off the critical path. host_state
      * is written only when the backlog is in use this round (a head
      * overflow, or a backlog carried in), so a backlog-less round writes
      * none. Returns the future count of rows added to the backlog. */
    def backlogWrites(m: Merge, r: Refill): Future[Long] = {
      // backlog additions: head overflow + new entries that rank behind the
      // backlog minimum, MINUS any promoted during refill; None when both
      // are known empty (no overflow, no backlog — the common round)
      val worseKept = m.newWorse.map { nw =>
        val w = nw.select(feColsC: _*)
        r.picks.fold(w)(p => w.join(p.rows.filter(!col("from_backlog"))
          .select("url_hash"), Seq("url_hash"), "left_anti"))
      }
      val backlogAdd = (m.overflow.toSeq ++ worseKept).reduceOption(_ unionByName _)
        .map(a => scope.persist(
          a.withColumn("host_bucket", hostBucketCol(col("host_hash")))))

      // the overflow count (bookkeeping) rides the same future as the
      // write — never a serial job between the head write and the side jobs
      val backlogWrite = scope.future("backlog") {
        val overflowCount = backlogAdd.fold(0L)(rowCount)
        if (overflowCount > 0)
          backlogAdd.get.write.mode("overwrite").partitionBy("host_bucket")
            .parquet(path("backlog_add"))
        r.picks.foreach(_.rm.write.mode("overwrite").parquet(path("backlog_rm")))
        overflowCount
      }
      // no adds means no backlog before or after this round (nor a refill,
      // which needs one): no host_state to write
      backlogAdd.foreach(add => scope.future("host-state")(
        writeHostState(add, m.prevHostState, r)))
      backlogWrite
    }

    /** The round's side writes, then its manifest and delta Bloom — all
      * counts arithmetic, no count jobs on big tables. */
    def sideWrites(fetch: Fetch, exp: Expansion, m: Merge, r: Refill
                  ): (Snapshots.Manifest, Array[Array[Byte]]) =
      scope.phase("side-writes") {
        val backlogWrite = backlogWrites(m, r)

        // selected + remaining = head (exact manifest arithmetic)
        val selectedCount = prev.headCount - m.remainingCount
        val lineageRows = scope.await(fetch.lineage)
        val fetchedCount = lineageRows.map(_._2).sum
        val discoveredCount = lineageRows.map(_._3).sum
        // Contract: `pages` has unique (host_bucket, url) rows — the corpus
        // writer guarantees it and the generator derives urls from unique
        // ids. A duplicate page row would multiply join hits and drive this
        // negative, silently corrupting the driver loop's termination
        // arithmetic, so fail loudly instead.
        val errorCount = selectedCount - fetchedCount
        require(errorCount >= 0,
          s"round $round: fetched ($fetchedCount) > selected ($selectedCount); " +
            "pages table violates the unique-(host_bucket,url) contract")
        val (delta, newCount) = scope.await(exp.deltaBloom)
        val dedupedCount = discoveredCount - newCount
        val lineage = lineageRows.map { case (pid, pages, _) =>
          PartitionLineage(round, pid, pages, 0L, 0L) } :+
          PartitionLineage(round, -1, 0L, dedupedCount, errorCount)

        // the remaining side writes (misses, seen_delta, head, host_state)
        // are awaited by the scope before run() returns — the caller's
        // manifest commit makes this round visible to resume
        (nextManifest(selectedCount, fetchedCount, errorCount, dedupedCount,
          newCount, scope.await(backlogWrite),
          r.picks.fold(0L)(p => scope.await(p.rmCount)), lineage), delta)
      }

    /** This round's manifest from the previous one and the round's counts:
      * `overflow` rows were added to the backlog and `removed` promoted out
      * of it; pending' = pending − selected + new. */
    def nextManifest(selected: Long, fetched: Long, errors: Long,
                     deduped: Long, newCount: Long, overflow: Long,
                     removed: Long, lineage: Seq[PartitionLineage]
                    ): Snapshots.Manifest = {
      val pending = prev.frontierCount - selected + newCount
      val backlogPending = prev.backlogPending + overflow - removed
      Snapshots.Manifest(round, round - 1, pending, newCount, fetched, errors,
        deduped, lineage, headCount = pending - backlogPending,
        backlogPending = backlogPending,
        backlogPhysRows = prev.backlogPhysRows + overflow,
        baseRound = prev.baseRound)
    }
  }
}
