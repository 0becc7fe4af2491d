package graft

import graft.analytics.TiebaAnalytics
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2 operator inventory as runnable queries over the driver's
  * testdata tables, each with (where SQL-expressible) a DuckDB oracle —
  * the driver's correctness gate. Naming keys map to SURVEY §2 operator
  * ids. Aliases in Spark code and SQL are kept identical (the driver's
  * compare sorts columns by name).
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** documents reshaped as a replies-like table for the reference's
    * analytics operators. */
  private def repliesLike(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id").cast("string").as("post_id"),
      col("doc_id").cast("string").as("reply_id"),
      col("text").as("content"),
      lit("0").as("comment_num"))

  private val ContainTerms = Seq("spark", "merge", "window", "customer")

  /** GoldenValues pins exact outputs computed over the sf0.01 tables
    * (500 documents). A golden query fed another scale would fail the
    * driver's hash gate with a misleading "values differ" — fail fast with
    * the real cause instead. Parquet row count comes from footer metadata,
    * so the probe is one tiny job. */
  private val GoldenPinnedDocRows = 500L
  private def goldenScaleDocs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    // Bench times these queries at sf0.1 (the golden is only the oracle
    // side; the computation is real at any scale) — it sets this property
    // to skip the correctness-context check
    if (!sys.props.get("graft.golden.sfcheck").contains("off")) {
      val n = d.count()
      require(n == GoldenPinnedDocRows,
        s"golden oracles are pinned at sf0.01 ($GoldenPinnedDocRows documents); " +
          s"'$dir' has $n — regenerate GoldenValues via tools/gen_goldens.py " +
          "(see README) before gating at this scale")
    }
    d
  }

  /** documents ∪ perturbed near-copies (first token dropped), so near-dup
    * operators always have true positives to find. */
  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val perturbed = d.filter(col("doc_id") < 10)
      .select((col("doc_id") + 100000).as("doc_id"),
        // drop the first word: high n-gram Jaccard, not exact-equal
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    d.unionByName(perturbed)
  }

  private def embWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val perturbed = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    e.unionByName(perturbed)
  }

  // ======================================================================
  // queries with DuckDB oracles
  // ======================================================================

  private val oracleBacked: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(

    // A1: grouped count
    "q_a1_grouped_count" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "events").groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt")),
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type")),

    // A1/A2/P9/O3: token explode → grouped count → top-10 (det. tiebreak)
    "q_a2_token_topk" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 1)
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok")).limit(10),
      """SELECT tok, cnt FROM (
        |  SELECT t.tok AS tok, count(*) AS cnt
        |  FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
        |  WHERE length(t.tok) > 1 GROUP BY t.tok)
        |ORDER BY cnt DESC, tok LIMIT 10""".stripMargin)),

    // the reference's REAL keyword pipeline: per-doc top-5 keywords
    // (freq desc, token asc), len>1 filter, global top-10 (A1+A2+P9+O3)
    "q_a2_keyword_top10" -> ((
      (s: SparkSession, dir: String) =>
        TiebaAnalytics.keywordTop10(repliesLike(s, dir)),
      """WITH tokcnt AS (
        |  SELECT d.doc_id, t.tok, count(*) AS c
        |  FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(tok)
        |  WHERE length(t.tok) > 0 GROUP BY d.doc_id, t.tok),
        |top5 AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, tok,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, tok) AS rn
        |    FROM tokcnt) WHERE rn <= 5)
        |SELECT keyword, cnt FROM (
        |  SELECT tok AS keyword, count(*) AS cnt FROM top5
        |  WHERE length(tok) > 1 GROUP BY tok)
        |ORDER BY cnt DESC, keyword LIMIT 10""".stripMargin)),

    // A3: bucket counts (integer thresholds)
    "q_a3_bucket_counts" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "documents")
          .select(when(col("n_chars") > 400, "positive")
            .when(col("n_chars") < 150, "negative")
            .otherwise("neutral").as("label"))
          .groupBy(col("label")).agg(count(lit(1)).as("cnt")),
      """SELECT CASE WHEN n_chars > 400 THEN 'positive'
        |            WHEN n_chars < 150 THEN 'negative'
        |            ELSE 'neutral' END AS label, count(*) AS cnt
        |FROM documents GROUP BY 1""".stripMargin)),

    // A6/U1: per-user distinct-set aggregation (canonical string form)
    "q_a6_collect_set" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "events").groupBy(col("user_id"))
          .agg(array_join(array_sort(collect_set(col("event_type"))), ",")
            .as("types")),
      """SELECT user_id, string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
        |FROM events GROUP BY user_id""".stripMargin)),

    // A7: order-sensitive grouped concat (pinned total order)
    "q_a7_ordered_concat" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "documents").groupBy(col("source"))
          .agg(concat_ws(",",
            transform(array_sort(collect_list(col("doc_id"))),
              x => x.cast("string"))).as("ids")),
      """SELECT source, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS ids
        |FROM documents GROUP BY source""".stripMargin)),

    // J1: parent-child equi-join + grouped sum (integral doubles: exact)
    "q_j1_parent_child" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "lineitem").join(t(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("l_quantity")).as("sum_qty"),
            count(lit(1)).as("cnt")),
      """SELECT o_orderpriority, sum(l_quantity) AS sum_qty, count(*) AS cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin)),

    // J2/J3: substring-containment theta-join, small side broadcast
    "q_j2_containment_join" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val terms = ContainTerms.toDF("term")
        broadcast(terms).join(t(s, dir, "documents"),
            col("text").contains(col("term")), "left")
          .groupBy(col("term")).agg(count(col("doc_id")).as("cnt"))
      },
      s"""SELECT t.term, count(d.doc_id) AS cnt
         |FROM (VALUES ${ContainTerms.map(x => s"('$x')").mkString(", ")}) t(term)
         |LEFT JOIN documents d ON d.text LIKE '%' || t.term || '%'
         |GROUP BY t.term""".stripMargin)),

    // J3/A8/U2/O6: the keyword-frequency search operator itself
    "q_j3_keyword_search" -> ((
      (s: SparkSession, dir: String) =>
        TiebaAnalytics.keywordFrequency(repliesLike(s, dir),
          Seq("spark", "spark", "scan", "zebra", "row")),
      """SELECT t.term, count(d.doc_id) AS cnt
        |FROM (VALUES ('spark'), ('scan'), ('zebra'), ('row')) t(term)
        |LEFT JOIN documents d ON d.text LIKE '%' || t.term || '%'
        |GROUP BY t.term""".stripMargin)),

    // KeywordSearchData.get (views.py:301-320): pandas str.contains is
    // REGEX containment — distinct from q_j3's substring semantics; one
    // streamed pass, terms broadcast, zero-count terms preserved
    "q_chart_keyword_freq" -> ((
      (s: SparkSession, dir: String) =>
        graft.analytics.ChartDisplay.keywordFrequencyDF(repliesLike(s, dir),
          Seq("spark", "spark", "merge.*window", "zzz_absent", "da[tn]a")),
      """SELECT t.keyword, count(d.text) AS cnt
        |FROM (VALUES ('spark'), ('merge.*window'), ('zzz_absent'),
        |             ('da[tn]a')) t(keyword)
        |LEFT JOIN documents d
        |  ON d.text IS NOT NULL AND d.text <> ''
        |  AND regexp_matches(d.text, t.keyword)
        |GROUP BY t.keyword""".stripMargin)),

    // J5: URL-seen anti-join shape
    "q_j5_seen_antijoin" -> ((
      (s: SparkSession, dir: String) => {
        val seen = t(s, dir, "orders").filter(col("o_totalprice") > 150000)
          .select(col("o_custkey"))
        t(s, dir, "customer").join(seen, col("c_custkey") === col("o_custkey"),
            "left_anti")
          .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("cnt"))
      },
      """SELECT c_mktsegment, count(*) AS cnt FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_totalprice > 150000 AND o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment""".stripMargin)),

    // J6: fetch-as-left-join with miss rows
    "q_j6_fetch_left_join" -> ((
      (s: SparkSession, dir: String) => {
        val pagesLike = t(s, dir, "customer").filter(col("c_acctbal") > 0)
          .select(col("c_custkey"), col("c_name"))
        t(s, dir, "orders").join(pagesLike,
            col("o_custkey") === col("c_custkey"), "left")
          .select(when(col("c_name").isNull, "miss").otherwise("fetched")
            .as("status"))
          .groupBy(col("status")).agg(count(lit(1)).as("cnt"))
      },
      """SELECT CASE WHEN c.c_name IS NULL THEN 'miss' ELSE 'fetched' END AS status,
        |       count(*) AS cnt
        |FROM orders o LEFT JOIN (SELECT c_custkey, c_name FROM customer
        |  WHERE c_acctbal > 0) c ON o.o_custkey = c.c_custkey
        |GROUP BY 1""".stripMargin)),

    // S7/J4/A5: incremental count upsert (merge-agg of existing ⊎ delta)
    "q_s7_count_upsert" -> ((
      (s: SparkSession, dir: String) => {
        val ev = t(s, dir, "events")
        val split = "2024-01-15"
        val existing = ev.filter(col("ts") < lit(split).cast("timestamp"))
          .groupBy(col("event_type").as("tieba")).agg(count(lit(1)).as("cnt"))
        val delta = ev.filter(col("ts") >= lit(split).cast("timestamp"))
          .groupBy(col("event_type").as("tieba")).agg(count(lit(1)).as("cnt"))
        TiebaAnalytics.countUpsert(existing, delta)
      },
      """SELECT tieba, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
        |  SELECT event_type AS tieba, count(*) AS cnt FROM events
        |    WHERE ts < TIMESTAMP '2024-01-15' GROUP BY 1
        |  UNION ALL
        |  SELECT event_type AS tieba, count(*) AS cnt FROM events
        |    WHERE ts >= TIMESTAMP '2024-01-15' GROUP BY 1)
        |GROUP BY tieba""".stripMargin)),

    // W1: the politeness window — first-k per group in a total order
    "q_w1_host_budget_rank" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        t(s, dir, "events").withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("user_id"), col("event_id"), col("rn"))
      },
      """SELECT user_id, event_id, rn FROM (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn <= 3""".stripMargin)),

    // W3: top-n per group
    "q_w3_topn_per_group" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy(col("p_brand"))
          .orderBy(col("p_retailprice").desc, col("p_partkey"))
        t(s, dir, "part").withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select(col("p_brand"), col("p_partkey"), col("rn"))
      },
      """SELECT p_brand, p_partkey, rn FROM (
        |  SELECT p_brand, p_partkey, row_number() OVER (
        |    PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part) WHERE rn <= 2""".stripMargin)),

    // O1/O2: sorted top-20 display slice (int-cast sort key, pinned ties)
    "q_o1_top20_sorted" -> ((
      (s: SparkSession, dir: String) =>
        TiebaAnalytics.topForums(
          t(s, dir, "documents").groupBy(col("source").as("tieba"))
            .agg(count(lit(1)).as("cnt")), top = 20),
      """SELECT source AS tieba, count(*) AS cnt FROM documents GROUP BY source
        |ORDER BY CAST(count(*) AS INT) DESC, source LIMIT 20""".stripMargin)),

    // U1: union + distinct
    "q_u1_union_distinct" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
          .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
          .distinct(),
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin)),

    // U3: dedup via distinct
    "q_u3_dedup_distinct" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus"))
          .distinct(),
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),

    // P5/P6: date-range OR-gate pruning
    "q_p5_date_or_gate" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "lineitem").filter(
            (col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-04-01").cast("timestamp")) ||
              (col("l_quantity") >= 45))
          .groupBy(col("l_returnflag")).agg(count(lit(1)).as("cnt")),
      """SELECT l_returnflag, count(*) AS cnt FROM lineitem
        |WHERE (l_shipdate >= TIMESTAMP '1996-01-01' AND
        |       l_shipdate < TIMESTAMP '1996-04-01') OR l_quantity >= 45
        |GROUP BY l_returnflag""".stripMargin)),

    // P7/P12: null + blank filters
    "q_p7_p12_null_blank" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "documents").na.drop(Seq("text"))
          .filter(trim(col("text")) =!= "")
          .groupBy(col("lang")).agg(count(lit(1)).as("cnt")),
      """SELECT lang, count(*) AS cnt FROM documents
        |WHERE text IS NOT NULL AND trim(text) <> '' GROUP BY lang""".stripMargin)),

    // F1-F7/F12: string/cast function battery
    "q_f_string_funcs" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "part").select(
          col("p_partkey"),
          lower(col("p_name")).as("lname"),
          upper(col("p_brand")).as("ubrand"),
          substring(col("p_type"), 1, 5).as("type5"),
          lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
          translate(col("p_type"), "ae", "xy").as("type_tr"),
          concat_ws("_", col("p_brand"), col("p_type")).as("brand_type"),
          split(col("p_type"), " ").getItem(0).as("type_head"),
          col("p_size").cast("long").as("size_long")),
      """SELECT p_partkey, lower(p_name) AS lname, upper(p_brand) AS ubrand,
        |  substring(p_type, 1, 5) AS type5,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        |  translate(p_type, 'ae', 'xy') AS type_tr,
        |  concat_ws('_', p_brand, p_type) AS brand_type,
        |  string_split(p_type, ' ')[1] AS type_head,
        |  CAST(p_size AS BIGINT) AS size_long
        |FROM part""".stripMargin)),

    // F11: date functions (trunc / add_months / format)
    "q_f11_date_funcs" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "events").select(
            date_trunc("hour", col("ts")).as("hour_start"),
            date_format(add_months(col("ts").cast("date"), 1), "yyyy-MM-dd")
              .as("next_month_day"),
            date_format(col("ts"), "yyyy-MM").as("month_str"))
          .groupBy(col("hour_start"), col("next_month_day"), col("month_str"))
          .agg(count(lit(1)).as("cnt")),
      """SELECT date_trunc('hour', ts) AS hour_start,
        |  strftime(CAST(ts AS DATE) + INTERVAL 1 MONTH, '%Y-%m-%d') AS next_month_day,
        |  strftime(ts, '%Y-%m') AS month_str, count(*) AS cnt
        |FROM events GROUP BY 1, 2, 3""".stripMargin)),

    // F13: embedded-JSON field extraction
    "q_f13_json_extract" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "events")
          .select((get_json_object(col("props"), "$.k").cast("long") % 10)
            .as("k_bucket"))
          .groupBy(col("k_bucket")).agg(count(lit(1)).as("cnt")),
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
        |       count(*) AS cnt
        |FROM events GROUP BY 1""".stripMargin)),

    // F8: chained regex HTML-clean (the weibo chain shape)
    "q_f8_regex_clean" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "documents").select(col("doc_id"),
          regexp_replace(regexp_replace(regexp_replace(
              concat(lit("<span class=\"x\">"), col("text"),
                lit("</span><br/><img src=\"t.png\">")),
              "<br\\s*/>", ""),
            "<img(.*?)>", ""),
          "</?span[^>]*>", "").as("cleaned")),
      """SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |  '<span class="x">' || text || '</span><br/><img src="t.png">',
        |  '<br\s*/>', '', 'g'), '<img(.*?)>', '', 'g'),
        |  '</?span[^>]*>', '', 'g') AS cleaned
        |FROM documents""".stripMargin)),

    // S6/S8/S10: python-byte-compat CSV write → explicit-schema CSV scan →
    // aggregate; the oracle aggregates the ORIGINAL parquet, so any byte
    // lost or altered by the CSV encode/decode of arbitrary document text
    // (quotes, commas, newlines, CJK) shifts cnt or sum(length) and fails
    "q_s8_csv_roundtrip" -> ((
      (s: SparkSession, dir: String) => {
        val docs = t(s, dir, "documents").select(
          col("doc_id").cast("string").as("post_id"),
          col("lang").as("reply_id"),
          col("text").as("content"),
          lit("0").as("comment_num"))
        val dest = java.nio.file.Files
          .createTempDirectory("graft-csvq").toString + "/replies.csv"
        graft.sources.CsvCompat.writeReplies(docs, dest)
        graft.sources.CsvCompat.readReplies(s, dest)
          .groupBy(col("reply_id").as("lang"))
          .agg(count(lit(1)).as("cnt"),
            sum(length(col("content"))).as("total_chars"))
      },
      """SELECT lang, count(*) AS cnt,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang""".stripMargin)),

    // exact dedup: content-hash groupBy (md5 for oracle comparability)
    "q_dedup_exact" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "documents")
          .groupBy(md5(col("text").cast("binary")).as("content_md5"))
          .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("dup_count")),
      """SELECT md5(text) AS content_md5, min(doc_id) AS keeper_id,
        |       count(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin)),

    // language-ID heuristic (shared integer formula)
    "q_text_langid" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "documents")
          .select(col("lang"), TextOps.langId(col("text")).as("lang_guess"))
          .groupBy(col("lang"), col("lang_guess")).agg(count(lit(1)).as("cnt")),
      """SELECT lang,
        |  CASE WHEN length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) * 4 > length(text) THEN 'zh'
        |       WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 2 > length(text) THEN 'en'
        |       ELSE 'und' END AS lang_guess,
        |  count(*) AS cnt
        |FROM documents GROUP BY 1, 2""".stripMargin)),

    // token counting: whitespace + BPE-ish subwords (integer-exact)
    "q_text_token_counts" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "documents").select(col("doc_id"),
          TextOps.wsTokenCount(col("text")).as("ws_tokens"),
          TextOps.subwordCount(col("text")).as("subwords"),
          length(col("text")).as("n_chars_check")),
      s"""SELECT doc_id,
         |  len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS ws_tokens,
         |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[\\x{4e00}-\\x{9fff}]|[^A-Za-z0-9\\x{4e00}-\\x{9fff}\\s]')) AS subwords,
         |  length(text) AS n_chars_check
         |FROM documents""".stripMargin)),

    // quality scoring: integer features + bucket
    "q_text_quality" -> ((
      (s: SparkSession, dir: String) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"),
            TextOps.wsTokenCount(col("text")).as("n_tokens"),
            TextOps.punctCount(col("text")).as("n_punct"))
        d.select(col("doc_id"),
          TextOps.qualityBucket(col("n_chars"), col("n_tokens"),
            col("n_punct")).as("quality"))
          .groupBy(col("quality")).agg(count(lit(1)).as("cnt"))
      },
      """SELECT CASE WHEN n_chars < 100 THEN 'too_short'
        |            WHEN n_punct * 5 > n_chars THEN 'punct_heavy'
        |            WHEN n_tokens < 10 THEN 'low_token'
        |            ELSE 'ok' END AS quality, count(*) AS cnt
        |FROM (SELECT n_chars,
        |        len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS n_tokens,
        |        length(text) - length(regexp_replace(text, '[[:punct:]。，！？]', '', 'g')) AS n_punct
        |      FROM documents)
        |GROUP BY 1""".stripMargin)),

    // PII redaction: email/IPv4/CN-mobile scrub as codegen'd regexp chains
    // over the corpus ∪ planted PII rows (the synthetic docs carry no PII,
    // so positives are injected deterministically — both sides identically)
    "q_text_pii_redact" -> ((
      (s: SparkSession, dir: String) => {
        val planted = s.createDataFrame(Seq(
          (1000001L, "contact me at a.b-c@test-mail.com or via 13812345678 thanks"),
          (1000002L, "server 192.168.0.1 and 10.0.255.254 serve mail@ex.org twice: mail@ex.org"),
          (1000003L, "no pii here, just 12345 and a plain sentence.")
        )).toDF("doc_id", "text")
        t(s, dir, "documents").select(col("doc_id"), col("text"))
          .unionByName(planted)
          .select(col("doc_id"),
            regexp_count(col("text"), lit(TextOps.EmailRe)).as("n_emails"),
            regexp_count(col("text"), lit(TextOps.Ipv4Re)).as("n_ips"),
            regexp_count(col("text"), lit(TextOps.CnMobileRe)).as("n_phones"),
            TextOps.redactPii(col("text")).as("redacted"))
      },
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (1000001, 'contact me at a.b-c@test-mail.com or via 13812345678 thanks'),
        |    (1000002, 'server 192.168.0.1 and 10.0.255.254 serve mail@ex.org twice: mail@ex.org'),
        |    (1000003, 'no pii here, just 12345 and a plain sentence.')
        |  ) v(doc_id, text)
        |)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text, '\b\d{1,3}(\.\d{1,3}){3}\b')) AS n_ips,
        |  len(regexp_extract_all(text, '\b1[3-9]\d{9}\b')) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
        |    '\b1[3-9]\d{9}\b', '<PHONE>', 'g') AS redacted
        |FROM src""".stripMargin)),

    // test-set decontamination: 13-gram overlap vs a (planted) benchmark
    // table — benchmark grams broadcast, corpus never shuffled (Dedup)
    "q_decontaminate" -> ((
      (s: SparkSession, dir: String) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val bench = docs.filter(col("doc_id") < 5).select(col("text"))
        Dedup.decontaminate(docs, "text", "doc_id", bench, "text")
      },
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 11),
        |                             i -> array_to_string(toks[i:i+12], ' '))
        |    END)) AS g
        |  FROM tok
        |), bgrams AS (SELECT DISTINCT g FROM grams WHERE doc_id < 5)
        |SELECT doc_id, count(*) AS shared_grams
        |FROM grams JOIN bgrams USING (g)
        |GROUP BY 1""".stripMargin)),

    // F18: percentage display (analysis.tieba.display.js:152-153 renders
    // round(cnt/total*100, 1)); integer-exact re-expression as floor
    // tenths-of-a-percent (documented deviation: floor vs JS round — the
    // display rounding is presentation-side, the operator is the ratio)
    "q_f18_percentage" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "events").groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("event_type"), col("cnt"),
            expr("cnt * 1000 DIV sum(cnt) OVER ()").as("pct_tenths")),
      """SELECT event_type, cnt,
        |  CAST(cnt * 1000 // SUM(cnt) OVER () AS BIGINT) AS pct_tenths
        |FROM (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1)""".stripMargin)),

    // Gopher/C4 pre-training quality gates: per-doc integer metrics + the
    // keep conjunction, all codegen'd column algebra (TextOps)
    "q_text_gopher_c4" -> ((
      (s: SparkSession, dir: String) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"),
          TextOps.wsTokenCount(col("text")).as("n_words"),
          TextOps.tokenCharCount(col("text")).as("sum_len"),
          TextOps.symbolCount(col("text")).as("n_symbols"),
          TextOps.alphaTokenCount(col("text")).as("n_alpha"),
          TextOps.stopwordCount(col("text")).as("n_stop"),
          TextOps.distinctTokenCount(col("text")).as("n_distinct"),
          TextOps.sentenceCount(col("text")).as("n_sentences"))
        d.select(col("doc_id"), col("n_words"), col("n_alpha"),
          col("n_distinct"), col("n_sentences"),
          TextOps.gopherC4Keep(col("text"), col("n_words"), col("sum_len"),
            col("n_symbols"), col("n_alpha"), col("n_stop"),
            col("n_distinct"), col("n_sentences")).as("keep"))
      },
      """SELECT doc_id, n_words, n_alpha, n_distinct, n_sentences,
        |  (n_words BETWEEN 50 AND 100000
        |   AND 3*n_words <= sum_len AND sum_len <= 10*n_words
        |   AND 10*n_symbols < n_words
        |   AND 5*n_alpha >= 4*n_words
        |   AND n_stop >= 2
        |   AND 10*n_distinct >= 7*n_words
        |   AND n_sentences >= 3
        |   AND NOT contains(text, '{')
        |   AND NOT contains(lower(text), 'lorem ipsum')
        |   AND regexp_matches(text, '[.!?。！？]"?$')) AS keep
        |FROM (SELECT doc_id, text,
        |   len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS n_words,
        |   length(replace(text, ' ', '')) AS sum_len,
        |   len(regexp_extract_all(text, '[#…]')) AS n_symbols,
        |   len(list_filter(string_split(text, ' '), x -> regexp_matches(x, '[A-Za-z\x{4e00}-\x{9fff}]'))) AS n_alpha,
        |   len(list_filter(string_split(lower(text), ' '), x -> x IN ('the','a','of','to','and','is','in','的','了','是'))) AS n_stop,
        |   len(list_distinct(list_filter(string_split(text, ' '), x -> len(x) > 0))) AS n_distinct,
        |   len(regexp_extract_all(text, '[.!?。！？]')) AS n_sentences
        | FROM documents)""".stripMargin))
  )

  // ======================================================================
  // near-dup / ANN family: DuckDB computes the EXACT answer (all-pairs
  // Jaccard / cosine in SQL); the engine's LSH paths are parameterized for
  // recall 1 on this corpus (validated empirically at the gate scale), so
  // approximate-by-construction operators still face a hard oracle.
  // ======================================================================

  /** DuckDB SQL for docsWithNearDups (same perturbation as the Spark side). */
  private val DocsNearDupSql =
    """docs2 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id,
      |         substr(text, strpos(text, ' ') + 1) AS text
      |  FROM documents WHERE doc_id < 10)""".stripMargin

  /** DuckDB SQL computing distinct 3-gram word shingles per doc (same
    * kernel as [[Dedup.shingles]]: whitespace split, <3 tokens → the
    * single joined-token shingle). */
  private def shinglesSql(src: String): String =
    s"""sh AS (
       |  SELECT doc_id, list_distinct(
       |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |         ELSE list_transform(range(1, len(toks) - 1),
       |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       |    END) AS s
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(text, '\\s+'),
       |                      x -> len(x) > 0) AS toks
       |        FROM $src))""".stripMargin

  /** Exact-Jaccard pair join ≥ threshold over the `sh` CTE. */
  private def jaccardPairsSql(threshold: Double): String =
    s"""SELECT id_a, id_b, jaccard FROM (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE)
       |      AS jaccard
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |WHERE jaccard >= $threshold""".stripMargin

  /** DuckDB SQL for embWithNearDups. */
  private val EmbNearDupSql =
    """emb2 AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000 AS vec_id, embedding
      |  FROM embeddings WHERE vec_id < 10)""".stripMargin

  private val nearDupOracleBacked: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(

    // exact n-gram Jaccard (brute baseline on a slice — quadratic by
    // construction, kept small; MinHash-LSH is the scale path). Oracle is
    // the identical all-pairs computation in DuckDB list algebra.
    "q_dedup_ngram_jaccard" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.ngramJaccardPairs(
          docsWithNearDups(s, dir).filter(col("doc_id") % 20 === 0),
          "text", "doc_id", n = 3, threshold = 0.5),
      s"""WITH $DocsNearDupSql,
         |sliced AS (SELECT * FROM docs2 WHERE doc_id % 20 = 0),
         |${shinglesSql("sliced")}
         |${jaccardPairsSql(0.5)}""".stripMargin)),

    // MinHash+LSH near-dup pairs. 8 bands × 2 rows: P(miss | s=0.9 planted
    // pair) ≈ 2e-6, and every surviving pair is exact-verified, so the
    // output EQUALS the exact all-pairs join on this corpus (validated at
    // sf0.01/sf0.001) — the LSH is graded against ground truth, not
    // rows-only.
    "q_dedup_minhash_lsh" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.minHashLsh(docsWithNearDups(s, dir), "text", "doc_id",
          numHashes = 16, bands = 8, threshold = 0.5),
      s"""WITH $DocsNearDupSql,
         |${shinglesSql("docs2")}
         |${jaccardPairsSql(0.5)}""".stripMargin)),

    // duplicate-cluster closure over the confirmed near-dup pairs: every
    // doc in any pair labeled with its connected component's min id (the
    // surviving representative). Engine: iterative min-label propagation
    // (ids-only shuffles); oracle: DuckDB recursive CTE computing the
    // same transitive closure over the same exact-Jaccard pair graph.
    "q_dedup_clusters" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.dupClusters(
          Dedup.minHashLsh(docsWithNearDups(s, dir), "text", "doc_id",
            numHashes = 16, bands = 8, threshold = 0.5)
            .select(col("id_a"), col("id_b"))),
      s"""WITH RECURSIVE $DocsNearDupSql,
         |${shinglesSql("docs2")},
         |pairs AS (${jaccardPairsSql(0.5)}),
         |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |walk(u, lbl) AS (
         |  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.u)
         |SELECT u AS doc_id, MIN(lbl) AS cluster_id
         |FROM walk GROUP BY u""".stripMargin)),

    // embedding-cosine near-dup via hyperplane LSH buckets; ids only in
    // the output (cosine VALUES differ in ulps between engines). Oracle =
    // exact all-pairs cosine join.
    "q_dedup_embed_cosine" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.embeddingNearDup(embWithNearDups(s, dir), "embedding", "vec_id",
          numPlanes = 8, threshold = 0.95).select(col("id_a"), col("id_b")),
      s"""WITH $EmbNearDupSql
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |FROM emb2 a JOIN emb2 b ON a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95""".stripMargin)),

    // ANN: brute-force cosine top-5 (exactness baseline); integer output
    // (query, corpus, rank) so the compare is ulp-proof.
    "q_ann_brute_topk" -> ((
      (s: SparkSession, dir: String) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
          "embedding", "vec_id", k = 5).drop("cos")
      },
      """SELECT query_id, corpus_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 8)
        |WHERE rank <= 5""".stripMargin)),

    // ANN: LSH-bucketed top-1 against planted identical twins — the twin
    // (cos 1.0) shares every LSH bucket, so the approximate path must
    // return the exact top-1 for each query; oracle = exact cosine argmax.
    // The k=5 recall/latency tradeoff is exercised in OpsSpec.
    "q_ann_lsh_topk" -> ((
      (s: SparkSession, dir: String) => {
        val queries = t(s, dir, "embeddings").filter(col("vec_id") < 10)
        Similarity.lshTopK(embWithNearDups(s, dir), queries,
          "embedding", "vec_id", k = 1, numPlanes = 4, numTables = 8)
          .drop("cos")
      },
      s"""WITH $EmbNearDupSql
         |SELECT query_id, corpus_id, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
         |               c.vec_id) AS rank
         |  FROM embeddings q JOIN emb2 c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10)
         |WHERE rank = 1""".stripMargin)),

    // THE FLAGSHIP COMPOSITION: one end-to-end training-data pipeline —
    // raw docs (∪ planted exact + near-dup copies) → quality gate →
    // exact dedup → MinHash-LSH near-dup pairs → duplicate-cluster
    // closure survivors → 13-gram test-set decontamination → the clean
    // corpus. Proves the ops family COMPOSES (what a real 100 TB
    // pipeline does with it); the oracle composes the per-op DuckDB SQL
    // the same way, so the whole chain faces one independent answer.
    // The quality gate here is the subset of the Gopher conjunction that
    // discriminates on this corpus (word count + stopword floor — the
    // synthetic docs carry no sentence punctuation, so the full
    // conjunction, exercised by q_text_gopher_c4, keeps nothing).
    // Pipeline shuffle story at 100 TB: gate is codegen'd column algebra
    // on the scan; exact dedup one hash shuffle; LSH band shuffle is
    // ids-only; closure shuffles (id,label) longs; decon broadcasts the
    // benchmark grams — the corpus text itself is shuffled exactly once
    // (the exact-dedup groupBy).
    "q_pipeline_end_to_end" -> ((
      (s: SparkSession, dir: String) => {
        val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val nearCopies = base.filter(col("doc_id") < 10)
          .select((col("doc_id") + 100000).as("doc_id"),
            expr("substring(text, instr(text, ' ') + 1)").as("text"))
        val exactCopies = base
          .filter(col("doc_id") >= 10 && col("doc_id") < 20)
          .select((col("doc_id") + 200000).as("doc_id"), col("text"))
        val pipe = base.unionByName(nearCopies).unionByName(exactCopies)
        val gated = pipe
          .withColumn("n_words", TextOps.wsTokenCount(col("text")))
          .withColumn("n_stop", TextOps.stopwordCount(col("text")))
          .filter(col("n_words").between(50, 100000) && col("n_stop") >= 2)
          .select(col("doc_id"), col("text"))
        // exact dedup keeping the min-id representative per content hash
        val wDup = Window.partitionBy(md5(col("text").cast("binary")))
          .orderBy(col("doc_id"))
        val keepers = gated.withColumn("rn", row_number().over(wDup))
          .filter(col("rn") === 1).drop("rn")
          .persist()
        val pairs = Dedup.minHashLsh(keepers, "text", "doc_id",
          numHashes = 16, bands = 8, threshold = 0.5)
          .select(col("id_a"), col("id_b"))
        val clusters = Dedup.dupClusters(pairs)
        val nearSurv = keepers.join(clusters, Seq("doc_id"), "left")
          .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
          .select(col("doc_id"), col("text"))
        val bench = base.filter(col("doc_id") < 5).select(col("text"))
        val contaminated = Dedup
          .decontaminate(nearSurv, "text", "doc_id", bench, "text")
          .select(col("doc_id"))
        // materialize the final (doc_id, md5) rows eagerly so the keepers
        // cache can be dropped HERE instead of leaking into the rest of
        // the 49-query run (ADVICE r6); the caller's count() reads the
        // checkpointed result
        val out = nearSurv.join(contaminated, Seq("doc_id"), "left_anti")
          .select(col("doc_id"),
            md5(col("text").cast("binary")).as("content_md5"))
          .localCheckpoint()
        keepers.unpersist()
        out
      },
      s"""WITH RECURSIVE pipe AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id,
         |         substr(text, strpos(text, ' ') + 1) AS text
         |  FROM documents WHERE doc_id < 10
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id, text
         |  FROM documents WHERE doc_id >= 10 AND doc_id < 20
         |), gated AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS n_words,
         |      len(list_filter(string_split(lower(text), ' '),
         |          x -> x IN ('the','a','of','to','and','is','in','的','了','是'))) AS n_stop
         |    FROM pipe)
         |  WHERE n_words BETWEEN 50 AND 100000 AND n_stop >= 2
         |), keepers AS (
         |  SELECT min(doc_id) AS doc_id, arbitrary(text) AS text
         |  FROM gated GROUP BY md5(text)
         |), ${shinglesSql("keepers")},
         |pairs AS (${jaccardPairsSql(0.5).replace("id_a, id_b, jaccard", "id_a, id_b")}),
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), walk(u, lbl) AS (
         |  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.u
         |), clusters AS (
         |  SELECT u AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY u
         |), nearsurv AS (
         |  SELECT k.doc_id, k.text FROM keepers k
         |  LEFT JOIN clusters c USING (doc_id)
         |  WHERE c.cluster_id IS NULL OR c.cluster_id = k.doc_id
         |), btok AS (
         |  SELECT list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
         |  FROM documents WHERE doc_id < 5
         |), bgrams AS (
         |  SELECT DISTINCT unnest(list_distinct(
         |    CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
         |         ELSE list_transform(range(1, len(toks) - 11),
         |                i -> array_to_string(toks[i:i+12], ' '))
         |    END)) AS g
         |  FROM btok
         |), sgrams AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
         |         ELSE list_transform(range(1, len(toks) - 11),
         |                i -> array_to_string(toks[i:i+12], ' '))
         |    END)) AS g
         |  FROM (SELECT doc_id,
         |          list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
         |        FROM nearsurv)
         |), contaminated AS (
         |  SELECT DISTINCT doc_id FROM sgrams JOIN bgrams USING (g)
         |)
         |SELECT doc_id, md5(text) AS content_md5
         |FROM nearsurv
         |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin))
  )

  // ======================================================================
  // golden-pinned queries: deterministic custom kernels (xxhash-seeded
  // scorers, simhash, rolling fingerprints, synthetic generators) that no
  // SQL engine can re-derive independently. The oracle is a precomputed
  // expected-output VALUES table — computed once at the driver's
  // correctness-gate scale (sf0.01), kernel-verified in ScalaTest — so
  // regressions in these paths are driver-visible, not just spec-visible.
  // ======================================================================

  private val goldenBacked: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(

    // SimHash near-dup pairs (GoldenValues pinned at sf0.01)
    "q_dedup_simhash" -> ((
      (s: SparkSession, dir: String) => {
        goldenScaleDocs(s, dir)
        Dedup.simHashPairs(docsWithNearDups(s, dir), "text", "doc_id",
          maxHamming = 3)
      },
      GoldenValues.simhash)),

    // multimodal plumbing: binary payloads → per-partition feature batch;
    // input is the deterministic synthetic media table (sf-independent).
    // Image rows are REAL PNGs decoded via javax.imageio; audio rows are
    // REAL PCM-16 WAVs decoded via javax.sound.sampled — the per-kind
    // ⌊mean_luma·1000⌋ checksum pins the actual decoded pixel/sample
    // values (audio n_frames are the decoder's real frame counts)
    "q_multimodal_features" -> ((
      (s: SparkSession, dir: String) => {
        val feats = Multimodal.extractFeatures(Multimodal.syntheticMedia(s, 300))
        feats.toDF().groupBy(col("kind"))
          .agg(count(lit(1)).as("cnt"), sum(col("n_frames")).as("total_frames"),
            sum(floor(col("mean_luma") * 1000).cast("long")).as("luma_checksum"))
      },
      GoldenValues.multimodal)),

    // multimodal resize plumbing end-to-end under the driver gate:
    // synthetic media → bounded raster resize (images only; audio/video
    // byte-identical passthrough) → re-extract features from the
    // RESIZED payloads. Integer-exact output (dims are the resize
    // contract; counts prove the passthrough); golden-pinned like the
    // other codec queries (no SQL engine can re-run a PNG scaler).
    "q_multimodal_resize" -> ((
      (s: SparkSession, dir: String) => {
        val resized = Multimodal.resizeImages(
          Multimodal.syntheticMedia(s, 300), maxDim = 8)
        // project the three metadata columns relationally: the former
        // Dataset.map paid a second full object serde round trip (payload
        // bytes included) just to drop columns
        resized.toDF().select(col("kind"), col("width"), col("height"))
          .groupBy(col("kind"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("width")).as("sum_w"), sum(col("height")).as("sum_h"),
            max(greatest(col("width"), col("height"))).as("max_dim"))
      },
      GoldenValues.multimodalResize)),

    // sentiment buckets via the deterministic scorer UDF (F15/A3), with a
    // ⌊score·1000⌋ checksum per bucket pinning the scorer's exact values
    "q_sentiment_buckets" -> ((
      (s: SparkSession, dir: String) => {
        goldenScaleDocs(s, dir)
        TiebaAnalytics.sentimentStats(repliesLike(s, dir))
      },
      GoldenValues.sentiment)),

    // corpus summary + containment join back to sources (F17/J2/O4);
    // md5 digest of each summary so the golden stays compact while still
    // pinning every byte of the selected sentences
    "q_summary_containment" -> ((
      (s: SparkSession, dir: String) => {
        goldenScaleDocs(s, dir)
        TiebaAnalytics.summaryWithSources(
          repliesLike(s, dir).filter(col("post_id").cast("long") < 60))
          .select(col("post_id"), col("reply_id"),
            md5(col("summary").cast("binary")).as("summary_md5"))
      },
      GoldenValues.summary)),

    // document fingerprint (rolling hash): per-doc 64-bit fingerprints on
    // a fixed slice — pins the exact hash value of every row
    "q_text_fingerprint" -> ((
      (s: SparkSession, dir: String) =>
        goldenScaleDocs(s, dir).filter(col("doc_id") < 40)
          .select(col("doc_id"), TextOps.fingerprintUdf(col("text")).as("fp")),
      GoldenValues.fingerprint)),

    // weibo pipeline: card filter → byte-identical regex clean → JSON
    // record sink shape → display projection (S5/P8/F8/S11/S12/P13),
    // digested to one row (count + md5 over the canonically-ordered
    // concatenation of every display field) — any byte drift flips the md5
    "q_weibo_pipeline" -> ((
      (s: SparkSession, dir: String) => {
        val cards = graft.analytics.WeiboPipeline.syntheticCards(s, 20, 10)
        val processed = graft.analytics.WeiboPipeline.processCards(cards)
        val display = graft.analytics.WeiboPipeline.displayProjection(
          graft.analytics.WeiboPipeline.toJsonRecords(processed), s)
        val rowStr = concat_ws("", col("id"), col("time"), col("text"),
          col("likes"), col("comments"), col("reposts"))
        display.select(rowStr.as("r"))
          .agg(count(lit(1)).as("n"),
            md5(concat_ws("",
              array_sort(collect_list(col("r")))).cast("binary")).as("digest"))
      },
      GoldenValues.weibo))
  )

  /** State-store/shuffle partition count for the two streaming queries —
    * scoped to the streaming execution only (set before `start`, restored
    * after `stop`; both queries fully execute inside the query function,
    * so no other query sees the override). Streaming state partitioning
    * should be sized to active keys and micro-batch volume, not to the
    * batch session's scan width: every state partition pays a state-store
    * commit per micro-batch, so 32 partitions × k batches of a small
    * keyed stream is per-batch overhead, not parallelism (guide §2.2 —
    * fewer, larger partitions). Deploy-time knob for real volumes. */
  private def streamStateParts: Int =
    sys.env.getOrElse("GRAFT_STREAM_SHUFFLE", "8").toInt

  private def withStreamShuffle[T](s: SparkSession)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, streamStateParts.toString)
    try f finally s.conf.set(key, prev)
  }

  // streaming: tumbling-window agg via Structured Streaming, oracle = the
  // equivalent batch aggregation (complete mode over bounded input)
  private def streamWindowAgg(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    val name = "stream_out_" + math.abs(path.hashCode).toString
    // FileStreamSource needs a directory: stage a symlink to the file
    val streamDir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.createSymbolicLink(
      streamDir.resolve("events.parquet"),
      java.nio.file.Paths.get(path).toAbsolutePath)
    val stream = s.readStream.schema(schema).parquet(streamDir.toString)
      // parquet NTZ timestamps → session-TZ (UTC) timestamps for watermarking
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("cnt"))
    withStreamShuffle(s) {
      val q = stream.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(name)
  }

  /** Stateful streaming sessionization: KeyValueGroupedDataset.
    * flatMapGroupsWithState over per-user event streams, 30-minute
    * inactivity gap — the custom-state streaming shape the windowed agg
    * can't express. The state is INCREMENTAL — per user just
    * (nextIdx, open?, sessionStart, lastTs, nEvents), never the event
    * history — with `GroupStateTimeout.EventTimeTimeout` evicting idle
    * sessions as the watermark passes lastTs + gap: the shape that holds
    * on an unbounded stream (state size O(active users), not O(events)).
    *
    * The bounded input is staged as MULTIPLE time-ordered files with
    * maxFilesPerTrigger=1, so sessions genuinely span micro-batches and
    * the cross-batch state merge is exercised, plus two far-future
    * sentinel rows whose watermark advance flushes every real open
    * session through the timeout path inside a DATA batch (no reliance
    * on no-data-batch scheduling). The oracle is the classic batch
    * gaps-and-islands SQL, so the state machine faces a hard equivalence
    * gate. Timestamps ride as unix micros through the state function
    * (java.sql.Timestamp.getTime would truncate to millis and silently
    * shift session bounds). */
  private[graft] val SessionGapMicros: Long = 30L * 60 * 1000000
  private[graft] def sessionizeStage(s: SparkSession, events: DataFrame,
                                     stage: java.nio.file.Path): Unit = {
    val ev = events.select(col("user_id").cast("long").as("user_id"),
      col("ts").cast("timestamp").as("ts"))
    val Array(minU, maxU) = ev
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = minU + (maxU - minU) / 2
    // FileStreamSource orders new files by modification time; the moved
    // part files can share an mtime on coarse-granularity filesystems,
    // which would let a later file sort first — its watermark advance
    // would silently drop the earlier file's events as late (ADVICE r3).
    // Strictly-increasing explicit mtimes make batch order deterministic.
    var mtime = System.currentTimeMillis()
    def writeOne(df: DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-sess-part")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = java.nio.file.Files.list(tmp)
      val part = try listing
        .filter(_.getFileName.toString.startsWith("part-"))
        .findFirst().orElseThrow()
      finally listing.close()
      val dest = stage.resolve(name)
      java.nio.file.Files.move(part, dest)
      mtime += 2000
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
      scala.reflect.io.Path(tmp.toFile).deleteRecursively()
    }
    import s.implicits._
    writeOne(ev.filter(unix_micros(col("ts")) < mid), "00.parquet")
    writeOne(ev.filter(unix_micros(col("ts")) >= mid), "01.parquet")
    // sentinels: two extra batches so the final watermark advance (and
    // therefore every real session's timeout) lands in a data batch
    writeOne(Seq((-1L, maxU + 40 * SessionGapMicros)).toDF("user_id", "u")
      .select(col("user_id"), timestamp_micros(col("u")).as("ts")), "02.parquet")
    writeOne(Seq((-2L, maxU + 80 * SessionGapMicros)).toDF("user_id", "u")
      .select(col("user_id"), timestamp_micros(col("u")).as("ts")), "03.parquet")
  }

  private[graft] def streamSessionize(s: SparkSession, dir: String): DataFrame =
    streamSessionizeOf(s, s.read.parquet(s"$dir/events.parquet"))

  private[graft] def streamSessionizeOf(s: SparkSession,
                                        events: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val Gap = SessionGapMicros
    val stage = java.nio.file.Files.createTempDirectory("graft-sess")
    sessionizeStage(s, events, stage)
    val name = "stream_sess_" + math.abs(stage.toString.hashCode).toString
    val ev = s.readStream
      .schema("user_id LONG, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.toString)
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("tsu"))
      .as[(Long, java.sql.Timestamp, Long)]
    // state: (nextIdx, open 0/1, sessionStart, lastTs, nEvents) — O(1)
    val sessions = ev.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
         state: GroupState[(Long, Long, Long, Long, Long)]) => {
          val out = Vector.newBuilder[(Long, Long, Long, Long, Long)]
          var (nextIdx, open, start, last, n) =
            state.getOption.getOrElse((0L, 0L, 0L, 0L, 0L))
          if (state.hasTimedOut) {
            // watermark passed last + gap: no earlier event can arrive,
            // so the open session is final — emit and clear it
            if (open == 1L) { out += ((user, nextIdx, n, start, last)); nextIdx += 1 }
            state.update((nextIdx, 0L, 0L, 0L, 0L))
          } else {
            // within a batch arrival order is arbitrary; across batches
            // the time-split staging guarantees event-time order
            val ts = rows.map(_._3).toArray.sorted
            var i = 0
            while (i < ts.length) {
              val t = ts(i)
              if (open == 0L) { open = 1L; start = t; last = t; n = 1L }
              else if (t - last > Gap) {
                out += ((user, nextIdx, n, start, last)); nextIdx += 1
                start = t; last = t; n = 1L
              } else { last = t; n += 1L }
              i += 1
            }
            state.update((nextIdx, open, start, last, n))
            if (open == 1L)
              state.setTimeoutTimestamp(math.max(
                (last + Gap) / 1000 + 1, state.getCurrentWatermarkMs() + 1))
          }
          out.result().iterator
        })
      .filter(col("_1") >= 0) // drop the watermark-sentinel users
      .select(col("_1").as("user_id"), col("_2").as("session_idx"),
        col("_3").as("n_events"),
        timestamp_micros(col("_4")).as("session_start"),
        timestamp_micros(col("_5")).as("session_end"))
    withStreamShuffle(s) {
      val q = sessions.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(name)
  }

  private val streaming: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q_t1_stream_window_agg" -> ((
      (s: SparkSession, dir: String) => streamWindowAgg(s, dir),
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       count(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin)),

    "q_t2_stream_sessionize" -> ((
      (s: SparkSession, dir: String) => streamSessionize(s, dir),
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
        |      AS session_idx
        |  FROM marked
        |)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end
        |FROM sess GROUP BY 1, 2""".stripMargin))
  )

  def all: Map[String, (SparkSession, String) => DataFrame] =
    (oracleBacked ++ nearDupOracleBacked ++ goldenBacked ++ streaming)
      .map { case (k, (f, _)) => k -> f }

  def oracle: Map[String, String] =
    (oracleBacked ++ nearDupOracleBacked ++ goldenBacked ++ streaming)
      .map { case (k, (_, sql)) => k -> sql }
}
