package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import graft.core.XxHash64
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic tables in the schema of the engine's query test data
  * (a TPC-H-like star schema plus `events`, `documents` and `embeddings`),
  * one single-file `<name>.parquet` per table, as `SparkEntry.queries`
  * reads them. `scale` 1.0 has the row counts of the sf0.01 test data
  * (60 k `lineitem` rows). Every value is a hash of (seed, table, column,
  * row), so the same seed and scale give identical files. */
object QueryTables {

  val Seed = 42L

  private val Vocab = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "en", "en", "en", "zh", "zh", "es", "es",
    "fr", "fr", "de")
  private val Segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
    "BUILDING", "FURNITURE")
  private val Adjectives = Array("large", "hot", "blue", "old", "red", "new",
    "small", "green")
  private val Nouns = Array("ring", "bolt", "plate", "rod", "anvil", "gear",
    "pipe", "nut")
  private val Types = Array("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL",
    "STANDARD")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("signup", "purchase", "view", "click", "error")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE",
    "MIDDLE EAST")

  private val DayMs = 86400000L
  private def utcMs(y: Int): Long = java.time.LocalDate.of(y, 1, 1)
    .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
  private val Y1995 = utcMs(1995)
  private val Y2024 = utcMs(2024)

  /** Uniform in [0, 1) from (table, column, row). */
  private def u(t: String, c: String, i: Long): Double =
    (XxHash64.hashLong(i, XxHash64.hashString(s"$t.$c", Seed)) >>> 11) * (1.0 / (1L << 53))
  private def pick[A](xs: Array[A], t: String, c: String, i: Long): A =
    xs((u(t, c, i) * xs.length).toInt)
  private def upto(n: Long, t: String, c: String, i: Long): Long =
    (u(t, c, i) * n).toLong
  private def money(lo: Double, hi: Double, t: String, c: String, i: Long): Double =
    math.round((lo + (hi - lo) * u(t, c, i)) * 100) / 100.0
  private def gauss(t: String, c: String, i: Long): Double =
    math.sqrt(-2 * math.log(1 - u(t, c + "a", i))) *
      math.cos(2 * math.Pi * u(t, c + "b", i))

  final case class Table(name: String, rows: Long, schema: StructType,
                         row: Long => Row)

  def tables(scale: Double): Seq[Table] = {
    def n(base: Long) = math.max(1L, math.round(base * scale))
    val (customers, suppliers, parts, orders) = (n(1500), n(100), n(2000), n(15000))
    val users = n(150)
    val events = n(10000)
    Seq(
      Table("region", 5, StructType.fromDDL("r_regionkey INT, r_name STRING"),
        i => Row(i.toInt, Regions(i.toInt))),
      Table("nation", 25,
        StructType.fromDDL("n_nationkey INT, n_name STRING, n_regionkey INT"),
        i => Row(i.toInt, s"NATION_$i", (i % 5).toInt)),
      Table("customer", customers, StructType.fromDDL("c_custkey BIGINT, " +
        "c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING"),
        i => Row(i, f"Customer#$i%09d", upto(25, "c", "nation", i).toInt,
          money(-999.99, 9999.99, "c", "bal", i), pick(Segments, "c", "seg", i))),
      Table("supplier", suppliers, StructType.fromDDL("s_suppkey BIGINT, " +
        "s_name STRING, s_nationkey INT, s_acctbal DOUBLE"),
        i => Row(i, f"Supplier#$i%09d", upto(25, "s", "nation", i).toInt,
          money(-999.99, 9999.99, "s", "bal", i))),
      Table("part", parts, StructType.fromDDL("p_partkey BIGINT, p_name STRING, " +
        "p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE"),
        i => Row(i, pick(Adjectives, "p", "adj", i) + " " + pick(Nouns, "p", "noun", i),
          s"Brand#${1 + upto(25, "p", "brand", i)}", pick(Types, "p", "type", i),
          1 + upto(50, "p", "size", i).toInt, 900.0 + (i % 1000) / 10.0)),
      Table("orders", orders, StructType.fromDDL("o_orderkey BIGINT, " +
        "o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
        "o_orderdate TIMESTAMP, o_orderpriority STRING"),
        i => Row(i, upto(customers, "o", "cust", i),
          pick(Array("O", "F", "P"), "o", "status", i),
          money(1000, 500000, "o", "price", i),
          new Timestamp(Y1995 + upto(2404, "o", "date", i) * DayMs),
          pick(Priorities, "o", "prio", i))),
      Table("lineitem", n(60000), StructType.fromDDL("l_orderkey BIGINT, " +
        "l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
        "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, " +
        "l_shipdate TIMESTAMP"),
        { i =>
          val part = upto(parts, "l", "part", i)
          val qty = (1 + upto(50, "l", "qty", i)).toDouble
          Row(upto(orders, "l", "order", i), part, upto(suppliers, "l", "supp", i),
            1 + upto(7, "l", "line", i).toInt, qty,
            math.round(qty * (900.0 + (part % 1000) / 10.0) * 100) / 100.0,
            upto(11, "l", "disc", i) / 100.0, upto(9, "l", "tax", i) / 100.0,
            pick(Array("N", "R", "A"), "l", "flag", i),
            pick(Array("F", "O"), "l", "status", i),
            new Timestamp(Y1995 + 1 + upto(2498, "l", "ship", i) * DayMs))
        }),
      Table("events", events, StructType.fromDDL("event_id BIGINT, ts TIMESTAMP, " +
        "user_id BIGINT, event_type STRING, value DOUBLE, props STRING"),
        { i =>
          // time-ordered by event_id over 30 days, microsecond resolution
          val micros = (i * 30L * DayMs * 1000 / events) +
            upto(30L * DayMs * 1000 / events, "e", "jitter", i)
          val ts = new Timestamp(Y2024 + micros / 1000)
          ts.setNanos(((micros % 1000000) * 1000).toInt)
          Row(i, ts, upto(users, "e", "user", i), pick(EventTypes, "e", "type", i),
            math.round(-50 * math.log(1 - u("e", "value", i)) * 100) / 100.0,
            s"""{"k": ${upto(100, "e", "k", i)}}""")
        }),
      Table("documents", n(500), StructType.fromDDL("doc_id BIGINT, " +
        "text STRING, lang STRING, source STRING, n_chars BIGINT"),
        { i =>
          // every 97th document repeats its predecessor's text exactly
          val src = if (i % 97 == 96) i - 1 else i
          val words = 10 + upto(90, "d", "len", src).toInt
          val text = (0 until words).map(w =>
            pick(Vocab, "d", s"w$w", src)).mkString(" ")
          Row(i, text, pick(Langs, "d", "lang", i), s"src${i % 20}",
            text.length.toLong)
        }),
      Table("embeddings", n(500), StructType.fromDDL("vec_id BIGINT, " +
        "embedding ARRAY<FLOAT>, label INT"),
        { i =>
          val label = upto(10, "v", "label", i).toInt
          val v = (0 until 64).map(d =>
            gauss("v", s"c$d", label) + 0.5 * gauss("v", s"n$d", i))
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(i, v.map(x => (x / norm).toFloat), label)
        }))
  }

  /** Writes every table under `dir` as `<name>.parquet` (one file each). */
  def write(spark: SparkSession, dir: String, scale: Double): Unit = {
    Files.createDirectories(Paths.get(dir))
    tables(scale).foreach { t =>
      val rows = spark.sparkContext
        .range(0L, t.rows, numSlices = spark.sparkContext.defaultParallelism)
        .map(t.row)
      val tmp = s"$dir/.${t.name}"
      spark.createDataFrame(rows, t.schema).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp))
      try {
        val f = part.filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().orElseThrow()
        Files.move(f, Paths.get(dir, s"${t.name}.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      } finally part.close()
      Bench.deleteTree(tmp)
    }
  }
}
