package graft

import graft.core.{UrlCanon, XxHash64}
import graft.expressions.GraftExtensions
import graft.expressions.UrlExpressions.{urlHash, urlHash2, urlHost}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class ExpressionSpec extends AnyFunSuite {

  test("native expressions == pure kernels, stay in WholeStageCodegen") {
    val spark = TestSpark.spark
    import spark.implicits._
    val urls = Seq(
      "http://tieba0.example.com/p/1000001",
      "http://tieba9.example.com/f?ie=utf-8&kw=forum3&pn=50",
      "https://a.com/home/main?un=user7")
    val df = urls.toDF("url")
      .select(col("url"), urlHash(col("url")).as("h"),
        urlHost(col("url")).as("host"),
        urlHash(urlHost(col("url"))).as("hh"),
        urlHash2(col("url")).as("h2"))
    val rows = df.collect()
    rows.foreach { r =>
      val u = r.getString(0)
      assert(r.getLong(1) == UrlCanon.urlHash(u))
      assert(r.getString(2) == UrlCanon.host(u))
      assert(r.getLong(3) == UrlCanon.hostHash(UrlCanon.host(u)))
      // second confirm-key hash: matches the pure kernel and is genuinely
      // independent of (never equal to) the primary hash on real urls
      assert(r.getLong(4) == UrlCanon.urlHash2(u))
      assert(r.getLong(4) != r.getLong(1))
    }
    // codegen'd: over a real scan (a local Seq gets constant-folded into a
    // LocalTableScan — itself proof the interpreted path works) the plan
    // must be a WholeStageCodegen project with no ScalaUDF
    val onScan = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(urlHash(col("text")).as("h"), urlHost(col("source")).as("s"))
    val plan = onScan.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan.take(800))
    // '*(n)' is the WholeStageCodegen marker in the abbreviated plan string
    assert(plan.contains("*(1) Project [graft_url_hash"), plan.take(800))
    assert(onScan.count() > 0)
    // null propagation (nullIntolerant)
    val n = Seq[Option[String]](None).toDF("url")
      .select(urlHash(col("url")).as("h")).collect()(0)
    assert(n.isNullAt(0))
  }

  test("SparkSessionExtensions injects the functions at build time") {
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .create() // a fresh session: getOrCreate would hand back the shared one
    try {
      val u = "http://a.com/x"
      val r = s2.sql(s"SELECT graft_url_hash('$u'), graft_url_hash2('$u'), " +
        s"graft_url_host('$u')").collect()(0)
      assert(r.getLong(0) == XxHash64.hashString(u))
      assert(r.getLong(1) == UrlCanon.urlHash2(u))
      assert(r.getString(2) == "a.com")
    } finally {
      // restore the shared test session as active
      SparkSession.setActiveSession(TestSpark.spark)
      SparkSession.setDefaultSession(TestSpark.spark)
    }
  }
}
