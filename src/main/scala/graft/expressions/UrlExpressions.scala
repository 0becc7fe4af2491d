package graft.expressions

import graft.core.{UrlCanon, XxHash64}
import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal,
  UnaryExpression}
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's hottest scalar kernels —
  * the per-link url/host hashing on the frontier-expansion path, the
  * robots gate and the Bloom probe. A Scala UDF here pays per-row encoder
  * boxing and breaks WholeStageCodegen; a native `UnaryExpression` with
  * `doGenCode` emits a direct static call inside the generated loop
  * (SURVEY.md §2.10 preference order: built-in > native Expression > UDF).
  *
  * The hashes and the host delegate to the same pure-Scala kernels
  * ([[graft.core.XxHash64]], [[graft.core.UrlCanon]]) used by the oracle
  * simulator, so engine/oracle identity is preserved bit-for-bit. Every
  * expression is reached as a typed `Column` function below (built with
  * `ColumnBridge`); SQL callers get the stateless ones by name through
  * [[GraftExtensions]].
  */
object UrlExpressions {

  /** xxhash64 of the UTF-8 string — `url_hash`'s definition. */
  case class UrlHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    // Spark 4: null-intolerance is a method, not a marker trait
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_url_hash"

    // single kernel shared with interpreted eval and codegen
    override def nullSafeEval(v: Any): Any =
      java.lang.Long.valueOf(
        XxHash64.hash(v.asInstanceOf[UTF8String].getBytes))

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.core.XxHash64.hash($c.getBytes(), 0L)")

    override protected def withNewChildInternal(c: Expression): UrlHash64 =
      copy(child = c)
  }

  /** Second, independent 64-bit url hash (`url_hash2`): xxhash64 of the
    * UTF-8 string under a fixed non-zero seed. The seen-confirm join
    * matches on the (url_hash, url_hash2) PAIR — at the 10^10-URL design
    * point a single 64-bit key expects ~2.7 collisions (each one a novel
    * URL silently "confirmed seen" and never crawled); the 128-bit pair
    * pushes that to ~10^-19. Only `seen_delta` carries the extra column —
    * the frontier schema is unchanged.
    *
    * The ~10^-19 figure assumes the two hashes are independent, which
    * holds for RANDOM/ORGANIC url bytes but not adversarial ones: XXH64's
    * seed only perturbs the initial accumulators, and seed-independent
    * collisions are known to be constructible. A crawl whose threat model
    * includes attacker-crafted colliding URLs should derive url_hash2
    * from a structurally different hash (e.g. SipHash with a secret key)
    * — a one-line swap in [[UrlCanon.urlHash2]]; the non-adversarial
    * assumption is the documented default. */
  case class UrlHash64B(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_url_hash2"

    override def nullSafeEval(v: Any): Any =
      java.lang.Long.valueOf(
        XxHash64.hash(v.asInstanceOf[UTF8String].getBytes, UrlCanon.Hash2Seed))

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.core.XxHash64.hash($c.getBytes(), ${UrlCanon.Hash2Seed}L)")

    override protected def withNewChildInternal(c: Expression): UrlHash64B =
      copy(child = c)
  }

  /** Lower-cased host of a URL (frontier `host` column). */
  case class UrlHost(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_url_host"

    override def nullSafeEval(v: Any): Any =
      UTF8String.fromString(UrlCanon.host(v.asInstanceOf[UTF8String].toString))

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        "org.apache.spark.unsafe.types.UTF8String.fromString(" +
          s"graft.core.UrlCanon.host($c.toString()))")

    override protected def withNewChildInternal(c: Expression): UrlHost =
      copy(child = c)
  }

  /** robots.txt gate as a native expression (T3): prefix-match of the
    * url's path+query against the host's Disallow rules. The rule map is a
    * plan-level reference object (shipped once per task in the codegen
    * references, not per row) — replaces the per-row Scala UDF the round
    * used to put on the hottest path. A rules TABLE too large for the plan
    * would become a broadcast join instead; the reference's rule sets are
    * per-host handfuls. */
  case class RobotsAllowed(child: Expression,
                           byHost: Map[String, Vector[String]])
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_robots_allowed"

    override def nullSafeEval(v: Any): Any =
      java.lang.Boolean.valueOf(
        graft.core.Robots.isAllowed(byHost, v.asInstanceOf[UTF8String].toString))

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val mapRef = ctx.addReferenceObj("robotsByHost", byHost,
        "scala.collection.immutable.Map")
      defineCodeGen(ctx, ev, c =>
        s"graft.core.Robots.isAllowed($mapRef, $c.toString())")
    }

    override protected def withNewChildInternal(c: Expression): RobotsAllowed =
      copy(child = c)
  }

  /** Bloom-filter probe against a TorrentBroadcast-shipped url_hash-range
    * shard array ([[graft.frontier.ShardedBloom]]; one shard is a single
    * filter) as a native expression. This sits on the two hottest per-row
    * paths in the engine — every discovered link (seen pre-filter) and the
    * above-gate pages scan (selected-slice runtime filter) — where a Scala
    * UDF would pay per-row boxing and break WholeStageCodegen. The
    * broadcast handle rides in the codegen references (shipped once per
    * executor by TorrentBroadcast, never per task binary); the shard array
    * is unwrapped once per task into mutable state, so the per-row cost is
    * one shard-index computation + the k probe loads. */
  case class ShardedBloomMightContain(
      child: Expression,
      shardsBc: org.apache.spark.broadcast.Broadcast[Array[Array[Byte]]])
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_bloom_might_contain"

    override def nullSafeEval(v: Any): Any =
      java.lang.Boolean.valueOf(
        graft.frontier.ShardedBloom.mightContain(
          shardsBc.value, v.asInstanceOf[Long]))

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("graftShardsBc", shardsBc,
        "org.apache.spark.broadcast.Broadcast")
      val shards = ctx.addMutableState("byte[][]", "graftBloomShards",
        v => s"$v = (byte[][]) $bcRef.value();")
      defineCodeGen(ctx, ev, c =>
        s"graft.frontier.ShardedBloom.mightContain($shards, $c)")
    }

    override protected def withNewChildInternal(c: Expression): ShardedBloomMightContain =
      copy(child = c)
  }

  /** `url_hash` of a url column. */
  def urlHash(c: Column): Column = column(UrlHash64(expression(c)))
  /** `url_hash2` of a url column. */
  def urlHash2(c: Column): Column = column(UrlHash64B(expression(c)))
  /** Lower-cased host of a url column. */
  def urlHost(c: Column): Column = column(UrlHost(expression(c)))
  /** robots gate of a url column, bound to this call's rule map. */
  def robotsAllowed(c: Column, byHost: Map[String, Vector[String]]): Column =
    column(RobotsAllowed(expression(c), byHost))
  /** Bloom probe of a `url_hash` column, bound to this call's broadcast
    * shard array: one round can hold two live blooms at once
    * (selected-slice filter + cumulative seen). */
  def shardedBloomProbe(
      shardsBc: org.apache.spark.broadcast.Broadcast[Array[Array[Byte]]],
      hashCol: Column): Column =
    column(ShardedBloomMightContain(expression(hashCol), shardsBc))

  /** The stateless functions SQL can call by name ([[GraftExtensions]]). */
  private[expressions] val SqlFunctions: Seq[Expression => Expression] =
    Seq(UrlHash64, UrlHash64B, UrlHost)
}

/** Session extension: injects [[UrlExpressions.SqlFunctions]] at session
  * build time (`.withExtensions(new GraftExtensions)`), each under its
  * expression's `prettyName` — the one route for calling a native
  * function by SQL name. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    UrlExpressions.SqlFunctions.foreach { build =>
      val e = build(Literal(null, StringType))
      ext.injectFunction((new FunctionIdentifier(e.prettyName),
        new ExpressionInfo(e.getClass.getName, e.prettyName),
        (exprs: Seq[Expression]) => build(exprs.head)))
    }
}
