package graft.round

import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Owner of everything one crawl round leaves cached or running: every
  * `persist` and every side-write future goes through it. On exit it
  * unpersists all it holds; on an exception it first cancels the round's
  * job group and waits until no writer is still running, so a failed round
  * leaves neither cached blocks nor live jobs writing into its snapshot. */
private[round] final class RoundScope private (sc: SparkContext, round: Int) {
  private val group = s"graft-round-$round-${java.util.UUID.randomUUID()}"
  private val cached = ArrayBuffer.empty[DataFrame]
  private val futures = ArrayBuffer.empty[Future[_]]
  @volatile private var aborted = false
  // the parallelism of the global context: side jobs run as before
  private val pool =
    Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors)
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  private def tag(phase: String): Unit =
    sc.setJobGroup(group, s"round-$round/$phase")

  /** Runs `body` with its jobs described as `round-<k>/<phase>`. */
  def phase[T](name: String)(body: => T): T = { tag(name); body }

  def persist(df: DataFrame): DataFrame = synchronized {
    cached += df.persist(StorageLevel.MEMORY_AND_DISK); df
  }

  /** A side job on the scope's pool, in the round's job group. */
  def future[T](name: String)(body: => T): Future[T] = synchronized {
    val f = Future {
      if (aborted) throw new IllegalStateException(s"round $round aborted")
      tag(name); body
    }
    futures += f; f
  }

  def await[T](f: Future[T]): T = Await.result(f, Duration.Inf)

  private def all[T](xs: ArrayBuffer[T]): List[T] = synchronized(xs.toList)

  private def abort(): Unit = {
    aborted = true
    // a writer between two jobs starts its next one after a cancel: keep
    // cancelling until every future has finished
    all(futures).foreach { f =>
      while (!f.isCompleted) {
        sc.cancelJobGroup(group)
        Try(Await.ready(f, 50.millis))
      }
    }
  }
}

private[round] object RoundScope {
  private val JobProps = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  /** Runs a round's body, then waits for every side future before
    * returning (a failed one fails the round). */
  def apply[T](sc: SparkContext, round: Int)(body: RoundScope => T): T = {
    val saved = JobProps.map(k => k -> sc.getLocalProperty(k))
    val scope = new RoundScope(sc, round)
    try {
      val out = body(scope)
      scope.all(scope.futures).foreach(scope.await(_))
      out
    } catch {
      case t: Throwable => scope.abort(); throw t
    } finally {
      scope.all(scope.cached).foreach(_.unpersist())
      scope.pool.shutdown()
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }
}
