package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into each engine layer.
  * Only a traced run records them; they are written once, at the end. */
final class Spans(val enabled: Boolean) {
  import Spans.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def toJson: String = Json.render(done.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String,
                        startNs: Long, endNs: Long)
}

/** Job, stage and task records from a `SparkListener` registered by the
  * benchmark itself. Times are epoch milliseconds, the clock of file
  * modification times, so windows can be bounded by manifest commits. */
final class JobRecorder extends SparkListener {
  import JobRecorder._

  val jobs = mutable.ArrayBuffer.empty[Job]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val stages = mutable.HashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += Job(e.jobId, group, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      stages(i.stageId) = Stage(i.stageId,
        i.submissionTime.getOrElse(System.currentTimeMillis()), -1L)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val st = stages.getOrElseUpdate(i.stageId,
        Stage(i.stageId, i.submissionTime.getOrElse(-1L), -1L))
      st.completed = i.completionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.launchTime,
      e.taskInfo.duration, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
  }

  /** Runs `body` with this recorder registered, and drains the listener
    * bus before unregistering it, so no event of `body` is lost. */
  def around[T](sc: SparkContext)(body: => T): T = {
    sc.addSparkListener(this)
    try body
    finally {
      ListenerBridge.waitUntilEmpty(sc, 60000)
      sc.removeSparkListener(this)
    }
  }

  /** Activity inside [from, to) (epoch ms), attributed by start time. */
  def window(from: Long, to: Long): Window = synchronized {
    val js = jobs.filter(j => j.start >= from && j.start < to)
    val stageIds = js.flatMap(_.stageIds).toSet
      .filter(id => stages.get(id).exists(_.completed >= 0))
    val ts = tasks.filter(t => t.launch >= from && t.launch < to)
    // time inside the window during which no job was running
    val busy = js.map(j => (math.max(j.start, from),
      math.min(if (j.end < 0) to else j.end, to))).sortBy(_._1)
    var covered = 0L
    var reach = from
    busy.foreach { case (a, b) =>
      val s = math.max(a, reach)
      if (b > s) { covered += b - s; reach = b }
    }
    // skew of the stage with the longest wall time
    val longest = stageIds.toSeq.map(stages).filter(_.submitted >= 0)
      .sortBy(s => -(s.completed - s.submitted)).headOption
    val skew = longest.map { st =>
      val ds = tasks.filter(_.stageId == st.id).map(_.durationMs.toDouble)
      if (ds.isEmpty) 1.0 else {
        val med = Stats.median(ds.toSeq)
        if (med <= 0) 1.0 else ds.max / med
      }
    }.getOrElse(1.0)
    Window(js.size, stageIds.size, ts.map(_.durationMs).sum,
      ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum, ts.map(_.input).sum,
      math.max(0L, (to - from) - covered), skew)
  }

  /** Listener metrics per step (a crawl round, or a query), given each
    * step's [start, end) in epoch ms and the items (pages or queries) the
    * steps produced. */
  def steps(bounds: Seq[(Long, Long)], items: Long,
            cores: Int): Map[String, Option[Double]] = {
    val ws = bounds.map { case (a, b) => (b - a, window(a, b)) }
    val w = ws.map(_._2)
    Map(
      "step.jobs" -> Bench.med(w.map(_.jobs.toDouble)),
      "step.stages" -> Bench.med(w.map(_.stages.toDouble)),
      "step.busy_frac" -> Bench.med(ws.map { case (ms, x) =>
        x.taskMs.toDouble / math.max(1L, ms) / cores }),
      "step.scan_kb_per_item" -> Some(w.map(_.inputBytes).sum / 1024.0 / items),
      "step.shuffle_write_mb" -> Some(w.map(_.shuffleWriteBytes).sum / 1e6 / w.size),
      "step.spill_mb" -> Some(w.map(_.spillBytes).sum / 1e6 / w.size),
      "step.task_skew" -> Bench.med(w.map(_.taskSkew)),
      "driver.idle_s" -> Bench.med(w.map(_.idleMs / 1000.0)))
  }
}

object JobRecorder {
  final case class Job(id: Int, group: String, start: Long, var end: Long,
                       stageIds: Seq[Int])
  final case class Task(stageId: Int, launch: Long, durationMs: Long,
                        shuffleWrite: Long, spill: Long, input: Long)
  final case class Stage(id: Int, var submitted: Long, var completed: Long)
  final case class Window(jobs: Int, stages: Int, taskMs: Long,
                          shuffleWriteBytes: Long, spillBytes: Long,
                          inputBytes: Long, idleMs: Long, taskSkew: Double)
}
