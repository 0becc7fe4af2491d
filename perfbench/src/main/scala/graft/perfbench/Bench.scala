package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from its run: the session, the seed, how
  * long to measure, whether this is the traced run, and a working
  * directory inside the checkout. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     trace: Boolean, work: String, spans: Spans,
                     sessionSec: Double) {
  def cores: Int = spark.sparkContext.defaultParallelism
}

/** A workload's outcome. `failures` holds one message per failed
  * operation; a failed operation contributes no timing sample. A metric
  * value is None only when no operation succeeded. */
final case class Outcome(attempted: Int, failures: Seq[String],
                         metrics: Map[String, Option[Double]])

/** Small measurement helpers shared by the workloads. */
object Bench {

  /** How often a run generates its inputs; `setup_s` takes the median. */
  val SetupReps = 3

  /** A human-readable progress line on stderr. */
  def info(msg: String): Unit = System.err.println(s"perfbench: $msg")

  def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU seconds (all threads of this JVM). */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** Cumulative stop-the-world GC seconds. */
  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  /** Peak resident set size of this process (`VmHWM`), in MB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** (steal, total) jiffies of all CPUs so far, from /proc/stat: steal is
    * time the hypervisor ran something else while this VM wanted a CPU. */
  def cpuJiffies: (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  def memTotalKb: Long = Files.readAllLines(Paths.get("/proc/meminfo")).asScala
    .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong)
    .getOrElse(-1L)

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }
  }

  def files(dir: Path, suffix: String): Int =
    if (!Files.isDirectory(dir)) 0
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala
        .count(f => Files.isRegularFile(f) && f.toString.endsWith(suffix))
      finally s.close()
    }

  def deleteTree(dir: String): Unit =
    scala.reflect.io.Path(new java.io.File(dir)).deleteRecursively()

  /** Layer metrics computed by `body`, or none when it throws: the
    * failure is recorded with its message instead. */
  def guarded(failures: collection.mutable.Buffer[String])(
      body: => Map[String, Option[Double]]): Map[String, Option[Double]] =
    try body
    catch {
      case e: Exception =>
        failures += s"${e.getClass.getName}: ${e.getMessage}"
        Map.empty
    }

  /** Median of a non-empty sample, or None when every operation failed. */
  def med(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(Stats.median(xs))
}
