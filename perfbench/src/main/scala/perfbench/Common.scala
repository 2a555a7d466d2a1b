package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Dataset, Observation, Row, SparkSession}

object Stats {
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Minimal JSON writer for the records (numbers keep every digit). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(String.format("\\u%04x", Int.box(c.toInt)))
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case other => str(other.toString)
  }
}

/** JVM-wide measurements. */
object Jvm {
  private lazy val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Total Janino compile time Spark has recorded (its histogram keeps a
    * sample, so count × mean rather than a sum). */
  def codegenMs: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }

  /** Run `f` from a collected heap. Returns its value, the peak
    * old-generation occupancy while it ran, and the heap still live after
    * a full collection once it returned (MB). */
  def heapOf[T](f: => T): (T, Double, Double) = {
    System.gc()
    oldGen.foreach(_.resetPeakUsage())
    val r = f
    val peak = oldGen.map(_.getPeakUsage.getUsed / 1048576.0).getOrElse(-1.0)
    System.gc()
    (r, peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      1048576.0)
  }

  /** CPU time of every thread of this JVM, in seconds. */
  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9

  def options: Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
}

/** Host load, read from /proc the same way the engine's Bench main does:
  * the 1-minute load average, and the hypervisor steal share of all CPU
  * ticks between two readings. */
object HostLoad {
  def loadavg1: Double =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (steal ticks, all ticks) of the aggregate cpu line. */
  def cpuTicks: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val l = src.getLines().find(_.startsWith("cpu ")).get.trim
          .split("\\s+").drop(1).map(_.toLong)
        (if (l.length > 7) l(7) else 0L, l.sum)
      } finally src.close()
    } catch { case _: Throwable => (0L, 0L) }

  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else -1.0
}

/** State shared by a workload's phases: the session, the tracer, the
  * run's own directory, and the tally of attempted and failed operations
  * (an engine call that throws, or a check that does not hold). */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val dir: String, val dataDir: String, val seed: Long,
                val seconds: Double, val tiny: Boolean) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Free-form evidence for the full record. */
  val notes = new java.util.concurrent.ConcurrentHashMap[String, Any]().asScala

  private def tally(name: String, ok: Boolean, why: String): Unit =
    synchronized {
      attempted += 1
      if (!ok) { failed += 1; failures += s"$name: $why" }
    }

  def check(name: String)(ok: => Boolean): Boolean = {
    val (r, why) = try (ok, "check failed") catch {
      case e: Throwable => (false, e.toString)
    }
    tally(name, r, why)
    r
  }

  /** An engine call counted as one operation; a throw is recorded as a
    * failure and rethrown so the iteration is dropped. */
  def op[T](name: String)(f: => T): T = {
    val r = try f catch {
      case e: Throwable => tally(name, ok = false, e.toString); throw e
    }
    tally(name, ok = true, "")
    r
  }

  def span[T](name: String, req: Long = -1L)(f: => T): (T, Double) =
    tracer.span(name, req)(op(name)(f))

  def rng(salt: Long): scala.util.Random = new scala.util.Random(
    seed * 0x9E3779B97F4A7C15L + salt)
}

object Force {
  /** Run `ds` to completion through the noop sink: every column is
    * computed and nothing is kept. `.count()` would let the optimizer
    * prune columns that are never read. */
  def noop(ds: Dataset[_]): Unit =
    ds.write.format("noop").mode("overwrite").save()

  /** Noop-force `ds` while observing aggregates over every row; returns
    * their values in order. */
  def observed(ds: Dataset[_], aggs: Column*): Row = {
    val obs = new Observation()
    val named = aggs.zipWithIndex.map { case (a, i) => a.as(s"a$i") }
    noop(ds.observe(obs, named.head, named.tail: _*))
    val m = obs.get
    Row.fromSeq(named.indices.map(i => m(s"a$i")))
  }
}
