package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** Task totals of one span key, filled by [[SpanListener]]. */
final class TaskStats {
  var jobs = 0
  var tasks = 0L
  var runMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  /** (duration ms, read shuffle) per task: the merge-side tasks of a
    * pyramid are the ones that read a shuffle. */
  val taskMs = mutable.ArrayBuffer.empty[(Long, Boolean)]
  /** Wall intervals (ms since epoch) of this key's jobs. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def copy(): TaskStats = { val t = new TaskStats; t.add(this); t }

  def add(o: TaskStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs
    shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; recordsRead += o.recordsRead
    taskMs ++= o.taskMs; jobSpans ++= o.jobSpans
  }
}

/** Attributes every finished task to the span that was open when its job
  * was submitted. The benchmark sets the local property [[SpanListener.Key]]
  * around each call into the engine; Spark copies a thread's local
  * properties into each job it submits, including the jobs adaptive
  * execution and broadcasts start on other threads. Listener callbacks run
  * on one bus thread; readers wait for it to drain first. */
final class SpanListener extends SparkListener {
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val jobKey = mutable.HashMap.empty[Int, (String, Long)]
  private val stats = mutable.HashMap.empty[String, TaskStats]

  private def statsOf(k: String) = stats.getOrElseUpdate(k, new TaskStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = Option(e.properties).flatMap(p =>
      Option(p.getProperty(SpanListener.Key)))
      .getOrElse(SpanListener.Unattributed)
    e.stageIds.foreach(stageKey(_) = k)
    jobKey(e.jobId) = (k, e.time)
    statsOf(k).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach { case (k, t0) =>
      statsOf(k).jobSpans += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = statsOf(
        stageKey.getOrElse(e.stageId, SpanListener.Unattributed))
      val rd = m.shuffleReadMetrics
      val readBytes = rd.localBytesRead + rd.remoteBytesRead
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.shuffleReadBytes += readBytes
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.recordsRead += m.inputMetrics.recordsRead
      val dur = if (e.taskInfo != null) e.taskInfo.duration else 0L
      s.taskMs += ((dur, readBytes > 0))
    }
  }

  def snapshot(): Map[String, TaskStats] = synchronized {
    stats.map { case (k, v) => k -> v.copy() }.toMap
  }

  def clear(): Unit = synchronized(stats.clear())
}

object SpanListener {
  val Key = "perfbench.span"
  /** Key of tasks whose job ran outside every span. */
  val Unattributed = "(none)"
}

/** One call into the engine: name, parent span, request id (-1 outside
  * the serve loop), whether its jobs carried the span key, and its wall
  * interval. */
final case class SpanRec(name: String, parent: String, req: Long,
                         traced: Boolean, startNs: Long, endNs: Long,
                         startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** Listener key: request spans are keyed apart so each request's jobs
    * and input records can be read back on their own. */
  def key: String = if (req >= 0) s"$name#$req" else name
}

/** Spans around the benchmark's calls into the engine. Wall time is always
  * recorded. When `enabled`, a [[SpanListener]] collects tasks, and while
  * [[traced]] is on the span key is also put on the jobs each call
  * submits. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val listener = new SpanListener
  if (enabled) sc.addSparkListener(listener)
  @volatile private var on = enabled
  def traced: Boolean = on
  def setTraced(v: Boolean): Unit = on = v && enabled
  private val recs = mutable.ArrayBuffer.empty[SpanRec]
  private val stack = new ThreadLocal[List[String]] {
    override def initialValue(): List[String] = Nil
  }

  def spans: Seq[SpanRec] = synchronized(recs.toList)

  /** Run `f` inside span `name`; returns its value and wall seconds. */
  def span[T](name: String, req: Long = -1L)(f: => T): (T, Double) = {
    val parents = stack.get()
    val tr = traced
    val rec0 = SpanRec(name, parents.headOption.getOrElse(""), req, tr,
      0L, 0L, 0L, 0L)
    val prev = sc.getLocalProperty(SpanListener.Key)
    if (tr) sc.setLocalProperty(SpanListener.Key, rec0.key)
    stack.set(name :: parents)
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = f
      val t1 = System.nanoTime()
      synchronized(recs += rec0.copy(startNs = t0, endNs = t1,
        startMs = m0, endMs = System.currentTimeMillis()))
      (r, (t1 - t0) / 1e9)
    } finally {
      stack.set(parents)
      if (tr) sc.setLocalProperty(SpanListener.Key, prev)
    }
  }

  /** Run `f` with `parent` as the enclosing span of the spans it opens,
    * without recording a span of its own (client threads of a serve loop
    * start with an empty stack). */
  def inside[T](parent: String)(f: => T): T = {
    val saved = stack.get()
    stack.set(parent :: saved)
    try f finally stack.set(saved)
  }

  /** Per-key task totals since the last [[reset]], once the listener bus
    * has delivered every event posted so far. */
  def snapshot(): Map[String, TaskStats] = {
    Tracer.waitForListeners(sc)
    listener.snapshot()
  }

  def reset(): Unit = {
    Tracer.waitForListeners(sc)
    listener.clear()
  }
}

object Tracer {
  /** `LiveListenerBus.waitUntilEmpty` is Spark-internal; reach it
    * reflectively and fall back to a short sleep. */
  def waitForListeners(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods.filter(_.getName == "waitUntilEmpty")
        .sortBy(_.getParameterCount).headOption match {
        case Some(m) if m.getParameterCount == 0 => m.invoke(bus)
        case Some(m) => m.invoke(bus, Long.box(10000L))
        case None => Thread.sleep(500)
      }
    } catch { case _: Throwable => Thread.sleep(500) }
}
