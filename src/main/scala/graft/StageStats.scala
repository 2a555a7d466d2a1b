package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** The one per-stage listener of the measurement mains: for every stage
  * seen since the last `reset()` it records the name, task count, wall
  * time, task-time sum, maximum task time and executor CPU time.
  *
  * Events arrive on Spark's asynchronous listener bus, so a read right
  * after an action can miss that action's last `TaskEnd`; call `drain()`
  * before `reset()` (so the previous action's stragglers cannot land after
  * it) and before every read.
  */
final class StageStats(sc: SparkContext) extends SparkListener {
  import StageStats.Stage

  private val stages = scala.collection.mutable.Map.empty[Int, Stage]
  sc.addSparkListener(this)

  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, Stage(id))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stage(e.stageInfo.stageId).name =
        e.stageInfo.name.takeWhile(_ != '\n').take(60)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stage(i.stageId).wallMs =
        i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(t.stageId)
    s.tasks += 1
    if (t.taskInfo != null) {
      s.taskMs += t.taskInfo.duration
      s.maxTaskMs = math.max(s.maxTaskMs, t.taskInfo.duration)
    }
    if (t.taskMetrics != null) s.cpuNs += t.taskMetrics.executorCpuTime
  }

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = Bench.drainListenerBus(sc)

  def reset(): Unit = synchronized(stages.clear())

  /** The stages seen since the last reset, by stage id. */
  def snapshot: Seq[Stage] = synchronized {
    stages.values.map(_.copy()).toSeq.sortBy(_.id)
  }

  def maxTaskMs: Long = snapshot.map(_.maxTaskMs).maxOption.getOrElse(0L)
  def taskMs: Long = snapshot.map(_.taskMs).sum
  def cpuNs: Long = snapshot.map(_.cpuNs).sum
  def tasks: Int = snapshot.map(_.tasks).sum
}

object StageStats {
  final case class Stage(id: Int, var name: String = "", var tasks: Int = 0,
                         var wallMs: Long = 0L, var taskMs: Long = 0L,
                         var maxTaskMs: Long = 0L, var cpuNs: Long = 0L)
}
