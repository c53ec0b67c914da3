package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task-metric sums per Spark job group. A job launched without a group
  * (for example from a pool thread that never inherited the calling
  * thread's local properties) is summed under "untagged", so no job is
  * dropped. Read [[snapshot]] only after draining the listener bus. */
final class GroupSums extends SparkListener {

  final class Sums {
    var jobs, tasks, runMs, shuffleWrite, spill, input, output, wallNs = 0L
  }

  private val sums = mutable.LinkedHashMap.empty[String, Sums]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def of(g: String): Sums = sums.getOrElseUpdate(g, new Sums)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untagged")
    of(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = of(stageGroup.getOrElse(e.stageId, "untagged"))
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
      s.output += m.outputMetrics.bytesWritten
    }
  }

  /** Wall time of the calls made inside group `g`, the denominator of busy_frac. */
  def addWall(g: String, seconds: Double): Unit = synchronized {
    of(g).wallNs += (seconds * 1e9).toLong
  }

  def snapshot(): Map[String, Map[String, Any]] = synchronized {
    sums.map { case (g, s) =>
      g -> Map[String, Any]("jobs" -> s.jobs, "tasks" -> s.tasks,
        "task_run_s" -> s.runMs / 1e3, "shuffle_write_bytes" -> s.shuffleWrite,
        "spill_bytes" -> s.spill, "input_bytes" -> s.input, "output_bytes" -> s.output,
        "wall_s" -> s.wallNs / 1e9)
    }.toMap
  }
}
