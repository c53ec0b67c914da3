package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, core}

/** Dev tool: where a query's time goes, from one command. For each named
  * [[SparkEntry.queries]] row it runs one untimed warm-up, then one timed
  * run through the noop sink (DataFrame build included), and prints
  *  - `stage` rows: ms, tasks, shuffle read/write bytes, disk spill bytes;
  *  - `op` rows: the final adaptive plan, one physical operator per line
  *    (indented by depth) with its output rows and every other non-zero
  *    SQLMetric;
  *  - a `total` line: wall ms, job/stage/task counts, summed stage ms.
  *
  * Usage: `runMain graft.tools.Probe <sfDir> <query...>`. For the plan
  * text alone use `PlanCheck <sfDir> <query...>`. */
object Probe {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Probe <sfDir> <query...>")
    val spark = core.Sessions.local(appName = "graft-probe")
    try run(spark, args(0), args.drop(1).toSeq)
    finally spark.stop()
  }

  /** Job/stage events of one run plus the noop write's QueryExecution.
    * Both listener interfaces deliver on Spark's shared listener queue, so
    * once the write's execution-end arrives, every job and stage event
    * posted before it has arrived too. */
  private final class Recorder extends SparkListener with QueryExecutionListener {
    val jobs = new AtomicInteger
    val stages = new ConcurrentLinkedQueue[StageInfo]
    @volatile var written: Promise[QueryExecution] = Promise()
    def reset(): Unit = { jobs.set(0); stages.clear(); written = Promise() }

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo)
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (qe.logical.isInstanceOf[V2WriteCommand]) written.trySuccess(qe)
    // a failed write throws out of save() before anything waits on `written`
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def run(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try names.foreach { n =>
      require(SparkEntry.queries.contains(n), s"unknown query: $n")
      def noopRun(): (Double, QueryExecution) = {
        rec.reset()
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        val ms = (System.nanoTime() - t0) / 1e6
        (ms, Await.result(rec.written.future, 1.minute))
      }
      noopRun() // warm-up: codegen, JIT, listing and relation caches
      val (wallMs, qe) = noopRun()

      val stages = rec.stages.asScala.toSeq.sortBy(_.stageId)
      println(f"[probe] $n stage ${"id"}%5s ${"ms"}%7s ${"tasks"}%6s " +
        f"${"shufRead"}%12s ${"shufWrite"}%12s ${"spill"}%12s  name")
      val stageMs = stages.map { i =>
        val ms = (for (c <- i.completionTime; s <- i.submissionTime) yield c - s).getOrElse(0L)
        val m = Option(i.taskMetrics)
        println(f"[probe] $n stage ${i.stageId}%5d $ms%7d ${i.numTasks}%6d " +
          f"${m.fold(0L)(_.shuffleReadMetrics.totalBytesRead)}%12d " +
          f"${m.fold(0L)(_.shuffleWriteMetrics.bytesWritten)}%12d " +
          f"${m.fold(0L)(_.diskBytesSpilled)}%12d  ${i.name.takeWhile(_ != '\n').take(60)}")
        ms
      }
      operators(qe.executedPlan).foreach { case (depth, p) =>
        val rows = p.metrics.get("numOutputRows").map(r => s" rows=${r.value}").getOrElse("")
        val rest = p.metrics.toSeq.sortBy(_._1).collect {
          case (k, m) if k != "numOutputRows" && m.value > 0 => s" $k=${show(m)}"
        }.mkString
        println(s"[probe] $n op    ${"  " * depth}${p.nodeName}$rows$rest")
      }
      println(f"[probe] $n total wall=$wallMs%.0f ms jobs=${rec.jobs.get} " +
        f"stages=${stages.size} tasks=${stages.map(_.numTasks).sum} stageSum=${stageMs.sum} ms")
      Console.flush()
    } finally {
      spark.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
    }
  }

  /** Pre-order walk of the executed plan with depths, looking through the
    * adaptive wrapper and query stages to the operators that ran, and into
    * subquery plans. */
  private def operators(p: SparkPlan, depth: Int = 0): Seq[(Int, SparkPlan)] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan, depth)
    case s: QueryStageExec => operators(s.plan, depth)
    case _ => (depth, p) +: (p.children ++ p.subqueries).flatMap(operators(_, depth + 1))
  }

  private def show(m: SQLMetric): String = m.metricType match {
    case "size" => s"${m.value}B"
    case "timing" => s"${m.value}ms"
    case "nsTiming" => f"${m.value / 1e6}%.1fms"
    case _ => m.value.toString
  }
}
