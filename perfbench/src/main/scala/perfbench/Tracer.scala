package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

object Bucket {
  final case class Job(id: Int, start: Long, stages: Seq[Int], var end: Long = -1L)
  final case class Stage(id: Int, submitted: Long, completed: Long, tasks: Int)
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, schedMs: Long, gcMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, inRows: Long, inBytes: Long,
      outBytes: Long)
  final case class Exec(func: String, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, metrics: Map[String, Long])
}

/** Everything the listeners saw while one bucket was open. */
final class Bucket {
  import Bucket._

  val jobs   = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  val tasks  = ArrayBuffer.empty[Task]
  val execs  = ArrayBuffer.empty[Exec]
  /** stages whose RDD lineage starts at a DataSource V2 scan */
  val scanStages = scala.collection.mutable.Set.empty[Int]
}

/** Observes a session from outside the program: a SparkListener for
  * jobs, stages and tasks, and a QueryExecutionListener for Catalyst
  * phase times and the executed plan's SQL metrics. Events land in the
  * open bucket; [[close]] waits until the listener bus has delivered
  * everything posted before it returns the bucket.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  @volatile private var bucket: Bucket = null
  private var installed = false

  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    installed = true
  }

  def uninstall(): Unit = if (installed) {
    PerfbenchBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    installed = false
  }

  def open(): Unit = {
    PerfbenchBridge.drain(spark.sparkContext)
    bucket = new Bucket
  }

  def close(): Bucket = {
    PerfbenchBridge.drain(spark.sparkContext)
    val b = bucket
    bucket = null
    b
  }

  private def withBucket(f: Bucket => Unit): Unit = {
    val b = bucket
    if (b != null) b.synchronized(f(b))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = withBucket { b =>
    b.jobs += Bucket.Job(e.jobId, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = withBucket { b =>
    b.jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = withBucket { b =>
    if (e.stageInfo.rddInfos.exists(_.name == "DataSourceRDD"))
      b.scanStages += e.stageInfo.stageId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = withBucket { b =>
    val s = e.stageInfo
    b.stages += Bucket.Stage(s.stageId, s.submissionTime.getOrElse(-1L),
      s.completionTime.getOrElse(-1L), s.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withBucket { b =>
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val getting = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      val sched = math.max(0L, i.finishTime - i.launchTime - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - getting)
      b.tasks += Bucket.Task(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, sched, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten)
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    withBucket { b =>
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      b.execs += Bucket.Exec(func, ms("analysis"), ms("optimization"), ms("planning"),
        Tracer.planMetrics(qe.executedPlan))
    }

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Tracer {
  /** Mailbox scan metrics the per-layer report reads from executed plans. */
  val ScanMetricNames: Set[String] = Set(
    "mailboxRowsRead", "mailboxBytesRead", "mailboxFilesRead")

  /** Sums the mailbox scan metrics, and the files written by file-sink
    * commands (as `filesWritten`), over a finished plan, descending into
    * adaptive stages, command plans and subqueries.
    */
  def planMetrics(root: SparkPlan): Map[String, Long] = {
    val acc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    def walk(p: SparkPlan): Unit = {
      p.metrics.foreach { case (k, m) =>
        if (ScanMetricNames(k)) acc(k) += m.value
      }
      p match {
        case w: DataWritingCommandExec =>
          acc("filesWritten") += w.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec        => walk(s.plan)
        case c: CommandResultExec     => walk(c.commandPhysicalPlan)
        case _                        =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    acc.toMap
  }
}
