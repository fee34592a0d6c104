package perfbench

import java.io.File
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import perfbench.Main.Run

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** Per-layer metrics of a traced run. Times and counts are means per
  * traced query (ingests excluded); ratios are taken over sums.
  */
object Layers {

  def apply(runs: Seq[Run], wl: Workload, cpus: Int, sessionS: Double,
      tableCalls: Seq[(Double, Int)],
      planCalls: Seq[(Double, Int, Int)]): Map[String, Double] = {
    val queries  = wl.ops.collect { case q: QueryOp => q.name }.toSet
    val statsAgg = wl.ops.collect { case q: QueryOp if q.statsAggregate => q.name }.toSet
    val traced   = runs.filter(r => r.traced && queries(r.name) && r.bucket.isDefined)
    val n        = traced.size.max(1).toDouble

    def perQuery(f: (Run, Bucket) => Double): Double =
      traced.map(r => f(r, r.bucket.get)).sum / n
    def plan(b: Bucket, k: String): Double =
      b.execs.map(_.metrics.getOrElse(k, 0L)).sum.toDouble
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den

    /** query wall time during which no task of the query was running */
    def idle(r: Run, b: Bucket): Double = {
      val spans = b.tasks.map(t => (math.max(t.launch, r.startMs), math.min(t.finish, r.endMs)))
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var busy = 0L
      var curS = -1L
      var curE = -1L
      spans.foreach { case (s, e) =>
        if (s > curE) { busy += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      busy += curE - curS
      math.max(0.0, (r.endMs - r.startMs - busy) / 1000.0)
    }

    val statsRuns = traced.filter(r => statsAgg(r.name))
    val answered  = statsRuns.count { r =>
      val b = r.bucket.get
      plan(b, "mailboxFilesRead") == 0 && plan(b, "mailboxBytesRead") == 0
    }
    val tracedAll   = runs.filter(_.traced).map(_.latency).sum
    val untracedAll = runs.filterNot(_.traced).map(_.latency).sum

    Map(
      "session.start_s" -> sessionS,
      "source.plan_s" -> mean(planCalls.map(_._1)),
      "source.partitions" -> mean(planCalls.map(_._2.toDouble)),
      "source.exact_plan_ratio" ->
        ratio(planCalls.map(_._3).sum.toDouble, planCalls.map(_._2).sum.toDouble),
      "source.stats_answer_ratio" -> ratio(answered.toDouble, statsRuns.size.toDouble),
      "source.rows_read" -> perQuery((_, b) => plan(b, "mailboxRowsRead")),
      "source.bytes_read" -> perQuery((_, b) => plan(b, "mailboxBytesRead")),
      "source.files_read" -> perQuery((_, b) => plan(b, "mailboxFilesRead")),
      "source.read_task_s" -> perQuery((_, b) =>
        b.tasks.filter(t => b.scanStages(t.stage)).map(_.runMs).sum / 1000.0),
      "source.index_build_s" -> mean(wl.indexBuilds),
      "tables.resolve_s" -> mean(tableCalls.map(_._1)),
      "tables.resolve_jobs" -> mean(tableCalls.map(_._2.toDouble)),
      "ops.construct_s" -> perQuery((r, _) => r.construct),
      "ops.construct_jobs" -> perQuery((r, b) => b.jobs.count(_.start < r.actionStartMs).toDouble),
      "ops.construct_share" -> ratio(traced.map(_.construct).sum, traced.map(_.latency).sum),
      "catalyst.analysis_s" -> perQuery((_, b) => b.execs.map(_.analysisMs).sum / 1000.0),
      "catalyst.optimization_s" -> perQuery((_, b) => b.execs.map(_.optimizationMs).sum / 1000.0),
      "catalyst.planning_s" -> perQuery((_, b) => b.execs.map(_.planningMs).sum / 1000.0),
      "exec.jobs" -> perQuery((_, b) => b.jobs.size.toDouble),
      "exec.stages" -> perQuery((_, b) => b.stages.size.toDouble),
      "exec.tasks" -> perQuery((_, b) => b.tasks.size.toDouble),
      "exec.task_s" -> perQuery((_, b) => b.tasks.map(_.runMs).sum / 1000.0),
      "exec.task_cpu_s" -> perQuery((_, b) => b.tasks.map(_.cpuNs).sum / 1e9),
      "exec.sched_delay_s" -> perQuery((_, b) => b.tasks.map(_.schedMs).sum / 1000.0),
      "exec.idle_s" -> perQuery(idle),
      "exec.core_util" -> ratio(
        traced.map(r => r.bucket.get.tasks.map(t => (t.finish - t.launch).toDouble).sum).sum,
        traced.map(r => (r.endMs - r.startMs).toDouble * cpus).sum),
      "exec.gc_s" -> perQuery((_, b) => b.tasks.map(_.gcMs).sum / 1000.0),
      "exec.shuffle_read_bytes" -> perQuery((_, b) => b.tasks.map(_.shuffleRead).sum.toDouble),
      "exec.shuffle_write_bytes" -> perQuery((_, b) => b.tasks.map(_.shuffleWrite).sum.toDouble),
      "exec.spill_bytes" -> perQuery((_, b) => b.tasks.map(_.spill).sum.toDouble),
      "exec.input_rows" -> perQuery((_, b) => b.tasks.map(_.inRows).sum.toDouble),
      "exec.input_bytes" -> perQuery((_, b) => b.tasks.map(_.inBytes).sum.toDouble),
      "pin.bytes_held" -> perQuery((r, _) => r.pins._1.toDouble),
      "pin.rdds_held" -> perQuery((r, _) => r.pins._2.toDouble),
      "pin.cached_plans" -> perQuery((r, _) => r.pins._3.toDouble),
      "sink.bytes_written" -> perQuery((_, b) => b.tasks.map(_.outBytes).sum.toDouble),
      "sink.files_written" -> perQuery((_, b) => plan(b, "filesWritten")),
      "trace.overhead_ratio" -> ratio(tracedAll, untracedAll)
    )
  }
}

/** The span tree of a run, written as JSON lines: run → pass → query →
  * construct/action → job → stage. Jobs and stages exist for traced
  * passes only. Times are epoch milliseconds.
  */
object Spans {

  def write(f: File, workload: String, runStartMs: Long, runs: Seq[Run]): Unit = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    var next = 0L
    def span(parent: Long, kind: String, name: String, start: Long, end: Long,
        attrs: Map[String, Any] = Map.empty): Long = {
      next += 1
      lines += Json(Map("id" -> next, "parent" -> (if (parent == 0) null else parent),
        "kind" -> kind, "name" -> name, "start_ms" -> start, "end_ms" -> end) ++ attrs)
      next
    }
    val runEnd = if (runs.isEmpty) runStartMs else runs.map(_.endMs).max
    val root = span(0, "run", workload, runStartMs, runEnd)
    runs.groupBy(_.pass).toSeq.sortBy(_._1).foreach { case (p, rs) =>
      val pass = span(root, "pass", p.toString, rs.map(_.startMs).min, rs.map(_.endMs).max,
        Map("traced" -> rs.head.traced))
      rs.sortBy(_.startMs).foreach { r =>
        val q = span(pass, "query", r.name, r.startMs, r.endMs, Map("ok" -> r.ok))
        val c = span(q, "construct", r.name, r.startMs, r.actionStartMs)
        val a = span(q, "action", r.name, r.actionStartMs, r.endMs)
        r.bucket.foreach { b =>
          val stageJob = scala.collection.mutable.Map.empty[Int, Long]
          b.jobs.foreach { j =>
            val id = span(if (j.start < r.actionStartMs) c else a, "job", j.id.toString,
              j.start, j.end, Map("job_id" -> j.id))
            j.stages.foreach(s => stageJob.getOrElseUpdate(s, id))
          }
          b.stages.foreach { s =>
            span(stageJob.getOrElse(s.id, a), "stage", s.id.toString, s.submitted,
              s.completed, Map("stage_id" -> s.id, "tasks" -> s.tasks))
          }
        }
      }
    }
    f.getParentFile.mkdirs()
    Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
  }
}
