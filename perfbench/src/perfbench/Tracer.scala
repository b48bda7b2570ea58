package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark-side tracer for `--trace 1` runs. It is attached only
  * during traced passes and keeps every record in memory:
  *  - one span per timed operation (opened and closed by [[Ctx.op]]),
  *    plus child spans the workloads add (a query's build phase);
  *  - Spark jobs and stages, linked to their operation through the job
  *    group [[Ctx.op]] sets, or by time window when a job carries no
  *    group (jobs submitted from threads that did not inherit it);
  *  - Catalyst phase times from each execution's QueryPlanningTracker.
  * Stages are attributed to a library module by the first `graft.`
  * frame of their call site.
  */
final class Tracer(spark: SparkSession, ctx: Ctx) extends SparkListener
    with QueryExecutionListener {

  private val sc = spark.sparkContext

  final case class Win(id: Int, name: String, pass: Int, start: Long, var end: Long)
  final case class JobRec(id: Int, op: Int, byWindow: Boolean, start: Long, var end: Long,
                          stageIds: Seq[Int], module: String)
  final class StageRec(val id: Int, val job: Int, val module: String) {
    var submitted = false
    var start = 0L
    var end = 0L
    var tasks = 0L
    var failedTasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var input = 0L
  }
  final case class CatRec(op: Int, start: Long, analysisMs: Long, optimizationMs: Long,
                          planningMs: Long)
  final case class Child(op: Int, name: String, start: Long, end: Long)

  private val wins = mutable.ArrayBuffer.empty[Win]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val cats = mutable.ArrayBuffer.empty[CatRec]
  private val children = mutable.ArrayBuffer.empty[Child]
  @volatile private var attached = false

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    CountingFs.counting = true
    attached = true
  }

  def detach(): Unit = {
    flush()
    attached = false
    CountingFs.counting = false
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def flush(): Unit = BenchBus.flush(sc)

  def opStart(id: Int, name: String): Unit =
    if (attached) synchronized { wins += Win(id, name, ctx.pass, System.currentTimeMillis(), Long.MaxValue) }

  def opEnd(id: Int): Unit = synchronized {
    wins.find(_.id == id).foreach(_.end = System.currentTimeMillis())
  }

  /** A workload-recorded child span of operation `op`. */
  def child(op: Int, name: String, start: Long, end: Long): Unit =
    if (attached) synchronized { children += Child(op, name, start, end) }

  def currentOp: Int = synchronized { wins.lastOption.map(_.id).getOrElse(-1) }

  private def opAt(t: Long): Int =
    wins.find(w => w.start <= t && t <= w.end).map(_.id).getOrElse(-1)

  // ---- Spark listener -------------------------------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val (op, byWindow) = group match {
      case Some(g) if g.startsWith("op-") => (g.drop(3).toInt, false)
      case Some(_) => (-2, false) // a check, not a timed operation
      case None => (opAt(e.time), true)
    }
    val result = e.stageInfos.maxBy(_.stageId)
    jobs(e.jobId) = JobRec(e.jobId, op, byWindow, e.time, e.time, e.stageIds,
      Tracer.moduleOf(result.details))
    e.stageInfos.foreach { s =>
      if (!stages.contains(s.stageId))
        stages(s.stageId) = new StageRec(s.stageId, e.jobId, Tracer.moduleOf(s.details))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.submitted = true
      s.start = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (e.taskInfo.failed) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
      }
    }
  }

  // ---- Catalyst -------------------------------------------------------

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
    cats += CatRec(opAt(start), start, ms(QueryPlanningTracker.ANALYSIS),
      ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  // ---- per-layer metrics ----------------------------------------------

  /** Operations of traced timed passes, by id. */
  private def tracedOps: Map[Int, OpRec] = {
    val traced = ctx.passes.filter(_.traced).map(_.pass).toSet
    ctx.ops.filter(o => traced.contains(o.pass)).map(o => o.id -> o).toMap
  }

  def opJobs(op: Int): Seq[JobRec] = synchronized { jobs.values.filter(_.op == op).toSeq }

  def opStages(ops: Set[Int]): Seq[StageRec] = synchronized {
    stages.values.filter(s => s.submitted && jobs.get(s.job).exists(j => ops.contains(j.op))).toSeq
  }

  def opCatalystS(op: Int): Double = synchronized {
    cats.filter(_.op == op).map(c => c.analysisMs + c.optimizationMs + c.planningMs).sum / 1e3
  }

  def opTaskS(op: Int): Double = opStages(Set(op)).map(_.runMs).sum / 1e3

  def buildS(op: Int): Double = synchronized {
    children.filter(c => c.op == op && c.name == "build").map(c => (c.end - c.start) / 1e3).sum
  }

  /** Wall seconds covered by the jobs of `module` in traced passes
    * (the union of their intervals). */
  def moduleSpanS(module: String): Double = synchronized {
    val ids = tracedOps.keySet
    val iv = jobs.values.filter(j => ids.contains(j.op) && j.module == module)
      .map(j => (j.start, j.end)).toSeq.sortBy(_._1)
    var total = 0L
    var cur = (-1L, -1L)
    iv.foreach { case (s, e) =>
      if (s > cur._2) { total += cur._2 - cur._1; cur = (s, e) }
      else cur = (cur._1, math.max(cur._2, e))
    }
    (total + cur._2 - cur._1) / 1e3
  }

  def metrics(wl: Workload): Unit = {
    val ops = tracedOps
    val ids = ops.keySet
    val tracedPasses = ctx.passes.filter(_.traced)
    val n = math.max(1, tracedPasses.size).toDouble
    val tracedWall = tracedPasses.map(_.wallS).sum
    val js = synchronized { jobs.values.filter(j => ids.contains(j.op)).toSeq }
    val ss = opStages(ids)
    val allStageIds = js.flatMap(_.stageIds).toSet
    val submittedIds = ss.map(_.id).toSet
    def put(name: String, v: Double, unit: String): Unit = ctx.put(name, v, unit)

    val cs = synchronized { cats.filter(c => ids.contains(c.op)).toSeq }
    put("catalyst.analysis_s", cs.map(_.analysisMs).sum / 1e3 / n, "s")
    put("catalyst.optimization_s", cs.map(_.optimizationMs).sum / 1e3 / n, "s")
    put("catalyst.planning_s", cs.map(_.planningMs).sum / 1e3 / n, "s")
    put("catalyst.executions", cs.size / n, "count")

    val taskS = ss.map(_.runMs).sum / 1e3
    put("exec.jobs", js.size / n, "count")
    put("exec.stages", ss.size / n, "count")
    put("exec.stages_skipped", (allStageIds -- submittedIds).size / n, "count")
    put("exec.tasks", ss.map(_.tasks).sum / n, "count")
    put("exec.task_s", taskS / n, "s")
    put("exec.executor_cpu_s", ss.map(_.cpuNs).sum / 1e9 / n, "s")
    put("exec.gc_s", ss.map(_.gcMs).sum / 1e3 / n, "s")
    put("exec.shuffle_write_bytes", ss.map(_.shuffleWrite).sum / n, "bytes")
    put("exec.shuffle_read_bytes", ss.map(_.shuffleRead).sum / n, "bytes")
    put("exec.spill_bytes", ss.map(_.spill).sum / n, "bytes")
    put("exec.input_bytes", ss.map(_.input).sum / n, "bytes")
    put("exec.failed_tasks", ss.map(_.failedTasks).sum / n, "count")
    put("exec.slot_util", if (tracedWall > 0) taskS / (tracedWall * ctx.cores) else 0.0, "ratio")

    Tracer.modules.foreach { m =>
      put(s"$m.jobs", js.count(_.module == m) / n, "count")
      put(s"$m.task_s", ss.filter(_.module == m).map(_.runMs).sum / 1e3 / n, "s")
    }

    val windowJobs = js.count(_.byWindow)
    ctx.info("trace.attribution") =
      if (windowJobs == 0) "all jobs linked by job group"
      else s"$windowJobs of ${js.size} jobs carried no job group and were linked by time window"

    val untraced = Stats.median(ctx.passes.filter(!_.traced).map(_.wallS).toSeq)
    val traced = Stats.median(tracedPasses.map(_.wallS).toSeq)
    put("trace.overhead", if (untraced > 0) traced / untraced - 1 else 0.0, "ratio")
  }

  def writeSpans(): Unit = synchronized {
    val out = new StringBuilder
    def line(fields: (String, Any)*): Unit = {
      out ++= fields.map { case (k, v) =>
        val js = v match {
          case s: String => Json.str(s)
          case d: Double => Json.num(d)
          case x => x.toString
        }
        s"${Json.str(k)}: $js"
      }.mkString("{", ", ", "}\n")
    }
    wins.foreach { w =>
      line("kind" -> "op", "id" -> w.id, "name" -> w.name, "pass" -> w.pass,
        "start_ms" -> w.start, "end_ms" -> w.end)
    }
    children.foreach { c =>
      line("kind" -> c.name, "parent" -> c.op, "start_ms" -> c.start, "end_ms" -> c.end)
    }
    cats.filter(_.op >= 0).foreach { c =>
      line("kind" -> "plan", "parent" -> c.op, "start_ms" -> c.start,
        "analysis_ms" -> c.analysisMs, "optimization_ms" -> c.optimizationMs,
        "planning_ms" -> c.planningMs)
    }
    jobs.values.filter(_.op >= 0).foreach { j =>
      line("kind" -> "job", "id" -> j.id, "parent" -> j.op, "start_ms" -> j.start,
        "end_ms" -> j.end, "module" -> j.module,
        "linked_by" -> (if (j.byWindow) "window" else "job_group"))
    }
    stages.values.filter(s => s.submitted && jobs.get(s.job).exists(_.op >= 0)).foreach { s =>
      line("kind" -> "stage", "id" -> s.id, "parent_job" -> s.job, "start_ms" -> s.start,
        "end_ms" -> s.end, "module" -> s.module, "tasks" -> s.tasks,
        "task_ms" -> s.runMs)
    }
    Files.writeString(Paths.get(ctx.workDir, "spans.jsonl"), out.toString)
  }
}

object Tracer {
  val modules: Seq[String] = Seq("pipelines", "io.sources", "io.sinks", "io.warehouse",
    "sources.warehouse", "operators", "functions", "streaming", "queries")

  private val prefixes: Seq[(String, String)] = Seq(
    "graft.pipelines." -> "pipelines", "graft.io.Sources" -> "io.sources",
    "graft.io.Sinks" -> "io.sinks", "graft.io.Warehouse" -> "io.warehouse",
    "graft.sources.warehouse." -> "sources.warehouse", "graft.operators." -> "operators",
    "graft.functions." -> "functions", "graft.streaming." -> "streaming",
    "graft.queries." -> "queries")

  /** Module of the first `graft.` frame of a stage call site. */
  def moduleOf(details: String): String =
    Option(details).iterator.flatMap(_.split("\n")).map(_.trim)
      .find(_.startsWith("graft.")) match {
      case Some(frame) => prefixes.collectFirst { case (p, m) if frame.startsWith(p) => m }
        .getOrElse("other")
      case None => "none"
    }
}
