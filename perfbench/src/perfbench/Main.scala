package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. `perfbench/run.py` generates the inputs,
  * starts this main once per run and reads back `result.json`.
  *
  * Arguments: --workload <name> --data <dir> --work <dir> --seed <n>
  * --seconds <s> --trace <0|1> --sf <scale factor of the inputs> [--corrupt 1]
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(
      workload = opts("workload"), dataDir = opts("data"), workDir = opts("work"),
      seed = opts("seed").toLong, seconds = opts("seconds").toDouble,
      trace = opts.get("trace").contains("1"), corrupt = opts.get("corrupt").contains("1"),
      sf = opts("sf").toDouble)
    Files.createDirectories(Paths.get(ctx.workDir))
    val code = try { run(ctx); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.fail(s"benchmark aborted: $e")
        ctx.writeResult()
        3
    }
    System.exit(code)
  }

  private def run(ctx: Ctx): Unit = {
    // A traced run resolves every `file:` path through the counting
    // filesystem (SparkConf picks spark.* system properties up at
    // session build). It counts only during traced passes, so the
    // run's untraced passes differ from an untraced run's by one
    // volatile read per filesystem call.
    if (ctx.trace) System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val t0 = System.nanoTime()
    val spark = graft.engine.Sessions.local(ctx.cores.toString)
    ctx.sessionS = (System.nanoTime() - t0) / 1e9
    // drop any plain local filesystem cached before the setting applied
    if (ctx.trace) org.apache.hadoop.fs.FileSystem.closeAll()
    ctx.spark = spark
    val tracer = if (ctx.trace) Some(new Tracer(spark, ctx)) else None
    ctx.tracer = tracer

    val wl: Workload = ctx.workload match {
      case "etl_pipelines" => new EtlWorkload(ctx)
      case "query_mix"     => new QueryMixWorkload(ctx)
      case "warehouse_dml" => new WarehouseDmlWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t1 = System.nanoTime()
    wl.setup()
    val t2 = System.nanoTime()
    ctx.pass = 0
    wl.pass(0)
    ctx.settle()
    // set-up time of the program: the benchmark's own checks of the
    // first pass (the query_mix oracle dump among them) are left out
    ctx.setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - ctx.checkS
    ctx.info("setup") = f"session ${ctx.sessionS}%.2f s, fixture ${(t2 - t1) / 1e9}%.2f s, " +
      f"first pass ${(System.nanoTime() - t2) / 1e9}%.2f s, of which checks ${ctx.checkS}%.2f s"

    // Timed passes. Under --trace 1 the passes alternate untraced and
    // traced, so trace overhead is read off one process.
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var p = 0
    while (p < ctx.minPasses || System.nanoTime() < deadline) {
      p += 1
      ctx.pass = p
      val traced = tracer.isDefined && p % 2 == 0
      wl.beforePass(p)
      ctx.settle()
      tracer.filter(_ => traced).foreach(_.attach())
      val cpu0 = ctx.processCpuNs()
      val jit0 = ctx.jitCpuNs()
      val w0 = System.nanoTime()
      wl.pass(p)
      val wall = (System.nanoTime() - w0) / 1e9
      val jit = (ctx.jitCpuNs() - jit0) / 1e9
      val cpu = (ctx.processCpuNs() - cpu0) / 1e9 - jit
      tracer.filter(_ => traced).foreach(_.detach())
      ctx.passes += PassRec(p, traced, wall, cpu, jit)
      wl.afterPass(p, traced)
      ctx.settle()
      ctx.retainedHeapMb = math.max(ctx.retainedHeapMb, ctx.heapUsedMb())
    }
    ctx.standardMetrics()
    wl.metrics()
    tracer.foreach(_.metrics(wl))
    ctx.writeResult()
    tracer.foreach(_.writeSpans())
    spark.stop()
  }
}

/** One timed pass: wall seconds, process CPU seconds without the JIT
  * compiler threads, and those threads' CPU seconds. */
final case class PassRec(pass: Int, traced: Boolean, wallS: Double, cpuS: Double, jitS: Double)

/** One timed operation (a pipeline run, a query, a statement). */
final case class OpRec(id: Int, pass: Int, name: String, kind: String,
                       startMs: Long, endMs: Long, wallS: Double, ok: Boolean)

/** A workload: `setup` builds its fixture, pass 0 is the untimed
  * first pass (checked like every other pass), passes 1.. are timed.
  */
trait Workload {
  def setup(): Unit
  def beforePass(p: Int): Unit = ()
  def pass(p: Int): Unit
  def afterPass(p: Int, traced: Boolean): Unit = ()
  def metrics(): Unit
}

/** Run state shared by the workloads, the tracer and the result file. */
final class Ctx(val workload: String, val dataDir: String, val workDir: String,
                val seed: Long, val seconds: Double, val trace: Boolean,
                val corrupt: Boolean, val sf: Double) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  var spark: SparkSession = _
  var tracer: Option[Tracer] = None
  var sessionS = 0.0
  var setupS = 0.0
  var pass = 0
  var retainedHeapMb = 0.0
  /** a traced run needs one untraced and one traced pass */
  val minPasses: Int = if (trace) 2 else 1
  val passes = mutable.ArrayBuffer.empty[PassRec]
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val failures = mutable.ArrayBuffer.empty[String]
  /** name -> (value, unit); insertion-ordered for the record */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  private var nextOp = 0

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def fail(msg: String): Unit = synchronized { failures += s"pass $pass: $msg" }

  /** Times `body` as one operation under its own job group. A thrown
    * exception or a false `check` result counts the op as failed.
    */
  def op[A](name: String, kind: String)(body: => A)(check: A => Option[String]): Option[A] = {
    val id = nextOp
    nextOp += 1
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    tracer.foreach(_.opStart(id, name))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Exception => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    tracer.foreach(_.opEnd(id))
    sc.clearJobGroup()
    val problem = res match {
      case Left(e) => Some(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) =>
        checking(name)(try check(v) catch { case e: Exception => Some(s"$name check threw $e") })
    }
    problem.foreach(fail)
    ops += OpRec(id, pass, name, kind, startMs, endMs, wall, problem.isEmpty)
    res.toOption
  }

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of the JIT compiler threads, from /proc (0 where it is
    * missing). The first timed pass still compiles much of the code the
    * untimed pass warmed, and that compile time swamps and unsteadies
    * the program's own CPU; `cpu_s` leaves it out. `run.py` starts the
    * JVM with a fixed set of compiler threads, so none exits mid-pass. */
  def jitCpuNs(): Long = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0L
    else tasks.iterator.map { t =>
      try {
        val comm = Files.readString(t.toPath.resolve("comm")).trim
        if (!comm.startsWith("C1 Compiler") && !comm.startsWith("C2 Compiler")) 0L
        else {
          val stat = Files.readString(t.toPath.resolve("stat"))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) * 10000000L // utime + stime, 100 ticks/s
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum
  }

  def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Untimed barrier between passes: drain the listener bus, drop
    * cached frames and collect garbage, so every pass starts alike.
    */
  def settle(): Unit = {
    tracer.foreach(_.flush())
    System.gc()
  }

  def timedOps: Seq[OpRec] = ops.filter(o => o.pass > 0).toSeq
  def untracedPasses: Seq[PassRec] = passes.filter(!_.traced).toSeq

  def standardMetrics(): Unit = {
    val ps = untracedPasses
    val opsU = timedOps.filter(o => ps.exists(_.pass == o.pass))
    put("setup_s", setupS, "s")
    put("wall_s", Stats.median(ps.map(_.wallS)), "s")
    put("cpu_s", Stats.median(ps.map(_.cpuS)), "s")
    info("jit_cpu_s") = f"${Stats.median(ps.map(_.jitS))}%.2f s per timed pass (left out of cpu_s)"
    put("peak_heap_mb", retainedHeapMb, "MB")
    put("op_p50_s", Stats.median(opsU.map(_.wallS)), "s")
    val (tail, pct, n) = Stats.tail(opsU.map(_.wallS))
    put("op_tail_s", tail, "s")
    info("op_tail") = s"p$pct of n=$n ops"
    put("failed_ops_ratio", failedCount.toDouble / attempted, "ratio")
  }

  /** Untimed pass-level check (end-of-pass snapshot, pipeline
    * truth): counted with the operations in attempted/failed.
    */
  def verify(name: String)(problem: => Option[String]): Unit = {
    checks += 1
    val p = checking(name)(try problem catch { case e: Exception => Some(s"threw $e") })
    p.foreach { m => failedChecks += 1; fail(s"$name: $m") }
  }

  /** Runs a correctness check under its own job group and adds its
    * time to [[checkS]]. */
  private def checking[A](name: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup("check", s"check $name", interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body finally {
      checkS += (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
    }
  }

  /** seconds spent in correctness checks so far */
  var checkS = 0.0
  private var checks = 0L
  private var failedChecks = 0L
  def attempted: Long = math.max(1L, ops.size + checks)
  def failedCount: Long = ops.count(!_.ok) + failedChecks

  def writeResult(): Unit = {
    val sb = new StringBuilder("{")
    sb ++= s""""workload": ${Json.str(workload)}, "seed": $seed, """
    sb ++= s""""attempted": $attempted, "failed": $failedCount, """
    sb ++= s""""passes": ${passes.map(p => s"""{"pass": ${p.pass}, "traced": ${p.traced}, "wall_s": ${p.wallS}, "cpu_s": ${p.cpuS}, "jit_cpu_s": ${p.jitS}}""").mkString("[", ", ", "]")}, """
    sb ++= s""""failures": ${failures.map(Json.str).mkString("[", ", ", "]")}, """
    sb ++= s""""info": ${info.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}")}, """
    sb ++= s""""ops": ${ops.map(o => s"""[${o.pass}, ${Json.str(o.name)}, ${Json.str(o.kind)}, ${o.wallS}, ${o.ok}]""").mkString("[", ", ", "]")}, """
    sb ++= s""""metrics": ${metrics.map { case (k, (v, u)) => s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}""" }.mkString("{", ", ", "}")}"""
    sb ++= "}"
    Files.writeString(Paths.get(workDir, "result.json"), sb.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile with at least 10 samples above it:
    * (value, percentile, n). Below 20 samples it falls back to the
    * maximum (percentile 100).
    */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 100, 0)
    else if (n < 20) (s.last, 100, n)
    else {
      val pct = ((n - 10) * 100) / n
      val idx = math.max(0, math.ceil(pct / 100.0 * n).toInt - 1)
      (s(idx), pct, n)
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}
