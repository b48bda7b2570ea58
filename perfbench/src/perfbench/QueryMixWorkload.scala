package perfbench

import java.nio.file.{Files, Paths}

/** `query_mix`: five registry queries, each run to full
  * materialization (a `noop`-sink write, never `count()`). Pass 0 runs
  * the same write and pays the one-time artifact builds; after each of
  * its operations, untimed, the result is written again to parquet for
  * `run.py`'s DuckDB oracle compare. The seed permutes the query order.
  */
final class QueryMixWorkload(ctx: Ctx) extends Workload {
  private val spark = ctx.spark

  val names: Seq[String] = Seq("t6_repetition", "j1_multikey_left_join",
    "sql7_recursive_chain", "v8_ivf_indexed", "st6_stream_stream_join")

  private val order = new scala.util.Random(ctx.seed).shuffle(names)
  private lazy val registry = graft.queries.Registry.queries

  def setup(): Unit = {
    val oracle = graft.queries.Registry.oracleSql
    val json = names.map(n => s"${Json.str(n)}: ${Json.str(oracle(n))}").mkString("{", ", ", "}")
    Files.writeString(Paths.get(ctx.workDir, "oracle_sql.json"), json)
    ctx.info("query_order") = order.mkString(",")
  }

  def pass(p: Int): Unit = order.foreach { name =>
    ctx.op(name, "query") {
      val t0 = System.currentTimeMillis()
      val df = registry(name)(spark, ctx.dataDir)
      ctx.tracer.foreach(t => t.child(t.currentOp, "build", t0, System.currentTimeMillis()))
      df.write.format("noop").mode("overwrite").save()
      df
    } { df =>
      if (p == 0) df.write.mode("overwrite").option("compression", "none")
        .parquet(s"${ctx.workDir}/out/$name")
      None
    }
    // operators pin frames internally; evict between queries
    spark.catalog.clearCache()
  }

  def metrics(): Unit = {
    val warm = ctx.timedOps.groupBy(_.name).view.mapValues(os => Stats.median(os.map(_.wallS))).toMap
    val cold = ctx.ops.filter(_.pass == 0)
    ctx.put("engine.session_s", ctx.sessionS, "s")
    ctx.put("engine.artifact_build_s",
      cold.map(o => math.max(0.0, o.wallS - warm.getOrElse(o.name, o.wallS))).sum, "s")
    ctx.tracer.foreach { tr =>
      val traced = ctx.passes.filter(_.traced).map(_.pass).toSet
      var buildTotal = 0.0
      names.foreach { name =>
        val os = ctx.ops.filter(o => o.name == name && traced.contains(o.pass)).toSeq
        val n = math.max(1, os.size).toDouble
        val build = os.map(o => tr.buildS(o.id)).sum / n
        val plan = os.map(o => tr.opCatalystS(o.id)).sum / n
        val wall = os.map(_.wallS).sum / n
        buildTotal += build
        ctx.put(s"q.$name.build_s", build, "s")
        ctx.put(s"q.$name.plan_s", plan, "s")
        ctx.put(s"q.$name.exec_s", math.max(0.0, wall - build - plan), "s")
        ctx.put(s"q.$name.jobs", os.map(o => tr.opJobs(o.id).size).sum / n, "count")
        ctx.put(s"q.$name.slot_util",
          os.map(o => tr.opTaskS(o.id) / math.max(1e-9, o.wallS * ctx.cores)).sum / n, "ratio")
      }
      ctx.put("queries.build_s", buildTotal, "s")
    }
  }
}
