package perfbench

import java.sql.{Connection, DriverManager}
import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

import graft.io.Sources
import graft.io.Sources.{RestRequest, Transport}
import graft.pipelines.Pipelines

/** Seeded REST endpoint for the pipelines. Payloads and counters live
  * in the companion object, JVM-global: the instance is serialized into
  * every fan-out task, and a per-instance counter would be lost with
  * each copy. Every request sleeps a fixed latency; the fan-out keys in
  * `failAttempts` fail their first n attempts (n above the pipeline's
  * retry budget means the key is lost).
  */
final case class BenchTransport(latencyMs: Long) extends Transport {
  import BenchTransport._

  def apply(req: RestRequest): String = {
    val start = System.nanoTime()
    firstStart.accumulateAndGet(start, (a, b) => if (a == 0L) b else math.min(a, b))
    requests.incrementAndGet()
    try {
      Thread.sleep(latencyMs)
      val path = req.url
      val body =
        if (path.endsWith("/report")) {
          val key = req.params("content_id").toLong
          val attempt = attempts.merge(key, 1, (a: Integer, b: Integer) => a + b)
          if (attempt > 1) retries.incrementAndGet()
          if (attempt <= failAttempts.getOrDefault(key, 0)) {
            injected.incrementAndGet()
            throw new RuntimeException(s"injected failure for content $key")
          }
          fetched.incrementAndGet()
          reports.getOrDefault(key, """{"report": []}""")
        } else {
          val name = path.substring(path.lastIndexOf('/') + 1)
          Option(single.get(name)).getOrElse(
            throw new IllegalArgumentException(s"no endpoint $path"))
        }
      bytes.addAndGet(body.length)
      body
    } finally {
      val end = System.nanoTime()
      busyNs.addAndGet(end - start)
      lastEnd.accumulateAndGet(end, (a, b) => math.max(a, b))
    }
  }
}

object BenchTransport {
  val single = new ConcurrentHashMap[String, String]()
  val reports = new ConcurrentHashMap[Long, String]()
  val failAttempts = new ConcurrentHashMap[Long, Int]()
  val attempts = new ConcurrentHashMap[Long, Integer]()
  val requests, bytes, injected, retries, fetched, busyNs, firstStart, lastEnd = new AtomicLong()

  def counters: Map[String, Long] = Map("requests" -> requests.get, "bytes" -> bytes.get,
    "injected" -> injected.get, "retries" -> retries.get, "fetched" -> fetched.get,
    "busyNs" -> busyNs.get)

  def resetWindow(): Unit = { firstStart.set(0L); lastEnd.set(0L); attempts.clear() }
  def windowNs: Long = if (firstStart.get == 0L) 0L else lastEnd.get - firstStart.get
}

/** `etl_pipelines`: each pass runs E1 (REST fan-out, truncate-reload of
  * the dim, ranged overwrite of the fact) then E2 (concurrent extract,
  * CDC split, transactional dim reload and keyed merge) against
  * in-memory Derby. Payloads derive from the generated tables; the
  * generator's truth fixes the expected fact count, dim count, CDC
  * counts and the `task_tbl` checksum.
  */
final class EtlWorkload(ctx: Ctx) extends Workload {
  private val spark: SparkSession = ctx.spark
  private val url = "jdbc:derby:memory:perfbench_etl;create=true"
  private val props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }
  private val api = "https://bench.invalid"
  private val anchor = "2025-05-19"
  private val (lo, hi) = {
    val a = LocalDate.parse(anchor)
    (a.minusDays(25).toString, a.plusDays(2).toString)
  }
  private val sentinelDate = "2024-01-01"

  // The reference publishes no volumes, rates or latencies, so each
  // setting below is derived from a source in the repository
  // (perfbench/README.md, "Parameter sources").
  /** contents and tasks per pass: the reference's contents-scan bound
    * (11,000 rows, LAT:78) times the scale factor of the inputs */
  val nContents: Int = math.max(3, math.round(11000 * ctx.sf).toInt)
  val nTasks: Int = nContents
  /** the LatinAD host timeout (600 s) spread over that bound: the
    * per-request budget of a serial fetch. Timed passes wait it on every
    * request; the untimed first pass does not, so `setup_s` holds the
    * program's set-up work rather than simulated network time. */
  val latencyMs: Long = math.round(600000.0 / 11000)
  /** Fan-out key i (in content order) answers at once, fails once and
    * recovers (PipelinesSpec's FlakyOnceTransport), or fails every
    * attempt (content 9003 of LatinadTransport), by (i + seed) mod 3.
    * E2 task i is likewise an insert, an update or unchanged, the three
    * cases of PipelinesSpec's E2 fixture, one third each. */
  private def third(i: Int): Int = ((i + ctx.seed) % 3).toInt

  // generator truth
  private var expectedFacts = 0L
  private var expectedDim = 0L
  private var expectedCdc = (0L, 0L, 0L)
  private var expectedTasks = 0L
  private var expectedChecksum = 0L
  private var dimRowsE2 = 0L

  private final case class PassStat(traced: Boolean, counters: Map[String, Long], windowNs: Long,
                                    rowsLoaded: Long, e1: Double, e2: Double)
  private val stats = scala.collection.mutable.ArrayBuffer.empty[PassStat]
  private var before = Map.empty[String, Long]
  private var lastCdc = (0L, 0L, 0L)

  private def withConn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(url, props)
    try f(c) finally c.close()
  }

  private def exec(sql: String*): Unit = withConn { c =>
    val st = c.createStatement()
    try sql.foreach(st.executeUpdate) finally st.close()
  }

  private def scalar(sql: String): Long = withConn { c =>
    val rs = c.createStatement().executeQuery(sql)
    rs.next()
    rs.getLong(1)
  }

  private def iso(epochSec: Long): String =
    Instant.ofEpochSecond(epochSec).atOffset(ZoneOffset.ofHours(-4))
      .format(java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME)

  private def taskJson(id: Long, updated: Long, desc: String, team: Long, turn: Option[Long]): String =
    s"""{"id": $id, "description": "$desc", "observations": null,
       | "task_type_id": ${id % 5}, "task_type_name": "type${id % 5}", "element_id": ${55 + id % 2},
       | "project_id": 7, "created_by": {"name": "ana"}, "update_by": {"name": "luis"},
       | "state": {"name": "finished"},
       | "project": {"name": "Central", "header": "H1", "ot_number": "OT-9", "central_title": "CT"},
       | "team": {"name": "team$team", "members_name": "a;b", "id": $team,
       |          "team_group": "G", "team_company": "ACME"},
       | "turn_id": ${turn.map(_.toString).getOrElse("null")},
       | "assigned_at": "${iso(updated - 7200)}", "started_at": "${iso(updated - 5400)}",
       | "finished_at": "${iso(updated - 60)}", "original_finisched_at": "${iso(updated - 60)}",
       | "created_at": "${iso(updated - 86400)}", "updated_at": "${iso(updated)}"}"""
      .stripMargin.replace("\n", " ")

  def setup(): Unit = {
    val d = ctx.dataDir
    val supp = spark.read.parquet(s"$d/supplier.parquet").orderBy("s_suppkey").collect()
    val parts = spark.read.parquet(s"$d/part.parquet").orderBy("p_partkey").limit(nContents).collect()
    val lines = spark.read.parquet(s"$d/lineitem.parquet")
      .filter(s"l_partkey < $nContents")
      .orderBy("l_partkey", "l_orderkey", "l_linenumber").collect()
    val orders = spark.read.parquet(s"$d/orders.parquet").orderBy("o_orderkey").limit(nTasks).collect()

    // E1 endpoints: displays from suppliers (plus the tombstone row the
    // pipeline filters), contents from parts, one report per part
    BenchTransport.single.put("displays", (Seq(
      """{"id": 40660, "name": "tombstone", "company_id": 1, "audience_provider": {"id": 7, "name": "p"}}""") ++
      supp.map(r => s"""{"id": ${40661 + r.getLong(0)}, "name": "${r.getString(1)}", "company_id": ${r.getInt(2)},""" +
        s""" "audience_provider": {"id": ${r.getInt(2) % 3}, "name": "prov"}}""")).mkString("[", ",\n", "]"))
    BenchTransport.single.put("contents", parts.map { r =>
      val id = 9000 + r.getLong(0)
      val file = r.getLong(0) % 5 match {
        case 0 => "null"
        case 1 => "\"https://cdn.example/" + ("y" * 60) + ".mp4\""
        case _ => s""""https://cdn.example/$id.mp4""""
      }
      s"""{"id": $id, "name": "${r.getString(1)}", "type": "${r.getString(3)}", "file": $file,""" +
        s""" "updated_at": "2025-05-${10 + r.getLong(0) % 9}T00:00:00Z"}"""
    }.mkString("{\"data\": [", ",\n", "]}"))
    expectedDim = parts.length

    val anchorDay = LocalDate.parse(anchor)
    var facts = 0L
    val linesByPart = lines.groupBy(_.getLong(1))
    parts.map(_.getLong(0)).zipWithIndex.foreach { case (pk, i) =>
      val key = 9000 + pk
      val rows = linesByPart.getOrElse(pk, Array.empty[org.apache.spark.sql.Row])
      val failN = Seq(0, 1, 99)(third(i))
      if (failN > 0) BenchTransport.failAttempts.put(key, failN)
      val extra = pk % 10 == 3
      val body = rows.map { r =>
        val ok = r.getLong(0)
        val ln = r.getInt(3)
        val nullKey = ok % 23 == 0
        val noDate = ok % 29 == 0
        if (failN < 99 && !nullKey && !noDate) facts += 1
        val date = if (noDate) "" else anchorDay.minusDays(ok % 26).toString
        val impacts = if (ln == 3) "null" else (r.getDouble(4) * 100).toString
        s"""{"display": ${40661 + r.getLong(2)}, "content": $key, "child_content_id": null,""" +
          s""" "shows": ${r.getDouble(4).toLong}, "total_time": ${math.round(r.getDouble(5) * 10)},""" +
          s""" "date": "$date", "impacts": $impacts,""" +
          (if (extra) s""" "extra_metric": ${ln},""" else "") +
          s""" "content_display": {"display_id": ${if (nullKey) "null" else (40661 + r.getLong(2)).toString},""" +
          s""" "content_id": $key, "rules": null}}"""
      }
      BenchTransport.reports.put(key, body.mkString("{\"report\": [", ",\n", "]}"))
    }
    expectedFacts = facts

    // E2 endpoints: tasks from orders, split into insert / update /
    // unchanged thirds against the baseline
    val base = scala.collection.mutable.ArrayBuffer.empty[String]
    val incoming = scala.collection.mutable.ArrayBuffer.empty[String]
    val finalState = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
    var (ins, upd, same) = (0L, 0L, 0L)
    orders.zipWithIndex.foreach { case (r, i) =>
      val id = r.getLong(0) + 1
      val updated = r.getTimestamp(4).toInstant.getEpochSecond + 3600 * (id % 24)
      val team = r.getLong(1) % 4
      val turn = if (id % 3 == 0) None else Some(70 + id % 4)
      incoming += taskJson(id, updated, s"task $id ${r.getString(5)}", team, turn)
      third(i) match {
        case 0 => ins += 1
        case 1 =>
          upd += 1
          base += taskJson(id, updated - 86400, s"stale $id", team, turn)
        case _ =>
          same += 1
          base += taskJson(id, updated, s"task $id ${r.getString(5)}", team, turn)
      }
      finalState(id) = updated
    }
    expectedCdc = (ins, upd, same)
    expectedTasks = finalState.size
    expectedChecksum = finalState.foldLeft(0L) { case (acc, (id, ts)) => acc + id * 1000003L + ts }

    // the dimension payloads FIXTURES.md A5-A6 require: turns with 0,
    // 1, 4 and more than 4 workers, one project, a deleted and a live
    // element
    val turns = Seq(0, 1, 4, 5).zipWithIndex.map { case (nw, i) =>
      val workers = (0 until nw).map(w => s"""{"worker": {"name": "w$i-$w", "rut": "$w-$i"}}""")
      s"""{"id": ${70 + i}, "date": "2025-04-${10 + i}T00:00:00-04:00", "team_id": $i,""" +
        s""" "workers": ${workers.mkString("[", ", ", "]")}}"""
    }
    val elements = Seq(55, 56).map { i =>
      s"""{"element_type_id": 4, "commune_name": "c$i", "id": $i, "name": "Poste $i",""" +
        s""" "latitude": -33.45, "longitude": -70.60, "address": "Calle $i",""" +
        s""" "deleted_at": ${if (i == 55) "\"2025-03-01T09:00:00-04:00\"" else "null"},""" +
        s""" "enabled": true, "external_id": "E-$i"}"""
    }
    val projects = """[{"id": 7, "name": "Central", "add": "CC-100"}]"""
    BenchTransport.single.put("tasks", incoming.mkString("[", ",\n", "]"))
    BenchTransport.single.put("turns", turns.mkString("[", ",\n", "]"))
    BenchTransport.single.put("elements", elements.mkString("[", ",\n", "]"))
    BenchTransport.single.put("projects", projects)
    dimRowsE2 = turns.size + elements.size + 1

    // Derby: fact table with the load DDL, baseline task table (kept as
    // task_base for the per-pass reset), empty E2 dims
    exec(
      """CREATE TABLE report_fact ("content_key" BIGINT, "display_key" BIGINT, "content" BIGINT,
        |"display" BIGINT, "shows" BIGINT, "total_time" DOUBLE, "Fecha" VARCHAR(10),
        |"impacts" BIGINT, "extra_metric" BIGINT, "content_name" VARCHAR(64),
        |"arch" VARCHAR(80), "sk" VARCHAR(64))""".stripMargin)
    import spark.implicits._
    def parse(json: String) = Sources.parseJson(spark, spark.createDataset(Seq(json)), None)
    Pipelines.shapeTasks(parse(base.mkString("[", ",", "]"))).write.jdbc(url, "task_base", props)
    exec("""CREATE TABLE task_tbl AS SELECT * FROM task_base WITH NO DATA""",
      """CREATE INDEX task_tbl_id ON task_tbl ("id")""")
    Pipelines.shapeTurns(parse(turns.mkString("[", ",", "]"))).limit(0).write.jdbc(url, "turn_tbl", props)
    Pipelines.shapeProjects(parse(projects)).limit(0).write.jdbc(url, "project_tbl", props)
    Pipelines.shapeElements(parse(elements.mkString("[", ",", "]"))).limit(0)
      .write.jdbc(url, "element_tbl", props)

    ctx.info("etl") = s"contents=$nContents tasks=$nTasks latency_ms=$latencyMs " +
      s"fanout_thirds=clean/fail-once/lost cdc_thirds=insert/update/unchanged " +
      s"expected_facts=$expectedFacts cdc=$expectedCdc"
    resetDb()
  }

  /** Untimed: restore the baseline, so every pass sees the same
    * target state and the CDC counts repeat exactly. */
  private def resetDb(): Unit = exec(
    "DELETE FROM report_fact",
    s"""INSERT INTO report_fact VALUES
       |(1, 1, 1, 1, 0, 0.0, '$anchor', 0, 0, 'stale-in-window', '', 'x'),
       |(2, 2, 2, 2, 0, 0.0, '$sentinelDate', 0, 0, 'out-of-window', '', 'y')""".stripMargin,
    "DELETE FROM task_tbl",
    "INSERT INTO task_tbl SELECT * FROM task_base")

  override def beforePass(p: Int): Unit = {
    resetDb()
    spark.catalog.clearCache()
    BenchTransport.resetWindow()
    before = BenchTransport.counters
  }

  def pass(p: Int): Unit = {
    if (p == 0) beforePass(0)
    val transport = BenchTransport(if (p == 0) 0L else latencyMs)
    ctx.op("E1", "pipeline") {
      Pipelines.runE1(spark, transport, api, url, props, anchorDate = anchor)
    } { _ =>
      val inWindow = scalar(s"""SELECT COUNT(*) FROM report_fact WHERE "Fecha" BETWEEN '$lo' AND '$hi'""")
      val sentinel = scalar(s"""SELECT COUNT(*) FROM report_fact WHERE "Fecha" = '$sentinelDate'""")
      val dim = scalar("SELECT COUNT(*) FROM content_dim")
      val want = if (ctx.corrupt) expectedFacts + 1 else expectedFacts
      if (inWindow != want) Some(s"E1 in-window facts $inWindow, expected $want")
      else if (sentinel != 1) Some(s"E1 out-of-window sentinel rows $sentinel, expected 1")
      else if (dim != expectedDim) Some(s"E1 dim rows $dim, expected $expectedDim")
      else None
    }
    val e1Wall = ctx.ops.last.wallS
    ctx.op("E2", "pipeline") {
      Pipelines.runE2(spark, transport, api, url, props)
    } { r =>
      lastCdc = (r.split.inserts.count(), r.split.updates.count(), r.split.unchanged.count())
      val (n, sum) = withConn { c =>
        val rs = c.createStatement().executeQuery("""SELECT "id", "updated_at" FROM task_tbl""")
        var n = 0L
        var s = 0L
        while (rs.next()) { n += 1; s += rs.getLong(1) * 1000003L + rs.getTimestamp(2).toInstant.getEpochSecond }
        (n, s)
      }
      if (lastCdc != expectedCdc) Some(s"E2 CDC split $lastCdc, expected $expectedCdc")
      else if (n != expectedTasks) Some(s"E2 task rows $n, expected $expectedTasks")
      else if (sum != expectedChecksum) Some(s"E2 task checksum $sum, expected $expectedChecksum")
      else None
    }
    val e2Wall = ctx.ops.last.wallS
    spark.catalog.clearCache()
    val loaded = expectedFacts + expectedDim + expectedCdc._1 + expectedCdc._2 + dimRowsE2
    val counters = BenchTransport.counters.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
    stats += PassStat(traced = false, counters, BenchTransport.windowNs, loaded, e1Wall, e2Wall)
  }

  override def afterPass(p: Int, traced: Boolean): Unit =
    stats(stats.size - 1) = stats.last.copy(traced = traced)

  def metrics(): Unit = {
    val timed = stats.drop(1)
    val untraced = timed.filter(!_.traced)
    ctx.put("e1_s", Stats.median(untraced.map(_.e1).toSeq), "s")
    ctx.put("e2_s", Stats.median(untraced.map(_.e2).toSeq), "s")
    ctx.put("rows_loaded_per_s", Stats.median(untraced.map(s => s.rowsLoaded / (s.e1 + s.e2)).toSeq), "rows/s")
    ctx.tracer.foreach { tr =>
      val traced = timed.filter(_.traced)
      val n = math.max(1, traced.size).toDouble
      def sum(k: String) = traced.map(_.counters.getOrElse(k, 0L)).sum.toDouble
      ctx.put("extract.requests", sum("requests") / n, "count")
      ctx.put("extract.bytes", sum("bytes") / n, "bytes")
      ctx.put("extract.injected_errors", sum("injected") / n, "count")
      ctx.put("extract.retries", sum("retries") / n, "count")
      ctx.put("extract.busy_s", sum("busyNs") / 1e9 / n, "s")
      ctx.put("extract.useful_ratio", if (sum("requests") > 0) sum("fetched") / sum("requests") else 0.0, "ratio")
      val window = traced.map(_.windowNs).sum.toDouble
      ctx.put("extract.concurrency", if (window > 0) sum("busyNs") / window else 0.0, "count")
      ctx.put("load.rows", traced.map(_.rowsLoaded).sum / n, "count")
      ctx.put("load.span_s", tr.moduleSpanS("io.sinks") / n, "s")
      ctx.put("cdc.inserts", lastCdc._1.toDouble, "count")
      ctx.put("cdc.updates", lastCdc._2.toDouble, "count")
      ctx.put("cdc.unchanged", lastCdc._3.toDouble, "count")
    }
  }
}
