package graft

import java.nio.file.Files
import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.JobCounter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Sources
import graft.io.Sources.{RestRequest, Transport}
import graft.pipelines.Pipelines

/** End-to-end pipeline tests: E1 (extract → fan-out → union → join →
  * shape → ranged overwrite) and E2 (concurrent extract → flatten →
  * CDC split → transactional dim reload + keyed merge), driven by the
  * FIXTURES.md payload shapes over a fixture transport and an
  * embedded-Derby warehouse.
  */
/** Fixtures + transports live OUTSIDE the suite so the transport
  * closures serialize to executors without dragging ScalaTest state.
  */
object PipelineFixtures {

  // ---- FIXTURES.md §A payloads -------------------------------------

  val displaysJson =
    """[
      |{"id": 40660, "name": "tombstone", "company_id": 1,
      | "audience_provider": {"id": 7, "name": "prov"}},
      |{"id": 40661, "name": "Pantalla Centro", "company_id": 283,
      | "audience_provider": {"id": 7, "name": "prov"}},
      |{"id": 40662, "name": "Pantalla Norte", "company_id": 283,
      | "audience_provider": {"id": 8, "name": "prov2"}}
      |]""".stripMargin

  val contentsJson =
    s"""{"data": [
      |{"id": 9001, "name": "spot.mp4", "type": "video",
      | "file": "https://cdn.example/x.mp4", "updated_at": "2025-05-19T00:00:00Z"},
      |{"id": 9002, "name": "long.mp4", "type": "video",
      | "file": "https://cdn.example/${"y" * 60}.mp4", "updated_at": "2025-05-18T00:00:00Z"},
      |{"id": 9003, "name": "nofile.mp4", "type": "video",
      | "file": null, "updated_at": "2025-05-17T00:00:00Z"}
      |]}""".stripMargin

  // 9001: normal rows + a null-impacts row + a null-key row + an
  // empty-date row; 9002: adds a column 9001 lacks (schema drift);
  // 9003: transport failure (exercises the failed-key accumulator)
  val report9001 =
    """{"report": [
      |{"display": 40661, "content": 9001, "child_content_id": null, "shows": 120,
      | "total_time": 180000, "date": "2025-05-19", "impacts": 3400.0,
      | "content_display": {"display_id": 40661, "content_id": 9001, "rules": null}},
      |{"display": 40662, "content": 9001, "child_content_id": null, "shows": 5,
      | "total_time": 1000, "date": "2025-05-18", "impacts": null,
      | "content_display": {"display_id": 40662, "content_id": 9001, "rules": null}},
      |{"display": 40662, "content": 9001, "child_content_id": null, "shows": 1,
      | "total_time": 10, "date": "2025-05-18", "impacts": 1.0,
      | "content_display": {"display_id": null, "content_id": 9001, "rules": null}},
      |{"display": 40661, "content": 9001, "child_content_id": null, "shows": 2,
      | "total_time": 20, "date": "", "impacts": 2.0,
      | "content_display": {"display_id": 40661, "content_id": 9001, "rules": null}}
      |]}""".stripMargin

  val report9002 =
    """{"report": [
      |{"display": 40661, "content": 9002, "child_content_id": null, "shows": 7,
      | "total_time": 7000, "date": "2025-05-19", "impacts": 70.0, "extra_metric": 1,
      | "content_display": {"display_id": 40661, "content_id": 9002, "rules": null}}
      |]}""".stripMargin

  /** Fails the FIRST attempt for every key, succeeds after — retry
    * coverage for the fan-out scan.
    */
  class FlakyOnceTransport extends Transport {
    import java.util.concurrent.ConcurrentHashMap
    private val seen = new ConcurrentHashMap[String, Boolean]()
    def apply(req: RestRequest): String = {
      val key = req.params("content_id")
      if (seen.putIfAbsent(key, true) == null)
        throw new RuntimeException(s"transient for $key")
      s"""{"report": [{"content": $key, "ok": true}]}"""
    }
  }

  class LatinadTransport extends Transport {
    def apply(req: RestRequest): String = {
      val path = req.url
      if (path.endsWith("/displays")) displaysJson
      else if (path.endsWith("/contents")) {
        // S2 pushdown params must reach the server
        require(req.params("order[0][dir]") == "desc" && req.params("length") == "11000",
          s"missing order/limit pushdown params: ${req.params}")
        contentsJson
      } else if (path.endsWith("/report")) req.params("content_id") match {
        case "9001" => report9001
        case "9002" => report9002
        case other  => throw new RuntimeException(s"boom for $other") // 9003
      } else throw new IllegalArgumentException(s"no fixture for $path")
    }
  }

}

class PipelinesSpec extends AnyFunSuite {
  import PipelineFixtures._
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dbDir = {
    val d = Files.createTempDirectory("graft_derby_pipe").toFile
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", d.getAbsolutePath)
    d.getAbsolutePath
  }
  private lazy val url = s"jdbc:derby:$dbDir/pipedb;create=true"
  private def props: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  // Derby stores Spark-written strings as CLOB, which cannot be
  // compared against literals inside the DB — keep assertion filters
  // on the Spark side.
  private def readTable(table: String) =
    spark.read.option("pushDownPredicate", "false").jdbc(url, table, props)

  /** Pre-create an E1 fact table (the reference loads into existing
    * warehouse DDL) with one in-window row (must be replaced) and one
    * out-of-window row (must survive).
    */
  private def createFactTable(table: String): Unit = {
    val conn = DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        s"""CREATE TABLE $table (
          |"content_key" BIGINT, "display_key" BIGINT, "content" BIGINT,
          |"display" BIGINT, "shows" BIGINT, "total_time" DOUBLE,
          |"Fecha" VARCHAR(10), "impacts" BIGINT, "extra_metric" BIGINT,
          |"content_name" VARCHAR(64), "arch" VARCHAR(80), "sk" VARCHAR(64))""".stripMargin)
      st.executeUpdate(
        s"""INSERT INTO $table VALUES
          |(1, 1, 1, 1, 0, 0.0, '2025-05-01', 0, 0, 'stale-in-window', '', 'x'),
          |(2, 2, 2, 2, 0, 0.0, '2024-01-01', 0, 0, 'old-out-of-window', '', 'y')""".stripMargin)
      st.close()
    } finally conn.close()
  }

  test("E1: fan-out union join shape → ranged overwrite; failed key lands in accumulator") {
    createFactTable("report_fact")

    val shaped = Pipelines.runE1(spark, new LatinadTransport(), "https://api.test",
      url, props, anchorDate = "2025-05-19")

    // shaping: 5 fan-out rows → minus null-key row (P9) minus
    // empty-date row (P8) = 3 facts
    assert(shaped.count() == 3)
    assert(!shaped.columns.contains("content_display_rules")) // P5
    assert(!shaped.columns.contains("child_content_id")) // P6 all-null

    val facts = readTable("report_fact")
    // in-window stale row replaced, out-of-window row survived (K3)
    assert(facts.count() == 4)
    assert(facts.filter(col("content_name") === "old-out-of-window").count() == 1)
    assert(facts.filter(col("content_name") === "stale-in-window").count() == 0)
    // F11: null impacts → 0; F5: long/null file → "" in the dim join
    assert(facts.filter(col("content_key") === 9001 && col("impacts") === 0).count() == 1)
    // F7 surrogate key = content+display+Fecha
    assert(facts.filter(col("sk") === "9001406612025-05-19").count() == 1)

    // dim truncate-reloaded with the 3 contents; F5 cap applied
    val dim = readTable("content_dim")
    assert(dim.count() == 3)
    assert(dim.filter(col("arch") === "").count() == 2) // long + null file

    // S3 failure accumulator holds the ACTUAL failed key
    // (the fan-out already ran inside runE1's sinks)
    val fanOut = Sources.fanOutScan(spark, new LatinadTransport(),
      Seq(9001L, 9002L, 9003L), id => RestRequest("https://api.test/report",
        params = Map("content_id" -> id.toString)))
    assert(fanOut.payloads.count() == 2)
    assert(fanOut.failedKeys.value.toArray.toSeq == Seq(9003L))
  }

  test("E1 re-run for the same anchorDate reproduces the dim and fact tables exactly") {
    // the dim does not exist yet: the first run's load creates it
    createFactTable("rerun_fact")
    def runOnce(): (Seq[String], Seq[String]) = {
      Pipelines.runE1(spark, new LatinadTransport(), "https://api.test", url, props,
        anchorDate = "2025-05-19", factTable = "rerun_fact", dimTable = "rerun_dim")
      def rows(t: String) = readTable(t).collect().map(_.toString).toSeq.sorted
      (rows("rerun_dim"), rows("rerun_fact"))
    }
    val first = runOnce()
    assert(first._1.size == 3 && first._2.size == 4)
    assert(runOnce() == first)
  }

  test("E1's report window from java.time equals Spark's date_sub/date_add") {
    // leap day, year boundary and month ends
    for (anchor <- Seq("2025-05-19", "2024-03-01", "2025-01-10", "2025-03-31")) {
      val expected = spark.range(1).select(
        date_sub(lit(anchor), 25).cast("string"), date_add(lit(anchor), 2).cast("string"))
        .as[(String, String)].head()
      assert(Pipelines.reportWindow(anchor) == expected, anchor)
    }
    assert(Pipelines.reportWindow("2024-03-01") == ("2024-02-05", "2024-03-03"))
    // a non-ISO anchor fails on the driver instead of becoming null dates
    intercept[java.time.format.DateTimeParseException](Pipelines.reportWindow("19/05/2025"))
  }

  test("an E1 run whose load fails leaves the session's cached RDDs as they were") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // no `create=true`: the load cannot connect, after the fan-out has run
    val missingDb = s"jdbc:derby:$dbDir/no_such_db"
    intercept[java.sql.SQLException](Pipelines.runE1(spark, new LatinadTransport(),
      "https://api.test", missingDb, props, anchorDate = "2025-05-19"))
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("fan-out retries transient failures; only permanently-failing keys accumulate") {
    val fanOut = Sources.fanOutScan(spark, new FlakyOnceTransport(),
      Seq(1L, 2L, 3L), id => RestRequest("https://api.test/report",
        params = Map("content_id" -> id.toString)))
    // every key fails once then succeeds within the retry budget
    assert(fanOut.payloads.count() == 3)
    assert(fanOut.failedKeys.value.isEmpty)
  }

  // ---- E2 fixtures (FIXTURES.md A4-A7) -----------------------------

  def taskJson(id: Long, updated: String, desc: String) =
    s"""{"id": $id, "description": "$desc", "observations": null,
       | "task_type_id": 2, "task_type_name": "inspeccion", "element_id": 55,
       | "project_id": 7, "created_by": {"name": "Ana"}, "update_by": {"name": "Luis"},
       | "state": {"name": "finished"},
       | "project": {"name": "Central", "header": "H1", "ot_number": "OT-9",
       |             "central_title": "CT"},
       | "team": {"name": "Cuadrilla 1", "members_name": "Ana;Luis", "id": 3,
       |          "team_group": "G", "team_company": "ACME"},
       | "turn_id": null,
       | "assigned_at": "2025-04-04T08:00:00-04:00",
       | "started_at": "2025-04-04T08:30:00-04:00",
       | "finished_at": "2025-04-04T10:00:00-04:00",
       | "original_finisched_at": "2025-04-04T10:00:00-04:00",
       | "created_at": "2025-04-01T12:00:00-04:00",
       | "updated_at": "$updated"}""".stripMargin.replaceAll("\n", " ")

  val turnsJson =
    """[
      |{"id": 70, "date": "2025-04-04T00:00:00-04:00", "team_id": 3, "workers": [
      |  {"worker": {"name": "Ana Diaz", "rut": "11.111.111-1"}},
      |  {"worker": {"name": "Luis Soto", "rut": "22.222.222-2"}}]},
      |{"id": 71, "date": "2025-04-05T00:00:00-04:00", "team_id": 3, "workers": []},
      |{"id": 72, "date": "2025-04-06T00:00:00-04:00", "team_id": 4, "workers": [
      |  {"worker": {"name": "W1", "rut": "1-1"}}, {"worker": {"name": "W2", "rut": "2-2"}},
      |  {"worker": {"name": "W3", "rut": "3-3"}}, {"worker": {"name": "W4", "rut": "4-4"}},
      |  {"worker": {"name": "W5", "rut": "5-5"}}]}
      |]""".stripMargin

  val projectsJson = """[{"id": 7, "name": "Central", "add": "CC-100"}]"""

  val elementsJson =
    """[{"element_type_id": 4, "commune_name": "Nunoa", "id": 55, "name": "Poste 55",
      | "latitude": -33.45, "longitude": -70.60, "address": "Calle Y 9",
      | "deleted_at": "2025-03-01T09:00:00-04:00", "enabled": true,
      | "external_id": "E-55"}]""".stripMargin

  class SercomTransport(tasks: String) extends Transport {
    def apply(req: RestRequest): String = {
      val path = req.url
      if (path.endsWith("/tasks")) {
        // S4: expand[] projection pushdown must reach the server
        require(req.params.exists { case (k, v) => k.startsWith("expand[") && v == "team" },
          s"missing expand[] pushdown: ${req.params}")
        tasks
      }
      else if (path.endsWith("/turns")) turnsJson
      else if (path.endsWith("/projects")) projectsJson
      else if (path.endsWith("/elements")) elementsJson
      else throw new IllegalArgumentException(s"no fixture for $path")
    }
  }

  test("E2: concurrent extract → CDC split → transactional dim reload + keyed merge") {
    // seed the warehouse: task 1 (old version) + task 2 (current) via
    // the same shaping the pipeline uses, so schemas line up exactly
    val seedJson = s"[${taskJson(1, "2025-04-01T00:00:00-04:00", "old-desc")}," +
      s"${taskJson(2, "2025-04-04T10:05:00-04:00", "current")}]"
    val seed = Pipelines.shapeTasks(
      Sources.parseJson(spark, spark.createDataset(Seq(seedJson)), None))
    seed.write.jdbc(url, "task_tbl", props)
    // dims pre-exist as empty tables with the load schema
    Pipelines.shapeTurns(
      Sources.parseJson(spark, spark.createDataset(Seq(turnsJson)), None))
      .limit(0).write.jdbc(url, "turn_tbl", props)
    Pipelines.shapeProjects(
      Sources.parseJson(spark, spark.createDataset(Seq(projectsJson)), None))
      .limit(0).write.jdbc(url, "project_tbl", props)
    Pipelines.shapeElements(
      Sources.parseJson(spark, spark.createDataset(Seq(elementsJson)), None))
      .limit(0).write.jdbc(url, "element_tbl", props)

    // incoming extract: task 1 newer (update), task 2 same version
    // (unchanged), task 3 new (insert)
    val incoming = s"[${taskJson(1, "2025-04-05T00:00:00-04:00", "new-desc")}," +
      s"${taskJson(2, "2025-04-04T10:05:00-04:00", "current")}," +
      s"${taskJson(3, "2025-04-06T00:00:00-04:00", "brand-new")}]"

    val result = Pipelines.runE2(spark, new SercomTransport(incoming),
      "https://sercom.test", url, props)

    assert(result.split.inserts.select("id").as[Long].collect().toSeq == Seq(3L))
    assert(result.split.updates.select("id").as[Long].collect().toSeq == Seq(1L))
    assert(result.split.unchanged.select("id").as[Long].collect().toSeq == Seq(2L))

    val tasksDb = readTable("task_tbl")
    assert(tasksDb.count() == 3)
    assert(tasksDb.filter(col("id") === 1).select("description").as[String].head() == "new-desc")
    assert(tasksDb.filter(col("id") === 2).select("description").as[String].head() == "current")
    assert(tasksDb.filter(col("id") === 3).select("description").as[String].head() == "brand-new")
    // F12 frame-wide fill: null turn_id → 0, null observations → "0"
    assert(tasksDb.filter(col("id") === 3).select("turn_id").as[Long].head() == 0L)
    assert(tasksDb.filter(col("id") === 3).select("observations").as[String].head() == "0")

    // dims transactionally reloaded: J4 widen with 0/2/5 workers
    val turnsDb = readTable("turn_tbl").orderBy("id")
    assert(turnsDb.count() == 3)
    val w = turnsDb.select("id", "worker_name_1", "worker_name_2", "worker_name_4")
      .as[(Long, Option[String], Option[String], Option[String])].collect().toSeq
    assert(w == Seq(
      (70L, Some("Ana Diaz"), Some("Luis Soto"), None),
      (71L, None, None, None),
      (72L, Some("W1"), Some("W2"), Some("W4")))) // 5th worker sliced off
    // F6 date split
    assert(turnsDb.filter(col("id") === 70).select("date").as[String].head() == "2025-04-04")
    // F4 rename reached the warehouse
    assert(readTable("project_tbl").columns.contains("CeCo"))
    assert(readTable("element_tbl").count() == 1)
  }

  test("E1 and E2 start jobs only for executor and database data, all under the caller's group") {
    val seedJson = s"[${taskJson(1, "2025-04-01T00:00:00-04:00", "old-desc")}]"
    Pipelines.shapeTasks(Sources.parseJson(spark, spark.createDataset(Seq(seedJson)), None))
      .write.jdbc(url, "guard_task_tbl", props)
    val incoming = s"[${taskJson(1, "2025-04-05T00:00:00-04:00", "new-desc")}," +
      s"${taskJson(3, "2025-04-06T00:00:00-04:00", "brand-new")}]"
    val sc = spark.sparkContext
    def jobsOf(body: => Unit): Int = {
      sc.setJobGroup("pipeline-guard", "E1/E2 job guard", interruptOnCancel = false)
      try {
        val (_, groups) = JobCounter.jobGroups(sc)(body)
        // jobs started from the concurrent scans carry the group too
        assert(groups.forall(_.contains("pipeline-guard")), groups)
        groups.size
      } finally sc.clearJobGroup()
    }
    val e1 = jobsOf(Pipelines.runE1(spark, new LatinadTransport(), "https://api.test", url,
      props, anchorDate = "2025-05-19", factTable = "guard_fact", dimTable = "guard_dim"))
    val e2 = jobsOf(Pipelines.runE2(spark, new SercomTransport(incoming), "https://sercom.test",
      url, props, taskTable = "guard_task_tbl"))
    // E1: two scan inferences, the contents pin, the display keys, the
    // fan-out (its shuffle and two parse jobs), the all-null sample
    // (a broadcast and two), and the two stage writes (one broadcast).
    // E2: four scan inferences, the snapshot pin (three), three dim
    // stage writes, and the task stage write (two broadcasts).
    assert(e1 <= 13, s"E1 started $e1 jobs")
    assert(e2 <= 13, s"E2 started $e2 jobs")
  }
}
