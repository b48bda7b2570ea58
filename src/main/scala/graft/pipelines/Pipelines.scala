package graft.pipelines

import java.time.LocalDate
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Flatten
import graft.io.{Sinks, Sources}
import graft.io.Sinks.{Load, Scope}
import graft.io.Sources.{RestRequest, Transport}
import graft.operators.{Cdc, Relational}

/** The reference's two end-to-end pipelines (SURVEY.md §3 E1/E2)
  * composed from this library's operators — extraction through
  * shaping through CDC through JDBC load. Every stage is the §2
  * operator it cites; the pipelines exist so the operator surface is
  * exercised END-TO-END (fixture-driven tests in PipelinesSpec), not
  * just query-by-query.
  *
  * Both take the transport and JDBC endpoint as parameters: tests
  * inject fixture transports + embedded Derby; production injects
  * [[Sources.JdkHttpTransport]] + a real warehouse.
  */
object Pipelines {

  /** E1 — hourly reload (LAT:231-262): displays and contents scans
    * (contents server-ordered+limited, pinned on the driver), fetched
    * concurrently → per-content report fan-out → union → clean → join
    * → surrogate key → scalar shaping → one transaction that reloads
    * the content dim and overwrites the fact table's report window.
    *
    * @param anchorDate the reference uses `datetime.now()` (LAT:145);
    *                   a parameter keeps runs reproducible — the
    *                   report window is [[reportWindow]]
    * @return the loaded fact frame (for assertions; plans stay lazy
    *         until the sinks run them)
    */
  def runE1(spark: SparkSession, transport: Transport, apiBase: String,
            jdbcUrl: String, props: Properties, anchorDate: String,
            factTable: String = "report_fact", dimTable: String = "content_dim"): DataFrame = {

    // S7: both single-shot scans fetched concurrently. The contents are
    // read three times (keys, join side, dim load), so they are parsed
    // once and pinned on the driver; the displays give only their keys.
    val scans = Sources.concurrent(spark, Map(
      "displays" -> (() => Sources.restScan(spark, transport,
        RestRequest(s"$apiBase/displays"))),
      // S2 ordered+limited scan + F4 rename + F5 length cap
      "contents" -> (() => Sources.pinLocal(Flatten.renameAll(
        Flatten.selectExisting(
          Sources.restScanOrdered(spark, transport,
            RestRequest(s"$apiBase/contents"), orderCol = "updated_at",
            desc = true, limit = 11000, root = Some("data")),
          Seq("id", "name", "type", "file", "updated_at")),
        Map("file" -> "arch"))
        .withColumn("arch", Relational.lengthCap(col("arch"), 50))))))
    val contents = scans("contents")

    // P7 tombstone + F1/F3 flatten + P4 drop + P1/P2 projection
    val displays = Flatten.selectExisting(
      Flatten.dropIfExists(Flatten.flatten(scans("displays")), "audience_provider_id"),
      Seq("id", "name", "company_id", "audience_provider_name"))
      .filter(col("id") =!= 40660)

    // A3 collect both key lists; F8 CSV param; F14 date window
    val contentIds = Sources.collectKeys(contents, "id")
    val displayCsv = Sources.keysCsv(Sources.collectKeys(displays, "id"))
    val (fromDate, toDate) = reportWindow(anchorDate)

    // S3 executor-side fan-out, one request per content id
    val fanOut = Sources.fanOutScan(spark, transport, contentIds, id =>
      RestRequest(s"$apiBase/report", params = Map(
        "content_id" -> id.toString, "display_id" -> displayCsv,
        "from" -> fromDate, "to" -> toDate)))
    // the pinned payloads are consumed once the sinks have run; release
    // them then, and when any stage fails
    try {
      // A1 union-by-name across heterogeneous payloads + F1/F3 flatten
      val reports = Flatten.flatten(
        Sources.parseFanOut(spark, fanOut, root = Some("report")))

      // P9 null-key drop + F4 key renames + F15's fact-side projection
      val facts = Relational.dropNullKeys(
        Flatten.renameAll(reports, Map(
          "content_display_display_id" -> "display_key",
          "content_display_content_id" -> "content_key",
          "date" -> "Fecha")),
        Seq("display_key", "content_key"))

      // J1 multi-key left join to the content dim
      val joined = facts.join(
        contents.select(col("id").as("content_key"), col("name").as("content_name"),
          col("arch")),
        Seq("content_key"), "left")

      // F7 surrogate key, P8 filter, P5 conditional drop, P6 all-null
      // drop, F11 null fill, F10 scale
      val shaped = Flatten.dropAllNullColumns(
        Flatten.dropIfExists(
          joined
            .filter(col("Fecha") =!= "") // P8
            .withColumn("sk", Relational.surrogateKey(
              col("content_key"), col("display_key"), col("Fecha"))) // F7
            .withColumn("impacts",
              coalesce(col("impacts"), lit(0.0)).cast(LongType)) // F11, LAT:176
            .withColumn("total_time", col("total_time") / 100), // F10, LAT:256
          "content_display_rules")) // P5, LAT:254-255

      // K2 reload of the dim + K3 overwrite of the fact window, committed
      // together (the reference deletes and appends untransacted, LAT:213-222)
      Sinks.load(Seq(
        Load(contents, dimTable, Scope.All),
        Load(shaped, factTable, Scope.Range("Fecha", fromDate, toDate))), jdbcUrl, props)
      shaped
    } finally fanOut.payloads.unpersist(blocking = false)
  }

  /** E1's report window `[anchor−25d, anchor+2d]` as ISO dates
    * (LAT:146-147, F14), computed on the driver; a non-ISO anchor
    * throws instead of sending null dates to the API.
    */
  def reportWindow(anchorDate: String): (String, String) = {
    val anchor = LocalDate.parse(anchorDate)
    (anchor.minusDays(25).toString, anchor.plusDays(2).toString)
  }

  /** Result of the E2 run, exposed for assertions. */
  final case class E2Result(tasks: DataFrame, split: Cdc.MergeSplit,
                            turns: DataFrame, projects: DataFrame, elements: DataFrame)

  /** E2 task shaping (SER:182-207 + 61-63): flatten → guarded/deduped
    * 27-column projection → 7-column timestamp parse → nullable-int
    * casts → frame-wide fill. Public so tests can seed target tables
    * with the exact load schema.
    */
  def shapeTasks(raw: DataFrame): DataFrame = {
    val taskCols = Seq("id", "description", "observations", "task_type_id",
      "task_type_name", "element_id", "project_id", "created_by_name",
      "update_by_name", "state_name", "project_name", "team_name", "team_id",
      "turn_id", "assigned_at", "started_at", "finished_at",
      "original_finisched_at", // the source's typo, preserved (SER:188)
      "created_at", "updated_at", "id")
    val tsCols = Seq("assigned_at", "started_at", "finished_at",
      "original_finisched_at", "created_at", "updated_at")
    Relational.fillAll(
      Relational.parseTimestamps(
        Flatten.selectExisting(Flatten.flatten(raw), taskCols), tsCols)
        .withColumn("team_id", col("team_id").cast(LongType))
        .withColumn("turn_id", col("turn_id").cast(LongType)))
  }

  /** E2 turn shaping (SER:154-180): widen first-4 workers + date split. */
  def shapeTurns(raw: DataFrame): DataFrame =
    Flatten.widenArrayOfStruct(raw, "workers",
      Seq("worker.name" -> "worker_name", "worker.rut" -> "worker_rut"), n = 4)
      .withColumn("date", split(col("date"), "T")(0))

  /** E2 project shaping (SER:130): `add` → `CeCo`. */
  def shapeProjects(raw: DataFrame): DataFrame =
    Flatten.renameAll(raw, Map("add" -> "CeCo"))

  /** E2 element shaping (SER:135-144): 10-column projection + tz-strip. */
  def shapeElements(raw: DataFrame): DataFrame =
    Relational.parseTimestamps(
      Flatten.selectExisting(raw,
        Seq("element_type_id", "commune_name", "id", "name", "latitude",
          "longitude", "address", "deleted_at", "enabled", "external_id")),
      Seq("deleted_at"))

  /** E2 — 3-hourly incremental merge (SER:27-66): concurrent task,
    * element, turn and project extraction → flatten/shape → JDBC
    * snapshot probe → CDC split → one transaction that reloads the
    * dimensions and merges the changed tasks into the task table.
    */
  def runE2(spark: SparkSession, transport: Transport, apiBase: String,
            jdbcUrl: String, props: Properties,
            taskTable: String = "task_tbl"): E2Result = {

    // S7: all four scans fetched concurrently — tasks (S4, expand[]
    // pushdown), elements (S5), and turns and projects, which the
    // reference fetches after the first two (SER:58-59) although none
    // depends on another. Each frame is read once, so none is pinned.
    val raw = Sources.concurrent(spark, Map(
      "tasks" -> (() => Sources.restScanExpanded(spark, transport,
        RestRequest(s"$apiBase/tasks"),
        expand = Seq("created_by", "update_by", "state", "project", "team"),
        extraParams = Map("deleted" -> "false"))),
      "elements" -> (() => Sources.restScan(spark, transport,
        RestRequest(s"$apiBase/elements"))),
      "turns" -> (() => Sources.restScan(spark, transport, RestRequest(s"$apiBase/turns"))),
      "projects" -> (() => Sources.restScan(spark, transport,
        RestRequest(s"$apiBase/projects")))))

    val tasks = shapeTasks(raw("tasks"))
    val turns = shapeTurns(raw("turns"))
    val projects = shapeProjects(raw("projects"))
    val elements = shapeElements(raw("elements"))

    // S6 snapshot scan (projection pushed into the DB) + J2/J3 split.
    // The snapshot is PINNED (cached + materialized) before any sink
    // runs: the load writes into the very table being probed, and a
    // lazy re-scan after it would see its own writes (the reference
    // reads the snapshot eagerly once, SER:211). The pinned frame is
    // (key, version) only — at a billion target rows that is ~16 B/row
    // of cluster cache, the cheap end of the memory budget.
    val snapshot = Sources.jdbcScan(spark, jdbcUrl,
      s"""SELECT "id", "updated_at" FROM $taskTable""", props).persist()
    snapshot.count()
    val split = Cdc.mergeSplit(tasks, snapshot, "id", "updated_at")

    // K2 reload of the three dims + K5/K1 merge of the changed tasks,
    // one transaction (the reference deletes OUTSIDE its tx, SER:253 —
    // bug not ported)
    Sinks.load(Seq(
      Load(turns, "turn_tbl", Scope.All),
      Load(projects, "project_tbl", Scope.All),
      Load(elements, "element_tbl", Scope.All),
      Load(split.updates.unionByName(split.inserts), taskTable, Scope.Keys("id"))),
      jdbcUrl, props)
    // the snapshot pin deliberately outlives this call: the returned
    // split frames reference it lazily, and an unpersisted re-scan
    // would read the just-merged table (callers release via
    // spark.catalog.clearCache() when done)

    E2Result(tasks, split, turns, projects, elements)
  }
}
