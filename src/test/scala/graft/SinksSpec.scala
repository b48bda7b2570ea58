package graft

import java.nio.file.Files
import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Sinks
import graft.io.Sinks.{Load, Scope}
import graft.operators.Cdc

/** Integration tests for the staged single-commit JDBC load (K1–K5
  * as [[Sinks.load]] scopes) against embedded Derby (the JDBC engine
  * shipped with Spark's jars) — real distributed stage writes, real
  * DDL, real transactions.
  */
class SinksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dbDir = {
    val d = Files.createTempDirectory("graft_derby").toFile
    System.setProperty("derby.system.home", d.getAbsolutePath)
    d.getAbsolutePath
  }
  private lazy val url = s"jdbc:derby:$dbDir/graftdb;create=true"
  private def props: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  private def readTable(table: String): DataFrame =
    spark.read.jdbc(url, table, props)

  test("K1 chunked append accumulates rows across appends") {
    val df1 = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    df1.write.option("createTableColumnTypes", "name VARCHAR(64)")
      .jdbc(url, "k1_tbl", props)
    Sinks.load(Seq(Load(Seq((3L, "c")).toDF("id", "name"), "k1_tbl", Scope.Append)),
      url, props)
    val got = readTable("k1_tbl").orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("K2 truncate-and-reload replaces contents, keeps the table (LAT:213-222)") {
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v").write.jdbc(url, "k2_tbl", props)
    Sinks.load(Seq(Load(Seq((9L, 90.0)).toDF("id", "v"), "k2_tbl", Scope.All)), url, props)
    val got = readTable("k2_tbl").as[(Long, Double)].collect().toSeq
    assert(got == Seq((9L, 90.0)))
  }

  test("K3 ranged delete + append overwrites only the key window (LAT:217-223)") {
    Seq((1L, 100L), (5L, 500L), (9L, 900L)).toDF("id", "day").write
      .jdbc(url, "k3_tbl", props)
    // replace the day-window [400, 600] with fresh rows; outside rows survive
    Sinks.load(Seq(Load(Seq((6L, 555L)).toDF("id", "day"), "k3_tbl",
      Scope.Range("day", 400L, 600L))), url, props)
    val got = readTable("k3_tbl").orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 100L), (6L, 555L), (9L, 900L)))
  }

  test("K3 on files: dynamic partition overwrite touches only incoming partitions") {
    val path = Files.createTempDirectory("graft_dpo").toString + "/fact"
    Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-03"))
      .toDF("id", "day").write.partitionBy("day").parquet(path)
    // reload day 2 only; days 1 and 3 must survive
    Sinks.dynamicPartitionOverwrite(
      Seq((20L, "2024-01-02"), (21L, "2024-01-02")).toDF("id", "day"),
      path, Seq("day"))
    val got = spark.read.parquet(path).orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "2024-01-01"), (3L, "2024-01-03"),
      (20L, "2024-01-02"), (21L, "2024-01-02")))
  }

  test("K4 multi-table load commits both targets atomically (SER:247-282)") {
    Seq((1L, 1L)).toDF("id", "v").write.jdbc(url, "k4_a", props)
    Seq((1L, 1L)).toDF("id", "v").write.jdbc(url, "k4_b", props)
    Sinks.load(Seq(
      Load(Seq((10L, 10L)).toDF("id", "v"), "k4_a", Scope.All),
      Load(Seq((20L, 20L), (21L, 21L)).toDF("id", "v"), "k4_b", Scope.All)),
      url, props)
    assert(readTable("k4_a").as[(Long, Long)].collect().toSeq == Seq((10L, 10L)))
    assert(readTable("k4_b").orderBy("id").as[(Long, Long)].collect().toSeq ==
      Seq((20L, 20L), (21L, 21L)))
  }

  test("K4 maps columns BY NAME when target column order differs from the frame's") {
    // target created column-reversed relative to the incoming frame
    val conn = DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      st.executeUpdate("""CREATE TABLE k4_rev ("v" BIGINT, "id" BIGINT)""")
      st.close()
    } finally conn.close()
    Sinks.load(Seq(Load(Seq((7L, 70L)).toDF("id", "v"), "k4_rev", Scope.All)), url, props)
    val got = readTable("k4_rev").select("id", "v").as[(Long, Long)].collect().toSeq
    assert(got == Seq((7L, 70L))) // positional SELECT * would swap these
  }

  test("K4 failure before commit leaves every target untouched") {
    Seq((1L, 1L)).toDF("id", "v").write.jdbc(url, "k4_c", props)
    Seq((1L, 1L)).toDF("id", "v").write.jdbc(url, "k4_d", props)
    val bad = intercept[Exception] {
      // the second frame carries a column its target lacks, so its
      // INSERT fails after the first load's DELETE + INSERT ran
      Sinks.load(Seq(
        Load(Seq((99L, 99L)).toDF("id", "v"), "k4_c", Scope.All),
        Load(Seq((5L, 5L, 5L)).toDF("id", "v", "absent"), "k4_d", Scope.All)),
        url, props)
    }
    assert(bad != null)
    // first target must still hold its original row — nothing committed
    assert(readTable("k4_c").as[(Long, Long)].collect().toSeq == Seq((1L, 1L)))
  }

  test("K5 batched keyed UPDATE rewrites matched rows in place (SER:284-365)") {
    Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L))
      .toDF("id", "a", "b").write.jdbc(url, "k5_tbl", props)
    val changes = Seq((1L, 11L, 101L), (3L, 33L, 303L)).toDF("id", "a", "b")
    val Seq(n) = Sinks.load(Seq(Load(changes, "k5_tbl", Scope.Keys("id"))), url, props)
    assert(n == 2L)
    val got = readTable("k5_tbl").orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 11L, 101L), (2L, 20L, 200L), (3L, 33L, 303L)))
  }

  test("E2-shaped merge: CDC split → K5 updates + K1 inserts → target equals expected") {
    // target snapshot in the DB
    Seq((1L, 1L, 10L), (2L, 5L, 20L), (3L, 1L, 30L))
      .toDF("id", "version", "payload").write.jdbc(url, "e2_tbl", props)
    // incoming extract: id=1 newer (update), id=2 stale (unchanged),
    // id=4 absent (insert); id=3 missing from the extract (untouched)
    val incoming = Seq((1L, 2L, 11L), (2L, 3L, 99L), (4L, 1L, 40L))
      .toDF("id", "version", "payload")
    val snapshot = readTable("e2_tbl").select("id", "version")
    val split = Cdc.mergeSplit(incoming, snapshot, "id", "version")
    Sinks.load(Seq(Load(split.updates.unionByName(split.inserts), "e2_tbl",
      Scope.Keys("id"))), url, props)
    val got = readTable("e2_tbl").orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 11L), (2L, 5L, 20L), (3L, 1L, 30L), (4L, 1L, 40L)))
  }

  // ---- failure injection: a load either commits whole or not at all ----

  /** Every row of `table`, sorted, for before/after equality. */
  private def rows(table: String): Seq[String] =
    readTable(table).collect().map(_.toString).toSeq.sorted

  private def stageTables(): Seq[String] = {
    val conn = DriverManager.getConnection(url, props)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%_STAGE%", null)
      val out = Iterator.continually(rs).takeWhile(_.next()).map(_.getString("TABLE_NAME")).toList
      rs.close()
      out
    } finally conn.close()
  }

  /** `id` unchanged, except that the row with `id == bad` throws. */
  private def failingOn(bad: Long) = udf { (id: Long) =>
    if (id == bad) throw new IllegalStateException(s"injected failure at id $bad")
    id
  }

  test("a staging write that fails leaves no stage table behind and every target untouched") {
    Seq((1L, "a")).toDF("id", "name").write
      .option("createTableColumnTypes", "name VARCHAR(64)").jdbc(url, "leak_a", props)
    Seq((1L, 1L)).toDF("id", "v").write.jdbc(url, "leak_b", props)
    Seq((1L, 1L)).toDF("id", "v").write.jdbc(url, "leak_c", props)
    val before = Seq("leak_a", "leak_b", "leak_c").map(rows)
    val boom = Seq((2L, 2L), (3L, 3L)).toDF("id", "v")
      .withColumn("id", failingOn(3L)(col("id")))
    intercept[Exception] {
      Sinks.load(Seq(
        Load(Seq((2L, "b")).toDF("id", "name"), "leak_a", Scope.All),
        Load(boom, "leak_b", Scope.All),
        Load(Seq((4L, 4L)).toDF("id", "v"), "leak_c", Scope.Append)),
        url, props)
    }
    assert(stageTables().isEmpty)
    assert(Seq("leak_a", "leak_b", "leak_c").map(rows) == before)
  }

  test("an E1-shaped load whose fact stage fails in a later partition leaves dim and fact as they were") {
    Seq((1L, "old-dim")).toDF("id", "name").write
      .option("createTableColumnTypes", "name VARCHAR(64)").jdbc(url, "e1_dim", props)
    Seq((1L, 100L), (2L, 500L), (3L, 900L)).toDF("id", "day").write.jdbc(url, "e1_fact", props)
    val before = (rows("e1_dim"), rows("e1_fact"))
    // 4 partitions of 25 rows, all inside the window; the row in the
    // last partition throws after the earlier partitions were written
    val fact = spark.range(0, 100, 1, 4).select(
      failingOn(90L)(col("id")).as("id"), (lit(400L) + col("id")).as("day"))
    intercept[Exception] {
      Sinks.load(Seq(
        Load(Seq((7L, "new-dim"), (8L, "newer-dim")).toDF("id", "name"), "e1_dim", Scope.All),
        Load(fact, "e1_fact", Scope.Range("day", 400L, 600L))),
        url, props)
    }
    assert((rows("e1_dim"), rows("e1_fact")) == before)
    assert(stageTables().isEmpty)
  }

  test("a failed INSERT inside the transaction rolls back the Range and Keys deletes before it") {
    Seq((1L, 100L), (2L, 500L), (3L, 900L)).toDF("id", "day").write.jdbc(url, "tx_range", props)
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").write.jdbc(url, "tx_keys", props)
    Seq((1L, 1L)).toDF("id", "v").write.jdbc(url, "tx_bad", props)
    val tables = Seq("tx_range", "tx_keys", "tx_bad")
    val before = tables.map(rows)
    intercept[Exception] {
      Sinks.load(Seq(
        Load(Seq((5L, 555L)).toDF("id", "day"), "tx_range", Scope.Range("day", 400L, 600L)),
        Load(Seq((2L, 22L), (9L, 90L)).toDF("id", "v"), "tx_keys", Scope.Keys("id")),
        Load(Seq((5L, 5L, 5L)).toDF("id", "v", "absent"), "tx_bad", Scope.Keys("id"))),
        url, props)
    }
    assert(tables.map(rows) == before)
    assert(stageTables().isEmpty)
  }

  test("a missing target is created from the frame's schema inside the load's transaction") {
    val inserted = Sinks.load(Seq(
      Load(Seq((1L, 2.5)).toDF("id", "v"), "made_a", Scope.All),
      Load(Seq((3L, 4L), (5L, 6L)).toDF("k", "n"), "made_b", Scope.Keys("k"))),
      url, props)
    assert(inserted == Seq(1L, 2L))
    assert(readTable("made_a").as[(Long, Double)].collect().toSeq == Seq((1L, 2.5)))
    assert(readTable("made_b").orderBy("k").as[(Long, Long)].collect().toSeq ==
      Seq((3L, 4L), (5L, 6L)))
    // a rolled-back load leaves no table it would have created
    intercept[Exception] {
      Sinks.load(Seq(
        Load(Seq((1L, 1L)).toDF("id", "v"), "made_never", Scope.All),
        Load(Seq((1L, 1L, 1L)).toDF("id", "v", "absent"), "made_a", Scope.Append)),
        url, props)
    }
    val conn = DriverManager.getConnection(url, props)
    try {
      val rs = conn.getMetaData.getTables(null, null, "MADE_NEVER", null)
      try assert(!rs.next()) finally rs.close()
    } finally conn.close()
  }
}
