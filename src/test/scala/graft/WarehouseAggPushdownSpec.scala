package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Warehouse
import graft.sources.warehouse.WarehouseDataSource

/** Metadata-only aggregates through the DSv2 connector: an
  * unfiltered, ungrouped COUNT/MIN/MAX over a warehouse table must be
  * answered from parquet footers — one partial row per FILE, zero
  * data rows read (the probe pins statted vs fallback counts) — and
  * must REFUSE pushdown (correct exact plan, probe untouched)
  * whenever per-file stats cannot stand in for the true answer:
  * filters, group-bys, fold chains, partition columns, string
  * min/max (binary footer stats may be truncated).
  */
class WarehouseAggPushdownSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val tablePath: String = {
    val path = Files.createTempDirectory("graft_aggpd").toString + "/t"
    val base = (1L to 4000L).map(i =>
      (i, f"name-$i%06d", java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(i % 30)),
        if (i % 5 == 0) null else s"v$i",
        if (i % 2 == 0) "d1" else "d2"))
      .toDF("k", "name", "dt", "opt", "part")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", 500L)
    try Warehouse.create(spark, path, base.repartition(4), "part")
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    path
  }

  private def load() = spark.read.format("graft-warehouse").load(tablePath)

  test("count(*), min/max over long and date answer from footers alone: every file statted, none scanned") {
    WarehouseDataSource.resetAggProbe()
    val row = load().agg(
      count(lit(1)).as("n"), min("k").as("min_k"), max("k").as("max_k"),
      min("dt").as("min_dt"), max("dt").as("max_dt")).head()
    assert(row.getLong(0) == 4000L)
    assert(row.getLong(1) == 1L && row.getLong(2) == 4000L)
    assert(row.getDate(3) == java.sql.Date.valueOf("2024-01-01"))
    assert(row.getDate(4) == java.sql.Date.valueOf("2024-01-30"))
    val (statted, fallback) = WarehouseDataSource.lastAggPlanned.get
    assert(fallback == 0, s"expected pure metadata answer, $fallback files scanned")
    assert(statted > 4, s"expected a multi-file layout, got $statted")
  }

  test("count(col) subtracts footer null counts exactly") {
    WarehouseDataSource.resetAggProbe()
    val row = load().agg(count(col("opt")).as("n")).head()
    assert(row.getLong(0) == 4000L - 800L)
    assert(WarehouseDataSource.lastAggPlanned.exists(_._2 == 0))
  }

  test("refusals leave the exact plan: filters, non-partition group-by, string min/max, partition columns") {
    // filtered
    WarehouseDataSource.resetAggProbe()
    assert(load().filter(col("k") > 2000L).agg(count(lit(1))).head().getLong(0) == 2000L)
    assert(WarehouseDataSource.lastAggPlanned.isEmpty, "filtered agg must not push")
    // grouped by a NON-partition column (footers carry no per-group split)
    WarehouseDataSource.resetAggProbe()
    assert(load().groupBy("opt").agg(count(lit(1))).count() > 2)
    assert(WarehouseDataSource.lastAggPlanned.isEmpty,
      "non-partition grouped agg must not push")
    // string min/max (footer binary stats may be truncated - not exact)
    WarehouseDataSource.resetAggProbe()
    assert(load().agg(min("name")).head().getString(0) == "name-000001")
    assert(WarehouseDataSource.lastAggPlanned.isEmpty, "string min must not push")
    // partition column (not physically in the files)
    WarehouseDataSource.resetAggProbe()
    assert(load().agg(min("part")).head().getString(0) == "d1")
    assert(WarehouseDataSource.lastAggPlanned.isEmpty, "partition-column agg must not push")
  }

  test("GROUP BY partition columns answers from footers: per-group rollup, zero rows scanned") {
    WarehouseDataSource.resetAggProbe()
    val got = load().groupBy("part")
      .agg(count(lit(1)).as("n"), min("k").as("lo"), max("k").as("hi"),
        count(col("opt")).as("n_opt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // evens -> d1, odds -> d2; opt is null on multiples of 5
    assert(got == Set(
      ("d1", 2000L, 2L, 4000L, 2000L - 400L),
      ("d2", 2000L, 1L, 3999L, 2000L - 400L)),
      s"grouped rollup must be exact, got $got")
    val (statted, fallback) = WarehouseDataSource.lastAggPlanned.get
    assert(fallback == 0, s"expected pure metadata answer, $fallback files scanned")
    assert(statted > 2, "one partial row per FILE, folded by Spark")
    // the SQL form through the catalog takes the same path
    WarehouseDataSource.resetAggProbe()
    val viaSql = spark.sql(
      s"SELECT part, COUNT(*) AS n FROM graft.`$tablePath` GROUP BY part")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaSql == Set(("d1", 2000L), ("d2", 2000L)))
    assert(WarehouseDataSource.lastAggPlanned.exists(_._2 == 0))
  }

  test("widened tables answer grouped aggregates from footers: a missing column IS null metadata") {
    val path = Files.createTempDirectory("graft_aggpd4").toString + "/t"
    Warehouse.create(spark, path,
      (1L to 60L).map(i => (i, 1L, if (i <= 30L) "d1" else "d2"))
        .toDF("k", "ver", "part"), "part")
    // a widening CoW merge touches ONLY d1: d2's files lack `extra`
    // entirely, which the footer walk reads as an all-null column —
    // the by-name widening contract, still zero data rows
    Warehouse.mergeInto(spark, path,
      Seq((1L, 2L, "d1", 7L)).toDF("k", "ver", "part", "extra"),
      "k", "ver", Seq("part"))
    WarehouseDataSource.resetAggProbe()
    val got = spark.read.format("graft-warehouse").load(path)
      .groupBy("part").agg(min("extra").as("lo"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), Option(r.get(1)), r.getLong(2))).toSet
    assert(got == Set(("d1", Some(7L), 30L), ("d2", None, 30L)),
      s"widened grouped rollup must stay exact, got $got")
    assert(WarehouseDataSource.lastAggPlanned.exists(_._2 == 0),
      "missing columns are metadata (null), not a scan")
  }

  test("files written without footer statistics take the exact-scan fallback, grouped result exact") {
    val path = Files.createTempDirectory("graft_aggpd5").toString + "/t"
    Warehouse.create(spark, path,
      (1L to 60L).map(i => (i, 1L, if (i <= 30L) "d1" else "d2"))
        .toDF("k", "ver", "part"), "part")
    // rewrite d2 through a merge with parquet stats DISABLED: its new
    // files' footers carry no min/max, so per-file partials cannot
    // answer and exactly those files scan
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("parquet.column.statistics.enabled", "false")
    try Warehouse.mergeInto(spark, path,
      Seq((31L, 2L, "d2")).toDF("k", "ver", "part"), "k", "ver", Seq("part"))
    finally hc.unset("parquet.column.statistics.enabled")
    WarehouseDataSource.resetAggProbe()
    val got = spark.read.format("graft-warehouse").load(path)
      .groupBy("part").agg(min("k").as("lo"), max("k").as("hi"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == Set(("d1", 1L, 30L, 30L), ("d2", 31L, 60L, 30L)),
      s"fallback groups must stay exact, got $got")
    val (statted, fallback) = WarehouseDataSource.lastAggPlanned.get
    assert(fallback > 0, "stat-less files must take the exact-scan fallback")
    assert(statted > 0, "statted files still answer from footers")
  }

  test("a fold chain refuses pushdown and the exact answer still serves") {
    val path = Files.createTempDirectory("graft_aggpd2").toString + "/t"
    val base = (1L to 100L).map(i => (i, s"n$i", 1L, "d1"))
      .toDF("k", "name", "ver", "part")
    Warehouse.create(spark, path, base, "part")
    Warehouse.mergeIntoDelta(spark, path,
      Seq((1L, "newer", 2L, "d1"), (101L, "ins", 2L, "d1"))
        .toDF("k", "name", "ver", "part"),
      "k", "ver", Seq("part"))
    WarehouseDataSource.resetAggProbe()
    val n = spark.read.format("graft-warehouse").load(path)
      .agg(count(lit(1))).head().getLong(0)
    assert(n == 101L, "fold must still apply (delta insert + upsert)")
    assert(WarehouseDataSource.lastAggPlanned.isEmpty,
      "a chained table must refuse metadata aggregates")
    // after compaction the chain is gone and pushdown engages
    Warehouse.compact(spark, path, "k", 1L << 26)
    WarehouseDataSource.resetAggProbe()
    assert(spark.read.format("graft-warehouse").load(path)
      .agg(count(lit(1))).head().getLong(0) == 101L)
    assert(WarehouseDataSource.lastAggPlanned.exists(_._2 == 0),
      "compacted table answers from footers")
  }

  test("time travel aggregates answer from the pinned version's footers") {
    val path = Files.createTempDirectory("graft_aggpd3").toString + "/t"
    Warehouse.create(spark, path,
      (1L to 50L).map(i => (i, "d1")).toDF("k", "part"), "part")
    Warehouse.overwrite(spark, path,
      (1L to 7L).map(i => (i, "d1")).toDF("k", "part"))
    WarehouseDataSource.resetAggProbe()
    val v1 = spark.read.format("graft-warehouse")
      .option("versionAsOf", "1").load(path)
    assert(v1.agg(count(lit(1)), max("k")).head() match {
      case r => r.getLong(0) == 50L && r.getLong(1) == 50L
    })
    assert(WarehouseDataSource.lastAggPlanned.exists(_._2 == 0))
    assert(spark.read.format("graft-warehouse").load(path)
      .agg(count(lit(1))).head().getLong(0) == 7L)
  }

  test("EXPLAIN of a pushed aggregate runs ZERO jobs: the partials pipeline is fully lazy") {
    // resolve the table first, so the count below sees only the
    // aggregate path
    val t = load()
    t.schema
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    // building the executed plan (what EXPLAIN renders) must not
    // launch the footer job — it runs when the action does
    t.agg(count(lit(1)).as("n"), min("k").as("lo"))
      .queryExecution.executedPlan.toString
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before,
      s"planning launched ${after - before} job(s) - the aggregate path must be lazy")
  }

  test("after a layout evolution, aggregates group by the scanned files' own partition columns") {
    // created on dt; region is a data column until evolveLayout moves it
    def seeded(): String = {
      val path = Files.createTempDirectory("graft_aggpd_layout").toString + "/t"
      Warehouse.create(spark, path,
        (1L to 100L).map(i => (i, s"d${i % 2}", if (i % 4 < 2) "eu" else "us"))
          .toDF("k", "dt", "region"), "dt")
      path
    }
    def byRegion(path: String): Set[(String, Long)] = {
      WarehouseDataSource.resetAggProbe()
      val got = spark.sql(
        s"SELECT region, count(*) AS n FROM graft.`$path` GROUP BY region")
        .as[(String, Long)].collect().toSet
      assert(got == Warehouse.read(spark, path).groupBy("region").count()
        .as[(String, Long)].collect().toSet)
      got
    }
    // a header-only flip: the files still carry dt alone, so region
    // groups through the exact plan and dt still answers from footers
    val flipped = seeded()
    Warehouse.evolveLayout(spark, flipped, Seq("dt", "region"), pred = _ => false)
    assert(byRegion(flipped) == Set(("eu", 50L), ("us", 50L)))
    assert(WarehouseDataSource.lastAggPlanned.isEmpty)
    WarehouseDataSource.resetAggProbe()
    assert(spark.sql(s"SELECT dt, count(*) FROM graft.`$flipped` GROUP BY dt")
      .as[(String, Long)].collect().toSet == Set(("d0", 50L), ("d1", 50L)))
    assert(WarehouseDataSource.lastAggPlanned.exists(_._2 == 0))
    // a partial evolve mixes (dt) and (dt, region) keys: exact plan
    val mixed = seeded()
    Warehouse.evolveLayout(spark, mixed, Seq("dt", "region"),
      pred = kv => kv("dt") == "d1")
    assert(byRegion(mixed) == Set(("eu", 50L), ("us", 50L)))
    assert(WarehouseDataSource.lastAggPlanned.isEmpty)
  }

  test("SQL over the catalog takes the same metadata path") {
    WarehouseDataSource.resetAggProbe()
    val r = spark.sql(
      s"SELECT COUNT(*) AS n, MIN(k) AS lo, MAX(k) AS hi FROM graft.`$tablePath`")
      .head()
    assert(r.getLong(0) == 4000L && r.getLong(1) == 1L && r.getLong(2) == 4000L)
    assert(WarehouseDataSource.lastAggPlanned.exists(_._2 == 0))
  }

  test("ACTIVE deletion vectors: count(*) stays metadata-only (footer counts minus per-file deleted positions); min/max and count(col) fall back exact") {
    val path = Files.createTempDirectory("graft_aggpd_dv").toString + "/t"
    val base = (1L to 3000L).map(i =>
      (i, s"n$i", if (i % 7 == 0) null else s"v$i",
        if (i % 2 == 0) "d1" else "d2"))
      .toDF("k", "name", "opt", "part")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", 500L)
    try Warehouse.create(spark, path, base.repartition(3), "part")
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    // two stacked vectors scattering deletes across every file
    assert(Warehouse.deleteWhereDv(spark, path, col("k") % 10 === 3) == 300L)
    assert(Warehouse.deleteWhereDv(spark, path, col("k") === 2000L) == 1L)
    def dvLoad() = spark.read.format("graft-warehouse").load(path)
    // ungrouped and partition-grouped COUNT(*) both stay footer-only
    WarehouseDataSource.resetAggProbe()
    assert(dvLoad().agg(count(lit(1))).head().getLong(0) == 2699L)
    val (statted, fallback) = WarehouseDataSource.lastAggPlanned.get
    assert(fallback == 0 && statted > 2,
      s"DV count(*) must answer from footers: statted=$statted fallback=$fallback")
    WarehouseDataSource.resetAggProbe()
    val byPart = dvLoad().groupBy("part").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byPart.values.sum == 2699L && byPart.size == 2)
    assert(byPart == Map(
      "d1" -> (1L to 3000L).count(i => i % 2 == 0 && i % 10 != 3 && i != 2000L).toLong,
      "d2" -> (1L to 3000L).count(i => i % 2 != 0 && i % 10 != 3).toLong))
    assert(WarehouseDataSource.lastAggPlanned.exists(_._2 == 0))
    // a deleted row might BE the extremum / its null-ness is
    // unknowable from the sidecar: MIN/MAX and count(col) refuse
    WarehouseDataSource.resetAggProbe()
    assert(dvLoad().agg(max("k")).head().getLong(0) == 3000L)
    assert(WarehouseDataSource.lastAggPlanned.isEmpty,
      "min/max under an active vector must take the exact plan")
    WarehouseDataSource.resetAggProbe()
    assert(dvLoad().agg(count(col("opt"))).head().getLong(0) ==
      (1L to 3000L).count(i => i % 7 != 0 && i % 10 != 3 && i != 2000L).toLong)
    assert(WarehouseDataSource.lastAggPlanned.isEmpty,
      "count(col) under an active vector must take the exact plan")
    // zero-aggregate pushdown (SELECT DISTINCT part) under a vector
    // refuses to the exact plan - it has no count partial to subtract,
    // and the filter must not reference a nonexistent agg_0 (third
    // review pass: this crashed with UNRESOLVED_COLUMN)
    WarehouseDataSource.resetAggProbe()
    assert(dvLoad().select("part").distinct().collect()
      .map(_.getString(0)).toSet == Set("d1", "d2"))
    assert(WarehouseDataSource.lastAggPlanned.isEmpty,
      "DISTINCT partcol under an active vector must take the exact plan")
    // a FULLY vector-deleted group must not surface as a phantom
    // (group, 0) row - SQL's GROUP BY has no row for an empty group
    assert(Warehouse.deleteWhereDv(spark, path, col("part") === "d1") > 0L)
    WarehouseDataSource.resetAggProbe()
    val grouped = dvLoad().groupBy("part").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!grouped.contains("d1"),
      s"an all-deleted group must emit NO row, got $grouped")
    assert(dvLoad().select("part").distinct().collect()
      .map(_.getString(0)).toSet == Set("d2"),
      "DISTINCT over the all-deleted partition must not surface its value")
    assert(grouped.keySet == Set("d2") && grouped("d2") > 0L)
    assert(WarehouseDataSource.lastAggPlanned.exists(_._2 == 0),
      "the phantom-group filter must not cost the metadata path")
    // ...and the UNGROUPED count over the same table stays exact
    assert(dvLoad().agg(count(lit(1))).head().getLong(0) == grouped("d2"))
    // compact() materializes the subtraction - the full footer plane
    // (min/max included) comes back
    Warehouse.compact(spark, path, "k", targetBytes = 1L << 30)
    WarehouseDataSource.resetAggProbe()
    val live = (1L to 3000L).filter(i =>
      i % 2 != 0 && i % 10 != 3).map(i => i)
    val r2 = dvLoad().agg(count(lit(1)), min("k"), max("k")).head()
    assert(r2.getLong(0) == live.size.toLong &&
      r2.getLong(1) == live.min && r2.getLong(2) == live.max)
    assert(WarehouseDataSource.lastAggPlanned.exists(_._2 == 0))
  }
}
