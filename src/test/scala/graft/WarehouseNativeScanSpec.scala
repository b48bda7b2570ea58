package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Warehouse
import graft.sources.warehouse.WarehouseDataSource

/** The native-path splice
  * ([[org.apache.spark.sql.graft.WarehouseNativeScanRule]]): fold-free
  * / DV-free / uniform-layout snapshots — the dominant read — plan as
  * Spark's own vectorized parquet scan fused into whole-stage codegen,
  * with the V1 bridge nowhere in the plan; folded, DV-active and
  * mixed-layout snapshots keep the bridge. Results are pinned
  * identical across both paths, and pushdown observability
  * (file-count shrink) carries over to the native path.
  */
class WarehouseNativeScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Multi-file, stats-carrying fold-free table. */
  private lazy val tablePath: String = {
    val path = Files.createTempDirectory("graft_native").toString + "/t"
    val base = (1L to 4000L).map(i =>
      (i, f"name-$i%06d", i % 7, s"d${i % 2}")).toDF("k", "name", "v", "part")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", 250L)
    try Warehouse.create(spark, path, base.repartition(8), "part")
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val target = math.max(1L,
      Warehouse.partitionStats(spark, path).map(_._4).sum / 16)
    Warehouse.compact(spark, path, "k", target, statsCols = Seq("name"))
    path
  }

  private def load() = spark.read.format("graft-warehouse").load(tablePath)

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("a fold-free snapshot plans NATIVE: vectorized parquet scan in whole-stage codegen, no V1 bridge, results identical to the bridge") {
    val df = load().filter(col("k") >= 100L && col("k") <= 140L)
      .select("k", "name")
    val plan = planOf(df)
    assert(!plan.contains("WarehouseV1Scan"),
      s"a fold-free read must not pay the V1 bridge:\n$plan")
    assert(plan.contains("Scan parquet") || plan.contains("FileScan"),
      s"the native parquet scan must serve the read:\n$plan")
    assert(plan.contains("*(1)"),
      s"the native path must fuse into whole-stage codegen (the *(n) span):\n$plan")
    val rows = df.orderBy("k").collect().toSeq
    assert(rows.size == 41 && rows.head.getLong(0) == 100L)
    // the bridge (opt-out) returns byte-identical results
    spark.conf.set("spark.graft.warehouse.nativeScan", "false")
    try {
      val bdf = load().filter(col("k") >= 100L && col("k") <= 140L)
        .select("k", "name")
      assert(planOf(bdf).contains("WarehouseV1Scan"),
        "the opt-out must restore the bridge")
      assert(bdf.orderBy("k").collect().toSeq == rows)
    } finally spark.conf.unset("spark.graft.warehouse.nativeScan")
  }

  test("pushdown observability survives the splice: a selective filter still shrinks the planned file set") {
    WarehouseDataSource.lastPlanned = None
    load().collect(): Unit
    val full = WarehouseDataSource.lastPlanned.get._1
    assert(full > 4, s"need a multi-file layout, got $full")
    WarehouseDataSource.lastPlanned = None
    val n = load().filter(col("k") === 1234L).count()
    assert(n == 1L)
    val pruned = WarehouseDataSource.lastPlanned.get._1
    assert(pruned < full && pruned <= 2,
      s"stats pruning must engage on the native path: $pruned of $full")
  }

  test("versionAsOf serves the native path against the right snapshot") {
    val path = Files.createTempDirectory("graft_native_tt").toString + "/t"
    Warehouse.create(spark, path,
      Seq((1L, "v1", "d1")).toDF("k", "name", "part"), "part")
    Warehouse.append(spark, path,
      Seq((2L, "v2", "d1")).toDF("k", "name", "part"))
    val old = spark.read.format("graft-warehouse")
      .option("versionAsOf", "1").load(path)
    assert(!planOf(old).contains("WarehouseV1Scan"))
    assert(old.select("k").as[Long].collect().toSeq == Seq(1L))
    assert(spark.read.format("graft-warehouse").load(path).count() == 2L)
  }

  test("the DDL overlay (RENAME COLUMN + type widening) still serves NATIVE: the overlay projections collapse into the parquet scan") {
    val path = Files.createTempDirectory("graft_native_ddl").toString + "/t"
    Warehouse.create(spark, path,
      (1 to 30).map(i => (i, s"n$i", "d1")).toDF("k", "name", "part")
        .select(col("k").cast("int").as("k"), col("name"), col("part")),
      "part")
    Warehouse.renameColumn(spark, path, "name", "title")
    Warehouse.widenColumnType(spark, path, "k",
      org.apache.spark.sql.types.LongType)
    val df = spark.read.format("graft-warehouse").load(path)
    assert(!planOf(df).contains("WarehouseV1Scan"),
      s"an overlay table is still fold-free - it must serve native:\n${planOf(df)}")
    assert(df.schema("k").dataType ==
      org.apache.spark.sql.types.LongType, "the widening must apply")
    assert(df.columns.contains("title") && !df.columns.contains("name"),
      "the rename must apply")
    assert(df.filter(col("k") === 7L).select("title").as[String].head() == "n7")
    assert(df.count() == 30L)
  }

  test("fold chains, active deletion vectors, and mixed layouts keep the bridge; compact restores the native path") {
    // fold chain (merge-on-read)
    val delta = Files.createTempDirectory("graft_native_mor").toString + "/t"
    Warehouse.create(spark, delta,
      Seq((1L, "a", 1L, "d1")).toDF("k", "name", "ver", "part"), "part")
    Warehouse.mergeIntoDelta(spark, delta,
      Seq((1L, "a2", 2L, "d1")).toDF("k", "name", "ver", "part"),
      "k", "ver", Seq("part"))
    val foldDf = spark.read.format("graft-warehouse").load(delta)
    assert(planOf(foldDf).contains("WarehouseV1Scan"),
      "a folded snapshot needs the bridge's keyed aggregation")
    assert(foldDf.select("name").as[String].collect().toSeq == Seq("a2"))
    // active DV
    val dvT = Files.createTempDirectory("graft_native_dv").toString + "/t"
    Warehouse.create(spark, dvT,
      (1L to 100L).map(i => (i, s"n$i", "d1")).toDF("k", "name", "part"),
      "part")
    Warehouse.deleteWhereDv(spark, dvT, col("k") <= 10L): Unit
    val dvDf = spark.read.format("graft-warehouse").load(dvT)
    assert(planOf(dvDf).contains("WarehouseV1Scan"),
      "a DV-active snapshot needs the bridge's subtraction")
    assert(dvDf.count() == 90L)
    // compact materializes the subtraction -> native again
    Warehouse.compact(spark, dvT, "k",
      math.max(1L, Warehouse.partitionStats(spark, dvT).map(_._4).sum))
    val compacted = spark.read.format("graft-warehouse").load(dvT)
    assert(!planOf(compacted).contains("WarehouseV1Scan"),
      "compaction erases the DV debt - the native path must return")
    assert(compacted.count() == 90L)
    // mixed layout generations
    val mixed = Files.createTempDirectory("graft_native_mix").toString + "/t"
    Warehouse.create(spark, mixed,
      (1L to 40L).map(i => (i, s"n$i", s"d${i % 2}", s"r${i % 3}"))
        .toDF("k", "name", "dt", "region"), "dt")
    Warehouse.evolveLayout(spark, mixed, Seq("dt", "region"),
      pred = kv => kv.get("dt").contains("d0")): Unit
    val mixedDf = spark.read.format("graft-warehouse").load(mixed)
    assert(planOf(mixedDf).contains("WarehouseV1Scan"),
      "a mixed-layout snapshot needs the bridge's per-generation union")
    assert(mixedDf.count() == 40L)
  }
}
