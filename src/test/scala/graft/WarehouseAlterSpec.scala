package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Warehouse

/** ALTER TABLE RENAME / DROP COLUMN through the `_schema` overlay log
  * (round 16; ADD COLUMN landed in round 15): every DDL is ONE
  * metadata write — zero data files touched — reads apply the ordered
  * mapping over whatever generation each file physically carries,
  * writes land the current logical names, compaction materializes,
  * and retired names (drop targets, rename OLD names) can never be
  * reused (pre-DDL files still carry them; Delta solves this with
  * field IDs, this overlay deliberately refuses instead).
  */
class WarehouseAlterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_alterspec").toString + "/t"

  private def dataFiles(path: String): Set[String] = {
    val root = Paths.get(path, "data")
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p)).map(_.toString).toSet
  }

  test("RENAME COLUMN is metadata-only: zero data files touched, values preserved under the new name") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, "x", "a"), (2L, "y", "b")).toDF("id", "v", "dt"), "dt")
    val before = dataFiles(path)
    Warehouse.renameColumn(spark, path, "v", "label")
    assert(dataFiles(path) == before, "rename must not touch data files")
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "label").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "x"), (2L, "y")))
    assert(!Warehouse.read(spark, path).columns.contains("v"))
  }

  test("mixed generations: files written before AND after the rename coalesce per row") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, "old1", "a")).toDF("id", "v", "dt"), "dt")
    Warehouse.renameColumn(spark, path, "v", "label")
    // post-rename writers use the NEW name (they read the logical schema)
    Warehouse.append(spark, path,
      Seq((2L, "new2", "a")).toDF("id", "label", "dt"))
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "label").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "old1"), (2L, "new2")), s"got $rows")
  }

  test("time travel across a rename shows the CURRENT logical name (overlay is table-level DDL state)") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, "x", "a")).toDF("id", "v", "dt"), "dt")
    Warehouse.append(spark, path,
      Seq((2L, "y", "a")).toDF("id", "v", "dt"))
    Warehouse.renameColumn(spark, path, "v", "label")
    val v1 = Warehouse.readVersion(spark, path, 1L)
    assert(v1.columns.contains("label") && !v1.columns.contains("v"))
    assert(v1.select("label").as[String].collect().toSeq == Seq("x"))
  }

  test("DROP COLUMN stops serving the column without touching files; the name is retired") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, "x", 5L, "a")).toDF("id", "v", "score", "dt"), "dt")
    val before = dataFiles(path)
    Warehouse.dropColumns(spark, path, Seq("score"))
    assert(dataFiles(path) == before, "drop must not touch data files")
    assert(!Warehouse.read(spark, path).columns.contains("score"))
    // retired: re-adding would resurrect the old files' bytes — refused
    val eAdd = intercept[IllegalArgumentException] {
      Warehouse.addColumns(spark, path,
        Seq("score" -> org.apache.spark.sql.types.LongType))
    }
    assert(eAdd.getMessage.contains("cannot be reused"))
    // and renaming another column ONTO a retired name is refused too
    val eRen = intercept[IllegalArgumentException] {
      Warehouse.renameColumn(spark, path, "v", "score")
    }
    assert(eRen.getMessage.contains("cannot be reused"))
  }

  test("refusal arms: partition column, merge key/version columns, existing target name, missing column") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, 1L, "x", "a")).toDF("id", "ver", "v", "dt"), "dt")
    // make it a delta table so _meta records (id, ver)
    Warehouse.mergeIntoDelta(spark, path,
      Seq((2L, 1L, "y", "a")).toDF("id", "ver", "v", "dt"), "id", "ver", Seq("dt"))
    assert(intercept[IllegalArgumentException](
      Warehouse.renameColumn(spark, path, "dt", "day"))
      .getMessage.contains("partition"))
    assert(intercept[IllegalArgumentException](
      Warehouse.dropColumns(spark, path, Seq("dt")))
      .getMessage.contains("partition"))
    assert(intercept[IllegalArgumentException](
      Warehouse.renameColumn(spark, path, "id", "id2"))
      .getMessage.contains("merge key"))
    assert(intercept[IllegalArgumentException](
      Warehouse.dropColumns(spark, path, Seq("ver")))
      .getMessage.contains("merge key"))
    assert(intercept[IllegalArgumentException](
      Warehouse.renameColumn(spark, path, "v", "id"))
      .getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException](
      Warehouse.renameColumn(spark, path, "nope", "x2"))
      .getMessage.contains("does not exist"))
  }

  test("SQL plane: ALTER TABLE RENAME COLUMN and DROP COLUMN bind through the catalog") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, "x", 5L, "a")).toDF("id", "v", "score", "dt"), "dt")
    spark.sql(s"ALTER TABLE graft.`$path` RENAME COLUMN v TO label")
    spark.sql(s"ALTER TABLE graft.`$path` DROP COLUMN score")
    val df = spark.read.format("graft-warehouse").load(path)
    assert(df.columns.toSeq == Seq("id", "label", "dt"),
      s"got ${df.columns.toSeq}")
    assert(df.select("label").as[String].head() == "x")
  }

  test("rename chain composes in order and compaction materializes the log (ops stay for time travel)") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, 1L, "x", "a"), (2L, 1L, "y", "a"))
        .toDF("id", "ver", "v", "dt"), "dt")
    Warehouse.renameColumn(spark, path, "v", "tmp")
    Warehouse.renameColumn(spark, path, "tmp", "label")
    // chain into a delta so compact() has something to fold
    Warehouse.mergeIntoDelta(spark, path,
      Seq((2L, 2L, "y2", "a")).toDF("id", "ver", "label", "dt"),
      "id", "ver", Seq("dt"))
    Warehouse.compact(spark, path, "id", targetBytes = 64L * 1024 * 1024)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "label").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "x"), (2L, "y2")), s"got $rows")
    // post-compaction files physically carry 'label'; the overlay ops
    // are no-ops on them but still map the pre-DDL batches
    val v1 = Warehouse.readVersion(spark, path, 1L)
    assert(v1.columns.contains("label"))
  }

  test("DML over a renamed column works on the logical name") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, "x", "a"), (2L, "y", "a")).toDF("id", "v", "dt"), "dt")
    Warehouse.renameColumn(spark, path, "v", "label")
    val n = spark.sql(
      s"UPDATE graft.`$path` SET label = 'hit' WHERE id = 1").as[Long].head()
    assert(n == 1L)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "label").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "hit"), (2L, "y")))
  }

  test("ALTER COLUMN TYPE widening is metadata-only: old int32 files promote in-scan, new writes land the wider type") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1, 5, "a")).toDF("id", "x", "dt"), "dt") // id, x: INT
    val before = dataFiles(path)
    Warehouse.widenColumnType(spark, path, "x",
      org.apache.spark.sql.types.LongType)
    assert(dataFiles(path) == before, "widen must not touch data files")
    val df = Warehouse.read(spark, path)
    assert(df.schema("x").dataType == org.apache.spark.sql.types.LongType)
    assert(df.select("x").as[Long].collect().toSeq == Seq(5L))
    // a post-widen append stores int64; BOTH generations read as long
    Warehouse.append(spark, path,
      Seq((2, 7L, "a")).toDF("id", "x", "dt"))
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "x").as[(Int, Long)].collect().toSeq
    assert(rows == Seq((1, 5L), (2, 7L)), s"got $rows")
    val shape = Seq("id" -> "IntegerType", "x" -> "LongType", "dt" -> "StringType")
    assert(Warehouse.read(spark, path).dtypes.toSeq == shape)
    assert(Warehouse.readVersion(spark, path,
      Warehouse.currentVersion(spark, path)).dtypes.toSeq == shape)
    // DML over the mixed generations works on the logical type
    spark.sql(s"UPDATE graft.`$path` SET x = x + 10 WHERE id = 1")
    assert(Warehouse.read(spark, path).orderBy("id")
      .select("x").as[Long].collect().toSeq == Seq(15L, 7L))
  }

  test("ALTER COLUMN TYPE refusal arms: narrowing, incompatible, partition col, delta table") {
    import org.apache.spark.sql.types._
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, 5, "x", "a")).toDF("id", "x", "v", "dt"), "dt")
    assert(intercept[IllegalArgumentException](
      Warehouse.widenColumnType(spark, path, "id", IntegerType))
      .getMessage.contains("widenings"))
    assert(intercept[IllegalArgumentException](
      Warehouse.widenColumnType(spark, path, "v", LongType))
      .getMessage.contains("widenings"))
    assert(intercept[IllegalArgumentException](
      Warehouse.widenColumnType(spark, path, "dt", LongType))
      .getMessage.contains("partition"))
    val delta = freshDir()
    Warehouse.create(spark, delta,
      Seq((1L, 1L, 5, "a")).toDF("id", "ver", "x", "dt"), "dt")
    Warehouse.mergeIntoDelta(spark, delta,
      Seq((2L, 1L, 6, "a")).toDF("id", "ver", "x", "dt"), "id", "ver", Seq("dt"))
    assert(intercept[IllegalArgumentException](
      Warehouse.widenColumnType(spark, delta, "x", LongType))
      .getMessage.contains("compact"))
  }

  test("SQL plane: ALTER TABLE ALTER COLUMN TYPE binds through the catalog and composes with rename") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1, 1.5f, "a")).toDF("id", "score", "dt"), "dt")
    spark.sql(s"ALTER TABLE graft.`$path` ALTER COLUMN score TYPE DOUBLE")
    spark.sql(s"ALTER TABLE graft.`$path` RENAME COLUMN score TO weight")
    val df = spark.read.format("graft-warehouse").load(path)
    assert(df.schema("weight").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(math.abs(df.select("weight").as[Double].head() - 1.5) < 1e-6)
  }

  test("DECIMAL precision widening is metadata-only and mixes generations (round 17)") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1, "1.25", "a"), (2, "99999999.50", "a")).toDF("id", "d", "dt")
        .select($"id", $"d".cast("decimal(10,2)").as("d"), $"dt"), "dt")
    val before = dataFiles(path)
    Warehouse.widenColumnType(spark, path, "d",
      org.apache.spark.sql.types.DecimalType(14, 2))
    assert(dataFiles(path) == before, "decimal widen must not touch files")
    val df = Warehouse.read(spark, path)
    assert(df.schema("d").dataType ==
      org.apache.spark.sql.types.DecimalType(14, 2))
    // a post-widen append stores decimal(14,2) — a value OVER the old
    // precision proves the wider physical type landed; both
    // generations read as decimal(14,2)
    Warehouse.append(spark, path,
      Seq((3, "999999999999.75", "a")).toDF("id", "d", "dt")
        .select($"id", $"d".cast("decimal(14,2)").as("d"), $"dt"))
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select($"d".cast("string")).as[String].collect().toSeq
    assert(rows == Seq("1.25", "99999999.50", "999999999999.75"), s"got $rows")
    // scale change and narrowing refuse
    assert(intercept[IllegalArgumentException](
      Warehouse.widenColumnType(spark, path, "d",
        org.apache.spark.sql.types.DecimalType(20, 4)))
      .getMessage.contains("widenings"))
    assert(intercept[IllegalArgumentException](
      Warehouse.widenColumnType(spark, path, "d",
        org.apache.spark.sql.types.DecimalType(10, 2)))
      .getMessage.contains("widenings"))
  }

  test("the _colstats sidecar follows DDL: RENAME re-keys, WIDEN retypes, DROP removes (round 17)") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, 5, "x", "a"), (2L, 7, "y", "a"))
        .toDF("id", "x", "v", "dt"), "dt")
    Warehouse.analyzeColumns(spark, path, Seq("id", "x", "v"))
    val v0 = Warehouse.colStatsVersion(spark, path)
    assert(v0.contains(1L))
    Warehouse.renameColumn(spark, path, "x", "score")
    val afterRename = Warehouse.readColStats(spark, path)
    assert(!afterRename.contains("x") && afterRename.contains("score"),
      s"stats must re-key on rename, got ${afterRename.keySet}")
    assert(afterRename("score").ndv == 2L)
    Warehouse.widenColumnType(spark, path, "score",
      org.apache.spark.sql.types.LongType)
    assert(Warehouse.readColStats(spark, path)("score").dataTypeDdl
      == "BIGINT")
    Warehouse.dropColumns(spark, path, Seq("v"))
    assert(!Warehouse.readColStats(spark, path).contains("v"),
      "dropped column's stats must not serve stale estimates")
    // the analyzed-version header survives every metadata rewrite
    assert(Warehouse.colStatsVersion(spark, path) == v0)
  }

  test("a registered-but-unwritten named table refuses the same retypes and rename collisions as a written one (round 17)") {
    val name = s"alter_unwritten_${System.nanoTime()}"
    val tbl = s"graft.db.$name"
    spark.sql(s"CREATE TABLE $tbl (id INT, v STRING, dt STRING) " +
      "PARTITIONED BY (dt)")
    // narrowing refuses (Spark's own upcast check catches it upstream)
    intercept[Exception](
      spark.sql(s"ALTER TABLE $tbl ALTER COLUMN id TYPE SMALLINT"))
    // int→double IS a Spark upcast but NOT reader-promotable — this
    // one must hit the catalog's widenable() guard, which the
    // unwritten branch previously skipped (advisor r16)
    assert(intercept[Exception](
      spark.sql(s"ALTER TABLE $tbl ALTER COLUMN id TYPE DOUBLE"))
      .getMessage.contains("widenings"))
    // rename onto an existing column refused
    assert(intercept[Exception](
      spark.sql(s"ALTER TABLE $tbl RENAME COLUMN v TO id"))
      .getMessage.contains("already exists"))
    // a legal widening + rename still applies to the declared schema
    spark.sql(s"ALTER TABLE $tbl ALTER COLUMN id TYPE BIGINT")
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN v TO label")
    val schema = spark.table(tbl).schema
    assert(schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(schema.fieldNames.contains("label"))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("footer-aggregate pushdown over a WIDENED column mixes int32/int64 generations correctly") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1, 5, "a"), (2, 90, "a")).toDF("id", "x", "dt"), "dt") // INT
    Warehouse.widenColumnType(spark, path, "x",
      org.apache.spark.sql.types.LongType)
    Warehouse.append(spark, path,
      Seq((3, 7L, "a"), (4, 4000000000L, "a")).toDF("id", "x", "dt")) // INT64
    val df = spark.read.format("graft-warehouse").load(path)
      .agg(min("x").as("mn"), max("x").as("mx"), count("x").as("n"))
    val (mn, mx, n) = df.as[(Long, Long, Long)].head()
    assert((mn, mx, n) == (5L, 4000000000L, 4L), s"got ($mn, $mx, $n)")
  }
}
