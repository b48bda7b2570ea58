package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Warehouse

/** SQL `DELETE FROM graft.`path`` — two planes. Partition-decidable
  * predicates are METADATA-ONLY: the delete commits one manifest and
  * touches ZERO data files (dropped partitions stay time-travelable
  * until vacuum), and range predicates on integral partition values
  * compare numerically ('9' < '10') where a lexicographic form would
  * drop the wrong partitions. Every other translatable predicate is
  * ROW-LEVEL copy-on-write: only match-carrying partitions rewrite
  * (untouched ones keep byte-identical files), NULL-predicate rows
  * survive per SQL semantics, delta chains fold before the rewrite,
  * and an emptied partition leaves the mapping. Untranslatable
  * expressions are refused at analysis, never answered approximately.
  */
class WarehouseDeleteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_delspec").toString + "/t"

  private def dataFiles(path: String): Set[String] = {
    val root = Paths.get(path, "data")
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p)).map(_.toString).toSet
  }

  test("partition-equality DELETE is metadata-only: rows gone, zero data files touched, history time-travelable") {
    val path = freshDir()
    Warehouse.create(spark, path,
      (1L to 400L).map(i => (i, s"n$i", if (i % 2 == 0) "d1" else "d2"))
        .toDF("k", "name", "part"), "part")
    val before = dataFiles(path)
    val v0 = Warehouse.currentVersion(spark, path)
    spark.sql(s"DELETE FROM graft.`$path` WHERE part = 'd1'")
    assert(dataFiles(path) == before, "delete must not touch a data file")
    assert(Warehouse.currentVersion(spark, path) == v0 + 1)
    val left = Warehouse.read(spark, path)
    assert(left.count() == 200 &&
      left.select("part").distinct().as[String].collect().toSeq == Seq("d2"))
    // the dropped partition is still served by time travel
    assert(Warehouse.readVersion(spark, path, v0).count() == 400)
  }

  test("retention DELETE: a date-range predicate drops exactly the partitions before the cutoff") {
    val path = freshDir()
    val df = (0 until 10).flatMap(d => (1 to 20).map(i =>
      (d * 100L + i, s"2024-01-${"%02d".format(d + 1)}")))
      .toDF("k", "dts").select(col("k"), to_date(col("dts")).as("dt"))
    Warehouse.create(spark, path, df, "dt")
    spark.sql(s"DELETE FROM graft.`$path` WHERE dt < DATE'2024-01-05'")
    val left = spark.read.format("graft-warehouse").load(path)
    assert(left.count() == 120)
    assert(left.agg(min("dt").cast("string")).as[String].head() == "2024-01-05")
  }

  test("integral partition ranges compare numerically, not lexicographically: bucket < 10 spares bucket 10") {
    val path = freshDir()
    Warehouse.create(spark, path,
      (0 until 12).flatMap(b => Seq((b * 10L, b))).toDF("k", "bucket"),
      "bucket")
    spark.sql(s"DELETE FROM graft.`$path` WHERE bucket < 10")
    val left = Warehouse.read(spark, path)
      .select("bucket").as[Int].collect().sorted.toSeq
    assert(left == Seq(10, 11),
      s"lexicographic compare would have kept 2..9 too, got $left")
  }

  test("a non-partition predicate takes the ROW-LEVEL copy-on-write path: only touched partitions rewrite") {
    val path = freshDir()
    Warehouse.create(spark, path,
      (1L to 300L).map(i =>
        (i, if (i % 3 == 0) "kill" else s"n$i", s"d${i % 3}"))
        .toDF("k", "name", "part"), "part")
    val before = dataFiles(path)
    val v0 = Warehouse.currentVersion(spark, path)
    // every name='kill' row lives in d0 — d1/d2 must keep their files
    spark.sql(s"DELETE FROM graft.`$path` WHERE name = 'kill'")
    assert(Warehouse.currentVersion(spark, path) == v0 + 1)
    val left = Warehouse.read(spark, path)
    assert(left.count() == 200L && left.filter(col("name") === "kill").count() == 0)
    val after = dataFiles(path)
    val untouched = before.filter(f => f.contains("part=d1") || f.contains("part=d2"))
    assert(untouched.subsetOf(after),
      "partitions without matches keep byte-identical files")
    assert(Warehouse.readVersion(spark, path, v0).count() == 300L,
      "the pre-delete snapshot stays time-travelable")
  }

  test("row-level DELETE: NULL-predicate rows survive; an emptied partition leaves the mapping") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, Some(10L), "d1"), (2L, None, "d1"), (3L, Some(3L), "d1"),
        (4L, Some(99L), "d2"))
        .toDF("k", "score", "part"), "part")
    // SQL semantics: score > 5 is NULL for k=2 - that row SURVIVES
    spark.sql(s"DELETE FROM graft.`$path` WHERE score > 5")
    val left = Warehouse.read(spark, path).select("k").as[Long].collect().toSet
    assert(left == Set(2L, 3L), s"null-pred row must survive, got $left")
    // d2 emptied entirely: its partition leaves the live mapping
    assert(Warehouse.partitionStats(spark, path).map(_._1).forall(!_.contains("d2")),
      "an emptied partition must leave the mapping")
  }

  test("row-level DELETE folds delta chains before rewriting and counts deleted rows") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, "old", 1L, "d1"), (2L, "keep", 1L, "d1"))
        .toDF("k", "name", "ver", "part"), "part")
    Warehouse.mergeIntoDelta(spark, path,
      Seq((1L, "target", 2L, "d1"), (3L, "target", 1L, "d1"))
        .toDF("k", "name", "ver", "part"), "k", "ver", Seq("part"))
    val n = Warehouse.deleteWhere(spark, path, col("name") === "target")
    assert(n == 2L, s"the fold's latest-wins rows are what DELETE sees, got $n")
    val left = Warehouse.read(spark, path)
    assert(left.select("k").as[Long].collect().toSet == Set(2L))
    assert(Warehouse.partitionStats(spark, path).forall(!_._2.contains(",")),
      "the rewrite materializes the fold - no chain survives")
  }

  test("an untranslatable DELETE expression is refused at analysis, nothing deleted") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, "a", "d1"), (2L, "b", "d2")).toDF("k", "name", "part"), "part")
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM graft.`$path` WHERE k % 2 = 0")
    }
    assert(Warehouse.read(spark, path).count() == 2, "nothing may be deleted")
    assert(e.getMessage != null)
  }

  test("a no-match DELETE commits nothing") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, "d1"), (2L, "d2")).toDF("k", "part"), "part")
    val v0 = Warehouse.currentVersion(spark, path)
    spark.sql(s"DELETE FROM graft.`$path` WHERE part = 'nope'")
    assert(Warehouse.currentVersion(spark, path) == v0,
      "zero matches must not burn a version")
    assert(Warehouse.read(spark, path).count() == 2)
  }

  test("delete-all leaves the documented empty-table state and restore() recovers it") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, "d1"), (2L, "d2")).toDF("k", "part"), "part")
    val v0 = Warehouse.currentVersion(spark, path)
    spark.sql(s"DELETE FROM graft.`$path`")
    val e = intercept[IllegalArgumentException](Warehouse.read(spark, path))
    assert(e.getMessage.contains("no live partitions"))
    Warehouse.restore(spark, path, v0)
    assert(Warehouse.read(spark, path).count() == 2)
  }

  test("IN-list and boolean combinators delete the named partitions exactly") {
    val path = freshDir()
    Warehouse.create(spark, path,
      (1 to 6).map(i => (i.toLong, s"p$i")).toDF("k", "part"), "part")
    spark.sql(
      s"DELETE FROM graft.`$path` WHERE part IN ('p1','p3') OR part = 'p5'")
    val left = Warehouse.read(spark, path)
      .select("part").as[String].collect().sorted.toSeq
    assert(left == Seq("p2", "p4", "p6"))
  }
}
