package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.JobCounter
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Warehouse

/** The single-pass shape of the warehouse DML writes: each statement
  * starts one job over its rows plus at most one to find the touched
  * partitions (MERGE: the join's two exchanges and the write), the
  * checks and counts taken from the write itself fail and count
  * exactly as a separate query would, and a statement refused after
  * its write leaves the table at its version with no batch dir behind.
  */
class WarehouseDmlPassSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_dmlpass").toString + "/t"

  private def batchDirs(path: String): Set[String] =
    Files.list(Paths.get(path, "data")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("batch=")).toSet

  private def seed(path: String): Unit =
    Warehouse.create(spark, path,
      (1L to 60L).map(i => (i, i * 10L, s"n$i", s"p${i % 3}"))
        .toDF("id", "qty", "name", "dt"), "dt")

  private def jobsOf(body: => Any): Int =
    JobCounter.count(spark.sparkContext)(body)._2

  /** The table's version and batch dirs must not move across `body`. */
  private def assertUnchangedBy(path: String)(body: => Any): Unit = {
    val v = Warehouse.currentVersion(spark, path)
    val batches = batchDirs(path)
    body
    assert(Warehouse.currentVersion(spark, path) == v)
    assert(batchDirs(path) == batches, "a refused write left its batch dir")
  }

  test("each DML statement starts one job over its rows plus at most one partition-discovery job") {
    val path = freshDir()
    seed(path)
    // the source names every live partition, so the cross-partition
    // insert-key guard (a scan of untouched partitions) does not run
    Seq((3L, 1L, "upd3", "p0"), (4L, 1L, "upd4", "p1"), (5L, 1L, "upd5", "p2"),
      (100L, 7L, "new100", "p1"))
      .toDF("id", "qty", "name", "dt").createOrReplaceTempView("dml_pass_src")
    Seq((200L, 2L, "ins", "p0")).toDF("id", "qty", "name", "dt")
      .createOrReplaceTempView("dml_pass_ins")
    val merge = jobsOf(spark.sql(
      s"""MERGE INTO graft.`$path` t USING dml_pass_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    val update = jobsOf(spark.sql(
      s"UPDATE graft.`$path` SET name = 'u' WHERE id = 7").collect())
    val delete = jobsOf(spark.sql(s"DELETE FROM graft.`$path` WHERE id = 8").collect())
    val insert = jobsOf(spark.sql(
      s"INSERT INTO graft.`$path` SELECT * FROM dml_pass_ins").collect())
    // MERGE: the source's partition tuples, the two join exchanges and
    // the write. UPDATE/DELETE: discovery and the write. INSERT: the write
    assert(merge <= 4, s"MERGE started $merge jobs")
    assert(update <= 2, s"UPDATE started $update jobs")
    assert(delete <= 2, s"DELETE started $delete jobs")
    assert(insert <= 1, s"INSERT started $insert jobs")
    val rows = Warehouse.read(spark, path)
    assert(rows.count() == 60L + 1L - 1L + 1L)
    assert(rows.filter(col("id").isin(3L, 4L, 5L, 100L, 200L))
      .select("name").as[String].collect().sorted.toSeq ==
      Seq("ins", "new100", "upd3", "upd4", "upd5"))
    assert(rows.filter(col("id") === 7L).select("name").as[String].head() == "u")
  }

  test("a MERGE refused by the cardinality rule leaves the table at its version and no batch dir") {
    val path = freshDir()
    seed(path)
    assertUnchangedBy(path) {
      val e = intercept[IllegalArgumentException] {
        Warehouse.mergeStatement(spark, path,
          Seq((4L, "a", "p1"), (4L, "b", "p1"), (500L, "c", "p1"))
            .toDF("id", "nv", "dt"),
          Seq("id"), Seq(col("id")),
          matched = Seq((None, Some(Seq("name" -> col("nv"))))),
          notMatched = Seq((None, Seq("id" -> col("id"), "qty" -> lit(0L),
            "name" -> col("nv"), "dt" -> col("dt")))))
      }
      assert(e.getMessage.contains("duplicate join keys that match a target row"),
        e.getMessage)
    }
    assert(Warehouse.read(spark, path).count() == 60L)
  }

  test("an empty append and an append with a NULL partition value are refused, table and batch dirs unchanged") {
    val path = freshDir()
    seed(path)
    assertUnchangedBy(path) {
      intercept[graft.io.EmptyBatchException] {
        Warehouse.append(spark, path,
          Seq.empty[(Long, Long, String, String)].toDF("id", "qty", "name", "dt"))
      }
    }
    assertUnchangedBy(path) {
      val e = intercept[IllegalArgumentException] {
        Warehouse.append(spark, path,
          Seq((1000L, 1L, "x", "p0"), (1001L, 1L, "y", null))
            .toDF("id", "qty", "name", "dt"))
      }
      assert(e.getMessage.contains("change batch carries a NULL dt"), e.getMessage)
    }
    assert(Warehouse.read(spark, path).count() == 60L)
  }

  test("UPDATE and DELETE counts equal a filter count taken before the statement; NULL-predicate rows are not counted") {
    val base = (1L to 60L).map(i =>
      (i, if (i % 7 == 0) None else Some(i * 10L), s"n$i", s"p${i % 3}"))
    def table(): String = {
      val path = freshDir()
      Warehouse.create(spark, path, base.toDF("id", "qty", "name", "dt"), "dt")
      path
    }
    def expected(path: String, pred: Column): Long =
      Warehouse.read(spark, path).filter(pred).count()
    // qty is NULL on every seventh row: the predicate is NULL there
    val pred = col("qty") > 200L && col("qty") < 450L
    val up = table()
    val wantUp = expected(up, pred)
    assert(wantUp > 0L)
    assert(Warehouse.updateWhere(spark, up, Seq("name" -> lit("hit")), pred) == wantUp)
    val del = table()
    val wantDel = expected(del, pred)
    assert(Warehouse.deleteWhere(spark, del, pred) == wantDel)
    // a predicate the optimizer folds to TRUE: the survivors' filter
    // folds to FALSE and prunes the observed node, so the count must
    // come from the fallback query, not read as 0
    val all = table()
    assert(Warehouse.deleteWhere(spark, all, col("id") > 0L || lit(true)) == 60L)
    val allUp = table()
    assert(Warehouse.updateWhere(spark, allUp, Seq("name" -> lit("all")),
      lit(1) === lit(1)) == 60L)
    assert(Warehouse.read(spark, allUp).filter(col("name") === "all").count() == 60L)
  }

  test("deleteWhereDv's copy-on-write arm counts exactly like a filter count") {
    val path = freshDir()
    Warehouse.create(spark, path,
      (1L to 90L).map(i => (i, 1L, if (i % 5 == 0) None else Some(i * 2), s"p${i % 3}"))
        .toDF("k", "ver", "qty", "part"), "part")
    // a delta link on every partition: the whole delete takes the
    // copy-on-write arm
    Warehouse.mergeIntoDelta(spark, path,
      Seq((3L, 2L, Some(3000L), "p0"), (4L, 2L, None, "p1"), (5L, 2L, Some(10L), "p2"))
        .toDF("k", "ver", "qty", "part"),
      "k", "ver", Seq("part"))
    val pred = col("qty") >= 10L && col("qty") < 100L
    val want = Warehouse.read(spark, path).filter(pred).count()
    assert(want > 0L)
    assert(Warehouse.deleteWhereDv(spark, path, pred) == want)
    assert(Warehouse.read(spark, path).filter(pred).count() == 0L)
  }
}
