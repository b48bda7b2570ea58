package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.JobCounter
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NoCommittedVersion, Warehouse}

/** Warehouse scan schemas come from one parquet footer per immutable
  * batch, read on the driver and memoized: building a warehouse frame
  * (and analyzing SQL over one) launches no Spark job, a target set
  * with no data file fails exactly as Spark's own inference fails,
  * and an absent snapshot or version is a typed error the catalog
  * maps to "table not found" — while every other read error surfaces.
  */
class WarehouseScanSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_scanschema").toString + "/t"

  private def jobsOf[T](body: => T): Int = JobCounter.count(spark.sparkContext)(body)._2

  /** An orders-shaped table of three batches: create + two appends. */
  private def threeBatches(path: String): Unit = {
    def rows(ks: Range.Inclusive): DataFrame =
      ks.map(k => (k.toLong, s"${k % 3}-PRI", k * 1.5))
        .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    Warehouse.create(spark, path, rows(1 to 100), "o_orderpriority")
    Warehouse.append(spark, path, rows(101 to 200))
    Warehouse.append(spark, path, rows(201 to 300))
  }

  private def dataFilesUnder(dir: String): Seq[Path] =
    Files.walk(Paths.get(dir)).iterator().asScala.toSeq
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))

  test("schema resolution launches no Spark job; a warm point lookup runs exactly its scan job") {
    val path = freshDir()
    threeBatches(path)
    assert(new java.io.File(s"$path/data").list().count(_.startsWith("batch=")) == 3)
    assert(jobsOf(Warehouse.read(spark, path).schema) == 0,
      "building a warehouse frame must not infer its schema with a job")
    assert(jobsOf(Warehouse.readVersion(spark, path, 2L).schema) == 0)
    val lookup = s"SELECT o_orderkey, o_totalprice FROM graft.`$path` WHERE o_orderkey = 150"
    assert(jobsOf(spark.sql(lookup).queryExecution.analyzed) == 0,
      "analyzing SQL over a warehouse table must not launch a job")
    assert(spark.sql(lookup).as[(Long, Double)].collect().toSeq == Seq((150L, 225.0)))
    val (rows, jobs) = JobCounter.count(spark.sparkContext)(
      spark.sql(lookup).as[(Long, Double)].collect().toSeq)
    assert(rows == Seq((150L, 225.0)))
    assert(jobs == 1, s"a warm point lookup ran $jobs jobs, expected only its scan")
  }

  test("a widened column resolves without a job per batch") {
    val path = freshDir()
    Warehouse.create(spark, path, Seq((1, 5, "a"), (2, 6, "b")).toDF("id", "x", "dt"), "dt")
    Warehouse.widenColumnType(spark, path, "x", LongType)
    Warehouse.append(spark, path, Seq((3, 7L, "a")).toDF("id", "x", "dt"))
    Warehouse.append(spark, path, Seq((4, 8L, "b")).toDF("id", "x", "dt"))
    assert(jobsOf(Warehouse.read(spark, path).schema) == 0)
    assert(Warehouse.read(spark, path).schema("x").dataType == LongType)
    assert(Warehouse.read(spark, path).orderBy("id").select("x").as[Long]
      .collect().toSeq == Seq(5L, 6L, 7L, 8L))
  }

  test("targets holding no data file fail as Spark's inference fails, whatever was read before") {
    def emptied(warm: Boolean): String = {
      val path = freshDir()
      Warehouse.create(spark, path, Seq((1L, "v", "a")).toDF("k", "v", "dt"), "dt")
      if (warm) Warehouse.read(spark, path).collect()
      dataFilesUnder(s"$path/data").foreach(Files.delete)
      path
    }
    for (warm <- Seq(false, true)) {
      val path = emptied(warm)
      val e = intercept[AnalysisException](Warehouse.read(spark, path))
      assert(e.getMessage.contains("UNABLE_TO_INFER_SCHEMA"), s"warm=$warm: $e")
    }
    // one emptied partition among live ones contributes nothing: the
    // live partition's rows and schema are served
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, "x", "a"), (2L, "y", "b")).toDF("k", "v", "dt"), "dt")
    Warehouse.read(spark, path).collect()
    val b = new java.io.File(s"$path/data").list().find(_.startsWith("batch=")).get
    dataFilesUnder(s"$path/data/$b/dt=a").foreach(Files.delete)
    val df = Warehouse.read(spark, path)
    assert(df.columns.toSeq == Seq("k", "v", "dt"))
    assert(df.as[(Long, String, String)].collect().toSeq == Seq((2L, "y", "b")))
  }

  test("an absent snapshot is a typed NoCommittedVersion; a vacuumed-data error is not mistaken for a missing table") {
    val path = freshDir()
    Warehouse.create(spark, path, Seq((1L, "a", 10L, "d1")).toDF("k", "v", "ver", "d"), "d")
    val v1Batch = new java.io.File(s"$path/data").list().find(_.startsWith("batch=")).get
    Warehouse.mergeInto(spark, path,
      Seq((1L, "b", 11L, "d1")).toDF("k", "v", "ver", "d"), "k", "ver", Seq("d"))
    intercept[NoCommittedVersion](Warehouse.readVersion(spark, path, 9L))
    intercept[NoCommittedVersion](Warehouse.read(spark, freshDir()))
    // a crash between vacuum's two sweep steps: the superseded batch is
    // gone while version 1's manifest still names it
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$path/data/$v1Batch"))
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM graft.`$path` VERSION AS OF 1").collect())
    assert(e.getMessage.contains("references vacuumed data"), s"got $e")
    assert(!e.isInstanceOf[NoCommittedVersion])
    assert(spark.sql(s"SELECT v FROM graft.`$path`").as[String].collect().toSeq == Seq("b"))
    // a path with no `_versions` is still "table not found"
    val none = intercept[AnalysisException](
      spark.sql(s"SELECT * FROM graft.`${freshDir()}`").collect())
    assert(none.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), s"got $none")
  }
}
