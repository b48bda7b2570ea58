package graft

import org.apache.spark.JobCounter
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Flatten

/** Unit coverage for the JSON-normalize / schema-drift layer
  * (SURVEY.md §2 F1–F4, P2, P5, P6, P13, J4) — the edge cases the
  * DuckDB oracle can't see: arrays shorter than N, nested-struct
  * naming, idempotence, duplicate wanted-columns.
  */
class FlattenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def nestedDf = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("a", StructType(Seq(
        StructField("b", StructType(Seq(StructField("c", StringType)))),
        StructField("d", LongType))))))
    spark.createDataFrame(
      java.util.List.of(
        Row(1L, Row(Row("x"), 10L)),
        Row(2L, Row(Row(null), 20L))),
      schema)
  }

  test("flatten joins nested struct paths with underscores (F1+F3)") {
    val flat = Flatten.flatten(nestedDf)
    assert(flat.columns.toSeq == Seq("id", "a_b_c", "a_d"))
    assert(flat.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "x", 10L), (2L, null, 20L)))
  }

  test("flatten is idempotent on an already-flat frame") {
    val once = Flatten.flatten(nestedDf)
    val twice = Flatten.flatten(once)
    assert(twice.schema == once.schema)
    assert(twice.orderBy("id").collect().toSeq == once.orderBy("id").collect().toSeq)
  }

  test("widenArrayOfStruct yields nulls past the array's end (J4/F2, SER:158-164)") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("workers", ArrayType(StructType(Seq(
        StructField("worker", StructType(Seq(StructField("name", StringType))))))))))
    val df = spark.createDataFrame(
      java.util.List.of(
        Row(1L, Seq(Row(Row("ana")), Row(Row("bo")))),
        Row(2L, Seq(Row(Row("cy")))),
        Row(3L, Seq())),
      schema)
    val wide = Flatten.widenArrayOfStruct(df, "workers",
      Seq("worker.name" -> "worker_name"), n = 3)
    assert(wide.columns.toSeq ==
      Seq("id", "worker_name_1", "worker_name_2", "worker_name_3"))
    val rows = wide.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    assert(rows == Seq(
      (1L, "ana", "bo", null),
      (2L, "cy", null, null),
      (3L, null, null, null)))
  }

  test("selectExisting keeps wanted order, dedupes repeats, skips missing (P2/P13)") {
    val df = Seq((1L, "a", 2.0)).toDF("x", "y", "z")
    val picked = Flatten.selectExisting(df, Seq("z", "nope", "x", "z", "x"))
    assert(picked.columns.toSeq == Seq("z", "x"))
  }

  test("dropIfExists drops present columns and ignores absent ones (P4/P5)") {
    val df = Seq((1L, "a", 2.0)).toDF("x", "y", "z")
    assert(Flatten.dropIfExists(df, "y", "ghost").columns.toSeq == Seq("x", "z"))
  }

  test("dropAllNullColumns removes only columns with zero non-null values (P6)") {
    val df = Seq((1L, Option.empty[String], Option("k")),
                 (2L, Option.empty[String], Option.empty[String]))
      .toDF("id", "allnull", "somenull")
    assert(Flatten.dropAllNullColumns(df).columns.toSeq == Seq("id", "somenull"))
  }

  test("dropAllNullColumns decides a frame smaller than its sample from one aggregate") {
    val df = Seq((1L, Option.empty[String], Option("k")),
                 (2L, Option.empty[String], Option.empty[String]),
                 (3L, Option.empty[String], Option.empty[String]))
      .toDF("id", "allnull", "somenull")
    val sc = spark.sparkContext
    // the sample aggregate's jobs alone: a frame with no all-null column
    // never needs the full pass
    val (_, sampleJobs) = JobCounter.count(sc)(Flatten.dropAllNullColumns(df.drop("allnull")))
    val (kept, jobs) = JobCounter.count(sc)(Flatten.dropAllNullColumns(df, sampleRows = 4))
    assert(kept.columns.toSeq == Seq("id", "somenull"))
    assert(jobs == sampleJobs, s"$jobs jobs, the sample aggregate alone runs $sampleJobs")
    // a sample that holds every row but fills `sampleRows` exactly
    // cannot tell, so the full pass still runs
    val (full, fullJobs) = JobCounter.count(sc)(Flatten.dropAllNullColumns(df, sampleRows = 3))
    assert(full.columns.toSeq == Seq("id", "somenull"))
    assert(fullJobs > sampleJobs)
  }

  test("dropAllNullColumns keeps a column whose only non-null row may fall outside the sample") {
    val df = Seq((1L, Option.empty[String]), (2L, Option("v"))).toDF("id", "late")
    assert(Flatten.dropAllNullColumns(df, sampleRows = 1).columns.toSeq == Seq("id", "late"))
    // ordered, the one-row sample is surely the null one
    assert(Flatten.dropAllNullColumns(df.orderBy("id"), sampleRows = 1)
      .columns.toSeq == Seq("id", "late"))
  }

  test("renameAll applies an explicit rename map (F4)") {
    val df = Seq((1L, "a")).toDF("file", "date")
    assert(Flatten.renameAll(df, Map("file" -> "arch", "date" -> "Fecha"))
      .columns.toSeq == Seq("arch", "Fecha"))
  }
}
