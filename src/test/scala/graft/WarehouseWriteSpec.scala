package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Warehouse

/** The warehouse WRITE plane: blind '+' append links, truncate and
  * dynamic-partition overwrites, RESTORE, and the DSv2/SQL routes into
  * them (`INSERT INTO` / `INSERT OVERWRITE` through the `graft`
  * catalog, `df.write.format("graft-warehouse")` save modes). The
  * scale claims asserted on disk: an append writes O(batch) bytes and
  * leaves untouched partitions' files byte-identical; every overwrite
  * is one more commit (time travel across it); compaction erases
  * append chains without changing rows.
  */
class WarehouseWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_wrspec").toString + "/t"

  private def baseRows = (1L to 1000L).map(i =>
    (i, s"n$i", 10L, if (i % 2 == 0) "d1" else "d2"))
    .toDF("k", "name", "ver", "part")

  test("append on an unkeyed table is a blind union: new rows land, duplicates preserved, untouched files byte-identical") {
    val path = freshDir()
    Warehouse.create(spark, path, baseRows, "part")
    val beforeFiles = Warehouse.read(spark, path).inputFiles.toSet
    // duplicate key 1 on purpose — blind append keeps both rows
    val extra = Seq((1L, "dup", 11L, "d1"), (2001L, "new", 11L, "d3"))
      .toDF("k", "name", "ver", "part")
    val attempts = Warehouse.append(spark, path, extra)
    assert(attempts == 1)
    val after = Warehouse.read(spark, path)
    assert(after.count() == 1002)
    assert(after.filter(col("k") === 1L).count() == 2, "blind append preserves duplicates")
    assert(after.filter(col("part") === "d3").count() == 1, "append can create a partition")
    // untouched partitions keep their exact files; the appended batch adds files
    assert(beforeFiles.subsetOf(after.inputFiles.toSet),
      "append must not rewrite existing files")
    // the chain carries a '+' link on the touched partition only
    val chains = Warehouse.partitionStats(spark, path)
      .map { case (key, chain, _, _) => key -> chain }.toMap
    assert(chains("part=d1").contains(",+"), s"expected append link, got ${chains("part=d1")}")
    assert(!chains("part=d2").contains(","), "untouched partition chain must not grow")
    assert(chains("part=d3").startsWith("+"), "append-created partition is a bare '+' link")
  }

  test("append write cost is O(batch): the appended batch's bytes are a fraction of the table's") {
    val path = freshDir()
    Warehouse.create(spark, path, baseRows, "part")
    val before = Warehouse.partitionStats(spark, path).map(_._4).sum
    Warehouse.append(spark, path,
      Seq((5000L, "one", 11L, "d1")).toDF("k", "name", "ver", "part"))
    val after = Warehouse.partitionStats(spark, path).map(_._4).sum
    assert(after - before < before / 5,
      s"1-row append wrote ${after - before} bytes against a $before-byte table")
  }

  test("append on a KEYED table routes through the delta merge: a re-inserted key upserts, not duplicates") {
    val path = freshDir()
    Warehouse.create(spark, path, baseRows, "part")
    // record merge keys with a delta commit (key 1 is odd -> lives in d2)
    Warehouse.mergeIntoDelta(spark, path,
      Seq((1L, "delta", 11L, "d2")).toDF("k", "name", "ver", "part"),
      "k", "ver", Seq("part"))
    Warehouse.append(spark, path,
      Seq((1L, "upserted", 12L, "d2"), (3001L, "new", 12L, "d1"))
        .toDF("k", "name", "ver", "part"))
    val after = Warehouse.read(spark, path)
    assert(after.count() == 1001)
    assert(after.filter(col("k") === 1L).select("name").as[String].head() == "upserted")
    // no '+' links ever appear on a keyed table
    assert(Warehouse.partitionStats(spark, path).forall(!_._2.contains("+")))
  }

  test("time travel across an append; compact erases the append chain without changing rows") {
    val path = freshDir()
    Warehouse.create(spark, path, baseRows, "part")
    Warehouse.append(spark, path,
      Seq((1L, "dup", 11L, "d1")).toDF("k", "name", "ver", "part"))
    assert(Warehouse.readVersion(spark, path, 1L).count() == 1000)
    val rowsBefore = Warehouse.read(spark, path).orderBy("k", "name")
      .collect().toSeq
    Warehouse.compact(spark, path, "k", targetBytes = 1L << 26)
    assert(Warehouse.partitionStats(spark, path).forall(!_._2.contains(",")),
      "compact must collapse append chains")
    assert(Warehouse.read(spark, path).orderBy("k", "name").collect().toSeq
      == rowsBefore, "compact must preserve rows, duplicates included")
  }

  test("a lost commit race retries with the O(1) append rebase") {
    val path = freshDir()
    Warehouse.create(spark, path, baseRows, "part")
    val real = Warehouse.LocalLinkCommit
    var failed = false
    Warehouse.primitiveOverride = Some(new graft.io.CommitPrimitive {
      override def claim(fs: org.apache.hadoop.fs.FileSystem,
          tmp: org.apache.hadoop.fs.Path,
          target: org.apache.hadoop.fs.Path): Boolean =
        if (!failed) { failed = true; false } // racing writer wins once
        else real.claim(fs, tmp, target)
    })
    try {
      val attempts = Warehouse.append(spark, path,
        Seq((2001L, "new", 11L, "d1")).toDF("k", "name", "ver", "part"))
      assert(attempts == 2)
      assert(Warehouse.read(spark, path).count() == 1001)
    } finally Warehouse.primitiveOverride = None
  }

  test("overwrite replaces the whole table as one more commit; the old snapshot still time-travels") {
    val path = freshDir()
    Warehouse.create(spark, path, baseRows, "part")
    Warehouse.overwrite(spark, path,
      Seq((9L, "only", 20L, "d9")).toDF("k", "name", "ver", "part"))
    val now = Warehouse.read(spark, path)
    assert(now.count() == 1 && now.select("part").as[String].head() == "d9")
    assert(Warehouse.readVersion(spark, path, 1L).count() == 1000,
      "overwrite must not destroy history")
    assert(Warehouse.currentVersion(spark, path) == 2L)
  }

  test("overwritePartitions replaces exactly the named partitions") {
    val path = freshDir()
    Warehouse.create(spark, path, baseRows, "part")
    val d2Files = Warehouse.read(spark, path)
      .inputFiles.filter(_.contains("part=d2")).toSet
    Warehouse.overwritePartitions(spark, path,
      Seq((7L, "reloaded", 20L, "d1")).toDF("k", "name", "ver", "part"))
    val now = Warehouse.read(spark, path)
    assert(now.filter(col("part") === "d1").count() == 1)
    assert(now.filter(col("part") === "d2").count() == 500,
      "partitions outside the batch must survive")
    assert(d2Files.subsetOf(now.inputFiles.toSet),
      "untouched partitions keep their exact files")
  }

  test("restore rolls the table back as a NEW commit sharing the old files") {
    val path = freshDir()
    Warehouse.create(spark, path, baseRows, "part")
    Warehouse.mergeInto(spark, path,
      Seq((1L, "changed", 11L, "d2")).toDF("k", "name", "ver", "part"),
      "k", "ver", Seq("part"))
    assert(Warehouse.read(spark, path)
      .filter(col("k") === 1L).select("name").as[String].head() == "changed")
    val newV = Warehouse.restore(spark, path, 1L)
    assert(newV == 3L && Warehouse.currentVersion(spark, path) == 3L)
    assert(Warehouse.read(spark, path)
      .filter(col("k") === 1L).select("name").as[String].head() == "n1",
      "restore serves version 1's rows")
    assert(Warehouse.readVersion(spark, path, 2L)
      .filter(col("k") === 1L).select("name").as[String].head() == "changed",
      "the rolled-back version stays readable - restore rewrites nothing")
    intercept[IllegalStateException](Warehouse.restore(spark, path, 99L))
  }

  test("SQL INSERT INTO through the graft catalog appends; INSERT OVERWRITE truncates") {
    val path = freshDir()
    Warehouse.create(spark, path, baseRows, "part")
    spark.sql(s"INSERT INTO graft.`$path` VALUES (2001, 'sqlrow', 11, 'd1')")
    assert(Warehouse.read(spark, path).count() == 1001)
    assert(Warehouse.read(spark, path).filter(col("name") === "sqlrow").count() == 1)
    spark.sql(s"INSERT OVERWRITE graft.`$path` VALUES (1, 'fresh', 30, 'd1')")
    assert(Warehouse.read(spark, path).count() == 1)
    assert(Warehouse.readVersion(spark, path, 2L).count() == 1001,
      "SQL overwrite is one more commit, history intact")
  }

  test("df.write save modes route to append / truncate / dynamic overwrite") {
    val path = freshDir()
    Warehouse.create(spark, path, baseRows, "part")
    Seq((2001L, "w1", 11L, "d1")).toDF("k", "name", "ver", "part")
      .write.format("graft-warehouse").mode("append").save(path)
    assert(Warehouse.read(spark, path).count() == 1001)
    // dynamic: only d1 is replaced
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try Seq((7L, "dyn", 20L, "d1")).toDF("k", "name", "ver", "part")
      .write.format("graft-warehouse").mode("overwrite").save(path)
    finally prev.fold(spark.conf.unset("spark.sql.sources.partitionOverwriteMode"))(
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))
    val afterDyn = Warehouse.read(spark, path)
    assert(afterDyn.filter(col("part") === "d1").count() == 1)
    assert(afterDyn.filter(col("part") === "d2").count() == 500)
    // static overwrite truncates
    Seq((1L, "only", 30L, "d1")).toDF("k", "name", "ver", "part")
      .write.format("graft-warehouse").mode("overwrite").save(path)
    assert(Warehouse.read(spark, path).count() == 1)
  }

  test("writes into time-travel or change-feed reads are refused") {
    val path = freshDir()
    Warehouse.create(spark, path, baseRows, "part")
    val e = intercept[Exception] {
      Seq((1L, "x", 1L, "d1")).toDF("k", "name", "ver", "part")
        .write.format("graft-warehouse").option("versionAsOf", "1")
        .mode("append").save(path)
    }
    assert(e.getMessage.contains("time-travel"))
  }
}
