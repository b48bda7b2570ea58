package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{CommitPrimitive, Warehouse}

/** Round-14 warehouse contracts: multi-partition-column tables
  * ((dt, region) composite layouts through the full
  * merge/delta/compact/skip lifecycle), typed file statistics (string
  * and date pruning below partition pruning), and the
  * [[CommitPrimitive]] seam every version publish claims through.
  */
class WarehouseMultiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("multi-partition columns: (dt, region) composite lifecycle — merge, delta, fold, compact, time travel, untouched leaves stay byte-identical") {
    val path = Files.createTempDirectory("graft_mp").toString + "/t"
    val base = Seq(
      (1L, "a", 10L, "2024-01-01", "us"), (2L, "b", 10L, "2024-01-01", "eu"),
      (3L, "c", 10L, "2024-01-02", "us"), (4L, "d", 10L, "2024-01-02", "eu"))
      .toDF("k", "payload", "ver", "dt", "region")
    Warehouse.create(spark, path, base, Seq("dt", "region"))
    // manifest keys are the nested relative paths
    val keys = Warehouse.partitionStats(spark, path).map(_._1).sorted
    assert(keys == Seq("dt=2024-01-01/region=eu", "dt=2024-01-01/region=us",
      "dt=2024-01-02/region=eu", "dt=2024-01-02/region=us"), s"got $keys")
    val untouchedBefore = {
      val (key, b, _, _) = Warehouse.partitionStats(spark, path)
        .find(_._1 == "dt=2024-01-01/region=eu").get
      new java.io.File(s"$path/data/batch=$b/$key").list().sorted.toSeq
    }
    // CoW merge touches only (2024-01-02, us); a new leaf appears
    Warehouse.mergeInto(spark, path,
      Seq((3L, "c2", 11L, "2024-01-02", "us"),
        (5L, "e", 11L, "2024-01-03", "ap"))
        .toDF("k", "payload", "ver", "dt", "region"),
      "k", "ver", Seq("dt", "region"), None)
    val got = Warehouse.read(spark, path)
      .select("k", "payload", "dt", "region")
      .as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", "2024-01-01", "us"), (2L, "b", "2024-01-01", "eu"),
      (3L, "c2", "2024-01-02", "us"), (4L, "d", "2024-01-02", "eu"),
      (5L, "e", "2024-01-03", "ap")))
    val statsNow = Warehouse.partitionStats(spark, path).map(s => s._1 -> s._2).toMap
    assert(statsNow("dt=2024-01-02/region=us") != statsNow("dt=2024-01-01/region=eu"),
      "touched leaf moves to a new batch")
    assert(statsNow("dt=2024-01-02/region=eu") == statsNow("dt=2024-01-01/region=eu"),
      "untouched leaf keeps its batch")
    val untouchedAfter = {
      val (key, b, _, _) = Warehouse.partitionStats(spark, path)
        .find(_._1 == "dt=2024-01-01/region=eu").get
      new java.io.File(s"$path/data/batch=$b/$key").list().sorted.toSeq
    }
    assert(untouchedAfter == untouchedBefore,
      "untouched composite leaf keeps its exact files")
    // delta commit + tombstone folds at read, per leaf
    Warehouse.mergeIntoDelta(spark, path,
      Seq((4L, "x", 12L, "2024-01-02", "eu", true),
        (2L, "b2", 12L, "2024-01-01", "eu", false))
        .toDF("k", "payload", "ver", "dt", "region", "is_del"),
      "k", "ver", Seq("dt", "region"), Some("is_del"))
    val afterDelta = Warehouse.read(spark, path)
      .select("k", "payload").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(afterDelta == Seq((1L, "a"), (2L, "b2"), (3L, "c2"), (5L, "e")))
    // compact collapses the chains; rows identical; time travel intact
    assert(Warehouse.compact(spark, path, "k", targetBytes = 1L << 30) >= 1)
    assert(Warehouse.read(spark, path)
      .select("k", "payload").as[(Long, String)].collect().sortBy(_._1).toSeq
      == afterDelta, "compaction must not change a visible row")
    assert(Warehouse.partitionStats(spark, path).map(_._2)
      .forall(c => !c.contains(",") && !c.startsWith("~")))
    assert(Warehouse.readVersion(spark, path, 1L).count() == 4)
    // change feed across the delta commit diffs only moved leaves
    val feed = Warehouse.changes(spark, path, 2L, 3L, "k")
      .select("k", "change_type").as[(Long, String)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    assert(feed == Seq((2L, "update_postimage"), (2L, "update_preimage"),
      (4L, "delete")), s"got $feed")
  }

  test("multi-partition columns escape each level's value independently") {
    val path = Files.createTempDirectory("graft_mp_esc").toString + "/t"
    Warehouse.create(spark, path, Seq(
      (1L, "a", 10L, "2024-01-01T00:00", "a/b"), (2L, "b", 10L, "plain", "eu"))
      .toDF("k", "payload", "ver", "dt", "region"), Seq("dt", "region"))
    // both values need hive escaping; the merge must find the stored row
    Warehouse.mergeInto(spark, path,
      Seq((1L, "a2", 11L, "2024-01-01T00:00", "a/b"))
        .toDF("k", "payload", "ver", "dt", "region"),
      "k", "ver", Seq("dt", "region"), None)
    val got = Warehouse.read(spark, path)
      .select("k", "payload").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a2"), (2L, "b")),
      "escaped composite lookup must reconcile the stored row")
    intercept[IllegalArgumentException] {
      Warehouse.mergeInto(spark, path,
        Seq((9L, "z", 12L, "2024-01-05", null: String))
          .toDF("k", "payload", "ver", "dt", "region"),
        "k", "ver", Seq("dt", "region"), None)
    }
  }

  test("typed stats: string and date columns prune files; multi-column sidecars prune on every recorded column") {
    val path = Files.createTempDirectory("graft_typed").toString + "/t"
    // names sort with k, dates bucket k into 40-wide days — sorting on
    // k clusters ALL THREE columns, so each records selective stats
    val base = (1L to 4000L).map { i =>
      (i, f"name-$i%06d", java.time.LocalDate.of(2024, 1, 1).plusDays(i / 40),
        if (i % 2 == 0) "d1" else "d2")
    }.map { case (k, nm, d, p) => (k, nm, java.sql.Date.valueOf(d), p) }
      .toDF("k", "name", "d", "part")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", 100L)
    try Warehouse.create(spark, path, base.repartition(8), "part")
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val target = math.max(1L, Warehouse.partitionStats(spark, path).map(_._4).sum / 16)
    assert(Warehouse.compact(spark, path, "k", target,
      statsCols = Seq("name", "d")) == 2)
    val full = Warehouse.read(spark, path)
    val fullFiles = full.inputFiles.length
    assert(fullFiles > 4, s"need a multi-file layout to prune, got $fullFiles")
    // string bound
    val byName = Warehouse.readSkipping(spark, path, "name",
      "name-000100", "name-000300")
    assert(byName.inputFiles.length < fullFiles,
      s"string stats must prune: ${byName.inputFiles.length} vs $fullFiles")
    assert(byName.select("k").as[Long].collect().sorted.toSeq == (100L to 300L),
      "string-pruned read must equal the filtered read")
    // date bound
    val byDate = Warehouse.readSkipping(spark, path, "d",
      java.time.LocalDate.of(2024, 1, 11), java.time.LocalDate.of(2024, 1, 13))
    assert(byDate.inputFiles.length < fullFiles,
      s"date stats must prune: ${byDate.inputFiles.length} vs $fullFiles")
    val wantDate = full.filter(col("d").between("2024-01-11", "2024-01-13"))
      .select("k").as[Long].collect().sorted.toSeq
    assert(byDate.select("k").as[Long].collect().sorted.toSeq == wantDate)
    // the sort column's own long stats still prune too
    val byK = Warehouse.readSkipping(spark, path, "k", 100L, 300L)
    assert(byK.inputFiles.length < fullFiles)
    assert(byK.count() == 201L)
  }

  test("z-order compaction: a 2-D layout prunes files on BOTH clustered columns; a linear sort prunes on one") {
    // x and y are independent (y = bit-reversed x), so a linear sort
    // on x leaves y's per-file stats useless — the z-curve layout is
    // exactly what makes both selective at once
    def rev(i: Long): Long =
      (0 until 12).map(b => ((i >> b) & 1L) << (11 - b)).sum
    val rows = (0L until 4000L).map(i => (i, rev(i % 4096), s"p$i", "d1"))
      .toDF("x", "y", "payload", "part")
    def build(zorder: Boolean): String = {
      val path = Files.createTempDirectory("graft_z").toString + "/t"
      spark.conf.set("spark.sql.files.maxRecordsPerFile", 100L)
      try Warehouse.create(spark, path, rows.repartition(8), "part")
      finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
      val target = math.max(1L, Warehouse.partitionStats(spark, path).map(_._4).sum / 16)
      Warehouse.compact(spark, path, "x", target,
        zorderCols = if (zorder) Seq("x", "y") else Nil,
        statsCols = Seq("y"))
      path
    }
    val zPath = build(zorder = true)
    val full = Warehouse.read(spark, zPath).inputFiles.length
    assert(full > 8, s"need a multi-file layout, got $full")
    val byX = Warehouse.readSkipping(spark, zPath, "x", 100L, 400L)
    val byY = Warehouse.readSkipping(spark, zPath, "y", 100L, 400L)
    assert(byX.inputFiles.length < full && byY.inputFiles.length < full,
      s"z-order must prune on both dims: x=${byX.inputFiles.length} " +
        s"y=${byY.inputFiles.length} of $full")
    // exactness on both: pruned read == unpruned filtered read
    assert(byX.select("x").as[Long].collect().sorted.toSeq == (100L to 400L))
    val wantY = Warehouse.read(spark, zPath)
      .filter(col("y").between(100L, 400L))
      .select("x").as[Long].collect().sorted.toSeq
    assert(byY.select("x").as[Long].collect().sorted.toSeq == wantY)
    // the linear layout leaves y unprunable in practice (x-sorted
    // files each span ~the full y range)
    val sPath = build(zorder = false)
    val sFull = Warehouse.read(spark, sPath).inputFiles.length
    val sByY = Warehouse.readSkipping(spark, sPath, "y", 100L, 400L)
    assert(sByY.inputFiles.length > byY.inputFiles.length * 2,
      s"linear sort on x should barely prune y: linear=${sByY.inputFiles.length}/$sFull " +
        s"vs zorder=${byY.inputFiles.length}/$full")
  }

  test("commit seam: an injected racing claimer loses the version publish through the trait; the retrying merge rebases") {
    val path = Files.createTempDirectory("graft_seam").toString + "/t"
    Warehouse.create(spark, path, Seq((1L, "a", 10L, "d1"), (2L, "b", 10L, "d2"))
      .toDF("k", "payload", "ver", "part"), "part")
    // a primitive that steals the FIRST claim against this table (the
    // conditional-put-lost shape on an object store) and delegates
    // everything else — other suites' tables never route through it
    val stolen = new java.util.concurrent.atomic.AtomicInteger(0)
    val racer = new CommitPrimitive {
      override def claim(fs: org.apache.hadoop.fs.FileSystem,
                         tmp: org.apache.hadoop.fs.Path,
                         target: org.apache.hadoop.fs.Path): Boolean = {
        val mine = target.toString.startsWith(new org.apache.hadoop.fs.Path(path).toString)
        if (mine && stolen.getAndIncrement() == 0) false // racer won the slot
        else Warehouse.LocalLinkCommit.claim(fs, tmp, target)
      }
    }
    Warehouse.primitiveOverride = Some(racer)
    try {
      val attempts = Warehouse.mergeInto(spark, path,
        Seq((1L, "a2", 11L, "d1")).toDF("k", "payload", "ver", "part"),
        "k", "ver", Seq("part"), maxAttempts = 5)
      assert(attempts == 2, s"one lost claim → one rebase, got $attempts")
    } finally Warehouse.primitiveOverride = None
    assert(stolen.get() >= 2, "both attempts must claim THROUGH the seam")
    val got = Warehouse.read(spark, path)
      .select("k", "payload").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a2"), (2L, "b")))
  }
}
