package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path => HPath, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Warehouse

/** The local filesystem under its own scheme, counting the `listStatus`
  * and `open` calls that land under one table's `_versions` dir — the
  * log reads a statement makes. Registered as `fs.glogcount.impl` by
  * [[WarehouseLogReadSpec]]; Hadoop instantiates it reflectively
  * (top-level class, no-arg ctor).
  */
class LogCountingFileSystem extends RawLocalFileSystem {
  import LogCountingFileSystem._
  override def getScheme: String = "glogcount"
  // qualified paths keep this scheme (the parent reports file:///), so
  // Spark's own reads of the table resolve back to this filesystem
  override def getUri: java.net.URI = java.net.URI.create("glogcount:///")
  // accept glogcount:/// paths against the local backing store
  override def checkPath(path: HPath): Unit = ()
  override def listStatus(f: HPath): Array[FileStatus] = {
    hit(f, lists); super.listStatus(f)
  }
  override def open(f: HPath, bufferSize: Int): FSDataInputStream = {
    hit(f, opens); super.open(f, bufferSize)
  }
}

object LogCountingFileSystem {
  val lists = new AtomicLong
  val opens = new AtomicLong
  /** `<table>/_versions` as a local path; null counts nothing. */
  @volatile var versionsDir: String = _

  private def hit(f: HPath, counter: AtomicLong): Unit = {
    val dir = versionsDir
    if (dir != null && f.toUri.getPath.startsWith(dir)) counter.incrementAndGet()
  }
}

/** How often a warehouse statement reads its log: each attempt of a
  * MERGE, UPDATE or DELETE resolves ONE snapshot (one `_versions`
  * listing, one manifest read) and commits its successor without
  * re-reading the predecessor; INSERT resolves once for its write
  * layout and once per commit attempt; a time-travel read opens the
  * one manifest it serves. A connector scan resolves once too: its
  * builder's snapshot serves the statistics, the aggregate pushdown,
  * the native splice and the read, so a scan of the newest snapshot
  * lists once and reads one manifest, and a `versionAsOf` scan reads
  * one manifest and reports that version's size. Also pinned: a
  * commit keeps the `#txn`, `#dv` and `#layout` headers of the
  * snapshot its statement resolved, and a retry after a lost race
  * carries the winner's.
  */
class WarehouseLogReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A fresh 40-row table under the counting scheme, partitioned by
    * `dt`; its log is the one counted.
    */
  private def freshTable(): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.glogcount.impl", classOf[LogCountingFileSystem].getName)
    val local = Files.createTempDirectory("graft_logread").toString + "/t"
    LogCountingFileSystem.versionsDir = s"$local/_versions"
    Warehouse.create(spark, s"glogcount://$local",
      (1L to 40L).map(i => (i, i * 10L, s"n$i", s"p${i % 2}",
        if (i % 4 < 2) "eu" else "us"))
        .toDF("id", "qty", "name", "dt", "region"), "dt")
    s"glogcount://$local"
  }

  private def fsOf(path: String) =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (listings, manifest opens) of `_versions` while `body` runs. */
  private def logReads(body: => Any): (Long, Long) = {
    LogCountingFileSystem.lists.set(0L)
    LogCountingFileSystem.opens.set(0L)
    body
    (LogCountingFileSystem.lists.get, LogCountingFileSystem.opens.get)
  }

  private def merge(path: String, rows: Seq[(Long, String, String, String)],
                    maxAttempts: Int = 5,
                    hookFor: Int => () => Unit = _ => () => ()): Unit =
    Warehouse.mergeStatement(spark, path,
      rows.toDF("id", "nv", "dt", "region"),
      Seq("id"), Seq(col("id")),
      matched = Seq((None, Some(Seq("name" -> col("nv"))))),
      notMatched = Seq((None, Seq("id" -> col("id"), "qty" -> lit(0L),
        "name" -> col("nv"), "dt" -> col("dt"), "region" -> col("region")))),
      maxAttempts = maxAttempts, hookFor = hookFor)

  /** The `#txn`, `#dv` and `#layout` header lines of version `v`. */
  private def headers(path: String, v: Long): Seq[String] = {
    val local = new HPath(path).toUri.getPath
    new String(Files.readAllBytes(
      java.nio.file.Paths.get(local, "_versions", f"v$v%08d")), "UTF-8")
      .split("\n").toSeq
      .filter(l => Seq("#txn\t", "#dv\t", "#layout\t").exists(l.startsWith))
  }

  private def newest(path: String): Long = Warehouse.currentVersion(spark, path)

  test("MERGE, UPDATE and DELETE each list the log once and read one manifest per attempt") {
    val path = freshTable()
    assert(logReads(merge(path, Seq((3L, "m", "p1", "us"), (900L, "i", "p0", "eu")))) ==
      ((1L, 1L)), "MERGE")
    assert(logReads(Warehouse.updateWhere(spark, path,
      Seq("qty" -> lit(1L)), col("id") === 4L)) == ((1L, 1L)), "UPDATE")
    assert(logReads(Warehouse.deleteWhere(spark, path, col("id") === 5L)) ==
      ((1L, 1L)), "DELETE")
    val rows = Warehouse.read(spark, path)
    assert(rows.count() == 40L)
    assert(rows.filter(col("id") === 3L).select("name").as[String].head() == "m")
    assert(rows.filter(col("id") === 4L).select("qty").as[Long].head() == 1L)
  }

  test("a statement that loses one race resolves once per attempt; its commits read no manifest before the claim") {
    val path = freshTable()
    val fs = fsOf(path)
    // (listings, manifest reads) of `statement`, whose first attempt
    // loses its claim to a commit of the snapshot it resolved - that
    // commit is made from a snapshot resolved beforehand, so it adds
    // no log read of its own
    def raced(statement: (Int => () => Unit) => Any): (Long, Long) = {
      val pre = Warehouse.newestSnapshot(fs, path).get
      logReads(statement(attempt => () =>
        if (attempt == 1) Warehouse.commit(fs, path, pre, pre.mapping)))
    }
    // per attempt one listing and one manifest read, plus the one read
    // that tells the lost claim from a blocked slot
    assert(raced(h => merge(path, Seq((3L, "m", "p1", "us")), hookFor = h)) ==
      ((2L, 3L)), "MERGE")
    assert(raced(h => Warehouse.updateWhereBounded(spark, path,
      Seq("qty" -> lit(1L)), col("id") === 4L, Map.empty, 5, h)) ==
      ((2L, 3L)), "UPDATE")
    assert(raced(h => Warehouse.deleteWhereBounded(spark, path,
      col("id") === 5L, Map.empty, 5, h)) == ((2L, 3L)), "DELETE")
    assert(Warehouse.read(spark, path).count() == 39L)
  }

  test("INSERT and RESTORE resolve the log at most twice; VERSION AS OF reads its one manifest") {
    val path = freshTable()
    val (appendLists, appendOpens) = logReads(Warehouse.append(spark, path,
      Seq((500L, 1L, "a", "p0", "eu")).toDF("id", "qty", "name", "dt", "region")))
    assert(appendLists <= 2L && appendOpens <= 2L,
      s"append: $appendLists listings, $appendOpens manifest reads")
    val (restoreLists, restoreOpens) = logReads(Warehouse.restore(spark, path, 1L))
    assert(restoreLists <= 2L && restoreOpens <= 2L,
      s"restore: $restoreLists listings, $restoreOpens manifest reads")
    assert(Warehouse.read(spark, path).count() == 40L)
    assert(logReads(Warehouse.readVersion(spark, path, 2L))._2 == 1L,
      "readVersion(2) must read version 2's manifest once")
  }

  test("a connector scan lists the log once and reads one manifest; VERSION AS OF reads only its own") {
    val path = freshTable()
    Warehouse.updateWhere(spark, path, Seq("qty" -> lit(1L)), col("id") === 4L)
    // the loads resolve the log for their schema; the counts below are
    // each action's planning and execution
    val newest = spark.read.format("graft-warehouse").load(path)
    val v1 = spark.read.format("graft-warehouse").option("versionAsOf", "1").load(path)
    var got: Any = null
    def reads(body: => Any): (Long, Long) = logReads { got = body }
    assert(reads(newest.filter(col("id") === 3L).select("name").as[String]
      .collect().toSeq) == ((1L, 1L)), "point filter (native splice)")
    assert(got == Seq("n3"))
    assert(reads(newest.count()) == ((1L, 1L)), "count(*)")
    assert(got == 40L)
    assert(reads(newest.agg(count(lit(1)), sum("qty")).as[(Long, Long)]
      .head()) == ((1L, 1L)), "count(*), sum(qty)")
    // sum of 10 * id over 1..40, with id 4's qty updated from 40 to 1
    assert(got == ((40L, 8161L)))
    assert(reads(newest.filter(col("dt") === "p1").groupBy("dt").count()
      .as[(String, Long)].collect().toSeq) == ((1L, 1L)),
      "filtered partition aggregate")
    assert(got == Seq(("p1", 20L)))
    assert(reads(v1.agg(count(lit(1)), sum("qty")).as[(Long, Long)]
      .head()) == ((0L, 1L)), "VERSION AS OF 1 aggregate")
    assert(got == ((40L, 8200L)))
  }

  test("a VERSION AS OF scan reports the size of its own version's files") {
    val path = Files.createTempDirectory("graft_logread").toString + "/t"
    Warehouse.create(spark, path,
      (1L to 5L).map(i => (i, s"n$i", "d0")).toDF("id", "name", "dt"), "dt")
    val v1Bytes = Warehouse.partitionStats(spark, path).map(_._4).sum
    Warehouse.overwrite(spark, path,
      (1L to 50000L).map(i => (i, s"n$i", s"d${i % 7}")).toDF("id", "name", "dt"))
    val newestBytes = Warehouse.partitionStats(spark, path).map(_._4).sum
    assert(newestBytes > v1Bytes)
    // the bridge's statistics are the scan's own (the native splice
    // reports Spark's file-relation statistics instead)
    spark.conf.set("spark.graft.warehouse.nativeScan", "false")
    val (v1, v2) =
      try (spark.read.format("graft-warehouse").option("versionAsOf", "1")
          .load(path).queryExecution.optimizedPlan.stats,
        spark.read.format("graft-warehouse").load(path)
          .queryExecution.optimizedPlan.stats)
      finally spark.conf.unset("spark.graft.warehouse.nativeScan")
    assert(v1.sizeInBytes == BigInt(v1Bytes), s"v1 size ${v1.sizeInBytes}")
    assert(v1.rowCount.contains(BigInt(5)))
    assert(v2.sizeInBytes == BigInt(newestBytes), s"v2 size ${v2.sizeInBytes}")
    assert(v2.rowCount.contains(BigInt(50000)))
  }

  test("a commit keeps the #txn, #dv and #layout headers of the snapshot its statement resolved") {
    val path = freshTable()
    Warehouse.append(spark, path,
      Seq((500L, 1L, "a", "p0", "eu")).toDF("id", "qty", "name", "dt", "region"),
      txn = Map("appA" -> 3L))
    Warehouse.deleteWhereDv(spark, path, col("id") === 7L)
    Warehouse.evolveLayout(spark, path, Seq("dt", "region"), pred = _ => false)
    val before = headers(path, newest(path))
    assert(before.count(_.startsWith("#txn\t")) == 1 &&
      before.count(_.startsWith("#dv\t")) == 1 &&
      before.count(_.startsWith("#layout\t")) == 1, before)
    Warehouse.updateWhere(spark, path, Seq("name" -> lit("u")), col("id") === 2L)
    assert(headers(path, newest(path)) == before, "UPDATE")
    merge(path, Seq((3L, "m", "p1", "us")))
    assert(headers(path, newest(path)) == before, "MERGE")
    Warehouse.append(spark, path,
      Seq((501L, 1L, "b", "p1", "us")).toDF("id", "qty", "name", "dt", "region"))
    assert(headers(path, newest(path)) == before, "INSERT")
    assert(Warehouse.read(spark, path).count() == 41L)
  }

  test("after a lost race the retry carries the winner's #txn, #dv and #layout headers") {
    val path = freshTable()
    assert(headers(path, newest(path)).isEmpty)
    Warehouse.updateWhereBounded(spark, path, Seq("name" -> lit("u")),
      col("id") === 2L, Map.empty, 5, hookFor = attempt => () =>
        if (attempt == 1) {
          // the winner commits all three headers inside the loser's
          // rewrite-to-commit window
          Warehouse.append(spark, path,
            Seq((500L, 1L, "a", "p0", "eu"))
              .toDF("id", "qty", "name", "dt", "region"),
            txn = Map("appW" -> 7L))
          Warehouse.deleteWhereDv(spark, path, col("id") === 7L)
          Warehouse.evolveLayout(spark, path, Seq("dt", "region"),
            pred = _ => false): Unit
        })
    val v = newest(path)
    val winner = headers(path, v - 1)
    assert(winner.contains("#txn\tappW\t7") &&
      winner.exists(_.startsWith("#dv\t")) &&
      winner.contains("#layout\tdt,region"), winner)
    assert(headers(path, v) == winner)
    val rows = Warehouse.read(spark, path)
    assert(rows.count() == 40L)
    assert(rows.filter(col("id") === 2L).select("name").as[String].head() == "u")
    // the retry wrote in the winner's layout
    assert(Files.list(java.nio.file.Paths.get(new HPath(path).toUri.getPath, "data"))
      .iterator().asScala.exists(b => Files.isDirectory(b.resolve("dt=p0/region=eu")) ||
        Files.isDirectory(b.resolve("dt=p0/region=us"))))
  }
}
