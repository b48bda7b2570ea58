package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Warehouse

/** DELETION VECTORS — merge-on-read row-level deletes. A
  * `deleteWhereDv` commits an O(deleted rows) `(file, pos)` sidecar
  * instead of rewriting match-carrying partitions: every data file
  * stays byte-identical, every read path (scan, SQL, fold, change
  * feed, time travel) subtracts the vector, footer fast paths fall
  * back to exact scans, `compact()` materializes the subtraction and
  * drops the vector, and `vacuum()` sweeps unreferenced sidecars.
  * End-state equivalence with the copy-on-write delete is the
  * contract (m20's shared oracle pins it at the query layer too).
  */
class WarehouseDvSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_dvspec").toString + "/t"

  private def dataFiles(path: String): Map[String, Long] = {
    val root = Paths.get(path, "data")
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
  }

  private def dvBytes(path: String): Long = {
    val root = Paths.get(path, "_dv")
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  private def newestManifest(path: String): String = {
    val vdir = Paths.get(path, "_versions")
    val newest = Files.list(vdir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("v")).toSeq
      .maxBy(_.getFileName.toString)
    new String(Files.readAllBytes(newest), "UTF-8")
  }

  private def activeDvIds(path: String): Seq[String] =
    newestManifest(path).split("\n").toSeq
      .filter(_.startsWith("#dv\t")).map(_.split("\t")(1))

  private def seed(n: Long = 600L): DataFrame =
    (1L to n).map(i => (i, s"n$i", i * 10L, s"p${(i % 3) + 1}"))
      .toDF("k", "name", "qty", "part")

  test("DV delete == CoW delete: same survivors, same count, but zero data files touched and O(deletes) bytes written") {
    val cow = freshDir(); val dv = freshDir()
    Warehouse.create(spark, cow, seed(), "part")
    Warehouse.create(spark, dv, seed(), "part")
    val filesBefore = dataFiles(dv)
    val nCow = Warehouse.deleteWhere(spark, cow, col("qty") % 70 === 0)
    val nDv = Warehouse.deleteWhereDv(spark, dv, col("qty") % 70 === 0)
    assert(nCow == nDv && nDv > 0)
    val a = Warehouse.read(spark, cow).collect().map(_.toSeq).toSet
    val b = Warehouse.read(spark, dv).collect().map(_.toSeq).toSet
    assert(a == b, "DV and CoW deletes must agree on the end state")
    // merge-on-read: the delete touched NO data file (names AND mtimes)
    assert(dataFiles(dv) == filesBefore,
      "a DV delete must leave every data file byte-identical")
    // O(deleted rows): the sidecar is tiny next to the table
    val sidecar = dvBytes(dv)
    val tableBytes = dataFiles(dv).keys.map(f => Files.size(Paths.get(f))).sum
    assert(sidecar > 0 && sidecar < tableBytes / 4)
    assert(activeDvIds(dv).size == 1)
    val shape = Seq("k" -> "LongType", "name" -> "StringType",
      "qty" -> "LongType", "part" -> "StringType")
    assert(Warehouse.read(spark, dv).dtypes.toSeq == shape)
    assert(Warehouse.readVersion(spark, dv,
      Warehouse.currentVersion(spark, dv)).dtypes.toSeq == shape)
  }

  test("SQL surface subtracts the vector: filter, count(*) footer fallback, group-by") {
    val path = freshDir()
    Warehouse.create(spark, path, seed(), "part")
    assert(spark.sql(s"SELECT count(*) c FROM graft.`$path`").as[Long].head() == 600L)
    val n = Warehouse.deleteWhereDv(spark, path, col("k") <= 100)
    assert(n == 100L)
    // count(*) stays METADATA-answered under an active vector since
    // r19: footer counts minus each live file's deleted positions
    // (WarehouseAggPushdownSpec pins the plan shape) - the value must
    // be the live 500 either way
    assert(spark.sql(s"SELECT count(*) c FROM graft.`$path`").as[Long].head() == 500L)
    assert(spark.sql(
      s"SELECT count(*) c FROM graft.`$path` WHERE k <= 100").as[Long].head() == 0L)
    val byPart = spark.sql(
      s"SELECT part, count(*) c FROM graft.`$path` GROUP BY part ORDER BY part")
      .as[(String, Long)].collect().toSeq
    assert(byPart.map(_._2).sum == 500L)
  }

  test("time travel and restore: the pre-delete snapshot keeps its rows; restore resurrects them; re-restore re-applies the vector") {
    val path = freshDir()
    Warehouse.create(spark, path, seed(300), "part")
    val v0 = Warehouse.currentVersion(spark, path)
    Warehouse.deleteWhereDv(spark, path, col("k") > 250)
    val v1 = Warehouse.currentVersion(spark, path)
    assert(Warehouse.readVersion(spark, path, v0).count() == 300L)
    assert(Warehouse.readVersion(spark, path, v1).count() == 250L)
    val v2 = Warehouse.restore(spark, path, v0)
    assert(Warehouse.read(spark, path).count() == 300L)
    assert(activeDvIds(path).isEmpty, "restore to pre-delete clears the DV list")
    Warehouse.restore(spark, path, v1)
    assert(Warehouse.read(spark, path).count() == 250L)
    assert(activeDvIds(path).size == 1, "restore to post-delete restores the DV list")
    assert(v2 == v1 + 1)
  }

  test("vectors stack: consecutive DV deletes compose, and NULL-predicate rows survive") {
    val path = freshDir()
    val df = (1L to 200L)
      .map(i => (i, if (i % 10 == 0) null else s"n$i", "p1"))
      .toDF("k", "name", "part")
    Warehouse.create(spark, path, df, "part")
    // name LIKE predicate is NULL on the null rows - they must survive
    val n1 = Warehouse.deleteWhereDv(spark, path, col("name") < "n2")
    val n2 = Warehouse.deleteWhereDv(spark, path, col("k") > 150)
    assert(activeDvIds(path).size == 2)
    val left = Warehouse.read(spark, path)
    val expected = (1L to 200L)
      .map(i => (i, if (i % 10 == 0) null else s"n$i"))
      .filterNot { case (_, nm) => nm != null && nm < "n2" }
      .filterNot { case (k, nm) => k > 150 && !(nm != null && nm < "n2") }
    assert(n1 + n2 == 200L - expected.size)
    assert(left.count() == expected.size.toLong)
    assert(left.filter(col("name").isNull).count() ==
      expected.count(_._2 == null).toLong)
    // a second delete whose matches were all already vector-deleted
    // is a no-op: no commit, no new vector
    val v = Warehouse.currentVersion(spark, path)
    assert(Warehouse.deleteWhereDv(spark, path, col("k") > 150) == 0L)
    assert(Warehouse.currentVersion(spark, path) == v)
  }

  test("folded (delta-chain) partitions fall back to copy-on-write inside the same delete; pure partitions still take the vector") {
    val path = freshDir()
    // keyed delta table: partition p1 grows a delta chain, p2 stays pure
    Warehouse.create(spark, path,
      (1L to 100L).map(i => (i, 1L, i * 2, if (i <= 50) "p1" else "p2"))
        .toDF("k", "ver", "qty", "part"), "part")
    Warehouse.mergeIntoDelta(spark, path,
      Seq((5L, 2L, 5000L, "p1")).toDF("k", "ver", "qty", "part"),
      "k", "ver", Seq("part"))
    val n = Warehouse.deleteWhereDv(spark, path, col("qty") >= 100 && col("qty") < 130)
    // qty in [100,130): stored keys 50..64 -> k 50..64 minus k=5 (now 5000)
    assert(n == 15L)
    val left = Warehouse.read(spark, path)
    assert(left.count() == 85L)
    assert(left.filter(col("k") === 5L).select("qty").as[Long].head() == 5000L)
    assert(left.filter(col("qty").between(100, 129)).count() == 0L)
    // p2's matches went through a vector (data files untouched there);
    // p1's through a rewrite (its chain collapsed)
    assert(activeDvIds(path).nonEmpty)
    assert(!newestManifest(path).linesIterator
      .filter(_.startsWith("part=p1")).mkString.contains("~"),
      "the folded partition must have been rewritten copy-on-write")
  }

  test("change feed across a DV commit emits exactly the deleted keys as deletes; page-fold law holds") {
    val path = freshDir()
    Warehouse.create(spark, path, seed(120), "part")
    val v0 = Warehouse.currentVersion(spark, path)
    Warehouse.deleteWhereDv(spark, path, col("k").between(10, 25))
    val v1 = Warehouse.currentVersion(spark, path)
    val feed = Warehouse.changes(spark, path, v0, v1, "k")
    val rows = feed.select("change_type", "k").as[(String, Long)].collect().toSeq
    assert(rows.forall(_._1 == "delete"))
    assert(rows.map(_._2).sorted == (10L to 25L))
    // a second DV delete in a later commit: per-commit changeLog pages
    // carry each vector's deletes under its own commit_version
    Warehouse.deleteWhereDv(spark, path, col("k") === 100L)
    val log = Warehouse.changeLog(spark, path, "k", fromV = v0)
    val byCommit = log.groupBy("commit_version").count()
      .as[(Long, Long)].collect().toMap
    assert(byCommit == Map(v1 -> 16L, (v1 + 1) -> 1L))
  }

  test("compact materializes the subtraction: vector dropped, data equal, footer fast paths live again, vacuum sweeps the sidecar") {
    val path = freshDir()
    Warehouse.create(spark, path, seed(400), "part")
    Warehouse.deleteWhereDv(spark, path, col("k") % 7 === 0)
    val before = Warehouse.read(spark, path).collect().map(_.toSeq).toSet
    assert(activeDvIds(path).nonEmpty)
    // vacuum BEFORE compact must keep the referenced sidecar
    Warehouse.vacuum(spark, path)
    assert(dvBytes(path) > 0, "vacuum must not sweep a live deletion vector")
    assert(Warehouse.read(spark, path).collect().map(_.toSeq).toSet == before)
    val rewritten = Warehouse.compact(spark, path, "k", targetBytes = 64L << 20)
    assert(rewritten > 0)
    assert(activeDvIds(path).isEmpty,
      "compact must drop a fully-materialized vector")
    assert(Warehouse.read(spark, path).collect().map(_.toSeq).toSet == before)
    Warehouse.vacuum(spark, path)
    assert(dvBytes(path) == 0L,
      "vacuum must sweep the unreferenced sidecar after compaction")
    // footer-only count(*) is answerable again post-compact
    assert(spark.sql(s"SELECT count(*) c FROM graft.`$path`")
      .as[Long].head() == before.size.toLong)
  }

  test("SQL DELETE FROM a table with TBLPROPERTIES('deletionVectors'='true') commits a vector: zero data files touched") {
    spark.sql("DROP TABLE IF EXISTS graft.dvspec.t")
    spark.sql(
      """CREATE TABLE graft.dvspec.t (k BIGINT, name STRING, part STRING)
        |PARTITIONED BY (part)
        |TBLPROPERTIES ('deletionVectors' = 'true')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.dvspec.t
        |SELECT id AS k, concat('n', id) AS name,
        |       concat('p', id % 3) AS part FROM range(300)""".stripMargin)
    val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_named_catalog"
    val path = s"$root/dvspec/t"
    val before = dataFiles(path)
    spark.sql("DELETE FROM graft.dvspec.t WHERE k < 60")
    assert(dataFiles(path) == before,
      "SQL DELETE under the deletionVectors property must not touch a data file")
    assert(activeDvIds(path).size == 1)
    assert(spark.table("graft.dvspec.t").count() == 240L)
    assert(spark.sql("SELECT count(*) c FROM graft.dvspec.t WHERE k < 60")
      .as[Long].head() == 0L)
    // a partition-decidable DELETE still takes the metadata-only plane
    // (no vector, no file): the whole partition drops from the mapping
    spark.sql("DELETE FROM graft.dvspec.t WHERE part = 'p2'")
    assert(dataFiles(path) == before)
    assert(activeDvIds(path).size == 1, "partition drop adds no vector")
    // p2 held 100 keys; 20 of them (k<60, k%3==2) were already
    // vector-deleted - the drop removes the remaining 80
    assert(spark.table("graft.dvspec.t").count() == 160L)
    spark.sql("DROP TABLE graft.dvspec.t")
  }

  test("later writers carry the vector forward: append, update, CoW delete and merge never resurrect DV-deleted rows") {
    val path = freshDir()
    Warehouse.create(spark, path, seed(200), "part")
    Warehouse.deleteWhereDv(spark, path, col("k") <= 40)
    Warehouse.append(spark, path,
      Seq((1000L, "new", 1L, "p1")).toDF("k", "name", "qty", "part"))
    assert(Warehouse.read(spark, path).count() == 161L)
    assert(activeDvIds(path).size == 1, "append must carry the DV header")
    val updated = Warehouse.updateWhere(spark, path,
      Seq("name" -> lit("upd")), col("k") === 50L)
    assert(updated == 1L)
    val after = Warehouse.read(spark, path)
    assert(after.count() == 161L && after.filter(col("k") <= 40).count() == 0L)
    // a CoW delete on OTHER rows must not resurrect the vector's rows
    Warehouse.deleteWhere(spark, path, col("k") === 1000L)
    val fin = Warehouse.read(spark, path)
    assert(fin.count() == 160L && fin.filter(col("k") <= 40).count() == 0L)
  }

  test("broadcast valve: above spark.graft.dv.broadcastMaxRows the anti-join stops forcing a broadcast build (results identical)") {
    val path = freshDir()
    Warehouse.create(spark, path, seed(), "part")
    Warehouse.deleteWhereDv(spark, path, col("k") % 7 === 0)
    val expect = Warehouse.read(spark, path).collect().map(_.toSeq).toSet
    val planDefault =
      Warehouse.read(spark, path).queryExecution.executedPlan.toString
    assert(planDefault.contains("BroadcastHashJoin"),
      s"within the valve the DV anti-join must broadcast:\n$planDefault")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.graft.dv.broadcastMaxRows", "0")
    // pin the planner too: with the hint gone, the sidecar's real
    // size must be allowed to decide - here we force the decision so
    // the arm is deterministic at test scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Warehouse.read(spark, path)
      assert(df.collect().map(_.toSeq).toSet == expect,
        "the shuffled anti-join must subtract exactly the same rows")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"above the valve the DV build side must not broadcast:\n$plan")
    } finally {
      spark.conf.unset("spark.graft.dv.broadcastMaxRows")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("CoW fallback valve: a delete matching more rows than spark.graft.dv.cowFallbackRows rewrites partitions instead of committing an oversize vector") {
    val path = freshDir()
    Warehouse.create(spark, path, seed(), "part")
    val filesBefore = dataFiles(path)
    spark.conf.set("spark.graft.dv.cowFallbackRows", "10")
    try {
      val n = Warehouse.deleteWhereDv(spark, path, col("k") <= 100)
      assert(n == 100L)
      assert(activeDvIds(path).isEmpty,
        "above the valve no vector may commit - the statement falls back to CoW")
      assert(dvBytes(path) == 0L, "the oversize sidecar must be dropped")
      assert(dataFiles(path) != filesBefore,
        "the CoW fallback rewrites the match-carrying partitions")
      assert(Warehouse.read(spark, path).count() == 500L)
      // below the valve the vector path still engages on the same table
      val n2 = Warehouse.deleteWhereDv(spark, path, col("k") === 101L)
      assert(n2 == 1L && activeDvIds(path).size == 1)
      assert(Warehouse.read(spark, path).count() == 499L)
    } finally spark.conf.unset("spark.graft.dv.cowFallbackRows")
  }

  test("DV-routed MERGE statement == CoW MERGE: delete-only partitions take O(deletes) vectors (files untouched), update partitions rewrite") {
    val dvT = freshDir(); val cowT = freshDir()
    Warehouse.create(spark, dvT, seed(), "part")
    Warehouse.create(spark, cowT, seed(), "part")
    // updates land ONLY in p1; deletes scatter across p2 and p3
    val src = (1L to 600L).flatMap { i =>
      val part = s"p${(i % 3) + 1}"
      if (part == "p1" && i % 20 == 0) Some((i, s"u$i", part, false))
      else if (part != "p1" && i % 10 == 7) Some((i, "", part, true))
      else None
    }.toDF("k", "nm", "part", "is_del")
    def runMerge(path: String, dvRoute: Boolean): Unit =
      Warehouse.mergeStatement(spark, path, src,
        Seq("k"), Seq(col("k")),
        matched = Seq(
          (Some(col("is_del")), None), // WHEN MATCHED AND is_del THEN DELETE
          (None, Some(Seq("name" -> col("nm"))))), // WHEN MATCHED THEN UPDATE
        notMatched = Nil, dvRoute = dvRoute)
    def p23Files(path: String) = dataFiles(path).filter { case (f, _) =>
      f.contains("/part=p2") || f.contains("/part=p3") }
    val before = p23Files(dvT)
    runMerge(dvT, dvRoute = true)
    runMerge(cowT, dvRoute = false)
    val a = Warehouse.read(spark, dvT).collect().map(_.toSeq).toSet
    val b = Warehouse.read(spark, cowT).collect().map(_.toSeq).toSet
    assert(a == b, "DV-routed and CoW merges must agree on the end state")
    assert(activeDvIds(dvT).size == 1 && activeDvIds(cowT).isEmpty)
    assert(p23Files(dvT) == before,
      "delete-only partitions must keep every data file byte-identical")
    // O(deleted rows): the sidecar is tiny next to the table
    val sidecar = dvBytes(dvT)
    val tableBytes = dataFiles(dvT).keys.map(f => Files.size(Paths.get(f))).sum
    assert(sidecar > 0 && sidecar < tableBytes / 4)
    // a second DV-routed merge STACKS on the first vector
    val src2 = Seq((17L, "", "p3", true)).toDF("k", "nm", "part", "is_del")
    runMerge(dvT, dvRoute = true)    // idempotent: same deletes re-match nothing
    assert(Warehouse.read(spark, dvT).collect().map(_.toSeq).toSet == a,
      "re-running the same merge must be a no-op on the end state")
    Warehouse.mergeStatement(spark, dvT, src2, Seq("k"), Seq(col("k")),
      matched = Seq((Some(col("is_del")), None)), notMatched = Nil,
      dvRoute = true)
    assert(Warehouse.read(spark, dvT).filter(col("k") === 17L).count() == 0L)
  }

  test("SQL MERGE DELETE arm under TBLPROPERTIES deletionVectors: delete-only partitions commit a vector, zero files touched") {
    spark.sql("DROP TABLE IF EXISTS graft.dvspec.m")
    spark.sql(
      """CREATE TABLE graft.dvspec.m (k BIGINT, name STRING, part STRING)
        |PARTITIONED BY (part)
        |TBLPROPERTIES ('deletionVectors' = 'true')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.dvspec.m
        |SELECT id AS k, concat('n', id) AS name,
        |       concat('p', id % 3) AS part FROM range(300)""".stripMargin)
    val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_named_catalog"
    val path = s"$root/dvspec/m"
    // deletes only in p2; updates only in p0; p1 untouched
    spark.sql(
      """SELECT id AS k, concat('u', id) AS nm,
        |       concat('p', id % 3) AS part,
        |       id % 3 = 2 AS is_del
        |FROM range(90)""".stripMargin).createOrReplaceTempView("dvspec_m_src")
    def filesIn(p: String) = dataFiles(path).filter(_._1.contains(s"/part=$p"))
    val p1Before = filesIn("p1"); val p2Before = filesIn("p2")
    spark.sql(
      """MERGE INTO graft.dvspec.m t USING dvspec_m_src s ON t.k = s.k
        |WHEN MATCHED AND s.is_del THEN DELETE
        |WHEN MATCHED AND NOT s.is_del AND s.k % 3 = 0
        |  THEN UPDATE SET name = s.nm""".stripMargin)
    assert(filesIn("p2") == p2Before,
      "the delete-only partition must keep its files under a vector")
    assert(filesIn("p1") == p1Before, "the untouched partition stays put")
    assert(activeDvIds(path).size == 1)
    assert(spark.table("graft.dvspec.m").count() == 270L)
    assert(spark.sql(
      "SELECT count(*) c FROM graft.dvspec.m WHERE k < 90 AND k % 3 = 2")
      .as[Long].head() == 0L)
    assert(spark.sql(
      "SELECT count(*) c FROM graft.dvspec.m WHERE name = 'u30'")
      .as[Long].head() == 1L, "the UPDATE arm must still fire CoW")
    spark.sql("DROP TABLE graft.dvspec.m")
  }

  test("mergeInto DV routing: tombstone-only partitions take vectors, stale tombstones lose, end state equals the CoW merge") {
    val dvT = freshDir(); val cowT = freshDir()
    val df = (1L to 300L).map(i => (i, s"n$i", i, s"p${(i % 3) + 1}"))
      .toDF("k", "name", "version", "part")
    Warehouse.create(spark, dvT, df, "part")
    Warehouse.create(spark, cowT, df, "part")
    // p2 gets ONLY tombstones (some stale); p1 gets an update too
    val changes = ((1L to 300L).flatMap { i =>
      val part = s"p${(i % 3) + 1}"
      if (part == "p2" && i % 10 == 4)
        // i % 20 == 14 -> stale tombstone (version loses to stored)
        Some((i, s"n$i", if (i % 20 == 14) 0L else i + 1L, part, true))
      else if (part == "p1" && i % 30 == 12)
        Some((i, s"u$i", i + 1L, part, false))
      else None
    }).toDF("k", "name", "version", "part", "is_del")
    def p2Files(path: String) = dataFiles(path).filter(_._1.contains("/part=p2"))
    val before = p2Files(dvT)
    Warehouse.mergeInto(spark, dvT, changes, "k", "version", Seq("part"),
      deleteCol = Some("is_del"), dvRoute = true)
    Warehouse.mergeInto(spark, cowT, changes, "k", "version", Seq("part"),
      deleteCol = Some("is_del"))
    // NAME-sorted columns: the CoW rewrite lands its canonical
    // (key, version, part, data) column order while DV-routed files
    // keep the table's original order - logical equality is by name
    def rowsOf(path: String): Set[Seq[Any]] = {
      val df = Warehouse.read(spark, path)
      df.select(df.columns.sorted.toSeq.map(col): _*)
        .collect().map(_.toSeq).toSet
    }
    val a = rowsOf(dvT); val b = rowsOf(cowT)
    assert(a == b, "DV-routed and CoW mergeInto must agree on the end state")
    assert(activeDvIds(dvT).size == 1 && activeDvIds(cowT).isEmpty)
    assert(p2Files(dvT) == before,
      "the tombstone-only partition must keep its files byte-identical")
    val got = Warehouse.read(spark, dvT)
    assert(got.filter(col("k") === 34L).count() == 1L,
      "a STALE tombstone must lose the version race and delete nothing")
    assert(got.filter(col("k") === 4L).count() == 0L,
      "a winning tombstone deletes through the vector")
    assert(got.filter(col("name") === "u42").count() == 1L,
      "the update partition still merges copy-on-write")
  }

  test("tombstone-only dvRoute merge skips the rewrite entirely: no new batch dir, no fold shuffle, just the vector commit") {
    val path = freshDir()
    val df = (1L to 120L).map(i => (i, s"n$i", i, s"p${(i % 3) + 1}"))
      .toDF("k", "name", "version", "part")
    Warehouse.create(spark, path, df, "part")
    def batchDirs(): Set[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(path, "data"))
        .iterator().asScala.map(_.getFileName.toString).toSet
    }
    val before = batchDirs()
    val v0 = Warehouse.currentVersion(spark, path)
    val tombs = (1L to 120L).filter(_ % 10 == 0)
      .map(i => (i, s"n$i", i + 1L, s"p${(i % 3) + 1}", true))
      .toDF("k", "name", "version", "part", "is_del")
    Warehouse.mergeInto(spark, path, tombs, "k", "version", Seq("part"),
      deleteCol = Some("is_del"), dvRoute = true)
    assert(Warehouse.currentVersion(spark, path) == v0 + 1)
    assert(batchDirs() == before,
      "a tombstone-only vector merge must write NO batch dir at all")
    assert(activeDvIds(path).size == 1)
    val got = Warehouse.read(spark, path)
    assert(got.count() == 108L)
    assert(got.filter(col("k") % 10 === 0).count() == 0L)
  }

  test("a DV commit that PUBLISHES then throws keeps its referenced sidecar: the failure-path cleanup can never eat live data (review r20)") {
    val path = freshDir()
    Warehouse.create(spark, path, seed(200), "part")
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    Warehouse.primitiveOverride = Some(new graft.io.CommitPrimitive {
      override def claim(fs: org.apache.hadoop.fs.FileSystem,
          tmp: org.apache.hadoop.fs.Path,
          target: org.apache.hadoop.fs.Path): Boolean = {
        val won = Warehouse.LocalLinkCommit.claim(fs, tmp, target)
        if (won && target.toString.contains("_versions") &&
            fired.compareAndSet(false, true))
          throw new java.io.IOException(
            "injected: claim result lost after the version published")
        won
      }
    })
    try {
      intercept[java.io.IOException] {
        Warehouse.deleteWhereDv(spark, path, col("k") <= 20L)
      }
    } finally Warehouse.primitiveOverride = None
    // the version LANDED referencing the sidecar - the cleanup must
    // have detected that and kept it: deletes visible, reads intact
    assert(activeDvIds(path).size == 1,
      "the published commit's vector must stay active")
    assert(dvBytes(path) > 0L, "the sidecar files must survive")
    assert(Warehouse.read(spark, path).count() == 180L)
    assert(Warehouse.read(spark, path).filter(col("k") <= 20L).count() == 0L)
  }

  test("the orphan check scans ALL retained versions: a racing compact between publish and cleanup cannot orphan a time-travelable sidecar") {
    val path = freshDir()
    Warehouse.create(spark, path, seed(200), "part")
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    Warehouse.primitiveOverride = Some(new graft.io.CommitPrimitive {
      override def claim(fs: org.apache.hadoop.fs.FileSystem,
          tmp: org.apache.hadoop.fs.Path,
          target: org.apache.hadoop.fs.Path): Boolean = {
        val won = Warehouse.LocalLinkCommit.claim(fs, tmp, target)
        if (won && target.toString.contains("_versions") &&
            fired.compareAndSet(false, true)) {
          // a SUPERSEDING commit lands in the publish->cleanup window:
          // compact sees the just-published DV version and
          // materializes it away, so the NEWEST snapshot no longer
          // references the sidecar - only retained history does
          val self = this
          Warehouse.primitiveOverride = None
          try Warehouse.compact(spark, path, "k",
            math.max(1L, Warehouse.partitionStats(spark, path).map(_._4).sum))
          finally Warehouse.primitiveOverride = Some(self)
          throw new java.io.IOException(
            "injected: claim result lost after publish + racing compact")
        }
        won
      }
    })
    try {
      intercept[java.io.IOException] {
        Warehouse.deleteWhereDv(spark, path, col("k") <= 20L)
      }
    } finally Warehouse.primitiveOverride = None
    // newest snapshot (the compact) carries no vector - but version 2
    // does, and it is retained: the sidecar must survive the cleanup
    // so time travel to it still subtracts correctly (second review
    // pass r20 - a newest-only check would have deleted it here)
    assert(activeDvIds(path).isEmpty,
      "compact materialized the subtraction - no active vector")
    assert(dvBytes(path) > 0L,
      "the retained version's sidecar must survive the failure cleanup")
    assert(Warehouse.read(spark, path).count() == 180L)
    assert(Warehouse.readVersion(spark, path, 2L).count() == 180L,
      "time travel to the DV version must still subtract its sidecar")
  }

  test("a source row DECLARING the wrong partition for its key routes the merge back to CoW: dvRoute on/off agree (advisor r19 #1)") {
    val dvT = freshDir(); val cowT = freshDir()
    Warehouse.create(spark, dvT, seed(), "part")
    Warehouse.create(spark, cowT, seed(), "part")
    // k=2 lives in p3 (2 % 3 + 1), but the source DECLARES p1 for it
    // and fires the UPDATE arm; k=5 (genuinely p3, correctly
    // declared) is a delete - so p3 looks delete-only from the
    // source's tuples and would be vector-routed, silently dropping
    // the key-only matched UPDATE of k=2 that plain copy-on-write
    // applies. The engine must detect the non-delete pair inside a
    // routed partition and fall back to the copy-on-write rewrite,
    // keeping dvRoute a pure optimization.
    val src = Seq(
      (2L, "fixed", "p1", false), // WRONG partition for k=2 (truly p3)
      (5L, "", "p3", true)
    ).toDF("k", "nm", "part", "is_del")
    def runMerge(path: String, dvRoute: Boolean): Unit =
      Warehouse.mergeStatement(spark, path, src,
        Seq("k"), Seq(col("k")),
        matched = Seq(
          (Some(col("is_del")), None),
          (None, Some(Seq("name" -> col("nm"))))),
        notMatched = Nil, dvRoute = dvRoute)
    runMerge(dvT, dvRoute = true)
    runMerge(cowT, dvRoute = false)
    val a = Warehouse.read(spark, dvT).collect().map(_.toSeq).toSet
    val b = Warehouse.read(spark, cowT).collect().map(_.toSeq).toSet
    assert(a == b,
      "enabling deletionVectors must never change a merge's result")
    assert(Warehouse.read(spark, dvT).filter(col("k") === 2L)
      .select("name").as[String].head() == "fixed",
      "the mis-declared UPDATE must still apply")
    assert(Warehouse.read(spark, dvT).filter(col("k") === 5L).count() == 0L)
    assert(activeDvIds(dvT).isEmpty,
      "the fallback is copy-on-write: no vector commits")
    // and a WELL-declared source on the same table still routes
    val src2 = Seq((8L, "", "p3", true)).toDF("k", "nm", "part", "is_del")
    Warehouse.mergeStatement(spark, dvT, src2, Seq("k"), Seq(col("k")),
      matched = Seq(
        (Some(col("is_del")), None),
        (None, Some(Seq("name" -> col("nm"))))),
      notMatched = Nil, dvRoute = true)
    assert(activeDvIds(dvT).size == 1,
      "a correctly-declared delete-only merge keeps the vector path")
    assert(Warehouse.read(spark, dvT).filter(col("k") === 8L).count() == 0L)
  }
}
