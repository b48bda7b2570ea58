package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Warehouse
import graft.sources.warehouse.WarehouseProcedures

/** The SQL maintenance plane (`CALL graft.system.<proc>(...)`):
  * every lifecycle operation runs from plain SQL through the
  * registered catalog, returns its one-row summary, and produces
  * exactly the state the verified API op would.
  */
class WarehouseProcedureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A fragmented two-partition table: many small files per partition
    * so compaction has real debt to erase.
    */
  private def fragmentedTable(): String = {
    val path = Files.createTempDirectory("graft_proc").toString + "/t"
    val rows = (1L to 4000L).map(i => (i, i % 97, s"n$i", 1L, s"d${i % 2}"))
      .toDF("k", "v", "name", "ver", "part")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", 250L)
    try Warehouse.create(spark, path, rows.repartition(8), "part")
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    path
  }

  private def dataFiles(path: String): Int =
    Warehouse.read(spark, path).inputFiles.length

  test("CALL compact bin-packs the table, returns the new version, rows unchanged") {
    val path = fragmentedTable()
    val before = Warehouse.read(spark, path).orderBy("k").collect()
    val filesBefore = dataFiles(path)
    val row = spark.sql(
      s"CALL graft.system.compact(table => '$path', sort_col => 'k', " +
        "target_bytes => 1048576)").head()
    assert(row.getAs[Long]("version") == 2L)
    assert(row.getAs[Int]("rewritten_partitions") == 2,
      "both fragmented partitions rewrite")
    assert(dataFiles(path) < filesBefore,
      s"compaction must cut files: $filesBefore -> ${dataFiles(path)}")
    assert(Warehouse.read(spark, path).orderBy("k").collect().sameElements(before),
      "compaction is a pure permutation")
  }

  test("CALL compact with bloom_cols records the sidecar; positional args work") {
    val path = fragmentedTable()
    spark.sql(s"CALL graft.system.compact('$path', 'k', 1048576, '', '', 'v')")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batches = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/data"))
      .map(_.getPath)
    assert(batches.exists(b => fs.exists(
      new org.apache.hadoop.fs.Path(b, "_bloom"))),
      "bloom_cols must write the _bloom sidecar")
  }

  test("CALL restore rolls back as a new commit; CALL vacuum reclaims past retention") {
    val path = fragmentedTable() // v1
    Warehouse.mergeInto(spark, path,
      Seq((1L, 0L, "changed", 2L, "d1")).toDF("k", "v", "name", "ver", "part"),
      "k", "ver", Seq("part")) // v2
    val restored = spark.sql(
      s"CALL graft.system.restore(table => '$path', version => 1)").head()
    assert(restored.getAs[Long]("version") == 3L,
      "restore re-publishes as a NEW commit")
    assert(Warehouse.read(spark, path).filter(col("k") === 1L)
      .select("name").as[String].head() == "n1",
      "the restored snapshot serves v1's rows")
    // retention guard: a huge min_age reclaims nothing
    val kept = spark.sql(
      s"CALL graft.system.vacuum(table => '$path', min_age_ms => ${Long.MaxValue / 2})")
      .head().getAs[Int]("reclaimed")
    assert(kept == 0, s"retention must protect young history, reclaimed $kept")
    // aggressive vacuum reclaims the superseded v2 batch
    val reclaimed = spark.sql(
      s"CALL graft.system.vacuum(table => '$path')").head().getAs[Int]("reclaimed")
    assert(reclaimed > 0, "aggressive vacuum must reclaim the superseded merge")
    assert(Warehouse.read(spark, path).count() == 4000L)
  }

  test("CALL maintain compacts only when the cadence is due") {
    val path = fragmentedTable() // v1
    val notDue = spark.sql(
      s"CALL graft.system.maintain(table => '$path', sort_col => 'k', " +
        "every_n_commits => 5)").head()
    assert(!notDue.getAs[Boolean]("compacted"), "v1 is not due at cadence 5")
    (1 to 4).foreach { i =>
      Warehouse.mergeInto(spark, path,
        Seq((i.toLong, 0L, s"c$i", 2L, "d1")).toDF("k", "v", "name", "ver", "part"),
        "k", "ver", Seq("part"))
    } // v5
    val due = spark.sql(
      s"CALL graft.system.maintain(table => '$path', sort_col => 'k', " +
        "target_bytes => 1048576, every_n_commits => 5)").head()
    assert(due.getAs[Boolean]("compacted"), "v5 is due at cadence 5")
    assert(due.getAs[Long]("version") == 6L)
  }

  test("CALL history lists retained commits newest-first with partition and txn counts") {
    val path = fragmentedTable()
    Warehouse.mergeInto(spark, path,
      Seq((1L, 99L, "n1b", 2L, "d1")).toDF("k", "v", "name", "ver", "part"),
      "k", "ver", Seq("part"))
    val rows = spark.sql(s"CALL graft.system.history(table => '$path')")
      .collect()
    assert(rows.map(_.getAs[Long]("version")).toSeq == Seq(2L, 1L),
      "newest first")
    assert(rows.forall(_.getAs[Int]("live_partitions") == 2))
    assert(rows.forall(r => r.getAs[Long]("committed_at_ms") > 0L))
    // vacuum shrinks the history the procedure reports
    spark.sql(s"CALL graft.system.vacuum(table => '$path')").collect()
    assert(spark.sql(s"CALL graft.system.history(table => '$path')")
      .count() == 1L)
  }

  test("procedures resolve NAMED catalog identifiers like reads do") {
    val name = s"proc_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE graft.db.$name PARTITIONED BY (part) AS " +
      "SELECT id AS k, CAST(id % 2 AS STRING) AS part FROM range(100)")
    val hist = spark.sql(s"CALL graft.system.history(table => 'db.$name')")
      .collect()
    assert(hist.length == 1 && hist.head.getAs[Long]("version") == 1L)
    val bad = intercept[Exception] {
      spark.sql("CALL graft.system.history(table => 'db.no_such_table')")
        .collect()
    }
    def fullMessage(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    assert(fullMessage(bad).contains("no catalog entry"))
  }

  test("CALL evolve_layout re-partitions the table atomically; rows unchanged, new writes take the new spec") {
    val path = Files.createTempDirectory("graft_proc_evo").toString + "/t"
    Warehouse.create(spark, path,
      (1L to 60L).map(i => (i, s"n$i", s"d${i % 2}", s"r${i % 3}"))
        .toDF("k", "name", "dt", "region"), "dt")
    val before = Warehouse.read(spark, path).count()
    val (n, v) = spark.sql(
      s"CALL graft.system.evolve_layout(table => '$path', part_cols => 'dt,region')")
      .as[(Int, Long)].head()
    assert(n == 2 && v == 2L)
    assert(Warehouse.partitionColumns(spark, path) == Seq("dt", "region"))
    assert(Warehouse.read(spark, path).count() == before)
  }

  test("SQL cross-table transaction: begin/stage/commit flips BOTH tables atomically; pre-commit readers see both old") {
    val root = Files.createTempDirectory("graft_proc_txn").toString
    val a = s"$root/a"; val b = s"$root/b"
    Warehouse.create(spark, a,
      Seq((1L, "a1", "d1")).toDF("k", "v", "part"), "part")
    Warehouse.create(spark, b,
      Seq((1L, "b1", "d1")).toDF("k", "v", "part"), "part")
    Seq((2L, "a2", "d1")).toDF("k", "v", "part").createOrReplaceTempView("txn_src_a")
    Seq((2L, "b2", "d1")).toDF("k", "v", "part").createOrReplaceTempView("txn_src_b")
    val txn = spark.sql("CALL graft.system.begin_txn()")
      .select("txn").as[String].head()
    spark.sql(s"CALL graft.system.stage_write(txn => '$txn', table => '$a', view => 'txn_src_a')").collect()
    spark.sql(s"CALL graft.system.stage_write(txn => '$txn', table => '$b', view => 'txn_src_b')").collect()
    // staged-but-uncommitted: NOTHING moved - both tables fully old
    assert(Warehouse.read(spark, a).count() == 1L)
    assert(Warehouse.read(spark, b).count() == 1L)
    val (marker, n) = spark.sql(
      s"CALL graft.system.commit_txn(txn => '$txn')")
      .as[(String, Int)].head()
    assert(n == 2 && marker.nonEmpty)
    assert(Warehouse.read(spark, a).count() == 2L)
    assert(Warehouse.read(spark, b).count() == 2L)
    // the handle is consumed: a second commit refuses loudly
    val e = intercept[Exception] {
      spark.sql(s"CALL graft.system.commit_txn(txn => '$txn')").collect()
    }
    assert(e.getMessage.contains("no open transaction"))
  }

  test("SQL transaction rollback discards the registration with zero on-disk effect; unknown views refuse at stage time") {
    val root = Files.createTempDirectory("graft_proc_txn2").toString
    val a = s"$root/a"
    Warehouse.create(spark, a,
      Seq((1L, "a1", "d1")).toDF("k", "v", "part"), "part")
    Seq((2L, "a2", "d1")).toDF("k", "v", "part").createOrReplaceTempView("txn_src_c")
    val txn = spark.sql("CALL graft.system.begin_txn()")
      .select("txn").as[String].head()
    // an unknown view fails AT STAGE TIME, not at commit
    intercept[Exception] {
      spark.sql(s"CALL graft.system.stage_write(txn => '$txn', table => '$a', view => 'no_such_view')").collect()
    }
    spark.sql(s"CALL graft.system.stage_write(txn => '$txn', table => '$a', view => 'txn_src_c')").collect()
    val rolled = spark.sql(s"CALL graft.system.rollback_txn(txn => '$txn')")
      .as[Boolean].head()
    assert(rolled)
    assert(Warehouse.read(spark, a).count() == 1L,
      "rollback before commit must leave the table untouched")
    assert(Warehouse.currentVersion(spark, a) == 1L,
      "rollback is pure metadata - no version consumed")
    // commit after rollback refuses
    intercept[Exception] {
      spark.sql(s"CALL graft.system.commit_txn(txn => '$txn')").collect()
    }
  }

  test("single-CALL transact loads N tables from N views as one atomic unit; a failing participant leaves every table old") {
    val root = Files.createTempDirectory("graft_proc_txn3").toString
    val a = s"$root/a"; val b = s"$root/b"
    Warehouse.create(spark, a,
      Seq((1L, "a1", "d1")).toDF("k", "v", "part"), "part")
    Warehouse.create(spark, b,
      Seq((1L, "b1", "d1")).toDF("k", "v", "part"), "part")
    Seq((2L, "a2", "d1")).toDF("k", "v", "part").createOrReplaceTempView("txn_one_a")
    Seq((2L, "b2", "d1")).toDF("k", "v", "part").createOrReplaceTempView("txn_one_b")
    val (marker, n) = spark.sql(
      s"""CALL graft.system.transact(tables => '$a,$b',
         |                          views => 'txn_one_a,txn_one_b')""".stripMargin)
      .as[(String, Int)].head()
    assert(n == 2 && marker.nonEmpty)
    assert(Warehouse.read(spark, a).count() == 2L)
    assert(Warehouse.read(spark, b).count() == 2L)
    // one participant stages an EMPTY batch -> the whole unit aborts,
    // both tables keep the committed 2-row state
    Seq((9L, "a9", "d1")).toDF("k", "v", "part").createOrReplaceTempView("txn_bad_a")
    spark.emptyDataFrame.createOrReplaceTempView("txn_bad_b")
    intercept[Exception] {
      spark.sql(
        s"""CALL graft.system.transact(tables => '$a,$b',
           |                          views => 'txn_bad_a,txn_bad_b')""".stripMargin).collect()
    }
    assert(Warehouse.read(spark, a).count() == 2L,
      "a failed multi-table transact must leave EVERY table old")
    assert(Warehouse.read(spark, b).count() == 2L)
  }

  test("unknown procedures and wrong namespaces fail loudly; SHOW PROCEDURES lists the plane") {
    def fullMessage(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    val ex = intercept[Exception](spark.sql("CALL graft.system.explode_table('/x')"))
    assert(fullMessage(ex).contains("unknown graft procedure"),
      s"got: ${fullMessage(ex)}")
    val ns = intercept[Exception](spark.sql("CALL graft.sys.compact('/x', 'k')"))
    assert(fullMessage(ns).contains("system"), s"got: ${fullMessage(ns)}")
    val listed = spark.sql("SHOW PROCEDURES IN graft.system")
      .collect().map(_.mkString("|")).mkString("\n")
    WarehouseProcedures.names.foreach(n =>
      assert(listed.contains(n), s"SHOW PROCEDURES must list $n, got:\n$listed"))
  }

  test("txn handles PERSIST under <root>/_txn: a transaction begun in one session stages and commits from a DIFFERENT session") {
    val root = Files.createTempDirectory("graft_proc_txn5").toString
    val a = s"$root/a"
    Warehouse.create(spark, a,
      Seq((1L, "a1", "d1")).toDF("k", "v", "part"), "part")
    // a GLOBAL temp view - visible from the second session (temp views
    // are session objects; the handle file carries only the NAME)
    Seq((2L, "a2", "d1")).toDF("k", "v", "part")
      .createOrReplaceGlobalTempView("txn_src_x")
    val txn = spark.sql("CALL graft.system.begin_txn()")
      .select("txn").as[String].head()
    spark.sql(s"CALL graft.system.stage_write(txn => '$txn', table => '$a', view => 'global_temp.txn_src_x')").collect()
    // a SECOND session (fresh SessionState, same catalog conf) sees
    // and consumes the persisted handle
    val other = spark.newSession()
    val row = other.sql(s"CALL graft.system.commit_txn(txn => '$txn')")
      .collect().head
    assert(row.getInt(1) == 1)
    assert(Warehouse.read(spark, a).count() == 2L,
      "the cross-session commit must have flipped the table")
    // consumed everywhere: a re-commit refuses in BOTH sessions
    val e = intercept[Exception] {
      spark.sql(s"CALL graft.system.commit_txn(txn => '$txn')").collect()
    }
    assert(e.getMessage.contains("no open transaction"))
  }

  test("a driver crash between begin_txn and commit_txn leaves a sweepable handle: vacuum reclaims it, commit then refuses") {
    val root = Files.createTempDirectory("graft_proc_txn6").toString
    val a = s"$root/a"
    Warehouse.create(spark, a,
      Seq((1L, "a1", "d1")).toDF("k", "v", "part"), "part")
    Seq((2L, "a2", "d1")).toDF("k", "v", "part")
      .createOrReplaceTempView("txn_src_crash")
    val txn = spark.sql("CALL graft.system.begin_txn()")
      .select("txn").as[String].head()
    spark.sql(s"CALL graft.system.stage_write(txn => '$txn', table => '$a', view => 'txn_src_crash')").collect()
    // the handle is VISIBLE on disk (a crashed driver leaves exactly
    // this state - no in-JVM registration to lose)
    val whRoot = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_named_catalog"
    val handle = java.nio.file.Paths.get(whRoot, "_txn", txn)
    assert(Files.exists(handle), "begin_txn must persist a handle file")
    // --- simulated crash: the staging session does nothing further ---
    val reclaimed = spark.sql(
      s"CALL graft.system.vacuum(table => '$a', min_age_ms => 0)")
      .as[Int].head()
    assert(reclaimed >= 1, "vacuum must sweep the orphaned txn handle")
    assert(!Files.exists(handle))
    val e = intercept[Exception] {
      spark.sql(s"CALL graft.system.commit_txn(txn => '$txn')").collect()
    }
    assert(e.getMessage.contains("no open transaction"))
    assert(Warehouse.read(spark, a).count() == 1L,
      "nothing was written before commit - the crash left zero data state")
  }

  test("txn ids are validated before touching the filesystem: traversal shapes resolve to 'no open transaction', never a path") {
    val root = Files.createTempDirectory("graft_proc_txn7").toString
    val a = s"$root/a"
    Warehouse.create(spark, a,
      Seq((1L, "a1", "d1")).toDF("k", "v", "part"), "part")
    val v0 = Warehouse.currentVersion(spark, a)
    // a hostile id shaped like a relative path must not delete or
    // overwrite anything under the warehouse root
    val rolled = spark.sql(
      "CALL graft.system.rollback_txn(txn => '../../etc/passwd')")
      .as[Boolean].head()
    assert(!rolled)
    Seq((2L, "a2", "d1")).toDF("k", "v", "part")
      .createOrReplaceTempView("txn_src_tv")
    val e1 = intercept[Exception] {
      spark.sql(s"CALL graft.system.stage_write(txn => '../evil', table => '$a', view => 'txn_src_tv')").collect()
    }
    assert(e1.getMessage.contains("no open transaction"))
    val e2 = intercept[Exception] {
      spark.sql("CALL graft.system.commit_txn(txn => '../evil')").collect()
    }
    assert(e2.getMessage.contains("no open transaction"))
    assert(Warehouse.currentVersion(spark, a) == v0,
      "hostile ids must leave every table untouched")
  }

  test("a commit_txn that FAILS in transact clears its committing stamp (retryable); a crash mid-commit refuses a blind re-commit") {
    val root = Files.createTempDirectory("graft_proc_txn8").toString
    val a = s"$root/a"
    Warehouse.create(spark, a,
      Seq((1L, "a1", "d1")).toDF("k", "v", "part"), "part")
    // a view whose schema derives fine but whose EXECUTION fails -
    // transact throws before any flip
    spark.sql("SELECT CAST(raise_error('boom') AS BIGINT) AS k, " +
      "'x' AS v, 'd1' AS part").createOrReplaceTempView("txn_src_boom")
    val txn = spark.sql("CALL graft.system.begin_txn()")
      .select("txn").as[String].head()
    spark.sql(s"CALL graft.system.stage_write(txn => '$txn', table => '$a', view => 'txn_src_boom')").collect()
    intercept[Exception] {
      spark.sql(s"CALL graft.system.commit_txn(txn => '$txn')").collect()
    }
    // the failed attempt UNMARKED the handle: fix the view, retry
    Seq((2L, "a2", "d1")).toDF("k", "v", "part")
      .createOrReplaceTempView("txn_src_boom")
    val row = spark.sql(s"CALL graft.system.commit_txn(txn => '$txn')")
      .collect().head
    assert(row.getInt(1) == 1)
    assert(Warehouse.read(spark, a).count() == 2L)
    // --- crash-mid-commit sim: a handle stamped 'committing' whose
    // driver died may already have flipped the tables - re-commit
    // must refuse loudly, not double-apply
    val txn2 = spark.sql("CALL graft.system.begin_txn()")
      .select("txn").as[String].head()
    spark.sql(s"CALL graft.system.stage_write(txn => '$txn2', table => '$a', view => 'txn_src_boom')").collect()
    val whRoot = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_named_catalog"
    // stamp through the SAME (checksummed) Hadoop fs the engine reads
    val hPath = new org.apache.hadoop.fs.Path(s"$whRoot/_txn/$txn2")
    val hfs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orig = {
      val in = hfs.open(hPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val out = hfs.create(hPath, true)
    try out.write(("committing\n" + orig).getBytes("UTF-8"))
    finally out.close()
    val e = intercept[Exception] {
      spark.sql(s"CALL graft.system.commit_txn(txn => '$txn2')").collect()
    }
    assert(e.getMessage.contains("already entered commit"))
    // stage_write on the stamped handle must refuse too - re-staging
    // would silently ERASE the stamp and re-enable the double-commit
    val e2 = intercept[Exception] {
      spark.sql(s"CALL graft.system.stage_write(txn => '$txn2', table => '$a', view => 'txn_src_boom')").collect()
    }
    assert(e2.getMessage.contains("already entered commit"))
    // rollback still releases the ambiguous handle
    assert(spark.sql(s"CALL graft.system.rollback_txn(txn => '$txn2')")
      .as[Boolean].head())
  }

  test("vacuum's handle sweep is SCOPED to the vacuumed table: another table's live transaction survives; .tmp_ litter sweeps on age") {
    val root = Files.createTempDirectory("graft_proc_txn9").toString
    val a = s"$root/a"; val b = s"$root/b"
    Warehouse.create(spark, a,
      Seq((1L, "a1", "d1")).toDF("k", "v", "part"), "part")
    Warehouse.create(spark, b,
      Seq((1L, "b1", "d1")).toDF("k", "v", "part"), "part")
    Seq((2L, "b2", "d1")).toDF("k", "v", "part")
      .createOrReplaceTempView("txn_src_scope")
    val txn = spark.sql("CALL graft.system.begin_txn()")
      .select("txn").as[String].head()
    spark.sql(s"CALL graft.system.stage_write(txn => '$txn', table => '$b', view => 'txn_src_scope')").collect()
    val whRoot = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_named_catalog"
    // crash litter: an orphaned tmp file from a dead handle publish
    // (aged past the 15-minute litter floor) and a FRESH one (a
    // concurrent publish in its create->rename window)
    val tmpLitter = java.nio.file.Paths.get(whRoot, "_txn", ".tmp_dead")
    java.nio.file.Files.write(tmpLitter, "x".getBytes("UTF-8")): Unit
    java.nio.file.Files.setLastModifiedTime(tmpLitter,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600000L)): Unit
    val tmpFresh = java.nio.file.Paths.get(whRoot, "_txn", ".tmp_inflight")
    java.nio.file.Files.write(tmpFresh, "x".getBytes("UTF-8")): Unit
    // vacuuming UNRELATED table a must not touch b's live handle
    spark.sql(s"CALL graft.system.vacuum(table => '$a', min_age_ms => 0)")
      .collect()
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(whRoot, "_txn", txn)),
      "vacuum of an unrelated table must not sweep another table's handle")
    assert(!java.nio.file.Files.exists(tmpLitter),
      "AGED .tmp_ litter sweeps whatever min_age_ms says")
    assert(java.nio.file.Files.exists(tmpFresh),
      "a FRESH tmp (possibly a concurrent in-flight publish) survives " +
        "the litter floor")
    java.nio.file.Files.deleteIfExists(tmpFresh): Unit
    // the staged-table's own vacuum sweeps it
    spark.sql(s"CALL graft.system.vacuum(table => '$b', min_age_ms => 0)")
      .collect()
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(whRoot, "_txn", txn)))
    val e = intercept[Exception] {
      spark.sql(s"CALL graft.system.commit_txn(txn => '$txn')").collect()
    }
    assert(e.getMessage.contains("no open transaction"))
  }

  test("commit_txn survives a marker claim that throws AFTER the marker landed: reports committed, consumes the handle, never double-applies") {
    val root = Files.createTempDirectory("graft_proc_txn_pc").toString
    val a = s"$root/a"; val b = s"$root/b"
    Warehouse.create(spark, a,
      Seq((1L, "a1", "d1")).toDF("k", "v", "part"), "part")
    Warehouse.create(spark, b,
      Seq((1L, "b1", "d1")).toDF("k", "v", "part"), "part")
    Seq((2L, "a2", "d1")).toDF("k", "v", "part")
      .createOrReplaceTempView("txn_src_pc_a")
    Seq((2L, "b2", "d1")).toDF("k", "v", "part")
      .createOrReplaceTempView("txn_src_pc_b")
    val txn = spark.sql("CALL graft.system.begin_txn()")
      .select("txn").as[String].head()
    spark.sql(s"CALL graft.system.stage_write(txn => '$txn', table => '$a', view => 'txn_src_pc_a')").collect()
    spark.sql(s"CALL graft.system.stage_write(txn => '$txn', table => '$b', view => 'txn_src_pc_b')").collect()
    // the r19 residual, end-to-end: the flip's create-exclusive claim
    // creates the committed marker, then throws (partial failure)
    Warehouse.primitiveOverride = Some(new graft.io.CommitPrimitive {
      override def claim(fs: org.apache.hadoop.fs.FileSystem,
          tmp: org.apache.hadoop.fs.Path,
          target: org.apache.hadoop.fs.Path): Boolean = {
        val won = Warehouse.LocalLinkCommit.claim(fs, tmp, target)
        if (won && target.toString.contains("/_txn/"))
          throw new java.io.IOException(
            "injected: claim result lost after the marker landed")
        won
      }
    })
    val (marker, n) =
      try spark.sql(s"CALL graft.system.commit_txn(txn => '$txn')")
        .as[(String, Int)].head()
      finally Warehouse.primitiveOverride = None
    assert(n == 2 && marker.nonEmpty,
      "commit_txn must report committed, not a retryable failure")
    assert(Warehouse.read(spark, a).count() == 2L)
    assert(Warehouse.read(spark, b).count() == 2L)
    // the handle was CONSUMED on the committed outcome: a retry can
    // never apply the staged writes a second time
    val e = intercept[Exception] {
      spark.sql(s"CALL graft.system.commit_txn(txn => '$txn')").collect()
    }
    assert(e.getMessage.contains("no open transaction"))
    assert(Warehouse.read(spark, a).count() == 2L,
      "no double-apply on retry")
  }

  test("a begun-but-not-yet-staged handle survives min_age 0 vacuum (15-minute floor), then stages and commits normally") {
    val root = Files.createTempDirectory("graft_proc_txn_empty").toString
    val a = s"$root/a"
    Warehouse.create(spark, a,
      Seq((1L, "a1", "d1")).toDF("k", "v", "part"), "part")
    val txn = spark.sql("CALL graft.system.begin_txn()")
      .select("txn").as[String].head()
    val whRoot =
      s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_named_catalog"
    val handle = java.nio.file.Paths.get(whRoot, "_txn", txn)
    assert(Files.exists(handle), "begin_txn must persist a handle file")
    // an aggressive vacuum of SOME table while this transaction is in
    // its begin->first-stage gap: the empty handle is content-
    // indistinguishable from an abandoned one, so it gets the same
    // 15-minute floor as dot-litter instead of min_age_ms (advisor
    // r19 #3 - previously this vacuum silently discarded the txn)
    spark.sql(s"CALL graft.system.vacuum(table => '$a', min_age_ms => 0)")
      .collect()
    assert(Files.exists(handle),
      "a young not-yet-staged handle must survive an unrelated vacuum")
    // the transaction proceeds untouched
    Seq((2L, "a2", "d1")).toDF("k", "v", "part")
      .createOrReplaceTempView("txn_src_empty_h")
    spark.sql(s"CALL graft.system.stage_write(txn => '$txn', table => '$a', view => 'txn_src_empty_h')").collect()
    val (_, n) = spark.sql(s"CALL graft.system.commit_txn(txn => '$txn')")
      .as[(String, Int)].head()
    assert(n == 1)
    assert(Warehouse.read(spark, a).count() == 2L)
  }
}
