package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Warehouse

/** SQL `UPDATE` / `MERGE INTO` over graft-warehouse tables — the
  * analyzer-extension DML plane (WarehouseDmlRule → the CoW passes
  * Warehouse.updateWhere / Warehouse.mergeStatement). Pinned here:
  * exact SQL semantics (source-wins, clause order, NULL-predicate
  * survival, the cardinality rule), the copy-on-write scale contract
  * (untouched partitions keep byte-identical files), the round-16
  * statement-plane extensions (target-side WHEN MATCHED guards, WHEN
  * NOT MATCHED BY SOURCE reconciliation, WITH SCHEMA EVOLUTION
  * widening, the cross-partition insert-key guard, the empty-table
  * merge refusal), the round-17 extensions (target-referencing UPDATE
  * SET values — the incremental-aggregate upsert — and residual
  * non-key ON conjuncts that participate in matching itself), and
  * every refusal arm — moves across partitions, key-free ON,
  * pair-valued SET on a NEW column — fails loudly rather than
  * silently misplanning.
  */
class WarehouseDmlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_dmlspec").toString + "/t"

  private def dataFiles(path: String): Set[String] = {
    val root = Paths.get(path, "data")
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p)).map(_.toString).toSet
  }

  private def seed(path: String): Unit =
    Warehouse.create(spark, path,
      Seq((1L, 1L, "x", "a"), (2L, 1L, "y", "a"), (3L, 2L, "z", "b"))
        .toDF("id", "ver", "v", "dt"), "dt")

  // -------------------------------------------------------------
  // UPDATE
  // -------------------------------------------------------------

  test("UPDATE rewrites matching rows, reports num_affected_rows, leaves untouched partitions byte-identical") {
    val path = freshDir()
    seed(path)
    val bFilesBefore = dataFiles(path).filter(_.contains("dt=b"))
    val n = spark.sql(s"UPDATE graft.`$path` SET v = concat(v, '!') WHERE id = 1 OR id = 2")
      .as[Long].head()
    assert(n == 2L)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "x!"), (2L, "y!"), (3L, "z")))
    // dt=b carried no match: its files must not have been rewritten
    assert(dataFiles(path).filter(_.contains("dt=b")) == bFilesBefore)
  }

  test("UPDATE with a NULL predicate leaves the row unchanged (SQL semantics) and multi-assignment applies together") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, Some(1L), "x", "a"), (2L, None, "y", "a"))
        .toDF("id", "score", "v", "dt"), "dt")
    // score > 0 is NULL for id=2 → survives unchanged
    val n = spark.sql(
      s"UPDATE graft.`$path` SET v = 'hit', score = score + 10 WHERE score > 0")
      .as[Long].head()
    assert(n == 1L)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "score", "v").as[(Long, Option[Long], String)].collect().toSeq
    assert(rows == Seq((1L, Some(11L), "hit"), (2L, None, "y")))
  }

  test("UPDATE refuses partition-column assignment loudly") {
    val path = freshDir()
    seed(path)
    val e = intercept[Exception] {
      spark.sql(s"UPDATE graft.`$path` SET dt = 'c' WHERE id = 1").collect()
    }
    assert(e.getMessage.contains("partition"),
      s"wrong refusal message: ${e.getMessage}")
    // nothing committed
    assert(Warehouse.currentVersion(spark, path) == 1L)
  }

  test("UPDATE folds delta chains first: the rewrite sees merged state, not raw links") {
    val path = freshDir()
    seed(path)
    // delta-commit a newer version of id=2 (v → 'y2'), then UPDATE it
    Warehouse.mergeIntoDelta(spark, path,
      Seq((2L, 5L, "y2", "a")).toDF("id", "ver", "v", "dt"),
      "id", "ver", Seq("dt"))
    val n = spark.sql(s"UPDATE graft.`$path` SET v = concat(v, '?') WHERE id = 2")
      .as[Long].head()
    assert(n == 1L)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "x"), (2L, "y2?"), (3L, "z")))
  }

  // -------------------------------------------------------------
  // MERGE INTO
  // -------------------------------------------------------------

  test("MERGE three arms: conditional DELETE, UPDATE SET *, INSERT * — clause order decides, source wins") {
    val path = freshDir()
    seed(path)
    val bFilesBefore = dataFiles(path).filter(_.contains("dt=b"))
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT * FROM VALUES
         |  (CAST(1 AS BIGINT), CAST(9 AS BIGINT), 'gone', 'a', true),
         |  (CAST(2 AS BIGINT), CAST(0 AS BIGINT), 'upd',  'a', false),
         |  (CAST(4 AS BIGINT), CAST(9 AS BIGINT), 'new',  'a', false)
         |  AS s(id, ver, v, dt, is_del)) s
         |ON t.id = s.id
         |WHEN MATCHED AND s.is_del THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "ver", "v").as[(Long, Long, String)].collect().toSeq
    // id=1 deleted; id=2 took the SOURCE row even though its ver (0)
    // is OLDER than the stored one — statement merges are source-wins,
    // not version-argmax; id=4 inserted
    assert(rows == Seq((2L, 0L, "upd"), (3L, 2L, "z"), (4L, 9L, "new")))
    // the source named only dt=a: dt=b must keep byte-identical files
    assert(dataFiles(path).filter(_.contains("dt=b")) == bFilesBefore)
  }

  test("MERGE insert into a brand-new partition joins the mapping") {
    val path = freshDir()
    seed(path)
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT CAST(7 AS BIGINT) AS id, CAST(1 AS BIGINT) AS ver,
         |              'c-row' AS v, 'c' AS dt) s
         |ON t.id = s.id
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "dt").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "a"), (2L, "a"), (3L, "b"), (7L, "c")))
  }

  test("MERGE and mergeInto refuse an empty-string partition value (Spark writes it as a NULL partition): table and batch dirs unchanged") {
    val path = freshDir()
    seed(path)
    def batchDirs(): Set[String] =
      Files.list(Paths.get(path, "data")).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("batch=")).toSet
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(c => String.valueOf(c.getMessage)).toSeq
    val v = Warehouse.currentVersion(spark, path)
    val batches = batchDirs()
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$path` t
           |USING (SELECT CAST(900 AS BIGINT) AS id, CAST(1 AS BIGINT) AS ver,
           |              'm' AS v, '' AS dt) s
           |ON t.id = s.id
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    }
    assert(messages(e).exists(_.contains("change batch carries a NULL dt")),
      messages(e))
    val e2 = intercept[IllegalArgumentException] {
      Warehouse.mergeInto(spark, path,
        Seq((901L, 1L, "m", "")).toDF("id", "ver", "v", "dt"),
        "id", "ver", Seq("dt"))
    }
    assert(e2.getMessage.contains("change batch carries a NULL dt"), e2.getMessage)
    assert(Warehouse.currentVersion(spark, path) == v)
    assert(batchDirs() == batches, "a refused MERGE left its batch dir")
    assert(Warehouse.read(spark, path).count() == 3L)
  }

  test("MERGE with explicit column assignments: unassigned columns keep target values (UPDATE) / land NULL (INSERT)") {
    val path = freshDir()
    seed(path)
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT * FROM VALUES
         |  (CAST(2 AS BIGINT), 'patched', 'a'),
         |  (CAST(5 AS BIGINT), 'fresh',   'b')
         |  AS s(id, nv, dt)) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = upper(s.nv)
         |WHEN NOT MATCHED THEN INSERT (id, v, dt) VALUES (s.id, s.nv, s.dt)""".stripMargin)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "ver", "v").as[(Long, Option[Long], String)].collect().toSeq
    // id=2 kept ver=1 (unassigned), got v=PATCHED; id=5 inserted with
    // NULL ver (unassigned)
    assert(rows == Seq((1L, Some(1L), "x"), (2L, Some(1L), "PATCHED"),
      (3L, Some(2L), "z"), (5L, None, "fresh")))
  }

  test("MERGE with a COMPOSITE ON key matches on the conjunction") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, "x", "v1", "a"), (1L, "y", "v2", "a"), (2L, "x", "v3", "b"))
        .toDF("k1", "k2", "v", "dt"), "dt")
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT * FROM VALUES
         |  (CAST(1 AS BIGINT), 'y', 'upd', 'a'),
         |  (CAST(1 AS BIGINT), 'z', 'new', 'a')
         |  AS s(k1, k2, v, dt)) s
         |ON t.k1 = s.k1 AND t.k2 = s.k2
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = Warehouse.read(spark, path).orderBy("k1", "k2")
      .select("k1", "k2", "v").as[(Long, String, String)].collect().toSeq
    // only (1,y) matched — (1,x) must survive untouched, (1,z) inserts
    assert(rows == Seq((1L, "x", "v1"), (1L, "y", "upd"),
      (1L, "z", "new"), (2L, "x", "v3")))
  }

  test("MERGE cardinality rule: duplicate source keys fail loudly") {
    val path = freshDir()
    seed(path)
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$path` t
           |USING (SELECT * FROM VALUES
           |  (CAST(2 AS BIGINT), 'p1', 'a'), (CAST(2 AS BIGINT), 'p2', 'a')
           |  AS s(id, nv, dt)) s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    }
    assert(e.getMessage.contains("duplicate"),
      s"wrong refusal: ${e.getMessage}")
  }

  test("MERGE refuses an UPDATE that assigns a different partition value (a move) at execution") {
    val path = freshDir()
    seed(path)
    // the source row correctly names its key's partition (dt='b', the
    // contract) but the UPDATE assigns dt='moved' — a partition move,
    // refused loudly by the rewrite instead of silently landing the
    // row in a partition the pass never read
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$path` t
           |USING (SELECT CAST(3 AS BIGINT) AS id, 'moved' AS dt2,
           |              'b' AS dt) s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET dt = s.dt2""".stripMargin)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: msgs(t.getCause)
    assert(msgs(e).exists(_.contains("immutable")), s"wrong refusal: ${msgs(e)}")
  }

  test("MERGE is partition-pruned (the mergeInto contract): a source row naming the wrong partition reconciles nothing") {
    val path = freshDir()
    seed(path)
    // id=3 lives in dt=b, but the source row names dt=a: only dt=a is
    // read, so the key matches nothing and — with no insert arm —
    // nothing changes. This is the documented immutable-partition
    // contract shared with Warehouse.mergeInto: a change row must
    // name its key's true partition; the bounded pass never scans the
    // table to second-guess it.
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT CAST(3 AS BIGINT) AS id, 'wrong' AS nv, 'a' AS dt) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "x"), (2L, "y"), (3L, "z")))
  }

  test("MERGE refusal arm: an ON with zero key equalities is refused (a key-free ON cannot drive a keyed merge)") {
    val path = freshDir()
    seed(path)
    val nonEqui = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$path` t
           |USING (SELECT CAST(2 AS BIGINT) AS id, 'p' AS nv, 'a' AS dt) s
           |ON t.id >= s.id
           |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    }
    assert(nonEqui.getMessage.contains("ON <target key column>"))
    // nothing committed
    assert(Warehouse.currentVersion(spark, path) == 1L)
  }

  // -------------------------------------------------------------
  // Target-referencing UPDATE values (round 17)
  // -------------------------------------------------------------

  test("MERGE UPDATE SET values may reference the stored row: accumulator upsert composes across repeated merges") {
    val path = freshDir()
    seed(path)
    def acc(delta: Long): Unit = spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT CAST(1 AS BIGINT) AS id, CAST($delta AS BIGINT) AS delta,
         |       '+' AS nv, 'a' AS dt) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET ver = t.ver + s.delta, v = concat(t.v, s.nv)""".stripMargin): Unit
    acc(10L)
    acc(5L)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "ver", "v").as[(Long, Long, String)].collect().toSeq
    // ver: 1 + 10 + 5; v accretes one '+' per merge (mixed
    // source/target expression in the same SET list); other rows and
    // the dt=b partition untouched
    assert(rows == Seq((1L, 16L, "x++"), (2L, 1L, "y"), (3L, 2L, "z")))
  }

  test("MERGE target-valued SET follows SQL NULL arithmetic: NULL + delta stays NULL") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, Some(5L), "a"), (2L, None, "a"))
        .toDF("id", "score", "dt"), "dt")
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT * FROM VALUES (CAST(1 AS BIGINT), CAST(7 AS BIGINT), 'a'),
         |  (CAST(2 AS BIGINT), CAST(7 AS BIGINT), 'a') AS s(id, delta, dt)) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET score = t.score + s.delta""".stripMargin)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "score").as[(Long, Option[Long])].collect().toSeq
    assert(rows == Seq((1L, Some(12L)), (2L, None)))
  }

  test("MERGE target-valued SET composes with a target-side guard and the insert arm") {
    val path = freshDir()
    seed(path)
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT * FROM VALUES
         |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), 'a'),
         |  (CAST(2 AS BIGINT), CAST(0 AS BIGINT), 'a'),
         |  (CAST(7 AS BIGINT), CAST(9 AS BIGINT), 'a')
         |  AS s(id, nver, dt)) s
         |ON t.id = s.id
         |WHEN MATCHED AND s.nver > t.ver THEN UPDATE SET ver = t.ver + s.nver
         |WHEN NOT MATCHED THEN INSERT (id, ver, v, dt) VALUES (s.id, s.nver, 'new', s.dt)""".stripMargin)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "ver", "v").as[(Long, Long, String)].collect().toSeq
    // id=1: guard 2 > 1 → ver = 1 + 2; id=2: guard 0 > 1 false →
    // survives unchanged; id=7 inserts
    assert(rows == Seq((1L, 3L, "x"), (2L, 1L, "y"), (3L, 2L, "z"),
      (7L, 9L, "new")))
  }

  test("pair-valued SET cannot introduce a NEW column (schema evolution types come from the source side)") {
    val path = freshDir()
    seed(path)
    // the SQL plane never gets here (the analyzer cannot resolve a
    // target-referencing value for a column the table lacks), so the
    // guard is an API-plane contract: a pairValues clause assigning a
    // column outside the table schema refuses loudly
    val src = Seq((1L, 3L, "a")).toDF("id", "delta", "dt")
    val e = intercept[Exception] {
      Warehouse.mergeStatement(spark, path, src,
        targetKeys = Seq("id"), sourceKeys = Seq(col("id")),
        matched = Seq((None,
          Some(Seq("bonus" -> (col("_gm_t_ver") + col("delta")))))),
        notMatched = Nil,
        pairValues = Set(0), targetCondCols = Seq("ver"),
        schemaEvolution = true)
    }
    assert(e.getMessage.contains("cannot introduce new column"),
      s"wrong refusal: ${e.getMessage}")
    assert(Warehouse.currentVersion(spark, path) == 1L)
  }

  test("multiple WHEN NOT MATCHED INSERT arms act first-applicable; a row matching no arm is ignored") {
    val path = freshDir()
    seed(path)
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT * FROM VALUES
         |  (CAST(10 AS BIGINT), CAST(0 AS BIGINT), 'a'),
         |  (CAST(11 AS BIGINT), CAST(1 AS BIGINT), 'a'),
         |  (CAST(12 AS BIGINT), CAST(2 AS BIGINT), 'a'),
         |  (CAST(1  AS BIGINT), CAST(0 AS BIGINT), 'a')
         |  AS s(id, kind, dt)) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = 'touched'
         |WHEN NOT MATCHED AND s.kind = 0 THEN INSERT (id, ver, v, dt)
         |  VALUES (s.id, 100, 'zero', s.dt)
         |WHEN NOT MATCHED AND s.kind <= 1 THEN INSERT (id, v, dt)
         |  VALUES (s.id, 'one', s.dt)""".stripMargin)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "ver", "v").as[(Long, Option[Long], String)].collect().toSeq
    // id=1 matched; id=10 takes the FIRST arm (kind=0 also satisfies
    // the second — order decides) with ver assigned; id=11 takes the
    // second arm (ver unassigned → NULL); id=12 matches no arm → ignored
    assert(rows == Seq((1L, Some(1L), "touched"), (2L, Some(1L), "y"),
      (3L, Some(2L), "z"), (10L, Some(100L), "zero"), (11L, None, "one")))
  }

  // -------------------------------------------------------------
  // Residual (non-key) ON conjuncts (round 17)
  // -------------------------------------------------------------

  test("MERGE residual ON conjuncts participate in matching: a key-equal pair failing the residual is NOT matched") {
    val path = freshDir()
    seed(path)
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT * FROM VALUES
         |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'hit',  'a'),
         |  (CAST(2 AS BIGINT), CAST(9 AS BIGINT), 'miss', 'a')
         |  AS s(id, vfloor, nv, dt)) s
         |ON t.id = s.id AND t.ver >= s.vfloor
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |WHEN NOT MATCHED THEN INSERT (id, ver, v, dt)
         |  VALUES (s.id + 100, s.vfloor, s.nv, s.dt)""".stripMargin)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "ver", "v").as[(Long, Long, String)].collect().toSeq
    // id=1: 1 >= 1 → matched, updated; id=2: 1 >= 9 fails → the
    // source row lands in the INSERT arm (SQL's ON semantics), the
    // stored row survives unchanged
    assert(rows == Seq((1L, 1L, "hit"), (2L, 1L, "y"), (3L, 2L, "z"),
      (102L, 9L, "miss")))
  }

  test("MERGE residual ON with BY SOURCE: a residual-failing base row is unmatched and takes the BY SOURCE arm") {
    val path = freshDir()
    seed(path)
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT * FROM VALUES
         |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'a'),
         |  (CAST(2 AS BIGINT), CAST(9 AS BIGINT), 'a'),
         |  (CAST(3 AS BIGINT), CAST(1 AS BIGINT), 'b')
         |  AS s(id, vfloor, dt)) s
         |ON t.id = s.id AND t.ver >= s.vfloor
         |WHEN MATCHED THEN UPDATE SET v = 'kept'
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'orphan'""".stripMargin)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, String)].collect().toSeq
    // id=1 matched (1 >= 1); id=2 key-joins but 1 >= 9 fails →
    // unmatched under the FULL ON → BY SOURCE arm; id=3 matched
    assert(rows == Seq((1L, "kept"), (2L, "orphan"), (3L, "kept")))
  }

  test("MERGE residual NULL counts as not-matched (three-valued logic) and a duplicate target-key equality folds into the residual") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, Some(5L), "x", "a"), (2L, None, "y", "a"))
        .toDF("id", "score", "v", "dt"), "dt")
    // id=2's stored score is NULL → residual NULL → not matched →
    // no clause fires (no insert arm), row survives
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT * FROM VALUES
         |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'a'),
         |  (CAST(2 AS BIGINT), CAST(1 AS BIGINT), 'a')
         |  AS s(id, floor, dt)) s
         |ON t.id = s.id AND t.score >= s.floor
         |WHEN MATCHED THEN UPDATE SET v = 'hit'""".stripMargin)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "hit"), (2L, "y")))
    // a SECOND equality on the already-keyed id column is a residual,
    // not a duplicate key: t.id = s.id AND t.id = s.other
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT * FROM VALUES
         |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'a'),
         |  (CAST(2 AS BIGINT), CAST(99 AS BIGINT), 'a')
         |  AS s(id, other, dt)) s
         |ON t.id = s.id AND t.id = s.other
         |WHEN MATCHED THEN UPDATE SET v = 'both'""".stripMargin)
    val rows2 = Warehouse.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, String)].collect().toSeq
    // id=1: both equalities hold → updated; id=2: 2 = 99 fails → not
    // matched
    assert(rows2 == Seq((1L, "both"), (2L, "y")))
  }

  test("MERGE residual ON: a target row key-equal to one qualifying and one failing source row is updated once, not duplicated") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, 5L, "p0"), (2L, 1L, "p0")).toDF("id", "a", "dt"), "dt")
    // id=1 key-matches both source rows: 5 >= 3 qualifies, 5 >= 9
    // fails. Only the qualifying pair is matched, so the stored row is
    // updated once and the failing pair leaves no unchanged copy behind
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT * FROM VALUES
         |  (CAST(1 AS BIGINT), CAST(3 AS BIGINT), 'p0'),
         |  (CAST(1 AS BIGINT), CAST(9 AS BIGINT), 'p0')
         |  AS s(id, delta, dt)) s
         |ON t.id = s.id AND t.a >= s.delta
         |WHEN MATCHED THEN UPDATE SET a = t.a + s.delta""".stripMargin)
    val rows = Warehouse.read(spark, path).orderBy("id", "a")
      .select("id", "a").as[(Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 8L), (2L, 1L)))
  }

  test("MERGE and UPDATE refuse time-travel relations (history is immutable)") {
    val path = freshDir()
    seed(path)
    spark.sql(s"UPDATE graft.`$path` SET v = 'v2' WHERE id = 1").collect()
    // VERSION AS OF 1 is not a current-snapshot handle: the DML rule
    // leaves the plan alone and Spark refuses the table operation
    val e = intercept[Exception] {
      spark.sql(s"UPDATE graft.`$path` VERSION AS OF 1 SET v = 'no' WHERE id = 1")
        .collect()
    }
    assert(e != null)
  }

  test("UPDATE translates its pushable conjuncts into discovery pruning filters at analysis time") {
    val path = freshDir()
    seed(path)
    val plan = spark.sessionState.analyzer.execute(
      spark.sessionState.sqlParser.parsePlan(
        s"UPDATE graft.`$path` SET v = 'p' WHERE id = 2 AND length(v) > 0"))
    val cmd = plan.collectFirst {
      case c: org.apache.spark.sql.graft.UpdateWarehouseCommand => c
    }.getOrElse(fail(s"expected UpdateWarehouseCommand, got:\n$plan"))
    // the equality conjunct prunes (routes into the stats/bloom
    // sidecars); the length() conjunct is untranslatable and simply
    // drops from the pruning set — the full predicate still decides
    // every row
    assert(cmd.pruning.exists {
      case org.apache.spark.sql.sources.EqualTo("id", v) => v == 2
      case _ => false
    }, s"expected an EqualTo(id, 2) pruning filter, got ${cmd.pruning}")
  }

  test("MERGE matched-only against a partition that does not exist is a no-op (no commit)") {
    val path = freshDir()
    seed(path)
    val v0 = Warehouse.currentVersion(spark, path)
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT CAST(9 AS BIGINT) AS id, 'p' AS nv, 'zz' AS dt) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    assert(Warehouse.currentVersion(spark, path) == v0)
  }

  // -------------------------------------------------------------
  // round 16: target-side guards, BY SOURCE, schema evolution,
  // cross-partition insert guard, empty-table refusal
  // -------------------------------------------------------------

  test("MERGE target-side guard: WHEN MATCHED AND s.ver > t.ver updates only newer changes (guard-true/guard-false/null-guard)") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, Some(5L), "x", "a"), (2L, Some(5L), "y", "a"),
        (3L, None, "z", "a"))
        .toDF("id", "ver", "v", "dt"), "dt")
    // id=1: source ver 9 > stored 5  -> guard TRUE, updates
    // id=2: source ver 3 < stored 5  -> guard FALSE, survives
    // id=3: stored ver NULL          -> guard NULL, survives (SQL)
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT * FROM VALUES
         |  (CAST(1 AS BIGINT), CAST(9 AS BIGINT), 'nx', 'a'),
         |  (CAST(2 AS BIGINT), CAST(3 AS BIGINT), 'ny', 'a'),
         |  (CAST(3 AS BIGINT), CAST(9 AS BIGINT), 'nz', 'a')
         |  AS s(id, ver, nv, dt)) s
         |ON t.id = s.id
         |WHEN MATCHED AND s.ver > t.ver THEN UPDATE SET v = s.nv, ver = s.ver""".stripMargin)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "ver", "v").as[(Long, Option[Long], String)].collect().toSeq
    assert(rows == Seq((1L, Some(9L), "nx"), (2L, Some(5L), "y"),
      (3L, None, "z")), s"got $rows")
  }

  test("MERGE target-side guard composes with clause order and the DELETE arm") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, 5L, "x", "a"), (2L, 5L, "y", "a"), (3L, 5L, "z", "a"))
        .toDF("id", "ver", "v", "dt"), "dt")
    // clause order: a stale tombstone (id=2, ver 3 < 5) falls through
    // BOTH guarded arms and survives; a fresh tombstone deletes; a
    // fresh update updates
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT * FROM VALUES
         |  (CAST(1 AS BIGINT), CAST(9 AS BIGINT), true,  'x2', 'a'),
         |  (CAST(2 AS BIGINT), CAST(3 AS BIGINT), true,  'y2', 'a'),
         |  (CAST(3 AS BIGINT), CAST(9 AS BIGINT), false, 'z2', 'a')
         |  AS s(id, ver, del, nv, dt)) s
         |ON t.id = s.id
         |WHEN MATCHED AND s.del AND s.ver > t.ver THEN DELETE
         |WHEN MATCHED AND NOT s.del AND s.ver > t.ver THEN UPDATE SET v = s.nv, ver = s.ver""".stripMargin)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, String)].collect().toSeq
    assert(rows == Seq((2L, "y"), (3L, "z2")), s"got $rows")
  }

  test("WHEN NOT MATCHED BY SOURCE THEN DELETE reconciles the full table (and composes with MATCHED arms)") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, "x", "a"), (2L, "y", "a"), (3L, "z", "b"), (4L, "w", "b"))
        .toDF("id", "v", "dt"), "dt")
    // source carries ids 1 and 3 only; 2 and 4 vanished -> deleted,
    // ACROSS partitions (dt=b is reconciled even though the source
    // only names dt=a rows for it via id=3)
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT * FROM VALUES
         |  (CAST(1 AS BIGINT), 'nx', 'a'), (CAST(3 AS BIGINT), 'nz', 'b')
         |  AS s(id, nv, dt)) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "nx"), (3L, "nz")), s"got $rows")
  }

  test("WHEN NOT MATCHED BY SOURCE THEN UPDATE (deactivation) with and without an additional condition") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, "x", true, "a"), (2L, "y", true, "a"), (3L, "z", true, "b"))
        .toDF("id", "v", "active", "dt"), "dt")
    // unconditioned arm: every vanished row deactivates
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT CAST(1 AS BIGINT) AS id, 'a' AS dt) s
         |ON t.id = s.id
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET active = false""".stripMargin)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "active").as[(Long, Boolean)].collect().toSeq
    assert(rows == Seq((1L, true), (2L, false), (3L, false)), s"got $rows")
    // conditioned arm: only rows passing the TARGET-side predicate act
    val path2 = freshDir()
    Warehouse.create(spark, path2,
      Seq((1L, "x", true, "a"), (2L, "y", true, "a"), (3L, "z", true, "b"))
        .toDF("id", "v", "active", "dt"), "dt")
    spark.sql(
      s"""MERGE INTO graft.`$path2` t
         |USING (SELECT CAST(1 AS BIGINT) AS id, 'a' AS dt) s
         |ON t.id = s.id
         |WHEN NOT MATCHED BY SOURCE AND t.v = 'y' THEN UPDATE SET active = false""".stripMargin)
    val rows2 = Warehouse.read(spark, path2).orderBy("id")
      .select("id", "active").as[(Long, Boolean)].collect().toSeq
    assert(rows2 == Seq((1L, true), (2L, false), (3L, true)), s"got $rows2")
  }

  test("BY SOURCE clause-order: DELETE then UPDATE arms act first-applicable, like MATCHED arms") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, "old", "a"), (2L, "new", "a"), (3L, "keep", "a"))
        .toDF("id", "v", "dt"), "dt")
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT CAST(3 AS BIGINT) AS id, 'a' AS dt) s
         |ON t.id = s.id
         |WHEN NOT MATCHED BY SOURCE AND t.v = 'old' THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'retired'""".stripMargin)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, String)].collect().toSeq
    assert(rows == Seq((2L, "retired"), (3L, "keep")), s"got $rows")
  }

  test("MERGE cardinality rule relaxed per the standard: duplicate source keys that match NO target row all insert") {
    val path = freshDir()
    seed(path)
    // id=9 does not exist: two source rows with the same key are both
    // legal inserts (no unique-key constraint); the cardinality error
    // fires only when a TARGET row is matched more than once
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT * FROM VALUES
         |  (CAST(9 AS BIGINT), CAST(1 AS BIGINT), 'i1', 'a'),
         |  (CAST(9 AS BIGINT), CAST(1 AS BIGINT), 'i2', 'a')
         |  AS s(id, ver, v, dt)) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, ver, v, dt) VALUES (s.id, s.ver, s.v, s.dt)""".stripMargin)
    val vs = Warehouse.read(spark, path).filter(col("id") === 9L)
      .select("v").as[String].collect().sorted.toSeq
    assert(vs == Seq("i1", "i2"), s"got $vs")
  }

  test("cross-partition insert guard: a source row mis-naming its key's partition fails loudly instead of inserting a duplicate") {
    val path = freshDir()
    seed(path) // id=3 lives in dt=b
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$path` t
           |USING (SELECT CAST(3 AS BIGINT) AS id, CAST(9 AS BIGINT) AS ver,
           |              'dup' AS v, 'a' AS dt) s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (id, ver, v, dt) VALUES (s.id, s.ver, s.v, s.dt)""".stripMargin)
    }
    assert(e.getMessage.contains("already exists in a live partition"),
      s"wrong refusal: ${e.getMessage}")
    // nothing committed, no duplicate
    assert(Warehouse.read(spark, path).filter(col("id") === 3L).count() == 1L)
    // with the guard disabled the caller owns the contract (documented)
    spark.conf.set("spark.graft.merge.crossPartitionKeyCheck", "false")
    try {
      spark.sql(
        s"""MERGE INTO graft.`$path` t
           |USING (SELECT CAST(3 AS BIGINT) AS id, CAST(9 AS BIGINT) AS ver,
           |              'dup' AS v, 'a' AS dt) s
           |ON t.id = s.id
           |WHEN NOT MATCHED THEN INSERT (id, ver, v, dt) VALUES (s.id, s.ver, s.v, s.dt)""".stripMargin)
      assert(Warehouse.read(spark, path).filter(col("id") === 3L).count() == 2L)
    } finally spark.conf.unset("spark.graft.merge.crossPartitionKeyCheck")
  }

  test("a MERGE whose DELETE arms would empty the table is refused (EmptyBatchException), table intact") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, "x", "a"), (2L, "y", "a")).toDF("id", "v", "dt"), "dt")
    val v0 = Warehouse.currentVersion(spark, path)
    val e = intercept[graft.io.EmptyBatchException] {
      spark.sql(
        s"""MERGE INTO graft.`$path` t
           |USING (SELECT * FROM VALUES
           |  (CAST(1 AS BIGINT), 'a'), (CAST(2 AS BIGINT), 'a')
           |  AS s(id, dt)) s
           |ON t.id = s.id
           |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("ZERO live partitions"))
    assert(Warehouse.currentVersion(spark, path) == v0)
    assert(Warehouse.read(spark, path).count() == 2L)
  }

  test("UPDATE with a time-dependent predicate derives NO pruning bound from it (analysis-time fold would be unsound)") {
    val path = freshDir()
    seed(path)
    val plan = spark.sessionState.analyzer.execute(
      spark.sessionState.sqlParser.parsePlan(
        s"UPDATE graft.`$path` SET v = 'p' " +
          "WHERE ver <= unix_millis(current_timestamp()) AND id = 2"))
    val cmd = plan.collectFirst {
      case c: org.apache.spark.sql.graft.UpdateWarehouseCommand => c
    }.getOrElse(fail(s"expected UpdateWarehouseCommand, got:\n$plan"))
    // the deterministic conjunct still prunes; the current_timestamp()
    // conjunct must NOT (its analysis-time fold would pin a bound the
    // executed predicate re-evaluates past - files between analysis
    // and execution time would be silently skipped)
    assert(cmd.pruning.exists {
      case org.apache.spark.sql.sources.EqualTo("id", v) => v == 2
      case _ => false
    }, s"expected the id=2 filter to survive, got ${cmd.pruning}")
    assert(!cmd.pruning.exists {
      case org.apache.spark.sql.sources.LessThanOrEqual("ver", _) => true
      case _ => false
    }, s"time-dependent bound must be dropped, got ${cmd.pruning}")
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the table (new source column), old rows read NULL, narrow merges still refuse") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, "x", "a"), (2L, "y", "a"), (3L, "z", "b"))
        .toDF("id", "v", "dt"), "dt")
    // evolution: the star carries a column the table lacks — Spark's
    // ResolveMergeIntoSchemaEvolution (admitted by the table's
    // AUTOMATIC_SCHEMA_EVOLUTION capability) routes it through the
    // catalog's ALTER overlay (one metadata write), and the merge
    // stores it physically for the touched partition
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$path` t
         |USING (SELECT CAST(1 AS BIGINT) AS id, 'nx' AS v, 'a' AS dt,
         |              CAST(42 AS INT) AS score) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "v", "score").as[(Long, String, Option[Int])]
      .collect().toSeq
    // id=1 carries the value; id=2 (same partition, rewritten) and
    // id=3 (untouched partition, overlay NULL) read NULL
    assert(rows == Seq((1L, "nx", Some(42)), (2L, "y", None),
      (3L, "z", None)), s"got $rows")
    // WITHOUT the keyword, an unknown column is refused at analysis
    val path2 = freshDir()
    Warehouse.create(spark, path2,
      Seq((1L, "x", "a")).toDF("id", "v", "dt"), "dt")
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$path2` t
           |USING (SELECT CAST(1 AS BIGINT) AS id, 'nx' AS v, 'a' AS dt,
           |              CAST(42 AS INT) AS score) s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET score = s.score""".stripMargin)
    }
    assert(e.getMessage.contains("score"), s"wrong refusal: ${e.getMessage}")
    // and a narrow source (missing a target column) never DROPS it:
    // under evolution the star assigns the SOURCE's columns by name,
    // unassigned target columns keep their stored values
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$path2` t
         |USING (SELECT CAST(1 AS BIGINT) AS id, 'a' AS dt) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(Warehouse.read(spark, path2).columns.toSet ==
      Set("id", "v", "dt"), "narrow merge must not drop columns")
    assert(Warehouse.read(spark, path2).select("v").as[String].head() == "x",
      "unassigned target column keeps its stored value")
  }

  test("API-plane schema-evolving mergeStatement: new column typed from the source, conflicting types refused") {
    val path = freshDir()
    Warehouse.create(spark, path,
      Seq((1L, "x", "a"), (2L, "y", "a")).toDF("id", "v", "dt"), "dt")
    val changes = Seq((1L, "nx", "a", 7L)).toDF("id", "v", "dt", "score")
    Warehouse.mergeStatement(spark, path, changes,
      Seq("id"), Seq(col("id")),
      matched = Seq((None, Some(Seq("v" -> col("v"), "score" -> col("score"))))),
      notMatched = Nil, schemaEvolution = true)
    val rows = Warehouse.read(spark, path).orderBy("id")
      .select("id", "score").as[(Long, Option[Long])].collect().toSeq
    assert(rows == Seq((1L, Some(7L)), (2L, None)), s"got $rows")
    // without the flag: loud refusal
    val e = intercept[IllegalArgumentException] {
      Warehouse.mergeStatement(spark, path, changes
          .withColumnRenamed("score", "other"),
        Seq("id"), Seq(col("id")),
        matched = Seq((None, Some(Seq("other" -> col("other"))))),
        notMatched = Nil)
    }
    assert(e.getMessage.contains("unknown column"))
  }
}
