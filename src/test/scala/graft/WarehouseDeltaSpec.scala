package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Warehouse

/** The round-13 warehouse contracts: merge-on-read delta commits
  * (O(changes) write bytes, fold-at-read equality with copy-on-write),
  * file-level data skipping, hive-escaped partition lookups, the
  * retention-gated vacuum, the bounded change-log page walk, and the
  * maintenance cadence that keeps a streaming-ingested table's file
  * count bounded.
  */
class WarehouseDeltaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dirBytes(dir: String): Long = {
    val base = java.nio.file.Paths.get(dir)
    if (!Files.exists(base)) 0L
    else {
      val it = Files.walk(base).iterator()
      var total = 0L
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p)) total += Files.size(p)
      }
      total
    }
  }

  private def rows(path: String): Seq[(Long, String, Long, String)] =
    Warehouse.read(spark, path)
      .select("k", "payload", "ver", "part")
      .as[(Long, String, Long, String)].collect().sortBy(_._1).toSeq

  test("mergeIntoDelta: update wins, stale loses, insert lands, tombstone deletes, new partition appears — all folded at read") {
    val path = Files.createTempDirectory("graft_mor").toString + "/t"
    val base = Seq(
      (1L, "a", 10L, "d1"), (2L, "b", 10L, "d1"),
      (3L, "c", 10L, "d2"), (4L, "d", 10L, "d2"))
      .toDF("k", "payload", "ver", "part")
    Warehouse.create(spark, path, base, "part")
    val delta1 = Seq(
      (3L, "c2", 11L, "d2", false), // newer update → replaces
      (4L, "d0", 9L, "d2", false),  // stale → stored survives
      (5L, "e", 11L, "d1", false),  // insert into existing partition
      (6L, "f", 11L, "d9", false),  // insert creating a NEW partition
      (1L, "x", 11L, "d1", true))   // tombstone → key 1 deleted
      .toDF("k", "payload", "ver", "part", "is_del")
    Warehouse.mergeIntoDelta(spark, path, delta1, "k", "ver", Seq("part"),
      deleteCol = Some("is_del"))
    assert(rows(path) == Seq(
      (2L, "b", 10L, "d1"), (3L, "c2", 11L, "d2"), (4L, "d", 10L, "d2"),
      (5L, "e", 11L, "d1"), (6L, "f", 11L, "d9")))
    // a SECOND delta must outrank the first at equal version (chain
    // position is the tiebreak, like change-beats-stored in CoW), and
    // a delta can resurrect a tombstoned key
    val delta2 = Seq(
      (3L, "c3", 11L, "d2", false), // same version as delta1's → later delta wins
      (1L, "a2", 11L, "d1", false)) // re-insert after the tombstone
      .toDF("k", "payload", "ver", "part", "is_del")
    Warehouse.mergeIntoDelta(spark, path, delta2, "k", "ver", Seq("part"),
      deleteCol = Some("is_del"))
    assert(rows(path) == Seq(
      (1L, "a2", 11L, "d1"), (2L, "b", 10L, "d1"), (3L, "c3", 11L, "d2"),
      (4L, "d", 10L, "d2"), (5L, "e", 11L, "d1"), (6L, "f", 11L, "d9")))
    // time travel still serves every intermediate fold
    assert(Warehouse.readVersion(spark, path, 1L).count() == 4)
    assert(Warehouse.readVersion(spark, path, 2L)
      .select("k").as[Long].collect().sorted.toSeq == Seq(2L, 3L, 4L, 5L, 6L))
  }

  test("fold survives partition values whose inferred type changes the string form ('07' reads back as int 7)") {
    // partition-type inference turns dir value '07' into int 7, so a
    // fold that joined rank by VALUE would silently drop every row of
    // the chained partition (advisor r13); the per-dir literal rank
    // must keep them all
    val path = Files.createTempDirectory("graft_mor_inf").toString + "/t"
    val base = Seq((1L, "a", 10L, "07"), (2L, "b", 10L, "08"))
      .toDF("k", "payload", "ver", "part")
    Warehouse.create(spark, path, base, "part")
    val delta = Seq((1L, "a2", 11L, "07"), (3L, "c", 11L, "08"))
      .toDF("k", "payload", "ver", "part")
    Warehouse.mergeIntoDelta(spark, path, delta, "k", "ver", Seq("part"))
    val got = Warehouse.read(spark, path)
      .select(col("k"), col("payload"), col("part").cast("string"))
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    // inference reads the dir value back as int (7/8) in BOTH the pure
    // and folded paths — the contract is no silent row loss and the
    // delta winning, not the string round-trip
    assert(got == Seq((1L, "a2", "7"), (2L, "b", "8"), (3L, "c", "8")))
  }

  test("mergeIntoDelta writes O(changes) bytes, never the touched partition") {
    val path = Files.createTempDirectory("graft_mor_b").toString + "/t"
    // one fat partition: ~20k rows with a chunky payload
    val base = (1L to 20000L).map(i => (i, "payload-" * 8 + i, 10L, "d1"))
      .toDF("k", "payload", "ver", "part")
    Warehouse.create(spark, path, base, "part")
    val stats0 = Warehouse.partitionStats(spark, path)
    val baseBytes = stats0.map(_._4).sum
    val baseBatch = stats0.head._2
    Warehouse.mergeIntoDelta(spark, path,
      Seq((7L, "tiny", 11L, "d1")).toDF("k", "payload", "ver", "part"),
      "k", "ver", Seq("part"))
    // the delta batch dir holds ONE key's bytes; the base batch is untouched
    val deltaBatch = Warehouse.partitionStats(spark, path).head._2
      .split(",").last.stripPrefix("~")
    val deltaBytes = dirBytes(s"$path/data/batch=$deltaBatch")
    assert(deltaBytes > 0 && deltaBytes < baseBytes / 10,
      s"1-key delta must write O(changes) bytes: delta=$deltaBytes base=$baseBytes")
    assert(dirBytes(s"$path/data/batch=$baseBatch") > 0,
      "base batch files stay in place (no rewrite)")
    // and the fold serves the merged state
    val got = Warehouse.read(spark, path).filter(col("k") === 7L)
      .select("payload").as[String].collect().toSeq
    assert(got == Seq("tiny"))
    assert(Warehouse.read(spark, path).count() == 20000L)
  }

  test("delta and CoW merges compose on one table; compact folds chains into a pure base with identical rows") {
    val path = Files.createTempDirectory("graft_mor_c").toString + "/t"
    Warehouse.create(spark, path, Seq(
      (1L, "a", 10L, "d1"), (2L, "b", 10L, "d2"), (3L, "c", 10L, "d2"))
      .toDF("k", "payload", "ver", "part"), "part")
    Warehouse.mergeIntoDelta(spark, path,
      Seq((2L, "b2", 11L, "d2", false), (3L, "x", 11L, "d2", true))
        .toDF("k", "payload", "ver", "part", "is_del"),
      "k", "ver", Seq("part"), deleteCol = Some("is_del"))
    // CoW merge ON TOP of the chain must fold the chain first (key 3
    // stays deleted, b2 is the base it reconciles against)
    Warehouse.mergeInto(spark, path,
      Seq((4L, "g", 12L, "d2")).toDF("k", "payload", "ver", "part"),
      "k", "ver", Seq("part"))
    assert(rows(path) == Seq(
      (1L, "a", 10L, "d1"), (2L, "b2", 11L, "d2"), (4L, "g", 12L, "d2")))
    // another delta, then compact: chains collapse, rows identical
    Warehouse.mergeIntoDelta(spark, path,
      Seq((1L, "a3", 12L, "d1")).toDF("k", "payload", "ver", "part"),
      "k", "ver", Seq("part"))
    val before = rows(path)
    assert(Warehouse.compact(spark, path, "k", targetBytes = 1L << 30) >= 1)
    assert(rows(path) == before, "compaction must not change a visible row")
    val chains = Warehouse.partitionStats(spark, path).map(_._2)
    assert(chains.forall(c => !c.contains(",") && !c.startsWith("~")),
      s"compact must collapse every chain, got $chains")
    // the change feed across a delta commit equals the CoW-equivalent diff
    val feed = Warehouse.changes(spark, path, 1L, 2L, "k")
      .select("k", "change_type", "payload")
      .as[(Long, String, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(feed == Seq(
      (2L, "update_postimage", "b2"), (2L, "update_preimage", "b"),
      (3L, "delete", "c")),
      s"delta-commit change feed must fold both sides, got $feed")
  }

  test("data skipping: compact records footer stats; readSkipping opens fewer files and equals the filtered read") {
    val path = Files.createTempDirectory("graft_skip").toString + "/t"
    val base = (1L to 4000L).map(i => (i, s"p$i", if (i % 2 == 0) "d1" else "d2"))
      .toDF("k", "payload", "part")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", 100L)
    try Warehouse.create(spark, path, base.repartition(8), "part")
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    // fragmented → compact sorts on k and records per-file min/max;
    // small target keeps MULTIPLE files per partition so pruning is
    // observable
    val targetFileBytes = {
      val bytes = Warehouse.partitionStats(spark, path).map(_._4).sum
      math.max(1L, bytes / 16)
    }
    assert(Warehouse.compact(spark, path, "k", targetFileBytes) == 2)
    val full = Warehouse.read(spark, path)
    val fullFiles = full.inputFiles.length
    assert(fullFiles > 4, s"need a multi-file layout to prune, got $fullFiles")
    val skipped = Warehouse.readSkipping(spark, path, "k", 100L, 300L)
    assert(skipped.inputFiles.length < fullFiles,
      s"skipping must open fewer files: ${skipped.inputFiles.length} vs $fullFiles")
    val got = skipped.select("k", "payload", "part")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val want = full.filter(col("k").between(100L, 300L))
      .select("k", "payload", "part")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(got == want, "pruned read must equal the filtered full read")
    // stats absent (a plain created table) → no pruning, same rows
    val path2 = Files.createTempDirectory("graft_skip2").toString + "/t"
    Warehouse.create(spark, path2, base, "part")
    assert(Warehouse.readSkipping(spark, path2, "k", 1L, 50L).count() == 50L)
  }

  test("partition values the writer escapes (':' etc.) merge correctly; null partition values are rejected loudly") {
    val path = Files.createTempDirectory("graft_esc").toString + "/t"
    Warehouse.create(spark, path, Seq(
      (1L, "a", 10L, "2024-01-01T00:00"), (2L, "b", 10L, "plain"))
      .toDF("k", "payload", "ver", "part"), "part")
    // pre-fix this lookup missed the escaped dir name and the merge
    // dropped row 1 (the stored row of the touched partition)
    Warehouse.mergeInto(spark, path,
      Seq((3L, "c", 11L, "2024-01-01T00:00")).toDF("k", "payload", "ver", "part"),
      "k", "ver", Seq("part"))
    assert(rows(path) == Seq(
      (1L, "a", 10L, "2024-01-01T00:00"), (2L, "b", 10L, "plain"),
      (3L, "c", 11L, "2024-01-01T00:00")))
    val nullPart = Seq((9L, "z", 11L)).toDF("k", "payload", "ver")
      .withColumn("part", lit(null).cast("string"))
    val e = intercept[IllegalArgumentException] {
      Warehouse.mergeInto(spark, path, nullPart, "k", "ver", Seq("part"))
    }
    assert(e.getMessage.contains("NULL"))
  }

  test("vacuum retention: young unreferenced batches and young superseded versions survive until they age out") {
    val path = Files.createTempDirectory("graft_ret").toString + "/t"
    Warehouse.create(spark, path, Seq((1L, "a", 10L, "d1"))
      .toDF("k", "payload", "ver", "part"), "part")
    Warehouse.mergeInto(spark, path,
      Seq((1L, "a2", 11L, "d1")).toDF("k", "payload", "ver", "part"),
      "k", "ver", Seq("part"))
    // an in-flight writer's uncommitted batch dir (the merge-commit
    // window a concurrent vacuum must not sweep)
    val inflight = s"$path/data/batch=inflight-writer"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$inflight/part=d1"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$inflight/part=d1/part-0.parquet"), "x")
    // retention 1h: everything is younger — nothing reclaimed
    assert(Warehouse.vacuum(spark, path, minAgeMs = 3600L * 1000) == 0)
    assert(Files.exists(java.nio.file.Paths.get(inflight)),
      "retention must protect the in-flight batch")
    assert(Warehouse.readVersion(spark, path, 1L).count() == 1,
      "young superseded version stays readable under retention")
    // retention 0 (exclusive access declared): both reclaimed
    assert(Warehouse.vacuum(spark, path, minAgeMs = 0L) == 1)
    assert(!Files.exists(java.nio.file.Paths.get(inflight)))
    intercept[IllegalStateException] { Warehouse.readVersion(spark, path, 1L) }
  }

  test("changeLog pages: a 24-commit history walks in bounded windows whose fold reproduces the newest snapshot") {
    val path = Files.createTempDirectory("graft_page").toString + "/t"
    Warehouse.create(spark, path, Seq((0L, "p0", 0L, "d1"))
      .toDF("k", "payload", "ver", "part"), "part")
    // 23 further commits: upserts cycling over 6 keys + a periodic delete
    (1L to 23L).foreach { i =>
      val del = i % 5 == 0
      Warehouse.mergeInto(spark, path,
        Seq((i % 6, s"p$i", i, "d1", del)).toDF("k", "payload", "ver", "part", "is_del"),
        "k", "ver", Seq("part"), deleteCol = Some("is_del"))
    }
    // the unbounded call is REFUSED above maxCommits
    val e = intercept[IllegalArgumentException] {
      Warehouse.changeLog(spark, path, "k", maxCommits = 8)
    }
    assert(e.getMessage.contains("page"))
    // page walk: windows of 8 commits, folded in order over the v1 state
    var state = Warehouse.readVersion(spark, path, 1L)
      .select("k", "payload").as[(Long, String)].collect().toMap
    (1L until 24L by 8L).foreach { from =>
      val to = math.min(from + 8L, 24L)
      val page = Warehouse.changeLog(spark, path, "k", from, Some(to), maxCommits = 8)
      page.select("commit_version", "change_type", "k", "payload")
        .as[(Long, String, Long, String)].collect()
        .sortBy(r => (r._1, r._3)).foreach {
          case (_, "delete", k, _)          => state -= k
          case (_, "update_preimage", _, _) => ()
          case (_, _, k, p)                 => state += (k -> p)
        }
    }
    val newest = Warehouse.read(spark, path)
      .select("k", "payload").as[(Long, String)].collect().toMap
    assert(state == newest, s"paged fold $state != newest $newest")
  }

  test("a widening delta folds by name: base rows read the new column as null, winners carry it") {
    val path = Files.createTempDirectory("graft_mor_w").toString + "/t"
    Warehouse.create(spark, path, Seq(
      (1L, "a", 10L, "d1"), (2L, "b", 10L, "d1"))
      .toDF("k", "payload", "ver", "part"), "part")
    val widen = Seq((2L, "b2", 11L, "d1", 77L))
      .toDF("k", "payload", "ver", "part", "score")
    Warehouse.mergeIntoDelta(spark, path, widen, "k", "ver", Seq("part"))
    val got = Warehouse.read(spark, path).select("k", "payload", "score")
      .as[(Long, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", None), (2L, "b2", Some(77L))),
      s"widening delta fold: $got")
    val shape = Seq("k" -> "LongType", "ver" -> "LongType",
      "part" -> "StringType", "payload" -> "StringType", "score" -> "LongType")
    assert(Warehouse.read(spark, path).dtypes.toSeq == shape)
    assert(Warehouse.readVersion(spark, path,
      Warehouse.currentVersion(spark, path)).dtypes.toSeq == shape)
  }

  test("racing delta commits rebase in O(1): the loser re-publishes the manifest without rewriting its batch") {
    val path = Files.createTempDirectory("graft_mor_r").toString + "/t"
    Warehouse.create(spark, path, Seq((1L, "a", 10L, "d1"))
      .toDF("k", "payload", "ver", "part"), "part")
    def batchDirs() = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$path/data")).count()
    val competing = Seq((2L, "x", 11L, "d1")).toDF("k", "payload", "ver", "part")
    val ours = Seq((3L, "y", 11L, "d1")).toDF("k", "payload", "ver", "part")
    // the competing writer's delta commit fires INSIDE our commit
    // window (after our batch landed, before our manifest publish)
    val attempts = Warehouse.mergeIntoDeltaCore(spark, path, ours,
      "k", "ver", Seq("part"), None, 3,
      attempt => () => if (attempt == 1)
        Warehouse.mergeIntoDelta(spark, path, competing, "k", "ver", Seq("part")))
    assert(attempts == 2, s"one rebase expected, used $attempts")
    // both writers' rows are visible — the serialized outcome
    val got = Warehouse.read(spark, path).select("k", "payload")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a"), (2L, "x"), (3L, "y")))
    // O(1) rebase: exactly 3 batch dirs exist (create + 2 deltas) —
    // the retry re-used the already-written batch instead of
    // orphaning it and writing another
    assert(batchDirs() == 3, s"retry must not rewrite data, dirs=${batchDirs()}")
    // and d1's chain carries both deltas in commit order
    val chain = Warehouse.partitionStats(spark, path).head._2
    assert(chain.count(_ == ',') == 2, s"chain must have base + 2 deltas: $chain")
  }

  test("maintain keeps file count and chain length bounded across a stream of delta commits, rows stay exact") {
    val path = Files.createTempDirectory("graft_mnt").toString + "/t"
    Warehouse.create(spark, path, Seq((0L, "seed", 0L, "d1"))
      .toDF("k", "payload", "ver", "part"), "part")
    (1L to 12L).foreach { i =>
      Warehouse.mergeIntoDelta(spark, path,
        Seq((i, s"p$i", i, if (i % 2 == 0) "d1" else "d2"))
          .toDF("k", "payload", "ver", "part"),
        "k", "ver", Seq("part"))
      Warehouse.maintain(spark, path, "k", targetBytes = 1L << 30,
        everyNCommits = 4)
      val stats = Warehouse.partitionStats(spark, path)
      assert(stats.forall(_._3 <= 6),
        s"file count must stay bounded under the cadence, got $stats")
      assert(stats.forall(_._2.count(_ == ',') <= 4),
        s"chain length must stay bounded under the cadence, got $stats")
    }
    val got = Warehouse.read(spark, path).select("k", "payload")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == (0L to 12L).map(i => (i, if (i == 0) "seed" else s"p$i")))
  }
}
