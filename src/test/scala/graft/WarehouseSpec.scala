package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Warehouse

/** The copy-on-write contracts behind m1/k9 that the DuckDB oracle
  * cannot see: WHICH files a merge/compact rewrites. The oracle
  * checks visible rows; these tests pin the physical claims — merge
  * touches only the partitions the change batch names (untouched
  * partitions keep byte-identical files), commits are atomic version
  * flips, and compaction shrinks file counts without moving a row in
  * already-compact partitions.
  */
class WarehouseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** (relative path, length, checksum) of every data file under dir —
    * the byte-identity fingerprint. Checksum is a full content hash,
    * not mtime (a rewrite that reproduced identical bytes would be
    * acceptable copy-on-write; one that changed bytes is not — but
    * for the untouched-partition claim we want NEITHER, so the file
    * NAME set matching is the real assertion: rewritten parquet gets
    * fresh task UUIDs in its file names).
    */
  private def fingerprint(dir: String): Map[String, (Long, String)] = {
    val base = java.nio.file.Paths.get(dir)
    val out = scala.collection.mutable.Map[String, (Long, String)]()
    if (Files.exists(base)) {
      val it = Files.walk(base).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p) && !p.getFileName.toString.startsWith("_")
            && !p.getFileName.toString.startsWith(".")) {
          val bytes = Files.readAllBytes(p)
          val md = java.security.MessageDigest.getInstance("MD5")
          out(base.relativize(p).toString) =
            (bytes.length.toLong, md.digest(bytes).map("%02x".format(_)).mkString)
        }
      }
    }
    out.toMap
  }

  private def freshTable(): String = {
    val path = Files.createTempDirectory("graft_wh").toString + "/t"
    val base = Seq(
      (1L, "a", 10L, "d1"), (2L, "b", 10L, "d1"),
      (3L, "c", 10L, "d2"), (4L, "d", 10L, "d2"),
      (5L, "e", 10L, "d3"))
      .toDF("k", "payload", "ver", "part")
    Warehouse.create(spark, path, base, "part")
    path
  }

  test("create + read round-trips every partition") {
    val path = freshTable()
    val got = Warehouse.read(spark, path)
      .select("k", "payload", "ver", "part")
      .as[(Long, String, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", 10L, "d1"), (2L, "b", 10L, "d1"),
      (3L, "c", 10L, "d2"), (4L, "d", 10L, "d2"), (5L, "e", 10L, "d3")))
  }

  test("mergeInto: update wins, stale change loses, insert lands, untouched partitions keep byte-identical files") {
    val path = freshTable()
    val d1Before = {
      val (pv, b, _, _) = Warehouse.partitionStats(spark, path).find(_._1 == "part=d1").get
      fingerprint(s"$path/data/batch=$b/$pv")
    }
    assert(d1Before.nonEmpty)
    val changes = Seq(
      (3L, "c2", 11L, "d2"),  // newer version → must replace
      (4L, "d0", 9L, "d2"),   // STALE version → stored row must survive
      (6L, "f", 11L, "d3"),   // insert into existing partition
      (7L, "g", 11L, "d4"))   // insert creating a NEW partition
      .toDF("k", "payload", "ver", "part")
    Warehouse.mergeInto(spark, path, changes, "k", "ver", Seq("part"))
    val got = Warehouse.read(spark, path)
      .select("k", "payload", "ver", "part")
      .as[(Long, String, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "a", 10L, "d1"), (2L, "b", 10L, "d1"),
      (3L, "c2", 11L, "d2"), (4L, "d", 10L, "d2"),
      (5L, "e", 10L, "d3"), (6L, "f", 11L, "d3"), (7L, "g", 11L, "d4")))
    // d1 was not in the change batch: same batch dir, same file names,
    // same bytes — the copy-on-write claim, physically
    val (pv1, b1, _, _) = Warehouse.partitionStats(spark, path).find(_._1 == "part=d1").get
    assert(fingerprint(s"$path/data/batch=$b1/$pv1") == d1Before,
      "untouched partition must keep byte-identical files")
    // touched partitions moved to a new batch; the superseded d2
    // files STAY on disk (time travel) until an explicit vacuum
    val statsNow = Warehouse.partitionStats(spark, path).map(s => s._1 -> s._2).toMap
    assert(statsNow("part=d2") != statsNow("part=d1") && statsNow("part=d3") != statsNow("part=d1"))
    val supersededD2 = java.nio.file.Paths.get(
      s"$path/data/batch=${statsNow("part=d1")}/part=d2")
    assert(Files.exists(supersededD2),
      "superseded d2 files must survive the merge for time travel")
    val removed = Warehouse.vacuum(spark, path)
    assert(removed == 1, s"one superseded version to reclaim, got $removed")
    assert(!Files.exists(supersededD2),
      "vacuum must sweep the superseded d2 files")
    // current read unaffected by the vacuum
    assert(Warehouse.read(spark, path).count() == 7)
  }

  test("time travel: readVersion serves every pre-vacuum snapshot; vacuum closes it loudly") {
    val path = freshTable()
    val changes = Seq((3L, "c2", 11L, "d2"), (7L, "g", 11L, "d4"))
      .toDF("k", "payload", "ver", "part")
    Warehouse.mergeInto(spark, path, changes, "k", "ver", Seq("part"))
    // version 1 = the pre-merge table, cell-exact
    val v1 = Warehouse.readVersion(spark, path, 1L)
      .select("k", "payload", "ver", "part")
      .as[(Long, String, Long, String)].collect().sortBy(_._1).toSeq
    assert(v1 == Seq((1L, "a", 10L, "d1"), (2L, "b", 10L, "d1"),
      (3L, "c", 10L, "d2"), (4L, "d", 10L, "d2"), (5L, "e", 10L, "d3")))
    // version 2 = the current table, same rows as read()
    assert(Warehouse.readVersion(spark, path, 2L).count() ==
      Warehouse.read(spark, path).count())
    intercept[IllegalStateException] {
      Warehouse.readVersion(spark, path, 9L)
    }
    Warehouse.vacuum(spark, path)
    // the superseded snapshot is gone LOUDLY, not partially
    intercept[IllegalStateException] {
      Warehouse.readVersion(spark, path, 1L)
    }
    assert(Warehouse.readVersion(spark, path, 2L).count() == 6)
  }

  test("mergeInto ties go to the change row") {
    val path = freshTable()
    val changes = Seq((5L, "e2", 10L, "d3")).toDF("k", "payload", "ver", "part")
    Warehouse.mergeInto(spark, path, changes, "k", "ver", Seq("part"))
    val got = Warehouse.read(spark, path).filter(col("k") === 5)
      .select("payload").as[String].collect().toSeq
    assert(got == Seq("e2"))
  }

  test("latest-wins inside one change batch (multi-version key)") {
    val path = freshTable()
    val changes = Seq(
      (3L, "mid", 12L, "d2"), (3L, "new", 13L, "d2"), (3L, "old", 11L, "d2"))
      .toDF("k", "payload", "ver", "part")
    Warehouse.mergeInto(spark, path, changes, "k", "ver", Seq("part"))
    val got = Warehouse.read(spark, path).filter(col("k") === 3)
      .select("payload", "ver").as[(String, Long)].collect().toSeq
    assert(got == Seq(("new", 13L)))
  }

  test("delete arm: winning tombstone removes, stale loses, absent-key no-op, emptied partition leaves the mapping") {
    val path = freshTable()
    val changes = Seq(
      (3L, "x", 11L, "d2", true),   // newer tombstone → key 3 deleted
      (4L, "x", 9L, "d2", false),   // stale update → stored row survives
      (5L, "x", 9L, "d3", true),    // STALE tombstone → stored row survives
      (99L, "x", 11L, "d2", true),  // delete of an absent key → no-op
      (1L, "x", 11L, "d1", true),   // d1 fully emptied by these two...
      (2L, "x", 11L, "d1", true))   // ...must drop from the mapping
      .toDF("k", "payload", "ver", "part", "is_del")
    Warehouse.mergeInto(spark, path, changes, "k", "ver", Seq("part"),
      deleteCol = Some("is_del"))
    val got = Warehouse.read(spark, path)
      .select("k", "payload", "ver", "part")
      .as[(Long, String, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((4L, "d", 10L, "d2"), (5L, "e", 10L, "d3")))
    val live = Warehouse.partitionStats(spark, path).map(_._1)
    assert(live.sorted == Seq("part=d2", "part=d3"),
      s"emptied d1 must leave the mapping, got $live")
  }

  test("schema evolution: a widening merge adds the column by name; a narrow change batch cannot drop stored columns") {
    val path = freshTable()
    // widening: `score` never existed; only d2 is touched
    val widen = Seq((3L, "c2", 11L, "d2", 77L))
      .toDF("k", "payload", "ver", "part", "score")
    Warehouse.mergeInto(spark, path, widen, "k", "ver", Seq("part"))
    val got = Warehouse.read(spark, path)
      .select("k", "payload", "score")
      .as[(Long, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", None), (2L, "b", None), (3L, "c2", Some(77L)),
      (4L, "d", None), (5L, "e", None)),
      "stored rows (untouched AND rewritten-partition) must read the new column as null")
    // narrowing attempt: a change batch WITHOUT `payload` must not
    // drop it — its winning row carries null there instead
    val narrow = Seq((4L, 12L, "d2", 88L)).toDF("k", "ver", "part", "score")
    Warehouse.mergeInto(spark, path, narrow, "k", "ver", Seq("part"))
    val after = Warehouse.read(spark, path)
      .select("k", "payload", "score")
      .as[(Long, Option[String], Option[Long])].collect().sortBy(_._1).toSeq
    assert(after.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(after(3) == ((4L, None, Some(88L))),
      s"the narrow change's winning row carries null payload: ${after(3)}")
    assert(after(2) == ((3L, Some("c2"), Some(77L))),
      "other rows keep their stored payload")
    // the scan schema over batches on either side of the widening:
    // names, types and order, current and time-travelled
    val shape = Seq("k" -> "LongType", "payload" -> "StringType",
      "ver" -> "LongType", "score" -> "LongType", "part" -> "StringType")
    assert(Warehouse.read(spark, path).dtypes.toSeq == shape)
    assert(Warehouse.readVersion(spark, path,
      Warehouse.currentVersion(spark, path)).dtypes.toSeq == shape)
  }

  test("change feed reads only moved partitions, suppresses identical rewrites, nulls pre-widening images") {
    val path = freshTable()
    val changes = Seq(
      (3L, "c2", 11L, "d2", 5L),  // update (newer version) + WIDENING: score is new
      (5L, "e", 10L, "d3", 6L),   // same version+payload as stored → change wins the
                                  // tie but only score differs across the widening
      (7L, "g", 11L, "d4", 7L))   // insert creating a new partition
      .toDF("k", "payload", "ver", "part", "score")
    Warehouse.mergeInto(spark, path, changes, "k", "ver", Seq("part"))
    val feed = Warehouse.changes(spark, path, 1L, 2L, "k")
    // physical claim: d1 never moved between the versions, so the
    // feed's plan must not read a single d1 file
    assert(feed.inputFiles.nonEmpty && feed.inputFiles.forall(!_.contains("part=d1")),
      s"feed must scan only moved partitions, read: ${feed.inputFiles.toSeq}")
    val got = feed.select("k", "change_type", "payload", "score")
      .as[(Long, String, String, Option[Long])].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      (3L, "update_postimage", "c2", Some(5L)),
      (3L, "update_preimage", "c", None),
      (5L, "update_postimage", "e", Some(6L)),
      (5L, "update_preimage", "e", None),
      (7L, "insert", "g", Some(7L))),
      s"got $got")
    // the no-op case: a second merge that loses every race (stale
    // versions) still commits a version whose rewritten partitions are
    // row-identical — the feed across it is EMPTY
    val stale = Seq((3L, "zzz", 1L, "d2", 99L))
      .toDF("k", "payload", "ver", "part", "score")
    Warehouse.mergeInto(spark, path, stale, "k", "ver", Seq("part"))
    assert(Warehouse.changes(spark, path, 2L, 3L, "k").count() == 0,
      "a merge that loses every race produces an empty feed")
  }

  test("change log fold law: replaying commits over the v1 snapshot reproduces the newest snapshot") {
    val path = freshTable()
    Warehouse.mergeInto(spark, path,
      Seq((3L, "c2", 11L, "d2"), (7L, "g", 11L, "d4")).toDF("k", "payload", "ver", "part"),
      "k", "ver", Seq("part"))
    Warehouse.mergeInto(spark, path,
      Seq((3L, "x", 12L, "d2", true), (1L, "a2", 12L, "d1", false))
        .toDF("k", "payload", "ver", "part", "is_del"),
      "k", "ver", Seq("part"), deleteCol = Some("is_del"))
    // fold: per commit in order, delete/update/insert against a map
    val log = Warehouse.changeLog(spark, path, "k")
      .select("commit_version", "change_type", "k", "payload")
      .as[(Long, String, Long, String)].collect()
      .sortBy(r => (r._1, r._3)).toSeq
    var state = Warehouse.readVersion(spark, path, 1L)
      .select("k", "payload").as[(Long, String)].collect().toMap
    log.foreach {
      case (_, "delete", k, _)           => state -= k
      case (_, "update_preimage", _, _)  => () // pre-images carry audit info only
      case (_, t, k, p) if t == "insert" || t == "update_postimage" => state += (k -> p)
      case other => fail(s"unexpected change row $other")
    }
    val newest = Warehouse.read(spark, path)
      .select("k", "payload").as[(Long, String)].collect().toMap
    assert(state == newest, s"folded $state != newest $newest")
  }

  test("compact carries the union schema across batches on either side of a widening merge") {
    val path = Files.createTempDirectory("graft_wh_s").toString + "/t"
    val base = ((1L to 200L).map(i => (i, s"p$i", 10L, "d1")) ++
      (201L to 400L).map(i => (i, s"p$i", 10L, "d2")))
      .toDF("k", "payload", "ver", "part")
    // cap records/file so BOTH the create batch and the merge's
    // rewrite land fragmented (AQE otherwise coalesces each to one
    // file and nothing would compact)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", 50L)
    try {
      Warehouse.create(spark, path, base, "part")
      // widening merge touches ONLY d2: its new batch carries `score`,
      // d1's create-batch files do not — so the compact below reads a
      // MIXED-schema dir set and must resolve the union, not a sampled
      // file's schema (which could silently drop `score` from the
      // rewrite — data loss)
      val widen = (201L to 400L).map(i => (i, s"w$i", 11L, "d2", i * 2))
        .toDF("k", "payload", "ver", "part", "score")
      Warehouse.mergeInto(spark, path, widen, "k", "ver", Seq("part"))
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val before = Warehouse.partitionStats(spark, path)
    assert(before.forall(_._3 > 1), s"both partitions must be fragmented: $before")
    assert(Warehouse.compact(spark, path, "k", targetBytes = 1L << 30) == 2)
    val got = Warehouse.read(spark, path).select("k", "payload", "score")
      .as[(Long, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(got.take(200) == (1L to 200L).map(i => (i, s"p$i", None)),
      "pre-widening rows read score as null after compaction")
    assert(got.drop(200) == (201L to 400L).map(i => (i, s"w$i", Some(i * 2))),
      "widened rows keep their score through compaction")
  }

  test("optimistic concurrency: a racing merge rebases onto the winner and lands the serialized outcome") {
    val path = freshTable()
    // the competing writer's commit fires INSIDE our merge's race
    // window (after our rewrite, before our commit) — the exact
    // interleaving the single-shot mergeInto surfaces as an error
    val competing = Seq((1L, "a9", 12L, "d1")).toDF("k", "payload", "ver", "part")
    val ours = Seq((3L, "c9", 12L, "d2")).toDF("k", "payload", "ver", "part")
    val attempts = Warehouse.mergeIntoCore(spark, path, ours,
      "k", "ver", Seq("part"), None, 3,
      attempt => () => if (attempt == 1)
        Warehouse.mergeInto(spark, path, competing, "k", "ver", Seq("part")))
    assert(attempts == 2, s"one rebase expected, used $attempts attempts")
    val got = Warehouse.read(spark, path)
      .select("k", "payload").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a9"), (2L, "b"), (3L, "c9"), (4L, "d"), (5L, "e")),
      "BOTH writers' updates must land — the serialized outcome")
    // history: v1 create, v2 the competing winner, v3 our rebased merge
    assert(Warehouse.readVersion(spark, path, 2L)
      .filter(col("k") === 3).select("payload").as[String].head() == "c",
      "the winner's snapshot predates our merge")
    // a writer that loses EVERY attempt surfaces the race after
    // maxAttempts instead of spinning
    intercept[IllegalStateException] {
      Warehouse.mergeIntoCore(spark, path, ours,
        "k", "ver", Seq("part"), None, 2,
        _ => () => Warehouse.mergeInto(spark, path, competing, "k", "ver", Seq("part")))
    }
  }

  test("a commit race fails loudly and leaves the committed version intact") {
    val path = freshTable()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the loser of a version race: both writers resolved version 1,
    // the winner has already published v2 when the loser commits
    val v1 = Warehouse.newestSnapshot(fs, path).get
    Warehouse.commit(fs, path, v1, Map("d9" -> "winner"))
    intercept[IllegalStateException] {
      Warehouse.commit(fs, path, v1, Map("d9" -> "loser"))
    }
    // the winner's manifest is untouched
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/_versions/v00000002")), "UTF-8")
    assert(content == "d9\twinner")
  }

  test("compact bin-packs fragmented partitions and leaves compact ones alone") {
    val path = Files.createTempDirectory("graft_wh_c").toString + "/t"
    // d1 fragmented (8-way shuffle before the write), d2 already one file
    val frag = (1L to 400L).map(i => (i, s"p$i", "d1")).toDF("k", "payload", "part")
      .repartition(8)
    val compactPart = Seq((1000L, "q", "d2")).toDF("k", "payload", "part")
    Warehouse.create(spark, path, frag.unionByName(compactPart.coalesce(1)), "part")
    val before = Warehouse.partitionStats(spark, path)
    val d1FilesBefore = before.find(_._1 == "part=d1").get._3
    assert(d1FilesBefore > 1, s"fixture must be fragmented, got $d1FilesBefore files")
    val d2Before = {
      val (pv, b, _, _) = before.find(_._1 == "part=d2").get
      fingerprint(s"$path/data/batch=$b/$pv")
    }
    val n = Warehouse.compact(spark, path, "k", targetBytes = 1L << 30)
    assert(n == 1, s"exactly the fragmented partition compacts, got $n")
    val after = Warehouse.partitionStats(spark, path)
    assert(after.find(_._1 == "part=d1").get._3 == 1,
      "fragmented partition must collapse to one file at a 1 GiB target")
    val (pv2, b2, _, _) = after.find(_._1 == "part=d2").get
    assert(fingerprint(s"$path/data/batch=$b2/$pv2") == d2Before,
      "already-compact partition must keep byte-identical files")
    val rows = Warehouse.read(spark, path)
      .select("k", "payload", "part").as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(rows == (1L to 400L).map(i => (i, s"p$i", "d1")) :+ ((1000L, "q", "d2")))
    // idempotence: nothing left to compact
    assert(Warehouse.compact(spark, path, "k", targetBytes = 1L << 30) == 0)
  }
}
