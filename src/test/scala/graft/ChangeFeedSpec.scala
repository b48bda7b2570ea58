package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Warehouse
import graft.streaming.ChangeFeed

/** The streaming change-feed contracts st22 rides on: per-batch work
  * bounded by the page size (one commit per page at pageSize=1, in
  * commit order), the page fold reproducing the newest snapshot, and
  * the checkpointed version cursor resuming at the first unseen
  * commit across runs.
  */
class ChangeFeedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** create + 4 commits (2 CoW updates, 1 delta update, 1 delta
    * tombstone) over a 2-partition table.
    */
  private def build5CommitTable(): String = {
    val path = Files.createTempDirectory("graft_cf").toString + "/t"
    Warehouse.create(spark, path, Seq(
      (1L, "a", 10L, "d1"), (2L, "b", 10L, "d1"), (3L, "c", 10L, "d2"))
      .toDF("k", "payload", "ver", "part"), "part")
    Warehouse.mergeInto(spark, path,
      Seq((1L, "a2", 11L, "d1")).toDF("k", "payload", "ver", "part"),
      "k", "ver", Seq("part"))
    Warehouse.mergeInto(spark, path,
      Seq((4L, "d", 11L, "d2")).toDF("k", "payload", "ver", "part"),
      "k", "ver", Seq("part"))
    Warehouse.mergeIntoDelta(spark, path,
      Seq((2L, "b2", 12L, "d1")).toDF("k", "payload", "ver", "part"),
      "k", "ver", Seq("part"))
    Warehouse.mergeIntoDelta(spark, path,
      Seq((3L, "x", 12L, "d2", true)).toDF("k", "payload", "ver", "part", "is_del"),
      "k", "ver", Seq("part"), deleteCol = Some("is_del"))
    path
  }

  test("pageSize=1 delivers one commit per page, in commit order, skipping the create; folding the pages reproduces the newest snapshot") {
    val path = build5CommitTable()
    val pages = scala.collection.mutable.ArrayBuffer[(Seq[Long], Seq[(Long, String, String)])]()
    ChangeFeed.run(spark, path, "k", pageSize = 1) { (page, vs) =>
      pages += ((vs, page.select("k", "change_type", "payload")
        .as[(Long, String, String)].collect().toSeq))
    }
    assert(pages.map(_._1) == Seq(Seq(2L), Seq(3L), Seq(4L), Seq(5L)),
      s"one commit per page in order, got ${pages.map(_._1)}")
    // fold: initial snapshot (version 1) + pages in order = newest
    var state = Warehouse.readVersion(spark, path, 1L)
      .select("k", "payload").as[(Long, String)].collect().toMap
    pages.flatMap(_._2).foreach {
      case (k, "delete", _)           => state -= k
      case (_, "update_preimage", _)  => ()
      case (k, t, p) if t == "insert" || t == "update_postimage" => state += (k -> p)
      case other => fail(s"unexpected change row $other")
    }
    val newest = Warehouse.read(spark, path)
      .select("k", "payload").as[(Long, String)].collect().toMap
    assert(state == newest, s"folded $state != newest $newest")
  }

  test("a larger page bounds the batch, not the history") {
    val path = build5CommitTable()
    val pages = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    ChangeFeed.run(spark, path, "k", pageSize = 3)((_, vs) => pages += vs)
    assert(pages.forall(_.size <= 3), s"pages must hold <= 3 commits: $pages")
    assert(pages.flatten.toSeq == Seq(2L, 3L, 4L, 5L),
      s"every commit delivered exactly once, got $pages")
  }

  test("a durable checkpoint resumes at the first unseen commit") {
    val path = build5CommitTable()
    val ckpt = Files.createTempDirectory("graft_cf_ckpt").toString
    val first = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    ChangeFeed.run(spark, path, "k", pageSize = 2,
      checkpoint = Some(ckpt))((_, vs) => first += vs)
    assert(first.flatten.toSeq == Seq(2L, 3L, 4L, 5L))
    // two more commits land after the first drain
    Warehouse.mergeInto(spark, path,
      Seq((5L, "e", 13L, "d2")).toDF("k", "payload", "ver", "part"),
      "k", "ver", Seq("part"))
    Warehouse.mergeIntoDelta(spark, path,
      Seq((1L, "a3", 14L, "d1")).toDF("k", "payload", "ver", "part"),
      "k", "ver", Seq("part"))
    val second = scala.collection.mutable.ArrayBuffer[(Seq[Long], Seq[(Long, String)])]()
    ChangeFeed.run(spark, path, "k", pageSize = 2,
      checkpoint = Some(ckpt)) { (page, vs) =>
      second += ((vs, page.select("k", "change_type")
        .as[(Long, String)].collect().toSeq))
    }
    assert(second.flatMap(_._1).toSeq == Seq(6L, 7L),
      s"resume must deliver only the unseen commits, got ${second.map(_._1)}")
    val types = second.flatMap(_._2).sortBy(r => (r._1, r._2)).toSeq
    assert(types == Seq((1L, "update_postimage"), (1L, "update_preimage"),
      (5L, "insert")), s"got $types")
  }
}
