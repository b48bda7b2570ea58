package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.io.{CommitBlocked, CommitConflict, Warehouse}

/** The warehouse's one optimistic-concurrency path: every retrying
  * writer re-runs its attempt on a typed [[CommitConflict]] and on
  * nothing else. The merge core's per-attempt hook fires in the
  * rewrite-to-commit window, so each arm counts exactly which attempts
  * ran and what they threw.
  */
class WarehouseCommitRetrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String = {
    val path = Files.createTempDirectory("graft_retry").toString + "/t"
    Warehouse.create(spark, path,
      Seq((1L, "a", 10L, "d1"), (2L, "b", 10L, "d2"))
        .toDF("k", "payload", "ver", "part"), "part")
    path
  }

  private def ours = Seq((1L, "mine", 11L, "d1")).toDF("k", "payload", "ver", "part")

  private def mergeHooked(path: String, hook: Int => Unit): Int =
    Warehouse.mergeIntoCore(spark, path, ours, "k", "ver", Seq("part"), None,
      maxAttempts = 3, hookFor = attempt => () => hook(attempt))

  test("an error that only LOOKS like a lost race is not retried: it propagates after one attempt") {
    val path = freshTable()
    val seen = Seq.newBuilder[Int]
    val e = intercept[IllegalStateException] {
      mergeHooked(path, attempt => {
        seen += attempt
        throw new IllegalStateException(
          s"commit of version 2 at $path lost a race - retry the merge")
      })
    }
    assert(!e.isInstanceOf[CommitConflict])
    assert(seen.result() == Seq(1), "a message match must not buy a retry")
    assert(Warehouse.currentVersion(spark, path) == 1L)
  }

  test("CommitBlocked is never retried: a slot held by a crashed transaction fails the first attempt") {
    val path = freshTable()
    intercept[RuntimeException] {
      Warehouse.transactAppendHooked(spark,
        Seq(path -> Seq((3L, "c", 10L, "d1")).toDF("k", "payload", "ver", "part")),
        beforeFlip = () => throw new RuntimeException("crash before flip"))
    }
    val seen = Seq.newBuilder[Int]
    val blocked = intercept[CommitBlocked](mergeHooked(path, seen += _))
    assert(seen.result() == Seq(1), "a blocked slot must not be re-claimed")
    assert(blocked.marker.contains("/_txn/"), s"marker: ${blocked.marker}")
    assert(Warehouse.abortTransaction(spark, blocked.marker, Seq(path)))
    assert(mergeHooked(path, _ => ()) == 1)
  }

  test("exhaustion throws CommitConflict after exactly maxAttempts bodies, hooks numbered 1..N") {
    val path = freshTable()
    val seen = Seq.newBuilder[Int]
    intercept[CommitConflict] {
      mergeHooked(path, attempt => {
        seen += attempt
        // a competing writer wins every attempt's version slot
        Warehouse.mergeInto(spark, path,
          Seq((2L, s"theirs$attempt", 20L + attempt, "d2"))
            .toDF("k", "payload", "ver", "part"), "k", "ver", Seq("part")): Unit
      })
    }
    assert(seen.result() == Seq(1, 2, 3))
    // v1 create + the three winners; our merge never landed
    assert(Warehouse.currentVersion(spark, path) == 4L)
    val got = Warehouse.read(spark, path).select("k", "payload")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a"), (2L, "theirs3")))
    intercept[IllegalArgumentException] {
      Warehouse.mergeInto(spark, path, ours, "k", "ver", Seq("part"),
        maxAttempts = 0)
    }
  }
}
