package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Warehouse
import graft.sources.warehouse.WarehouseStreamSink

/** The native Structured Streaming sink
  * (`writeStream.format("graft-warehouse")`): end-to-end micro-batch
  * ingest through a real query, each write mode's commit path, and —
  * the point of the design — EXACTLY-ONCE application: a replayed
  * batch id is a no-op because the txn record rides the same atomic
  * manifest claim as the data, and every other writer's commit
  * carries the record forward.
  */
class WarehouseStreamSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(rows: Seq[(Long, String, Long, String)]): String = {
    val path = Files.createTempDirectory("graft_snk").toString + "/t"
    Warehouse.create(spark, path, rows.toDF("k", "name", "ver", "part"), "part")
    path
  }

  test("a real streaming query appends micro-batches through the sink exactly once") {
    val path = freshTable(Seq((1L, "base", 1L, "d1")))
    val ckpt = Files.createTempDirectory("graft_snk_ck").toString
    val mem = MemoryStream[(Long, String, Long, String)](spark)
    mem.addData((2L, "s1", 1L, "d1"), (3L, "s2", 1L, "d2"))
    val q = mem.toDF().toDF("k", "name", "ver", "part")
      .writeStream.format("graft-warehouse")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(path)
    q.awaitTermination()
    assert(Warehouse.read(spark, path).count() == 3)
    // restart from the SAME checkpoint with no new data: nothing re-applies
    val q2 = mem.toDF().toDF("k", "name", "ver", "part")
      .writeStream.format("graft-warehouse")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(path)
    q2.awaitTermination()
    assert(Warehouse.read(spark, path).count() == 3,
      "a restarted query must not re-apply committed batches")
  }

  test("an EMPTY Complete-mode batch cannot truncate the table; the sink skips and later batches apply") {
    // advisor r15 (medium): an empty aggregate micro-batch under
    // OutputMode.Complete used to commit an EMPTY static overwrite,
    // bricking the table (read/append/overwrite all then refuse) and
    // crash-looping the query. The overwrite path now refuses empty
    // batches with the typed EmptyBatchException and the sink
    // tolerates it — table state unchanged, cursor advances later.
    val path = freshTable(Seq((1L, "base", 1L, "d1")))
    val sink = new WarehouseStreamSink(path,
      Map("txnAppId" -> "appC"), OutputMode.Complete())
    val v0 = Warehouse.currentVersion(spark, path)
    sink.addBatch(0L,
      Seq.empty[(Long, String, Long, String)].toDF("k", "name", "ver", "part"))
    assert(Warehouse.currentVersion(spark, path) == v0,
      "an empty Complete batch must commit nothing")
    assert(Warehouse.read(spark, path).count() == 1,
      "the table must keep serving its rows")
    // the next non-empty Complete batch replaces the table normally
    sink.addBatch(1L,
      Seq((9L, "agg", 1L, "d1")).toDF("k", "name", "ver", "part"))
    assert(Warehouse.read(spark, path).select("k").as[Long].collect().toSeq
      == Seq(9L))
  }

  test("a replayed addBatch is a no-op; later batches still apply") {
    val path = freshTable(Seq((1L, "base", 1L, "d1")))
    val sink = new WarehouseStreamSink(path,
      Map("txnAppId" -> "appA"), OutputMode.Append())
    sink.addBatch(0L, Seq((2L, "b0", 1L, "d1")).toDF("k", "name", "ver", "part"))
    assert(Warehouse.read(spark, path).count() == 2)
    // crash-replay of batch 0: the txn record in the manifest stops it
    sink.addBatch(0L, Seq((2L, "b0", 1L, "d1")).toDF("k", "name", "ver", "part"))
    assert(Warehouse.read(spark, path).count() == 2, "replay must be a no-op")
    assert(Warehouse.lastTxn(spark, path, "appA").contains(0L))
    sink.addBatch(1L, Seq((3L, "b1", 1L, "d2")).toDF("k", "name", "ver", "part"))
    assert(Warehouse.read(spark, path).count() == 3)
    assert(Warehouse.lastTxn(spark, path, "appA").contains(1L))
  }

  test("txn records survive other writers' commits (carry-forward) and are per-app") {
    val path = freshTable(Seq((1L, "base", 1L, "d1")))
    val sinkA = new WarehouseStreamSink(path,
      Map("txnAppId" -> "appA"), OutputMode.Append())
    sinkA.addBatch(5L, Seq((2L, "a", 1L, "d1")).toDF("k", "name", "ver", "part"))
    // an unrelated writer commits: merge + compact
    Warehouse.mergeInto(spark, path,
      Seq((1L, "merged", 2L, "d1")).toDF("k", "name", "ver", "part"),
      "k", "ver", Seq("part"))
    Warehouse.compact(spark, path, "k", 1L << 26)
    assert(Warehouse.lastTxn(spark, path, "appA").contains(5L),
      "other commits must carry the txn record forward")
    // replay after the interleaved commits: still a no-op
    sinkA.addBatch(5L, Seq((2L, "a", 1L, "d1")).toDF("k", "name", "ver", "part"))
    assert(Warehouse.read(spark, path).count() == 2)
    // a different app is independent
    assert(Warehouse.lastTxn(spark, path, "appB").isEmpty)
    val sinkB = new WarehouseStreamSink(path,
      Map("txnAppId" -> "appB"), OutputMode.Append())
    sinkB.addBatch(0L, Seq((9L, "b", 1L, "d2")).toDF("k", "name", "ver", "part"))
    assert(Warehouse.read(spark, path).count() == 3)
    assert(Warehouse.lastTxn(spark, path, "appA").contains(5L))
  }

  test("delta mode upserts per micro-batch; maintenance cadence bounds the chains") {
    val path = freshTable(Seq((1L, "base", 1L, "d1"), (2L, "base", 1L, "d2")))
    val sink = new WarehouseStreamSink(path,
      Map("txnAppId" -> "appD", "mode" -> "delta",
        "keyCol" -> "k", "versionCol" -> "ver",
        "compactEvery" -> "3", "sortCol" -> "k"), OutputMode.Append())
    (0 to 5).foreach { b =>
      sink.addBatch(b.toLong,
        Seq((1L, s"upd$b", (b + 2).toLong, "d1"), (100L + b, "ins", 1L, "d1"))
          .toDF("k", "name", "ver", "part"))
    }
    val t = Warehouse.read(spark, path)
    assert(t.count() == 8) // 2 base + 6 inserts, key 1 upserted in place
    assert(t.filter(col("k") === 1L).select("name").as[String].head() == "upd5")
    // the cadence keeps chains bounded: no chain longer than compactEvery + 1
    val chains = Warehouse.partitionStats(spark, path).map(_._2)
    assert(chains.forall(_.split(",").length <= 4),
      s"maintenance must bound chains, got $chains")
  }

  test("merge mode takes the copy-on-write path; Complete output overwrites") {
    val path = freshTable(Seq((1L, "base", 1L, "d1"), (2L, "keep", 1L, "d2")))
    val sink = new WarehouseStreamSink(path,
      Map("txnAppId" -> "appM", "mode" -> "merge",
        "keyCol" -> "k", "versionCol" -> "ver"), OutputMode.Append())
    sink.addBatch(0L,
      Seq((1L, "cow", 2L, "d1")).toDF("k", "name", "ver", "part"))
    val t = Warehouse.read(spark, path)
    assert(t.count() == 2)
    assert(t.filter(col("k") === 1L).select("name").as[String].head() == "cow")
    assert(Warehouse.partitionStats(spark, path).forall(!_._2.contains(",")),
      "CoW merge must not leave chains")
    val sinkC = new WarehouseStreamSink(path,
      Map("txnAppId" -> "appC"), OutputMode.Complete())
    sinkC.addBatch(0L,
      Seq((7L, "only", 1L, "d9")).toDF("k", "name", "ver", "part"))
    assert(Warehouse.read(spark, path).select("k").as[Long].collect().toSeq == Seq(7L))
  }

  test("missing checkpoint/appId and bad modes fail loudly") {
    val path = freshTable(Seq((1L, "base", 1L, "d1")))
    intercept[IllegalArgumentException](
      new WarehouseStreamSink(path, Map.empty, OutputMode.Append()))
    intercept[IllegalArgumentException](
      new WarehouseStreamSink(path,
        Map("txnAppId" -> "x", "mode" -> "bogus"), OutputMode.Append()))
    val delta = new WarehouseStreamSink(path,
      Map("txnAppId" -> "x", "mode" -> "delta"), OutputMode.Append())
    intercept[IllegalArgumentException](
      delta.addBatch(0L, Seq((1L, "x", 1L, "d1")).toDF("k", "name", "ver", "part")))
  }
}
