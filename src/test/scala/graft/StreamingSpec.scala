package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streaming

/** Harness-level streaming tests: the single-file glob workaround,
  * complete-mode aggregation, and append-mode watermark withholding —
  * the behaviors the oracle-checked st* queries depend on.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dataPath = {
    val dir = Files.createTempDirectory("graft_stream_fixture")
    val p = s"$dir/ticks.parquet"
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 10L),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00"), 20L),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 05:00:00"), 30L))
      .toDF("id", "ts", "v").coalesce(1).write.parquet(p)
    p
  }

  test("events.ts reads as TimestampType — the watermark-compatible type") {
    // the driver has regenerated events.parquet with BOTH physical
    // types across rounds: timestamp[ns] (read via nanosAsLong + an
    // explicit convert) and timestamp[us]/isAdjustedToUTC=false (which
    // Spark 4 would infer as TIMESTAMP_NTZ — a type every watermark
    // rejects — unless inferTimestampNTZ is disabled in Sessions).
    // Pin the contract at the table boundary so the next re-typing
    // fails here, not as six broken streaming queries at round open.
    val t = graft.engine.Tables.events(spark, "/root/testdata/sf0.001")
      .schema("ts").dataType
    assert(t == org.apache.spark.sql.types.TimestampType,
      s"events.ts must surface as TimestampType, got $t")
  }

  test("runAvailableNow drains a single-file path via the glob rewrite (complete mode)") {
    val out = Streaming.runAvailableNow(spark, dataPath, "complete") { df =>
      df.groupBy(window(col("ts"), "1 hour").as("w")).agg(sum("v").as("s"))
        .select(col("w.start").as("w_start"), col("s"))
    }
    val rows = out.orderBy("w_start").as[(java.sql.Timestamp, Long)].collect().toSeq
    assert(rows.map(_._2) == Seq(30L, 30L))
  }

  test("foreachBatch drains a streaming aggregate into a JDBC sink (Derby)") {
    val dbDir = Files.createTempDirectory("graft_derby_stream")
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", dbDir.toString)
    val url = s"jdbc:derby:$dbDir/streamdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")

    Streaming.runForeachBatch(spark, dataPath, "complete") { df =>
      df.groupBy().agg(count(lit(1)).as("n"), sum("v").as("total"))
    } { (batch, _) =>
      // complete mode + whole-table reload = idempotent refresh per batch
      graft.io.Sinks.load(Seq(graft.io.Sinks.Load(batch, "stream_agg",
        graft.io.Sinks.Scope.All)), url, props)
    }
    val got = spark.read.jdbc(url, "stream_agg", props)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((3L, 60L)))
  }

  test("restart from checkpoint delivers only unseen files, batch ids continue") {
    val dataDir = Files.createTempDirectory("graft_ckpt_src").toString + "/ticks.parquet"
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    Seq((1L, 10L), (2L, 20L), (1L, 30L)).toDF("user_id", "v")
      .coalesce(1).write.parquet(dataDir)

    // both runs write and re-read the checkpoint through the
    // fork-free local checkpoint manager the drain installs
    val managers = scala.collection.mutable.Set[Option[String]]()
    def runOnce(): (Seq[(Long, Long)], Seq[Long]) = {
      val rows = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      val batches = scala.collection.mutable.ArrayBuffer[Long]()
      Streaming.runForeachBatch(spark, dataDir, "append", Some(ckpt))(identity) {
        (batch, id) =>
          val got = batch.collect().map(r => (r.getLong(0), r.getLong(1)))
          synchronized {
            rows ++= got; batches += id
            managers += spark.conf.getOption(graft.streaming.LocalCheckpointFileManager.ConfKey)
          }
      }
      (rows.toSeq.sorted, batches.toSeq)
    }

    val (rows1, batches1) = runOnce()
    assert(rows1 == Seq((1L, 10L), (1L, 30L), (2L, 20L)))
    assert(batches1.contains(0L))

    // new data lands between runs; same checkpoint → only the new
    // file is delivered, and the batch counter resumes past run 1's
    Seq((3L, 40L), (1L, 50L)).toDF("user_id", "v")
      .coalesce(1).write.mode("append").parquet(dataDir)
    val (rows2, batches2) = runOnce()
    assert(rows2 == Seq((1L, 50L), (3L, 40L)), s"reprocessed seen files: $rows2")
    assert(batches2.nonEmpty && batches2.forall(_ > batches1.max),
      s"batch ids did not continue: $batches1 then $batches2")
    assert(managers == Set(Some(classOf[graft.streaming.LocalCheckpointFileManager].getName)),
      s"drains ran under $managers")
  }

  test("append mode withholds windows newer than the final watermark") {
    // watermark delay 1h; max ts = 05:00 → watermark 04:00: the
    // 00:00 window (end 01:00) emits, the 05:00 window (end 06:00)
    // is withheld as potentially still open
    val out = Streaming.runAvailableNow(spark, dataPath, "append") { df =>
      df.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w")).agg(sum("v").as("s"))
        .select(col("w.start").as("w_start"), col("s"))
    }
    val rows = out.as[(java.sql.Timestamp, Long)].collect().toSeq
    assert(rows == Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 30L)))
  }

  test("outer stream-stream join: unmatched rows emit on expiry, boundary rows are withheld") {
    // st12's state-expiry contract at the exact boundary the sf0.01
    // oracle cannot exercise (no testdata view sits precisely at
    // watermark − 10 min). Subtlety this fixture also pins: Catalyst
    // pushes the view/click filters BELOW the watermark collector, so
    // the watermark advances on view∪click rows ONLY — the 'other'
    // row at 06:00 (the globally latest event) must NOT move it.
    // Watermark delay 1h, join window 10 min → wm = 05:55 − 1h =
    // 04:55, expiry cutoff = 04:45:
    //  - view 00:00, click 00:05      → matched row emits
    //  - view 01:00, no click         → 01:10 < 04:55 proves expiry →
    //                                   (view, NULL) emits
    //  - view 04:45, no click         → 04:55 == watermark: NOT
    //                                   strictly past, withheld (the
    //                                   strict `<` the st12 oracle
    //                                   mirrors); would WRONGLY emit
    //                                   if the 06:00 'other' row
    //                                   advanced the watermark to 05:00
    //  - view 05:55, no click         → sets the watermark; withheld
    val dir = Files.createTempDirectory("graft_outer_join_fixture")
    val p = s"$dir/ev.parquet"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq(
      (1L, "view",  ts("2024-01-01 00:00:00"), 100L),
      (1L, "click", ts("2024-01-01 00:05:00"), 101L),
      (2L, "view",  ts("2024-01-01 01:00:00"), 200L),
      (3L, "view",  ts("2024-01-01 04:45:00"), 300L),
      (4L, "view",  ts("2024-01-01 05:55:00"), 400L),
      (5L, "other", ts("2024-01-01 06:00:00"), 500L))
      .toDF("user_id", "event_type", "ts", "event_id")
      .coalesce(1).write.parquet(p)
    val out = Streaming.runAvailableNow(spark, p, "append") { df =>
      val wm = df.withWatermark("ts", "1 hour")
      val views = wm.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      val clicks = wm.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      views.join(clicks,
        col("user_id") === col("c_user_id") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 10 MINUTES"),
        "left_outer")
        .select(col("user_id"), col("view_id"), col("click_id"))
    }
    val rows = out.orderBy("view_id")
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(rows == Seq((1L, 100L, Some(101L)), (2L, 200L, None)),
      s"got $rows — boundary/fresh views must stay withheld, expired view must null-emit")
  }

  test("streaming funnel advances across batches and never rebinds on late views") {
    // st18's cross-batch contract, both arms. Batch 1: user 1 views
    // @00:00 and clicks @00:10 (funnel at stage 2, held in state).
    // Batch 2 delivers (a) a purchase @00:30 — must bind to the
    // click ALREADY IN STATE from batch 1 (stage advance across
    // batches), and (b) an out-of-order EARLIER view @23:00 of the
    // previous day — must NOT rebind the funnel (stages only
    // advance; rebinding would require recomputing the click from
    // events the state no longer holds — the at-most-once-advance
    // trade the scaladoc pins).
    val dataDir = Files.createTempDirectory("graft_funnel_src").toString + "/ev.parquet"
    val ckpt = Files.createTempDirectory("graft_funnel_ckpt").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)

    def drain(): Map[Long, (Option[Long], Option[Long], Option[Long])] = {
      val rows = scala.collection.mutable.Map[Long, (Option[Long], Option[Long], Option[Long])]()
      Streaming.runForeachBatch(spark, dataDir, "update", Some(ckpt))(
        graft.streaming.Funnel.transform) { (batch, _) =>
        batch.collect().foreach { r =>
          def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
          synchronized { rows(r.getLong(0)) = (opt(1), opt(2), opt(3)) }
        }
      }
      rows.toMap
    }

    Seq(
      (1L, "view", ts("2024-01-02 00:00:00"), 10L),
      (1L, "click", ts("2024-01-02 00:10:00"), 11L))
      .toDF("user_id", "event_type", "ts", "event_id")
      .coalesce(1).write.parquet(dataDir)
    assert(drain() == Map(1L -> ((Some(10L), Some(11L), None))))

    Seq(
      (1L, "purchase", ts("2024-01-02 00:30:00"), 12L),
      (1L, "view", ts("2024-01-01 23:00:00"), 9L))
      .toDF("user_id", "event_type", "ts", "event_id")
      .coalesce(1).write.mode("append").parquet(dataDir)
    val second = drain()
    assert(second == Map(1L -> ((Some(10L), Some(11L), Some(12L)))),
      s"purchase must bind to the state-held click and the late view must not rebind: $second")
  }

  test("streaming funnel binds same-timestamp stages and in-batch disorder") {
    // The disorder bound the funnel contract promises (advisor r11 +
    // judge r12 ask), pinned exactly: WITHIN one micro-batch,
    // arbitrary arrival order — including a click whose ts TIES the
    // view's ts but whose event_id sorts it BEFORE the view — yields
    // the batch g29 answer, because each stage re-scans the whole
    // sorted slice (stage-priority bind) and the windows are
    // ts-inclusive. So streaming ≡ batch holds whenever each user's
    // funnel prefix is delivered batch-monotonically; only
    // CROSS-batch regressions (previous test) lose to advance-only.
    val dataDir = Files.createTempDirectory("graft_funnel_tie").toString + "/ev.parquet"
    val ckpt = Files.createTempDirectory("graft_funnel_tie_ck").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)

    def drain(): Map[Long, (Option[Long], Option[Long], Option[Long])] = {
      val rows = scala.collection.mutable.Map[Long, (Option[Long], Option[Long], Option[Long])]()
      Streaming.runForeachBatch(spark, dataDir, "update", Some(ckpt))(
        graft.streaming.Funnel.transform) { (batch, _) =>
        batch.collect().foreach { r =>
          def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
          synchronized { rows(r.getLong(0)) = (opt(1), opt(2), opt(3)) }
        }
      }
      rows.toMap
    }

    Seq(
      // user 1: click ties the view's ts with a SMALLER event_id (a
      // one-pass (ts, id) walk meets the click first and skips it —
      // the r11 divergence); the purchase also ties the click's ts
      (1L, "click", ts("2024-01-02 00:00:00"), 5L),
      (1L, "view", ts("2024-01-02 00:00:00"), 7L),
      (1L, "purchase", ts("2024-01-02 00:00:00"), 3L),
      // user 2: full funnel delivered in REVERSE event-time order
      // inside one batch — in-batch disorder must not matter
      (2L, "purchase", ts("2024-01-02 01:30:00"), 23L),
      (2L, "click", ts("2024-01-02 00:40:00"), 22L),
      (2L, "view", ts("2024-01-02 00:05:00"), 21L))
      .toDF("user_id", "event_type", "ts", "event_id")
      .coalesce(1).write.parquet(dataDir)
    val got = drain()
    assert(got == Map(
      1L -> ((Some(7L), Some(5L), Some(3L))),
      2L -> ((Some(21L), Some(22L), Some(23L)))),
      s"tie and in-batch-disorder arms must match the batch windows: $got")
  }

  test("dropDuplicatesWithinWatermark: in-window dup collapses, post-expiry dup re-emits") {
    // st17's bounded-state contract, both arms. Delay 1h. Batch 1
    // delivers id=1 @00:00 and id=99 @10:00 → watermark after the
    // batch = 09:00; id=1's dedup state (expiry 01:00) is swept,
    // id=99's (expiry 11:00) survives. Batch 2 redelivers both —
    // id=1 at a fresh ts 09:30 (not late) MUST re-emit (its state is
    // gone: the eviction that keeps state O(delay window), the whole
    // point of the operator), id=99 at its original ts MUST stay
    // collapsed (state still live). Plain dropDuplicates would
    // suppress both — and retain both keys forever.
    val dataDir = Files.createTempDirectory("graft_ddww_src").toString + "/ev.parquet"
    val ckpt = Files.createTempDirectory("graft_ddww_ckpt").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)

    def drain(): Seq[(Long, java.sql.Timestamp)] = {
      val rows = scala.collection.mutable.ArrayBuffer[(Long, java.sql.Timestamp)]()
      Streaming.runForeachBatch(spark, dataDir, "append", Some(ckpt)) { df =>
        df.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark("id")
      } { (batch, _) =>
        val got = batch.collect().map(r => (r.getLong(0), r.getTimestamp(1)))
        synchronized { rows ++= got }
      }
      rows.toSeq.sortBy(_._1)
    }

    Seq((1L, ts("2024-01-01 00:00:00")), (99L, ts("2024-01-01 10:00:00")))
      .toDF("id", "ts").coalesce(1).write.parquet(dataDir)
    val first = drain()
    assert(first.map(_._1) == Seq(1L, 99L), s"first delivery must emit both: $first")

    Seq((1L, ts("2024-01-01 09:30:00")), (99L, ts("2024-01-01 10:00:00")))
      .toDF("id", "ts").coalesce(1).write.mode("append").parquet(dataDir)
    val second = drain()
    assert(second == Seq((1L, ts("2024-01-01 09:30:00"))),
      s"post-expiry dup must re-emit and in-window dup must collapse, got $second")
  }
}
