package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.engine.Tables
import graft.io.Sinks
import graft.io.Sinks.{Load, Scope}
import graft.streaming.Streaming

/** Structured Streaming surface over the `events` table (SURVEY.md
  * §2.7 extension; the reference's cron-batch jobs are the degenerate
  * case of this). Every query here executes a REAL streaming query —
  * file source, micro-batch engine, state store — drained with
  * `Trigger.AvailableNow` (see [[graft.streaming.Streaming]]), then
  * hands the finished result to the driver's DuckDB oracle.
  *
  * Determinism: window starts are pure functions of event time (epoch
  * arithmetic on both engines); per-group sums use integer cents
  * (`floor(value*100 + 0.5)` — identical IEEE sequence in both
  * engines, order-independent integer accumulation). st3 exercises the
  * genuine watermark-driven append emission: only sessions whose end
  * precedes the final watermark (max event time − 1 h) are emitted,
  * and the oracle reproduces that cutoff.
  *
  * Scale notes: these plans are exactly what a 1000-executor cluster
  * runs on a Kafka topic — keyed state partitioned by the grouping
  * key, watermark bounding state size. The watermark is what makes
  * 100 TB/day sustainable: without it session/window state grows
  * unboundedly; with it, state is O(open windows).
  */
object StreamQueries {

  /** Integer-cents rendering of the double `value` column — the only
    * cross-engine-deterministic way to sum doubles.
    */
  private val centsSpark = floor(col("value") * 100 + 0.5).cast(LongType)
  private val centsSql = "CAST(floor(value * 100 + 0.5) AS BIGINT)"
  // NB: every oracle-side sum() over these must be wrapped in
  // CAST(... AS BIGINT): DuckDB widens sum(BIGINT) to HUGEINT, which
  // hash-mismatches Spark's LongType even when values are equal.

  val qs: Seq[Q] = Seq(

    // ST1 — tumbling 1-day event-time window per event type
    // (readStream → groupBy(window) → complete-mode drain).
    Q("st1_tumbling_day",
      (s, d) => Streaming.eventsStream(s, d, "complete") { df =>
        df.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(centsSpark).as("sum_cents"))
          .select(col("w.start").as("w_start"), col("event_type"),
            col("n"), col("sum_cents"))
      }.orderBy("w_start", "event_type"),
      Some(s"""SELECT make_timestamp(CAST(floor(epoch(ts) / 86400) * 86400 * 1000000 AS BIGINT)) AS w_start,
             |  event_type, count(*) AS n, CAST(sum($centsSql) AS BIGINT) AS sum_cents
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ST10 — STREAMING distinct count via the KMV sketch: daily
    // distinct users per event type. `countDistinct` is UNSUPPORTED
    // in a streaming aggregation (its state is unbounded — every seen
    // value); the mergeable bottom-k sketch is the streaming-native
    // answer, carrying exactly k longs of state per (window, type)
    // group across micro-batches, and because KMV is a pure function
    // of the value set it stays cell-level oracle-checkable even
    // through the streaming engine (same replay as g17/g18).
    Q("st10_stream_kmv_distinct",
      (s, d) => Streaming.eventsStream(s, d, "complete") { df =>
        df.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
          .agg(graft.operators.Sketches.kmvDistinct(
            graft.functions.TextFns.hash60Col(col("user_id").cast(StringType)),
            k = 64).as("est_users"))
          .select(col("w.start").as("w_start"), col("event_type"), col("est_users"))
      }.orderBy("w_start", "event_type"),
      Some("""WITH h AS (
             |  SELECT DISTINCT
             |    make_timestamp(CAST(floor(epoch(ts) / 86400) * 86400 * 1000000 AS BIGINT)) AS w_start,
             |    event_type,
             |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
             |  FROM events),
             |rk AS (SELECT w_start, event_type, hv,
             |         row_number() OVER (PARTITION BY w_start, event_type ORDER BY hv) AS rn
             |       FROM h),
             |k AS (SELECT w_start, event_type, count(*) AS nk, max(hv) AS hk
             |      FROM rk WHERE rn <= 64 GROUP BY 1, 2)
             |SELECT w_start, event_type,
             |  CASE WHEN nk < 64 THEN nk
             |       ELSE CAST(floor(63.0 * 1152921504606846976 / hk) AS BIGINT) END AS est_users
             |FROM k ORDER BY 1, 2""".stripMargin)),

    // ST2 — sliding window (1 day, 12 h slide): each event lands in 2
    // overlapping windows; state is per-(window), shuffled once on the
    // window key.
    Q("st2_sliding_day",
      (s, d) => Streaming.eventsStream(s, d, "complete") { df =>
        df.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day", "12 hours").as("w"))
          .agg(count(lit(1)).as("n"), sum(centsSpark).as("sum_cents"))
          .select(col("w.start").as("w_start"), col("n"), col("sum_cents"))
      }.orderBy("w_start"),
      Some(s"""SELECT make_timestamp(CAST((floor(epoch(ts) / 43200) - k) * 43200 * 1000000 AS BIGINT)) AS w_start,
             |  count(*) AS n, CAST(sum($centsSql) AS BIGINT) AS sum_cents
             |FROM events, unnest([0, 1]) AS t(k)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ST3 — per-user session windows (30 min gap) in APPEND mode with
    // a 1 h watermark: the stream emits a session only once the
    // watermark (max event time − 1 h, ms-truncated) passes its end —
    // the real late-data semantics, reproduced exactly by the oracle's
    // cutoff predicate.
    Q("st3_session_windows",
      (s, d) => Streaming.eventsStream(s, d, "append") { df =>
        df.withWatermark("ts", "1 hour")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"), col("sw.start").as("s_start"),
            col("sw.end").as("s_end"), col("n_events"))
      }.orderBy("user_id", "s_start"),
      // the running sum assigning session ids must order by the SAME
      // total order as the gap flag — ts alone ties under duplicate
      // timestamps and DuckDB's ROWS frame then accumulates in
      // arbitrary tie order, absorbing rows into the wrong session
      // (caught by the sf1 sweep, where replication duplicates ts)
      Some("""WITH l AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts,
             |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                     ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM l),
             |g AS (
             |  SELECT user_id, min(ts) AS s_start,
             |         max(ts) + INTERVAL 30 MINUTE AS s_end,
             |         count(*) AS n_events
             |  FROM s GROUP BY user_id, sid)
             |SELECT user_id, s_start, s_end, n_events FROM g
             |WHERE s_end < date_trunc('milliseconds', (SELECT max(ts) FROM events))
             |              - INTERVAL 1 HOUR
             |ORDER BY user_id, s_start""".stripMargin)),

    // ST6 — stream-stream interval join: views joined to the same
    // user's clicks within 10 minutes, watermarks on both sides
    // bounding join state (the production form of funnel/attribution
    // joins; state evicts once the watermark passes the interval).
    Q("st6_stream_stream_join",
      (s, d) => Streaming.eventsStream(s, d, "append") { df =>
        val wm = df.withWatermark("ts", "1 hour")
        val views = wm.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
        val clicks = wm.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts"))
        views.join(clicks,
          col("user_id") === col("c_user_id") &&
            col("click_ts") >= col("view_ts") &&
            col("click_ts") <= col("view_ts") + expr("INTERVAL 10 MINUTES"))
          .select(col("user_id"), col("view_id"), col("click_id"))
      }.orderBy("user_id", "view_id", "click_id"),
      Some("""SELECT v.user_id AS user_id, v.event_id AS view_id, c.event_id AS click_id
             |FROM events v JOIN events c ON v.user_id = c.user_id
             |  AND v.event_type = 'view' AND c.event_type = 'click'
             |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
             |ORDER BY v.user_id, view_id, click_id""".stripMargin)),

    // ST14 — streaming → JDBC warehouse refresh: a complete-mode
    // per-user aggregation drained through `foreachBatch` into Derby
    // with a whole-table reload (K2) — the idempotent-refresh loop the
    // runForeachBatch contract promises (every micro-batch rewrites
    // the target with the aggregation-so-far, so the final table is
    // the batch answer NO MATTER how the source split into
    // micro-batches, and a replayed batch is harmless). The query
    // returns the Derby table read back, so the oracle checks the
    // composed streaming→sink→scan round trip cell-for-cell, not just
    // the in-memory aggregation.
    Q("st14_stream_jdbc_refresh",
      (s, d) => {
        val props = new java.util.Properties()
        val url = "jdbc:derby:memory:graft_st14;create=true"
        graft.streaming.Streaming.runForeachBatch(s, s"$d/events.parquet",
          "complete") { df =>
          df.groupBy("user_id").agg(count(lit(1)).as("n_events"))
        } { (batch, _) =>
          Sinks.load(Seq(Load(batch, "st14_totals", Scope.All)), url, props)
        }
        s.read.jdbc(url, "st14_totals", props)
          .select(col("user_id"), col("n_events"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events FROM events
             |GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // ST15 — streaming CDC MERGE into the warehouse: the streaming
    // half of E2. The dimension table is seeded with the STALE
    // pre-Jan-21 latest-event-per-user snapshot (K2), then the
    // post-cutoff changes stream in and every micro-batch MERGES:
    // per-key latest of the batch → J2/J3 mergeSplit against the live
    // warehouse (key, version) snapshot → one keyed load (K5 + K1)
    // that replaces the newer versions and inserts unseen keys in one
    // transaction. st14 is the whole-table refresh; this is the
    // incremental-merge sibling — per-batch sink work scales with the
    // batch's keys, not the dimension. The version is epoch-micros
    // (BIGINT end to end, so the Derby round trip and the compare are
    // exact), ties inside a batch resolve by the (ts, event_id) struct
    // argmax — the same total order the oracle replays. End state = latest event per
    // user over ALL events: pre-only users survive from the seed,
    // changed users update (a post-cutoff version is always strictly
    // newer), new users insert — checked cell-for-cell through the
    // full streaming→merge→scan round trip.
    Q("st15_stream_cdc_merge",
      (s, d) => {
        val props = new java.util.Properties()
        val url = "jdbc:derby:memory:graft_st15;create=true"
        val table = "st15_dim"
        val cutoff = lit("2024-01-21 00:00:00").cast("timestamp")
        def latest(df: org.apache.spark.sql.DataFrame) = df
          .groupBy("user_id")
          .agg(max(struct(col("ts_us"), col("event_id"), col("value"))).as("m"))
          .select(col("user_id"), col("m.ts_us").as("ts_us"),
            col("m.event_id").as("last_event_id"),
            col("m.value").as("last_value"))
        val pre = Tables.events(s, d).filter(col("ts") < cutoff)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"), col("value"))
        Sinks.load(Seq(Load(latest(pre), table, Scope.All)), url, props)
        graft.streaming.Streaming.runForeachBatch(s, s"$d/events.parquet",
          "append") { raw =>
          val withTs =
            if (raw.schema("ts").dataType == LongType)
              raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
            else raw
          withTs.filter(col("ts") >= cutoff)
            .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
              col("event_id"), col("value"))
        } { (batch, _) =>
          val delta = latest(batch)
          val snap = s.read.jdbc(url, table, props)
            .select(col("user_id"), col("ts_us"))
          val split = graft.operators.Cdc.mergeSplit(delta, snap,
            "user_id", "ts_us")
          Sinks.load(Seq(Load(split.updates.unionByName(split.inserts), table,
            Scope.Keys("user_id"))), url, props)
        }
        s.read.jdbc(url, table, props)
          .select(col("user_id"), col("last_event_id"), col("ts_us"),
            col("last_value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, event_id AS last_event_id,
             |  epoch_us(ts) AS ts_us, value AS last_value
             |FROM (SELECT user_id, event_id, ts, value,
             |        row_number() OVER (PARTITION BY user_id
             |          ORDER BY ts DESC, event_id DESC) AS rn
             |      FROM events)
             |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // ST12 — stream-stream LEFT OUTER interval join: st6's funnel
    // join plus the unmatched-view arm. Matched rows emit as they
    // form; an unmatched view emits (view, NULL) only once the
    // watermark proves no qualifying click can still arrive
    // (view_ts + 10 min strictly before the final watermark) — the
    // state-expiry contract that keeps outer streaming-join state
    // bounded. Views too new for that proof stay withheld at drain,
    // so the oracle applies the same cutoff to its unmatched arm.
    // Null click ids sort FIRST on both engines (Spark ASC default;
    // DuckDB pinned explicitly). Watermark subtlety (caught by an
    // sf0.1 cross-check, one row off): Catalyst pushes the view/click
    // filters BELOW the EventTimeWatermark collector, so the
    // watermark advances on the max ts of the view∪click rows only —
    // an 'other'-typed event with the globally latest ts does NOT
    // move it. The oracle's cutoff mirrors that filtered max.
    Q("st12_stream_outer_join",
      (s, d) => Streaming.eventsStream(s, d, "append") { df =>
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
      }.orderBy("user_id", "view_id", "click_id"),
      Some("""WITH wm AS (
             |  SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 1 HOUR AS w
             |  FROM events WHERE event_type IN ('view', 'click')),
             |v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
             |      FROM events WHERE event_type = 'view'),
             |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
             |      FROM events WHERE event_type = 'click'),
             |j AS (SELECT v.user_id, v.view_id, v.view_ts, c.click_id
             |      FROM v LEFT JOIN c ON v.user_id = c.user_id
             |        AND c.click_ts >= v.view_ts
             |        AND c.click_ts <= v.view_ts + INTERVAL 10 MINUTE)
             |SELECT user_id, view_id, click_id FROM j, wm
             |WHERE click_id IS NOT NULL
             |   OR view_ts + INTERVAL 10 MINUTE < w
             |ORDER BY user_id, view_id, click_id NULLS FIRST""".stripMargin)),

    // ST7 — stream-static enrichment: the event stream joins a STATIC
    // per-user profile frame (computed batch-side); the streaming
    // side needs no state — the standard dimension-enrichment shape.
    // Stream-static semantics RE-EXECUTE the static subtree every
    // micro-batch (it is re-planned per batch to pick up source
    // changes) — harmless for one AvailableNow batch, but a
    // multi-batch backlog drain would re-aggregate the full events
    // table per batch. So the profile is persisted and FORCED once up
    // front; every micro-batch then rejoins the materialized frame
    // (the production shape for an expensive dimension), and the pin
    // drops after the drain.
    Q("st7_stream_static_join",
      (s, d) => {
        val profile = graft.engine.Tables.events(s, d)
          .groupBy("user_id")
          .agg(count(lit(1)).as("user_events"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        profile.count()
        try Streaming.eventsStream(s, d, "append") { df =>
          df.filter(col("event_type") === "purchase")
            .select("event_id", "user_id")
            .join(profile, Seq("user_id"))
        }.orderBy("event_id")
        finally profile.unpersist()
      },
      Some("""WITH profile AS (
             |  SELECT user_id, count(*) AS user_events FROM events GROUP BY 1)
             |SELECT e.user_id, e.event_id, p.user_events
             |FROM events e JOIN profile p USING (user_id)
             |WHERE e.event_type = 'purchase'
             |ORDER BY e.event_id""".stripMargin)),

    // ST20 — streaming POINT-IN-TIME enrichment: each click in the
    // stream binds to the SCD2 purchase-dimension version valid AT
    // ITS EVENT TIME (valid_from <= ts < valid_to) — the streaming
    // half of the j14/j15/j16 SCD2 family, and the shape every
    // feature-serving pipeline needs (enrich a live stream with the
    // dimension as-of the event, not as-of processing time, so a
    // backlog replay produces identical features). The dim is built
    // batch-side, persisted and FORCED once (the st7 contract: no
    // per-micro-batch re-aggregation); the stream side carries no
    // state — the interval predicate rides the stream-static join.
    // Oracle = the naive interval join, independent algebra.
    Q("st20_stream_pit_enrich",
      (s, d) => {
        val e = graft.engine.Tables.events(s, d)
        val dim = graft.operators.Relational.scd2(
            e.filter(col("event_type") === "purchase")
              .select(col("user_id"), col("ts"),
                col("event_id").as("version_id")),
            keys = Seq("user_id"), tsCol = "ts", tieCol = "version_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        dim.count()
        try Streaming.eventsStream(s, d, "append") { df =>
          df.filter(col("event_type") === "click")
            .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
              col("event_id").as("click_id"))
            .join(dim, col("c_user") === col("user_id") &&
              col("valid_from") <= col("c_ts") &&
              (col("valid_to").isNull || col("c_ts") < col("valid_to")))
            .select(col("click_id"), col("c_user").as("user_id"),
              col("version_id"))
        }.orderBy("click_id")
        finally dim.unpersist()
      },
      Some("""WITH dim AS (
             |  SELECT user_id, event_id AS version_id, ts AS valid_from,
             |    lead(ts) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
             |  FROM events WHERE event_type = 'purchase'),
             |f AS (
             |  SELECT event_id AS click_id, user_id, ts
             |  FROM events WHERE event_type = 'click')
             |SELECT f.click_id, f.user_id, d.version_id
             |FROM f JOIN dim d ON f.user_id = d.user_id
             |  AND d.valid_from <= f.ts
             |  AND (d.valid_to IS NULL OR f.ts < d.valid_to)
             |ORDER BY click_id""".stripMargin)),

    // ST5 — streaming dedup: dropDuplicates over the key pair inside
    // the stream (keyed state store holds seen keys; with a watermark
    // + event-time key this is the bounded-state production form).
    Q("st5_stream_distinct",
      (s, d) => Streaming.eventsStream(s, d, "append") { df =>
        df.select("user_id", "event_type").dropDuplicates("user_id", "event_type")
      }.orderBy("user_id", "event_type"),
      Some("""SELECT DISTINCT user_id, event_type FROM events
             |ORDER BY user_id, event_type""".stripMargin)),

    // ST4 — custom keyed state via flatMapGroupsWithState: per-user
    // running (count, cents-sum, id range). The state fold is
    // order-independent (integer adds, min/max), so the single
    // AvailableNow batch emits the same totals any shard order would.
    Q("st4_stateful_user_totals",
      (s, d) => {
        import s.implicits._
        Streaming.eventsStream(s, d, "update") { df =>
          val typed = df.select(col("user_id"), col("event_id"), centsSpark.as("cents"))
            .as[(Long, Long, Long)]
          typed.groupByKey(_._1)
            .flatMapGroupsWithState[(Long, Long, Long, Long), (Long, Long, Long, Long, Long)](
              OutputMode.Update, GroupStateTimeout.NoTimeout) {
              (user: Long, rows: Iterator[(Long, Long, Long)],
               state: GroupState[(Long, Long, Long, Long)]) =>
                val (n0, c0, lo0, hi0) =
                  state.getOption.getOrElse((0L, 0L, Long.MaxValue, Long.MinValue))
                var (n, c, lo, hi) = (n0, c0, lo0, hi0)
                rows.foreach { case (_, id, cents) =>
                  n += 1; c += cents; lo = math.min(lo, id); hi = math.max(hi, id)
                }
                state.update((n, c, lo, hi))
                Iterator((user, n, c, lo, hi))
            }
            .toDF("user_id", "n_events", "sum_cents", "min_event_id", "max_event_id")
        }.orderBy("user_id")
      },
      Some(s"""SELECT user_id, count(*) AS n_events, CAST(sum($centsSql) AS BIGINT) AS sum_cents,
             |  min(event_id) AS min_event_id, max(event_id) AS max_event_id
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ST11 — STREAMING grouped top-k: the 5 highest-value events per
    // type, maintained across micro-batches by the same bounded
    // k-heap aggregate as the batch/ANN paths ([[TopK.TopKAgg]] —
    // mergeable, so partial per-batch heaps fold into the state store
    // buffer). A `row_number` window is impossible in streaming (no
    // global sort over an unbounded stream) and collecting per-group
    // candidates would grow state without bound; the heap carries
    // exactly k (id, score) slots per group forever. The heap lives
    // INSIDE the streaming aggregation; the rank explode runs on the
    // drained result.
    Q("st11_stream_grouped_topk",
      (s, d) => {
        val agg = org.apache.spark.sql.functions.udaf(
          new graft.operators.TopK.TopKAgg(5),
          org.apache.spark.sql.Encoders.product[graft.operators.TopK.Scored])
        Streaming.eventsStream(s, d, "complete") { df =>
          df.filter(col("value").isNotNull && !isnan(col("value")))
            .groupBy("event_type")
            .agg(agg(col("event_id"), col("value")).as("tk"))
        }
          .select(col("event_type"),
            posexplode(col("tk.ids")).as(Seq("pos", "event_id")),
            col("tk.scores").as("_s"))
          .select(col("event_type"), (col("pos") + 1).as("rn"),
            col("event_id"),
            element_at(col("_s"), col("pos") + 1).as("value"))
          .orderBy("event_type", "rn")
      },
      Some("""SELECT event_type, rn, event_id, value FROM (
             |  SELECT event_type, event_id, value,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY value DESC, event_id) AS rn
             |  FROM events
             |  WHERE value IS NOT NULL AND NOT isnan(value))
             |WHERE rn <= 5 ORDER BY event_type, rn""".stripMargin)),

    // ST16 — STREAMING sample-quantile: daily median event value per
    // type over an unbounded stream. An exact streaming median is
    // impossible (state = every value seen); the g24 deterministic
    // hash-bottom-64 sample IS streamable because it is a bounded
    // mergeable heap — and the sampled VALUE rides the heap in a
    // packed score (t13's trick: 36-bit event hash × 2^16 + cents,
    // 52 bits, exact in the double mantissa; cents ≤ 65535 by the
    // packing guard, mirrored in the oracle), so the streaming state
    // is exactly 64 (id, score) slots per (day, type) group forever
    // and the drained sample needs NO join back to the stream. The
    // heap's (score desc, id asc) tie rule makes the sample a pure
    // function of the event set — cell-level oracle-checkable where
    // t-digest/GK streaming quantiles are not.
    Q("st16_stream_sample_median",
      (s, d) => {
        val agg = org.apache.spark.sql.functions.udaf(
          new graft.operators.TopK.TopKAgg(64),
          org.apache.spark.sql.Encoders.product[graft.operators.TopK.Scored])
        val drained = Streaming.eventsStream(s, d, "complete") { df =>
          val h36 = conv(substring(md5(col("event_id").cast(StringType)), 1, 9),
            16, 10).cast(LongType)
          df.filter(col("value").isNotNull && !isnan(col("value")))
            .select(col("ts"), col("event_type"), col("event_id"),
              centsSpark.as("cents"), h36.as("hv"))
            .filter(col("cents") <= 65535L)
            .withColumn("score",
              (-(col("hv") * 65536L + col("cents"))).cast(DoubleType))
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
            .agg(agg(col("event_id"), col("score")).as("tk"))
        }
        // post-drain: unpack cents from the heap scores and take the
        // lower-median of each group's ≤ 64 sampled values (batch-side
        // windows over the tiny drained sample)
        val sample = drained
          .select(col("w.start").as("w_start"), col("event_type"),
            posexplode(col("tk.ids")).as(Seq("pos", "event_id")),
            col("tk.scores").as("_s"))
          .select(col("w_start"), col("event_type"), col("event_id"),
            pmod((-element_at(col("_s"), col("pos") + 1)).cast(LongType),
              lit(65536L)).as("cents"))
        val wv = org.apache.spark.sql.expressions.Window
          .partitionBy("w_start", "event_type")
          .orderBy(col("cents"), col("event_id"))
        val wn = org.apache.spark.sql.expressions.Window
          .partitionBy("w_start", "event_type")
        sample
          .withColumn("vrn", row_number().over(wv))
          .withColumn("n", count(lit(1)).over(wn))
          .filter(col("vrn") === floor((col("n") + 1) / 2).cast(IntegerType))
          .select(col("w_start"), col("event_type"),
            col("n").as("sample_n"), col("cents").as("est_median_cents"))
          .orderBy("w_start", "event_type")
      },
      Some(s"""WITH hh AS (
             |  SELECT make_timestamp(CAST(floor(epoch(ts) / 86400) * 86400 * 1000000 AS BIGINT)) AS w_start,
             |    event_type, event_id,
             |    $centsSql AS cents,
             |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 9)) AS BIGINT) AS hv
             |  FROM events
             |  WHERE value IS NOT NULL AND NOT isnan(value)),
             |h2 AS (SELECT * FROM hh WHERE cents <= 65535),
             |smp AS (SELECT w_start, event_type, event_id, cents FROM (
             |    SELECT w_start, event_type, event_id, cents,
             |      row_number() OVER (PARTITION BY w_start, event_type
             |        ORDER BY hv * 65536 + cents, event_id) AS srn
             |    FROM h2) WHERE srn <= 64),
             |r AS (SELECT w_start, event_type, cents,
             |        row_number() OVER (PARTITION BY w_start, event_type
             |          ORDER BY cents, event_id) AS vrn,
             |        count(*) OVER (PARTITION BY w_start, event_type) AS n
             |      FROM smp)
             |SELECT w_start, event_type, CAST(n AS BIGINT) AS sample_n,
             |  cents AS est_median_cents
             |FROM r WHERE vrn = (n + 1) // 2
             |ORDER BY 1, 2""".stripMargin)),

    // ST18 — STREAMING funnel (the CEP pattern-detection shape):
    // g29's view → click ≤ 1 h → purchase ≤ 1 h chain as keyed
    // state in flatMapGroupsWithState — per-user state is THREE
    // (ts, id) slots forever, advancing monotonically as stages
    // match. Contract: stages only ADVANCE (an out-of-order view
    // arriving after a click was already bound does not rebind —
    // the at-most-once-advance trade every streaming CEP engine
    // makes); under batch-granularity event-time order — including
    // this harness's AvailableNow drain, where each user's batch
    // slice gets a stage-priority bind over its sorted rows — the
    // result equals the batch g29 EXACTLY, which is why the two
    // share one oracle (the v4/v8 pattern). Timestamps compared in
    // epoch MICROS (getTime is millis and would blur the ±1 h window
    // boundaries the oracle computes at full precision).
    Q("st18_stream_funnel",
      (s, d) => {
        import s.implicits._
        val out = Streaming.eventsStream(s, d, "update")(
            graft.streaming.Funnel.transform)
          .withColumn("funnel_depth",
            when(col("view_id").isNull, lit(0))
              .otherwise(lit(1) +
                when(col("click_id").isNull, 0).otherwise(1) +
                when(col("purchase_id").isNull, 0).otherwise(1)))
        // update mode emits one row per TOUCHED user PER MICRO-BATCH
        // into the memory sink, so a multi-batch drain (source split
        // across listings, maxFilesPerTrigger) leaves stale earlier
        // snapshots alongside the final one. Depth only advances and
        // each id binds at most once, so the max (depth, ids) struct
        // per user IS the final state — collapse instead of assuming
        // a single-batch drain (advisor r11).
        out.groupBy("user_id")
          .agg(max(struct(col("funnel_depth"), col("view_id"),
            col("click_id"), col("purchase_id"))).as("m"))
          .select(col("user_id"),
            col("m.view_id").as("view_id"),
            col("m.click_id").as("click_id"),
            col("m.purchase_id").as("purchase_id"),
            col("m.funnel_depth").as("funnel_depth"))
          .orderBy("user_id")
      },
      Some(AggQueries.funnelOracle)),

    // ST17 — at-least-once DELIVERY dedup with WATERMARK-BOUNDED
    // state. st5's plain dropDuplicates keeps every key it has EVER
    // seen — state grows with the stream and a 100 TB/day topic kills
    // it; `dropDuplicatesWithinWatermark` is the production form:
    // each key's state carries an expiry of event-time + delay, and
    // the watermark sweep evicts it, so state is O(events per delay
    // window), not O(stream). The duplicate-delivery guarantee this
    // trades away — redeliveries SEPARATED by more than the delay may
    // re-emit — is exactly the at-least-once broker contract
    // (redeliveries are near-immediate), and StreamingSpec pins both
    // arms (in-window dup collapsed, post-expiry dup re-emitted).
    // Here every event arrives twice in-batch (a map-only explode
    // simulating broker redelivery — same ts, so always in-window);
    // the drained output must be exactly the original events, which
    // is what the oracle checks. Dedup keys on event_id: state is one
    // (id, expiry) slot per event in the delay window.
    Q("st17_stream_delivery_dedup",
      (s, d) => Streaming.eventsStream(s, d, "append") { df =>
        df.select(col("ts"), col("event_id"), col("user_id"), col("event_type"),
            explode(array(lit(1), lit(2))).as("attempt"))
          .drop("attempt")
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
      }.orderBy("event_id"),
      Some("""SELECT ts, event_id, user_id, event_type FROM events
             |ORDER BY event_id""".stripMargin)),

    // ST19 — streaming CDC MERGE into the FILE warehouse: st15's
    // composition with the JDBC dimension swapped for the
    // copy-on-write parquet table (io.Warehouse) — the shape a
    // 100 TB lakehouse actually runs (Delta/Iceberg-style MERGE fed
    // by a stream, here over our own manifest). The dimension is
    // keyed by user and partitioned by a STABLE user bucket
    // (user_id % 8 — the key→partition-immutable contract), seeded
    // with the stale pre-cutoff latest-per-user snapshot; post-cutoff
    // changes stream in and every micro-batch folds its per-key
    // latest through Warehouse.mergeInto — per-batch I/O = the
    // touched buckets only, each commit one atomic version flip, so
    // a reader mid-stream always sees a consistent snapshot. End
    // state = latest event per user over ALL events, checked through
    // the full streaming → merge → manifest → scan round trip.
    Q("st19_stream_file_merge",
      (s, d) => {
        val cutoff = lit("2024-01-21 00:00:00").cast("timestamp")
        def latest(df: org.apache.spark.sql.DataFrame) = df
          .groupBy("user_id")
          .agg(max(struct(col("ts_us"), col("event_id"), col("value"))).as("m"))
          .select(col("user_id"), col("m.ts_us").as("ts_us"),
            col("m.event_id").as("last_event_id"),
            col("m.value").as("last_value"),
            // int, matching what partition-dir inference reads back —
            // the change and stored sides of the merge must agree
            pmod(col("user_id"), lit(8L)).cast(IntegerType).as("bucket"))
        val path = graft.engine.TempArtifacts.getOrBuild(s"$d#st19wh", "graft_st19wh") { p =>
          val pre = Tables.events(s, d).filter(col("ts") < cutoff)
            .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
              col("event_id"), col("value"))
          graft.io.Warehouse.create(s, p, latest(pre), "bucket")
          Streaming.runForeachBatch(s, s"$d/events.parquet", "append") { raw =>
            val withTs =
              if (raw.schema("ts").dataType == LongType)
                raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
              else raw
            withTs.filter(col("ts") >= cutoff)
              .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
                col("event_id"), col("value"))
          } { (batch, _) =>
            graft.io.Warehouse.mergeInto(s, p, latest(batch),
              "user_id", "ts_us", Seq("bucket"))
            // AUTO-MAINTENANCE: a streaming merge lands one batch dir
            // per micro-batch, so the table fragments at the trigger
            // cadence; folding every 4th commit keeps file count (and
            // any future delta chains) bounded without a separate
            // scheduler — compaction never changes a visible row, so
            // the end-state oracle is unaffected (WarehouseDeltaSpec
            // pins the bounded-file-count claim under this cadence)
            graft.io.Warehouse.maintain(s, p, "user_id",
              targetBytes = 64L << 20, everyNCommits = 4): Unit
          }
        }
        graft.io.Warehouse.read(s, path)
          .select(col("user_id"), col("last_event_id"), col("ts_us"),
            col("last_value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, event_id AS last_event_id,
             |  epoch_us(ts) AS ts_us, value AS last_value
             |FROM (SELECT user_id, event_id, ts, value,
             |        row_number() OVER (PARTITION BY user_id
             |          ORDER BY ts DESC, event_id DESC) AS rn
             |      FROM events)
             |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // ST21 — streaming MERGE-ON-READ ingest: st19 with the
    // copy-on-write micro-batch merge swapped for mergeIntoDelta —
    // the write path a high-frequency trigger actually wants. st19
    // rewrites every touched bucket per micro-batch (write cost ∝
    // partition size × trigger rate); here each micro-batch APPENDS
    // its per-key latest as an O(batch)-byte delta with ZERO shuffle
    // on the write side, the manifest chains grow one link per
    // commit, and the cadenced maintain() folds the chains back to a
    // pure base every 3rd commit (bounded read-side fold debt — the
    // WarehouseDeltaSpec cadence arm). Equal-version ties resolve by
    // chain position exactly as CoW's change-beats-stored, so the
    // two write paths provably serve the same end state — this query
    // and st19 SHARE the oracle. The final read folds whatever
    // chains remain, so the oracle checks the full streaming →
    // delta-append → fold/compact → scan round trip.
    Q("st21_stream_delta_merge",
      (s, d) => {
        val cutoff = lit("2024-01-21 00:00:00").cast("timestamp")
        def latest(df: org.apache.spark.sql.DataFrame) = df
          .groupBy("user_id")
          .agg(max(struct(col("ts_us"), col("event_id"), col("value"))).as("m"))
          .select(col("user_id"), col("m.ts_us").as("ts_us"),
            col("m.event_id").as("last_event_id"),
            col("m.value").as("last_value"),
            pmod(col("user_id"), lit(8L)).cast(IntegerType).as("bucket"))
        val path = graft.engine.TempArtifacts.getOrBuild(s"$d#st21wh", "graft_st21wh") { p =>
          val pre = Tables.events(s, d).filter(col("ts") < cutoff)
            .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
              col("event_id"), col("value"))
          graft.io.Warehouse.create(s, p, latest(pre), "bucket")
          Streaming.runForeachBatch(s, s"$d/events.parquet", "append") { raw =>
            val withTs =
              if (raw.schema("ts").dataType == LongType)
                raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
              else raw
            withTs.filter(col("ts") >= cutoff)
              .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
                col("event_id"), col("value"))
          } { (batch, _) =>
            graft.io.Warehouse.mergeIntoDelta(s, p, latest(batch),
              "user_id", "ts_us", Seq("bucket"))
            graft.io.Warehouse.maintain(s, p, "user_id",
              targetBytes = 64L << 20, everyNCommits = 3): Unit
          }
        }
        graft.io.Warehouse.read(s, path)
          .select(col("user_id"), col("last_event_id"), col("ts_us"),
            col("last_value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, event_id AS last_event_id,
             |  epoch_us(ts) AS ts_us, value AS last_value
             |FROM (SELECT user_id, event_id, ts, value,
             |        row_number() OVER (PARTITION BY user_id
             |          ORDER BY ts DESC, event_id DESC) AS rn
             |      FROM events)
             |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // ST23 — the NATIVE streaming sink: st19/st21's ingest shape with
    // no hand-written foreachBatch at all —
    // `writeStream.format("graft-warehouse")` drains post-cutoff
    // events into the pre-cutoff table as blind '+' append-link
    // commits (O(batch) bytes, zero shuffle per trigger), with the
    // maintenance cadence riding the sink options. EXACTLY-ONCE is
    // the sink's own contract, not foreachBatch discipline: each
    // commit embeds a #txn (appId, batchId) record in the manifest
    // under the same atomic claim as the data, so a replayed
    // micro-batch self-skips (WarehouseStreamSinkSpec pins replay,
    // carry-forward across interleaved writers, and restart). The
    // oracle replays the complete events set — green only if every
    // streamed row landed exactly once.
    Q("st23_stream_sink_ingest",
      (s, d) => {
        val cutoff = lit("2024-01-21 00:00:00").cast("timestamp")
        val path = graft.engine.TempArtifacts.getOrBuild(s"$d#st23wh", "graft_st23wh") { p =>
          val pre = Tables.events(s, d).filter(col("ts") < cutoff)
            .select(col("event_id"), col("user_id"), col("event_type"),
              unix_micros(col("ts")).as("ts_us"),
              pmod(col("user_id"), lit(8L)).cast(IntegerType).as("bucket"))
          graft.io.Warehouse.create(s, p, pre, "bucket")
          Streaming.runToSink(s, s"$d/events.parquet", "graft-warehouse", p,
            Map("mode" -> "append", "txnAppId" -> "st23",
              "compactEvery" -> "4", "sortCol" -> "event_id")) { raw =>
            val withTs =
              if (raw.schema("ts").dataType == LongType)
                raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
              else raw
            withTs.filter(col("ts") >= cutoff)
              .select(col("event_id"), col("user_id"), col("event_type"),
                unix_micros(col("ts")).as("ts_us"),
                pmod(col("user_id"), lit(8L)).cast(IntegerType).as("bucket"))
          }
        }
        graft.io.Warehouse.read(s, path)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("ts_us"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
             |FROM events
             |ORDER BY event_id""".stripMargin)),

    // ST24 — the NATIVE streaming SOURCE, st23's read-side twin:
    // `readStream.format("graft-warehouse")` streams a warehouse
    // table with COMMIT VERSIONS as offsets — fresh checkpoint gets
    // the folded snapshot, every later run gets exactly the commits
    // since (Delta's initial-snapshot-plus-changes contract, pinned
    // in WarehouseStreamSourceSpec along with paging, delete
    // refusal, and the tagged change-feed mode). Here: the
    // pre-cutoff table streams once (snapshot), two delta commits
    // land the post-cutoff events, and the SAME checkpoint streams
    // again — delivering only those commits' post-images. The drain
    // accumulates to parquet, so the oracle (the complete events
    // set) is green only if snapshot + incremental pages cover every
    // row exactly once: a missed commit drops rows, a re-delivered
    // one duplicates them.
    Q("st24_stream_source_scan",
      (s, d) => {
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.streaming.Trigger
        val cutoff = lit("2024-01-21 00:00:00").cast("timestamp")
        val root = graft.engine.TempArtifacts.getOrBuild(s"$d#st24wh", "graft_st24wh") { p =>
          val ev = Tables.events(s, d)
            .select(col("event_id"), col("user_id"), col("event_type"),
              col("ts"), unix_micros(col("ts")).as("ts_us"),
              pmod(col("user_id"), lit(8L)).cast(IntegerType).as("bucket"))
          val wh = s"$p/wh"; val out = s"$p/out"; val ckpt = s"$p/ckpt"
          graft.io.Warehouse.create(s, wh,
            ev.filter(col("ts") < cutoff).drop("ts"), "bucket")
          def drain(): Unit = {
            val q = s.readStream.format("graft-warehouse")
              .option("keyCol", "event_id")
              .option("maxVersionsPerTrigger", 1)
              .load(wh)
              .writeStream
              .foreachBatch { (b: DataFrame, _: Long) =>
                b.write.mode("append").parquet(out); ()
              }
              .trigger(Trigger.AvailableNow())
              .option("checkpointLocation", ckpt)
              .start()
            q.awaitTermination()
          }
          drain() // batch 1: the pre-cutoff snapshot
          val post = ev.filter(col("ts") >= cutoff).drop("ts")
          Seq(0, 1).foreach { parity =>
            graft.io.Warehouse.mergeIntoDelta(s, wh,
              post.filter(pmod(col("event_id"), lit(2L)) === parity),
              "event_id", "ts_us", Seq("bucket"))
          }
          drain() // resumed: exactly the two commits' post-images
        }
        s.read.parquet(s"$root/out")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("ts_us"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
             |FROM events
             |ORDER BY event_id""".stripMargin)),

    // ST25 — CONTINUOUSLY-MAINTAINED JOIN VIEW: the m19 contract on a
    // streaming cadence, composed entirely from this round's pieces —
    // the fact table's change feed streams through the NATIVE source
    // (`readChangeFeed`, one commit per trigger, st24), and each
    // micro-batch folds into a warehouse-MATERIALIZED fact ⋈ dim view
    // with a feed-sized merge: per key the page's latest change
    // either joins the (broadcast-small) dim into an upsert or rides
    // as a tombstone — the view never recomputes and never rewrites
    // untouched rows (CoW merge at partition granularity). The oracle
    // is the full recompute of the final fact state joined to the
    // dim, so a missed commit, a re-delivered page, or a stale fold
    // all go red. This is the lakehouse materialized-view loop: CDC
    // in, incrementally-correct view out, every step atomic.
    Q("st25_stream_view_maintenance",
      (s, d) => {
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.streaming.Trigger
        val root = graft.engine.TempArtifacts.getOrBuild(s"$d#st25wh", "graft_st25wh") { p =>
          val a = s"$p/a"; val view = s"$p/view"
          val ev = Tables.events(s, d)
            .select(col("event_id"), col("user_id"), col("event_type"),
              to_date(col("ts")).as("dt"), lit(1L).as("ver"))
          val dim = Tables.events(s, d).select(col("user_id")).distinct()
            .select(col("user_id"), (col("user_id") % 5).as("tier"))
          // fact v1: a third of the events; the view seeds from it
          graft.io.Warehouse.create(s, a, ev.filter(col("event_id") % 3 === 0), "dt")
          graft.io.Warehouse.create(s, view,
            graft.io.Warehouse.read(s, a).join(dim, Seq("user_id"))
              .select(col("event_id"), col("user_id"), col("event_type"),
                col("dt"), col("tier"), lit(1L).as("cv")), "dt")
          // v2: an insert wave; v3: updates + deletes on present rows
          graft.io.Warehouse.mergeIntoDelta(s, a,
            ev.filter(col("event_id") % 3 === 1).withColumn("ver", lit(2L)),
            "event_id", "ver", Seq("dt"))
          val present = ev.filter(col("event_id") % 3 <= 1)
          graft.io.Warehouse.mergeIntoDelta(s, a,
            present.filter(col("event_id") % 5 === 0 && col("event_id") % 7 =!= 0)
              .withColumn("event_type", lit("patched"))
              .withColumn("ver", lit(3L)).withColumn("is_del", lit(false))
              .unionByName(present.filter(col("event_id") % 7 === 0)
                .withColumn("ver", lit(3L)).withColumn("is_del", lit(true))),
            "event_id", "ver", Seq("dt"), Some("is_del"))
          // the maintenance loop: one commit per trigger, each page
          // folded into the view as a feed-sized keyed merge
          val q = s.readStream.format("graft-warehouse")
            .option("readChangeFeed", true)
            .option("startingVersion", 2)
            .option("maxVersionsPerTrigger", 1)
            .load(a)
            .writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              val latest = batch
                .filter(col("change_type") =!= "update_preimage")
                .groupBy("event_id")
                .agg(max(struct(col("commit_version"), col("change_type"),
                  col("user_id"), col("event_type"), col("dt"))).as("m"))
                .select(col("event_id"), col("m.commit_version").as("cv"),
                  (col("m.change_type") === "delete").as("is_del"),
                  col("m.user_id").as("user_id"),
                  col("m.event_type").as("event_type"), col("m.dt").as("dt"))
              val changes = latest.join(broadcast(dim), Seq("user_id"))
                .select(col("event_id"), col("user_id"), col("event_type"),
                  col("dt"), col("tier"), col("cv"), col("is_del"))
              if (!changes.isEmpty)
                graft.io.Warehouse.mergeInto(s, view, changes,
                  "event_id", "cv", Seq("dt"), Some("is_del"))
              ()
            }
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", s"$p/ckpt")
            .start()
          q.awaitTermination()
        }
        graft.io.Warehouse.read(s, s"$root/view")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("dt"), col("tier"))
          .orderBy("event_id")
      },
      Some("""WITH af AS (
             |  SELECT event_id, user_id,
             |    CASE WHEN event_id % 5 = 0 AND event_id % 7 <> 0
             |         THEN 'patched' ELSE event_type END AS event_type,
             |    CAST(ts AS DATE) AS dt
             |  FROM events
             |  WHERE event_id % 3 IN (0, 1) AND event_id % 7 <> 0),
             |b AS (SELECT user_id, user_id % 5 AS tier
             |      FROM (SELECT DISTINCT user_id FROM events))
             |SELECT event_id, af.user_id, event_type, dt, tier
             |FROM af JOIN b USING (user_id)
             |ORDER BY event_id""".stripMargin))
  )
}
