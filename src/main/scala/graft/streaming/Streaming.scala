package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.LongType

/** Structured Streaming surface (SURVEY.md §2.7 extension). The
  * reference has no streaming — its cron-triggered batches are the
  * degenerate case — but the 100 TB north star wants event streams:
  * `readStream` → event-time windows + watermark → sink.
  *
  * [[runAvailableNow]] executes a genuine streaming query (file
  * source, micro-batches, state store) to completion over a bounded
  * directory — `Trigger.AvailableNow` is exactly how a production
  * cluster drains a backlog — then hands the finished result back as
  * a DataFrame so the driver's oracle can hash it. The memory sink is
  * the test harness choice; in production the same plan writes to
  * Kafka/Delta and the watermark bounds state instead of the sink.
  */
object Streaming {

  private val ctr = new AtomicInteger(0)

  /** State partitions per streaming query (default 8, env-overridable
    * via SPARK_GRAFT_STREAM_SHUFFLE). Stateful operators allocate ONE
    * state-store provider per shuffle partition, pinned in the
    * executor JVM with a periodic maintenance task for the life of
    * the session — so the partition count must track STATE VOLUME,
    * not cluster width. Inheriting the batch shuffle width (32 here)
    * left 32 providers × op × query resident after each drain; across
    * a 73-query bench their maintenance churn slowed LATER batch
    * queries up to 10×. A production job sizes this per stream
    * explicitly (and a watermark keeps each store small); 8 bounds
    * the local harness honestly.
    */
  private def streamShufflePartitions: Int =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_SHUFFLE", "8").toInt

  /** Where one-shot drains keep their checkpoint: a RAM disk when the
    * host has one (`/dev/shm`), else the JVM temp dir. A drained and
    * discarded query's checkpoint (offset log, commit log, state
    * deltas) has no durability requirement: the query is gone when the
    * method returns. Its per-file cost was never the write itself but
    * the process Hadoop's local filesystem forked per file (`chmod`,
    * `readlink`); [[LocalCheckpointFileManager]] removes those for
    * scratch and durable checkpoints alike.
    */
  private[graft] lazy val scratchCheckpointBase: Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
    else Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }

  /** Run one drain: `body` starts and awaits its query with the
    * checkpoint location it is given — the caller's durable
    * `checkpoint` (the resume contract StreamingSpec and
    * ChangeFeedSpec pin), else a fresh scratch directory under
    * [[scratchCheckpointBase]] deleted afterwards.
    *
    * For the query's start the session carries
    * [[LocalCheckpointFileManager]] (unless it already names a manager)
    * and, for a `stateful` drain, the streaming shuffle width. Both are
    * restored afterwards, and a stateful drain then unloads every
    * state-store provider and stops the maintenance thread
    * ([[org.apache.spark.sql.execution.streaming.state.StateStore.stop]]):
    * a drained AvailableNow query never reuses them, and leaving them
    * loaded is a session-wide leak.
    */
  private[streaming] def drain[T](spark: SparkSession, checkpoint: Option[String],
                                  stateful: Boolean = true)(body: String => T): T = {
    val manager = LocalCheckpointFileManager.ConfKey -> classOf[LocalCheckpointFileManager].getName
    val width = "spark.sql.shuffle.partitions" -> streamShufflePartitions.toString
    val settings = Seq(manager).filter(kv => spark.conf.getOption(kv._1).isEmpty) ++
      Seq(width).filter(_ => stateful)
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    val scratch = if (checkpoint.isEmpty)
      Some(Files.createTempDirectory(scratchCheckpointBase, "graft_stream_ckpt_"))
    else None
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body(checkpoint.getOrElse(scratch.get.toString))
    finally {
      prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      if (stateful) org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      scratch.foreach(d => deleteRec(d.toFile))
    }
  }

  /** Source schemas, resolved once per (session, path): streaming
    * sources need an explicit schema, and inferring it re-reads the
    * parquet footer (a listing + a driver job) on EVERY query over
    * the same table — 14 streaming queries over one events table paid
    * it 14×. WEAKLY keyed by session, so a stopped and dropped
    * session's entries are collectable — the cache never pins a dead
    * SparkSession in a long-lived multi-session process.
    * CONTRACT: a source's schema is assumed immutable for the life of
    * the session that first read it (the same assumption the file
    * stream source itself makes about its user-supplied schema);
    * rewriting a path with a different schema mid-session requires a
    * new session.
    */
  private val schemaCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]]())

  private def sourceSchema(spark: SparkSession, path: String) =
    schemaCache
      .computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap())
      .computeIfAbsent(path, p => spark.read.parquet(p).schema)

  /** The file stream source requires a directory (or glob) path — a
    * single-file path fails basePath validation. Rewrite the last
    * path segment as a one-character glob so the parent dir becomes
    * basePath while matching exactly the target file/dir. Trailing
    * slashes are stripped; paths whose parent dirs contain glob
    * metacharacters are not supported (the glob would misfire) and
    * are rejected loudly rather than matching nothing.
    */
  private[streaming] def singlePathGlob(path: String): String = {
    val clean = path.reverse.dropWhile(_ == '/').reverse
    require(clean.contains('/') && clean.last != '/',
      s"not a usable source path: '$path'")
    val i = clean.lastIndexOf('/')
    val (dir, leaf) = (clean.substring(0, i), clean.substring(i + 1))
    require(!dir.exists("*?[]{}".contains(_)),
      s"glob metacharacters in parent dir unsupported: '$path'")
    s"$dir/[${leaf.head}]${leaf.tail}"
  }

  /** Run `transform(stream)` over the parquet files at `path` as a
    * Structured Streaming query, drain with AvailableNow, return the
    * completed in-memory result.
    *
    * @param mode output mode — "complete" for full-result aggregates
    *             (deterministic for a bounded source; append mode
    *             would withhold windows newer than the final
    *             watermark, which for a drained directory means the
    *             tail windows never emit)
    */
  def runAvailableNow(spark: SparkSession, path: String,
                      mode: String)(transform: DataFrame => DataFrame): DataFrame =
    drain(spark, None) { ckpt =>
      val schema = sourceSchema(spark, path)
      val src = spark.readStream.schema(schema).parquet(singlePathGlob(path))
      val name = s"graft_stream_${ctr.incrementAndGet()}"
      val q = transform(src).writeStream
        .format("memory").queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // Copy the (already driver-resident) sink rows into a LocalRelation
      // and drop the temp view + terminated query handle: a 66-query
      // Verify/Bench run would otherwise accumulate every memory-sink
      // table for the life of the session (clearCache doesn't free them),
      // which is exactly the driver-heap pressure that slowed earlier
      // full-registry bench runs. Memory-sink results are small aggregates by
      // construction; production plans write to Kafka/Delta instead.
      val sunk = spark.table(name)
      val rows = java.util.Arrays.asList(sunk.collect(): _*)
      val out = spark.createDataFrame(rows, sunk.schema)
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
      out
    }

  /** Drain a streaming transform into an arbitrary batch sink via
    * `foreachBatch` — the production shape for streaming loads into
    * JDBC/warehouse targets (each micro-batch calls `batchFn` with a
    * normal DataFrame, so [[graft.io.Sinks.load]] composes unchanged;
    * e.g. complete-mode agg + a `Scope.All` load gives idempotent
    * refresh, update mode + a `Scope.Keys` load gives streaming
    * upsert, each batch committed once).
    *
    * @param checkpoint optional durable checkpoint dir: pass the SAME
    *                    location across restarts and the query resumes
    *                    from its saved offsets + state (exactly-once
    *                    over the source, no reprocessing of seen
    *                    files) — the property StreamingSpec's
    *                    stop/restart test pins
    */
  def runForeachBatch(spark: SparkSession, path: String, mode: String,
                      checkpoint: Option[String] = None)
                     (transform: DataFrame => DataFrame)
                     (batchFn: (DataFrame, Long) => Unit): Unit =
    drain(spark, checkpoint) { ckpt =>
      val schema = sourceSchema(spark, path)
      val src = spark.readStream.schema(schema).parquet(singlePathGlob(path))
      val q = transform(src).writeStream
        .foreachBatch(batchFn)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }

  /** Drain a parquet-dir stream into a named SINK FORMAT (the
    * `writeStream.format(...)` route — e.g. the `graft-warehouse`
    * sink with its manifest-riding exactly-once txn records), with
    * AvailableNow + an ephemeral checkpoint unless the caller keeps
    * one. The foreachBatch-free shape a production ingest job runs.
    */
  def runToSink(spark: SparkSession, path: String, format: String,
                targetPath: String, options: Map[String, String],
                checkpoint: Option[String] = None)
               (transform: DataFrame => DataFrame): Unit =
    drain(spark, checkpoint) { ckpt =>
      val schema = sourceSchema(spark, path)
      val src = spark.readStream.schema(schema).parquet(singlePathGlob(path))
      val q = transform(src).writeStream
        .format(format)
        .options(options)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start(targetPath)
      q.awaitTermination()
    }

  /** The `events` table as a stream: ts arrives as raw nanos (the
    * session reads parquet TIMESTAMP(NANOS) as long, see
    * [[graft.engine.Sessions]]) and converts to a µs timestamp —
    * identical to the batch-side [[graft.engine.Tables.events]].
    */
  def eventsStream(spark: SparkSession, sfDir: String,
                   mode: String)(transform: DataFrame => DataFrame): DataFrame =
    runAvailableNow(spark, s"$sfDir/events.parquet", mode) { raw =>
      val withTs =
        if (raw.schema("ts").dataType == LongType)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else raw
      transform(withTs)
    }
}
