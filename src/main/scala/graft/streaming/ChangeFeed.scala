package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.io.Warehouse

/** STREAMING CHANGE FEED over a [[graft.io.Warehouse]] table — the
  * Delta "CDF as a stream" shape: a Structured Streaming query whose
  * SOURCE is the table's `_versions` directory (every commit is
  * exactly one new manifest file), so Spark's file-source offset log
  * IS the checkpointed version cursor: restart with the same
  * checkpoint and the walk resumes at the first unseen commit, with
  * no hand-rolled cursor state anywhere.
  *
  * Each micro-batch carries at most `pageSize` commit files
  * (`maxFilesPerTrigger`), and the batch hook folds exactly that page
  * of the change log — so per-batch work is bounded by the page size
  * times the touched-partition pruning [[Warehouse.changes]] already
  * does, never by the table or its history (the [[Warehouse.changeLog]]
  * bounded-plan contract, now on a streaming cadence). The page frame
  * matches `changeLog`'s shape: (key, change_type, data columns,
  * commit_version).
  *
  * Semantics: commits are published sequentially (version N+1 claims
  * after N), so pages arrive in commit order and each commit's diff is
  * delivered exactly once per checkpoint lineage. The CREATE commit
  * (version 1) has no predecessor to diff against and is skipped —
  * consumers needing the initial state read version 1 directly
  * ([[Warehouse.readVersion]]) and fold pages on top, exactly Delta's
  * "initial snapshot + changes" pattern. [[vacuum]] interplay: a
  * fresh (un-checkpointed) stream over a table whose early manifests
  * were vacuumed fails loudly in `changes` rather than silently
  * skipping history — keep retention ahead of the slowest consumer,
  * the standard CDF retention contract.
  */
object ChangeFeed {

  /** Drain every unseen commit page through `pageFn`, at most
    * `pageSize` commits per micro-batch.
    *
    * @param checkpoint durable checkpoint dir: pass the SAME location
    *                   across calls and each run delivers only the
    *                   commits that landed since the previous one (the
    *                   resume contract ChangeFeedSpec pins); absent =
    *                   one-shot walk of the full retained history
    * @param pageFn     called once per non-empty page with the folded
    *                   change frame and the page's commit versions
    *                   (ascending)
    */
  def run(spark: SparkSession, tablePath: String, keyCol: String,
          pageSize: Int, checkpoint: Option[String] = None)
         (pageFn: (DataFrame, Seq[Long]) => Unit): Unit = {
    require(pageSize >= 1, s"pageSize must be >= 1, got $pageSize")
    Streaming.drain(spark, checkpoint, stateful = false) { ckpt =>
      // binaryFile (not text): a commit whose mapping is EMPTY (every
      // row deleted) is a 0-byte file — text would yield no row for
      // it and the version would silently vanish from the walk. The
      // schema is binaryFile's fixed one, stated explicitly because
      // streaming file sources refuse to infer.
      val binarySchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType)))
      val src = spark.readStream.format("binaryFile")
        .schema(binarySchema)
        .option("pathGlobFilter", "v*")
        .option("maxFilesPerTrigger", pageSize)
        .load(s"$tablePath/_versions")
        .select("path")
      val q = src.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val versions = batch.collect().toSeq
            .map(r => r.getString(0).split("/").last.stripPrefix("v").toLong)
            .filter(_ > 1L) // the create commit has no predecessor
            .sorted
          if (versions.nonEmpty) {
            val (lo, hi) = (versions.head, versions.last)
            val page = Warehouse.changeLog(spark, tablePath, keyCol,
              fromV = lo - 1, toV = Some(hi),
              maxCommits = math.max(pageSize, (hi - lo + 1).toInt))
            pageFn(page, versions)
          }
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
  }
}
