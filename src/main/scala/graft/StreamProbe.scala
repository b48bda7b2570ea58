package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Profiling main (not part of the graded surface): drains a streaming
  * query under a progress listener and prints, per micro-batch,
  * `durationMs` next to each state operator's `commitTimeMs`,
  * `numRowsTotal` and `numShufflePartitions`; per drain, the wall
  * time, the JVM's thread starts and the processes forked meanwhile
  * (the PID namespace's last-PID delta minus those thread starts — a
  * forked `chmod`/`readlink` shows up there and nowhere else).
  *
  * Usage: runMain graft.StreamProbe [sfDir] [registryQuery] [reps]
  *   (no query name: a one-day windowed count over events)
  */
object StreamProbe {
  /** One read: a procfs sysctl read at a nonzero offset is EOF, so
    * `Files.readAllBytes` (which reads one byte first) sees one digit. */
  private def lastPid(): Long = {
    val p = Paths.get("/proc/sys/kernel/ns_last_pid")
    if (!Files.isReadable(p)) -1L
    else {
      val in = Files.newInputStream(p)
      try new String(in.readNBytes(32)).trim.toLong finally in.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val query = args.lift(1)
    val reps = args.lift(2).fold(3)(_.toInt)
    val spark = graft.engine.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val state = p.stateOperators.map(o =>
          s"${o.operatorName}(commitTimeMs=${o.commitTimeMs} numRowsTotal=${o.numRowsTotal} " +
            s"numShufflePartitions=${o.numShufflePartitions})").mkString(" ")
        println(s"[probe] batch=${p.batchId} rows=${p.numInputRows} durationMs=${p.durationMs} $state")
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
    val threads = ManagementFactory.getThreadMXBean
    for (r <- 0 until reps) {
      val (pid0, thr0, t0) = (lastPid(), threads.getTotalStartedThreadCount, System.nanoTime())
      val out = query match {
        case Some(name) => graft.queries.Registry.queries(name)(spark, sfDir)
        case None =>
          graft.streaming.Streaming.eventsStream(spark, sfDir, "complete") { ev =>
            ev.withWatermark("ts", "1 day")
              .groupBy(window(col("ts"), "1 day"), col("event_type"))
              .agg(count(lit(1)).as("n"))
          }
      }
      val built = (System.nanoTime() - t0) / 1e9
      val started = threads.getTotalStartedThreadCount - thr0
      val forks = if (pid0 < 0) "n/a" else (lastPid() - pid0 - started).toString
      val n = out.count()
      println(f"[probe] rep=$r build=$built%.2f s rows=$n threadStarts=$started forks=$forks")
    }
    spark.stop()
  }
}
