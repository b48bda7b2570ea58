package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}
import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ForkFreeLocalFileSystem, Sessions}
import graft.io.Warehouse

/** Every local write of the engine sets file modes in-process: the
  * session resolves `file:` to [[ForkFreeLocalFileSystem]], so a
  * warehouse create, merge and compaction start no `chmod` process and
  * leave the same files, with the same modes, as a stock
  * [[LocalFileSystem]] does.
  */
class ForkFreeWritesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Create, merge into, append to and compact (with `_stats` and
    * `_bloom` sidecars) a partitioned table at `path`. */
  private def writeTable(path: String): Unit = {
    Warehouse.create(spark, path,
      Seq((1L, "a", 10L, "d1"), (2L, "b", 10L, "d1"), (3L, "c", 10L, "d2"))
        .toDF("k", "payload", "ver", "part"), "part")
    Warehouse.mergeInto(spark, path,
      Seq((2L, "b2", 11L, "d1"), (4L, "e", 11L, "d2")).toDF("k", "payload", "ver", "part"),
      "k", "ver", Seq("part"))
    Warehouse.append(spark, path,
      Seq((5L, "f", 12L, "d1"), (6L, "g", 12L, "d2")).toDF("k", "payload", "ver", "part"))
    Warehouse.compact(spark, path, "k", targetBytes = 1L << 30,
      statsCols = Seq("k"), bloomCols = Seq("k"))
  }

  /** Every entry under `root` with its mode, UUIDs in names masked. */
  private def tree(root: String): Seq[(String, String)] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.filter(_ != base).map { p =>
      base.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSeq.sorted
  }

  test("the session resolves file: to the fork-free filesystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(conf.get("fs.file.impl") == classOf[ForkFreeLocalFileSystem].getName)
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem])
    // still a LocalFileSystem: commits claim versions by hard link
    assert(Warehouse.primitiveFor(fs) eq Warehouse.LocalLinkCommit)
  }

  test("a local warehouse create, merge and compaction start no chmod process") {
    val path = Files.createTempDirectory("graft_ffw").toString + "/t"
    val dump = Files.createTempFile("graft_ffw", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try writeTable(path) finally rec.stop()
      // read back from a dump: a RecordingStream can drop the events
      // still buffered when it closes
      rec.dump(dump)
    } finally rec.close()
    val commands = RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    Files.delete(dump)
    assert(tree(path).exists(_._1.endsWith("/_stats")), "the compaction wrote no _stats sidecar")
    assert(!commands.exists(_.startsWith("chmod")), s"forked: ${commands.mkString("; ")}")
  }

  test("the fork-free filesystem writes the files and modes a stock LocalFileSystem writes") {
    val conf = spark.sparkContext.hadoopConfiguration
    val ours = Files.createTempDirectory("graft_ffw_ours").toString + "/t"
    writeTable(ours)
    // every lookup gets a fresh stock filesystem while this table is
    // written; the cached fork-free one is left as it is
    val stock = Files.createTempDirectory("graft_ffw_stock").toString + "/t"
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[LocalFileSystem])
      writeTable(stock)
    } finally keys.zip(saved).foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    val (a, b) = (tree(ours), tree(stock))
    assert(a == b, s"\nfork-free: $a\nstock:     $b")
    val names = a.map(_._1)
    for (f <- Seq("_stats", "_bloom", "_SUCCESS", "._SUCCESS.crc", ".crc"))
      assert(names.exists(_.endsWith(f)), s"no $f: $names")
  }

  test("a session whose SparkConf names a file: filesystem keeps it") {
    val key = Sessions.FileImplKey
    assert(Sessions.fileSystemFor(new SparkConf(false)) == classOf[ForkFreeLocalFileSystem].getName)
    assert(Sessions.fileSystemFor(new SparkConf(false).set(key, classOf[LocalFileSystem].getName))
      == classOf[LocalFileSystem].getName)
    // a spark.* system property reaches the SparkConf the session
    // factory reads, as it does for spark-submit's --conf
    val prior = sys.props.get(key)
    sys.props(key) = "org.example.CallerFs"
    try assert(Sessions.fileSystemFor(new SparkConf()) == "org.example.CallerFs")
    finally prior.fold(sys.props.remove(key))(sys.props.put(key, _))
  }
}
