package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Warehouse
import graft.streaming.{ChangeFeed, LocalCheckpointFileManager, Streaming}

/** The fork-free checkpoint manager ([[LocalCheckpointFileManager]])
  * keeps Spark's checkpoint-file contract on local paths — atomic
  * create, cancel, the same files and modes as Spark's default manager
  * — hands any other path to Spark's default, and is installed and
  * removed per drain together with the scratch checkpoint directory.
  */
class LocalCheckpointFilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ConfKey = LocalCheckpointFileManager.ConfKey
  private val Shuffle = "spark.sql.shuffle.partitions"

  private lazy val dataPath = {
    val p = Files.createTempDirectory("graft_lcfm_src").toString + "/ticks.parquet"
    Seq((1L, 10L), (2L, 20L), (1L, 30L), (3L, 40L)).toDF("k", "v")
      .coalesce(1).write.parquet(p)
    p
  }

  private def manager(p: Path, conf: Configuration = spark.sessionState.newHadoopConf()) =
    new LocalCheckpointFileManager(p, conf)

  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes("UTF-8"))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def entries(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  /** Every entry under `root` with its mode, UUIDs in names masked. */
  private def tree(root: String): Seq[(String, String)] = {
    val base = java.nio.file.Paths.get(root)
    Files.walk(base).iterator().asScala.filter(_ != base).map { p =>
      base.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSeq.sorted
  }

  test("createAtomic without overwrite onto an existing file throws FileAlreadyExistsException and keeps the old bytes") {
    val dir = Files.createTempDirectory("graft_lcfm")
    val p = new Path(dir.toUri)
    val fm = manager(p)
    assert(fm.underlying.isInstanceOf[LocalCheckpointFileManager.ForkFree])
    val f = new Path(p, "0")
    write(fm, f, "old", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, f, "new", overwrite = false))
    assert(read(fm, f) == "old")
    write(fm, f, "newer", overwrite = true)
    assert(read(fm, f) == "newer")
  }

  test("cancel() leaves neither a temp file nor the target") {
    val dir = Files.createTempDirectory("graft_lcfm")
    val fm = manager(new Path(dir.toUri))
    val out = fm.createAtomic(new Path(new Path(dir.toUri), "1"), overwriteIfPossible = false)
    out.write("partial".getBytes("UTF-8"))
    out.cancel()
    assert(entries(dir).isEmpty, s"left behind: ${entries(dir)}")
  }

  test("a stateful drain under a durable checkpoint writes the default manager's files and modes, sidecars included") {
    def drainInto(ckpt: String): Seq[Option[String]] = {
      val seen = scala.collection.mutable.ArrayBuffer[Option[String]]()
      Streaming.runForeachBatch(spark, dataPath, "complete", Some(ckpt))(
        _.groupBy("k").agg(sum("v").as("s"))) { (b, _) =>
        b.collect()
        synchronized { seen += spark.conf.getOption(ConfKey) }
      }
      seen.toSeq
    }
    val ours = Files.createTempDirectory("graft_lcfm_ours").toString
    val installed = drainInto(ours)
    assert(installed.nonEmpty && installed.forall(_.contains(classOf[LocalCheckpointFileManager].getName)),
      s"drain did not run under the fork-free manager: $installed")

    // a session that already names a manager keeps it: Spark's own
    // default for file: paths is the FileContext-based manager
    val default = Files.createTempDirectory("graft_lcfm_default").toString
    spark.conf.set(ConfKey, classOf[FileContextBasedCheckpointFileManager].getName)
    val kept = try drainInto(default) finally spark.conf.unset(ConfKey)
    assert(kept.forall(_.contains(classOf[FileContextBasedCheckpointFileManager].getName)))

    val (a, b) = (tree(ours), tree(default))
    assert(a == b, s"\nfork-free: $a\ndefault:   $b")
    val names = a.map(_._1)
    // the state delta, its Hadoop .crc sidecar, Spark's checkpoint
    // checksum file for it, and that file's own Hadoop sidecar
    for (f <- Seq("1.delta", ".1.delta.crc", "1.delta.crc", ".1.delta.crc.crc"))
      assert(names.exists(n => n.startsWith("state/0/") && n.endsWith(s"/$f")), s"no $f: $names")
  }

  test("a non-file: path gets Spark's default manager") {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.graftmock.impl", classOf[MockSchemeFileSystem].getName)
    conf.setBoolean("fs.graftmock.impl.disable.cache", true)
    conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)
    val dir = Files.createTempDirectory("graft_lcfm_mock")
    val p = new Path(s"graftmock:${dir.toUri.getPath}")
    val fm = manager(p, conf)
    val plain = new Configuration(conf)
    plain.unset(ConfKey)
    val default = CheckpointFileManager.create(p, plain)
    assert(!fm.underlying.isInstanceOf[LocalCheckpointFileManager.ForkFree])
    assert(fm.underlying.getClass == default.getClass)
    write(fm, new Path(p, "0"), "x", overwrite = false)
    assert(read(default, new Path(p, "0")) == "x")
    assert(fm.isLocal == default.isLocal)
  }

  test("a drain leaves no scratch checkpoint behind under the scratch base") {
    val base = Streaming.scratchCheckpointBase
    def ours = entries(base).filter(_.startsWith("graft_stream_ckpt_"))
    val before = ours
    var during = Set.empty[String]
    Streaming.runForeachBatch(spark, dataPath, "append")(identity) { (b, _) =>
      b.collect()
      synchronized { during ++= ours -- before }
    }
    assert(during.nonEmpty, s"the drain's checkpoint was not under $base")
    assert(ours == before, s"left behind under $base: ${ours -- before}")
  }

  test("a drain whose batch function throws restores the session's shuffle width and manager setting") {
    val keys = Seq(Shuffle, ConfKey)
    val orig = spark.conf.get(Shuffle)
    spark.conf.set(Shuffle, "3")
    try {
      val before = keys.map(spark.conf.getOption)
      intercept[Exception](Streaming.runForeachBatch(spark, dataPath, "append")(identity) {
        (_, _) => throw new IllegalStateException("batch failed")
      })
      assert(keys.map(spark.conf.getOption) == before)

      val table = Files.createTempDirectory("graft_lcfm_cf").toString + "/t"
      Warehouse.create(spark, table, Seq((1L, "a", 10L, "d1")).toDF("k", "payload", "ver", "part"), "part")
      Warehouse.mergeInto(spark, table,
        Seq((1L, "b", 11L, "d1")).toDF("k", "payload", "ver", "part"), "k", "ver", Seq("part"))
      intercept[Exception](ChangeFeed.run(spark, table, "k", pageSize = 1) {
        (_, _) => throw new IllegalStateException("page failed")
      })
      assert(keys.map(spark.conf.getOption) == before)
    } finally spark.conf.set(Shuffle, orig)
  }
}

/** The local disk under its own `graftmock:` scheme: a filesystem
  * FileContext has no binding for, standing in for a remote store. */
class MockSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftmock:///")
  override def getScheme: String = "graftmock"
}
