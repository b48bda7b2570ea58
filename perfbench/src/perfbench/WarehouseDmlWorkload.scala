package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** `warehouse_dml`: one client sends a stream of warehouse SQL with
  * seeded keys and values against a partitioned table built from
  * `orders`: MERGE INTO CDC batches, keyed UPDATE / DELETE, INSERT; a
  * point lookup, a partition and a full aggregate, a VERSION AS OF read,
  * a change-feed read; `CALL graft.system.maintain` after every write
  * and a closing `compact`. Every timed pass starts from an identical copy of the
  * table and replays the same stream. An in-memory model of the table
  * fixes every read's expected result and the end-of-pass snapshot.
  */
final class WarehouseDmlWorkload(ctx: Ctx) extends Workload {
  private val spark: SparkSession = ctx.spark
  private val root = Paths.get(ctx.workDir, "wh").toAbsolutePath.toString
  private val basePath = s"$root/base"
  private def tablePath(p: Int) = s"$root/t$p"

  // The statement mix follows the registry's warehouse SQL rows
  // (sql10-sql30; perfbench/README.md, "Parameter sources"): each write
  // kind gets a quarter as many statements as the registry has rows of
  // it, rounded up (MERGE 8 -> 2, DELETE 2 -> 1, UPDATE 1 -> 1, INSERT 2 -> 1),
  // and each read kind one (a point lookup through skipping, sql10; a
  // partition aggregate, sql17; a full aggregate, sql14; VERSION AS OF,
  // sql12; a change-feed read, sql11). After every write comes a
  // `CALL graft.system.maintain` at the procedure's default cadence
  // (sql16 is the registry's procedure row), and a `compact` closes the
  // stream. The order is fixed and alternates writes and reads; the
  // seed picks keys, values and rows. (A seeded order changed how many
  // rows each statement met, the INSERT adding a third, and so the work
  // of a pass.) The change feed comes after a write, as it reads the
  // latest commit.
  private val kinds: Seq[String] = Seq("merge", "point", "update", "part_agg", "merge",
    "full_agg", "delete", "version_as_of", "insert", "feed")
  private val writes = Set("merge", "update", "delete", "insert")

  final case class ORow(cust: Long, status: String, cents: Long, dateMicros: Long, prio: String)
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** One statement: its class (read / write / maintain), the rows it
    * changes, and a runner that executes it against a table path and
    * returns a problem when the result disagrees with the model.
    */
  final case class Stmt(kind: String, cls: String, rowsChanged: Long,
                        run: (String, Versions) => Option[String])

  /** Runtime version bookkeeping: each DML commits one version; the
    * maintenance calls report theirs. */
  final class Versions {
    var current = 1L
    val afterDml = mutable.ArrayBuffer.empty[Long]
  }

  private var stream: Seq[Stmt] = Nil
  private var finalAgg = (0L, 0L, 0L)
  private var columns: Seq[String] = Nil
  private var bytesPerRow = 1.0

  private final case class PassStat(traced: Boolean, newBytes: Long, totalBytes: Long, liveRows: Long,
                                    versions: Long, files: Long, fs: Array[Long], bytesRead: Long,
                                    writeS: Seq[Double], readS: Seq[Double])
  private val stats = mutable.ArrayBuffer.empty[PassStat]
  private var filesBefore = Set.empty[String]
  private var fsBefore = Array.empty[Long]
  private var readBefore = 0L

  private def files(dir: String): Seq[Path] =
    if (!Files.exists(Paths.get(dir))) Nil
    else Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  private def hadoopBytesRead: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

  private def sum3(m: collection.Map[Long, ORow]): (Long, Long, Long) =
    (m.size.toLong, m.values.map(_.cents).sum, m.keys.sum)

  private def fmtCents(c: Long) = f"${c / 100}%d.${c % 100}%02d"

  def setup(): Unit = {
    val orders = spark.read.parquet(s"${ctx.dataDir}/orders.parquet")
    graft.io.Warehouse.create(spark, basePath, orders, "o_orderpriority")
    columns = spark.sql(s"SELECT * FROM graft.`$basePath`").columns.toSeq
    val rows = orders.collect()
    val model = mutable.TreeMap.empty[Long, ORow]
    rows.foreach { r =>
      model(r.getLong(0)) = ORow(r.getLong(1), r.getString(2), math.round(r.getDouble(3) * 100),
        r.getTimestamp(4).getTime * 1000, r.getString(5))
    }
    val dataBytes = files(s"$basePath/data").filter(_.toString.endsWith(".parquet")).map(Files.size).sum
    bytesPerRow = dataBytes.toDouble / model.size
    stream = plan(model)
    finalAgg = sum3(model)
    ctx.info("warehouse") = s"rows=${rows.length} partitioned_by=o_orderpriority " +
      s"statements=${stream.size} " +
      s"bytes_per_row=$bytesPerRow"
  }

  /** Builds the seeded statement stream, advancing `model` through it. */
  private def plan(model: mutable.TreeMap[Long, ORow]): Seq[Stmt] = {
    val rng = new scala.util.Random(ctx.seed)
    val withMaint = kinds.flatMap(k => if (writes.contains(k)) Seq(k, "maintain") else Seq(k)) :+
      "compact"
    // sizes of the registry rows' statements, over the table's rows:
    // sql20's merge updates 1/23 of the keys and inserts 1/19 new ones,
    // sql13's INSERT adds a third
    val nRows = model.size
    val mergeUpdates = math.max(1, nRows / 23)
    val mergeInserts = math.max(1, nRows / 19)
    val insertRows = math.max(1, nRows / 3)
    var nextKey = model.keys.max + 1
    val dmlAgg = mutable.ArrayBuffer.empty[(Long, Long)] // (count, cents) after each DML
    val dmlFeed = mutable.ArrayBuffer.empty[Map[String, Long]] // change rows per DML
    var mergeNo = 0
    val baseAgg = (model.size.toLong, model.values.map(_.cents).sum)

    def live(): Long = model.keys.toIndexedSeq(rng.nextInt(model.size))
    def newPrice() = 100000L + rng.nextInt(40000000)
    def freshRow(): ORow = ORow(rng.nextInt(1000), "O", newPrice(), 978307200000000L,
      priorities(rng.nextInt(priorities.size)))
    val schema = StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
    /** Registers `rows` as a temp view in the table's column order. */
    def view(name: String, rows: Seq[(Long, ORow)]): Unit = {
      val src = rows.map { case (k, r) =>
        Row(k, r.cust, r.status, r.cents / 100.0, new java.sql.Timestamp(r.dateMicros / 1000), r.prio)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(src, 1), schema)
        .select(columns.map(org.apache.spark.sql.functions.col): _*)
        .createOrReplaceTempView(name)
    }
    def dml(feed: Map[String, Long]): Unit = {
      dmlAgg += ((model.size.toLong, model.values.map(_.cents).sum))
      dmlFeed += feed
    }
    def collect(sql: String): Array[Row] = spark.sql(sql).collect()
    def expectRows(kind: String, got: Seq[Any], want: Seq[Any]): Option[String] =
      if (got == want) None else Some(s"$kind returned $got, model says $want")
    val corruptAt = if (ctx.corrupt) withMaint.indexOf("full_agg") else -1

    withMaint.zipWithIndex.map { case (kind, i) => kind match {
      case "merge" =>
        val name = s"perfbench_cdc_$mergeNo"
        mergeNo += 1
        val upd = rng.shuffle(model.keys.toIndexedSeq).take(mergeUpdates)
          .map(k => k -> model(k).copy(status = "F", cents = newPrice()))
        val ins = (0 until mergeInserts).map { _ => nextKey += 1; (nextKey - 1) -> freshRow() }
        model ++= upd ++ ins
        view(name, upd ++ ins)
        dml(Map("update_preimage" -> upd.size.toLong, "update_postimage" -> upd.size.toLong,
          "insert" -> ins.size.toLong))
        Stmt(kind, "write", upd.size + ins.size, (p, v) => {
          collect(s"""MERGE INTO graft.`$p` t USING $name s ON t.o_orderkey = s.o_orderkey
                     |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          v.current += 1; v.afterDml += v.current; None
        })
      case "update" =>
        val k = live()
        val c = newPrice()
        model(k) = model(k).copy(status = "P", cents = c)
        dml(Map("update_preimage" -> 1L, "update_postimage" -> 1L))
        Stmt(kind, "write", 1, (p, v) => {
          collect(s"UPDATE graft.`$p` SET o_totalprice = CAST('${fmtCents(c)}' AS DOUBLE), " +
            s"o_orderstatus = 'P' WHERE o_orderkey = $k")
          v.current += 1; v.afterDml += v.current; None
        })
      case "delete" =>
        val k = live()
        model.remove(k)
        dml(Map("delete" -> 1L))
        Stmt(kind, "write", 1, (p, v) => {
          collect(s"DELETE FROM graft.`$p` WHERE o_orderkey = $k")
          v.current += 1; v.afterDml += v.current; None
        })
      case "insert" =>
        val rows = (0 until insertRows).map { _ => nextKey += 1; (nextKey - 1) -> freshRow() }
        model ++= rows
        view("perfbench_insert", rows)
        dml(Map("insert" -> rows.size.toLong))
        Stmt(kind, "write", rows.size, (p, v) => {
          collect(s"INSERT INTO graft.`$p` SELECT * FROM perfbench_insert")
          v.current += 1; v.afterDml += v.current; None
        })
      case "point" =>
        val k = live()
        val want = model.get(k).map(o => Seq(o.status, o.cents)).toSeq
        Stmt(kind, "read", 0, (p, _) => {
          val got = collect(s"SELECT o_orderstatus, o_totalprice FROM graft.`$p` WHERE o_orderkey = $k")
            .map(r => Seq(r.getString(0), math.round(r.getDouble(1) * 100))).toSeq
          expectRows(s"point lookup $k", got, want)
        })
      case "part_agg" =>
        val prio = priorities(rng.nextInt(priorities.size))
        val part = model.values.filter(_.prio == prio)
        val want = Seq(part.size.toLong, part.map(_.cents).sum)
        Stmt(kind, "read", 0, (p, _) => {
          val r = collect(s"SELECT count(*), sum(CAST(round(o_totalprice * 100) AS BIGINT)) " +
            s"FROM graft.`$p` WHERE o_orderpriority = '$prio'").head
          expectRows(s"partition aggregate $prio", Seq(r.getLong(0), r.getLong(1)), want)
        })
      case "full_agg" =>
        val (c, s, ks) = sum3(model)
        val want = Seq(if (i == corruptAt) c + 1 else c, s, ks)
        Stmt(kind, "read", 0, (p, _) => {
          val r = collect(s"SELECT count(*), sum(CAST(round(o_totalprice * 100) AS BIGINT)), " +
            s"sum(o_orderkey) FROM graft.`$p`").head
          expectRows("full aggregate", Seq(r.getLong(0), r.getLong(1), r.getLong(2)), want)
        })
      case "version_as_of" =>
        // a sampled earlier state: the base table or the state after
        // one of the DML statements already sent
        val j = rng.nextInt(dmlAgg.size + 1) - 1
        val (c, s) = if (j < 0) baseAgg else dmlAgg(j)
        Stmt(kind, "read", 0, (p, v) => {
          val ver = if (j < 0) 1L else v.afterDml(j)
          val r = collect(s"SELECT count(*), sum(CAST(round(o_totalprice * 100) AS BIGINT)) " +
            s"FROM graft.`$p` VERSION AS OF $ver").head
          expectRows(s"VERSION AS OF $ver", Seq(r.getLong(0), r.getLong(1)), Seq(c, s))
        })
      case "feed" =>
        // the change feed of the latest DML commit
        val j = dmlFeed.size - 1
        val want = dmlFeed(j).filter(_._2 > 0)
        Stmt(kind, "read", 0, (p, v) => {
          val ver = v.afterDml(j)
          spark.read.format("graft-warehouse").option("readChangeFeed", "true")
            .option("keyCol", "o_orderkey").option("startingVersion", ver)
            .option("endingVersion", ver).load(p).createOrReplaceTempView("perfbench_feed")
          val got = collect("SELECT change_type, count(*) FROM perfbench_feed GROUP BY change_type")
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          if (got == want) None else Some(s"change feed of v$ver returned $got, model says $want")
        })
      case "maintain" =>
        Stmt(kind, "maintain", 0, (p, v) => {
          val r = collect(s"CALL graft.system.maintain(table => '$p', sort_col => 'o_orderkey')").head
          val want = v.current + (if (r.getBoolean(0)) 1 else 0)
          v.current = r.getLong(1)
          if (v.current == want) None else Some(s"maintain reported v${v.current}, expected v$want")
        })
      case "compact" =>
        Stmt(kind, "maintain", 0, (p, v) => {
          val r = collect(s"CALL graft.system.compact(table => '$p', sort_col => 'o_orderkey')").head
          v.current = r.getLong(0)
          None
        })
    }}
  }

  override def beforePass(p: Int): Unit = {
    val dst = Paths.get(tablePath(p))
    files(basePath).foreach { f =>
      val t = dst.resolve(Paths.get(basePath).relativize(f))
      Files.createDirectories(t.getParent)
      Files.copy(f, t)
    }
    filesBefore = files(tablePath(p)).map(_.toString).toSet
    CountingFs.prefix = tablePath(p)
    fsBefore = CountingFs.snapshot()
    readBefore = hadoopBytesRead
  }

  def pass(p: Int): Unit = {
    if (p == 0) beforePass(0)
    val path = tablePath(p)
    val v = new Versions
    val firstOp = ctx.ops.size
    stream.foreach { s =>
      ctx.op(s.kind, s.cls)(s.run(path, v))(identity)
    }
    val passOps = ctx.ops.drop(firstOp)
    ctx.verify("end-of-pass snapshot") {
      val r = spark.sql(s"SELECT count(*), sum(CAST(round(o_totalprice * 100) AS BIGINT)), " +
        s"sum(o_orderkey) FROM graft.`$path`").head
      val got = (r.getLong(0), r.getLong(1), r.getLong(2))
      if (got == finalAgg) None else Some(s"snapshot $got, model says $finalAgg")
    }
    val all = files(path)
    val newBytes = all.filterNot(f => filesBefore.contains(f.toString)).map(Files.size).sum
    stats += PassStat(traced = false, newBytes, all.map(Files.size).sum, finalAgg._1,
      versions = files(s"$path/_versions").size.toLong,
      files = files(s"$path/data").count(_.toString.endsWith(".parquet")).toLong,
      fs = CountingFs.snapshot().zip(fsBefore).map { case (a, b) => a - b },
      bytesRead = hadoopBytesRead - readBefore,
      writeS = passOps.filter(_.kind == "write").map(_.wallS).toSeq,
      readS = passOps.filter(_.kind == "read").map(_.wallS).toSeq)
  }

  override def afterPass(p: Int, traced: Boolean): Unit = {
    stats(stats.size - 1) = stats.last.copy(traced = traced)
    // the previous pass's copy is no longer needed
    val old = Paths.get(tablePath(p - 1))
    if (Files.exists(old)) files(old.toString).foreach(Files.delete)
  }

  def metrics(): Unit = {
    val timed = stats.drop(1)
    val untraced = timed.filter(!_.traced).toSeq
    val changed = stream.map(_.rowsChanged).sum.toDouble
    ctx.put("write_p50_s", Stats.median(untraced.flatMap(_.writeS)), "s")
    ctx.put("read_p50_s", Stats.median(untraced.flatMap(_.readS)), "s")
    ctx.put("write_amp", Stats.median(untraced.map(_.newBytes / (changed * bytesPerRow))), "ratio")
    ctx.put("space_amp", Stats.median(untraced.map(s => s.totalBytes / (s.liveRows * bytesPerRow))), "ratio")
    ctx.tracer.foreach { _ =>
      val traced = timed.filter(_.traced).toSeq
      val n = math.max(1, traced.size).toDouble
      CountingFs.names.zipWithIndex.foreach { case (name, i) =>
        ctx.put(s"warehouse.$name", traced.map(_.fs(i)).sum / n, "count")
      }
      val meta = traced.map(s => s.fs(CountingFs.List) + s.fs(CountingFs.Status) +
        s.fs(CountingFs.Rename) + s.fs(CountingFs.Delete)).sum
      ctx.put("warehouse.meta_ops_per_stmt", meta / n / stream.size, "count")
      ctx.put("warehouse.bytes_written", traced.map(_.newBytes).sum / n, "bytes")
      ctx.put("warehouse.bytes_read", traced.map(_.bytesRead).sum / n, "bytes")
      ctx.put("warehouse.versions", traced.map(_.versions).sum / n, "count")
      ctx.put("warehouse.files_live", traced.map(_.files).sum / n, "count")
    }
  }
}
