package graft.io

import java.sql.{Connection, DriverManager, SQLException}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.datasources.jdbc.{JdbcOptionsInWrite, JdbcUtils}
import org.apache.spark.sql.internal.SQLConf

/** JDBC sink layer — the reference's entire load surface (SURVEY.md
  * §2.2 K1–K5) as ONE staged, single-commit [[load]]. The reference
  * deletes and then appends outside any transaction (LAT:213-222,
  * SER:253), so a failure mid-load leaves a target truncated, holding
  * half a window, or half-merged. Here every bulk write is a
  * distributed `df.write.jdbc` into a private stage table (one
  * connection per partition, batched inserts), and one driver
  * transaction then swaps the staged rows into every target — data
  * never leaves the DB — and commits once.
  *
  * Scale notes (100 TB): the stage writers never collect — rows flow
  * from executor partitions straight into the DB, so load parallelism
  * == partition count (repartition to match the DB's ingest capacity).
  * The commit is set-based SQL inside the DB (`DELETE` +
  * `INSERT … SELECT`), independent of the Spark cluster.
  */
object Sinks {

  /** Which target rows a [[Load]] replaces inside the commit; every
    * staged row is then inserted.
    */
  sealed trait Scope
  object Scope {
    /** K1 (LAT:188-198): replace nothing — a plain append. */
    case object Append extends Scope
    /** K2 (LAT:213-222, SER:229-245): replace the whole table. */
    case object All extends Scope
    /** K3 (LAT:217-223): replace the rows whose `col` lies in
      * `[lo, hi]` — dynamic partition overwrite for engines without
      * partitioned tables.
      */
    final case class Range(col: String, lo: Any, hi: Any) extends Scope
    /** K5 + K1 (SER:269-276, 284-365): the MERGE — replace the rows
      * whose `col` value is staged, and insert the unseen keys, in one
      * step. Rows are replaced WHOLE: the frame must carry every target
      * column (a column it lacks is left NULL or refused by the DB) and
      * at most one row per key.
      */
    final case class Keys(col: String) extends Scope
  }

  /** Load `df` into `table`, replacing the rows `scope` selects. */
  final case class Load(df: DataFrame, table: String, scope: Scope)

  /** Rows per JDBC insert batch of a stage write (pandas' `chunksize`,
    * LAT:188-198).
    */
  private val BatchSize = 5000

  /** Load every frame into its table as ONE transaction (K4,
    * SER:247-282, generalised to all scopes): either every target
    * shows its new rows or none changes.
    *
    *  1. Stage — distributed-append each frame into its own
    *     `${table}_stage$i`.
    *  2. Commit — one driver transaction runs, per load, the scope's
    *     `DELETE` and then an `INSERT … SELECT` that maps columns BY
    *     NAME (a positional `SELECT *` would mis-assign when the
    *     target's column order differs from the frame's), and commits
    *     once. A missing target is created from the frame's schema
    *     inside the same transaction (a fresh table has nothing to
    *     delete).
    *  3. Clean up — the stage tables are dropped whatever happened,
    *     a failed stage write included.
    *
    * @return the rows each load inserted, in `loads` order
    */
  def load(loads: Seq[Load], url: String, props: Properties): Seq[Long] = {
    val params = props.asScala.toMap
    def options(table: String) = new JdbcOptionsInWrite(url, table, params)
    val staged = loads.zipWithIndex.map { case (l, i) => l -> s"${l.table}_stage$i" }
    withConnection(url, props) { conn =>
      try {
        staged.foreach { case (l, stage) =>
          l.df.write.mode(SaveMode.Overwrite).option("batchsize", BatchSize)
            .jdbc(url, stage, props)
        }
        val missing = mutable.Set(loads.map(_.table).distinct
          .filterNot(t => JdbcUtils.tableExists(conn, options(t))): _*)
        conn.setAutoCommit(false)
        try {
          val inserted = staged.map { case (l, stage) =>
            if (missing.remove(l.table))
              JdbcUtils.createTable(conn, l.table, l.df.schema,
                SQLConf.get.caseSensitiveAnalysis, options(l.table))
            else delete(conn, l, stage)
            val cols = l.df.columns.map(c => s""""$c"""").mkString(", ")
            update(conn, s"INSERT INTO ${l.table} ($cols) SELECT $cols FROM $stage").toLong
          }
          conn.commit()
          inserted
        } catch {
          case e: Throwable => conn.rollback(); throw e
        }
      } finally {
        conn.setAutoCommit(true)
        staged.foreach { case (_, stage) =>
          try update(conn, s"DROP TABLE $stage") catch { case _: SQLException => }
        }
      }
    }
  }

  /** Run the scope's `DELETE` of `l`'s target rows. */
  private def delete(conn: Connection, l: Load, stage: String): Unit = l.scope match {
    case Scope.Append => ()
    case Scope.All => update(conn, s"DELETE FROM ${l.table}")
    case Scope.Range(c, lo, hi) =>
      update(conn, s"""DELETE FROM ${l.table} WHERE "$c" BETWEEN ? AND ?""", lo, hi)
    case Scope.Keys(c) =>
      update(conn, s"""DELETE FROM ${l.table} WHERE "$c" IN (SELECT "$c" FROM $stage)""")
  }

  private def update(conn: Connection, sql: String, args: Any*): Int = {
    val st = conn.prepareStatement(sql)
    try {
      args.zipWithIndex.foreach { case (a, i) => st.setObject(i + 1, a) }
      st.executeUpdate()
    } finally st.close()
  }

  private def withConnection[A](url: String, props: Properties)(f: Connection => A): A = {
    val conn = DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  /** K3 on files — dynamic partition overwrite: rewrite ONLY the
    * partitions present in `df`, leave sibling partitions untouched.
    * This is the data-lake form of the ranged delete+append (at
    * 100 TB the fact table lives partitioned on object storage and
    * this is the idempotent daily-reload primitive). Scoped to this
    * one write via the DataFrameWriter option — no session-wide conf
    * mutation.
    */
  def dynamicPartitionOverwrite(df: DataFrame, path: String,
                                partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
}
