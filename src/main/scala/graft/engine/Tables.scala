package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table catalog over a driver-provided scale-factor directory
  * (see /root/repo/TESTDATA.md).
  *
  * Scale notes (100 TB design): every reader is a plain
  * `spark.read.parquet` scan so Catalyst's column pruning + filter
  * pushdown reach the parquet footers (verify via
  * `.explain("formatted")` → `PushedFilters` / `ReadSchema`). No
  * caching, no collect — callers compose lazy plans. On a real
  * cluster the same paths would point at partitioned object-store
  * prefixes; nothing here assumes a single file.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** The test data stores `events.ts` as parquet TIMESTAMP(MICROS)
    * (timestamp[us] at sf0.001, sf0.01 and sf0.1), which reads as
    * TimestampType directly. The branch below serves an `events` file
    * written as TIMESTAMP(NANOS), which Spark's vectorized reader
    * rejects (TimestampType is µs): the session sets
    * `spark.sql.legacy.parquet.nanosAsLong=true` (done centrally in
    * [[Sessions.local]] — no conf mutation here, a reader must not
    * change behavior of unrelated reads), the nanos arrive as long,
    * and `ts div 1000` converts them exactly when the instants have µs
    * granularity.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts div 1000")))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
