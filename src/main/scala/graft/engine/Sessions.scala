package graft.engine

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Shared local-session factory for the repo's mains and tests.
  *
  * Centralizes the configs the engine depends on so no reader has to
  * mutate session state as a side effect:
  *  - UTC session zone (timestamp parity with the DuckDB oracle),
  *  - `nanosAsLong` (events.parquet stores TIMESTAMP(NANOS), which
  *    Spark's vectorized reader cannot load as TimestampType; reading
  *    nanos as long + an explicit convert in [[Tables.events]] keeps
  *    the read vectorized),
  *  - shuffle partitions sized to the local core count rather than the
  *    200 default (on a real cluster this would be AQE-advised),
  *  - [[ForkFreeLocalFileSystem]] as the `file:` filesystem, unless the
  *    caller's SparkConf already names one ([[fileSystemFor]]).
  */
object Sessions {

  /** Advisory partition size — also the floor for the SHJ threshold
    * override below (Spark's rewrite requires advisory <= threshold).
    */
  private val AdvisoryBytes = 64L * 1024 * 1024

  /** SPARK_GRAFT_SHJ_THRESHOLD, validated: "0" (or "0b" etc.) turns
    * the AQE SMJ→SHJ rewrite off explicitly; any other value is
    * clamped UP to the 64MB advisory size, because a threshold below
    * the advisory silently disables the rewrite (Spark requires
    * advisory <= threshold); malformed input fails loudly here, at
    * session build, with the variable named.
    */
  private def shjThreshold(): String =
    sys.env.get("SPARK_GRAFT_SHJ_THRESHOLD") match {
      case None => "64MB"
      case Some(raw) =>
        val bytes =
          try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
          catch {
            case e: Exception => throw new IllegalArgumentException(
              s"SPARK_GRAFT_SHJ_THRESHOLD='$raw' is not a byte size", e)
          }
        if (bytes <= 0L) "0"
        else math.max(bytes, AdvisoryBytes).toString
    }

  /** Register the warehouse's planner additions that no
    * SparkSessionExtensions seam can carry, in this order:
    *  - statistics flow for warehouse scans (real bytes + footer row
    *    counts instead of defaultSizeInBytes) — must run AFTER the
    *    scan-pushdown batch, which only the experimental "User
    *    Provided Optimizers" seam does; every extensions optimizer seam
    *    runs before it;
    *  - runtime (dynamic) file/partition pruning for warehouse fact ⋈
    *    dim joins — must see the ScanRelations pushdown built AND the
    *    real statistics the stats rule restores, so it rides the same
    *    post-pushdown batch, after it;
    *  - the native-path splice for fold-free/DV-free/uniform snapshots
    *    — LAST, so the stats rewrap and probe attachment (same
    *    fixed-point batch, earlier rules) take priority and only
    *    probe-free scans splice;
    *  - physical planning for the runtime-filter rule's localized dim
    *    (ProbedDimRelation -> ProbedDimExec serving the probe's rows).
    * Idempotent: a rule or strategy whose class is already registered
    * (a reused getOrCreate session) is not added again.
    */
  def install(spark: SparkSession): Unit = {
    val exp = spark.experimental
    val rules = Seq(
      new org.apache.spark.sql.graft.WarehouseStatsRule(spark),
      new org.apache.spark.sql.graft.WarehouseRuntimeFilterRule(spark),
      new org.apache.spark.sql.graft.WarehouseNativeScanRule(spark))
    exp.extraOptimizations ++= rules.filterNot(r =>
      exp.extraOptimizations.exists(r.getClass.isInstance))
    if (!exp.extraStrategies.exists(
        _.isInstanceOf[org.apache.spark.sql.graft.ProbedDimStrategy]))
      exp.extraStrategies ++= Seq(new org.apache.spark.sql.graft.ProbedDimStrategy)
  }

  /** The SparkConf key that names the `file:` filesystem. */
  private[graft] val FileImplKey = "spark.hadoop.fs.file.impl"

  /** The `file:` filesystem of a session built over `conf`: the one
    * `conf` already names (a `spark.*` system property or a
    * `spark-submit --conf`), otherwise [[ForkFreeLocalFileSystem]].
    * Hadoop caches one filesystem per scheme per process, so the
    * setting has to be in the conf the SparkContext starts from.
    */
  private[graft] def fileSystemFor(conf: SparkConf): String =
    conf.get(FileImplKey, classOf[ForkFreeLocalFileSystem].getName)

  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(FileImplKey, fileSystemFor(new SparkConf()))
      // engine extensions: native expressions (cosine_sim) for the
      // Column API and SQL
      .withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      // Let AQE coalesce post-shuffle partitions to the advisory size
      // instead of preserving one-per-core parallelism: with pushed
      // filters most intermediate shuffles are far below 64 MB, and
      // scheduling 32 near-empty reducers per exchange is pure
      // overhead both here and on a real cluster (the setting Spark's
      // own tuning guide recommends for production).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
      // Let AQE rewrite sort-merge → shuffled-hash at runtime when
      // every post-shuffle partition of the build side fits the same
      // 64 MB advisory budget (default 0 = never). Gated on MEASURED
      // runtime sizes, so unlike a static preferSortMergeJoin flip it
      // cannot OOM on a mis-estimated build side, and AQE skew-split
      // still applies to SHJ. Wins the sort on the change-feed
      // full-outer diffs and similar small-shuffle joins (A/B table
      // in OPTIMIZATION_r20.md); identical results by construction.
      // COUPLING (advisor r20): Spark only applies the SMJ→SHJ rewrite
      // when advisoryPartitionSizeInBytes <= this threshold, so an
      // override below the 64MB advisory above would silently disable
      // it — values are validated/clamped, not passed through raw.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        shjThreshold())
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // events.ts is parquet timestamp[us] with isAdjustedToUTC=false,
      // which Spark 4 infers as TIMESTAMP_NTZ by default. Watermarks
      // (and every streaming query here) require TimestampType, so
      // infer the legacy LTZ type instead — an exact identity under
      // the UTC session zone above, and the same local field values
      // the DuckDB oracle reads from the file.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // keep saveAsTable warehouses (bucketed-join tests) out of cwd
      .config("spark.sql.warehouse.dir",
        s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_warehouse")
      // SQL catalog for io.Warehouse tables — path-addressed
      // (SELECT * FROM graft.`/path` [VERSION|TIMESTAMP AS OF ...])
      // and named (CREATE TABLE graft.db.name ... lives under the
      // warehouseRoot's managed tree)
      .config("spark.sql.catalog.graft",
        "graft.sources.warehouse.WarehouseCatalog")
      .config("spark.sql.catalog.graft.warehouseRoot",
        s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_named_catalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
    spark
  }
}
