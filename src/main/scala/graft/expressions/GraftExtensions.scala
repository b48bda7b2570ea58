package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Engine extension point, installed with
  * `SparkSession.builder.withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.expressions.GraftExtensions`):
  * registers the engine's native expressions so both the Column API
  * (`call_function`) and plain SQL can use them. The warehouse's
  * post-pushdown optimizer rules and its physical strategy have no
  * seam here: a session built without [[graft.engine.Sessions.local]]
  * gets them from [[graft.engine.Sessions.install]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "cosine_sim takes exactly 2 arguments")
        CosineSimilarity(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "bloom_might_contain takes exactly 2 arguments")
        BloomMightContain(children(0), children(1))
      }))
    // SQL UPDATE / MERGE INTO over graft-warehouse tables: post-hoc
    // (after resolution, before Spark's DML-rewrite batch would refuse
    // the table) the statement becomes a command executing the
    // verified warehouse CoW pass — see
    // [[org.apache.spark.sql.graft.WarehouseDmlRule]].
    ext.injectPostHocResolutionRule(session =>
      new org.apache.spark.sql.graft.WarehouseDmlRule(session))
    // CBO statistics + cost-based join ordering for warehouse
    // relations: the PRE-CBO seam runs after operator optimization
    // and before the scan-pushdown batch hides V1-bridge statistics,
    // which is the one window where relations still expose ANALYZE'd
    // column stats — the rule rewraps them and runs the cost-based
    // reorder right there (Spark's own Join Reorder batch sits after
    // pushdown and is stat-blind for every V1-bridge connector).
    // No-op unless spark.sql.cbo.enabled — see
    // [[org.apache.spark.sql.graft.WarehouseCboStatsRule]].
    ext.injectPreCBORule(session =>
      new org.apache.spark.sql.graft.WarehouseCboStatsRule(session))
    // NOTE: the statistics-restoring WarehouseStatsRule cannot be
    // injected here — every SparkSessionExtensions optimizer seam
    // (operator-optimization, pre-CBO) runs BEFORE the scan-pushdown
    // batch that creates the DataSourceV2ScanRelation it rewrites, so
    // [[graft.engine.Sessions.install]] registers it through
    // `spark.experimental.extraOptimizations` (the "User Provided
    // Optimizers" batch, which runs last).
  }
}
