package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, HigherOrderFunction, NamedLambdaVariable}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape pins for the three join rewrites whose entire
  * point is the plan, not the result: the result would stay correct
  * if Catalyst regressed to the naive shape (the oracle can't see
  * it), but the 100 TB cost model would silently collapse. Same
  * pattern as the k7 zero-Exchange and v8/v10/v16 pruning specs.
  * `queryExecution.sparkPlan` (the pre-AQE physical plan) is used for
  * node-level traversal: the AQE wrapper is childless until executed.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  private def planOf(name: String): SparkPlan =
    graft.queries.Registry.queries(name)(spark, d).queryExecution.sparkPlan

  test("j9 range join plans as an equi-join, never BroadcastNestedLoop") {
    val plan = planOf("j9_range_join")
    val bnl = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.isEmpty, s"j9 regressed to BroadcastNestedLoopJoin:\n$plan")
  }

  test("j12 interval-overlap join plans as an equi-join, never BroadcastNestedLoop") {
    val plan = planOf("j12_interval_overlap_join")
    val bnl = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.isEmpty, s"j12 regressed to BroadcastNestedLoopJoin:\n$plan")
  }

  test("j10 Bloom probe is a native codegen predicate on the fact scan, below every exchange") {
    val plan = planOf("j10_bloom_semi_join")
    // no UDF anywhere: the probe must not break whole-stage codegen
    assert(!plan.toString.contains("UDF"),
      s"j10 carries a UDF on a hot path:\n$plan")
    val bloomFilters = plan.collect {
      case f: FilterExec if f.condition.exists(
        _.isInstanceOf[graft.expressions.BloomMightContain]) => f
    }
    assert(bloomFilters.nonEmpty, s"no bloom_might_contain Filter in:\n$plan")
    // the filter's subtree reaches the parquet scan with NO exchange
    // in between: rows drop before any shuffle, which is the entire
    // value of the runtime-filter pattern
    bloomFilters.foreach { f =>
      assert(f.child.collect { case e: Exchange => e }.isEmpty,
        s"bloom filter sits above an exchange:\n$plan")
      assert(f.child.collect { case s: FileSourceScanExec => s }.nonEmpty,
        s"bloom filter is not on the file scan:\n$plan")
    }
  }

  /** The scaladoc single-shuffle claims, pinned: the DATA shuffle
    * count must be exactly one (the hash partitioning on the key that
    * the stacked windows / running-last share); the only other
    * exchange allowed is the final RangePartitioning the query's
    * presentation ORDER BY adds for the oracle compare.
    */
  private def assertSingleHashShuffle(name: String): Unit = {
    // exchanges only exist after EnsureRequirements, so read the
    // executedPlan's string form (the AQE wrapper prints its full
    // initial plan; its children are inaccessible until execution)
    val plan = graft.queries.Registry.queries(name)(spark, d)
      .queryExecution.executedPlan.toString
    val hash = "Exchange hashpartitioning".r.findAllIn(plan).size
    val range = "Exchange rangepartitioning".r.findAllIn(plan).size
    val all = "Exchange ".r.findAllIn(plan).size
    assert(hash == 1,
      s"$name must shuffle its data exactly once, found $hash:\n$plan")
    assert(all == hash + range && range <= 1,
      s"$name has unexpected exchanges:\n$plan")
  }

  test("j5 as-of join is union + running last over ONE shuffle") {
    assertSingleHashShuffle("j5_asof_join")
  }

  test("j13 nearest join runs both window arms over ONE shuffle") {
    // backward last() and forward first() share partitioning AND sort
    // order, so the second Window stacks on the first without a new
    // exchange — the whole direction-agnostic lookup is one shuffle
    assertSingleHashShuffle("j13_nearest_event_join")
  }

  test("g29 funnel stacks all three stage windows AND the user collapse over ONE shuffle") {
    assertSingleHashShuffle("g29_funnel")
  }

  test("g20 sessionize stacks both windows AND the rollup over ONE shuffle") {
    assertSingleHashShuffle("g20_sessionize")
  }

  test("c3 packByBudget runs its packing window over ONE shuffle") {
    assertSingleHashShuffle("c3_token_packing")
  }

  test("c13 pack offsets share c3's single window pass — still ONE shuffle") {
    assertSingleHashShuffle("c13_pack_offsets")
  }

  test("j14 SCD2 build runs lead + successor test over ONE shuffle") {
    assertSingleHashShuffle("j14_scd2")
  }

  /** g31's pair source, rebuilt inline: the registry query reads the
    * memoized co-occurrence artifact and returns a MATERIALIZED
    * (checkpointed) result whose final plan hides the join tree, so
    * the triangle pins drive the operator directly in lazy mode.
    */
  private def trianglePairs = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$d/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy("o").agg(sort_array(collect_set(col("p"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS a, y AS b))))"))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
  }

  test("g31 triangles (broadcast mode) never shuffles a join: every join is broadcast (no wedge mass on the wire)") {
    // the edge-iterator's entire point: degree attach and adjacency
    // intersect ride broadcast joins, so the Σout-deg² wedge/intersect
    // mass is generated and consumed inside map stages — a
    // SortMerge/ShuffledHash join here means candidate pairs are
    // crossing an exchange again (the 35 s first cut)
    val plan = graft.operators.Graph
      .triangleCounts(trianglePairs, materialize = false)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"g31 has a shuffled join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"g31 lost its broadcast joins:\n$plan")
  }

  test("triangles shuffled mode: no broadcast of the |E|-sized adjacency — the billion-edge fallback plans shuffled joins") {
    // forced Some(false) (what auto mode picks past broadcastMaxEdges):
    // the SAME algebra must run with the adjacency shuffled, never
    // funneled through the driver
    val plan = graft.operators.Graph
      .triangleCounts(trianglePairs, broadcastAdj = Some(false),
        materialize = false)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"shuffled mode must plan shuffled joins:\n$plan")
  }

  test("g32 cohort retention: one user shuffle + one output-sized aggregate shuffle") {
    val plan = graft.queries.Registry.queries("g32_cohort_retention")(spark, d)
      .queryExecution.executedPlan.toString
    val hash = "Exchange hashpartitioning".r.findAllIn(plan).size
    val range = "Exchange rangepartitioning".r.findAllIn(plan).size
    val all = "Exchange ".r.findAllIn(plan).size
    assert(hash == 2, s"g32 must shuffle exactly twice, found $hash:\n$plan")
    assert(all == hash + range && range <= 1,
      s"g32 has unexpected exchanges:\n$plan")
  }

  test("g33 item similarity ranks through the bounded k-heap, never a rank window over the pair list") {
    val plan = graft.queries.Registry.queries("g33_item_similarity")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"g33 regressed to a rank window over the full scored pair list:\n$plan")
    assert(plan.contains("TopKAgg") || plan.contains("topkagg"),
      s"g33 lost the bounded k-heap aggregate:\n$plan")
  }

  /** The map-ONLY scaladoc claims, pinned: zero data shuffles — the
    * only exchange allowed is the final RangePartitioning from the
    * presentation ORDER BY. If a per-doc scalar ever regresses to an
    * explode+groupBy (reshuffling every token instance) or the chunk
    * explode picks up a join, a hash exchange appears and this fails.
    */
  private def assertMapOnly(name: String): Unit = {
    val plan = graft.queries.Registry.queries(name)(spark, d)
      .queryExecution.executedPlan.toString
    val hash = "Exchange hashpartitioning".r.findAllIn(plan).size
    val range = "Exchange rangepartitioning".r.findAllIn(plan).size
    val all = "Exchange ".r.findAllIn(plan).size
    assert(hash == 0,
      s"$name must not shuffle its data, found $hash hash exchanges:\n$plan")
    assert(all == range && range <= 1,
      s"$name has unexpected exchanges:\n$plan")
  }

  test("t12 repetition metrics stay map-only (array-local mode, no token reshuffle)") {
    assertMapOnly("t12_repetition")
  }

  test("c10 repeat upsampling stays map-only (sequence explode, no factor-table join)") {
    assertMapOnly("c10_repeat_upsample")
  }

  test("c11 chunking stays map-only (array-local slices riding the explode)") {
    assertMapOnly("c11_chunk_documents")
  }

  test("c14 quality-weighted sample stays map-only (row-local rate, no policy join)") {
    assertMapOnly("c14_quality_weighted_sample")
  }

  test("c12 temperature mixture shuffles only the tiny lang counts and broadcasts the policy") {
    // two-pass global-stats shape: the ONLY hash exchange is the
    // per-language count aggregate (|langs| partial rows), the policy
    // comes back as a broadcast, and the corpus rows themselves never
    // shuffle except the presentation sort. A sort-merge join here
    // would mean the full corpus shuffles on lang — the 100 TB defect.
    val plan = graft.queries.Registry.queries("c12_temperature_mixture")(spark, d)
      .queryExecution.executedPlan.toString
    val hash = "Exchange hashpartitioning".r.findAllIn(plan).size
    val bcast = "BroadcastExchange".r.findAllIn(plan).size
    assert(hash == 1,
      s"c12 must shuffle only the lang counts, found $hash hash exchanges:\n$plan")
    assert(bcast >= 1 && plan.contains("BroadcastHashJoin"),
      s"c12 policy join must broadcast:\n$plan")
  }

  test("t13 percentile filter shuffles only the bounded sample heap; the corpus never shuffles") {
    // two-pass global-stats shape with a quantile policy: the ONLY
    // hash exchange is the per-lang bottom-64 sample aggregate (the
    // median windows reuse its lang partitioning), the sampled VALUES
    // ride the heap inside the packed score (no join back to the
    // corpus), the |langs| thresholds broadcast back over a map-only
    // corpus filter. A second hash exchange here means the corpus
    // shuffled — the 100 TB defect.
    val plan = graft.queries.Registry.queries("t13_quality_percentile")(spark, d)
      .queryExecution.executedPlan.toString
    val hash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hash == 1,
      s"t13 must shuffle only the sample heap, found $hash hash exchanges:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 1 &&
      !plan.contains("SortMergeJoin"),
      s"t13 policy join must be the only (broadcast) join:\n$plan")
  }

  test("t16 BM25 scoring never shuffles the corpus: one broadcast stats agg + TakeOrdered") {
    // the full-scan lexical search shape: per-term tf is array-local
    // (no token explode), the ONLY aggregate is the one-row corpus
    // stats frame that comes back as a broadcast, and top-k is
    // TakeOrdered — a hash exchange here means the corpus shuffled
    // for a map-only scoring pass
    val plan = graft.queries.Registry.queries("t16_bm25_search")(spark, d)
      .queryExecution.executedPlan.toString
    val hash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hash == 0,
      s"t16 must not hash-shuffle the corpus, found $hash:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"t16's top-10 must be TakeOrdered, not a global sort:\n$plan")
  }

  test("v19 range search never shuffles: pruned scan, broadcast probe join, filter") {
    // range search has no k-heap and therefore no aggregation: the
    // plan must be scan → BroadcastHashJoin → filter → project with
    // ZERO hash exchanges (the presentation sort's range exchange is
    // the only allowed one). A hash exchange here means either the
    // corpus shuffled for the join (broadcast regression) or an
    // aggregate crept in — both 100 TB defects for a map-only scan.
    val plan = graft.queries.Registry.queries("v19_range_search")(spark, d)
      .queryExecution.executedPlan.toString
    val hash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hash == 0,
      s"v19 must not hash-shuffle, found $hash:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"v19's probe join must broadcast the probe cells:\n$plan")
  }

  test("v17 knn join meets the corpus in a SHUFFLED hash join on cell_id, probe side never broadcast") {
    // the entire point of knnJoin vs ivfTopK: the query side is a
    // large table, so the cell_id join must be a shuffled hash join —
    // a broadcast of the probe side here is the 10^9-queries defect
    // this operator exists to avoid. (The only broadcasts allowed are
    // the BOUNDED centroid artifacts inside probeCells/probe-side
    // plumbing — never a join keyed on cell_id.)
    val plan = planOf("v17_knn_join")
    val cellShuffled = plan.collect {
      case j: ShuffledHashJoinExec
        if j.leftKeys.exists(_.references.exists(_.name == "cell_id")) => j
    }
    assert(cellShuffled.nonEmpty,
      s"v17's cell_id join is not a shuffled hash join:\n$plan")
    val cellBroadcast = plan.collect {
      case j: BroadcastHashJoinExec
        if j.leftKeys.exists(_.references.exists(_.name == "cell_id")) => j
    }
    assert(cellBroadcast.isEmpty,
      s"v17's cell_id join regressed to a broadcast:\n$plan")
  }

  /** t15's distinct-shingle subtree feeds FOUR consumers (the df
    * valve, both sides of the pair self-join, the per-source sizes) —
    * at 100 TB re-executing the shingle hashing per consumer is real
    * money, so the reuse is pinned, not assumed (r11 judge ask). The
    * explicit isnotnull(group) inside [[graft.operators.Dedup
    * .sourceOverlap]] is what makes all four copies byte-identical
    * (without it the self-join's src_a < src_b inferred a constraint
    * the valve branch lacked, and the subtree BUILT TWICE — the exact
    * regression this test catches). Counts come from the FINAL
    * adaptive plan: exactly one materialized (group, h) exchange,
    * three ReusedExchange references to it, and exactly two parquet
    * scans total (text once, metadata once).
    */
  test("t15 builds the distinct-shingle subtree once; all other consumers exchange-reuse it") {
    val df = graft.queries.Registry.queries("t15_source_overlap")(spark, d)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // a ReusedExchange line repeats the reused Exchange's description,
    // so materialized builds = all mentions minus the reuse references
    val shingleMentions =
      "Exchange hashpartitioning\\(source#\\d+, h#\\d+L".r.findAllIn(plan).size
    val shingleReuses =
      "ReusedExchange \\[source#\\d+, h#\\d+L\\]".r.findAllIn(plan).size
    val shingleBuilds = shingleMentions - shingleReuses
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(shingleBuilds == 1,
      s"distinct-shingle subtree must materialize exactly once, found $shingleBuilds:\n$plan")
    assert(shingleReuses == 3,
      s"expected 3 ReusedExchange consumers of the shingle subtree, found $shingleReuses:\n$plan")
    assert(scans == 2,
      s"t15 must scan documents exactly twice (text + metadata), found $scans:\n$plan")
  }

  /** Outermost subexpressions of a lambda body that read the row but
    * no lambda variable and are not plain attributes: values computed
    * from the enclosing row. A lambda is interpreted and never
    * subexpression-eliminated, so each one re-evaluates once per array
    * element (an inline `toks(text)` under the bigram lambda re-runs
    * the regex split for every bigram — O(tokens²) per document).
    */
  private def capturedIn(e: Expression): Seq[Expression] = e match {
    case _: Attribute => Nil
    case _ if e.references.nonEmpty &&
      !e.exists(_.isInstanceOf[NamedLambdaVariable]) => Seq(e)
    case _ => e.children.flatMap(capturedIn)
  }

  test("no higher-order-function lambda captures a computed row expression in any lazily built registry family") {
    import graft.queries._
    // stream and warehouse queries drain or write while they build, so
    // they stay out of a build-only sweep
    val families = ParityQueries.qs ++ AggQueries.qs ++ TextQueries.qs ++
      SimilarityQueries.qs ++ MultimodalQueries.qs ++ CorpusQueries.qs
    val flagged = families.flatMap { q =>
      q.fn(spark, d).queryExecution.analyzed
        .collectWithSubqueries { case p => p.expressions }.flatten
        .flatMap(_.collect { case h: HigherOrderFunction => h })
        .flatMap(_.functions.flatMap(capturedIn)).distinct
        .map(e => s"${q.name}: ${e.sql}")
    }
    assert(flagged.isEmpty,
      s"lambdas capture computed expressions (materialize them in a projection first):\n${flagged.mkString("\n")}")
  }

  /** t6 and t12 build the same bigram list independently, so their
    * per-doc counts must agree — a value pin for t6 beside the lambda
    * guard above, which constrains how t6 builds that list.
    */
  test("t6 bigram counts match t12's per doc at sf0.001, and n_distinct = n_bigrams - n_dup_bigrams") {
    import spark.implicits._
    val t12 = graft.queries.Registry.queries("t12_repetition")(spark, d)
      .select("doc_id", "n_bigrams", "n_dup_bigrams")
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, dup) => id -> (n, dup) }.toMap
    val got = graft.queries.Registry.queries("t6_repetition")(spark, d)
      .select("doc_id", "n_bigrams", "n_distinct")
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, nd) => id -> (n, nd) }.toMap
    assert(got.keySet == t12.keySet && got.nonEmpty)
    assert(got.values.exists(_._1 > 0), "sf0.001 has no multi-token document")
    got.foreach { case (id, (n, nd)) =>
      val (n12, dup12) = t12(id)
      assert(n == n12, s"doc $id: t6 n_bigrams $n vs t12 $n12")
      assert(nd == n - dup12, s"doc $id: n_distinct $nd vs ${n12 - dup12}")
    }
  }

  /** Exercises the generated code path end-to-end (doGenCode, not just
    * the interpreted eval the unit spec hits via collect on tiny
    * frames): count through the full j10 plan at sf0.001 and compare
    * to the oracle-shaped plain EXISTS.
    */
  test("j10 executes through codegen with the expected row count") {
    val got = graft.queries.Registry.queries("j10_bloom_semi_join")(spark, d)
    val plain = {
      import org.apache.spark.sql.functions._
      val o = graft.engine.Tables.orders(spark, d)
        .filter(col("o_totalprice") > 470000)
        .select(col("o_orderkey").as("l_orderkey"))
      graft.engine.Tables.lineitem(spark, d)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .join(o, Seq("l_orderkey"), "left_semi")
        .groupBy("l_orderkey").count()
    }
    assert(got.count() == plain.count())
  }
}
