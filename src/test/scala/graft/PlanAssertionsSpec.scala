package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, FormattedMode, InputAdapter, SortExec,
  SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Plan-quality regression tests: the physical plans that make these
  * queries viable at 100 TB are asserted, not just eyeballed — a change
  * that silently drops a pushdown or broadcast fails CI.
  */
class PlanAssertionsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def formatted(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(FormattedMode)

  /** Every BroadcastNestedLoopJoin in the plan must be UNCONDITIONED
    * (a deliberate tiny-side cross join, e.g. a 1-row scalar or a
    * constant grid). FormattedMode prints the join condition in the
    * numbered details section, NOT on the operator line, so this scans
    * both: the operator lines (legacy check) and each BNLJ detail
    * block's `Join condition:` entry — a conditioned BNLJ (`<`/`=`
    * predicate evaluated per row-pair, the O(n·m) shape) fails.
    */
  private def assertBnljUnconditioned(plan: String): Unit = {
    val opLines = "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(plan).toList
    assert(opLines.forall(l => !l.contains("<") && !l.contains("=")),
      s"conditioned nested-loop joins are banned here: $opLines")
    val blocks = plan.split("\n\\s*\n").toSeq.filter(
      _.linesIterator.nextOption().exists(l =>
        l.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")))
    // guard against vacuous passes: a BNLJ in the tree must have a
    // parsable detail block, else FormattedMode's layout changed and
    // this check is silently checking nothing
    assert(opLines.isEmpty || blocks.nonEmpty,
      "BNLJ present in plan tree but no detail block parsed")
    blocks.foreach { b =>
      val cond = b.linesIterator.find(_.startsWith("Join condition:"))
      assert(cond.forall(_.trim == "Join condition: None"),
        s"BNLJ detail block must carry no join condition:\n$b")
    }
  }

  test("q1: shipdate filter is pushed into the parquet scan; columns pruned") {
    val plan = formatted("q1_pricing_summary")
    assert(plan.contains("LessThanOrEqual(l_shipdate"), "filter not pushed down")
    assert(!plan.contains("l_orderkey"), "unused columns must be pruned from the scan")
  }

  test("q2/q5: dimension joins broadcast — no shuffle of the fact side for dims") {
    assert(formatted("q2_revenue_by_segment").contains("BroadcastHashJoin"))
    val q5 = formatted("q5_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(q5).size >= 4,
      "star-schema dims must broadcast")
  }

  test("q3: semi join on the broadcast filtered dimension") {
    val plan = formatted("q3_top_orders")
    assert(plan.contains("LeftSemi"))
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"),
      "segment filter must reach the customer scan")
  }

  // q40 is served from the landed truth table, so the assertion runs on
  // the BUILD pipeline — the plan that actually does the brute scoring
  test("q40 KNN build: rank filter pushes partial top-k below the shuffle") {
    val plan = graft.operators.Vectors.knnBrute(spark, sfDir, 5)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("WindowGroupLimit"))
  }

  test("q8 top-k: sort+limit plans as TakeOrderedAndProject, not a global sort") {
    assert(formatted("q8_top_customers").contains("TakeOrderedAndProject"))
  }

  test("q126 Q17 shape: brand filter pushed to part scan, part keys " +
      "broadcast, per-part avg is ONE window over ONE lineitem pass") {
    val plan = formatted("q126_small_qty_revenue")
    assert(plan.contains("EqualTo(p_brand,Brand#4)"),
      "brand filter must reach the part parquet scan")
    assert(plan.contains("BroadcastHashJoin"),
      "the brand's part keys must broadcast into lineitem")
    // the correlated avg decorrelates to a partitioned window, NOT a
    // second lineitem aggregate joined back — one scan, one shuffle
    assert("\\(\\d+\\) Window".r.findAllIn(plan).size == 1)
    assert("Location[^\\n]*lineitem".r.findAllIn(plan).size == 1,
      "lineitem must be scanned exactly once")
  }

  test("q127 Q20 shape: ONE part-keyed fact exchange serves the pair " +
      "aggregate AND the window; supplier joined LeftSemi") {
    val plan = formatted("q127_dominant_suppliers")
    assert(plan.contains("LeftSemi"), "supplier filter must be a semi join")
    assert("\\(\\d+\\) Window".r.findAllIn(plan).size == 1)
    assert("Location[^\\n]*lineitem".r.findAllIn(plan).size == 1,
      "lineitem must be scanned exactly once")
    // r17: this lake's (part,supplier) pairs are ~distinct per row
    // (measured pairs/rows 0.985 at sf0.1, rising with SF), so the pair
    // aggregate's own exchange moved the same bytes twice. One
    // hash(l_partkey) repartition feeds the aggregate and the window —
    // the (partkey, suppkey) exchange must NOT come back
    assert("hashpartitioning\\(l_partkey[^,)]*, l_suppkey".r
      .findAllIn(plan).isEmpty,
      "pair-keyed exchange would double the fact shuffle on this lake")
    assert("hashpartitioning\\(l_partkey".r.findAllIn(plan).size == 1,
      "exactly one part-keyed fact exchange")
  }

  test("q128 Q15 shape: shipdate pushed to scan; scalar max joins back " +
      "as a broadcast EQUI join — no sort/window over suppliers") {
    val plan = formatted("q128_top_revenue_supplier")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"),
      "quarter filter must reach the lineitem scan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      "max-revenue row and supplier dim must both broadcast")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "the max must join on the value (equi), not cross+filter")
    assert("\\(\\d+\\) Window".r.findAllIn(plan).isEmpty,
      "no window over all suppliers — the max is a scalar aggregate")
  }

  test("q129 Q13 shape: priority filter pushed to the orders scan; " +
      "the fact aggregates BEFORE the outer join (each table read once)") {
    val plan = formatted("q129_order_count_distribution")
    assert("Not\\(EqualTo\\(o_orderpriority".r.findFirstIn(plan).isDefined,
      "qualifying-order filter must reach the orders parquet scan")
    assert("Location[^\\n]*/orders".r.findAllIn(plan).size == 1,
      "orders must be scanned exactly once")
    assert("Location[^\\n]*/customer".r.findAllIn(plan).size == 1,
      "customer must be scanned exactly once")
    assert(plan.contains("LeftOuter"),
      "zero-order customers must survive (left outer join)")
    // the literal SQL's plan shuffles every ORDER row through the join;
    // ours joins customer to the per-customer SUMMARY — so no exchange
    // may partition on a raw orders column other than the aggregate's
    // own o_custkey grouping
    assert(!plan.contains("hashpartitioning(o_orderkey"),
      "raw order rows must not be shuffled through the join")
  }

  test("q130 Q19 shape: per-side disjunction implications reach BOTH " +
      "scans; residual OR evaluates inside a broadcast join") {
    val plan = formatted("q130_disjunctive_revenue")
    assert("PushedFilters[^\\n]*p_brand".r.findFirstIn(plan).isDefined,
      "brand disjunction must push to the part scan")
    assert("PushedFilters[^\\n]*l_quantity".r.findFirstIn(plan).isDefined ||
      "GreaterThanOrEqual\\(l_quantity".r.findFirstIn(plan).isDefined,
      "quantity-range disjunction must push to the lineitem scan")
    assert("In\\(l_returnflag".r.findFirstIn(plan).isDefined,
      "common returnflag conjunct must push to the lineitem scan")
    assert(plan.contains("BroadcastHashJoin"),
      "the brand-filtered part side must broadcast")
    assert("Location[^\\n]*/lineitem".r.findAllIn(plan).size == 1,
      "lineitem must be scanned exactly once")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the OR must ride the equi join, not a nested loop")
  }

  test("q131 Q22 shape: scalar-subquery threshold stays a parallel " +
      "Filter (no 1-row join); NOT EXISTS decorrelates to an anti join " +
      "with the date bound pushed to the pruned orders scan") {
    val plan = formatted("q131_sales_opportunity")
    assert("In\\(c_nationkey".r.findAllIn(plan).size >= 2,
      "nation-set filter must reach BOTH customer scan passes " +
        "(main + scalar-subquery stats pass)")
    assert(plan.contains("scalar-subquery") || plan.contains("Subquery"),
      "the balance threshold must be a scalar subquery, not a join")
    assert(plan.contains("LeftAnti"),
      "NOT EXISTS must plan as a left anti join")
    assert("GreaterThanOrEqual\\(o_orderdate".r.findFirstIn(plan).isDefined,
      "recent-order date bound must push to the orders scan")
    assert("Location[^\\n]*/orders".r.findAllIn(plan).size == 1 &&
      "ReadSchema[^\\n]*o_custkey".r.findFirstIn(plan).isDefined &&
      !plan.contains("o_totalprice"),
      "orders must be scanned once, pruned to (o_custkey, o_orderdate)")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "the scalar threshold must not become a nested-loop join")
  }

  test("q132 Q11 shape: lineitem scanned once — the global-total scalar " +
      "subquery reads the per-part summary's reused exchange") {
    // subquery exchange reuse under AQE is a RUNTIME decision: execute,
    // then audit the final adaptive plan (the section before the
    // initial-plan echo), whose subquery final plans print inline
    val df = SparkEntry.queries("q132_important_parts")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("ReusedExchange"),
      "the subquery's summary shuffle must reuse the main plan's stage")
    assert(plan.contains("ReusedSubquery"),
      "the struct's two field reads must collapse to one subquery run")
    val pre = formatted("q132_important_parts")
    assert("ReadSchema[^\\n]*l_partkey".r.findFirstIn(pre).isDefined &&
      !pre.contains("l_shipdate"),
      "scan pruned to the two value columns")
    assert(!pre.contains("BroadcastNestedLoopJoin") &&
      !pre.contains("CartesianProduct"),
      "the global total must not become a nested-loop join")
  }

  test("q133 Q16 shape: brand/size filters pushed to the part scan; " +
      "deny-list and part both broadcast; the distinct aggregate's " +
      "shuffle carries the deduped triple, never raw fact rows") {
    val plan = formatted("q133_supplier_diversity")
    assert("Not\\(EqualTo\\(p_brand".r.findFirstIn(plan).isDefined &&
      "In\\(p_size".r.findFirstIn(plan).isDefined,
      "brand/size predicates must reach the part parquet scan")
    assert(plan.contains("LeftAnti"),
      "the deny-list must plan as an anti join")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      "deny-list AND part side must both broadcast — the fact table " +
        "never shuffles through a join")
    assert("Location[^\\n]*/lineitem".r.findAllIn(plan).size == 1 &&
      "ReadSchema[^\\n]*l_partkey:bigint,l_suppkey".r.findFirstIn(plan)
        .isDefined,
      "lineitem scanned once, pruned to (l_partkey, l_suppkey)")
    assert("hashpartitioning\\(p_brand[^\\n]*l_suppkey".r.findFirstIn(plan)
      .isDefined,
      "the distinct rewrite must shuffle the (brand, size, suppkey) " +
        "triple — map-side dedup before the exchange")
  }

  test("q135 Q9 shape: part-name filter pushed to the scan; every " +
      "dimension broadcasts; fact rows reach the (nation, year) " +
      "aggregate without a pre-aggregation hash shuffle") {
    val plan = formatted("q135_profit_by_nation_year")
    assert(plan.contains("StringStartsWith(p_name,red)"),
      "the part-name prefix filter must push into the part scan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 4,
      "part, supplier, nation (and at this SF orders) must broadcast — " +
        "fact rows never build a hash side")
    assert("Location[^\\n]*/lineitem".r.findAllIn(plan).size == 1 &&
      "ReadSchema[^\\n]*l_quantity".r.findFirstIn(plan).isDefined &&
      !plan.contains("l_shipdate") && !plan.contains("l_tax"),
      "lineitem scanned once, pruned to its six needed columns")
    assert("ReadSchema[^\\n]*o_orderdate".r.findFirstIn(plan).isDefined &&
      !plan.contains("o_custkey") && !plan.contains("o_totalprice"),
      "orders pruned to (o_orderkey, o_orderdate)")
    // the aggregate's exchange is the only hash shuffle: partial
    // HashAggregate reduces each task to ~|nations|x|years| rows before
    // anything moves. (At 100 TB the orders join adds ONE key shuffle;
    // at this SF Catalyst broadcasts orders, so zero pre-agg shuffles.)
    assert("hashpartitioning\\(nation".r.findAllIn(plan).size == 1 &&
      "hashpartitioning".r.findAllIn(plan).size == 1,
      "exactly one hash exchange — the (nation, year) summary")
    // two operators, each printed twice (tree line + detail block)
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(plan).size == 2,
      "partial + final aggregate pair (map-side combine)")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q136 sampled quantiles: one lineitem scan, exact + sampled " +
      "percentiles in the SAME partial/final aggregate pair, one " +
      "data shuffle") {
    val plan = formatted("q136_sampled_quantiles")
    assert("Location[^\\n]*/lineitem".r.findAllIn(plan).size == 1,
      "the audit must not scan the fact table twice")
    assert("ReadSchema[^\\n]*l_linenumber".r.findFirstIn(plan).isDefined &&
      !plan.contains("l_shipdate") && !plan.contains("l_quantity"),
      "scan pruned to the 4 needed columns")
    assert("partial_percentile".r.findAllIn(plan).size >= 4,
      "exact and sampled percentiles must both run map-side partial")
    assert("\\(\\d+\\) ObjectHashAggregate".r.findAllIn(plan).size == 2,
      "one partial/final aggregate pair carries all six aggregates")
    assert("hashpartitioning".r.findAllIn(plan).size == 1,
      "exactly one data shuffle (the group-by exchange)")
  }

  test("q137 Q10 shape: fact filters pushed, top-20 taken on the " +
      "per-customer summary BEFORE the dimension join, and the 20-row " +
      "answer broadcast into customer⋈nation") {
    val plan = formatted("q137_returned_item_revenue")
    assert(plan.contains("EqualTo(l_returnflag,R)"),
      "returnflag filter must push into the lineitem scan")
    assert("GreaterThanOrEqual\\(o_orderdate".r.findFirstIn(plan).isDefined &&
      "LessThan\\(o_orderdate".r.findFirstIn(plan).isDefined,
      "date window must push into the orders scan")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-20 must be a TakeOrdered on the summary, not a global sort")
    // the TakeOrdered side (the 20-row answer) must be the BUILD side
    // of a broadcast join — customer is fact-sized at scale and must
    // never be the broadcast side of this plan
    assert(plan.contains("BroadcastHashJoin"),
      "dimension attach must be a broadcast join")
    assert(("BroadcastExchange[^\\n]*\\n[^\\n]*TakeOrderedAndProject".r
        .findFirstIn(plan).isDefined ||
      "BroadcastExchange[^\\n]*\\n[^\\n]*Filter[^\\n]*\\n[^\\n]*TakeOrderedAndProject"
        .r.findFirstIn(plan).isDefined),
      "the broadcast side must be the top-20 summary itself")
    assert("hashpartitioning".r.findAllIn(plan).size == 1,
      "one fact shuffle: the per-customer aggregate")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q140 Q7 shape: shipdate window pushed to the lineitem scan, " +
      "nation filter folded into both broadcast dimension attaches, " +
      "fact rows pre-aggregated to a per-customer summary before " +
      "customer attaches") {
    val plan = formatted("q140_volume_shipping")
    assert("GreaterThanOrEqual\\(l_shipdate".r.findFirstIn(plan).isDefined &&
      "LessThan\\(l_shipdate".r.findFirstIn(plan).isDefined,
      "the shipdate window must push into the lineitem scan")
    assert("In\\(n_name".r.findAllIn(plan).size == 2,
      "the two-nation filter must push into BOTH nation scans " +
        "(supplier role and customer role)")
    assert("Location[^\\n]*/lineitem".r.findAllIn(plan).size == 1 &&
      !plan.contains("l_quantity") && !plan.contains("l_returnflag"),
      "lineitem scanned once, pruned to its five needed columns")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      "supplier⋈nation and customer⋈nation must broadcast — fact rows " +
        "never build a hash side")
    // the disjunctive PAIR predicate can only apply after both roles
    // attach; it must sit on the summary join, not re-scan anything
    assert(!plan.contains("CartesianProduct"))
    assertBnljUnconditioned(plan)
    // fact rows aggregate to the (custkey, supp_nation, year) summary
    // before the customer join: the partial/final pair for that
    // aggregate plus the final (supp, cust, year) rollup = 2 aggregate
    // pairs, and the only hash exchanges carry summaries
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(plan).size == 4,
      "two partial+final aggregate pairs (per-customer summary, then " +
        "the nation-pair rollup)")
    assert("hashpartitioning\\(c_custkey".r.findFirstIn(plan).isDefined ||
      "hashpartitioning\\(o_custkey".r.findFirstIn(plan).isDefined ||
      "hashpartitioning".r.findAllIn(plan).isEmpty,
      "any data shuffle carries the per-customer summary, not raw fact rows")
  }

  test("q141 Q21 shape: the EXISTS/NOT-EXISTS pair collapses into one " +
      "per-order aggregate — lineitem scanned once, one fact shuffle, " +
      "supplier attached by broadcast, top-100 as TakeOrdered") {
    val plan = formatted("q141_suppliers_kept_waiting")
    assert("Location[^\\n]*/lineitem".r.findAllIn(plan).size == 1,
      "the self-EXISTS rewrite must NOT scan the fact table twice")
    assert(!plan.contains("l_extendedprice") && !plan.contains("l_shipdate"),
      "lineitem pruned to (l_orderkey, l_suppkey, l_returnflag)")
    assert(plan.contains("EqualTo(o_orderstatus,F)"),
      "the order-status filter must push into the orders scan")
    assert("hashpartitioning\\(l_orderkey".r.findAllIn(plan).size <= 1,
      "at most ONE orderkey exchange — the groupBy must ride the semi " +
        "join's partitioning, never a second fact shuffle")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-100 must be a TakeOrdered, not a global sort")
    assert(plan.contains("BroadcastHashJoin"),
      "the supplier-name attach must broadcast")
    assert(!plan.contains("CartesianProduct"))
    assertBnljUnconditioned(plan)
  }

  test("q143 Q4 shape: EXISTS planned as a LEFT SEMI join with both " +
      "filters pushed to the scans") {
    val plan = formatted("q143_order_priority_check")
    assert(plan.contains("LeftSemi"),
      "the EXISTS must plan as a semi join — never duplicate orders")
    assert("GreaterThanOrEqual\\(o_orderdate".r.findFirstIn(plan).isDefined,
      "date window pushed into the orders scan")
    assert(plan.contains("EqualTo(l_returnflag,R)"),
      "returnflag filter pushed into the lineitem scan")
    assert("ReadSchema[^\\n]*l_orderkey".r.findFirstIn(plan).isDefined &&
      !plan.contains("l_extendedprice"),
      "lineitem pruned to (l_orderkey, l_returnflag)")
  }

  test("q146 Q6 shape: all three predicates pushed into ONE lineitem " +
      "scan, no join, one aggregate pair") {
    val plan = formatted("q146_forecast_revenue")
    assert("GreaterThanOrEqual\\(l_shipdate".r.findFirstIn(plan).isDefined &&
      "GreaterThanOrEqual\\(l_discount".r.findFirstIn(plan).isDefined &&
      "LessThan\\(l_quantity".r.findFirstIn(plan).isDefined,
      "date window, discount band and quantity cap must ALL push " +
        "into the parquet scan")
    assert(!plan.contains("Join"), "Q6 has no join")
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(plan).size == 2,
      "one partial/final aggregate pair")
  }

  test("q149 no-equi-key range join: the time predicate rides a bucket " +
      "EQUI-join (probe fanned to b-1/b/b+1), never a cross join; the " +
      "type filter pushes into the probe scan") {
    val plan = formatted("q149_global_range_join")
    assert(plan.contains("EqualTo(event_type,error)"),
      "probe-side filter must reach the parquet scan")
    assert(("BroadcastHashJoin".r.findAllIn(plan).nonEmpty ||
      "SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).nonEmpty),
      "the bucket key must plan an equi-join (hash/sort-merge)")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "a no-equi-key range join must NOT fall back to a cross join — " +
        "the synthetic bucket key exists to carry it")
    assert(plan.contains("explode"),
      "the probe fan-out to 3 buckets is the rewrite's signature")
  }

  test("q147 Q2 shape: the catalog aggregate is the only fact shuffle; " +
      "part filter and region suppliers broadcast BEFORE the per-part " +
      "window MIN; ties kept; top-100 as TakeOrdered") {
    val plan = formatted("q147_min_cost_supplier")
    assert("LessThanOrEqual\\(p_size".r.findFirstIn(plan).isDefined &&
      plan.contains("EqualTo(p_type,LARGE)"),
      "part size/type filters must push into the part scan")
    assert(plan.contains("EqualTo(r_name,ASIA)"),
      "region filter pushed into the region scan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      "part, nation, region and the supplier set must broadcast")
    assert("hashpartitioning\\(l_partkey[^\\n]*l_suppkey".r
        .findFirstIn(plan).isDefined ||
      "hashpartitioning\\(p_key[^\\n]*s_key".r.findFirstIn(plan).isDefined,
      "the (part, supplier) catalog aggregate is the fact shuffle")
    assert("\\(\\d+\\) Window".r.findAllIn(plan).nonEmpty &&
      "hashpartitioning\\(p_key".r.findFirstIn(plan).isDefined,
      "the correlated MIN runs as a window partitioned by part")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-100 must be a TakeOrdered, not a global sort")
    assert(!plan.contains("CartesianProduct"))
    assertBnljUnconditioned(plan)
  }

  // q42 is served from the materialized exact-pair table, so both
  // assertions run on the BUILD pipeline — the plan that actually does
  // the scoring and pair generation.
  private def q42BuildPlan: String = graft.operators.Vectors
    .embedNearDupBuild(spark, sfDir, 0.4, 8, 8)
    .queryExecution.explainString(FormattedMode)

  test("q42 near-dup scoring runs the codegen'd float_dot, not interpreted HOFs") {
    val plan = q42BuildPlan
    assert(plan.contains("float_dot"))
    assert(!plan.contains("aggregate(zip_with"),
      "hot path must not fall back to higher-order functions")
  }

  test("q42: pair generation is an equi-join, never an N×N nested loop") {
    val plan = q42BuildPlan
    assert(!plan.contains("CartesianProduct"))
    // The only nested-loop joins allowed are the deliberate O(cells)
    // centroid expansions (unconditioned, broadcast side = `vec_id < 8`
    // rows). The round-1 antipattern — BNLJ with an id inequality as the
    // join condition, i.e. an N×N pair loop — must not reappear.
    val bnlj = "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(plan).toList
    assert(bnlj.forall(l => !l.contains("<")),
      s"N×N nested-loop pair join found: $bnlj")
    assert(plan.contains("Join") && plan.contains("hashpartitioning"),
      "candidate pairs must come from a shuffled equi-join")
  }

  test("q24 count-trigger: running count over events is bucket-partitioned") {
    val plan = formatted("q24_count_trigger")
    // the O(N) windows must be partitioned by the hour bucket; the only
    // unpartitioned window runs over the O(hours) bucket summary
    assert("windowspecdefinition\\(bkt#\\d+L?,".r.findFirstIn(plan).isDefined,
      "event-side running counts must partition by bkt")
    assert("windowspecdefinition\\(ts#\\d+".r.findFirstIn(plan).isEmpty,
      "global single-partition sort over raw events must not reappear")
  }

  test("q43/q45 plane projections stay in codegen (no interpreted lambdas)") {
    // q45 is served from the materialized pair table, so assert on the
    // BUILD pipeline — the plan that actually runs the plane projections.
    val plans = Seq(
      "q43_lsh_buckets" -> formatted("q43_lsh_buckets"),
      "q45_lsh_neardup (build)" -> graft.operators.Vectors
        .lshNearDupBuild(spark, sfDir, 0.4, 6, 3)
        .queryExecution.explainString(FormattedMode))
    plans.foreach { case (q, plan) =>
      assert(plan.contains("float_dot"), s"$q must use float_dot planes")
      assert(!plan.contains("aggregate(sequence"),
        s"$q must not evaluate interpreted per-plane lambdas")
    }
  }

  test("q65 repetition: both aggregations partial-aggregate before the shuffle") {
    val plan = formatted("q65_repetition")
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      "each keyed agg must have a partial (map-side) and final stage")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      "repetition signals are join-free")
  }

  test("q68 simhash hamming: candidates come from equi-joins, never all-pairs") {
    val plan = formatted("q68_simhash_neardup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "pigeonhole chunk join must plan as an equi-join")
    assert(plan.contains("bit_count"), "verification is codegen'd bit_count(xor)")
  }

  test("q71 boilerplate: dictionary membership is an equi-join on the span") {
    val plan = formatted("q71_boilerplate")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "hot-span membership must plan as an equi-join")
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      "span counts must partial-aggregate before their shuffles")
  }

  test("q72 PQ assign: codebooks broadcast; distances stay in codegen float_dot") {
    // the code table is a LANDED stage now — assert the codegen and
    // broadcast properties on its BUILD plan, and that query time reads
    // the landed parquet instead of re-deriving it
    val build = graft.operators.Vectors.pqDistances(spark, sfDir, 4, 8)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(build.contains("BroadcastHashJoin"),
      "the 32-row codebook must broadcast — the corpus never shuffles for it")
    assert(build.contains("float_dot") && !build.contains("aggregate(zip_with"),
      "d2 terms must run the codegen'd float_dot")
    assert(!build.contains("CartesianProduct"))
    val plan = formatted("q72_pq_assign")
    assert(plan.contains("graft_mat"),
      "q72 must read the landed PQ code stage, not re-derive it")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q73 decontaminate: the eval-gram dictionary broadcasts to the corpus side") {
    val plan = formatted("q73_decontaminate")
    assert(plan.contains("BroadcastHashJoin"),
      "the benchmark n-gram dictionary is MB-scale — it must broadcast, " +
        "the corpus must never shuffle by gram for the membership probe")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  // the ADC score table is landed, so the LUT/codebook assertions run
  // on its BUILD plan — the plan that actually does the scoring
  test("ADC build: LUT broadcasts; distances stay in codegen float_dot") {
    val plan = graft.operators.Vectors.adcScoresBuild(spark, sfDir, 4, 8)
      .queryExecution.explainString(FormattedMode)
    assert(plan.contains("float_dot") && !plan.contains("aggregate(zip_with"),
      "ADC d2 terms must run the codegen'd float_dot")
    assert(plan.contains("BroadcastHashJoin"),
      "the per-query lookup table and codebook must broadcast")
    val bnlj = "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(plan).toList
    assert(bnlj.forall(l => !l.contains("<")),
      s"N×N nested-loop pair join found: $bnlj")
  }

  test("q102 rerank: query side broadcasts; exact stage stays candidate-bounded") {
    // stage 1 (ADC scoring) is covered by the ADC-build test above;
    // this pins stage 2 — the exact rerank over the landed shortlist
    val plan = formatted("q102_pq_rerank")
    assert(plan.contains("float_dot"),
      "stage-2 exact cosine must run the codegen'd float_dot")
    assert(plan.contains("BroadcastHashJoin"),
      "the constant-size query side must broadcast")
    val bnlj = "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(plan).toList
    assert(bnlj.forall(l => !l.contains("<")),
      s"N×N nested-loop pair join found: $bnlj")
  }

  test("q103/q104 retention composites: hash joins only, no pair blowup") {
    Seq("q103_cluster_split", "q104_crossmodal").foreach { q =>
      val plan = formatted(q)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q must stay on equi-joins over the landed label tables")
    }
  }

  test("q105 market share: dimensions broadcast, no pair blowup in the 7-way join") {
    val plan = formatted("q105_market_share")
    assert(plan.contains("BroadcastHashJoin"),
      "region-filtered customers and supplier nations must broadcast")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    // only the lineitem⋈orders fact join may need an exchange-backed join
    val smj = "SortMergeJoin".r.findAllIn(plan).length
    val shj = "ShuffledHashJoin".r.findAllIn(plan).length
    assert(smj + shj <= 1,
      s"expected at most the fact-fact join to shuffle, got smj=$smj shj=$shj")
  }

  test("q75 k-means: assignment runs codegen long_l2 against broadcast centroids") {
    val plan = formatted("q75_kmeans_train")
    assert(plan.contains("long_l2"),
      "integer distances must run the codegen'd long_l2, not interpreted HOFs")
    assert(!plan.contains("CartesianProduct"))
    val bnlj = "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(plan).toList
    assert(bnlj.forall(l => !l.contains("<")),
      s"only the k-row centroid broadcasts may nested-loop: $bnlj")
  }

  test("q66 source mix: per-source rates broadcast to the corpus scan side") {
    val plan = formatted("q66_source_mix")
    assert(plan.contains("BroadcastHashJoin"),
      "the tiny rate table must broadcast — the corpus never shuffles for it")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q77 seq pack: one per-source window, doc-count rows only, no joins") {
    val plan = formatted("q77_seq_pack")
    assert("(?s)Window".r.findAllIn(plan).size >= 1)
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"),
      "packing is pure window arithmetic — token data never joins")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "the per-source rollup must partial-aggregate")
  }

  test("q78 zipf: the window sorts the vocabulary, not the corpus") {
    val plan = formatted("q78_zipf_coverage")
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      "term frequencies must partial-aggregate BEFORE the ranking window " +
        "— the window input is vocab-sized, never corpus-sized")
    assert(plan.contains("BroadcastHashJoin"),
      "the 5-row per-language totals must broadcast")
  }

  test("q80 source KL: corpus vocabulary broadcasts; no corpus re-shuffle") {
    val plan = formatted("q80_source_kl")
    assert(plan.contains("BroadcastHashJoin"),
      "the vocabulary-sized corpus-frequency table must broadcast")
    assert(!plan.contains("CartesianProduct"),
      "the 1-row corpus total must broadcast-nested-loop, not cartesian")
  }

  test("q82 funnel: stage joins are user-keyed equi-joins, never all-pairs") {
    val plan = formatted("q82_funnel")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "stage gating must join hashed on user_id")
  }

  test("q84/q85: the tiny per-state tables broadcast back to the flag pass") {
    for (q <- Seq("q84_transitions", "q85_hourly_anomaly")) {
      val plan = formatted(q)
      assert(plan.contains("BroadcastHashJoin"),
        s"$q: row-total/moment table must broadcast, the big side never re-shuffles")
      assert(!plan.contains("CartesianProduct"))
      assert("HashAggregate".r.findAllIn(plan).size >= 4,
        s"$q: the event-sized aggregation must partial-aggregate")
    }
  }

  test("q81 SQ8: single narrow scan, error math before the only shuffle") {
    val plan = formatted("q81_sq8_error")
    assert(!plan.contains("Join"), "quantization is per-row — no joins")
    // count tree nodes only: each node also repeats in the detail section
    assert("\\(\\d+\\) Exchange".r.findAllIn(plan).size <= 2,
      "only the label rollup (and final sort) may shuffle")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "per-label stats must partial-aggregate")
  }

  test("q86 CDC: one-pass chunker — no word-level shuffle; freq via chunk-keyed window") {
    val plan = formatted("q86_cdc_chunks")
    assert(!plan.contains("posexplode"),
      "no word-level row expansion — only chunk-level rows may exist")
    // r16: the chunk frequency is a count over the chunk_hash partition
    // of the per-(chunk, doc) SUMMARY — no join-back and no eager
    // localCheckpoint of the fold output. The only window allowed is
    // chunk-keyed; a doc- or word-level window would mean the fold's
    // rows are being re-shuffled at corpus width.
    assert("windowspecdefinition\\(chunk_hash#\\d+L?".r
      .findFirstIn(plan).isDefined,
      "chunk frequency must be a chunk_hash-partitioned window")
    assert("windowspecdefinition\\((doc_id|source)".r
      .findFirstIn(plan).isEmpty,
      "no doc- or source-partitioned window over fold output")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "no row-multiplying join anywhere in the chunk pipeline")
  }

  test("q87 source overlap: pair join is a hash equi-join; size tables broadcast") {
    val plan = formatted("q87_source_overlap")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "shingle-set intersection must plan as an equi-join on the hash")
    assert(plan.contains("BroadcastHashJoin"),
      "the O(|sources|) size tables must broadcast")
  }

  test("q89 RFM: every user-level window is bucket-partitioned") {
    val plan = formatted("q89_rfm")
    // partitioned in-bucket windows (comma after the partition column);
    // r16 ranks all three metrics in ONE exploded (metric, bkt)-
    // partitioned window — one rank shuffle and one offsets broadcast
    // instead of three of each
    assert("windowspecdefinition\\(metric#\\d+, bkt#\\d+L?,".r
      .findFirstIn(plan).isDefined,
      "per-user ranks must come from one (metric, bucket)-partitioned window")
    // the naive global ntile/row_number over raw metrics must not appear:
    // any partition-less window may only order by the bucket summary
    Seq("r_days", "f_cnt", "m_cents", "user_id").foreach { c =>
      assert(s"windowspecdefinition\\($c#".r.findFirstIn(plan).isEmpty,
        s"global window over $c would single-partition the user table")
    }
  }

  test("q93 Q17-shape: correlation decorrelates to one per-part aggregate join") {
    val plan = formatted("q93_small_qty_revenue")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("BroadcastHashJoin"), "the part dimension must broadcast")
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      "per-part and per-brand aggregations must partial-aggregate")
  }

  test("q94 Q21-shape: EXISTS/NOT EXISTS decorrelate to per-order counts") {
    val plan = formatted("q94_sole_return_supplier")
    // the correlated pair collapses to one order-keyed aggregation plus
    // a pure equi-join — no join may carry a supplier-inequality
    // residual (per-pair predicate work, hot-order skew risk)
    assert(!plan.contains("NOT (l_suppkey") && !plan.contains("!= l_suppkey"),
      "supplier inequality must not survive as a join residual")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "per-order rollup must partial-aggregate")
    // r17: the distinctness facts are min/max pairs, all codegen — the
    // r16 collect_set spelling's ObjectHashAggregate (set inserts +
    // serialized set buffers through the exchange) must not come back
    assert(!plan.contains("ObjectHashAggregate"),
      "per-order rollup must stay a codegen HashAggregate (no sets)")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "correlation must stay equi-keyed on the order key")
  }

  test("q95 scrub: redaction folds in the scan — no explode, one rollup shuffle") {
    val plan = formatted("q95_lexicon_scrub")
    assert(!plan.contains("Generate"),
      "redaction must transform the token array in place, not explode it")
    assert(!plan.contains("Join"), "the literal lexicon needs no join")
    assert("\\(\\d+\\) Exchange".r.findAllIn(plan).size <= 2,
      "only the source rollup (and final sort) may shuffle")
  }

  test("q96 dim stats: 64-group aggregation partial-aggregates before its shuffle") {
    val plan = formatted("q96_dim_stats")
    assert(!plan.contains("Join"))
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "per-dim stats must partial-aggregate map-side")
    assert("\\(\\d+\\) Exchange".r.findAllIn(plan).size <= 2,
      "only the dim rollup (and final sort) may shuffle")
  }

  test("q97 centroid probe: centroid table broadcasts; corpus scanned once") {
    val plan = formatted("q97_centroid_probe")
    assert(plan.contains("BroadcastExchange"),
      "the O(labels) centroid table must broadcast")
    assert(plan.contains("long_l2") && !plan.contains("aggregate(zip_with"),
      "per-row distances must run the codegen'd long_l2, not an interpreted HOF")
    assert(!plan.contains("SortMergeJoin"),
      "the corpus side must never shuffle for the centroid join")
    assert(!plan.contains("Window"),
      "argmin must be a keyed struct-min, not a window sort")
  }

  test("q90 count-min: corpus shuffles once; sketch work is vocab-sized") {
    val plan = formatted("q90_countmin")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "sketch build/probe must stay equi-join + aggregation")
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      "term-frequency and sketch aggregations must partial-aggregate")
  }

  test("q91 bloom: bit set and corpus hashes broadcast to the probe side") {
    val plan = formatted("q91_bloom_prefilter")
    assert(plan.contains("BroadcastHashJoin"),
      "position membership must be a broadcast hash join")
    // only the 1-row scalar m may nested-loop in (unconditioned);
    // an id-inequality pair loop must never appear
    val bnlj = "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(plan).toList
    assert(bnlj.forall(l => !l.contains("<")),
      s"unexpected conditioned nested-loop join: $bnlj")
  }

  test("q88 MRL: both dots run codegen float_dot; one candidate scan feeds both") {
    val plan = formatted("q88_mrl_agreement")
    assert("float_dot".r.findAllIn(plan).nonEmpty,
      "full- and half-dim scoring must stay in the codegen'd expression")
    assert(!plan.contains("aggregate(zip_with"),
      "hot path must not fall back to interpreted higher-order functions")
    // broadcast query side: same constant-|Q| shape as q40
    assert(plan.contains("BroadcastExchange"))
  }

  test("q54 bow dedup: one aggregation shuffle, no explode") {
    val plan = formatted("q54_bow_dedup")
    assert(!plan.contains("Generate"),
      "canonicalization is per-row array_sort, never an explode")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("q55/q57: pair generation is equi-join keyed, never all-pairs") {
    Seq("q55_containment", "q57_click_attribution").foreach { q =>
      val plan = formatted(q)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q must key its join (shingle / user_id), not cross-join")
    }
  }

  test("q56 bigrams: top-k plans as TakeOrderedAndProject with partial aggregation") {
    val plan = formatted("q56_word_bigrams")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k must never be a global sort")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "pair counts must partial-aggregate before the shuffle")
  }

  test("q58 temperature sampling: rate table broadcasts back to the corpus scan") {
    val plan = formatted("q58_temp_sample")
    assert(plan.contains("BroadcastHashJoin"),
      "the |sources|-row rate table must broadcast; the corpus never re-shuffles")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q59 chunk manifest: closed-form math — no explode, one shuffle") {
    val plan = formatted("q59_chunk_manifest")
    assert(!plan.contains("Generate"), "chunk counts are closed-form per row")
    assert(!plan.contains("Join"), "no join anywhere in the plan")
  }

  test("q100 bigram LM: score join is keyed; only the 1-row V scalar may nested-loop") {
    val plan = formatted("q100_bigram_lm")
    assert(!plan.contains("CartesianProduct"))
    assertBnljUnconditioned(plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      "bigram and per-doc aggregations must both partial-aggregate")
  }

  test("q101 dataset card: composes the LANDED near-dup pair table, not the pipeline") {
    val plan = formatted("q101_dataset_card")
    assert(plan.contains("graft_mat"),
      "pair counts must read the materialized stage written by q35")
    assert(!plan.contains("minhash") && !plan.contains("Window"),
      "no signature re-derivation inside the datasheet query")
  }

  test("q116 repeated spans: reads the LANDED span stage; repeat filter is an equi-join") {
    val plan = formatted("q116_repeated_spans")
    assert(plan.contains("graft_mat"),
      "span rows must come from the materialized text_spans stage")
    assert(!plan.contains("Generate"),
      "the corpus explode lives in the stage build, not in the consumer")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q119 retrieval: the query set broadcasts as the posting-list probe") {
    val plan = formatted("q119_bm25_retrieval")
    assert(plan.contains("BroadcastHashJoin"),
      "the fixed query set must broadcast into the posting table")
    assert(!plan.contains("CartesianProduct"))
    // top-k is per-query partitions, never a partition-less global sort
    assert(!plan.contains("Sort [score_micro"), "no global score sort")
  }

  test("q120 coreset: centroids broadcast; distances stay in codegen long_l2") {
    val plan = formatted("q120_ivf_coreset")
    assert(plan.contains("long_l2"), "distance must be the codegen'd long_l2")
    assert(plan.contains("graft_mat"),
      "centroids must come from the landed k-means model artifact")
  }

  test("q114 watermark audit: bucket prefix-max is a running window, not an O(B²) self-join") {
    val plan = formatted("q114_watermark_audit")
    // the only permitted nested-loop is the unconditioned ×4 delay-grid
    // crossJoin; the old `bkp < bk` prefix-max join must never return
    assertBnljUnconditioned(plan)
    assert(!plan.contains("CartesianProduct"))
  }

  // ---- OnePartitionSort: a small ORDER BY sorts in one task ----

  private val sortRuleOff = Seq(
    "spark.sql.optimizer.excludedRules" -> OnePartitionSort.ruleName,
    "spark.sql.adaptive.optimizer.excludedRules" -> OnePartitionSort.ruleName)

  /** Five priority groups, ordered by a total key. */
  private def prioritySort: DataFrame =
    sources.Tables.orders(spark, sfDir).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("total"))
      .orderBy(col("n").desc, col("o_orderpriority"))

  /** Collects `df`, then returns its rows and the plan that ran. */
  private def ran(df: DataFrame): (Seq[Row], SparkPlan) = {
    val rows = df.collect().toSeq
    (rows, df.queryExecution.executedPlan)
  }

  private def rangeExchanges(plan: SparkPlan) = collect(plan) {
    case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }

  private def coalesces(plan: SparkPlan) = collect(plan) { case c: CoalesceExec => c }

  test("OnePartitionSort: a small ORDER BY sorts one coalesced partition, no range exchange") {
    val (_, plan) = ran(prioritySort)
    assert(rangeExchanges(plan).isEmpty, s"range exchange planned:\n$plan")
    val sorts = collect(plan) { case s: SortExec if s.global => s }
    val under = sorts.map(_.child match { case i: InputAdapter => i.child; case c => c })
    assert(under.collect { case c: CoalesceExec if c.numPartitions == 1 => c }.size == 1,
      s"expected the global sort over one single-partition coalesce:\n$plan")
    assert(coalesces(plan).size == 1, s"one coalesce:\n$plan")
  }

  test("OnePartitionSort: the rows equal the range-partitioned sort's") {
    val (rows, _) = ran(prioritySort)
    val (offRows, offPlan) = GraftSession.withConf(spark, sortRuleOff)(ran(prioritySort))
    assert(rangeExchanges(offPlan).nonEmpty, s"rule not excluded:\n$offPlan")
    assert(rows.size == 5 && rows == offRows)
  }

  test("OnePartitionSort: an input above the advisory partition size keeps its range exchange") {
    // the orders file is ~36 KB at the test SF
    def byPrice = sources.Tables.orders(spark, sfDir).orderBy(col("o_totalprice"), col("o_orderkey"))
    val (small, smallPlan) = ran(byPrice)
    assert(rangeExchanges(smallPlan).isEmpty, s"range exchange planned:\n$smallPlan")
    val (big, bigPlan) = GraftSession.withConf(spark,
      Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k"))(ran(byPrice))
    assert(rangeExchanges(bigPlan).nonEmpty && coalesces(bigPlan).isEmpty,
      s"a sort over its advisory size must stay range-partitioned:\n$bigPlan")
    assert(big == small)
  }

  test("OnePartitionSort: a scan above one split keeps its range sort; its aggregate sorts in one task") {
    // 8 KB splits cut the ~36 KB orders file into several scan tasks; the
    // aggregate's shuffle stage is a few hundred bytes, one AQE partition
    val splits = Seq("spark.sql.files.maxPartitionBytes" -> "8k",
      "spark.sql.files.openCostInBytes" -> "1k")
    def byPrice = sources.Tables.orders(spark, sfDir).orderBy(col("o_totalprice"), col("o_orderkey"))
    val (scan, scanPlan) = GraftSession.withConf(spark, splits)(ran(byPrice))
    assert(rangeExchanges(scanPlan).nonEmpty && coalesces(scanPlan).isEmpty,
      s"a scan of several splits must keep its range exchange:\n$scanPlan")
    assert(scan == ran(byPrice)._1)
    val (agg, aggPlan) = GraftSession.withConf(spark, splits)(ran(prioritySort))
    assert(rangeExchanges(aggPlan).isEmpty && coalesces(aggPlan).size == 1,
      s"the aggregate's one-partition shuffle must sort in one task:\n$aggPlan")
    assert(agg == ran(prioritySort)._1)
  }

  test("OnePartitionSort: an explode under the sort keeps the range exchange") {
    // Generate's estimate is its child's size, not an upper bound; the
    // range stage that then runs must not pick up a coalesce either
    val df = sources.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), posexplode(split(col("o_orderpriority"), "-")))
      .orderBy(col("o_orderkey"), col("pos"))
    val (rows, plan) = ran(df)
    assert(rangeExchanges(plan).nonEmpty && coalesces(plan).isEmpty,
      s"explode must keep the range exchange:\n$plan")
    assert(rows.nonEmpty)
  }

  test("OnePartitionSort: orderBy + limit stays TakeOrderedAndProject, no coalesce") {
    val (rows, plan) = ran(prioritySort.limit(3))
    assert(collect(plan) { case t: TakeOrderedAndProjectExec => t }.size == 1,
      s"top-k must plan TakeOrderedAndProject:\n$plan")
    assert(coalesces(plan).isEmpty, s"a top-k input must not be coalesced:\n$plan")
    assert(rows.size == 3)
  }

  /** A global sort over an empty relation, streaming or not. */
  private def sortOver(streaming: Boolean): Sort = {
    val rel = LocalRelation(Seq(AttributeReference("x", LongType)()), Nil, isStreaming = streaming)
    Sort(Seq(SortOrder(rel.output.head, Ascending)), global = true, rel)
  }

  test("OnePartitionSort: a streaming plan is left untouched") {
    assert(OnePartitionSort(sortOver(streaming = false)).collectFirst {
      case r: Repartition => r }.nonEmpty, "the batch twin must be rewritten")
    val streaming = sortOver(streaming = true)
    assert(OnePartitionSort(streaming) eq streaming)
  }

  test("OnePartitionSort: applying the rule twice equals applying it once") {
    val plain = GraftSession.withConf(spark, sortRuleOff)(prioritySort.queryExecution.optimizedPlan)
    assert(plain.collectFirst { case r: Repartition => r }.isEmpty)
    val once = OnePartitionSort(plain)
    assert(once.collectFirst { case r: Repartition => r }.nonEmpty, s"rule did not fire:\n$once")
    assert(OnePartitionSort(once) == once)
  }
}
