package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Relational query library over the driver star schema.
  *
  * Determinism contract with the DuckDB oracle: floating-point aggregation
  * order differs between engines, so every money aggregate accumulates in
  * exact DECIMAL and only the FINAL value is cast to DOUBLE. The oracle SQL
  * mirrors this: `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`.
  *
  * Scale notes (100 TB): all queries are declarative DataFrame plans —
  * Catalyst plans partial+final hash aggregation, pushes filters/pruning to
  * the parquet scan, and AQE handles skew. Dimension tables (region, nation,
  * and at star-schema ratios supplier/customer) are broadcast explicitly so
  * fact-table joins never shuffle the large side.
  */
object Relational {

  /** Exact-decimal view of a money/ratio column. */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))
  /** Exact decimal sum emitted as a deterministic double. */
  def dsum2(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** Skew-salted broadcast-free join: spread a hot key's rows across
    * `salts` shuffle partitions by salting the big side with a
    * deterministic per-row hash and replicating the small side once per
    * salt. Use when one join key dominates and the small side is too big
    * to broadcast but cheap to replicate `salts`×; AQE's skew-join
    * handles the sort-merge case automatically, this is the explicit
    * form for pathological keys.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, salts: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col).toSeq: _*)), lit(salts)))
    val saltedSmall = small.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    saltedBig.join(saltedSmall,
        saltedBig(bigKey) === saltedSmall(smallKey) &&
          saltedBig("__salt") === saltedSmall("__salt"))
      .drop("__salt")
  }

  /** q1: pricing summary (full-scan partial+final agg; generalizes the
    * reference's conditional-count window functions F1/F2 — SURVEY §2.5).
    */
  def pricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum2(col("l_quantity")).as("sum_qty"),
        dsum2(col("l_extendedprice")).as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 4)) - dec4(col("l_discount"))))
          .cast(DoubleType).as("sum_disc_price"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** q2: revenue per market segment — fact-to-fact join on orderkey with the
    * customer dimension broadcast; only the two needed customer columns are
    * scanned (column pruning).
    */
  def revenueBySegment(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 4)) - dec4(col("l_discount"))))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines")
      )
      .orderBy(col("c_mktsegment"))
  }

  /** q3: top-10 revenue orders for one segment (join → agg → deterministic
    * top-k). The order-by/limit is a TakeOrderedAndProject in the physical
    * plan — no global sort at scale.
    */
  def topOrders(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    // Optimization round 16 (guide §2.3 — filter before the shuffle):
    // semi-join the segment's customers into ORDERS first, so the
    // fact-fact join's orders side carries only BUILDING orders
    // (~1/segment-count of them) instead of filtering after lineitem
    // rows have already flowed through the join. Same rows out.
    val oSeg = o.join(broadcast(c), o("o_custkey") === c("c_custkey"),
      "left_semi")
    li.join(oSeg, li("l_orderkey") === oSeg("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 4)) - dec4(col("l_discount"))))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** q5: region-local supplier revenue — the 6-way star join. All dimension
    * tables broadcast; the lineitem↔orders join is the only big shuffle.
    */
  def regionRevenue(s: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(s, dir)
    val n = Tables.nation(s, dir)
    val cDim = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(cDim), o("o_custkey") === cDim("c_custkey"))
      .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey") &&
        cDim("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 4)) - dec4(col("l_discount"))))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Full outer join with presence accounting: every customer and every
    * order key survives; counts classify matched / customer-only /
    * order-only rows (order-only is empty on consistent data — the query
    * doubles as a referential-integrity audit).
    */
  def customerOrderAudit(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_custkey"))
    val o = Tables.orders(s, dir).select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .agg(
        count(when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, 1))
          .as("matched"),
        count(when(col("o_custkey").isNull, 1)).as("customer_only"),
        count(when(col("c_custkey").isNull, 1)).as("order_only")
      )
  }

  /** Semi join: customers that placed at least one order (EXISTS). */
  def customersWithOrders(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
    val o = Tables.orders(s, dir).select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .orderBy(col("c_custkey"))
  }

  /** Anti join: customers with no orders (NOT EXISTS). */
  def customersWithoutOrders(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
    val o = Tables.orders(s, dir).select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .orderBy(col("c_custkey"))
  }

  /** TPC-H Q22 shape (q124): per nation, the count and balance mass of
    * customers whose balance beats the GLOBAL positive-balance average
    * and who have never ordered — the "sales opportunity" report. Three
    * classic optimizer stresses in one plan, decorrelated Spark-first:
    * the scalar AVG subquery becomes a broadcast 1-row cross join, the
    * average comparison becomes exact integer math (cents·n > total —
    * no float division to diverge from the oracle), and NOT EXISTS
    * becomes a left-anti hash join on the order key. Shuffles only on
    * o_custkey (anti join) and the final tiny nation aggregate.
    *
    * NOTE: the driver corpus gives EVERY customer at least one order,
    * so this literal spelling returns zero rows at every SF — kept
    * deliberately as the empty-result hash-equality pin (both engines
    * must agree on schema over an empty set). [[salesOpportunity]]
    * (q131) is the selective variant of the same shape (date-bounded
    * anti-join) and the Spark 4 subquery-expression spelling.
    */
  def waitingCustomers(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        (dec2(col("c_acctbal")) * 100).cast(LongType).as("cents"))
    val pos = c.filter(col("cents") > 0)
      .agg(sum(col("cents")).as("total"), count(lit(1)).as("n"))
    c.crossJoin(broadcast(pos))
      .filter(col("cents") * col("n") > col("total"))
      .join(Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_waiting"),
        sum(col("cents")).as("total_bal_cents"))
      .orderBy(col("c_nationkey"))
  }

  /** TPC-H Q18 shape (q125): large-volume orders — orders whose summed
    * line quantity clears a threshold (the classic
    * `IN (... GROUP BY ... HAVING SUM ...)` subquery), with their
    * customer, top-100 by order value. Spark-first decorrelation does
    * BETTER than the literal SQL: Q18's spelling scans lineitem twice
    * (once in the subquery, once for the output sum); here ONE
    * per-order aggregate serves as both the HAVING filter and the
    * output column. Joins are keyed equi-joins (o_orderkey, then
    * c_custkey) — customer grows with SF, so no forced broadcast; the
    * final top-100 is a TakeOrdered (per-partition heap + driver merge
    * of 100-row heads), never a global sort.
    */
  def largeVolumeOrders(s: SparkSession, dir: String,
      minQty: Int = 250): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(sum(dec2(col("l_quantity"))).as("tq"))
      .filter(col("tq") > minQty)
    Tables.orders(s, dir)
      .join(big, Seq("o_orderkey"))
      .join(Tables.customer(s, dir).select(
        col("c_custkey").as("o_custkey"), col("c_name")),
        Seq("o_custkey"))
      .select(col("o_custkey").as("c_custkey"), col("c_name"),
        col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
        col("tq").cast(DoubleType).as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q17 shape (q126): revenue from "small-quantity" lines of one
    * brand's parts — lines whose quantity is under 20% of that part's
    * average quantity across ALL its lineitems. The oracle keeps the
    * classic correlated scalar-subquery spelling
    * (`l_quantity < (SELECT 0.2*avg(l_quantity) … WHERE l2.l_partkey =
    * p_partkey)`); re-running that subquery per probe row is the
    * O(rows·rows-per-part) plan a naive engine executes.
    *
    * Spark plan: broadcast-semi-join the brand's part keys into
    * lineitem first (the correlated subquery ranges over one part's
    * rows, so restricting to brand parts loses nothing), then compute
    * the per-part average as a PARTITIONED WINDOW over the same rows —
    * ONE lineitem scan, ONE shuffle (hash by l_partkey), no join-back.
    * Exactness: quantities are integral, so per-part double sums are
    * exact and `0.2 * avg` is the same IEEE double in both engines.
    */
  def smallQuantityRevenue(s: SparkSession, dir: String,
      brand: String = "Brand#4"): DataFrame = {
    val partKeys = Tables.part(s, dir)
      .filter(col("p_brand") === brand)
      .select(col("p_partkey").as("l_partkey"))
    val w = Window.partitionBy(col("l_partkey"))
    Tables.lineitem(s, dir)
      .join(broadcast(partKeys), Seq("l_partkey"))
      .withColumn("avg_qty", avg(col("l_quantity")).over(w))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(dsum2(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q20 shape (q127): dominant suppliers — suppliers who shipped
    * more than a `frac` share of some part's total shipped quantity.
    * The oracle keeps the nested spelling: `s_suppkey IN (GROUP BY
    * part, supplier HAVING sum(qty) > 0.2 * (correlated per-part
    * total))` — an aggregate-vs-correlated-aggregate comparison inside
    * an IN.
    *
    * Spark plan: ONE hash(l_partkey) exchange of the projected fact
    * rows; the (part, supplier) sums AND the per-part window total both
    * compute inside that partitioning (hash(partkey) satisfies the
    * aggregate's (partkey, suppkey) clustering), then a semi-join into
    * supplier. The window input is keyed by l_partkey and fully
    * parallel, never a global sort.
    * Exactness: integral quantities make the per-part sums exact
    * doubles, so `0.2 * total` is the same IEEE multiply both engines.
    */
  def dominantSuppliers(s: SparkSession, dir: String,
      frac: Double = 0.2): DataFrame = {
    // Optimization round 17 (guide §1.1 first-principles + §2.4): r16
    // kept the textbook two-narrow-exchange shape — aggregate to
    // (partkey, suppkey) pairs (exchange 1), re-shuffle the pairs by
    // partkey for the window (exchange 2) — on the assumption the pair
    // aggregate reduces rows by lines-per-pair. MEASURED on this lake
    // the assumption is false: distinct pairs / rows = 0.86 at sf0.01
    // and 0.985 at sf0.1 (random supplier assignment; possible pairs
    // grow ~quadratically in SF while rows grow linearly, so the dup
    // factor falls toward 1.0 at every larger scale). The aggregate
    // reduced nothing and the same bytes crossed the wire twice.
    // One keyed repartition moves the projected rows ONCE; the pair
    // sums and the window total then both run inside that partitioning
    // with no further exchange (round 17, 04196ee: shufW 13.4 → 6.9 MB at
    // sf0.1). On a lake with real line duplication (TPC-H proper: ~7
    // lines/pair) the r16 shape wins instead — this is a data-shape
    // decision, re-measure before porting. numPartitions is left to
    // AQE (no constant), so the exchange stays scale-adaptive.
    val w = Window.partitionBy(col("l_partkey"))
    val dominant = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      .repartition(col("l_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("sq"))
      .withColumn("pt", sum(col("sq")).over(w))
      .filter(col("sq") > lit(frac) * col("pt"))
      .select(col("l_suppkey").as("s_suppkey"))
    Tables.supplier(s, dir)
      .join(dominant, Seq("s_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q15 shape (q128): the top supplier(s) by quarterly revenue —
    * argmax WITH TIES. The oracle keeps the classic revenue-view
    * spelling with `total_rev = (SELECT MAX(total_rev) FROM revenue)`.
    *
    * Spark plan: one lineitem aggregation to per-supplier revenue
    * (shipdate filter pushed to the scan), then the scalar max becomes
    * a 1-row broadcast joined back ON THE REVENUE VALUE — an equi
    * BroadcastHashJoin, not a global sort and not a window over all
    * suppliers; ties survive by construction. Revenue accumulates in
    * DECIMAL so the max-equality is exact in both engines; the DOUBLE
    * cast happens only on output.
    */
  def topRevenueSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1996-04-01").cast(TimestampType))
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(sum(dec2(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(18, 4)) - dec4(col("l_discount"))))
        .as("total_rev"))
    val maxRev = rev.agg(max(col("total_rev")).as("total_rev"))
    rev.join(broadcast(maxRev), Seq("total_rev"))
      .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")),
        Seq("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast(DoubleType).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q13 shape (q129): customer order-count distribution — how
    * many customers placed exactly N qualifying orders, INCLUDING the
    * zero-order customers (the reason Q13 is the outer-join aggregate
    * benchmark). The oracle keeps the classic left-outer-join +
    * two-level GROUP BY spelling.
    *
    * Spark plan, sized for the fact table being the big side: aggregate
    * ORDERS ALONE to per-customer counts first (one shuffle on
    * o_custkey — the only pass over the fact table), then left-join
    * customer to that O(customers) summary and count customers per
    * order-count. No forced broadcast of customer (it grows with SF);
    * the join and second aggregate run over customer-sized data, and
    * the literal SQL's join-then-group-the-fact-rows plan (shuffling
    * every order row through the join) is avoided. The qualifying
    * filter (priority ≠ 1-URGENT, the o_comment analog in the driver
    * schema) is pushed to the orders scan.
    */
  def customerOrderDistribution(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("c_count"))
    Tables.customer(s, dir).select(col("c_custkey"))
      .join(perCust, Seq("c_custkey"), "left_outer")
      .select(coalesce(col("c_count"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q19 shape (q130): revenue from an OR-of-ANDs predicate over
    * the lineitem⋈part join — three (brand, size-range, quantity-range)
    * branches under common line-level conjuncts, the classic
    * disjunctive-pushdown stress. The oracle keeps the flat
    * `WHERE (A AND …) OR (B AND …) OR (C AND …)` spelling.
    *
    * Spark plan: the per-side implications of the disjunction are
    * written as explicit scan filters — part keeps rows matching ANY
    * branch's (brand AND size) conjuncts, lineitem keeps rows matching
    * the common conjuncts AND any branch's quantity range — so both
    * parquet scans prune with pushed filters (min/max row-group skip
    * on l_quantity/p_size, dictionary skip on p_brand) instead of
    * joining everything and filtering after. The surviving part side
    * is brand-filtered and small → broadcast; the full mixed-side
    * residual OR evaluates inside the join, so semantics are exactly
    * the flat spelling's. This is the manual CNF factoring Catalyst's
    * own CNF conversion targets; spelling it in the plan keeps the
    * pushdown independent of optimizer thresholds.
    */
  def disjunctivePredicateRevenue(s: SparkSession, dir: String): DataFrame = {
    // (brand, max p_size, quantity lo/hi) per branch; p_size >= 1 always
    val branches = Seq(("Brand#12", 5, 1, 11), ("Brand#23", 10, 10, 20),
      ("Brand#3", 15, 20, 30))
    def branchPart(b: (String, Int, Int, Int)): Column =
      col("p_brand") === b._1 && col("p_size").between(1, b._2)
    def branchLine(b: (String, Int, Int, Int)): Column =
      col("l_quantity").between(b._3, b._4)
    def branchFull(b: (String, Int, Int, Int)): Column =
      branchPart(b) && branchLine(b)
    val p = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
      .filter(branches.map(branchPart).reduce(_ || _))
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_returnflag"),
        col("l_extendedprice"), col("l_discount"))
      .filter(col("l_returnflag").isin("N", "A") &&
        branches.map(branchLine).reduce(_ || _))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey") &&
        branches.map(branchFull).reduce(_ || _))
      .agg(sum(dec2(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(18, 4)) - dec4(col("l_discount"))))
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q22 shape (q131): "global sales opportunity" — customers in
    * a fixed nation set with an above-average positive balance and no
    * RECENT order (this generator gives every customer orders, so the
    * literal no-orders-ever spelling is degenerate; the anti-join is
    * date-bounded instead — the churn-risk variant of the same shape).
    * The driver schema has no c_phone, so the nation key stands in for
    * Q22's substring country code; the oracle keeps the classic
    * scalar-subquery + NOT EXISTS spelling.
    *
    * Determinism: the "above average" comparison is spelled
    * multiply-only — `bal × n > total` instead of `bal > total / n` —
    * so both engines compare exact DECIMALs and no customer can flip
    * sides on a last-ulp division difference.
    *
    * Spark plan, sized for orders ≫ customer: the positive-balance
    * stats run as an uncorrelated scalar subquery (one cheap pass over
    * the nation-filtered, column-pruned customer scan), the NOT EXISTS
    * decorrelates to a LEFT ANTI join whose orders side prunes to
    * (o_custkey, o_orderdate) with the date filter pushed to the scan,
    * and the per-nation rollup runs over the O(survivors) remainder.
    * Customer is read twice (stats pass + filter pass) — the classic
    * Q22 plan; both reads prune and push the nation-set filter.
    */
  def salesOpportunity(s: SparkSession, dir: String,
      nations: Seq[Int] = Seq(3, 7, 11, 15, 19),
      recentCutoff: String = "2000-09-01"): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .filter(col("c_nationkey").isin(nations: _*))
    // uncorrelated scalar subquery (Spark 4 Dataset.scalar): the stats
    // pair evaluates ONCE as its own tiny job and embeds in the filter
    // as a runtime constant — the filter stays a plain parallel Filter,
    // no join against the 1-row side at all
    val stats = cust.filter(col("c_acctbal") > 0)
      .agg(struct(sum(dec2(col("c_acctbal"))).as("tot"),
        count(lit(1)).as("n")).as("s"))
      .scalar()
    val rich = cust.filter(
      dec2(col("c_acctbal")) * stats.getField("n") > stats.getField("tot"))
    // NOT EXISTS via Dataset.exists + Column.outer — Catalyst
    // decorrelates to a LEFT ANTI join; the date bound pushes to the
    // orders scan, the join carries only the surviving o_custkey
    rich.filter(!Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit(recentCutoff).cast("timestamp") &&
          col("o_custkey") === col("c_custkey").outer()).exists())
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        dsum2(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  /** TPC-H Q11 shape (q132): "important stock" — parts whose total
    * line value exceeds a global-share threshold. The driver schema
    * has no partsupp, so lineitem value per part stands in for
    * ps_supplycost × ps_availqty. Q11's fixed fraction would go
    * degenerate across SFs (part count grows, so a constant share
    * admits everything at sf0.001 and nothing at sf0.1); the
    * threshold here is 1.2× the AVERAGE per-part value — the same
    * aggregate-vs-global-aggregate HAVING, selective at every SF.
    * Spelled multiply-only (`value × n × 5 > total × 6`) so the
    * comparison is exact DECIMAL in both engines.
    *
    * Spark plan: lineitem reduces ONCE to per-part sums (the only
    * fact shuffle); the global total and part count are an
    * uncorrelated scalar subquery OVER THAT SUMMARY, embedded in the
    * HAVING filter as a runtime constant. AQE's stage cache spans the
    * main plan and its subqueries, so the subquery's identical
    * summary shuffle resolves to a ReusedExchange (plan-asserted on
    * the executed plan) and the struct's two field reads collapse via
    * ReusedSubquery — the literal SQL's second full lineitem scan
    * never happens.
    */
  def importantParts(s: SparkSession, dir: String): DataFrame = {
    val perPart = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_extendedprice"))
      .groupBy(col("l_partkey"))
      .agg(sum(dec2(col("l_extendedprice"))).as("__val"))
    // uncorrelated scalar subquery over the SUMMARY (not the fact
    // table): evaluates once, embeds in the HAVING filter as a runtime
    // constant; AQE's stage cache spans subqueries, so the summary's
    // shuffle is computed once and the subquery branch reads the
    // reused exchange instead of rescanning lineitem
    val global = perPart
      .agg(struct(sum(col("__val")).as("tot"),
        count(lit(1)).as("n")).as("s"))
      .scalar()
    perPart
      .filter(col("__val") * global.getField("n") * 5 >
        global.getField("tot") * 6)
      .select(col("l_partkey"),
        col("__val").cast(DoubleType).as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  /** TPC-H Q16 shape (q133): supplier diversity per (brand, size) —
    * how many DISTINCT suppliers ship each qualifying part family,
    * excluding a deny-list of suppliers (negative balance stands in
    * for Q16's complaint-comment filter; lineitem's (partkey, suppkey)
    * stands in for partsupp). The oracle keeps the classic
    * `COUNT(DISTINCT …)` + `NOT IN (subquery)` spelling.
    *
    * Spark plan, sized for lineitem ≫ everything: ONE pass over the
    * two-column lineitem scan, the deny-list as a broadcast LEFT ANTI
    * (tiny, applied before any shuffle) and the brand/size-filtered
    * part side as a broadcast equi-join (filters pushed to the part
    * scan — dictionary skip on p_brand, min/max on p_size). The
    * distinct aggregate is Catalyst's two-phase rewrite: partial
    * dedup on (brand, size, suppkey) map-side, one shuffle keyed by
    * the same triple, then the count over the deduped summary — no
    * shuffle ever carries raw lineitem rows wider than three columns.
    * NOT IN vs anti-join equivalence holds because s_suppkey is
    * non-nullable in this schema (the null-aware edge can't fire).
    */
  def supplierDiversity(s: SparkSession, dir: String,
      sizes: Seq[Int] = Seq(1, 7, 14, 23, 36, 45)): DataFrame = {
    val p = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
      .filter(col("p_brand") =!= "Brand#4" && col("p_size").isin(sizes: _*))
    val denied = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    Tables.lineitem(s, dir).select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(denied), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  /** Top-k customers by total order value (group → TakeOrdered). */
  def topCustomers(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(dsum2(col("o_totalprice")).as("total_spend"), count(lit(1)).as("n_orders"))
      .orderBy(col("total_spend").desc, col("o_custkey"))
      .limit(k)

  /** Analytic window function: top-3 suppliers by account balance per
    * nation (row_number over partitioned sort — SURVEY §2.7 surface).
    */
  def topSuppliersPerNation(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("s_acctbal").desc, col("s_suppkey"))
    Tables.supplier(s, dir)
      .withColumn("rank_in_nation", row_number().over(w).cast(LongType))
      .filter(col("rank_in_nation") <= 3)
      .select(col("s_nationkey"), col("rank_in_nation"), col("s_suppkey"),
        col("s_name"), col("s_acctbal"))
      .orderBy(col("s_nationkey"), col("rank_in_nation"))
  }

  /** ROLLUP aggregation (grouping-sets surface). grouping_id disambiguates
    * genuine NULL keys from rollup subtotal rows.
    */
  def rollupReturns(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum2(col("l_quantity")).as("qty"),
        grouping_id(col("l_returnflag"), col("l_linestatus")).as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  /** CUBE aggregation over order status × priority. */
  def cubeOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        grouping_id(col("o_orderstatus"), col("o_orderpriority")).as("gid"))
      .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))

  /** Exact + approximate distinct counts per group. The approx variant is
    * the 100 TB path (HLL sketch, no giant shuffle of distinct values) but
    * only the exact one is oracle-checked.
    */
  def distinctParts(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows")
      )
      .orderBy(col("l_returnflag"))

  /** Set operations: brands of large parts vs brands of cheap parts. */
  def brandSetOps(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val big = p.filter(col("p_size") >= 40).select(col("p_brand"))
    val cheap = p.filter(col("p_retailprice") < 1200.0).select(col("p_brand"))
    val u = big.union(cheap).distinct().withColumn("op", lit("union"))
    val i = big.intersect(cheap).withColumn("op", lit("intersect"))
    val e = big.except(cheap).withColumn("op", lit("except"))
    u.unionByName(i).unionByName(e).orderBy(col("op"), col("p_brand"))
  }

  /** GROUPING SETS: chosen subtotal combinations (finer control than
    * rollup/cube — here (flag,status), (flag), (status)).
    */
  def groupingSetsReturns(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("gs_lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM gs_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
  }

  /** Exact interpolated percentiles per group (median + p95). Both
    * engines sort exact doubles and interpolate linearly; outputs round
    * to 6 dp.
    */
  def quantityPercentiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
        round(expr("percentile(l_quantity, 0.95)"), 6).as("p95"),
        count(lit(1)).as("n")
      )
      .orderBy(col("l_returnflag"))

  /** Pivot: order counts by priority × status as columns (F/O/P). The
    * pivot list is explicit — at scale an implicit pivot would first run
    * a distinct scan to discover values.
    */
  def ordersPivot(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .na.fill(0L, Seq("F", "O", "P"))
      .orderBy(col("o_orderpriority"))

  /** Monthly order volumes — date_trunc bucketing. */
  def ordersByMonth(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).cast(DateType).as("month"))
      .agg(count(lit(1)).as("n_orders"), dsum2(col("o_totalprice")).as("total"))
      .orderBy(col("month"))

  /** Parts priced above their brand's average — aggregate subquery joined
    * back (broadcast: one row per brand).
    */
  def partsAboveBrandAvg(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val avgByBrand = p.groupBy(col("p_brand").as("b_brand"))
      .agg((sum(dec2(col("p_retailprice"))).cast(DoubleType) / count(lit(1))).as("brand_avg"))
    p.join(broadcast(avgByBrand), col("p_brand") === col("b_brand"))
      .filter(col("p_retailprice") > col("brand_avg"))
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"), col("brand_avg"))
      .orderBy(col("p_partkey"))
  }

  /** Running totals / lag deltas per customer over time (analytic frame). */
  def customerRunningSpend(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .filter(col("o_custkey") < 200) // keep the verified slice small; full plan identical
      .withColumn("running_spend",
        sum(dec2(col("o_totalprice"))).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast(DoubleType))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"), col("running_spend"), col("prev_price"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** TPC-H Q17 shape — correlated "below 20% of the part's average
    * quantity" revenue, decorrelated into a per-part aggregate join.
    * The float trap is the threshold compare: `q < 0.2·avg(q)` in
    * doubles can flip on the last ulp, so it multiplies out to the
    * exact DECIMAL inequality `5·q·cnt < sum_q`.
    */
  def smallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    // Optimization round 16 (guide §2.4, the q126 pattern): the per-part
    // (sum, count) pair is a PARTITIONED WINDOW over the same rows, not
    // a separate aggregate joined back — r15's spelling scanned lineitem
    // twice and shuffled it twice (raw rows + partial aggregate, both on
    // l_partkey); this is one scan, one shuffle, no join. The exact
    // DECIMAL inequality (5·q·cnt < sum_q) is unchanged, so the kept
    // row set — and the oracle hash — is identical.
    val w = Window.partitionBy(col("l_partkey"))
    val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), dec2(col("l_quantity")).as("q"),
        col("l_extendedprice"))
      .withColumn("sq", sum(col("q")).over(w))
      .withColumn("cq", count(lit(1)).over(w))
      .filter(col("q") * 5 * col("cq") < col("sq"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small"), dsum2(col("l_extendedprice")).as("revenue"))
      .orderBy(col("p_brand"))
  }

  /** TPC-H Q21 shape — EXISTS + NOT EXISTS correlation: suppliers whose
    * 'R'-flag lineitems sit in multi-supplier orders where NO other
    * supplier also flagged 'R'. The correlated pair decorrelates all
    * the way to per-order COUNTS: an R-flagged (order, supplier) row
    * qualifies iff its order has ≥ 2 suppliers (the EXISTS) and exactly
    * 1 R-supplier — which must then be this row (the NOT EXISTS). That
    * turns two joins carrying a supplier-inequality residual (per-pair
    * predicate work, hot-order skew risk) into one order-keyed
    * aggregation plus one pure equi-join.
    */
  def soleReturnSuppliers(s: SparkSession, dir: String): DataFrame = {
    // Optimization round 16 (guide §2.4 — remove shuffles outright): the
    // EXISTS/NOT-EXISTS pair collapses into ONE per-order aggregate. An
    // order qualifies iff it has ≥ 2 distinct suppliers and exactly one
    // distinct R-flagged supplier — and that supplier IS the answer, so
    // `collect_set(when(flag='R', suppkey))` names it in the same pass.
    // This replaces the r15 spelling's second aggregate + equi-join back
    // into the pair set (one extra fact-derived shuffle, one broadcast
    // build, and a second replay of the pair aggregate's post-shuffle
    // agg under AQE exchange reuse) with nothing at all: lineitem is
    // scanned once, the per-supplier rollup then moves an O(qualifying
    // orders) summary. Same strategy q141 measures at 56 s vs this
    // query's old 134 s at the 600M-row rehearsal.
    // Results identical (oracle-pinned): n_orders counts distinct
    // qualifying orders per supplier, exactly as before.
    //
    // Optimization round 17 (guide §1.2 step 2 — per-task work, the q87
    // bit_or lesson): the r16 spelling's collect_set pair planned as
    // ObjectHashAggregate — per-row set inserts outside whole-stage
    // codegen, and the partially-aggregated sets shuffled as serialized
    // set buffers. The predicate only needs DISTINCTNESS FACTS, not the
    // sets themselves, and every fact is a min/max: "≥ 2 distinct
    // suppliers" ⟺ min(suppkey) ≠ max(suppkey), "exactly one distinct
    // R-flagged supplier" ⟺ min and max over R-rows' suppkeys are equal
    // (and non-null, which the equality already implies) — and that
    // value IS the answer. One codegen HashAggregate over four
    // fixed-width longs, same single l_orderkey exchange, strictly
    // narrower shuffle rows than the set buffers. (A two-level
    // distinct-pair spelling was measured first and REJECTED: the
    // (order, supplier) dedup exchange carried 9.8 MB vs 7.0 baseline
    // and +8% CPU — dedup rows beat set buffers only when
    // lines-per-(order,supplier) is high; min/max needs neither.)
    // Qualifying set and counts are unchanged (oracle-pinned at sf0.01
    // and sf0.1 bit-exact).
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val rSupp = when(col("l_returnflag") === "R", col("l_suppkey"))
    val perOrder = li.groupBy(col("l_orderkey"))
      .agg(min(col("l_suppkey")).as("supp_lo"),
        max(col("l_suppkey")).as("supp_hi"),
        min(rSupp).as("r_lo"), max(rSupp).as("r_hi"))
      .filter(col("supp_lo") =!= col("supp_hi") &&
        col("r_lo") === col("r_hi"))
      .select(col("r_lo").as("l_suppkey"))
    perOrder.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_orders"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_orders"))
      .orderBy(col("n_orders").desc, col("s_suppkey"))
  }

  /** TPC-H Q8 shape (q105): per order-year, the share of one region's
    * market revenue supplied by one nation — the national-market-share
    * plan stress: a 7-relation join where FOUR dimensions must broadcast
    * (region-filtered customer nations, supplier→nation names, and both
    * nation copies), the fact side shuffles once on the order key, and
    * the case-sum ratio folds into a single aggregation.
    *
    * Determinism: revenue accumulates in DECIMAL (the q1/q5 money rule);
    * the share is exact non-negative integer micro-math — both sums
    * floor to cent units first (floor, not cast: DuckDB's decimal→int
    * CAST rounds, Spark's truncates), then one `div`. Cent units keep
    * `nat_c * 1e6` far from Long overflow at bench scale; a 100 TB run
    * would widen to DECIMAL(38,0) products instead.
    */
  def marketShare(s: SparkSession, dir: String, region: String = "ASIA",
      nation: String = "NATION_0"): DataFrame = {
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir).filter(col("r_name") === region)
    val custInRegion = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(n.select(col("n_nationkey").as("c_nationkey"),
        col("n_regionkey"))), Seq("c_nationkey"))
      .join(broadcast(r.select(col("r_regionkey").as("n_regionkey"))),
        Seq("n_regionkey"))
      .select(col("c_custkey"))
    val supNat = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(n.select(col("n_nationkey").as("s_nationkey"),
        col("n_name").as("s_nation"))), Seq("s_nationkey"))
      .select(col("s_suppkey"), col("s_nation"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast(LongType).as("o_year"))
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(custInRegion), o("o_custkey") === col("c_custkey"))
      .join(broadcast(supNat), li("l_suppkey") === col("s_suppkey"))
      .withColumn("rev", dec2(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(18, 4)) - dec4(col("l_discount"))))
      .groupBy(col("o_year"))
      .agg(sum(col("rev")).as("tot_dec"),
        sum(when(col("s_nation") === nation, col("rev"))).as("nat_dec"))
      .withColumn("nat_c", floor(col("nat_dec") * 100).cast(LongType))
      .withColumn("tot_c", floor(col("tot_dec") * 100).cast(LongType))
      .select(col("o_year"),
        col("tot_dec").cast(DoubleType).as("total_revenue"),
        col("nat_dec").cast(DoubleType).as("nation_revenue"),
        // cents·1e6 wraps BIGINT once yearly revenue ≥ ~$9.2e10 (TPC-H
        // sf ≳ 40 already); DECIMAL(38,0) (oracle: HUGEINT) is exact to
        // 1e38 — `div` on decimals returns BIGINT and the share ≤ 1e6
        expr("(CAST(nat_c AS DECIMAL(38,0)) * 1000000) div tot_c")
          .as("share_micro"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q9 shape (q135): product-line profit by (nation, year) —
    * the deepest star probe in the registry: lineitem against FOUR
    * other tables (part, supplier, nation, orders) with a part-NAME
    * substring filter. The driver schema has no partsupp, so the Q9
    * cost term `ps_supplycost * l_quantity` becomes
    * `p_retailprice * l_quantity` (cost-of-goods at retail from the
    * part dimension — same shape: a dimension-sourced unit cost scaled
    * by quantity and subtracted from discounted revenue). The oracle
    * keeps the classic flat five-table join.
    *
    * Spark plan (the 100 TB shape): part is name-filtered AT THE SCAN
    * (pushed StartsWith ⇒ dictionary/row-group skip) and broadcast —
    * the ~13% selectivity cuts fact rows before anything shuffles;
    * supplier⋈nation folds to one tiny broadcast map. Orders is
    * fact-sized (never broadcastable at scale), so l_orderkey ⋈
    * o_orderkey is THE one shuffle that moves fact rows — orders
    * projected to (key, year) only. The final (nation, year) aggregate
    * partially aggregates map-side to ~|nations|×|years| rows per
    * task, so its exchange carries a summary, not the fact stream.
    * Profit stays in exact two-factor DECIMAL products until the final
    * cast (both engines compute identical exact decimals).
    */
  def profitByNationYear(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .filter(col("p_name").startsWith("red"))
      .select(col("p_partkey"), col("p_retailprice"))
    val supNat = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nationkey"),
          col("n_name").as("nation"))), Seq("s_nationkey"))
      .select(col("s_suppkey"), col("nation"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).as("o_year"))
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supNat), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("amount", dec2(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(18, 4)) - dec4(col("l_discount"))) -
        dec2(col("l_quantity")) * dec2(col("p_retailprice")))
      .groupBy(col("nation"), col("o_year"))
      .agg(sum(col("amount")).cast(DoubleType).as("sum_profit"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** Sampled-quantile audit (q136) — the 100 TB percentile path.
    * Exact percentiles need the full value distribution per group (a
    * full-data sort-based aggregate); at scale the production spelling
    * is percentiles over a DETERMINISTIC 1/8 hash sample (the shared
    * md5 h60 over the row key, so any engine draws the SAME sample),
    * whose per-group error this query audits against the exact answer
    * in integer micro units. ONE pass, one shuffle: both the exact and
    * the sampled percentile run in the same hash aggregate, the sample
    * side as a conditional percentile (nulls skipped by the aggregate,
    * identically in both engines). At 100 TB only the sample side
    * survives — the exact side exists here because the oracle audits
    * the error, exactly the q134-HLL discipline.
    */
  def sampledQuantiles(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Text.hash60
    val kept = hash60(concat_ws("#",
      col("l_orderkey"), col("l_linenumber"))) % 8 === 0
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        kept.as("kept"))
      .groupBy(col("l_returnflag"))
      .agg(
        round(percentile(col("l_extendedprice"), lit(0.5)), 6)
          .as("exact_p50"),
        round(percentile(col("l_extendedprice"), lit(0.95)), 6)
          .as("exact_p95"),
        round(percentile(when(col("kept"), col("l_extendedprice")),
          lit(0.5)), 6).as("sample_p50"),
        round(percentile(when(col("kept"), col("l_extendedprice")),
          lit(0.95)), 6).as("sample_p95"),
        count(lit(1)).as("n_total"),
        count(when(col("kept"), 1)).as("n_sample"))
      .withColumn("err_p50_micro",
        round(abs(col("sample_p50") - col("exact_p50")) * 1e6)
          .cast(LongType))
      .withColumn("err_p95_micro",
        round(abs(col("sample_p95") - col("exact_p95")) * 1e6)
          .cast(LongType))
      .orderBy(col("l_returnflag"))
  }

  /** TPC-H Q10 shape (q137): returned-item revenue — which customers
    * returned the most in a quarter. lineitem (returnflag = 'R') ⋈
    * orders (quarter date window) ⋈ customer ⋈ nation, top 20 by
    * revenue. The oracle keeps the literal four-table GROUP BY; Spark
    * aggregates the fact join down to O(customers) FIRST and only then
    * attaches the customer/nation dimensions (broadcast) — the
    * grouped columns the literal SQL drags through the fact aggregate
    * (c_name, c_acctbal, n_name) are functionally dependent on
    * c_custkey, so joining them after the reduction is equivalent, the
    * fact shuffle carries one key instead of the whole dimension row —
    * and because the query only wants the TOP 20, the TakeOrdered runs
    * on the per-customer summary BEFORE any dimension join: customer
    * is a fact-sized table at 100 TB (never broadcastable), but the
    * 20-row top set is, so the dimension attach is a broadcast of 20
    * rows into the customer/nation scan. Both fact scan filters push
    * down (dictionary skip on returnflag, min/max skip on the date
    * window). Deterministic at the cut: ties break c_custkey asc in
    * both engines.
    */
  def returnedItemRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val top = li
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(sum(dec2(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(18, 4)) - dec4(col("l_discount"))))
        .as("rev_dec"))
      // cut by the DOUBLE-cast revenue — the oracle's sort key — so a
      // decimal pair that collides after the cast takes the same
      // c_custkey tie-break path in both engines; rev_dec rides along
      // only as the carried payload
      .orderBy(col("rev_dec").cast(DoubleType).desc, col("c_custkey"))
      .limit(20)
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_nationkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nationkey"),
          col("n_name").as("nation"))), Seq("c_nationkey"))
    cust.join(broadcast(top), Seq("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("nation"), col("rev_dec").cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
  }
  /** TPC-H Q4 shape (q143): order-priority checking — a date-windowed
    * order count gated by a correlated EXISTS against lineitem (here:
    * "some line was returned", the schema's stand-in for the missing
    * commit/receipt dates). Spark plans the EXISTS as a LEFT SEMI hash
    * join on the order key: the date window pushes into the orders
    * scan, the returnflag filter into the lineitem scan, and the semi
    * join never duplicates orders however many lines match. The final
    * aggregate is 5 priority rows — map-side partial all the way.
    */
  def orderPriorityCheck(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderpriority"))
    val flagged = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    o.join(flagged, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q12 shape (q144): line-priority classification — the
    * fact⋈fact join whose aggregate is two CONDITIONAL counts (the
    * schema has no shipmode, so lines classify by l_linestatus and
    * orders by their real o_orderpriority). The year window pushes
    * into the lineitem scan; the only shuffle is the orderkey join;
    * the high/low split is a when() pair inside one partial/final
    * aggregate — never two passes.
    */
  def linePriorityCounts(s: SparkSession, dir: String): DataFrame = {
    val hi = Seq("1-URGENT", "2-HIGH")
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linestatus"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin(hi: _*), 1).otherwise(0))
          .cast(LongType).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin(hi: _*), 1).otherwise(0))
          .cast(LongType).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  /** TPC-H Q14 shape (q145): promotion revenue share — a one-month
    * fact window against the broadcast part dimension, with the share
    * ratio in exact integer micro units (the q105 discipline: cents as
    * BIGINT, one exact integer division) so both engines emit the
    * identical integer. Exact decimal revenue until the final cast.
    */
  def promoRevenueShare(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
    val p = Tables.part(s, dir).select(col("p_partkey"), col("p_type"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .withColumn("rev", dec2(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(18, 4)) - dec4(col("l_discount"))))
      .agg(sum(when(col("p_type") === "PROMO", col("rev"))).as("promo_dec"),
        sum(col("rev")).as("tot_dec"), count(lit(1)).as("n_lines"))
      .withColumn("promo_c", floor(col("promo_dec") * 100).cast(LongType))
      .withColumn("tot_c", floor(col("tot_dec") * 100).cast(LongType))
      .select(col("promo_dec").cast(DoubleType).as("promo_revenue"),
        col("tot_dec").cast(DoubleType).as("total_revenue"),
        expr("(CAST(promo_c AS DECIMAL(38,0)) * 1000000) div tot_c")
          .as("promo_share_micro"),
        col("n_lines"))
  }

  /** TPC-H Q6 shape (q146): forecasting revenue change — the pure
    * scan-aggregate: every predicate (date window, discount band,
    * quantity cap) pushes into the parquet scan (row-group min/max
    * skip on all three columns), no join, one partial/final aggregate
    * over whatever survives. The simplest query that proves pushdown.
    */
  def forecastRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(dec2(col("l_extendedprice")) * dec4(col("l_discount")))
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q2 shape (q147): minimum-cost supplier — the correlated
    * scalar-MIN with ties. The driver schema has no partsupp, so the
    * part↔supplier catalog derives from observed lineitems: cost =
    * MIN(l_extendedprice) per (part, supplier) — a raw MIN of doubles,
    * deterministic in any engine (no sums, no division). Q2's
    * structure is preserved exactly: restrict suppliers to one region,
    * restrict parts by size/type, and keep every supplier achieving
    * the per-part minimum cost (ties survive), top-100 on a TOTAL
    * order (acctbal desc, nation, supplier, part).
    *
    * Spark plan (the 100 TB shape): the (part, supplier) catalog
    * aggregate is the ONLY fact shuffle; the part filter and the
    * region-supplier set broadcast into it BEFORE the per-part MIN, so
    * the argmin window runs over a dimension-filtered summary, not the
    * corpus. The correlated subquery becomes a window MIN — one pass,
    * no self-join.
    */
  def minCostSupplier(s: SparkSession, dir: String,
      region: String = "ASIA"): DataFrame = {
    val rs = Tables.supplier(s, dir)
      .withColumnRenamed("s_nationkey", "nk")
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("nk"), col("n_name"),
          col("n_regionkey"))), Seq("nk"))
      .join(broadcast(Tables.region(s, dir)
        .filter(col("r_name") === region)
        .select(col("r_regionkey").as("n_regionkey"))), Seq("n_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name"))
    val parts = Tables.part(s, dir)
      .filter(col("p_size") <= 15 && col("p_type") === "LARGE")
      .select(col("p_partkey"), col("p_brand"))
    // Optimization round 16 (guide §3.2 — reduce the big side BEFORE the
    // shuffle): the part filter (size+type) and the region-supplier set
    // are both selective and both broadcast-sized, so semi-joining the
    // fact scan against them drops non-qualifying lineitems map-side,
    // before the (part, supplier) catalog aggregate shuffles. r15
    // aggregated the FULL catalog first and filtered after — the fact
    // exchange carried every (part, supplier) pair; now it carries only
    // pairs that can reach the result. Groups survive the pre-filter
    // intact (the filters are on the group keys), so per-group MIN — and
    // the query result — is unchanged (oracle-pinned).
    // The semi joins broadcast the SAME projections the post-aggregate
    // attach joins use (not a narrower key-only select) so the subtrees
    // CAN be deduplicated — but the committed static plan shows 4
    // independent BroadcastExchanges (AQE only reuses stages at runtime,
    // and the semi-join and attach-join broadcast MODES differ), so
    // treat the twin projections as keeping reuse possible, not as a
    // guarantee. The dims are O(filtered parts)/O(region suppliers);
    // building each twice is dimension-scan noise at any scale.
    val cat = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      .join(broadcast(parts),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .join(broadcast(rs),
        col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey").as("p_key"), col("l_suppkey").as("s_key"))
      .agg(min(col("l_extendedprice")).as("cost"))
    val w = Window.partitionBy(col("p_key"))
    cat
      .join(broadcast(parts), col("p_key") === col("p_partkey"))
      .join(broadcast(rs), col("s_key") === col("s_suppkey"))
      .withColumn("min_cost", min(col("cost")).over(w))
      .filter(col("cost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"),
        (dec2(col("cost")) * 100).cast(LongType).as("cost_cents"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q7 shape (q140): cross-nation shipping volume — the one
    * classic join topology the registry lacked: the SAME dimension
    * (nation) attaches twice under two roles (supplier's nation via
    * lineitem, customer's nation via orders), with the disjunctive
    * nation-PAIR predicate `(A→B) ∨ (B→A)` coupling the two roles so
    * neither side's filter alone expresses it.
    *
    * Spark plan (the 100 TB shape): the literal SQL joins five tables
    * and moves fact rows through TWO key shuffles (orderkey, then
    * custkey). Here the nation filter folds into BOTH dimension
    * attaches before anything shuffles — supplier⋈nation broadcasts
    * (~2/25 of suppliers survive), cutting lineitem ~92% after the
    * shipdate window is pushed to the scan — so l_orderkey ⋈
    * o_orderkey is the ONLY shuffle that moves fact rows. The result
    * then pre-aggregates to a (custkey, supp_nation, year) summary
    * (map-side partial), and the second "fact" shuffle carries that
    * O(customers) summary into the customer⋈nation attach — customer
    * is fact-sized at scale (q137 discipline: never broadcast it), but
    * the rows meeting it are already a summary, not the fact stream.
    * Volume stays exact DECIMAL until one final DOUBLE cast (both
    * engines cast the same exact decimal).
    *
    * Reference anchor: multi-way keyed joins + keyed aggregation are
    * the reference's keyBy/window composition
    * (`FlinkWindowLearning.scala:135-174`) re-expressed relationally.
    */
  /** TPC-H Q21 shape (q141): suppliers who kept orders waiting — the
    * classic hardest TPC-H query: a correlated EXISTS *and* NOT EXISTS
    * on the SAME fact table (lineitem self-joined twice, correlated on
    * the order key with a supplier inequality). The driver schema has
    * no commit/receipt dates, so "kept waiting" adapts to
    * `l_returnflag = 'R'` within 'F'-status orders — identical logical
    * structure: count l1 rows where ANOTHER supplier shares the order
    * (EXISTS) but NO other supplier also has a flagged line
    * (NOT EXISTS).
    *
    * Spark plan (the 100 TB shape): the literal SQL self-joins the
    * fact table twice (three lineitem scans, two orderkey shuffles of
    * fact rows with inequality residuals). Here both correlated
    * subqueries collapse into ONE per-order aggregate: group the
    * F-order lines by l_orderkey and compute (distinct suppliers,
    * distinct flagged suppliers, flagged-line count) — EXISTS becomes
    * `n_supp >= 2`, NOT EXISTS becomes `|flagged suppliers| == 1`,
    * and the l1 row count is the sole flagged supplier's flagged-line
    * count. Lineitem is scanned ONCE and shuffles once (the orderkey
    * semi join against F-orders; the groupBy rides the same
    * partitioning). The per-supplier rollup then moves only an
    * O(orders) summary, the supplier name attaches by broadcast, and
    * the top-100 is a TakeOrdered on a total order (numwait desc,
    * s_name) — deterministic in both engines.
    *
    * Contrast with q94 ([[soleReturnSuppliers]]), which decorrelates
    * the SAME logical correlation into semi/anti hash joins on
    * deduplicated (order, supplier) pair sets: that strategy shuffles
    * the pair sets twice more but never materializes per-order
    * supplier sets; this one is strictly one scan + one shuffle. Both
    * are oracle-checked, so the registry pins both physical strategies
    * for Q21's shape (q141 also keeps Q21's order-status filter and
    * the literal per-LINE count, where q94 counts distinct orders).
    *
    * Reference anchor: keyed grouping + per-group predicate evaluation
    * is the reference's keyBy/WindowFunction composition
    * (`FlinkWindowLearning.scala:162-174`) re-expressed relationally.
    */
  def suppliersKeptWaiting(s: SparkSession, dir: String): DataFrame = {
    val oF = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"))
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val perOrder = li
      .join(oF, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_orderkey"))
      .agg(
        size(collect_set(col("l_suppkey"))).as("n_supp"),
        collect_set(when(col("l_returnflag") === "R", col("l_suppkey")))
          .as("r_supps"),
        count(when(col("l_returnflag") === "R", 1)).as("r_lines"))
      .filter(size(col("r_supps")) === 1 && col("n_supp") >= 2)
      .select(element_at(col("r_supps"), 1).as("s_suppkey"),
        col("r_lines"))
    val sup = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_name"))
    perOrder.groupBy(col("s_suppkey"))
      .agg(sum(col("r_lines")).as("numwait"))
      .join(broadcast(sup), Seq("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  def volumeShipping(s: SparkSession, dir: String,
      nationA: String = "NATION_0", nationB: String = "NATION_1")
      : DataFrame = {
    val nat = Tables.nation(s, dir)
      .filter(col("n_name").isin(nationA, nationB))
    val supNat = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(nat.select(col("n_nationkey").as("s_nationkey"),
        col("n_name").as("supp_nation"))), Seq("s_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast(LongType).as("l_year"),
        (dec2(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 4)) - dec4(col("l_discount"))))
          .as("volume"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val summary = li
      .join(broadcast(supNat), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c_custkey"), col("supp_nation"),
        col("l_year"))
      .agg(sum(col("volume")).as("vol_dec"), count(lit(1)).as("n_lines"))
    val custNat = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(nat.select(col("n_nationkey").as("c_nationkey"),
        col("n_name").as("cust_nation"))), Seq("c_nationkey"))
      .select(col("c_custkey"), col("cust_nation"))
    summary.join(custNat, Seq("c_custkey"))
      .filter((col("supp_nation") === nationA &&
          col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB &&
          col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(col("vol_dec")).cast(DoubleType).as("revenue"),
        sum(col("n_lines")).as("n_lines"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

}
