package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.FormattedMode

/** Registry-WIDE physical-plan audit: every declared query's plan is
  * swept for the two unconditional scale-killers, so a regression in
  * ANY query — including ones without a targeted PlanAssertionsSpec
  * test — fails CI:
  *
  *  1. `CartesianProduct` (the unbroadcast all-pairs join) is banned
  *     outright. Nothing in the engine needs it: every deliberate
  *     cross is a broadcast of a 1-row scalar or a constant grid.
  *  2. Every `BroadcastNestedLoopJoin` must be UNCONDITIONED. A
  *     conditioned BNLJ evaluates its predicate per row-PAIR — the
  *     O(n·m) shape that q114's bucket prefix-max once had — while an
  *     unconditioned one is the legitimate broadcast-scalar cross.
  *
  * The sweep sees the plan as a user would run it (after checkpoint
  * boundaries, landed-stage reads, and AQE-prepared exchanges), so a
  * stage that is itself built from a banned shape is still covered by
  * the build running here: `localCheckpoint`/Materialize builds execute
  * eagerly during construction and their own plans are audited by the
  * targeted PlanAssertionsSpec tests.
  */
class GlobalPlanAuditSpec extends SparkSpec {

  // one construction pass over the whole registry; plans are pure
  // strings afterwards so each test scans without re-building
  private lazy val plans: Map[String, String] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sfDir).queryExecution.explainString(FormattedMode)
    }

  test("the sweep is real: every registry query yields a non-trivial plan") {
    assert(plans.size >= 154, s"registry shrank to ${plans.size} queries")
    val empty = plans.collect { case (n, p) if p.linesIterator.size < 3 => n }
    assert(empty.isEmpty, s"degenerate plans: $empty")
    // layout guard: if FormattedMode stops printing operator trees the
    // scans below would pass vacuously
    assert(plans.values.count(_.contains("Exchange")) > 50,
      "formatted plans no longer show exchanges — audit is blind")
  }

  test("no query plans a CartesianProduct") {
    val offenders = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n
    }
    assert(offenders.isEmpty,
      s"CartesianProduct (unbroadcast all-pairs join) in: $offenders")
  }

  /** Queries whose conditioned BNLJ is the deliberate algorithm, with
    * the condition shape pinned: q40 is the brute-force KNN TRUTH
    * baseline — a constant 20-row broadcast query set crossed against
    * the corpus is the definition of brute force (the scale path is
    * the landed IVF/PQ index; q40 exists to measure their recall
    * against), and its only condition is the self-pair exclusion.
    * (q40 now reads the LANDED truth table, so its entry only engages
    * if the landing is ever removed and the build plan resurfaces.)
    */
  private val conditionedBnljAllowed: Map[String, String] =
    Map(
      "q40_knn_cosine" -> "NOT (qid",
      // q88 audits full-64-dim vs truncated-32-dim cosine AGREEMENT for
      // the same fixed broadcast query set — by construction the same
      // brute candidate scan as q40, self-pairs excluded
      "q88_mrl_agreement" -> "NOT (qid",
      // (r17 removed q110's grid crossJoin — the sweep is conditional
      // sums in one aggregate now; no BNLJ left to allow)
      // q124 crosses the ONE-row global balance aggregate (TPC-H Q22's
      // scalar subquery, decorrelated to a broadcast); the pushed
      // integer comparison is evaluated 1×|customers| times — the
      // scalar threshold itself, not a pair blowup
      "q124_waiting_customers" -> "> total")

  /** Remove every balanced `isnotnull(...)` term (nested parens and
    * all) so only genuinely pairwise predicate text remains.
    */
  private def stripIsNotNull(cond: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < cond.length) {
      if (cond.startsWith("isnotnull(", i)) {
        i += "isnotnull(".length
        var depth = 1
        while (i < cond.length && depth > 0) {
          if (cond(i) == '(') depth += 1
          else if (cond(i) == ')') depth -= 1
          i += 1
        }
      } else { out += cond(i); i += 1 }
    }
    out.toString
  }

  test("every BroadcastNestedLoopJoin in every query is unconditioned") {
    val bnlj = plans.filter(_._2.contains("BroadcastNestedLoopJoin"))
    // today's deliberate broadcast-scalar/grid crosses; growth here is
    // fine but must be a conscious edit, not a silent planner change
    assert(bnlj.nonEmpty, "expected at least the known scalar crosses")
    bnlj.foreach { case (name, plan) =>
      val blocks = plan.split("\n\\s*\n").toSeq.filter(
        _.linesIterator.nextOption().exists(l =>
          l.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")))
      assert(blocks.nonEmpty,
        s"$name: BNLJ in tree but no detail block parsed — layout changed")
      blocks.foreach { b =>
        val cond = b.linesIterator.find(_.trim.startsWith("Join condition:"))
        val ok = cond.forall { c =>
          val t = c.trim.stripPrefix("Join condition:").trim
          // row-LOCAL null guards that Catalyst pushes into a
          // broadcast-scalar cross are harmless; what the audit bans is
          // a row-PAIR comparison surviving outside them
          val residual = stripIsNotNull(t)
          t == "None" ||
            !residual.exists("<>=".contains(_)) ||
            conditionedBnljAllowed.get(name).exists(residual.contains)
        }
        assert(ok,
          s"$name: conditioned BroadcastNestedLoopJoin (O(n·m) row-pair " +
            s"predicate):\n$b")
      }
    }
  }

  /** Queries allowed a partition-LESS Window — each runs it over a
    * bounded summary, never a corpus-sized relation: q24/q114 over
    * O(buckets) rows, q82 over O(funnel stages), q89 over O(value
    * buckets) offsets ×3. Anything else moving all rows to one
    * partition is a scale bug.
    */
  private val partitionlessWindowAllowed = Set(
    "q24_count_trigger", "q82_funnel", "q89_rfm", "q114_watermark_audit",
    // q148's rank windows run over the two 10-row top-k results
    "q148_heavy_hitters",
    // q87's source->bit rank window runs over the distinct-source dim
    // (<= |sources| rows, the r16 overlap-mask spelling)
    "q87_source_overlap")

  test("partition-less Window ops appear only over bounded summaries") {
    // in a windowspecdefinition the partition columns come first and
    // carry no sort direction; a spec whose FIRST argument is already
    // sort-directed has an empty partition spec
    val headIsOrdered =
      """windowspecdefinition\([^,()]*\s(ASC|DESC)\b""".r
    var partitioned = 0
    val offenders = plans.flatMap { case (name, plan) =>
      val blocks = plan.split("\n\\s*\n").toSeq.filter(
        _.linesIterator.nextOption().exists(_.matches("""\(\d+\) Window\b.*""")))
      val hasPartitionless = blocks.exists { b =>
        val arg = b.linesIterator.find(_.trim.startsWith("Arguments:")).getOrElse("")
        val pless = headIsOrdered.findFirstIn(arg).isDefined
        if (!pless && arg.nonEmpty) partitioned += 1
        pless
      }
      if (hasPartitionless && !partitionlessWindowAllowed(name)) Some(name)
      else None
    }
    assert(offenders.isEmpty,
      s"partition-less Window over a possibly-corpus-sized input: $offenders")
    // layout guard: the detector must still see keyed windows, else the
    // Arguments format changed and the scan is blind
    assert(partitioned > 10, "no partitioned Window parsed — audit is blind")
  }

  test("partition-less Window COUNT per plan is bounded (warning-flood pin)") {
    // every allowlisted partition-less window is over a bounded summary,
    // but each plan INSTANCE logs a WindowExec single-partition warning
    // per execution — r16's Verify log carried ~40 of them, drowning
    // real regressions (VERDICT r16 #2). Pin the per-plan count so a
    // rewrite that re-nests a bounded window under N consumers (and a
    // dim that quietly stops being deduplicated) shows up as a diff
    // here, not as log noise.
    val headIsOrdered =
      """windowspecdefinition\([^,()]*\s(ASC|DESC)\b""".r
    val counts = plans.flatMap { case (name, plan) =>
      val n = plan.split("\n\\s*\n").toSeq.count { b =>
        b.linesIterator.nextOption().exists(_.matches("""\(\d+\) Window\b.*""")) &&
          b.linesIterator.find(_.trim.startsWith("Arguments:"))
            .exists(a => headIsOrdered.findFirstIn(a).isDefined)
      }
      if (n > 0) Some(name -> n) else None
    }
    // today's census (r17): q87=5 (the ≤63-row source→bit dim appears
    // under perHash and under each name/size attach — runtime stage
    // reuse dedupes the executions), q148=2 (two 10-row top-k ranks),
    // q24/q82/q114=1. Growth past these means a bounded-summary window
    // picked up new static consumers — dedupe the subtree instead.
    counts.foreach { case (name, n) =>
      assert(n <= 5,
        s"$name plans $n partition-less Window instances — bounded " +
          "summaries should appear once (or a small constant of times " +
          "when a dim subtree repeats pre-reuse); dedupe the subtree")
    }
    assert(counts.values.sum <= 10,
      s"registry-wide partition-less Window instances grew to " +
        s"${counts.values.sum} (${counts.toSeq.sortBy(-_._2)}) — " +
        "the Verify log flood is back; dedupe or allowlist consciously")
  }

  test("every query reads the lake: a parquet scan (direct or landed stage)") {
    val offenders = plans.collect {
      // localCheckpoint boundaries surface as ExistingRDD scans of a
      // parquet-derived table; either way real data is read
      case (n, p) if !p.contains("parquet") && !p.contains("ExistingRDD") => n
    }
    assert(offenders.isEmpty, s"queries reading no stored data: $offenders")
  }

  /** Job ids started from the first to the last job that `body` runs:
    * a one-task job tagged through a local property brackets `body` on
    * each side, and the listener bus delivers events in order, so the
    * closing bracket's start means every job in between was seen.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.jobBudget"
    val started = new ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(e.jobId -> Option(e.properties).map(_.getProperty(key)).orNull): Unit
    }
    def bracket(tag: String): Unit = {
      sc.setLocalProperty(key, tag)
      try sc.parallelize(Seq(1), 1).count(): Unit finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      bracket("open"); body; bracket("close")
      val deadline = System.currentTimeMillis() + 30000
      while (!started.asScala.exists(_._2 == "close") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val ids = started.asScala.toSeq
      val open = ids.collectFirst { case (id, "open") => id }.get
      val close = ids.collectFirst { case (id, "close") => id }.get
      ids.count { case (id, _) => id > open && id < close }
    } finally sc.removeSparkListener(listener)
  }

  /** perfbench catalog-floor's queries, each with the jobs of a warm
    * execution at the test SF: construction plus a full collect, after
    * one such run. A global sort over an input at or under the advisory
    * partition size runs in one task (`OnePartitionSort`), without a
    * range-bounds sampling job or a range shuffle.
    */
  private val jobBudget = Map(
    "q40_knn_cosine" -> 1, "q39_quality_filter" -> 1, "q65_repetition" -> 2,
    "q15_above_brand_avg" -> 3, "q143_order_priority_check" -> 3, "q79_split_manifest" -> 3,
    "q10_rollup" -> 2, "q135_profit_by_nation_year" -> 6, "q76_token_budget" -> 5,
    "q71_boilerplate" -> 5)

  test("catalog-floor queries keep their job budget on a warm run") {
    def run(name: String): Unit = {
      SparkEntry.queries(name)(spark, sfDir).collect(): Unit
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    val counts = jobBudget.keys.toSeq.sorted.map { name =>
      run(name)
      name -> jobsOf(run(name))
    }.toMap
    assert(counts == jobBudget, s"warm jobs per query ${counts.toSeq.sorted}")
  }
}
