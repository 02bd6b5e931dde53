package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by min-label propagation — the
  * clustering step shared by every near-dup pipeline (text q67,
  * embeddings q69): pair lists say "these two match", retention needs the
  * transitive closure.
  *
  * Each round every node takes the min of its own label, its neighbors'
  * labels, and its label's label (pointer jumping / path halving, the
  * classic O(log diameter) accelerant — plain neighbor propagation
  * needs O(diameter) rounds and a loose similarity threshold produces
  * long CHAIN components, observed >20 deep on the sf0.1 embedding
  * graph). Everything is an equi-join plus a keyed min, hash-partitioned
  * by node — nothing corpus-sized is broadcast. The driver observes only
  * a scalar convergence count per round, and the final labels are
  * checkpointed so downstream actions never replay the loop.
  *
  * Join strategy: localCheckpoint flattens each round's plan to a
  * LogicalRDD whose stats Catalyst does not know, so AQE would plan
  * every per-round join as a 3-stage shuffle join — measured ~4 s of
  * pure round overhead on a 1 000-node pair graph. The pair list is
  * materialized anyway, so its exact row count is free: below
  * [[broadcastEdgeLimit]] edges the label table (≤ 2 edges worth of
  * nodes) is explicitly broadcast, making every per-round join
  * map-side. Above the limit — the high-duplication corpus where the
  * pair graph itself is huge — the hint is withheld and the loop runs
  * the same shuffle-join shape as before, so the guard never trades
  * scale safety for the small-graph speedup.
  */
object Graph {

  /** Edge count up to which per-round join sides are broadcast: 2M edges
    * bound the label table at ~4M entries × 16 B ≈ 64 MB, the session's
    * autoBroadcastJoinThreshold. */
  private val broadcastEdgeLimit = 2L * 1000 * 1000

  /** `pairsIn` = two id columns (any names), one row per undirected edge.
    * Returns (`outCol`, cluster_id, is_canonical) for every node that
    * appears in a pair, cluster_id = min reachable id.
    */
  def connectedComponents(pairsIn: DataFrame, outCol: String): DataFrame = {
    // materialize the pair list before mirroring: both union branches
    // would replay the upstream candidate pipeline (measured 2x cost)
    val pairs = pairsIn.toDF("p1", "p2").localCheckpoint(true)
    val small = pairs.count() <= broadcastEdgeLimit
    def side(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val edges = pairs.union(pairs.select(col("p2"), col("p1")))
      .toDF("src", "dst").cache()
    // each round MUST checkpoint, not cache: the round-N plan references
    // round N-1 four times (self + neighbor join + two pointer-jump
    // sides), so with cache() the LOGICAL tree still grows 4^N and the
    // analyzer OOMs by round ~6 (observed); localCheckpoint flattens the
    // plan to a LogicalRDD each round
    // seed with the 1-hop neighbor min: with identity labels the first
    // loop round's pointer jumps are no-ops (lab(lab(n)) = n), so that
    // round only ever achieved exactly this aggregation — computing it
    // up front saves one full round (broadcast + 4 joins + convergence
    // check) on every graph
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("src").as("node"),
        least(col("src"), col("nmin")).as("lab"))
      .localCheckpoint(true)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 40) {
      // one broadcast of the label map per round, chained three times:
      // each join steps node -> lab(prev), so the chain applies lab^4 in
      // a single plan whose three identical broadcast subtrees collapse
      // to one ReusedExchange — long chain components (10 plain-jump
      // rounds observed on the sf0.1 embedding graph) close in 8 cheaper
      // rounds. Deeper chains don't pay: edge propagation (1 hop/round)
      // rate-limits discovery, and a 7-deep chain was measured to
      // destabilize codegen (a 28 s round on a 1 000-node graph).
      val labMap = side(labels.toDF("n2", "l2"))
      def step(m: DataFrame): DataFrame =
        m.join(labMap, col("lab") === col("n2"))
          .select(col("node"), col("l2").as("lab"))
      val far = step(step(step(labels)))
      val viaEdges = side(edges).join(far, col("src") === col("node"))
        .select(col("dst").as("node"), col("lab"))
      val next = labels.union(viaEdges).union(far)
        .groupBy(col("node")).agg(min(col("lab")).as("lab")).localCheckpoint(true)
      converged = next.join(side(labels.withColumnRenamed("lab", "old")), "node")
        .filter(col("lab") < col("old")).isEmpty
      labels = next
      rounds += 1
    }
    require(converged, s"label propagation did not converge in $rounds rounds")
    val result = labels.select(col("node").as(outCol), col("lab").as("cluster_id"),
      (col("node") === col("lab")).as("is_canonical"))
      .orderBy(col(outCol))
      .localCheckpoint(true)
    edges.unpersist()
    result
  }

  /** Fixed-iteration integer PageRank over an undirected pair graph —
    * the canonical-selection signal a near-dup retention pass uses when
    * "min doc_id" is too arbitrary: high-rank nodes sit at cluster
    * centers (hub boilerplate), low-rank nodes are leaf variants.
    * Reproducible on any engine because every step is exact integer
    * math: ranks start at 1e6 micro-units; each round a node emits
    * `pr div deg` to each neighbor and collects
    * `150000 + 850000·Σ div 1e6` (damping 0.85 in micro-units; floor
    * division on non-negative operands — identical in Spark `div` and
    * DuckDB `//`).
    *
    * Shape at scale: the standard Pregel schedule as dataframe ops —
    * per round one equi-join of the rank table with the edge list (hash
    * on node) plus one keyed sum; degrees land once; localCheckpoint
    * cuts the unrolled lineage so round N never replays rounds 1..N−1.
    * The same [[broadcastEdgeLimit]] guard as connectedComponents makes
    * the per-round joins map-side on small graphs and withholds the
    * hint on huge ones. Overflow: rank mass is conserved (~1e6 avg), so
    * `850000·Σ` fits BIGINT up to ~1e7-degree hubs; beyond that widen
    * the product to DECIMAL(38,0) like the q58/q64 rule.
    */
  def pageRank(pairsIn: DataFrame, iters: Int): DataFrame = {
    val pairs = pairsIn.toDF("p1", "p2").localCheckpoint(true)
    val small = pairs.count() <= broadcastEdgeLimit
    def side(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val edges = pairs.union(pairs.select(col("p2"), col("p1")))
      .toDF("src", "dst").localCheckpoint(true)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "node").localCheckpoint(true)
    var ranks = deg.select(col("node"), lit(1000000L).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = ranks.join(side(deg), "node")
        .select(col("node"), expr("pr div deg").as("c"))
      val sums = edges.withColumnRenamed("src", "node")
        .join(side(contrib), "node")
        .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
        .withColumnRenamed("dst", "node")
      ranks = deg.select(col("node"))
        .join(sums, Seq("node"), "left")
        .select(col("node"),
          expr("CAST(150000 + 850000 * coalesce(sc, 0) div 1000000 AS BIGINT)")
            .as("pr"))
      // no per-round checkpoint: unlike connectedComponents (which
      // references the previous round FOUR times and grows 4^N), each
      // round here consumes the previous ranks exactly once, so the
      // unrolled plan stays linear in `iters` and runs as ONE job —
      // five blocking materialization barriers saved
    }
    ranks.join(side(deg), "node")
      .select(col("node"), col("pr").as("pr_micro"), col("deg"))
  }
}
