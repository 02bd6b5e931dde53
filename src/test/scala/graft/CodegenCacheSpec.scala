package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark keeps compiled generated classes in a JVM-wide LRU sized by
  * `spark.sql.codegen.cache.maxEntries`. When one pass over a working set
  * cycles more distinct classes than the cache holds, every lookup misses
  * and every pass re-runs Janino and re-warms the JIT for all of them. A
  * repeated pass over a fixed query list must therefore compile nothing.
  */
class CodegenCacheSpec extends SparkSpec {

  // the perfbench catalog-floor list
  private val queries = Seq(
    "q40_knn_cosine", "q39_quality_filter", "q65_repetition", "q15_above_brand_avg",
    "q143_order_priority_check", "q79_split_manifest", "q10_rollup",
    "q135_profit_by_nation_year", "q76_token_budget", "q71_boilerplate")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def pass(): Long = {
    val c0 = compiles
    queries.foreach { q =>
      SparkEntry.queries(q)(spark, sfDir).collect()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    compiles - c0
  }

  test("a repeated pass over the catalog-floor queries compiles no generated code") {
    val first = pass()
    val second = pass()
    info(s"compiles: first pass $first, second pass $second")
    assert(second === 0L,
      s"the second pass recompiled $second generated classes (first pass: $first)")
  }
}
