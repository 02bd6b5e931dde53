package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's own checks: `SelfTest <BENCHMARK.json>`. Exits
  * non-zero on the first failed check; on success prints a synthetic
  * result line last, for the caller to parse too.
  */
object SelfTest {
  private val mapper = Report.mapper

  private def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  /** Every metric BENCHMARK.json declares is reported, with its unit. */
  def metricsMatchContract(contract: java.io.File): Unit = {
    val c = mapper.readTree(contract)
    def declared(key: String) = c.get(key).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    check(declared("end_to_end") == Report.endToEnd,
      s"end_to_end in BENCHMARK.json ${declared("end_to_end")} != reported ${Report.endToEnd}")
    check(declared("per_layer") == Report.perLayer,
      s"per_layer in BENCHMARK.json ${declared("per_layer")} != reported ${Report.perLayer}")
  }

  /** The result line parses, and carries every metric with its unit. */
  def resultLineParses(): String = {
    val metrics = Report.endToEnd.zipWithIndex.map { case ((n, _), i) => n -> (i + 0.125) }.toMap
    val line = Report.line(correct = true, attempted = 3, failed = 0, Report.endToEnd, metrics)
    val r = mapper.readTree(line)
    check(r.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics"),
      s"result keys: $line")
    check(r.get("attempted").isInt && r.get("failed").isInt && r.get("correct").isBoolean,
      s"result field types: $line")
    Report.endToEnd.foreach { case (n, u) =>
      val m = r.get("metrics").get(n)
      check(m != null && m.get("unit").asText == u && m.get("value").asDouble == metrics(n),
        s"metric $n with unit $u in $line")
    }
    line
  }

  /** Self time is duration minus the union of the children's intervals. */
  def selfTimeArithmetic(): Unit = {
    val spans = Seq(
      Span(0, -1, "op", "op", 0, 100),
      Span(1, 0, "registry.build", "registry", 10, 30),
      Span(2, 0, "execute", "execute", 20, 50), // overlaps its sibling
      Span(3, 2, "job 1", "job", 25, 45),
      Span(4, 3, "stage 1.0", "stage", 30, 40),
      Span(5, 3, "stage 2.0", "stage", 35, 60), // runs past its job
      Span(6, 0, "execute", "execute", 90, 95))
    val self = Spans.selfTimes(spans)
    val want = Map(0 -> 55L, 1 -> 20L, 2 -> 10L, 3 -> 5L, 4 -> 10L, 5 -> 25L, 6 -> 5L)
    check(self == want, s"self times $self != $want")
    check(Spans.selfByLayer(spans) == Map("op" -> 55L, "registry" -> 20L, "execute" -> 15L,
      "job" -> 5L, "stage" -> 35L), s"self by layer ${Spans.selfByLayer(spans)}")
    check(Spans.covered(Nil, 0, 10) == 0 && Spans.covered(Seq((5L, 3L)), 0, 10) == 0,
      "empty and inverted intervals cover nothing")
  }

  /** The fingerprint consumes a column that `count()` prunes. */
  def fingerprintCoversPrunedColumn(spark: SparkSession): Unit = {
    val base = spark.range(0, 1000, 1, 4).toDF("id")
    val a = base.select(col("id"), (col("id") * 2).as("x"))
    val b = base.select(col("id"), (col("id") * 3).as("x"))
    val countPlan = a.groupBy().count().queryExecution.optimizedPlan.toString
    check(!countPlan.contains("* 2"), s"count() kept the output-only column:\n$countPlan")
    check(a.count() == b.count(), "counts differ")
    val (fa, fb) = (Fingerprint.of(a), Fingerprint.of(b))
    check(fa.rows == 1000 && fa.columns.head == fb.columns.head && fa != fb,
      s"fingerprints $fa and $fb do not separate the output-only column")
    check(Fingerprint.of(a.orderBy(col("id").desc)) == fa, "fingerprint depends on row order")
    val m = spark.range(0, 10).select(map(col("id"), lit(1.5)).as("m"), array(col("id")).as("a"))
    check(Fingerprint.of(m).rows == 10, "map and array columns hash")
  }

  /** Consuming an op's output runs the op's own plan: a final ORDER BY
    * keeps its sort and its range exchange in the plan that executed.
    */
  def consumeKeepsSort(spark: SparkSession): Unit = {
    val sorted = spark.range(0, 1000, 1, 4).toDF("id").orderBy(col("id").desc)
    val ran = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = if (qe eq sorted.queryExecution) ran.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val ((width, rows), plan) =
      try (Fingerprint.consume(sorted), ran.poll(30, java.util.concurrent.TimeUnit.SECONDS))
      finally spark.listenerManager.unregister(listener)
    check(width == 1 && rows.map(_.getLong(0)).toSeq == (999L to 0L by -1),
      "consumed rows are not in the query's order")
    check(plan != null && plan.contains("Sort [") && plan.contains("rangepartitioning"),
      s"the executed plan lost its sort or range exchange:\n$plan")
  }

  def main(argv: Array[String]): Unit = {
    require(argv.length == 1, "usage: SelfTest <BENCHMARK.json>")
    metricsMatchContract(new java.io.File(argv(0)))
    selfTimeArithmetic()
    val spark = graft.GraftSession.local(1, "perfbench-selftest")
    try { fingerprintCoversPrunedColumn(spark); consumeKeepsSort(spark) } finally spark.stop()
    println(resultLineParses())
  }
}
