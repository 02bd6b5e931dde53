package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.{GraftSession, Json, Registry, SparkEntry}
import graft.operators.Relational

/** Per-query evidence for optimization work, over SPARK_GRAFT_SF_DIR:
  *
  *   runMain graft.tools.Probe plan  q94,q127   # formatted physical plans
  *   runMain graft.tools.Probe stats q94,q127   # phase split + cost counters
  *   runMain graft.tools.Probe skew             # hot-key join → skew_bench.json
  *
  * The list is [[Registry.select]]'s: short qNN prefixes or full names.
  *
  * `plan` prints each query's `explain("formatted")`, so plan claims in an
  * optimization write-up are checkable without running the query.
  *
  * `stats` runs each query twice (the first rep also pays codegen and
  * landed-stage builds; the second is the warm figure) and prints one
  * line per rep. The line splits wall time into DRIVER phases — DataFrame
  * construction (`build`), analysis + optimization + physical planning
  * (`plan`, forcing `executedPlan`) and execution (`exec`) — and carries
  * executor cost counters that hypervisor steal cannot contaminate: CPU
  * and run seconds, jobs, stages, tasks, shuffle read/write and spill.
  * `compiles` counts the rep's Janino compiles of generated code (the
  * JVM-wide `CodegenMetrics` count, so its delta over the rep): a
  * repeated rep that finds its classes in the codegen cache prints
  * `compiles=0`, and a nonzero figure there is codegen in the query's
  * fixed cost.
  * Execution is a full-output `noop` write, so every column the oracle
  * checks is computed; a `count()` lets Catalyst prune output-only
  * expressions, and its figures are not comparable with these.
  *
  * `skew` measures [[Relational.saltedJoin]], the library's skew escape
  * hatch, on a synthetic hot-key join (no lake read) and writes
  * `skew_bench.json`; see [[skew]].
  */
object Probe {

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe <plan|stats> <qNN,...> | Probe skew"
    require(args.sameElements(Array("skew")) ||
      (args.length == 2 && Set("plan", "stats")(args(0))), usage)
    val spark = GraftSession.local(appName = "probe")
    spark.sparkContext.setLogLevel("ERROR")
    if (args(0) == "skew") skew(spark)
    else {
      val names = Registry.select(args(1))
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      if (args(0) == "plan") names.foreach { name =>
        println(s"========== $name ==========")
        println(SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(FormattedMode))
      }
      else stats(spark, sfDir, names)
    }
    spark.stop()
  }

  /** Executor-side cost of everything run since the last [[reset]]. */
  private final class Counters extends SparkListener {
    val jobs, stages, tasks, cpuNs, runMs, shufR, shufW, spill = new LongAdder
    def reset(): Unit =
      Seq(jobs, stages, tasks, cpuNs, runMs, shufR, shufW, spill).foreach(_.reset())
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.add(m.executorCpuTime)
        runMs.add(m.executorRunTime)
        shufR.add(m.shuffleReadMetrics.totalBytesRead)
        shufW.add(m.shuffleWriteMetrics.bytesWritten)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private def stats(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    for (name <- names; rep <- 1 to 2) {
      c.reset()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (df, build) = timed(SparkEntry.queries(name)(spark, sfDir))
      val (_, plan) = timed(df.queryExecution.executedPlan)
      val (_, exec) = timed(Registry.consume(df))
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      // listener events are async; give the bus a beat before reading
      Thread.sleep(300)
      println(f"[stats] $name rep$rep build=$build%.2f plan=$plan%.2f " +
        f"exec=$exec%.2f total=${build + plan + exec}%.2f " +
        f"cpu=${c.cpuNs.sum / 1e9}%.2f run=${c.runMs.sum / 1e3}%.2f " +
        f"jobs=${c.jobs.sum} stages=${c.stages.sum} tasks=${c.tasks.sum} " +
        f"shufR=${c.shufR.sum / 1e6}%.1fMB shufW=${c.shufW.sum / 1e6}%.1fMB " +
        f"spill=${c.spill.sum / 1e6}%.1fMB " +
        f"compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0}")
    }
  }

  /** The hot-key join timed three ways: 90% of an 8M-row fact on ONE key
    * against a 200k-row dim that may not broadcast (the hot-key problem
    * only exists when the dim cannot: a broadcast join is stateless per
    * row).
    *
    *  - `plain`: sort-merge join with AQE skew handling OFF, the
    *    one-straggler-partition baseline a naive plan pays;
    *  - `salted`: [[Relational.saltedJoin]] with 32 salts, the hot key's
    *    rows spread over 32 shuffle partitions and the dim replicated
    *    32× (bounded: 32 × 200k rows); `salted_correct` checks its sum
    *    against the plain join's;
    *  - `aqe`: the plain join with AQE skew-join ON, Spark's runtime
    *    split of the oversized partition, the default path.
    *
    * Salting and AQE both collapse the straggler, and AQE needs no code,
    * which is why saltedJoin stays a library escape hatch for what AQE
    * cannot touch (skewed broadcast-ineligible joins under non-SMJ
    * plans, pre-AQE engines) rather than being wired into query plans.
    */
  private def skew(spark: SparkSession): Unit = {
    import spark.implicits._
    val nBig = 8000000L
    val nDim = 200000L
    val salts = 32
    val big = spark.range(nBig)
      .select(col("id"),
        when(col("id") % 10 < 9, lit(0L))
          .otherwise(pmod(col("id"), lit(nDim))).as("k"))
      .localCheckpoint(true)
    val dim = spark.range(nDim)
      .select(col("id").as("dk"), (col("id") * 7 % 1000).as("v"))
      .localCheckpoint(true)
    def agg(j: DataFrame): DataFrame = j.agg(sum(col("v")).as("s"))
    def plain: DataFrame = agg(big.join(dim, col("k") === col("dk")))
    def timed(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.count(): Unit
      (System.nanoTime() - t0) / 1e9
    }
    val noBroadcast = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val noSkewJoin = noBroadcast :+ ("spark.sql.adaptive.skewJoin.enabled" -> "false")
    val expected = plain.as[Long].head()
    val plainS = GraftSession.withConf(spark, noSkewJoin)(timed(plain))
    val (saltedS, saltedOk) = GraftSession.withConf(spark, noSkewJoin) {
      val j = agg(Relational.saltedJoin(big, dim, "k", "dk", salts))
      (timed(j), j.as[Long].head() == expected)
    }
    val aqeS = GraftSession.withConf(spark, noBroadcast ++ Seq(
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true"))(timed(plain))
    val line = s"""{"metric":"skew_bench","unit":"sec","rows":$nBig,""" +
      s""""dim_rows":$nDim,"hot_share":0.9,"salts":$salts,""" +
      s""""plain_s":${Json.decimal(plainS, 2)},""" +
      s""""salted_s":${Json.decimal(saltedS, 2)},""" +
      s""""aqe_skew_s":${Json.decimal(aqeS, 2)},"salted_correct":$saltedOk}"""
    val w = new java.io.PrintWriter("skew_bench.json", "UTF-8")
    try w.println(line) finally w.close()
    println(line)
  }
}
