package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, Registry, SparkEntry}

/** Per-query evidence for optimization work, over SPARK_GRAFT_SF_DIR:
  *
  *   runMain graft.tools.Probe plan  q94,q127   # formatted physical plans
  *   runMain graft.tools.Probe stats q94,q127   # phase split + cost counters
  *
  * The list is [[Registry.select]]'s: short qNN prefixes or full names.
  *
  * `plan` prints each query's `explain("formatted")`, so plan claims in an
  * optimization write-up are checkable without running the query.
  *
  * `stats` runs each query SPARK_GRAFT_STATS_REPS times (default 2; the
  * first rep also pays codegen and landed-stage builds) and prints one
  * line per rep. The line splits wall time into DRIVER phases — DataFrame
  * construction (`build`), analysis + optimization + physical planning
  * (`plan`, forcing `executedPlan`) and execution (`exec`) — and carries
  * executor cost counters that hypervisor steal cannot contaminate: CPU
  * and run seconds, jobs, stages, tasks, shuffle read/write and spill.
  * Execution is a full-output `noop` write, so every column the oracle
  * checks is computed; a `count()` lets Catalyst prune output-only
  * expressions, and its figures are not comparable with these.
  */
object Probe {

  def main(args: Array[String]): Unit = {
    require(args.length == 2 && Set("plan", "stats")(args(0)),
      "usage: Probe <plan|stats> <qNN,...>")
    val names = Registry.select(args(1))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(appName = "probe")
    spark.sparkContext.setLogLevel("ERROR")
    if (args(0) == "plan") names.foreach { name =>
      println(s"========== $name ==========")
      println(SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(FormattedMode))
    }
    else stats(spark, sfDir, names)
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
    val reps = sys.env.getOrElse("SPARK_GRAFT_STATS_REPS", "2").toInt
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    for (name <- names; rep <- 1 to reps) {
      c.reset()
      val (df, build) = timed(SparkEntry.queries(name)(spark, sfDir))
      val (_, plan) = timed(df.queryExecution.executedPlan)
      val (_, exec) = timed(df.write.format("noop").mode("overwrite").save())
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      // listener events are async; give the bus a beat before reading
      Thread.sleep(300)
      println(f"[stats] $name rep$rep build=$build%.2f plan=$plan%.2f " +
        f"exec=$exec%.2f total=${build + plan + exec}%.2f " +
        f"cpu=${c.cpuNs.sum / 1e9}%.2f run=${c.runMs.sum / 1e3}%.2f " +
        f"jobs=${c.jobs.sum} stages=${c.stages.sum} tasks=${c.tasks.sum} " +
        f"shufR=${c.shufR.sum / 1e6}%.1fMB shufW=${c.shufW.sum / 1e6}%.1fMB " +
        f"spill=${c.spill.sum / 1e6}%.1fMB")
    }
  }
}
