// Skew evidence: run with `sbt "runMain graft.tools.SkewBench"`.
// Measures the pathological hot-key join three ways on one synthetic
// dataset and writes skew_bench.json — the artifact behind the
// Relational.saltedJoin escape hatch (README "Skew" section).
package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.operators.Relational

/** Why this exists: `Relational.saltedJoin` is the library's explicit
  * skew fallback, but a capability that has never been measured is a
  * claim, not a tool. This main builds a deterministic hot-key join —
  * 90% of an 8M-row fact on ONE key, a 200k-row dim too big to
  * broadcast under a 1MB threshold — and times:
  *
  *  - `plain`: sort-merge join with AQE skew handling OFF — the
  *    one-straggler-partition baseline a naive plan pays;
  *  - `salted`: [[Relational.saltedJoin]] with 32 salts — the hot
  *    key's rows spread across 32 shuffle partitions, the dim
  *    replicated 32× (bounded: 32 × 200k rows);
  *  - `aqe`: the same plain join with AQE skew-join ON — Spark's
  *    runtime split of the oversized partition, the default path.
  *
  * The point the numbers make: salting and AQE both collapse the
  * straggler; AQE needs no code, which is why saltedJoin stays a
  * library escape hatch for the cases AQE cannot touch (skewed
  * broadcast-ineligible joins under non-SMJ plans, or pre-AQE engines)
  * rather than being wired into query plans.
  */
object SkewBench {

  private def timed(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.queryExecution.toRdd.count(): Unit
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(appName = "skew-bench")
    import spark.implicits._

    val nBig = 8000000L
    val nDim = 200000L
    val salts = 32
    // 90% of fact rows on key 0; the rest uniform over the dim keys
    val big = spark.range(nBig)
      .select(col("id"),
        when(col("id") % 10 < 9, lit(0L))
          .otherwise(pmod(col("id"), lit(nDim))).as("k"))
      .localCheckpoint(true)
    val dim = spark.range(nDim)
      .select(col("id").as("dk"), (col("id") * 7 % 1000).as("v"))
      .localCheckpoint(true)

    def agg(j: DataFrame): DataFrame = j.agg(sum(col("v")).as("s"))

    def withConf[A](pairs: (String, String)*)(body: => A): A = {
      val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally olds.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

    // broadcast off: the hot-key problem only exists when the dim
    // cannot broadcast (else the join is stateless per row)
    val noBroadcast = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

    val expected = agg(big.join(dim, col("k") === col("dk")))
      .as[Long].head()

    val plainS = withConf(noBroadcast :+
        ("spark.sql.adaptive.skewJoin.enabled" -> "false"): _*) {
      timed(agg(big.join(dim, col("k") === col("dk"))))
    }
    val (saltedS, saltedOk) = withConf(noBroadcast :+
        ("spark.sql.adaptive.skewJoin.enabled" -> "false"): _*) {
      val j = agg(Relational.saltedJoin(big, dim, "k", "dk", salts))
      (timed(j), j.as[Long].head() == expected)
    }
    val aqeS = withConf(noBroadcast :+
        ("spark.sql.adaptive.skewJoin.enabled" -> "true") :+
        ("spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true"): _*) {
      timed(agg(big.join(dim, col("k") === col("dk"))))
    }

    def f(v: Double) = BigDecimal(v).setScale(2,
      BigDecimal.RoundingMode.HALF_UP).toString
    val line = s"""{"metric":"skew_bench","unit":"sec","rows":$nBig,""" +
      s""""dim_rows":$nDim,"hot_share":0.9,"salts":$salts,""" +
      s""""plain_s":${f(plainS)},"salted_s":${f(saltedS)},""" +
      s""""aqe_skew_s":${f(aqeS)},"salted_correct":$saltedOk}"""
    val w = new java.io.PrintWriter("skew_bench.json", "UTF-8")
    try w.println(line) finally w.close()
    println(line)
    spark.stop()
  }
}
