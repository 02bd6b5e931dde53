package graft

import org.apache.spark.sql.functions._
import graft.streaming.TextStreams

/** Second-opinion oracle for the trickiest sketch queries: an
  * independent PURE-SCALA replay of each sketch's arithmetic over the
  * collected corpus, compared row-for-row with the Spark plan's
  * output. The DuckDB oracle already cross-checks Spark per round;
  * this pins the arithmetic itself against a third, dependency-free
  * spelling (plain collections, no Spark expressions), so a shared
  * misreading of the sketch math in BOTH SQL dialects can't hide.
  * Same replay discipline as SpanDedupSpec/GraphSpec.
  *
  * Shared primitive: the md5-based 60-bit hash (operators.Text.hash60
  * === first 15 hex chars of md5 parsed base-16) — re-spelled here on
  * java.security.MessageDigest, not Spark's md5().
  */
class SketchReplaySpec extends SparkSpec {

  /** Pure-JVM twin of operators.Text.hash60 / the oracle's h60. */
  private def h60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.map("%02x".format(_)).mkString.take(15), 16)
  }

  private lazy val docs: Seq[(Long, String, String, String)] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .as[(Long, String, String, String)].collect().toSeq
  }

  /** term -> total corpus count (whitespace tokens). */
  private lazy val termFreq: Map[String, Long] =
    docs.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }

  /** The d=4 x w=16 count-min sketch over termFreq, q90's geometry. */
  private def countMinCells(w: Int): Map[(Int, Long), Long] = {
    val cells = scala.collection.mutable.Map[(Int, Long), Long]()
    for ((t, c) <- termFreq; j <- 0 until 4) {
      val k = (j, h60(s"$t#$j") % w)
      cells(k) = cells.getOrElse(k, 0L) + c
    }
    cells.toMap
  }

  test("the independent h60 equals TextStreams.hash60 over every corpus " +
      "term's salted rows and every document text") {
    val items = termFreq.keys.toSeq.flatMap(t => (0 until 4).map(j => s"$t#$j")) ++
      docs.map(_._2)
    items.foreach(s => assert(TextStreams.hash60(s) === h60(s), s"'$s'"))
  }

  test("q90 count-min: every term's estimate replays in pure Scala " +
      "(same salted h60 rows, same min-over-cells)") {
    import spark.implicits._
    val w = 16
    val cells = countMinCells(w)
    val expect = termFreq.map { case (t, c) =>
      val est = (0 until 4).map(j => cells((j, h60(s"$t#$j") % w))).min
      t -> (c, est)
    }
    val got = SparkEntry.queries("q90_countmin")(spark, sfDir)
      .select(col("term"), col("cnt"), col("est"), col("overcount"))
      .as[(String, Long, Long, Long)].collect()
    assert(got.length === expect.size, "vocabulary size must agree")
    got.foreach { case (t, c, est, over) =>
      val (ec, ee) = expect(t)
      assert(c === ec && est === ee && over === ee - ec,
        s"term '$t': spark ($c,$est,$over) vs replay ($ec,$ee)")
      assert(est >= c, "count-min never undercounts")
    }
  }

  test("q148 heavy hitters: both top-10 rankings and the agreement " +
      "flags replay in pure Scala (ties break term-asc)") {
    import spark.implicits._
    val w = 16
    val cells = countMinCells(w)
    val est = termFreq.map { case (t, c) =>
      (t, c, (0 until 4).map(j => cells((j, h60(s"$t#$j") % w))).min)
    }.toSeq
    val topTrue = est.sortBy { case (t, c, _) => (-c, t) }.take(10)
      .zipWithIndex.map { case ((t, _, _), i) => t -> (i + 1) }.toMap
    val topEst = est.sortBy { case (t, _, e) => (-e, t) }.take(10)
      .zipWithIndex.map { case ((t, _, _), i) => t -> (i + 1) }.toMap
    val keep = topTrue.keySet ++ topEst.keySet
    val got = SparkEntry.queries("q148_heavy_hitters")(spark, sfDir)
      .select(col("term"), col("cnt"), col("est"),
        col("true_rank"), col("est_rank"), col("in_both"))
      .as[(String, Long, Long, Int, Int, Int)].collect()
    assert(got.map(_._1).toSet === keep,
      "output must be exactly the union of both top-10 sets")
    got.foreach { case (t, c, e, tr, er, both) =>
      assert(c === termFreq(t))
      assert(e === est.find(_._1 == t).get._3)
      assert(tr === topTrue.getOrElse(t, 0), s"true_rank of '$t'")
      assert(er === topEst.getOrElse(t, 0), s"est_rank of '$t'")
      assert(both === (if (tr > 0 && er > 0) 1 else 0))
    }
  }

  test("q134 HLL: registers, the capped integer harmonic sum, and the " +
      "linear-counting switch replay in pure Scala for every " +
      "(domain, lang) group in both cardinality regimes") {
    import spark.implicits._
    val m = 256; val cap = 24
    val num = 789749515417550848L
    val items: Seq[(String, String, String)] =
      docs.flatMap { case (_, text, lang, _) =>
        val w = text.split(" ").toSeq
        w.map(t => ("token", lang, t)) ++
          (if (w.size >= 3)
            w.sliding(3).map(_.mkString(" ")).toSeq.distinct
              .map(sh => ("shingle", lang, sh))
          else Seq.empty)
      }
    val expect = items.groupBy { case (d, l, _) => (d, l) }.map {
      case ((dom, lang), xs) =>
        val is = xs.map(_._3)
        val nExact = is.distinct.size.toLong
        val regs = scala.collection.mutable.Map[Long, Int]()
        is.foreach { item =>
          val h = h60(item)
          val v = h >> 8
          val rho =
            if (v == 0) cap
            else math.min(java.lang.Long.numberOfTrailingZeros(v) + 1, cap)
          val b = h % m
          regs(b) = math.max(regs.getOrElse(b, 0), rho)
        }
        val sPresent = regs.values.map(r => 1L << (cap - r)).sum
        val nBuckets = regs.size.toLong
        val sTotal = sPresent + (m - nBuckets) * (1L << cap)
        val raw = num / (1000000L * sTotal)
        val zeros = m - nBuckets
        val nHll =
          if (zeros > 0 && raw <= 5 * m / 2)
            m.toLong * math.round(math.log(m.toDouble / zeros) * 1e6) /
              1000000L
          else raw
        val errPpm = math.abs(nHll - nExact) * 1000000L / nExact
        (dom, lang) ->
          ((nExact, nHll, errPpm, nBuckets, regs.values.max.toLong))
    }
    val got = SparkEntry.queries("q134_hll_distinct")(spark, sfDir)
      .select(col("domain"), col("lang"), col("n_exact"), col("n_hll"),
        col("abs_err_ppm"), col("n_buckets"), col("max_rho"))
      .as[(String, String, Long, Long, Long, Long, Int)].collect()
    assert(got.length === expect.size)
    got.foreach { case (dom, lang, ne, nh, err, nb, mr) =>
      val (ene, enh, eerr, enb, emr) = expect((dom, lang))
      assert((ne, nh, err, nb, mr.toLong) === ((ene, enh, eerr, enb, emr)),
        s"group ($dom,$lang): spark ($ne,$nh,$err,$nb,$mr) vs " +
          s"replay ($ene,$enh,$eerr,$enb,$emr)")
    }
  }

  test("q136 sampled quantiles: the deterministic 1/8 h60 sample and " +
      "both interpolated percentiles replay in pure Scala per group") {
    import spark.implicits._
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_returnflag"), col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"))
      .as[(String, Long, Int, Double)].collect().toSeq
    def pct(sorted: IndexedSeq[Double], p: Double): Double = {
      // Spark's exact `percentile`: linear interpolation at p*(n-1)
      val pos = p * (sorted.size - 1)
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < sorted.size)
        sorted(lo) + frac * (sorted(lo + 1) - sorted(lo))
      else sorted(lo)
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = li.groupBy(_._1).map { case (flag, xs) =>
      val all = xs.map(_._4).sorted.toIndexedSeq
      val kept = xs.filter { case (_, ok, ln, _) =>
        h60(s"$ok#$ln") % 8 == 0
      }.map(_._4).sorted.toIndexedSeq
      val (e50, e95) = (r6(pct(all, 0.5)), r6(pct(all, 0.95)))
      val (s50, s95) = (r6(pct(kept, 0.5)), r6(pct(kept, 0.95)))
      flag -> ((e50, e95, s50, s95, xs.size.toLong, kept.size.toLong,
        math.round(math.abs(s50 - e50) * 1e6),
        math.round(math.abs(s95 - e95) * 1e6)))
    }
    val got = SparkEntry.queries("q136_sampled_quantiles")(spark, sfDir)
      .select(col("l_returnflag"), col("exact_p50"), col("exact_p95"),
        col("sample_p50"), col("sample_p95"), col("n_total"),
        col("n_sample"), col("err_p50_micro"), col("err_p95_micro"))
      .as[(String, Double, Double, Double, Double, Long, Long, Long, Long)]
      .collect()
    assert(got.length === expect.size)
    got.foreach { case (f, e50, e95, s50, s95, nt, ns, m50, m95) =>
      val (xe50, xe95, xs50, xs95, xnt, xns, xm50, xm95) = expect(f)
      assert((e50, e95, s50, s95, nt, ns, m50, m95) ===
        ((xe50, xe95, xs50, xs95, xnt, xns, xm50, xm95)),
        s"group $f: spark vs replay mismatch")
    }
  }
}
