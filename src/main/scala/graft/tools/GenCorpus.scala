package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, IntegerType}

/** Seed-pinned synthetic corpus generator for scale rehearsal PAST the
  * driver's read-only testdata (which caps at sf0.1):
  *
  *   runMain graft.tools.GenCorpus <outDir> <sf> [--seed N]
  *
  * Emits the full ten-table layout (`region nation customer supplier
  * part orders lineitem events documents embeddings`) with the SAME
  * schemas, key-cardinality ratios, categorical domains, date ranges,
  * near-duplicate rate (~5% of documents are mutated copies of an
  * earlier doc) and unit-norm label-clustered embeddings as the
  * driver's sf-series, so `graft.Bench` / `graft.StreamBench` run on it
  * unchanged. sf=1 ≈ 6M lineitem rows / 50k docs — one decade past the
  * bench SF.
  *
  * NOT an oracle corpus: correctness stays on the driver's data; this
  * exists solely so SCALING.md / STREAM_SCALING.md can measure a
  * second decade (0.1→1) instead of extrapolating from one step.
  *
  * Determinism: every value is a pure function of (table, row id,
  * salt, seed) via xxhash64 — independent of partitioning, task
  * retries, and cluster layout, so any two runs (or any two machines)
  * produce identical bytes-modulo-encoding. No `rand()` (partition-
  * seeded, layout-dependent), no driver-side loops — every table is a
  * `spark.range` + column expressions, so generation itself scales.
  */
object GenCorpus {

  /** Uniform hash in [0, 1e9) of (cols..., salt, seed). */
  private def h(seed: Long, salt: Int, cols: Column*): Column =
    pmod(xxhash64(cols :+ lit(salt) :+ lit(seed): _*), lit(1000000000L))

  /** Uniform double in [0, 1). */
  private def u(seed: Long, salt: Int, cols: Column*): Column =
    h(seed, salt, cols: _*).cast("double") / 1e9

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val pTypes =
    Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val pAdjs =
    Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val pNouns =
    Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val langs = Seq("en", "zh", "es", "fr", "de")
  // the driver corpus' 30-token base vocabulary; "dup" is reserved as
  // the near-duplicate mutation marker (same vocab ⇒ same shingle-space
  // regime: ~30^3 word-3-grams, the scale the LSH stages are tuned for)
  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  private def pick(vals: Seq[String], idx: Column): Column =
    element_at(array(vals.map(lit): _*), (idx + 1).cast(IntegerType))

  /** Files scale with rows so the lake look like a lake, not one blob. */
  private def write(df: DataFrame, rows: Long, path: String): Unit =
    df.repartition(math.max(1, (rows / 250000L).toInt))
      .write.mode("overwrite").parquet(path)

  /** `--skew` rehearsal knob: every rehearsed decade of the default
    * corpus is UNIFORM (all values are (id, salt, seed) hashes), but a
    * real 100 TB lake is not — so the skewed variant concentrates a
    * seed-pinned 30% of each fact table's foreign keys on a handful of
    * hot entities (10 customers, 5 suppliers, 10 parts, 10 users) and,
    * in the text domain, replaces 25% of word draws with one of two
    * hot tokens (hot vocabulary ⇒ hot shingles ⇒ hot LSH buckets).
    * Dimension keyspaces, row counts, schemas, and the dup-mechanics
    * are unchanged, so every bench/rehearsal harness runs on it
    * unmodified; with the flag off the output stays bit-identical to
    * the pre-knob generator (the skewed draws never evaluate).
    */
  private def hotKey(skew: Boolean, seed: Long, salt: Int, nHot: Int,
      uniform: Column, keys: Column*): Column =
    if (!skew) uniform
    else when(pmod(h(seed, salt, keys: _*), lit(10)) < 3,
      pmod(h(seed, salt + 1, keys: _*), lit(nHot))).otherwise(uniform)

  def generate(spark: SparkSession, outDir: String, sf: Double,
      seed: Long, skew: Boolean = false): Unit = {
    // match the driver lake's physical encoding (µs timestamps)
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    val nCust = math.max(1L, (150000L * sf).toLong)
    val nSupp = math.max(1L, (10000L * sf).toLong)
    val nPart = math.max(1L, (200000L * sf).toLong)
    val nOrd = math.max(1L, (1500000L * sf).toLong)
    val nEvt = math.max(1L, (1000000L * sf).toLong)

    val id = col("id")

    write(spark.range(5).select(id.cast(IntegerType).as("r_regionkey"),
      pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), id)
        .as("r_name")), 5, s"$outDir/region.parquet")

    write(spark.range(25).select(
      id.cast(IntegerType).as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      pmod(id, lit(5)).cast(IntegerType).as("n_regionkey")),
      25, s"$outDir/nation.parquet")

    write(spark.range(nCust).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pmod(h(seed, 1, id), lit(25)).cast(IntegerType).as("c_nationkey"),
      round(u(seed, 2, id) * 11000d - 1000d, 2).as("c_acctbal"),
      pick(segments, pmod(h(seed, 3, id), lit(5))).as("c_mktsegment")),
      nCust, s"$outDir/customer.parquet")

    write(spark.range(nSupp).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pmod(h(seed, 4, id), lit(25)).cast(IntegerType).as("s_nationkey"),
      round(u(seed, 5, id) * 11000d - 1000d, 2).as("s_acctbal")),
      nSupp, s"$outDir/supplier.parquet")

    write(spark.range(nPart).select(
      id.as("p_partkey"),
      concat(pick(pAdjs, pmod(h(seed, 6, id), lit(8))), lit(" "),
        pick(pNouns, pmod(h(seed, 7, id), lit(8)))).as("p_name"),
      concat(lit("Brand#"),
        (pmod(h(seed, 8, id), lit(25)) + 1).cast("string")).as("p_brand"),
      pick(pTypes, pmod(h(seed, 9, id), lit(6))).as("p_type"),
      (pmod(h(seed, 10, id), lit(50)) + 1).cast(IntegerType).as("p_size"),
      round(lit(900d) + pmod(id, lit(1000)).cast("double") / 10d, 2)
        .as("p_retailprice")), nPart, s"$outDir/part.parquet")

    // orders span 1995-01-01 .. 2001-08-01 (2404 days), status uniform
    // over O/P/F uncorrelated with the date — matching the driver data
    val orders = spark.range(nOrd).select(
      id.as("o_orderkey"),
      hotKey(skew, seed, 50, 10, pmod(h(seed, 11, id), lit(nCust)), id)
        .as("o_custkey"),
      pick(Seq("O", "P", "F"), pmod(h(seed, 12, id), lit(3)))
        .as("o_orderstatus"),
      round(lit(1000d) + u(seed, 13, id) * 499000d, 2).as("o_totalprice"),
      date_add(to_date(lit("1995-01-01")),
        pmod(h(seed, 14, id), lit(2405)).cast(IntegerType))
        .cast("timestamp_ntz").as("o_orderdate"),
      pick(priorities, pmod(h(seed, 15, id), lit(5))).as("o_orderpriority"))
    write(orders, nOrd, s"$outDir/orders.parquet")

    // 1..7 lines per order (avg 4 ⇒ lineitem = 4×orders); shipdate is
    // orderdate + 1..95 days, keeping the Q1-style shipdate selectivity
    val li = spark.read.parquet(s"$outDir/orders.parquet")
      .select(col("o_orderkey").as("id"), col("o_orderdate"))
      .withColumn("l_linenumber",
        explode(sequence(lit(1), (pmod(h(seed, 16, id), lit(7)) + 1)
          .cast(IntegerType))))
    val ln = col("l_linenumber")
    write(li.select(
      id.as("l_orderkey"),
      hotKey(skew, seed, 52, 10, pmod(h(seed, 17, id, ln), lit(nPart)),
        id, ln).as("l_partkey"),
      hotKey(skew, seed, 54, 5, pmod(h(seed, 18, id, ln), lit(nSupp)),
        id, ln).as("l_suppkey"),
      ln,
      (pmod(h(seed, 19, id, ln), lit(50)) + 1).cast("double")
        .as("l_quantity"),
      round(lit(900d) + u(seed, 20, id, ln) * 104100d, 2)
        .as("l_extendedprice"),
      (pmod(h(seed, 21, id, ln), lit(11)).cast("double") / 100d)
        .as("l_discount"),
      (pmod(h(seed, 22, id, ln), lit(9)).cast("double") / 100d)
        .as("l_tax"),
      pick(Seq("A", "N", "R"), pmod(h(seed, 23, id, ln), lit(3)))
        .as("l_returnflag"),
      pick(Seq("F", "O"), pmod(h(seed, 24, id, ln), lit(2)))
        .as("l_linestatus"),
      date_add(col("o_orderdate").cast("date"),
        (pmod(h(seed, 25, id, ln), lit(95)) + 1).cast(IntegerType))
        .cast("timestamp_ntz").as("l_shipdate")),
      nOrd * 4, s"$outDir/lineitem.parquet")

    // events: 30 days of 2024-01 at microsecond grain, user pool 1.5%
    // of events (the driver ratio), exponential-ish value via -50·ln(u)
    val nUsers = math.max(1L, nEvt * 15L / 1000L)
    write(spark.range(nEvt).select(
      id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        h(seed, 26, id) * lit(2592L)).cast("timestamp_ntz").as("ts"),
      hotKey(skew, seed, 56, 10, pmod(h(seed, 27, id), lit(nUsers)), id)
        .as("user_id"),
      pick(eventTypes, pmod(h(seed, 28, id), lit(5))).as("event_type"),
      round(-log((h(seed, 29, id) + 1).cast("double") / 1e9) * 50d, 2)
        .as("value"),
      format_string("{\"k\": %d}", pmod(h(seed, 30, id), lit(100)))
        .as("props")), nEvt, s"$outDir/events.parquet")

    generateDocsEmb(spark, outDir, sf, seed, skew)
  }

  /** The documents + embeddings tables alone — the text/vector-domain
    * slice of [[generate]], bit-identical to the full run's two tables
    * (every value derives from (table, row id, salt, seed), never from
    * the other tables). Exists so a text-LSH decade past sf10 (5M docs
    * at sf100) can be rehearsed without generating the ~150M-row
    * relational lake alongside it (`--docs-only`).
    */
  def generateDocsEmb(spark: SparkSession, outDir: String, sf: Double,
      seed: Long, skew: Boolean = false): Unit = {
    val nDoc = math.max(1L, (50000L * sf).toLong)
    val nVec = math.max(1L, (20000L * sf).toLong)
    val id = col("id")
    // documents: ~5% are near-copies of an earlier doc (text re-derived
    // from the SOURCE id — pure function, no self-join — with 1-2
    // tokens swapped to the "dup" marker), the rest fresh 10..100-word
    // texts over the shared 30-token vocabulary
    // a doc is a dup only when its CHOSEN SOURCE is itself fresh:
    // without that guard, a dup-of-a-dup copies the source's
    // never-materialized fresh text (docText is keyed on the source's
    // own hash chain, but the source's actual text came from ITS
    // source), producing orphans that near-match no real document.
    // The guard trims the dup rate ~5% → ~4.75% instead.
    val cand = id - (pmod(h(seed, 32, id), lit(25)) + 1)
    val candIsDup = pmod(h(seed, 31, cand), lit(20)) === 0 && cand >= 25
    val isDup = pmod(h(seed, 31, id), lit(20)) === 0 && id >= 25 &&
      !candIsDup
    val srcId = when(isDup, cand).otherwise(id)
    def docText(j: Column, mutateAt: Column): Column = {
      val nWords = (pmod(h(seed, 33, j), lit(91)) + 10).cast(IntegerType)
      concat_ws(" ", transform(sequence(lit(1), nWords), w => {
        // hot tokens (--skew): 25% of word draws collapse onto two
        // tokens ⇒ hot shingles ⇒ hot LSH buckets / hot term groups.
        // Keyed on (SOURCE id, position) like the base draw, so a
        // near-dup copies its source's hot tokens and stays a near-dup
        val base = pick(vocab, pmod(h(seed, 34, j, w), lit(30)))
        val tok =
          if (!skew) base
          else when(pmod(h(seed, 58, j, w), lit(4)) === 0,
            pick(Seq("data", "the"), pmod(h(seed, 59, j, w), lit(2))))
            .otherwise(base)
        when(w === mutateAt || w === mutateAt + 7, lit("dup")).otherwise(tok)
      }))
    }
    // 1 in 4 copies stays EXACT (mutateAt −100 never matches a word
    // index); the rest swap 1-2 tokens — the ref's exact/near-dup mix
    val mutateAt = when(isDup && pmod(h(seed, 43, id), lit(4)) > 0,
      (pmod(h(seed, 35, id), lit(9)) + 2).cast(IntegerType))
      .otherwise(lit(-100))
    write(spark.range(nDoc)
      .select(id.as("doc_id"), docText(srcId, mutateAt).as("text"),
        pick(langs, when(pmod(h(seed, 36, srcId), lit(5)) < 2, 0)
          .otherwise(pmod(h(seed, 37, srcId), lit(4)) + 1)).as("lang"),
        concat(lit("src"), pmod(h(seed, 38, id), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")),
      nDoc, s"$outDir/documents.parquet")

    // embeddings: unit-norm 64-dim floats clustered around 10 label
    // centroids (centroid + 0.35·noise, L2-normalized); both centroid
    // and noise are Irwin-Hall(4) pseudo-gaussians from the hash
    def gauss(salt: Int, key: Column, dim: Column): Column =
      (0 until 4).map(k => u(seed, salt + 100 * k, key, dim))
        .reduce(_ + _) - 2d
    val label = pmod(h(seed, 39, id), lit(10))
    val raw = transform(sequence(lit(0), lit(63)), d =>
      gauss(40, label, d) + gauss(44, id, d) * 0.35d)
    val norm = sqrt(aggregate(raw, lit(0d), (acc, x) => acc + x * x))
    write(spark.range(nVec).select(
      id.as("vec_id"),
      transform(raw, x => (x / norm).cast(FloatType)).as("embedding"),
      label.cast(IntegerType).as("label")),
      nVec, s"$outDir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: GenCorpus <outDir> <sf> [--seed N] [--docs-only] [--skew]")
    val outDir = args(0)
    val sf = args(1).toDouble
    val seed = args.sliding(2).collectFirst {
      case Array("--seed", v) => v.toLong }.getOrElse(42L)
    val docsOnly = args.contains("--docs-only")
    val skew = args.contains("--skew")
    val spark = graft.GraftSession.local(appName = "gen-corpus")
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    if (docsOnly) generateDocsEmb(spark, outDir, sf, seed, skew)
    else generate(spark, outDir, sf, seed, skew)
    println(s"""{"gen":"corpus","sf":$sf,"seed":$seed,"skew":$skew,""" +
      s""""out":"$outDir","wall_s":${graft.Json.decimal((System.nanoTime() - t0) / 1e9, 1)}}""")
    spark.stop()
  }
}
