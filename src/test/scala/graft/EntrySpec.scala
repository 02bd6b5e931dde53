package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Replicates the driver's contract checks locally so a regression is
  * caught by `sbt test` before the round gate runs them.
  */
class EntrySpec extends SparkSpec {

  test("entry: flagship query returns rows at sf0.001 (driver smoke check)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query has a DuckDB oracle (no weaker rows-only checks)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q === o, s"missing oracles: ${q -- o}; orphan oracles: ${o -- q}")
  }

  test("query names never collide across inventory files") {
    val names = Registry.all.map(_.name)
    assert(names.size === names.distinct.size,
      s"duplicate names: ${names.diff(names.distinct)}")
  }

  test("Registry.select: a short qNN prefix picks that query, never q10..q19x") {
    assert(Registry.select("q1") === Seq("q1_pricing_summary"))
  }

  test("Registry.select: a full name selects that query; lists are sorted") {
    assert(Registry.select("q94_sole_return_supplier") ===
      Seq("q94_sole_return_supplier"))
    assert(Registry.select(" q94 ,q1_pricing_summary,") ===
      Seq("q1_pricing_summary", "q94_sole_return_supplier"))
  }

  test("Registry.select: a list that matches nothing fails with its message") {
    val e = intercept[IllegalArgumentException](Registry.select("q999,q1_nope"))
    assert(e.getMessage.contains("no queries matched: q999,q1_nope"))
  }

  test("oracle_sql.json parses back to an equal map, control chars included") {
    val sql = Map(
      "q_tab" -> "select\t1 as \"a\"",
      "q_cr" -> "select 1\r\nfrom t where s = 'C:\\dir'",
      "q_ctl" -> "select '\u0001' as x")
    val back = new ObjectMapper()
      .readValue(Verify.oracleJson(sql), classOf[java.util.Map[String, String]])
    assert(back.asScala.toMap === sql)
  }

  test("Bench stdout: the driver's last-2000-char window parses at 160+ queries") {
    // deterministic timings shaped like a real sf0.1 pass: mostly sub-2 s,
    // a tail to a minute; 8 queries throw in one of the two passes
    val rnd = new scala.util.Random(7)
    val names = (1 to 164).map(i => s"q${i}_synthetic").sorted
    val failed = Set(3, 17, 40, 77, 101, 150, 151, 163)
    def t(): Double = rnd.nextInt(20) match {
      case 0 => 10 + rnd.nextDouble() * 50
      case k if k < 6 => 2 + rnd.nextDouble() * 8
      case _ => 0.05 + rnd.nextDouble() * 2
    }
    def pass(failIn: Int): Map[String, Double] = names.zipWithIndex.map {
      case (q, i) => q -> (if (failed(i) && i % 2 == failIn) -1.0 else t())
    }.toMap
    val run = Bench.Run("/srv/testdata/sf0.1", names, pass(0), pass(1),
      (3.2, 0.8), (212.4, 198.7))
    val tail = (Bench.stdoutLine(run) + "\n").takeRight(2000)
    val json = new ObjectMapper().readTree(tail)
    for (k <- Seq("metric", "value", "n_ok", "queries"))
      assert(json.has(k), s"missing $k in $tail")
    assert(json.get("metric").asText === "total")
    assert(json.get("n_ok").asInt === 156)
    assert(json.get("queries").size === 164)
  }

  test("Bench stdout: the line's bytes are pinned") {
    val run = Bench.Run("sf", Seq("q10_c", "q1_a", "q2_b"),
      Map("q1_a" -> 0.125, "q2_b" -> 1.5, "q10_c" -> -1.0),
      Map("q1_a" -> 0.131, "q2_b" -> 1.4449, "q10_c" -> 7.0),
      (0.05, -1.0), (12.34, 11.0))
    assert(Bench.stdoutLine(run) ===
      """{"metric":"total","value":null,"unit":"sec","n_ok":2,""" +
      """"queries":{"q10":-1,"q1":0.13,"q2":1.44},"steal_s":[0.1,-1],""" +
      """"wall_s":[12.3,11.0],"errors":["q10"],"sf":"sf"}""")
  }

  test("StreamBench.select: no argument selects every stage in table order") {
    assert(StreamBench.select(None) === StreamBench.stageNames)
    assert(StreamBench.stageNames.take(3) === Seq("sb", "gate", "paced_gate"))
    assert(StreamBench.stageNames.last === "nearby_pairs")
  }

  test("StreamBench.select: a subset keeps table order") {
    assert(StreamBench.select(Some(" admit_drain,lsh_dedup, gate")) ===
      Seq("gate", "lsh_dedup", "admit_drain"))
    assert(StreamBench.select(Some("ingest_loop")) === Seq("ingest_loop"))
    assert(StreamBench.select(Some("ingest_knob,hll_live,gate_rebuild,ingest_loop,dedup_service")) ===
      Seq("dedup_service", "gate_rebuild", "hll_live", "ingest_loop", "ingest_knob"))
  }

  test("StreamBench.select: an unknown stage fails and lists the known ones") {
    val e = intercept[IllegalArgumentException](
      StreamBench.select(Some("gate,lsh")))
    assert(e.getMessage.contains("unknown stages: lsh"))
    assert(e.getMessage.contains(StreamBench.stageNames.mkString(",")))
  }

  test("StreamBench.select: a paced stage without its as-fast twin fails up front") {
    for ((paced, twin) <- Seq("paced_gate" -> "gate", "paced_admit" -> "admit",
        "paced_50" -> "replay_source", "paced_90" -> "replay_source",
        "paced_over" -> "replay_source")) {
      val e = intercept[IllegalArgumentException](
        StreamBench.select(Some(s"sb,$paced")))
      assert(e.getMessage.contains(s"$paced needs $twin"))
      assert(StreamBench.select(Some(s"$paced,$twin")).toSet === Set(paced, twin))
    }
  }

  test("StreamBench.pct is nearest-rank: the p50 of 1..12 is the 6th value") {
    val xs = (12 to 1 by -1).map(_.toDouble)
    assert(StreamBench.pct(xs, 0.5) === 6.0)
    assert(StreamBench.pct(xs, 0.95) === 12.0)
    assert(StreamBench.pct(Seq.empty, 0.5) === -1.0)
  }

  test("StreamBench.run: gate + ingest_loop line parses; the loop lands every q123 keeper") {
    val rocks = GraftSession.rocksDbStateConf(changelog = true).map(_._1)
    val before = rocks.map(k => k -> spark.conf.getOption(k))
    val line = StreamBench.run(spark, sfDir, Seq("gate", "ingest_loop", "ingest_knob"),
      tempDir("streambench").getPath)
    assert(rocks.map(k => k -> spark.conf.getOption(k)) === before)
    val json = new ObjectMapper().readTree(line)
    assert(json.get("metric").asText === "stream_bench")
    val gate = json.get("gate")
    assert(gate.get("in_rows").asLong > 0)
    assert(gate.get("out_rows").asLong <= gate.get("in_rows").asLong)
    val loop = json.get("ingest_loop")
    for (st <- Seq(gate, loop))
      assert(st.get("compiles").isIntegralNumber && st.get("compiles").asLong >= 0L, line)
    assert(loop.get("missed_q123").asLong === 0L, line)
    val cycles = loop.get("cycles").elements().asScala.toSeq
    assert(cycles.size === 3)
    for (c <- cycles) {
      assert(c.get("admitted").asLong === c.get("landed").asLong, line)
      assert(c.get("landed").asLong === c.get("folded").asLong, line)
    }
    assert(loop.get("landed_total").asLong === cycles.map(_.get("landed").asLong).sum)
    // ingest_knob: one arrival set under filesPerTrigger 1/3/12 lands the same docs
    val knob = json.get("ingest_knob")
    assert(knob.get("arrivals").asLong === 500L, line)
    assert(knob.get("landed_set_identical").asBoolean, line)
    val runs = knob.get("runs").elements().asScala.toSeq
    assert(runs.map(_.get("files_per_trigger").asInt) === Seq(1, 3, 12), line)
    assert(runs.map(_.get("batches").asLong) === Seq(12L, 4L, 1L), line)
    assert(runs.map(_.get("landed").asLong).distinct.size === 1, line)
    assert(runs.head.get("landed").asLong > 0L, line)
  }

  test("Json.decimal ignores the default locale: DedupService's line stays JSON under de-DE") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(Json.decimal(1.234, 2) === "1.23")
      assert(Json.decimal(-0.05, 1) === "-0.1")
      assert(Json.decimal(Double.NaN, 2) === "-1")
      val st = streaming.IngestLoop.CycleStats(3, 10L, 9L, 8L, 8L, 8L, 2,
        1.234, 5.678, 0.5)
      val json = new ObjectMapper().readTree(
        DedupService.cycleLine(st, 4, 2.345, 108L, drift = false))
      assert(json.get("gate_build_s").asDouble === 1.23)
      assert(json.get("drain_s").asDouble === 5.68)
      assert(json.get("merge_s").asDouble === 2.35)
      assert(json.get("cycle").asInt === 3)
    } finally java.util.Locale.setDefault(saved)
  }
}
