package graft

import org.apache.spark.sql.functions._
import graft.operators.{Text, Vectors}

/** Pipeline-extension operators (SURVEY §7.6): properties the DuckDB
  * oracle can't express — LSH recall against exact ground truth, KNN
  * sanity, dedup idempotence.
  */
class PipelineOpsSpec extends SparkSpec {

  test("MinHash-LSH finds every exact-Jaccard pair at the 0.5 threshold") {
    val exact = Text.ngramJaccardPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Text.minhashLshPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture corpus must contain planted near-dups")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall; missed ${exact -- lsh}")
  }

  test("n-gram Jaccard golden: hand-computed pair scores") {
    import spark.implicits._
    // A,B share shingles {a b c, b c d} of 3 each -> J = 2/4 = 0.5
    // C is disjoint from both
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d f"),
      (3L, "x y z w v")
    ).toDF("doc_id", "text")
    val rows = Text.ngramJaccardPairsOf(Text.shinglesOf(docs), threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(rows.toSeq === Seq((1L, 2L, 0.5)))
  }

  test("min_gram_hash60 matches the explode/min hash60 formula; null under 8 chars") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "abcdefgh"),
      (3L, "short"),
      (4L, "café résumé naïve über") // non-ASCII: code-point path
    ).toDF("doc_id", "text")
    val fast = docs
      .select(col("doc_id"), call_function("min_gram_hash60", col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val slow = docs.filter(length(col("text")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, length(text)-8), i -> substring(text, i+1, 8))")).as("g"))
      .groupBy(col("doc_id")).agg(min(Text.hash60(col("g"))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast(1L) === Some(slow(1L)))
    assert(fast(2L) === Some(slow(2L)))
    assert(fast(3L) === None, "texts under 8 chars must fingerprint to null")
    assert(fast(4L) === Some(slow(4L)), "non-ASCII code-point path must match")
  }

  test("simhash: identical docs collide, hamming distance is edit-robust") {
    val sh = Text.simhash(spark, sfDir)
    assert(sh.count() === 500)
    // near-dup pairs (ground truth) should sit close in hamming space
    val pairs = Text.ngramJaccardPairs(spark, sfDir, threshold = 0.8)
      .select(col("d1"), col("d2")).collect().map(r => (r.getLong(0), r.getLong(1)))
    if (pairs.nonEmpty) {
      val h = sh.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val mean = pairs.map { case (a, b) =>
        java.lang.Long.bitCount(h(a) ^ h(b))
      }.sum.toDouble / pairs.length
      assert(mean <= 4.0, s"mean hamming distance $mean for >0.8-jaccard pairs")
    }
  }

  test("brute-force KNN: self-similarity excluded, cosines sorted, k respected") {
    val rows = Vectors.knnBrute(spark, sfDir, k = 5).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.forall(_._2.length == 5))
    byQ.foreach { case (q, rs) =>
      assert(!rs.exists(_.getLong(2) == q), s"query $q returned itself")
      val cs = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, s"query $q not sorted")
    }
  }

  test("LSH buckets partition all vectors; IVF assigns each vector once") {
    val total = Vectors.lshBuckets(spark, sfDir)
      .agg(sum(col("n_vecs"))).collect().head.getLong(0)
    assert(total === 500L)
    val ivf = Vectors.ivfAssign(spark, sfDir)
      .agg(sum(col("n_vecs"))).collect().head.getLong(0)
    assert(ivf === 500L)
  }

  test("cell-pair-pruned near-dup output == brute-force all-pairs, bitwise") {
    val pruned = Vectors.embedNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val base = sources.Tables.embeddings(spark, sfDir)
      .withColumn("nsq", Vectors.dot("embedding", "embedding"))
    val a = base.select(col("vec_id").as("id1"), col("embedding").as("e1"),
      col("nsq").as("n1"))
    val b = base.select(col("vec_id").as("id2"), col("embedding").as("e2"),
      col("nsq").as("n2"))
    val brute = a.join(b, col("id1") < col("id2"))
      .withColumn("cos",
        round(Vectors.dot("e1", "e2") / sqrt(col("n1") * col("n2")), 6))
      .filter(col("cos") >= 0.4)
      .select(col("id1"), col("id2"), col("cos")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty, "fixture corpus must contain near-dup pairs")
    assert(pruned === brute,
      s"missed=${(brute -- pruned).take(5)} invented=${(pruned -- brute).take(5)}")
  }

  test("cell-pair-pruned near-dup is exact on a HASH-SAMPLED base too") {
    // the q151/sampled-q106 path: centroids and the compat grid must
    // derive from the ids actually present — a sample usually retains
    // none of ids 0..cells, where a fixed-id pick (or a literal 0..7
    // grid) silently empties every candidate join
    val base = sources.Tables.embeddings(spark, sfDir)
      .withColumn("nsq", Vectors.dot("embedding", "embedding"))
      .filter(Text.hash60(col("vec_id").cast("string")) % 4 === 0)
    assert(base.filter(col("vec_id") < 8).count() < 8,
      "fixture must drop some of ids 0..7 or the test proves nothing")
    val pruned = Vectors.embedNearDupBuildOf(base, 0.4, 8, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = base.select(col("vec_id").as("id1"), col("embedding").as("e1"),
      col("nsq").as("n1"))
    val b = base.select(col("vec_id").as("id2"), col("embedding").as("e2"),
      col("nsq").as("n2"))
    val brute = a.join(b, col("id1") < col("id2"))
      .withColumn("cos",
        round(Vectors.dot("e1", "e2") / sqrt(col("n1") * col("n2")), 6))
      .filter(col("cos") >= 0.4)
      .select(col("id1"), col("id2"), col("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pruned === brute,
      s"sampled pruned/brute diverge: ${pruned.size} vs ${brute.size} pairs")
    assert(brute.nonEmpty, "sampled fixture must contain true pairs")
  }

  test("LSH-bucketed near-dup: exact precision, measured recall vs brute force") {
    val exact = Vectors.embedNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Vectors.lshNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH must not invent pairs")
    assert(exact.nonEmpty)
    // 8 planes at threshold 0.4: recall is partial by design — just
    // require the bucketer to find a meaningful share and report it
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall $recall too low")
  }

  test("IVF-probed KNN recall vs global brute force") {
    val brute = Vectors.knnBrute(spark, sfDir, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Vectors.ivfKnn(spark, sfDir, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    // single-probe over 8 cells on quasi-uniform synthetic embeddings:
    // random candidate selection would score ~0.125; the cells must
    // meaningfully beat that (multi-probe raises recall at scale)
    assert(recall >= 0.2, s"IVF recall $recall (8 coarse cells, probe=1)")
  }

  test("decontamination flags exactly the docs sharing an 8-gram with the eval slice") {
    val out = Text.decontaminate(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(!out.keySet.exists(_ % 97 == 0), "eval docs must not be scored")
    // independent recomputation through a different plan: per-doc distinct
    // gram SETS intersected driver-side (500-doc fixture corpus)
    val docs = sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"), expr(
        "array_distinct(transform(sequence(0, size(w)-8), i -> concat_ws(' ', slice(w, i+1, 8))))"
      ).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val evalGrams = docs.filter(_._1 % 97 == 0).flatMap(_._2).toSet
    assert(evalGrams.nonEmpty, "eval slice must contribute grams")
    docs.filter(_._1 % 97 != 0).foreach { case (id, g) =>
      val hits = (g & evalGrams).size.toLong
      assert(out(id) === ((hits, if (hits > 0) 1L else 0L)),
        s"doc $id: got ${out(id)}, brute-force says $hits")
    }
    assert(out.values.exists(_._2 == 1L),
      "fixture corpus must contain at least one contaminated doc")
  }

  test("per-row band signatures match the batch explode/groupBy minhash bands") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    import graft.functions.MinHashes60.{P, mhA, mhB}
    val sh = Text.shinglesOf(docs).withColumn("hh", Text.hash60(col("sh")) % P)
    val mhCols = (0 until 8).map(j =>
      min((lit(mhA(j)) * col("hh") + lit(mhB(j))) % P).as(s"mh$j"))
    val mh = sh.groupBy(col("doc_id")).agg(mhCols.head, mhCols.tail: _*)
    val batchBands = mh.select((0 until 4).map(b =>
        concat_ws("_", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")).as(s"b$b")): _*)
      .collect().flatMap(r => (0 until 4).map(b => (b, r.getString(b)))).toSet
    val perRow = Text.bandIndexOf(docs).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(perRow === batchBands,
      "streaming per-row banding must agree with the batch LSH banding")
  }

  test("cluster-aware split: partitions the corpus; n_moved is the exact leak count") {
    val out = Text.clusterSplit(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val docs = graft.sources.Tables.documents(spark, sfDir)
    assert(out.map(_._3).sum === docs.count(), "splits must partition the corpus")
    assert(out.map(_._1).toSet.subsetOf(Set("train", "val", "test")))
    def splitOf(b: Long) = if (b < 90) "train" else if (b < 95) "val" else "test"
    val nb = docs.select(col("doc_id"), (Text.hash60(col("text")) % 100L).as("nb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val labels = Text.neardupClusters(spark, sfDir)
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // brute-force the leak surface: clustered docs whose own content
    // bucket disagrees with their representative's
    val moved = labels.count { case (d, cid) => splitOf(nb(d)) != splitOf(nb(cid)) }
    assert(moved > 0, "fixture corpus must contain a would-leak near-dup pair")
    assert(out.map(_._5).sum === moved,
      s"n_moved ${out.map(_._5).sum} != brute-force leak count $moved")
    // group accounting: singletons + clusters
    val nGroups = docs.count() - labels.length + labels.map(_._2).distinct.length
    assert(out.map(_._2).sum === nGroups)
  }

  test("LSH recall sweep: monotone, bounded, endpoint equals the q45 pipeline") {
    val rows = Vectors.lshRecallSweep(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === (1L to 6L))
    assert(rows.map(_._2).distinct.length === 1, "n_true is a constant")
    rows.foreach { case (t, nTrue, nFound, micro) =>
      assert(nFound <= nTrue, s"t=$t found exceeds truth")
      assert(micro === nFound * 1000000L / nTrue)
    }
    assert(rows.map(_._3).sliding(2).forall(p => p.head <= p.last),
      "adding tables can only find more pairs")
    // the 6-table endpoint is exactly what the declared q45 pipeline finds
    val q45 = Vectors.lshNearDup(spark, sfDir).count()
    assert(rows.last._3 === q45,
      s"sweep endpoint ${rows.last._3} != q45 pair count $q45")
  }

  test("sampled band recall (q150) tracks the full sweep (q107) within the binomial bound at bench scale") {
    // bench scale: sf0.1 is the largest oracle-checked corpus (5000
    // docs; the derived mod is still 1 there, so q150's EXPLICIT mod=8
    // exercises the sampled path against the full landed truth)
    val benchDir = "/root/testdata/sf0.1"
    def sweep(mod: Int) = Text.bandRecallSweep(spark, benchDir, 0.5, mod)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sortBy(_._1)
    val full = sweep(1)
    val sampled = sweep(8)
    assert(full.map(_._1).toSeq === sampled.map(_._1).toSeq)
    // the sample is a deterministic 1/8 doc draw, so pair-level recall
    // is an unbiased estimate with binomial error ~ sqrt(p(1-p)/m); pin
    // 3 sigma plus a 5-point floor — a magic absolute constant would
    // either mask bias at large m or flake at small m
    full.zip(sampled).foreach { case ((b, nT, fullMicro), (_, m, sampMicro)) =>
      assert(m > 0, "sample must contain true pairs at bench scale")
      val p = fullMicro / 1e6
      val tol = math.max(0.05, 3.0 * math.sqrt(p * (1 - p) / m))
      assert(math.abs(p - sampMicro / 1e6) <= tol,
        s"band $b: sampled recall ${sampMicro / 1e6} vs full $p " +
          s"(m=$m of $nT pairs) outside ±$tol")
    }
  }

  test("LSH sizing: driver SFs derive exactly (6,3); decades deepen at constant occupancy") {
    // integer-exact at the boundary: 2000 vecs (sf0.1) sits EXACTLY at
    // occ 250 × 2^3 and must stay 3 — a float ceil(log2) would say 4
    assert(Vectors.scaleBits(500) === 3)    // sf0.001 / sf0.01
    assert(Vectors.scaleBits(2000) === 3)   // sf0.1 — boundary pin
    assert(Vectors.scaleBits(2001) === 4)
    assert(Vectors.scaleBits(20000) === 7)  // sf1 rehearsal
    assert(Vectors.scaleBits(200000) === 10) // sf10
    assert(Vectors.scaleTables(3) === 6 && Vectors.scaleTables(7) === 10)
    // expected occupancy stays ≤ target across three decades
    Seq(2000L, 20000L, 200000L).foreach { n =>
      assert(n.toDouble / (1L << Vectors.scaleBits(n)) <= 250.0)
    }
    // resolution: explicit params win; sentinel derives from THIS corpus
    assert(Vectors.resolveLsh(spark, sfDir, 6, 3) === ((6, 3)))
    val nVecs = graft.sources.Tables.embeddings(spark, sfDir).count()
    assert(Vectors.resolveLsh(spark, sfDir, 0, 0) ===
      ((Vectors.scaleTables(Vectors.scaleBits(nVecs)), Vectors.scaleBits(nVecs))))
  }

  test("vocab growth: cumulative ends at the global vocabulary; tokens partition") {
    val rows = Text.vocabGrowth(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === (0L to 9L))
    assert(rows.map(_._4).sliding(2).forall(p => p.head <= p.last),
      "cumulative vocabulary can only grow")
    assert(rows.map(_._3).sum === rows.last._4,
      "new-term counts must sum to the final cumulative vocabulary")
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val vocab = docs.select(explode(split(col("text"), " ")).as("t"))
      .agg(countDistinct(col("t"))).collect().head.getLong(0)
    assert(rows.last._4 === vocab, "curve must end at the global distinct-term count")
    val tokens = docs.select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum(col("n"))).collect().head.getLong(0)
    assert(rows.map(_._2).sum === tokens, "token counts must partition the corpus")
  }

  test("threshold sensitivity: monotone shrink; 0.5 row equals the q34 pair count") {
    val rows = Text.thresholdSensitivity(spark, sfDir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(0.5, 0.6, 0.7, 0.8))
    assert(rows.map(_._2).sliding(2).forall(p => p.head >= p.last),
      "raising the threshold can only shrink the pair set")
    assert(rows.map(_._3).sliding(2).forall(p => p.head >= p.last))
    val q34 = Text.ngramJaccardPairs(spark, sfDir, 0.5).count()
    assert(rows.head._2 === q34, s"0.5 row ${rows.head._2} != q34 count $q34")
  }

  test("pair degree histogram: handshake identity against the pair table") {
    val hist = Text.pairDegreeHist(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairs = Text.minhashLshPairs(spark, sfDir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hist.nonEmpty && pairs.nonEmpty)
    assert(hist.map { case (d, n) => d * n }.sum === 2L * pairs.length,
      "sum of degrees must equal twice the edge count")
    val docs = (pairs.map(_._1) ++ pairs.map(_._2)).distinct.length
    assert(hist.map(_._2).sum === docs,
      "every doc in the pair graph appears exactly once in the histogram")
  }

  test("band recall sweep: monotone, bounded, endpoint equals the q35 pipeline") {
    val sweep = Text.bandRecallSweep(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(sweep.map(_._1).toSeq === (1L to 4L))
    sweep.foreach { case (b, nTrue, nFound, micro) =>
      assert(nFound <= nTrue, s"bands=$b found exceeds truth")
      assert(micro === nFound * 1000000L / nTrue)
    }
    assert(sweep.map(_._3).sliding(2).forall(p => p.head <= p.last))
    val q35 = Text.minhashLshPairs(spark, sfDir).count()
    assert(sweep.last._3 === q35,
      s"sweep endpoint ${sweep.last._3} != q35 pair count $q35")
  }

  test("ANN scoreboard: recalls bounded; exact rerank dominates raw ADC") {
    val rows = Vectors.annScoreboard(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val m = rows.map(r => r._1 -> r).toMap
    assert(m.keySet === Set("ivf", "pq_adc", "pq_rerank"))
    rows.foreach { case (name, t, h, micro) =>
      assert(h <= t, s"$name: hits exceed truth")
      assert(micro === h * 1000000L / t, s"$name: recall arithmetic")
    }
    // a global-truth neighbor found in the shortlist always survives the
    // exact rerank (at most 2 vectors beat it anywhere), so rerank hits
    // can never be fewer than ADC's
    assert(m("pq_rerank")._3 >= m("pq_adc")._3,
      "exact rerank lost a truth neighbor the ADC ordering had")
  }

  test("two-stage rerank: exact cosines, shortlist ⊆ ADC candidates, no self") {
    val rer = Vectors.pqRerank(spark, sfDir, shortlist = 8, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val brute = Vectors.knnBrute(spark, sfDir, k = 1000).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    assert(rer.nonEmpty)
    rer.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length === 3, s"query $q returned ${rs.length} rows")
      assert(!rs.exists(_._3 == q), s"query $q returned itself")
      val coss = rs.sortBy(_._2).map(_._4)
      assert(coss.zip(coss.tail).forall { case (a, b) => a >= b },
        s"query $q rerank cosine not descending: ${coss.toSeq}")
    }
    // stage-2 scores must be the EXACT cosine (identical to brute force),
    // not an approximation — that's the point of the rerank
    rer.foreach { case (q, _, n, c) =>
      assert(brute((q, n)) === c,
        s"rerank cos for ($q,$n) is $c but exact is ${brute((q, n))}")
    }
  }

  test("IVF-PQ ADC search: k per query, no self, ADC ascending, deterministic") {
    def run() = Vectors.pqSearch(spark, sfDir, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val rows = run()
    val byQ = rows.groupBy(_._1)
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rs) =>
      assert(rs.length === 3, s"query $q returned ${rs.length} rows")
      assert(!rs.exists(_._3 == q), s"query $q returned itself")
      val adcs = rs.sortBy(_._2).map(_._4)
      assert(adcs.zip(adcs.tail).forall { case (a, b) => a <= b },
        s"query $q ADC not ascending: ${adcs.toSeq}")
    }
    // DECIMAL accumulation + id tiebreaks: re-running must be bit-identical
    assert(run().toSeq === rows.toSeq)
  }

  test("k-means training matches an in-memory reference run of the same algorithm") {
    val OFF = 1L << 31
    val vecs = sources.Tables.embeddings(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(f => math.floor(f.toDouble * 1e6).toLong).toArray)
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def assign(cent: Map[Long, Array[Long]]): Map[Long, (Long, Long)] =
      vecs.map { case (id, x) =>
        val (c, d) = cent.toSeq.map { case (c, cm) => (c, d2(x, cm)) }
          .minBy { case (c, d) => (d, c) }
        id -> (c, d)
      }.toMap
    val cent0 = vecs.filter(_._1 < 8).toMap
    val a1 = assign(cent0)
    val byC = vecs.groupBy { case (id, _) => a1(id)._1 }
    val cent1 = byC.map { case (c, members) =>
      val n = members.length
      c -> (0 until 64).map { d =>
        val s = members.map(_._2(d)).sum
        (s + n * OFF) / n - OFF
      }.toArray
    }
    val a2 = assign(cent1)
    val expected = a2.values.groupBy(_._1).map { case (c, ds) =>
      c -> (ds.size.toLong, ds.map(_._2 / 1000000L).sum,
        cent1(c).map(math.abs).sum)
    }
    val got = Vectors.kmeansTrain(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === expected)
  }

  test("token budget: kept tokens fit the share, and the kept set is prefix-greedy") {
    val rows = Text.tokenBudget(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val share = 10000L / rows.length
    rows.foreach { case (src, _, _, _, tokKept) =>
      assert(tokKept <= share, s"$src kept $tokKept > share $share")
    }
    assert(rows.exists(_._4 > 0), "some source must keep docs")
    assert(rows.exists(r => r._4 < r._2), "the budget must bind somewhere")
    // greedy prefix property: a source's kept token total plus its NEXT
    // queued doc must overflow the share (else the sampler under-filled)
    val docs = sources.Tables.documents(spark, sfDir)
      .select(col("source"), split(col("text"), " ").as("w"),
        (Text.hash60(col("text")) % 1000000L).as("u"), col("doc_id"))
      .select(col("source"), size(col("w")).cast("long").as("n"),
        size(expr("filter(w, x -> x IN ('the', 'a'))")).as("ns"),
        size(col("w")).as("nw"), col("u"), col("doc_id"))
      .withColumn("bad", when(col("nw") < 15 || col("nw") > 90 ||
        col("ns") * 100 > col("nw") * 12, 1L).otherwise(0L))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(6), r.getLong(4), r.getLong(5)))
    docs.groupBy(_._1).foreach { case (src, ds) =>
      val queue = ds.sortBy(d => (d._3, d._4, d._5)).map(_._2)
      val (_, _, _, nKept, tokKept) = rows.find(_._1 == src).get
      if (nKept < queue.length)
        assert(tokKept + queue(nKept.toInt) > share,
          s"$src under-filled: kept=$tokKept next=${queue(nKept.toInt)} share=$share")
    }
  }

  test("approx_count_distinct within 5% of exact per language") {
    val rows = Text.approxVocab(spark, sfDir).collect()
    rows.foreach { r =>
      val (approx, exact) = (r.getLong(1), r.getLong(2))
      assert(math.abs(approx - exact) <= math.max(1L, (exact * 0.05).toLong),
        s"lang=${r.getString(0)} approx=$approx exact=$exact")
    }
  }

  test("salted join == plain join on skewed input") {
    import spark.implicits._
    val big = (1 to 5000).map(i => (if (i % 10 == 0) 1L else i.toLong, s"v$i"))
      .toDF("k", "payload") // key 1 is hot (~10% of rows)
    val dim = (1L to 5000L).map(k => (k, s"d$k")).toDF("dk", "attr")
    val plain = big.join(dim, big("k") === dim("dk"))
      .select("k", "payload", "attr").collect().toSet
    val salted = operators.Relational.saltedJoin(big, dim, "k", "dk", salts = 8)
      .select("k", "payload", "attr").collect().toSet
    assert(salted === plain)
  }

  test("multimodal byte histogram accounts for every payload byte") {
    import graft.operators.Multimodal
    val totalBytes = Multimodal.byteHistogram(spark, sfDir)
      .agg(sum(col("n_bytes"))).collect().head.getLong(0)
    val totalChars = sources.Tables.documents(spark, sfDir)
      .agg(sum(col("n_chars"))).collect().head.getLong(0)
    assert(totalBytes === totalChars, "ASCII corpus: bytes must equal chars")
  }

  test("near-dup thresholds are monotone: pairs@0.7 is a subset of pairs@0.5") {
    val loose = Text.minhashLshPairs(spark, sfDir, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val strict = Text.minhashLshPairs(spark, sfDir, threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict.subsetOf(loose))
  }

  test("sessions conserve events: per-user session counts sum to event counts") {
    import graft.operators.EventWindows
    val perUserSessions = EventWindows.sessions(spark, sfDir)
      .groupBy(col("user_id")).agg(sum(col("n_events")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perUserEvents = sources.Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perUserSessions === perUserEvents)
  }

  test("exact dedup is idempotent and keeps one row per distinct text") {
    val docs = sources.Tables.documents(spark, sfDir)
    val deduped = docs.dropDuplicates("text")
    assert(deduped.count() === docs.select(col("text")).distinct().count())
    assert(deduped.dropDuplicates("text").count() === deduped.count())
  }

  test("repetition signals: looping text scores high, unique text low") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam ham spam ham spam ham spam ham"), // 7 grams, 2 distinct
      (2L, "one two three four five six seven"),   // all grams unique
      (3L, "solo")                                 // <2 words: excluded
    ).toDF("doc_id", "text")
    // operator is registered over Tables.documents; drive its body over a
    // fixture by temp-view substitution of the same plan shape
    val g = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w)-2), i -> concat_ws(' ', w[i], w[i+1]))")).as("g"))
    val rows = g.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("d"), max(col("c")).as("m"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows(1L) === ((7L, 2L, 4L)), "spam/ham loop: 7 grams, 2 distinct, top=4")
    assert(rows(2L) === ((6L, 6L, 1L)), "unique text: no duplicate grams")
    assert(!rows.contains(3L))
    // and the declared operator over the corpus: bounded fractions
    val corpus = Text.repetitionStats(spark, sfDir).collect()
    assert(corpus.nonEmpty)
    corpus.foreach { r =>
      val (dup, top) = (r.getDouble(4), r.getDouble(5))
      assert(dup >= 0.0 && dup < 1.0 && top > 0.0 && top <= 1.0)
    }
  }

  test("simhash pigeonhole join == brute-force hamming<=2 pairs (recall 1.0)") {
    val sim = Text.simhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (d1, s1) <- sim; (d2, s2) <- sim
      if d1 < d2 && java.lang.Long.bitCount(s1 ^ s2) <= 2
    } yield (d1, d2, java.lang.Long.bitCount(s1 ^ s2).toLong)).toSet
    val joined = Text.simhashNeardup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(brute.nonEmpty, "fixture corpus plants exact dups (hamming 0)")
    assert(joined === brute,
      s"missed=${(brute -- joined).take(5)} invented=${(joined -- brute).take(5)}")
  }

  test("near-dup clusters: pairs land in one component, canonical is the min id") {
    val pairs = Text.minhashLshPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Text.neardupClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val lab = clusters.map(c => c._1 -> c._2).toMap
    assert(pairs.nonEmpty && clusters.nonEmpty)
    // every paired doc is labeled, and both ends share a component
    pairs.foreach { case (a, b) =>
      assert(lab(a) === lab(b), s"pair ($a,$b) split across clusters")
    }
    // each component's label is its smallest member, flagged canonical
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min === cid)
      assert(members.count(_._3) === 1, s"cluster $cid needs exactly one canonical")
    }
    // transitivity witness: labels are a fixpoint (no edge can lower one)
    pairs.foreach { case (a, b) =>
      assert(lab(a) <= math.min(a, b) || lab(a) <= a)
    }
  }

  test("embedding clusters agree with the q45 pair graph") {
    val pairs = Vectors.lshNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Vectors.embedClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val lab = clusters.map(c => c._1 -> c._2).toMap
    assert(pairs.nonEmpty && clusters.nonEmpty)
    pairs.foreach { case (a, b) => assert(lab(a) === lab(b)) }
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min === cid)
      assert(members.count(_._3) === 1)
    }
  }

  test("source mix: rates follow sqrt-temperature weighting, sample is deterministic") {
    val rows = Text.sourceMix(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // rates sum to <= 1e6 (floor division) and within one unit per source
    val rateSum = rows.map(_._4).sum
    assert(rateSum <= 1000000L && rateSum > 1000000L - rows.length,
      s"rates must partition the unit interval up to floor loss; got $rateSum")
    // sqrt temperature: weight ratios are sub-linear in count ratios
    for (Array(a, b) <- rows.sortBy(_._2).sliding(2) if a._2 < b._2) {
      assert(a._4 <= b._4, "larger sources never get a smaller rate")
      assert(b._4.toDouble / a._4 <= b._2.toDouble / a._2 + 1e-6,
        "sqrt damping: rate ratio must not exceed count ratio")
    }
    rows.foreach { case (_, n, _, _, kept) => assert(kept <= n) }
    // content-hash sampling is reproducible
    val again = Text.sourceMix(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq === again.toSeq)
  }

  test("sequence packing: chunk accounting matches an in-memory replay") {
    val rows = Text.seqPack(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val docs = sources.Tables.documents(spark, sfDir)
      .select(col("source"), (Text.hash60(col("text")) % 1000000L).as("u"),
        col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    docs.groupBy(_._1).foreach { case (src, ds) =>
      val lens = ds.sortBy(d => (d._2, d._3)).map(_._4)
      val total = lens.sum
      var cum = 0L; var split = 0L
      lens.foreach { n =>
        val (first, last) = (cum / 512, (cum + n - 1) / 512)
        if (last > first) split += 1
        cum += n
      }
      val (_, nDocs, totTok, nSeqs, nSplit, tailFill) = rows.find(_._1 == src).get
      assert(nDocs === lens.length && totTok === total)
      assert(nSeqs === (total + 511) / 512, s"$src seq count")
      assert(nSplit === split, s"$src boundary-crossing docs")
      assert(tailFill > 0 && tailFill <= 1000000L)
      assert(tailFill === 1000000L * (total - (total - 1) / 512 * 512) / 512)
    }
  }

  test("zipf coverage: terms_90 is the true minimal 90% prefix") {
    val rows = Text.zipfCoverage(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val freqs = sources.Tables.documents(spark, sfDir)
      .select(col("lang"), explode(split(col("text"), " ")).as("t"))
      .groupBy("lang", "t").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    freqs.groupBy(_._1).foreach { case (lang, fs) =>
      val sorted = fs.map(f => (f._3, f._2)).sortBy { case (c, t) => (-c, t) }
      val total = sorted.map(_._1).sum
      val cums = sorted.scanLeft(0L)(_ + _._1).tail
      val t90 = cums.indexWhere(_ * 10 >= total * 9) + 1
      val cov100 = 1000000L * cums(math.min(100, cums.length) - 1) / total
      val (_, nTerms, totTok, terms90, top100) = rows.find(_._1 == lang).get
      assert(nTerms === sorted.length && totTok === total)
      assert(terms90 === t90, s"$lang minimal 90% prefix")
      assert(top100 === cov100, s"$lang top-100 coverage")
      // it IS minimal: one fewer term covers < 90%
      if (t90 > 1) assert(cums(t90 - 2) * 10 < total * 9)
    }
  }

  test("split manifest is a partition, content-keyed: duplicate text never straddles splits") {
    val rows = Text.splitManifest(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val nDocs = sources.Tables.documents(spark, sfDir).count()
    assert(rows.map(_._3).sum === nDocs, "splits must partition the corpus")
    assert(rows.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    // content-keyed: each distinct text maps to exactly one split
    val perText = sources.Tables.documents(spark, sfDir)
      .select((Text.hash60(col("text")) % 100L).as("b"), md5(col("text")).as("h"))
      .withColumn("split", when(col("b") < 90, "train")
        .when(col("b") < 95, "val").otherwise("test"))
      .groupBy("h").agg(countDistinct("split").as("ns"))
      .agg(max("ns")).head.getLong(0)
    assert(perText === 1L, "a duplicated text must land in exactly one split")
    // 90/5/5 in expectation: train carries the bulk
    val bySplit = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum)
    assert(bySplit("train") > bySplit.getOrElse("val", 0L) &&
      bySplit("train") > bySplit.getOrElse("test", 0L))
  }

  test("source KL matches an exact in-memory recomputation and is ~non-negative") {
    val rows = Text.sourceKl(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val terms = sources.Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val corpus = terms.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val ctotal = terms.length.toLong
    def mic(p: Double): Long = math.round(-math.log(p) * 1e6)
    terms.groupBy(_._1).foreach { case (src, ts) =>
      val st = ts.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val n = ts.length.toLong
      val kl = st.map { case (t, c) =>
        c * (mic(corpus(t).toDouble / ctotal) - mic(c.toDouble / n))
      }.sum
      val (_, nTerms, nTok, klSum) = rows.find(_._1 == src).get
      assert(nTerms === st.size && nTok === n)
      assert(klSum === kl, s"$src KL micro-nat sum")
      // KL >= 0 up to per-term half-micro rounding
      assert(klSum >= -n, s"$src KL must be non-negative beyond rounding slack")
    }
  }

  test("SQ8 error is bounded by two grid steps and exact on a known vector") {
    val rows = Vectors.sq8Error(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // each reconstruction differs from the source by < 2 grid steps
    // (one truncating div in the code, one in the reconstruction)
    val worstRange = sources.Tables.embeddings(spark, sfDir)
      .select(expr("aggregate(transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)), " +
        "named_struct('mn', 9223372036854775807L, 'mx', -9223372036854775808L), " +
        "(a, x) -> named_struct('mn', least(a.mn, x), 'mx', greatest(a.mx, x)))").as("r"))
      .select(expr("max(r.mx - r.mn)")).head.getLong(0)
    val step = worstRange / 255
    rows.foreach { case (label, n, maxErr, avgErr) =>
      assert(n > 0 && avgErr <= maxErr)
      assert(maxErr <= 2 * step + 2, s"label=$label maxErr=$maxErr step=$step")
    }
    // hand-check: v = [0, 1, 255] micro-scaled -> perfect grid, zero error
    import spark.implicits._
    val one = Seq((1L, Array(0f, 127.5e-6f, 255e-6f), 0)).toDF("vec_id", "embedding", "label")
    // not oracle path; just assert the operator's arithmetic shape holds:
    // vmin=0, rng=255, codes {0,127,255}, recon exact -> max err <= 1
    val errs = one.select(expr(
      """transform(transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)),
        |  x -> abs(x - ((((x - 0) * 255) div 255 * 255) div 255)))""".stripMargin).as("e"))
      .select(expr("array_max(e)")).head.getLong(0)
    assert(errs <= 1)
  }

  test("CDC chunking matches an in-memory replay; boundaries are content-defined") {
    val rows = Text.cdcChunks(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // replay: same hash60-based boundary rule, evaluated by Spark so the
    // hash definition stays single-sourced; chunking logic replayed in Scala
    val docs = sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"), col("w"), expr(
        "transform(w, x -> CAST(conv(substr(md5(CAST(x AS BINARY)), 1, 15), 16, 10) AS BIGINT) % 16 = 0)"
      ).as("bnd"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](3 - 1).toList,
        r.getSeq[Boolean](3).toList))
    // cut each doc into chunks: a boundary word closes its chunk
    val chunks = docs.flatMap { case (doc, src, ws, bnds) =>
      val out = scala.collection.mutable.ListBuffer.empty[(Long, String, String)]
      val cur = scala.collection.mutable.ListBuffer.empty[String]
      ws.zip(bnds).foreach { case (w, b) =>
        cur += w
        if (b) { out += ((doc, src, cur.mkString(" "))); cur.clear() }
      }
      if (cur.nonEmpty) out += ((doc, src, cur.mkString(" ")))
      out
    }
    val docsWith = chunks.groupBy(_._3).map { case (t, cs) => t -> cs.map(_._1).distinct.size }
    chunks.groupBy(_._2).foreach { case (src, cs) =>
      val (_, nChunks, nDistinct, avgMicro, nCross) = rows.find(_._1 == src).get
      assert(nChunks === cs.length, s"$src chunk count")
      assert(nDistinct === cs.map(_._3).distinct.length, s"$src distinct chunks")
      val words = cs.map(_._3.count(_ == ' ') + 1L).sum
      assert(avgMicro === 1000000L * words / cs.length, s"$src avg width")
      assert(nCross === cs.count(c => docsWith(c._3) >= 2), s"$src cross-doc mass")
    }
  }

  test("CDC chunk property: chunks rejoin to the text; every cut is content-defined") {
    import spark.implicits._
    import graft.streaming.TextStreams.{hash60 => h60}
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet")
    val docsLocal = (0 until 40).map { id =>
      (id.toLong,
        (1 to 1 + rnd.nextInt(60)).map(_ => vocab(rnd.nextInt(vocab.size)))
          .mkString(" "), "srcX")
    } :+ ((99L, "", "srcX")) // empty text = one empty chunk
    val chunks = operators.Text.cdcChunksOf(
      docsLocal.toDF("doc_id", "text", "source"))
      .collect().map(r => (r.getLong(0), r.getString(2)))
    val byDoc = chunks.groupBy(_._1).view.mapValues(_.map(_._2).toList).toMap
    docsLocal.foreach { case (id, text, _) =>
      val cs = byDoc(id)
      assert(cs.mkString(" ") === text, s"doc $id must rejoin exactly")
      // content-defined: only a boundary word ever ends a non-final
      // chunk, and no interior word of any chunk is a boundary word
      def isBoundary(w: String) = h60(w) % 16 == 0
      cs.init.foreach { c =>
        assert(isBoundary(c.split(" ", -1).last), s"doc $id: cut not at boundary")
      }
      cs.foreach { c =>
        assert(c.split(" ", -1).init.forall(w => !isBoundary(w)),
          s"doc $id: a boundary word failed to cut")
      }
    }
  }

  test("source overlap containment matches a set-intersection replay") {
    val rows = Text.sourceOverlap(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val sets = sources.Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1)
      .map { case (src, ds) =>
        src -> ds.flatMap(_._2.split(" ").sliding(3).filter(_.length == 3)
          .map(_.mkString(" "))).toSet
      }
    rows.foreach { case (s1, s2, nShared, cont) =>
      val (a, b) = (sets(s1), sets(s2))
      assert(nShared === (a & b).size, s"$s1 x $s2 intersection")
      assert(cont === 1000000L * nShared / math.min(a.size, b.size))
    }
    // every overlapping pair present, none invented
    val expected = sets.keys.toSeq.sorted.combinations(2)
      .map { case Seq(x, y) => (x, y) }
      .filter { case (x, y) => (sets(x) & sets(y)).nonEmpty }.toSet
    assert(rows.map(r => (r._1, r._2)).toSet === expected)
  }

  test("count-min: never undercounts, and matches a replayed sketch") {
    val rows = Text.countMinSketch(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (t, cnt, est, over) =>
      assert(est >= cnt && over === est - cnt, s"term=$t undercounted")
    }
    // replay: rebuild the 4x16 sketch from the true frequencies using
    // the same salted hash (evaluated by Spark — single-sourced)
    val vocab = sources.Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .select(col("term"), col("cnt"),
        expr("transform(sequence(0, 3), j -> CAST(conv(substr(md5(CAST(" +
          "concat(term, '#', j) AS BINARY)), 1, 15), 16, 10) AS BIGINT) % 16)")
          .as("bkts"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2).toList))
    val sketch = scala.collection.mutable.Map.empty[(Int, Long), Long]
      .withDefaultValue(0L)
    vocab.foreach { case (_, cnt, bkts) =>
      bkts.zipWithIndex.foreach { case (b, j) => sketch((j, b)) += cnt }
    }
    val expected = vocab.map { case (t, cnt, bkts) =>
      (t, cnt, bkts.zipWithIndex.map { case (b, j) => sketch((j, b)) }.min)
    }.sortBy(_._1)
    assert(rows.map(r => (r._1, r._2, r._3)).toSeq === expected)
  }

  test("bloom pre-filter: exact FP accounting matches a bit-set replay") {
    val rows = Text.bloomPrefilter(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, nNew, nPass, nDup, nFp) =>
      assert(nPass >= nDup, s"$src: an exact dup must always pass the filter")
      assert(nFp === nPass - nDup)
    }
    // full replay in plain Scala (independent md5/hash60 implementation)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h60(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    val docs = sources.Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), md5hex(r.getString(1))))
    val corpus = docs.filter(_._1 == "src0").map(_._2)
    val m = corpus.length.toLong * 8
    val bits = corpus.flatMap(h => (0 until 5).map(i => h60(s"$h#$i") % m)).toSet
    val corpusSet = corpus.toSet
    val expected = docs.filter(_._1 != "src0").groupBy(_._1).map { case (src, ds) =>
      val pass = ds.count { case (_, h) =>
        (0 until 5).forall(i => bits(h60(s"$h#$i") % m)) }
      val dup = ds.count(d => corpusSet(d._2))
      (src, ds.length.toLong, pass.toLong, dup.toLong, (pass - dup).toLong)
    }.toSeq.sortBy(_._1)
    assert(rows.toSeq === expected)
  }

  test("dedup funnel: stages shrink monotonically; exact stage matches a replica") {
    val rows = Text.dedupFunnel(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, n, e, f) =>
      assert(f <= e && e <= n, s"$src: funnel must narrow monotonically")
      assert(f >= 1, s"$src: at least one doc must survive")
    }
    val exactMap = sources.Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        countDistinct(md5(col("text").cast("binary"))).as("e"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    rows.foreach { case (src, n, e, _) =>
      assert((n, e) === exactMap(src), s"$src: exact stage drifted")
    }
  }

  test("lexicon scrub: accounting matches an explode-side replica; scrub is idempotent") {
    val rows = Text.lexiconScrub(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.exists(_._4 > 0),
      "the corpus vocabulary must trigger redactions")
    // replica: count lexicon tokens the heavyweight way (explode + filter)
    val rep = sources.Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w").isin(Text.ScrubLexicon: _*))
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { case (src, n, touched, red) =>
      assert(red === rep.getOrElse(src, 0L), s"$src: token count drifted")
      assert(touched <= n && touched <= red, s"$src: touched bound violated")
    }
    // idempotence: scrubbing already-scrubbed text redacts nothing
    // ([REDACTED] is not in the lexicon), so a second pass is a no-op
    assert(!Text.ScrubLexicon.contains("[REDACTED]"))
  }

  test("dim stats: every dimension sees the full corpus; moments are consistent") {
    val n = sources.Tables.embeddings(spark, sfDir).count()
    val rows = Vectors.dimStats(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq === (1L to 64L), "one row per dimension, ordered")
    rows.foreach { case (dim, nv, mean, v2, mn, mx) =>
      assert(nv === n, s"dim $dim: row count")
      assert(mn <= mean && mean <= mx, s"dim $dim: mean outside [min,max]")
      assert(v2 >= 0, s"dim $dim: negative variance")
      assert(v2 <= (mx - mn).toDouble * (mx - mn), s"dim $dim: variance > range²")
    }
  }

  test("centroid probe: confusion counts partition the corpus; labels in domain") {
    val n = sources.Tables.embeddings(spark, sfDir).count()
    val labels = sources.Tables.embeddings(spark, sfDir)
      .select(col("label")).distinct().collect().map(_.getInt(0)).toSet
    val rows = Vectors.centroidProbe(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(rows.map(_._3).sum === n, "every vector must be assigned exactly once")
    rows.foreach { case (lab, pred, cnt) =>
      assert(labels(lab) && labels(pred), "labels must stay in domain")
      assert(cnt > 0)
    }
    // the probe is only useful if the space has SOME class structure:
    // diagonal mass must beat uniform assignment
    val diag = rows.filter(r => r._1 == r._2).map(_._3).sum.toDouble
    assert(diag / n > 1.0 / labels.size,
      s"diagonal fraction ${diag / n} not above chance")
  }

  test("cluster sizes: histogram mass equals the clustered-doc count; min size 2") {
    val rows = Text.clusterSizeDist(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (k, nc, nd) =>
      assert(k >= 2, "a cluster needs at least one pair")
      assert(nd === k * nc)
    }
    val clustered = Text.neardupClusters(spark, sfDir).count()
    assert(rows.map(_._3).sum === clustered,
      "histogram mass must equal total clustered docs")
  }

  test("embed retention: totals partition the corpus; drops equal non-canonical clustered vecs") {
    val n = sources.Tables.embeddings(spark, sfDir).count()
    val rows = Vectors.embedRetention(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._2).sum === n, "labels must partition the corpus")
    rows.foreach { case (lab, nv, kept) =>
      assert(kept >= 1 && kept <= nv, s"label $lab: kept out of range")
    }
    val dropped = Vectors.embedClusters(spark, sfDir)
      .filter(!col("is_canonical")).count()
    assert(rows.map(r => r._2 - r._3).sum === dropped,
      "total drops must equal non-canonical clustered vectors")
  }

  test("MRL agreement: full-dim column reproduces knnBrute's rank-1 answer") {
    val top1 = Vectors.knnBrute(spark, sfDir).filter(col("rnk") === 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val mrl = Vectors.mrlAgreement(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(5)))
    assert(mrl.nonEmpty && mrl.length === top1.size)
    mrl.foreach { case (qid, n1Full, cosFull, n1Half, agree) =>
      val (expId, expCos) = top1(qid)
      assert(n1Full === expId, s"qid=$qid full-dim top-1 drifted from knnBrute")
      assert(cosFull === expCos, s"qid=$qid full-dim cosine drifted")
      assert(agree === (if (n1Full == n1Half) 1L else 0L))
    }
  }
}
