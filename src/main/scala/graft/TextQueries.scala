package graft

import graft.operators.Text._

/** Text-analysis / dedup inventory over `documents` (SURVEY §7.6).
  * Oracle SQL mirrors the Spark plans mechanically; the shared 60-bit hash
  * is `CAST('0x'||substr(md5(x),1,15) AS BIGINT)` (= Spark
  * `conv(substr(md5(x),1,15),16,10)`), so signatures match bit-for-bit.
  */
object TextQueries {

  /** DuckDB spelling of operators.Text.hash60. */
  private def h60(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** DuckDB one-column table `0 until n` named `v` — a sketch's hash-row
    * (count-min `j`) or hash-position (Bloom `i`) index.
    */
  private def valuesOf(n: Int, v: String): String =
    s"(VALUES ${(0 until n).map(i => s"($i)").mkString(",")}) AS $v$v($v)"

  /** Shingle CTE over an arbitrary docs relation (default the full
    * table) — q150 points it at the deterministic doc sample.
    */
  private[graft] def SHINGLES_OF(src: String): String =
    s"""sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(w)-2),
       |    i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS sh
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $src)
       |  WHERE len(w) >= 3)""".stripMargin

  private[graft] val SHINGLES = SHINGLES_OF("documents")

  private val SIZES = "sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)"

  /** The BM25 posting-score chain ending at `s` (doc_id, term,
    * bm25_micro) — the DuckDB twin of operators.Text.bm25Scored, shared
    * by q64 (per-doc term ranking) and q119 (retrieval probe).
    */
  private val BM25_CTES =
    """t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
      |len AS (SELECT doc_id, COUNT(*) AS len FROM t GROUP BY 1),
      |dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
      |tot AS (
      |  SELECT (SELECT COUNT(*) FROM documents) AS ndocs,
      |         (SELECT COUNT(*) FROM t) AS total),
      |s AS (
      |  SELECT tf.doc_id, tf.term,
      |    CAST((CAST(round(ln(ndocs / df) * 1000000) AS HUGEINT) * 22 * cnt * total)
      |      // (CAST(10 AS HUGEINT) * total * cnt + 3 * total + 9 * len * ndocs)
      |      AS BIGINT) AS bm25_micro
      |  FROM tf JOIN len USING (doc_id) JOIN dfq USING (term) CROSS JOIN tot)""".stripMargin

  /** DuckDB twin of operators.Text.docSpans: 60-char windows, stride 30,
    * 1-based positions inclusive of the last full window — `substr` and
    * Spark `substring` are both 1-based and character-counted, and
    * `generate_series(1, len-59, 30)` = Spark `sequence(1, len-59, 30)`
    * (both stop-inclusive), so the span sets match exactly.
    */
  private val SPANS =
    s"""spans AS (
       |  SELECT doc_id, source, ${h60("substr(text, p, 60)")} AS h
       |  FROM (SELECT doc_id, source, text,
       |          unnest(generate_series(1, len(text) - 59, 30)) AS p
       |        FROM documents WHERE len(text) >= 60))""".stripMargin

  private val INTER =
    """inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** MinHash-LSH verified pair CTEs ending at `pairs` (threshold 0.5) —
    * the SQL twin of the landed pair table. Shared by the cluster chain
    * below and by q101's datasheet counts (CurationQueries).
    */
  /** CTE chain ending at `bands` (doc_id, band, sig) — the 8-minhash
    * 4×2 banding shared by the pair chain and q123's arrival-order
    * dedup decision.
    */
  private[graft] def BAND_CTES: String = BAND_CTES_OF("documents")

  private[graft] def BAND_CTES_OF(src: String): String = {
    import graft.functions.MinHashes60.{P, mhA, mhB}
    val mins = (0 until 8).map(j => s"MIN((${mhA(j)} * h + ${mhB(j)}) % $P) AS mh$j")
      .mkString(", ")
    s"""${SHINGLES_OF(src)},
       |shh AS (SELECT doc_id, ${h60("sh")} % $P AS h FROM sh),
       |mh AS (SELECT doc_id, $mins FROM shh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, concat_ws('_', mh0, mh1) AS sig FROM mh
       |  UNION ALL SELECT doc_id, 1, concat_ws('_', mh2, mh3) FROM mh
       |  UNION ALL SELECT doc_id, 2, concat_ws('_', mh4, mh5) FROM mh
       |  UNION ALL SELECT doc_id, 3, concat_ws('_', mh6, mh7) FROM mh)""".stripMargin
  }

  private[graft] def PAIR_CTES: String = {
    s"""$BAND_CTES,
       |cand0 AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |$SIZES,
       |$INTER,
       |pairs AS (
       |  SELECT cand0.d1, cand0.d2
       |  FROM cand0
       |  LEFT JOIN inter ON inter.d1 = cand0.d1 AND inter.d2 = cand0.d2
       |  JOIN sizes s1 ON s1.doc_id = cand0.d1
       |  JOIN sizes s2 ON s2.doc_id = cand0.d2
       |  WHERE round(COALESCE(n_common, 0)
       |    / (s1.n_sh + s2.n_sh - COALESCE(n_common, 0)), 6) >= 0.5)""".stripMargin
  }

  /** q67/q70 shared chain: [[PAIR_CTES]] plus the recursive reachability
    * walk `r` (UNION-distinct termination) whose per-doc MIN(lab) equals
    * Spark's min-label-propagation fixpoint.
    */
  private[graft] def CLUSTER_CTES: String =
    s"""$PAIR_CTES,
       |und AS (SELECT d1 AS a, d2 AS b FROM pairs
       |        UNION ALL SELECT d2, d1 FROM pairs),
       |r AS (
       |  SELECT a AS doc, a AS lab FROM (SELECT DISTINCT a FROM und)
       |  UNION
       |  SELECT u.b AS doc, r.lab FROM r JOIN und u ON u.a = r.doc)""".stripMargin

  /** q152's Spark side: build (once — Materialize-rooted, idempotent,
    * swept when the corpus changes) the arrival-order epoch index over
    * the corpus, then run the O(audited-docs) audit against it. At
    * driver SFs the full-corpus audit equals q123 row-for-row; in the
    * service the same call audits only a delta against the live index.
    *
    * `sampleMod` is the audit's scale knob (the q107/q150 discipline):
    * past [[operators.Text.AuditSampleTarget]] docs the probe side is a
    * deterministic 1/mod sample of the corpus, stratified by CONTENT
    * FINGERPRINT — here mh0, the first seeded minhash, which the landed
    * minhash stage already carries, so the sample costs ONE filter on
    * a doc-sized scan (no shingle re-aggregation). mh0 conditioning
    * keeps collision partners together (docs sharing a band-0 bucket
    * share mh0 by construction; partners in other bands share it with
    * probability ≈ Jaccard), so the sampled audit is positives-enriched
    * — the right bias for a drop-decision audit, and deterministic in
    * any engine (the oracle computes the same mh0). Sentinel 0 derives
    * the mod from corpus size: mod 1 (the FULL audit — bit-identical to
    * the pre-derivation q152) at every driver SF, sf1 and sf10; mod 16
    * first at the 5M-doc fourth decade. The m≥2 solo-bucket skip stays
    * valid for any corpus SUBSET: a sampled doc in a size-1 bucket is
    * that bucket's owner, so it can never be a drop.
    */
  private def arrivalAuditIndexed(s: org.apache.spark.sql.SparkSession,
      d: String, sampleMod: Int = 0): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at}
    val bd = operators.Text.bandingOf(s, d)
    val root = graft.streaming.IndexCompaction.lakeIndex(s, d, "text_idx",
      graft.sources.Tables.documents(s, d).select(col("doc_id"), col("text")),
      bd)
    val mod =
      if (sampleMod > 0) sampleMod
      else operators.Text.sampleModOf(operators.Text.nDocsOf(s, d),
        operators.Text.AuditSampleTarget)
    // self-audit from the LANDED batch minhash stage (pinned equal to
    // the per-row banding) — no per-row re-banding of the corpus
    val mh = operators.Text.minhashAgg(s, d, bd)
    val probe = if (mod <= 1) mh else mh.filter(element_at(col("mhb"), 1) % mod === 0)
    graft.streaming.IndexCompaction.arrivalSelfAudit(s, root,
      operators.Text.bandRows(probe, bd))
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q30_lang_stats", (s, d) => langStats(s, d), Some(
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  round(SUM(n_chars) / COUNT(*), 6) AS avg_chars,
        |  COUNT(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("q31_quality_stats", (s, d) => qualityStats(s, d), Some(
      """WITH per_doc AS (
        |  SELECT lang, n_chars, len(w) AS n_words,
        |    len(list_filter(w, x -> x IN ('the', 'a'))) AS n_stop
        |  FROM (SELECT lang, n_chars, string_split(text, ' ') AS w FROM documents))
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_words) AS BIGINT) AS total_words,
        |  round(SUM(n_words) / COUNT(*), 6) AS avg_words,
        |  round((SUM(n_chars) - (SUM(n_words) - COUNT(*))) / SUM(n_words), 6) AS avg_word_len,
        |  round(SUM(n_stop) / SUM(n_words), 6) AS stopword_ratio
        |FROM per_doc GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("q32_token_stats", (s, d) => tokenStats(s, d), Some(
      """WITH per_doc AS (
        |  SELECT lang,
        |    len(string_split(text, ' ')) AS n_ws,
        |    len(list_filter(string_split_regex(text, '[^a-z]+'), x -> x != '')) AS n_re
        |  FROM documents),
        |counts AS (
        |  SELECT lang, CAST(SUM(n_ws) AS BIGINT) AS n_tokens_ws,
        |    CAST(SUM(n_re) AS BIGINT) AS n_tokens_re
        |  FROM per_doc GROUP BY lang),
        |vocab AS (
        |  SELECT lang, COUNT(DISTINCT tok) AS n_distinct_tokens
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY lang)
        |SELECT counts.lang, n_tokens_ws, n_tokens_re, n_distinct_tokens
        |FROM counts JOIN vocab ON counts.lang = vocab.lang
        |ORDER BY counts.lang""".stripMargin)),

    QueryDef("q33_exact_dedup", (s, d) => exactDedup(s, d), Some(
      """SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(text)) AS n_unique_texts,
        |  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("q34_ngram_jaccard", (s, d) => ngramJaccardPairs(s, d), Some(
      s"""WITH $SHINGLES,
         |$SIZES,
         |$INTER
         |SELECT d1, d2, n_common,
         |  round(n_common / (s1.n_sh + s2.n_sh - n_common), 6) AS jaccard
         |FROM inter
         |JOIN sizes s1 ON s1.doc_id = d1
         |JOIN sizes s2 ON s2.doc_id = d2
         |WHERE round(n_common / (s1.n_sh + s2.n_sh - n_common), 6) >= 0.5
         |ORDER BY d1, d2""".stripMargin)),

    QueryDef("q123_arrival_dedup", (s, d) => arrivalDedup(s, d), Some(
      s"""WITH $BAND_CTES,
         |owned AS (
         |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY band, sig) AS owner
         |  FROM bands)
         |SELECT doc_id, MIN(owner) AS owner,
         |  CAST(COUNT(*) AS BIGINT) AS n_bands_hit
         |FROM owned WHERE owner < doc_id
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // q152: the INDEX-BACKED arrival-order audit — q123's decisions
    // re-derived through the dedup service's own landed epoch index
    // (IndexCompaction.arrivalSelfAudit over a Materialize-rooted index
    // of the corpus). This is the serving path oracle-pinned: the index
    // side is READ (epoch owners min-folded), the docs side is the
    // landed minhash stage's bands, and a re-audit after a compaction
    // costs O(delta) instead of re-paying the bands×corpus aggregate.
    // The DuckDB twin is spelled independently of q123's (GROUP-BY
    // owners join, not a window).
    QueryDef("q152_arrival_audit_index", (s, d) => arrivalAuditIndexed(s, d),
      Some(
      s"""WITH $BAND_CTES,
         |owners AS (
         |  SELECT band, sig, MIN(doc_id) AS owner FROM bands GROUP BY 1, 2)
         |SELECT b.doc_id, MIN(o.owner) AS owner,
         |  CAST(COUNT(*) AS BIGINT) AS n_bands_hit
         |FROM bands b JOIN owners o ON b.band = o.band AND b.sig = o.sig
         |WHERE o.owner < b.doc_id
         |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin)),
    // q154: the SAMPLED index audit — q152's 100 TB spelling,
    // oracle-checked at an EXPLICIT 1/8 sample so the path a
    // production lake actually runs past the derivation threshold
    // (where min-folding the full corpus's band rows through the
    // audit join is the steepest remaining audit cell) has its own
    // exact DuckDB twin at every driver SF. The sample is stratified
    // by mh0 — the first seeded minhash, a content fingerprint the
    // landed minhash stage already carries (one filter, no shingle
    // re-aggregation; the oracle's mh CTE computes the identical
    // value). The OWNERS side stays the FULL index — per-doc drop
    // decisions are exact, only the set of audited docs is sampled.
    QueryDef("q154_arrival_audit_sampled",
      (s, d) => arrivalAuditIndexed(s, d, sampleMod = 8), Some(
      s"""WITH $BAND_CTES,
         |owners AS (
         |  SELECT band, sig, MIN(doc_id) AS owner FROM bands GROUP BY 1, 2)
         |SELECT b.doc_id, MIN(o.owner) AS owner,
         |  CAST(COUNT(*) AS BIGINT) AS n_bands_hit
         |FROM bands b
         |JOIN mh ON b.doc_id = mh.doc_id AND mh.mh0 % 8 = 0
         |JOIN owners o ON b.band = o.band AND b.sig = o.sig
         |WHERE o.owner < b.doc_id
         |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin)),

    QueryDef("q35_minhash_lsh", (s, d) => minhashLshPairs(s, d), Some {
      s"""WITH $BAND_CTES,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |$SIZES,
         |$INTER
         |SELECT cand.d1, cand.d2,
         |  round(COALESCE(n_common, 0) / (s1.n_sh + s2.n_sh - COALESCE(n_common, 0)), 6) AS jaccard
         |FROM cand
         |LEFT JOIN inter ON inter.d1 = cand.d1 AND inter.d2 = cand.d2
         |JOIN sizes s1 ON s1.doc_id = cand.d1
         |JOIN sizes s2 ON s2.doc_id = cand.d2
         |WHERE round(COALESCE(n_common, 0) / (s1.n_sh + s2.n_sh - COALESCE(n_common, 0)), 6) >= 0.5
         |ORDER BY cand.d1, cand.d2""".stripMargin
    }),

    QueryDef("q49_edit_distance", (s, d) => editDistancePairs(s, d), Some {
      s"""WITH $BAND_CTES,
         |cand0 AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |$SIZES,
         |$INTER,
         |cand AS (
         |  SELECT cand0.d1, cand0.d2
         |  FROM cand0
         |  LEFT JOIN inter ON inter.d1 = cand0.d1 AND inter.d2 = cand0.d2
         |  JOIN sizes s1 ON s1.doc_id = cand0.d1
         |  JOIN sizes s2 ON s2.doc_id = cand0.d2
         |  WHERE round(COALESCE(n_common, 0)
         |    / (s1.n_sh + s2.n_sh - COALESCE(n_common, 0)), 6) >= 0.3)
         |SELECT d1, d2,
         |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
         |  CAST(greatest(len(a.text), len(b.text)) AS BIGINT) AS max_len
         |FROM cand JOIN documents a ON a.doc_id = d1 JOIN documents b ON b.doc_id = d2
         |ORDER BY d1, d2""".stripMargin
    }),

    QueryDef("q36_simhash", (s, d) => simhash(s, d), Some {
      val votes = (0 until 16).map(b =>
        s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(",\n    ")
      val assemble = (0 until 16).map(b =>
        s"CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END").mkString(" + ")
      s"""WITH wh AS (
         |  SELECT doc_id, ${h60("tok")} AS h
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
         |votes AS (
         |  SELECT doc_id,
         |    $votes
         |  FROM wh GROUP BY doc_id)
         |SELECT doc_id, $assemble AS simhash16
         |FROM votes ORDER BY doc_id""".stripMargin
    }),

    // q68: same simhash construction as q36, then the pigeonhole chunk
    // join — hamming ≤ 2 pairs must share one of three 5/5/6-bit chunks.
    QueryDef("q68_simhash_neardup", (s, d) => simhashNeardup(s, d), Some {
      val votes = (0 until 16).map(b =>
        s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(",\n    ")
      val assemble = (0 until 16).map(b =>
        s"CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END").mkString(" + ")
      s"""WITH wh AS (
         |  SELECT doc_id, ${h60("tok")} AS h
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
         |votes AS (
         |  SELECT doc_id,
         |    $votes
         |  FROM wh GROUP BY doc_id),
         |sim AS (SELECT doc_id, $assemble AS s FROM votes),
         |ch AS (
         |  SELECT doc_id, s, 0 AS j, s & 31 AS c FROM sim
         |  UNION ALL SELECT doc_id, s, 1, (s >> 5) & 31 FROM sim
         |  UNION ALL SELECT doc_id, s, 2, (s >> 10) & 63 FROM sim),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.s AS s1, b.s AS s2
         |  FROM ch a JOIN ch b ON a.j = b.j AND a.c = b.c AND a.doc_id < b.doc_id)
         |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(s1, s2)) <= 2
         |ORDER BY d1, d2""".stripMargin
    }),

    QueryDef("q37_fingerprint", (s, d) => fingerprint(s, d), Some(
      s"""SELECT doc_id, MIN(${h60("g")}) AS fingerprint
         |FROM (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len(text)-7), i -> substr(text, i, 8))) AS g
         |  FROM documents WHERE n_chars >= 8)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("q39_quality_filter", (s, d) => qualityFilter(s, d), Some(
      """WITH m AS (
        |  SELECT doc_id, lang, len(w) AS n_words,
        |    round(len(list_filter(w, x -> x IN ('the', 'a'))) / len(w), 6) AS stop_ratio
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents))
        |SELECT doc_id, lang, n_words, stop_ratio,
        |  CASE WHEN n_words < 15 THEN 'too_short'
        |       WHEN n_words > 90 THEN 'too_long'
        |       WHEN stop_ratio > 0.12 THEN 'stopword_heavy' END AS reason
        |FROM m
        |WHERE n_words < 15 OR n_words > 90 OR stop_ratio > 0.12
        |ORDER BY doc_id""".stripMargin)),

    // q46 approx distinct: the HLL sketch value itself is engine-specific,
    // so the declared columns are the exact count (oracle-computable) plus
    // approx_ok — |approx−exact| within the 3σ bound for rsd=0.02 — which
    // the oracle asserts as literal TRUE. The gate thus verifies both the
    // exact vocabulary AND the sketch's error bound; the raw sketch value
    // stays visible via Text.approxVocab and its PipelineOpsSpec test.
    QueryDef("q46_approx_vocab", (s, d) => {
      import org.apache.spark.sql.functions._
      approxVocab(s, d).select(
        col("lang"), col("exact_distinct"),
        (abs(col("approx_distinct") - col("exact_distinct")) <=
          greatest(lit(1L), ceil(col("exact_distinct") * 0.06).cast("long")))
          .as("approx_ok"))
    }, Some(
      """SELECT lang, COUNT(DISTINCT tok) AS exact_distinct, TRUE AS approx_ok
        |FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("q47_tfidf", (s, d) => tfidfTop(s, d), Some(
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
        |len AS (SELECT doc_id, COUNT(*) AS len FROM t GROUP BY 1),
        |dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term,
        |    (cnt * CAST(round(ln(n / df) * 1000000) AS BIGINT)) // len AS tfidf_micro
        |  FROM tf JOIN len USING (doc_id) JOIN dfq USING (term) CROSS JOIN n),
        |r AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf_micro DESC, term) AS BIGINT) AS rnk
        |  FROM s)
        |SELECT doc_id, rnk, term, tfidf_micro FROM r WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin)),

    QueryDef("q61_unigram_logprob", (s, d) => unigramLogprob(s, d), Some(
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |freq AS (SELECT term, COUNT(*) AS cnt FROM t GROUP BY term),
        |tot AS (SELECT COUNT(*) AS total FROM t),
        |logp AS (
        |  SELECT term,
        |    CAST(round(-ln(cnt / total) * 1000000) AS BIGINT) AS surprisal_micro
        |  FROM freq CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_words,
        |  CAST(SUM(surprisal_micro) AS BIGINT) AS sum_surprisal_micro,
        |  CAST(SUM(surprisal_micro) AS BIGINT) // COUNT(*) AS avg_surprisal_micro
        |FROM t JOIN logp USING (term)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("q63_incremental_dedup", (s, d) => incrementalDedup(s, d), Some(
      s"""WITH fp AS (
         |  SELECT doc_id, MIN(${h60("g")}) AS fpr
         |  FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      generate_series(1, len(text)-7), i -> substr(text, i, 8))) AS g
         |    FROM documents WHERE n_chars >= 8)
         |  GROUP BY doc_id),
         |corpus_h AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE source = 'src0'),
         |corpus_fp AS (
         |  SELECT DISTINCT fpr FROM documents JOIN fp USING (doc_id)
         |  WHERE source = 'src0')
         |SELECT source, COUNT(*) AS n_new
         |FROM documents d JOIN fp USING (doc_id)
         |WHERE source != 'src0'
         |  AND md5(text) NOT IN (SELECT h FROM corpus_h)
         |  AND fpr NOT IN (SELECT fpr FROM corpus_fp)
         |GROUP BY source ORDER BY source""".stripMargin)),

    QueryDef("q64_bm25", (s, d) => bm25Top(s, d), Some(
      s"""WITH $BM25_CTES,
        |r AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY doc_id ORDER BY bm25_micro DESC, term) AS BIGINT) AS rnk
        |  FROM s)
        |SELECT doc_id, rnk, term, bm25_micro FROM r WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin)),

    QueryDef("q62_hash_sample", (s, d) => hashSample(s, d), Some(
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN ${h60("text")} % 100 < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // q67: connected components over the verified LSH pair graph. The
    // oracle walks the same graph with a recursive CTE (UNION-distinct
    // termination); min-reachable-doc_id is an engine-independent
    // fixpoint, so the iterative Spark labels and the recursive SQL
    // labels agree exactly.
    QueryDef("q67_neardup_clusters", (s, d) => neardupClusters(s, d), Some(
      s"""WITH RECURSIVE $CLUSTER_CTES
         |SELECT doc AS doc_id, MIN(lab) AS cluster_id,
         |  doc = MIN(lab) AS is_canonical
         |FROM r GROUP BY doc ORDER BY doc_id""".stripMargin)),

    // q70: the retention decision — per language, docs surviving when
    // only each cluster's canonical (min-id) member is kept.
    QueryDef("q70_retention_manifest", (s, d) => retentionManifest(s, d), Some(
      s"""WITH RECURSIVE $CLUSTER_CTES,
         |labels AS (SELECT doc, MIN(lab) AS lab FROM r GROUP BY doc)
         |SELECT d.lang, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN labels.doc IS NULL OR labels.doc = labels.lab
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents d LEFT JOIN labels ON labels.doc = d.doc_id
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin)),

    // q92: the dedup funnel — raw → exact-dedup survivors → near-dup
    // canonical survivors, per source (composes q33's stage with q67's
    // cluster labels).
    QueryDef("q92_dedup_funnel", (s, d) => dedupFunnel(s, d), Some(
      s"""WITH RECURSIVE $CLUSTER_CTES,
         |labels AS (SELECT doc, MIN(lab) AS lab FROM r GROUP BY doc),
         |d AS (SELECT doc_id, source, md5(text) AS h FROM documents),
         |reps AS (SELECT source, h, MIN(doc_id) AS doc_id
         |         FROM d GROUP BY source, h),
         |kept AS (
         |  SELECT reps.source,
         |    CASE WHEN labels.doc IS NULL OR labels.doc = labels.lab
         |         THEN 1 ELSE 0 END AS keep
         |  FROM reps LEFT JOIN labels ON labels.doc = reps.doc_id),
         |raw AS (SELECT source, COUNT(*) AS n_docs FROM d GROUP BY source)
         |SELECT raw.source, n_docs, COUNT(*) AS n_exact,
         |  CAST(SUM(keep) AS BIGINT) AS n_final
         |FROM kept JOIN raw ON raw.source = kept.source
         |GROUP BY raw.source, n_docs ORDER BY raw.source""".stripMargin)),

    QueryDef("q65_repetition", (s, d) => repetitionStats(s, d), Some(
      """WITH g AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-1),
        |    i -> concat_ws(' ', w[i], w[i+1]))) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 2),
        |c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams,
        |        COUNT(*) AS n_distinct, MAX(c) AS top_count
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id, n_2grams, n_distinct, top_count,
        |  round((n_2grams - n_distinct) / n_2grams, 6) AS dup_frac,
        |  round(top_count / n_2grams, 6) AS top_frac
        |FROM a ORDER BY doc_id""".stripMargin)),

    // q71: cross-doc repeated spans (C4-style boilerplate dictionary) —
    // per-doc coverage by word 10-grams shared across >= 3 documents.
    QueryDef("q71_boilerplate", (s, d) => boilerplateStats(s, d), Some(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-9),
        |    i -> array_to_string(w[i:i+9], ' '))) AS gram
        |  FROM w WHERE len(w) >= 10),
        |hot AS (SELECT gram FROM g GROUP BY gram
        |        HAVING COUNT(DISTINCT doc_id) >= 3),
        |per AS (SELECT doc_id, COUNT(*) AS n_spans FROM g GROUP BY doc_id),
        |hits AS (SELECT doc_id, COUNT(*) AS n_boiler
        |         FROM g JOIN hot USING (gram) GROUP BY doc_id)
        |SELECT per.doc_id, n_spans,
        |  CAST(COALESCE(n_boiler, 0) AS BIGINT) AS n_boiler,
        |  (CAST(COALESCE(n_boiler, 0) AS BIGINT) * 1000000) // n_spans
        |    AS boiler_micro
        |FROM per LEFT JOIN hits USING (doc_id)
        |ORDER BY per.doc_id""".stripMargin)),

    // q73: benchmark decontamination — flag training docs sharing any
    // word 8-gram with the held-out slice doc_id % 97 == 0.
    QueryDef("q73_decontaminate", (s, d) => decontaminate(s, d), Some(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id, gram FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-7),
        |    i -> array_to_string(w[i:i+7], ' '))) AS gram
        |  FROM w WHERE len(w) >= 8)),
        |e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
        |t AS (SELECT * FROM g WHERE doc_id % 97 <> 0),
        |per AS (SELECT doc_id, COUNT(*) AS n_grams FROM t GROUP BY doc_id),
        |h AS (SELECT doc_id, COUNT(*) AS n_hit
        |      FROM t JOIN e USING (gram) GROUP BY doc_id)
        |SELECT per.doc_id, n_grams,
        |  CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(CASE WHEN COALESCE(n_hit, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS contaminated
        |FROM per LEFT JOIN h USING (doc_id)
        |ORDER BY per.doc_id""".stripMargin)),

    QueryDef("q66_source_mix", (s, d) => sourceMix(s, d), Some(
      s"""WITH d AS (SELECT source, ${h60("text")} % 1000000 AS u FROM documents),
         |b AS (SELECT source, COUNT(*) AS n_docs FROM d GROUP BY source),
         |w AS (SELECT source, n_docs,
         |        CAST(FLOOR(SQRT(n_docs) * 1000000) AS BIGINT) AS w_micro FROM b),
         |t AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS sum_w FROM w),
         |r AS (SELECT source, n_docs, w_micro,
         |        (w_micro * 1000000) // sum_w AS rate_micro FROM w CROSS JOIN t),
         |k AS (SELECT source, COUNT(*) AS n_kept
         |      FROM d JOIN r USING (source) WHERE u < rate_micro GROUP BY source)
         |SELECT r.source, n_docs, w_micro, rate_micro,
         |  COALESCE(n_kept, 0) AS n_kept
         |FROM r LEFT JOIN k ON k.source = r.source
         |ORDER BY r.source""".stripMargin)),

    // q76: token-budget sampling — equal per-source share of a fixed
    // token budget, quality-first then content-hash priority, kept iff
    // the running token total still fits.
    QueryDef("q76_token_budget", (s, d) => tokenBudget(s, d), Some(
      s"""WITH d AS (
         |  SELECT doc_id, source, ${h60("text")} % 1000000 AS u,
         |    len(w) AS n_words,
         |    len(list_filter(w, x -> x IN ('the', 'a'))) AS n_stop
         |  FROM (SELECT doc_id, source, text, string_split(text, ' ') AS w
         |        FROM documents)),
         |b AS (
         |  SELECT doc_id, source, u, CAST(n_words AS BIGINT) AS n_tokens,
         |    CASE WHEN n_words < 15 OR n_words > 90
         |              OR n_stop * 100 > n_words * 12
         |         THEN 1 ELSE 0 END AS bad
         |  FROM d),
         |ns AS (SELECT COUNT(DISTINCT source) AS ns FROM b),
         |c AS (
         |  SELECT source, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY bad, u, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      <= 10000 // ns AS kept,
         |    1 AS one
         |  FROM b CROSS JOIN ns)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS tok_total,
         |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT)
         |    AS tok_kept
         |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    QueryDef("q38_lang_id", (s, d) => langIdAgreement(s, d), Some(
      """WITH scored AS (
        |  SELECT lang,
        |    len(list_filter(w, x -> x IN ('the', 'a', 'of', 'and'))) AS en_votes,
        |    len(list_filter(w, x -> x IN ('el', 'la', 'de', 'y'))) AS es_votes
        |  FROM (SELECT lang, string_split(text, ' ') AS w FROM documents))
        |SELECT lang,
        |  CASE WHEN en_votes > es_votes THEN 'en'
        |       WHEN es_votes > en_votes THEN 'es'
        |       ELSE 'und' END AS predicted,
        |  COUNT(*) AS n
        |FROM scored GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // q77: concat-and-chunk sequence packing — per-source packing
    // efficiency when docs are laid out in content-hash order and cut
    // into 512-token training sequences.
    QueryDef("q77_seq_pack", (s, d) => seqPack(s, d), Some(
      s"""WITH d AS (
         |  SELECT doc_id, source, ${h60("text")} % 1000000 AS u,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT source, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY u, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM d)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  (MAX(cum) + 511) // 512 AS n_seqs,
         |  CAST(SUM(CASE WHEN (cum - 1) // 512 > (cum - n_tokens) // 512
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
         |  (1000000 * (MAX(cum) - ((MAX(cum) - 1) // 512) * 512)) // 512
         |    AS tail_fill_micro
         |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // q78: Zipf coverage — distinct terms covering 90% of tokens per
    // language, and the share carried by the top-100 terms.
    QueryDef("q78_zipf_coverage", (s, d) => zipfCoverage(s, d), Some(
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |f AS (SELECT lang, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
        |tot AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS total_tokens,
        |          COUNT(*) AS n_terms FROM f GROUP BY lang),
        |r AS (SELECT lang, cnt, term,
        |    CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY cnt DESC, term
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, term)
        |      AS BIGINT) AS rnk
        |  FROM f)
        |SELECT r.lang, MAX(n_terms) AS n_terms, MAX(total_tokens) AS total_tokens,
        |  MIN(CASE WHEN cum * 10 >= total_tokens * 9 THEN rnk END) AS terms_90,
        |  (1000000 * MAX(CASE WHEN rnk <= 100 THEN cum END)) // MAX(total_tokens)
        |    AS top100_cov_micro
        |FROM r JOIN tot USING (lang)
        |GROUP BY r.lang ORDER BY r.lang""".stripMargin)),

    // q79: leakage-proof split manifest — content-hash 90/5/5 split, so
    // byte-identical duplicates always share a split.
    QueryDef("q79_split_manifest", (s, d) => splitManifest(s, d), Some(
      s"""WITH d AS (
         |  SELECT source, ${h60("text")} % 100 AS b, md5(text) AS text_md5,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT source,
         |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
         |       ELSE 'test' END AS split,
         |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tok_total,
         |  COUNT(DISTINCT text_md5) AS n_distinct
         |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // q107: MinHash band tuning table — measured recall per band prefix;
    // every exact q34 pair tagged with the first band that catches it.
    // PAIR_CTES supplies sh/shh/mh/bands/sizes/inter; its cand0/pairs
    // CTEs go unreferenced and are pruned.
    QueryDef("q107_band_recall_sweep", (s, d) => bandRecallSweep(s, d), Some(
      s"""WITH $PAIR_CTES,
         |exact AS (
         |  SELECT d1, d2 FROM inter
         |  JOIN sizes s1 ON s1.doc_id = d1
         |  JOIN sizes s2 ON s2.doc_id = d2
         |  WHERE round(n_common / (s1.n_sh + s2.n_sh - n_common), 6) >= 0.5),
         |mt AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, MIN(a.band) AS min_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (SELECT exact.d1, exact.d2, mt.min_b
         |      FROM exact LEFT JOIN mt USING (d1, d2)),
         |tot AS (SELECT COUNT(*) AS n_true FROM j),
         |ts AS (SELECT CAST(unnest(generate_series(1, 4)) AS BIGINT) AS n_bands)
         |SELECT n_bands, n_true,
         |  CAST(SUM(CASE WHEN j.min_b < ts.n_bands THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_found,
         |  (CAST(SUM(CASE WHEN j.min_b < ts.n_bands THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000) // n_true AS recall_micro
         |FROM ts CROSS JOIN tot CROSS JOIN j
         |GROUP BY n_bands, n_true ORDER BY n_bands""".stripMargin)),

    // q150: the SAMPLED band recall sweep — q107's 100 TB spelling,
    // oracle-checked at an EXPLICIT 1/8 sample so the sampled path
    // (the one a production corpus actually runs, where the full
    // ground truth is quadratic in shingle co-occurrence) has its own
    // exact DuckDB twin at every driver SF. The sample is stratified
    // by CONTENT FINGERPRINT (min shingle hash60 per doc — see
    // operators.Text.docSampleIds): an id-keyed sample loses sparse
    // near-dup PAIRS at 1/mod², collapsing the audit's denominator at
    // scale; fingerprint strata keep partners together.
    QueryDef("q150_band_recall_sampled",
      (s, d) => bandRecallSweep(s, d, 0.5, sampleMod = 8), Some {
      val sample =
        s"""sh_all AS (
           |  SELECT doc_id, unnest(list_distinct(list_transform(
           |    generate_series(1, len(w)-2),
           |    i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS sh
           |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
           |  WHERE len(w) >= 3),
           |fpt AS (SELECT doc_id, MIN(${h60("sh")}) AS fp
           |        FROM sh_all GROUP BY doc_id),
           |docs_s AS (
           |  SELECT d.doc_id, d.text FROM documents d JOIN fpt USING (doc_id)
           |  WHERE fpt.fp % 8 = 0)""".stripMargin
      s"""WITH $sample,
         |${BAND_CTES_OF("docs_s")},
         |$SIZES,
         |$INTER,
         |exact AS (
         |  SELECT d1, d2 FROM inter
         |  JOIN sizes s1 ON s1.doc_id = d1
         |  JOIN sizes s2 ON s2.doc_id = d2
         |  WHERE round(n_common / (s1.n_sh + s2.n_sh - n_common), 6) >= 0.5),
         |mt AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, MIN(a.band) AS min_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (SELECT exact.d1, exact.d2, mt.min_b
         |      FROM exact LEFT JOIN mt USING (d1, d2)),
         |tot AS (SELECT COUNT(*) AS n_true FROM j),
         |ts AS (SELECT CAST(unnest(generate_series(1, 4)) AS BIGINT) AS n_bands)
         |SELECT n_bands, n_true,
         |  CAST(SUM(CASE WHEN j.min_b < ts.n_bands THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_found,
         |  (CAST(SUM(CASE WHEN j.min_b < ts.n_bands THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000) // n_true AS recall_micro
         |FROM ts CROSS JOIN tot CROSS JOIN j
         |GROUP BY n_bands, n_true ORDER BY n_bands""".stripMargin
    }),

    // q113: vocabulary growth (Heaps' law) — terms charged to their
    // first content-hash slice; cumulative per prefix.
    QueryDef("q113_vocab_growth", (s, d) => vocabGrowth(s, d), Some(
      s"""WITH d AS (
         |  SELECT ${h60("text")} % 10 AS bk, string_split(text, ' ') AS w
         |  FROM documents),
         |terms AS (SELECT bk, unnest(list_distinct(w)) AS term FROM d),
         |firstb AS (SELECT term, MIN(bk) AS first_bk FROM terms GROUP BY term),
         |news AS (SELECT first_bk, COUNT(*) AS n_new FROM firstb GROUP BY first_bk),
         |tok AS (SELECT bk, CAST(SUM(len(w)) AS BIGINT) AS n_tokens FROM d GROUP BY bk),
         |bks AS (SELECT unnest(generate_series(0, 9)) AS bk)
         |SELECT bks.bk, tok.n_tokens,
         |  CAST(COALESCE(news.n_new, 0) AS BIGINT) AS n_new_terms,
         |  CAST(COALESCE((SELECT SUM(n_new) FROM news
         |                 WHERE first_bk <= bks.bk), 0) AS BIGINT) AS cum_terms
         |FROM bks
         |JOIN tok ON tok.bk = bks.bk
         |LEFT JOIN news ON news.first_bk = bks.bk
         |ORDER BY bks.bk""".stripMargin)),

    // q110: dedup threshold sensitivity — pair volume and docs touched
    // across a Jaccard threshold grid, all post-filters over the same
    // landed intersection stage.
    QueryDef("q110_threshold_sensitivity", (s, d) => thresholdSensitivity(s, d), Some(
      s"""WITH $SHINGLES,
         |$SIZES,
         |$INTER,
         |p AS (
         |  SELECT d1, d2, round(n_common / (s1.n_sh + s2.n_sh - n_common), 6) AS j
         |  FROM inter
         |  JOIN sizes s1 ON s1.doc_id = d1
         |  JOIN sizes s2 ON s2.doc_id = d2),
         |ts AS (SELECT unnest(CAST([0.5, 0.6, 0.7, 0.8] AS DOUBLE[])) AS threshold),
         |x AS (
         |  SELECT threshold, u.doc_id
         |  FROM ts JOIN p ON p.j >= ts.threshold, UNNEST([d1, d2]) AS u(doc_id))
         |SELECT threshold, COUNT(*) // 2 AS n_pairs,
         |  COUNT(DISTINCT doc_id) AS n_docs
         |FROM x GROUP BY threshold ORDER BY threshold""".stripMargin)),

    // q108: near-dup graph degree histogram over the verified pair
    // table — hub mass (template farms) vs chain mass (drift).
    QueryDef("q108_pair_degrees", (s, d) => pairDegreeHist(s, d), Some(
      s"""WITH $PAIR_CTES,
         |deg AS (
         |  SELECT doc_id, COUNT(*) AS degree FROM (
         |    SELECT d1 AS doc_id FROM pairs
         |    UNION ALL SELECT d2 FROM pairs)
         |  GROUP BY doc_id)
         |SELECT degree, COUNT(*) AS n_docs
         |FROM deg GROUP BY degree ORDER BY degree""".stripMargin)),

    // q103: cluster-aware leakage-safe split — every doc inherits its
    // q67 cluster representative's content-hash bucket, so near-dup
    // groups never straddle splits; n_moved counts the docs the naive
    // q79 split would have leaked.
    QueryDef("q103_cluster_split", (s, d) => clusterSplit(s, d), Some(
      s"""WITH RECURSIVE $CLUSTER_CTES,
         |labels AS (SELECT doc, MIN(lab) AS lab FROM r GROUP BY doc),
         |d AS (SELECT doc_id, ${h60("text")} % 100 AS nb,
         |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |      FROM documents),
         |g AS (SELECT d.doc_id, COALESCE(labels.lab, d.doc_id) AS gid, nb, n_tokens
         |      FROM d LEFT JOIN labels ON labels.doc = d.doc_id),
         |j AS (SELECT g.gid, g.nb, g.n_tokens, rep.nb AS rep_b
         |      FROM g JOIN d rep ON rep.doc_id = g.gid)
         |SELECT CASE WHEN rep_b < 90 THEN 'train' WHEN rep_b < 95 THEN 'val'
         |            ELSE 'test' END AS split,
         |  COUNT(DISTINCT gid) AS n_groups, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS tok_total,
         |  CAST(SUM(CASE WHEN
         |      (CASE WHEN nb < 90 THEN 'train' WHEN nb < 95 THEN 'val'
         |            ELSE 'test' END) !=
         |      (CASE WHEN rep_b < 90 THEN 'train' WHEN rep_b < 95 THEN 'val'
         |            ELSE 'test' END)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q80: per-source KL(source ‖ corpus) over the unigram distribution,
    // un-normalized micro-nat sum (the q61 integer-surprisal trick).
    // q86: content-defined chunking dedup accounting — word-boundary
    // rolling cut (hash(word) % 16 == 0 closes a chunk), chunk-hash
    // dedup + cross-doc recurrence per source.
    QueryDef("q86_cdc_chunks", (s, d) => cdcChunks(s, d), Some(
      s"""WITH pos AS (
         |  SELECT doc_id, source, pw.i AS i, pw.word AS word,
         |    CASE WHEN ${h60("pw.word")} % 16 = 0 THEN 1 ELSE 0 END AS bnd
         |  FROM (
         |    SELECT doc_id, source,
         |      unnest(list_transform(generate_series(1, len(w)),
         |        i -> {'i': i, 'word': w[i]})) AS pw
         |    FROM (SELECT doc_id, source, string_split(text, ' ') AS w
         |          FROM documents))),
         |c AS (
         |  SELECT doc_id, source, i, word,
         |    COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
         |  FROM pos),
         |ch AS (
         |  SELECT doc_id, source, chunk_id, COUNT(*) AS n_words,
         |    ${h60("string_agg(word, ' ' ORDER BY i)")} AS chunk_hash
         |  FROM c GROUP BY 1, 2, 3),
         |f AS (SELECT chunk_hash, COUNT(DISTINCT doc_id) AS n_docs_with
         |      FROM ch GROUP BY 1)
         |SELECT source, COUNT(*) AS n_chunks,
         |  COUNT(DISTINCT chunk_hash) AS n_distinct,
         |  (1000000 * CAST(SUM(n_words) AS BIGINT)) // COUNT(*)
         |    AS avg_words_micro,
         |  CAST(SUM(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_crossdoc
         |FROM ch JOIN f USING (chunk_hash)
         |GROUP BY source ORDER BY source""".stripMargin)),

    // q87: cross-source shingle-overlap matrix (syndication / mirror
    // detection) — distinct (source, shingle-hash) self-joined on the
    // hash, containment vs the smaller source.
    QueryDef("q87_source_overlap", (s, d) => sourceOverlap(s, d), Some(
      s"""WITH h AS (
         |  SELECT DISTINCT source, ${h60("sh")} AS h
         |  FROM (
         |    SELECT source, unnest(list_transform(
         |      generate_series(1, len(w)-2),
         |      i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS sh
         |    FROM (SELECT source, string_split(text, ' ') AS w FROM documents)
         |    WHERE len(w) >= 3)),
         |sizes AS (SELECT source, COUNT(*) AS n_sh FROM h GROUP BY source),
         |p AS (
         |  SELECT a.source AS s1, b.source AS s2, COUNT(*) AS n_shared
         |  FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT s1, s2, n_shared,
         |  (1000000 * n_shared) // least(x1.n_sh, x2.n_sh) AS containment_micro
         |FROM p JOIN sizes x1 ON x1.source = s1 JOIN sizes x2 ON x2.source = s2
         |ORDER BY s1, s2""".stripMargin)),

    // q90: count-min sketch — deterministic salted-hash rows, so the
    // oracle rebuilds the identical sketch; estimates are exact integers.
    QueryDef("q90_countmin", (s, d) => countMinSketch(s, d), Some(
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         |f AS (SELECT term, COUNT(*) AS cnt FROM t GROUP BY term),
         |e AS (SELECT term, cnt, j, ${h60("concat(term, '#', j)")} % ${operators.Text.CountMinWidth} AS bkt
         |      FROM f CROSS JOIN ${valuesOf(CountMin.Rows, "j")}),
         |sk AS (SELECT j, bkt, CAST(SUM(cnt) AS BIGINT) AS bsum
         |       FROM e GROUP BY 1, 2)
         |SELECT e.term, e.cnt, MIN(bsum) AS est,
         |  MIN(bsum) - e.cnt AS overcount
         |FROM e JOIN sk USING (j, bkt)
         |GROUP BY e.term, e.cnt
         |ORDER BY e.term""".stripMargin)),

    // q148: heavy hitters via count-min — the sketch-driven top-k
    // decision audited against the exact top-k: union of both sets,
    // each term's true rank and sketch rank (0 = outside), agreement
    // flag; the undersized w=16 sketch makes disagreements appear
    // deterministically in both engines.
    QueryDef("q148_heavy_hitters", (s, d) => heavyHitters(s, d), Some(
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         |f AS (SELECT term, COUNT(*) AS cnt FROM t GROUP BY term),
         |e AS (SELECT term, cnt, j, ${h60("concat(term, '#', j)")} % ${operators.Text.CountMinWidth} AS bkt
         |      FROM f CROSS JOIN ${valuesOf(CountMin.Rows, "j")}),
         |sk AS (SELECT j, bkt, CAST(SUM(cnt) AS BIGINT) AS bsum
         |       FROM e GROUP BY 1, 2),
         |est AS (SELECT e.term, e.cnt, MIN(bsum) AS est
         |        FROM e JOIN sk USING (j, bkt) GROUP BY e.term, e.cnt),
         |tt AS (SELECT term, true_rank FROM (
         |         SELECT term, CAST(row_number() OVER
         |           (ORDER BY cnt DESC, term) AS INT) AS true_rank
         |         FROM est) r WHERE true_rank <= ${CountMin.TopK}),
         |te AS (SELECT term, est_rank FROM (
         |         SELECT term, CAST(row_number() OVER
         |           (ORDER BY est DESC, term) AS INT) AS est_rank
         |         FROM est) r WHERE est_rank <= ${CountMin.TopK}),
         |keep AS (SELECT term FROM tt UNION SELECT term FROM te)
         |SELECT est.term, est.cnt, est.est,
         |  COALESCE(true_rank, 0) AS true_rank,
         |  COALESCE(est_rank, 0) AS est_rank,
         |  CAST(CASE WHEN true_rank IS NOT NULL AND est_rank IS NOT NULL
         |    THEN 1 ELSE 0 END AS INT) AS in_both
         |FROM est JOIN keep USING (term)
         |  LEFT JOIN tt USING (term) LEFT JOIN te USING (term)
         |ORDER BY est.term""".stripMargin)),

    // q139: count-min MERGEABILITY — per-source sketches merged by
    // cell-wise SUM must estimate exactly what the direct union
    // sketch estimates for EVERY vocabulary term (the linear twin of
    // q138's HLL max-merge; merge_equals_direct must be 1 per term).
    QueryDef("q139_countmin_merge", (s, d) => countMinMerge(s, d), Some(
      s"""WITH t AS (
         |  SELECT CASE WHEN source = 'src0' THEN 'src0' ELSE 'rest' END AS cls,
         |    unnest(string_split(text, ' ')) AS term FROM documents),
         |fc AS (SELECT cls, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
         |ec AS (SELECT cls, term, cnt, j,
         |    ${h60("concat(term, '#', j)")} % ${operators.Text.CountMinWidth} AS bkt
         |  FROM fc CROSS JOIN ${valuesOf(CountMin.Rows, "j")}),
         |skc AS (SELECT cls, j, bkt, CAST(SUM(cnt) AS BIGINT) AS bsum
         |        FROM ec GROUP BY 1, 2, 3),
         |mg AS (SELECT j, bkt, CAST(SUM(bsum) AS BIGINT) AS bsum_m
         |       FROM skc GROUP BY 1, 2),
         |f AS (SELECT term, SUM(cnt) AS cnt FROM fc GROUP BY 1),
         |e AS (SELECT term, cnt, j,
         |    ${h60("concat(term, '#', j)")} % ${operators.Text.CountMinWidth} AS bkt
         |  FROM f CROSS JOIN ${valuesOf(CountMin.Rows, "j")}),
         |skd AS (SELECT j, bkt, CAST(SUM(cnt) AS BIGINT) AS bsum_d
         |        FROM e GROUP BY 1, 2)
         |SELECT e.term, CAST(e.cnt AS BIGINT) AS cnt,
         |  CAST(MIN(bsum_m) AS BIGINT) AS est_merged,
         |  CAST(MIN(bsum_d) AS BIGINT) AS est_direct,
         |  CAST(CASE WHEN MIN(bsum_m) = MIN(bsum_d) THEN 1 ELSE 0 END AS INT)
         |    AS merge_equals_direct
         |FROM e JOIN mg USING (j, bkt) JOIN skd USING (j, bkt)
         |GROUP BY e.term, e.cnt
         |ORDER BY e.term""".stripMargin)),

    // q142: Bloom MERGEABILITY + totality — per-class bit sets merged
    // by position-wise OR equal the direct union build (zero symmetric
    // difference), every member probe passes (no false negatives), and
    // non-member FP verdicts are identical through merged and direct.
    QueryDef("q142_bloom_merge", (s, d) => bloomMerge(s, d), Some(
      s"""WITH d AS (SELECT source, md5(text) AS h FROM documents),
         |k AS (SELECT DISTINCT h FROM d),
         |mm AS (SELECT COUNT(*) * ${Bloom.BitsPerKey} AS m FROM k),
         |kc AS (SELECT DISTINCT
         |         CASE WHEN source = 'src0' THEN 'src0' ELSE 'rest' END AS cls,
         |         h FROM d),
         |merged AS (SELECT DISTINCT ${h60("concat(h, '#', i)")} % m AS pos
         |           FROM kc CROSS JOIN ${valuesOf(Bloom.K, "i")}
         |             CROSS JOIN mm),
         |direct AS (SELECT DISTINCT ${h60("concat(h, '#', i)")} % m AS pos
         |           FROM k CROSS JOIN ${valuesOf(Bloom.K, "i")}
         |             CROSS JOIN mm),
         |bs AS (SELECT
         |    (SELECT COUNT(*) FROM merged) AS n_bits_merged,
         |    (SELECT COUNT(*) FROM direct) AS n_bits_direct,
         |    (SELECT COUNT(*) FROM (
         |       (SELECT pos FROM merged EXCEPT SELECT pos FROM direct)
         |       UNION ALL
         |       (SELECT pos FROM direct EXCEPT SELECT pos FROM merged)) t)
         |      AS n_bits_diff),
         |pr AS (SELECT h AS key, 1 AS member FROM k
         |       UNION ALL
         |       SELECT concat('probe#', CAST(g AS VARCHAR)), 0
         |       FROM generate_series(0, 999) AS gs(g)),
         |vv AS (SELECT key, member,
         |         SUM(CASE WHEN pos IN (SELECT pos FROM merged)
         |             THEN 1 ELSE 0 END) AS nm,
         |         SUM(CASE WHEN pos IN (SELECT pos FROM direct)
         |             THEN 1 ELSE 0 END) AS nd
         |       FROM (SELECT key, member,
         |               ${h60("concat(key, '#', i)")} % m AS pos
         |             FROM pr CROSS JOIN ${valuesOf(Bloom.K, "i")}
         |               CROSS JOIN mm) p
         |       GROUP BY key, member)
         |SELECT member, COUNT(*) AS n_probes,
         |  CAST(SUM(CASE WHEN nm = ${Bloom.K} THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pass_merged,
         |  CAST(SUM(CASE WHEN nd = ${Bloom.K} THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pass_direct,
         |  CAST(SUM(CASE WHEN (nm = ${Bloom.K}) = (nd = ${Bloom.K}) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_verdicts_equal,
         |  (SELECT n_bits_merged FROM bs) AS n_bits_merged,
         |  (SELECT n_bits_direct FROM bs) AS n_bits_direct,
         |  CAST(CASE WHEN (SELECT n_bits_diff FROM bs) = 0
         |    THEN 1 ELSE 0 END AS INT) AS merge_equals_direct
         |FROM vv GROUP BY member ORDER BY member""".stripMargin)),

    // q91: Bloom pre-filter FP accounting — k=5 salted bits, bit space
    // = 8 per src0 key (load-factor-pinned → ~2% FP at any scale),
    // built over src0, probed by every other source's arrivals.
    QueryDef("q91_bloom_prefilter", (s, d) => bloomPrefilter(s, d), Some(
      s"""WITH d AS (SELECT doc_id, source, md5(text) AS h FROM documents),
         |mm AS (SELECT COUNT(*) * ${Bloom.BitsPerKey} AS m FROM d WHERE source = 'src0'),
         |pos AS (SELECT doc_id, source, h,
         |          ${h60("concat(h, '#', i)")} % m AS pos
         |        FROM d CROSS JOIN ${valuesOf(Bloom.K, "i")}
         |          CROSS JOIN mm),
         |bits AS (SELECT DISTINCT pos FROM pos WHERE source = 'src0'),
         |ch AS (SELECT DISTINCT h FROM d WHERE source = 'src0'),
         |np AS (SELECT doc_id, COUNT(*) AS n_bits_set
         |       FROM pos JOIN bits USING (pos) WHERE source <> 'src0'
         |       GROUP BY 1)
         |SELECT d.source, COUNT(*) AS n_new,
         |  CAST(SUM(CASE WHEN n_bits_set = ${Bloom.K} THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pass,
         |  CAST(SUM(CASE WHEN d.h IN (SELECT h FROM ch) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dup,
         |  CAST(SUM(CASE WHEN n_bits_set = ${Bloom.K} THEN 1 ELSE 0 END) AS BIGINT) -
         |  CAST(SUM(CASE WHEN d.h IN (SELECT h FROM ch) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_false_pos
         |FROM d LEFT JOIN np ON np.doc_id = d.doc_id
         |WHERE d.source <> 'src0'
         |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // q134: HyperLogLog distinct audit — the q90/q91 determinism
    // discipline on the third classic sketch: trailing-zero rank via
    // lowest-set-bit (exact integer arithmetic; round(log2) of an
    // exact power of two absorbs libm ulps), ranks capped at 24 so the
    // harmonic sum is a BIGINT (float sums are order-dependent across
    // engines), estimate = one exact integer division.
    QueryDef("q134_hll_distinct", (s, d) => hllDistinct(s, d), Some(
      s"""WITH it AS (
         |  SELECT 'token' AS domain, lang,
         |    unnest(string_split(text, ' ')) AS item FROM documents
         |  UNION ALL
         |  SELECT 'shingle' AS domain, lang,
         |    unnest(list_distinct(list_transform(
         |      generate_series(1, len(w)-2),
         |      i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS item
         |  FROM (SELECT lang, string_split(text, ' ') AS w FROM documents)),
         |h AS (SELECT domain, lang, ${h60("item")} AS h FROM it),
         |regs AS (
         |  SELECT domain, lang, h % ${Hll.M} AS bucket,
         |    MAX(CASE WHEN (h // ${Hll.M}) = 0 THEN ${Hll.Cap}
         |      ELSE LEAST(CAST(round(log2((h // ${Hll.M}) & (-(h // ${Hll.M})))) AS INT)
         |        + 1, ${Hll.Cap}) END) AS r
         |  FROM h GROUP BY 1, 2, 3),
         |summ AS (
         |  SELECT domain, lang,
         |    SUM(CAST(1 AS BIGINT) << (${Hll.Cap} - r)) +
         |      (${Hll.M} - COUNT(*)) * (CAST(1 AS BIGINT) << ${Hll.Cap}) AS s_total,
         |    CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |    CAST(MAX(r) AS INT) AS max_rho
         |  FROM regs GROUP BY 1, 2),
         |est AS (
         |  SELECT domain, lang, n_buckets, max_rho,
         |    ${Hll.Numerator} // (1000000 * s_total) AS raw,
         |    ${Hll.M} - n_buckets AS zeros
         |  FROM summ),
         |fin AS (
         |  SELECT domain, lang, n_buckets, max_rho,
         |    CASE WHEN zeros > 0 AND raw <= ${5 * Hll.M / 2}
         |      THEN (${Hll.M} * CAST(round(ln(${Hll.M}.0 / zeros) * 1000000) AS BIGINT))
         |        // 1000000
         |      ELSE raw END AS n_hll
         |  FROM est),
         |ex AS (SELECT domain, lang, COUNT(DISTINCT item) AS n_exact FROM it
         |       GROUP BY 1, 2)
         |SELECT ex.domain, ex.lang, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(n_hll AS BIGINT) AS n_hll,
         |  CAST(abs(n_hll - n_exact) * 1000000 // n_exact AS BIGINT)
         |    AS abs_err_ppm,
         |  n_buckets, max_rho
         |FROM ex JOIN fin USING (domain, lang)
         |ORDER BY ex.domain, ex.lang""".stripMargin)),

    // q138: HLL MERGEABILITY — per-source register tables merged by
    // bucket-max must estimate exactly what the direct union sketch
    // estimates (the distributed-reduce property; merge_equals_direct
    // must be 1 for every lang in BOTH engines).
    QueryDef("q138_hll_merge", (s, d) => hllMerge(s, d), Some(
      s"""WITH it AS (
         |  SELECT lang,
         |    CASE WHEN source = 'src0' THEN 'src0' ELSE 'rest' END AS cls,
         |    unnest(list_distinct(list_transform(
         |      generate_series(1, len(w)-2),
         |      i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS item
         |  FROM (SELECT lang, source, string_split(text, ' ') AS w
         |        FROM documents)
         |  WHERE len(w) >= 3),
         |h AS (SELECT lang, cls, ${h60("item")} AS h FROM it),
         |rho AS (
         |  SELECT lang, cls, h % ${Hll.M} AS bucket,
         |    CASE WHEN (h // ${Hll.M}) = 0 THEN ${Hll.Cap}
         |      ELSE LEAST(CAST(round(log2((h // ${Hll.M}) & (-(h // ${Hll.M})))) AS INT)
         |        + 1, ${Hll.Cap}) END AS r0
         |  FROM h),
         |pc AS (SELECT lang, cls, bucket, MAX(r0) AS r FROM rho
         |       GROUP BY 1, 2, 3),
         |cls_est AS (
         |  SELECT lang, cls,
         |    CASE WHEN (${Hll.M} - nb) > 0 AND raw <= ${5 * Hll.M / 2}
         |      THEN (${Hll.M} * CAST(round(ln(${Hll.M}.0 / (${Hll.M} - nb)) * 1000000) AS BIGINT))
         |        // 1000000
         |      ELSE raw END AS n_hll
         |  FROM (
         |    SELECT lang, cls, COUNT(*) AS nb,
         |      ${Hll.Numerator} // (1000000 *
         |        (SUM(CAST(1 AS BIGINT) << (${Hll.Cap} - r)) +
         |         (${Hll.M} - COUNT(*)) * (CAST(1 AS BIGINT) << ${Hll.Cap}))) AS raw
         |    FROM pc GROUP BY 1, 2)),
         |mg AS (SELECT lang, bucket, MAX(r) AS r FROM pc GROUP BY 1, 2),
         |mg_est AS (
         |  SELECT lang,
         |    CASE WHEN (${Hll.M} - nb) > 0 AND raw <= ${5 * Hll.M / 2}
         |      THEN (${Hll.M} * CAST(round(ln(${Hll.M}.0 / (${Hll.M} - nb)) * 1000000) AS BIGINT))
         |        // 1000000
         |      ELSE raw END AS n_hll_merged
         |  FROM (
         |    SELECT lang, COUNT(*) AS nb,
         |      ${Hll.Numerator} // (1000000 *
         |        (SUM(CAST(1 AS BIGINT) << (${Hll.Cap} - r)) +
         |         (${Hll.M} - COUNT(*)) * (CAST(1 AS BIGINT) << ${Hll.Cap}))) AS raw
         |    FROM mg GROUP BY 1)),
         |dregs AS (SELECT lang, bucket, MAX(r0) AS r FROM rho
         |          GROUP BY 1, 2),
         |dr_est AS (
         |  SELECT lang,
         |    CASE WHEN (${Hll.M} - nb) > 0 AND raw <= ${5 * Hll.M / 2}
         |      THEN (${Hll.M} * CAST(round(ln(${Hll.M}.0 / (${Hll.M} - nb)) * 1000000) AS BIGINT))
         |        // 1000000
         |      ELSE raw END AS n_hll_direct
         |  FROM (
         |    SELECT lang, COUNT(*) AS nb,
         |      ${Hll.Numerator} // (1000000 *
         |        (SUM(CAST(1 AS BIGINT) << (${Hll.Cap} - r)) +
         |         (${Hll.M} - COUNT(*)) * (CAST(1 AS BIGINT) << ${Hll.Cap}))) AS raw
         |    FROM dregs GROUP BY 1)),
         |ex AS (SELECT lang, COUNT(DISTINCT item) AS n_exact_union FROM it
         |       GROUP BY 1)
         |SELECT ex.lang,
         |  CAST(MAX(CASE WHEN cls = 'src0' THEN n_hll END) AS BIGINT)
         |    AS n_hll_src0,
         |  CAST(MAX(CASE WHEN cls = 'rest' THEN n_hll END) AS BIGINT)
         |    AS n_hll_rest,
         |  CAST(MAX(n_hll_merged) AS BIGINT) AS n_hll_merged,
         |  CAST(MAX(n_hll_direct) AS BIGINT) AS n_hll_direct,
         |  CAST(MAX(n_exact_union) AS BIGINT) AS n_exact_union,
         |  CAST(MAX(CASE WHEN n_hll_merged = n_hll_direct THEN 1 ELSE 0 END)
         |    AS INT) AS merge_equals_direct
         |FROM ex
         |  JOIN cls_est USING (lang)
         |  JOIN mg_est USING (lang)
         |  JOIN dr_est USING (lang)
         |GROUP BY ex.lang
         |ORDER BY ex.lang""".stripMargin)),

    QueryDef("q80_source_kl", (s, d) => sourceKl(s, d), Some(
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |st AS (SELECT source, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
        |stot AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |           COUNT(*) AS n_terms FROM st GROUP BY source),
        |ct AS (SELECT term, COUNT(*) AS ccnt FROM t GROUP BY term),
        |ctot AS (SELECT COUNT(*) AS ctotal FROM t)
        |SELECT source, MAX(n_terms) AS n_terms, MAX(n_tokens) AS n_tokens,
        |  CAST(SUM(cnt * (
        |    CAST(round(-ln(ccnt / ctotal) * 1000000) AS BIGINT) -
        |    CAST(round(-ln(cnt / n_tokens) * 1000000) AS BIGINT))) AS BIGINT)
        |    AS kl_sum_micro
        |FROM st JOIN stot USING (source) JOIN ct USING (term) CROSS JOIN ctot
        |GROUP BY source ORDER BY source""".stripMargin)),

    // q99: cluster-size distribution over the q67 labels — the dedup
    // report's headline histogram; heavy tail = boilerplate mass.
    QueryDef("q99_cluster_sizes", (s, d) => clusterSizeDist(s, d), Some(
      s"""WITH RECURSIVE $CLUSTER_CTES,
         |labels AS (SELECT doc, MIN(lab) AS lab FROM r GROUP BY doc),
         |csz AS (SELECT lab, COUNT(*) AS k FROM labels GROUP BY lab)
         |SELECT k, COUNT(*) AS n_clusters,
         |  CAST(k * COUNT(*) AS BIGINT) AS n_docs
         |FROM csz GROUP BY k ORDER BY k""".stripMargin)),

    // q95: deny-list lexicon scrub with audit accounting; the checksum
    // is an order-independent modular sum of per-doc hash60 values over
    // the REDACTED text, so both engines prove byte-identical output.
    QueryDef("q95_lexicon_scrub", (s, d) => lexiconScrub(s, d), Some {
      val inSet = operators.Text.sqlInSet(operators.Text.ScrubLexicon)
      s"""WITH r AS (
         |  SELECT source,
         |    len(list_filter(string_split(text, ' '), w -> w IN $inSet)) AS n_hit,
         |    array_to_string(list_transform(string_split(text, ' '),
         |      w -> CASE WHEN w IN $inSet THEN '[REDACTED]' ELSE w END), ' ') AS red
         |  FROM documents)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_touched,
         |  CAST(SUM(n_hit) AS BIGINT) AS n_redacted,
         |  CAST(SUM(${h60("red")} % 1000000000) AS BIGINT) AS checksum
         |FROM r GROUP BY source ORDER BY source""".stripMargin
    }),

    // q116/q117: exact substring-level dedup over fixed-stride 60-char
    // spans (the verbatim-reuse complement to word-shingle MinHash).
    // The CTE mirrors operators.Text.docSpans bit-for-bit.
    QueryDef("q116_repeated_spans", (s, d) => repeatedSpans(s, d), Some(
      s"""WITH $SPANS,
         |rep AS (SELECT h FROM spans GROUP BY h
         |        HAVING COUNT(DISTINCT doc_id) >= 2)
         |SELECT source,
         |  COUNT(DISTINCT doc_id) AS n_docs_hit,
         |  COUNT(DISTINCT spans.h) AS n_rep_hashes,
         |  COUNT(*) AS n_rep_spans
         |FROM spans JOIN rep ON spans.h = rep.h
         |GROUP BY source ORDER BY source""".stripMargin)),

    QueryDef("q117_span_dedup_card", (s, d) => spanDedupCard(s, d), Some(
      s"""WITH $SPANS,
         |per AS (SELECT h, COUNT(*) AS occ, COUNT(DISTINCT doc_id) AS nd
         |        FROM spans GROUP BY h)
         |SELECT COUNT(*) AS n_span_hashes,
         |  CAST(SUM(occ) AS BIGINT) AS n_spans,
         |  CAST(SUM(occ - 1) AS BIGINT) AS dup_occurrences,
         |  CAST(SUM(occ - 1) * 60 AS BIGINT) AS est_dup_chars,
         |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_cross_doc_hashes
         |FROM per""".stripMargin)),

    // q122: span-level eval decontamination — the batch anchor of the
    // streaming contamination audit, third consumer of the span stage.
    QueryDef("q122_span_decontaminate", (s, d) => spanDecontaminate(s, d), Some(
      s"""WITH $SPANS,
         |ev AS (SELECT DISTINCT h, 1 AS hit FROM spans WHERE doc_id % 97 = 0),
         |tr AS (SELECT spans.*, ev.hit FROM spans LEFT JOIN ev USING (h)
         |       WHERE doc_id % 97 != 0)
         |SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
         |  COUNT(*) AS n_spans,
         |  CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_hit_spans,
         |  COUNT(DISTINCT CASE WHEN hit = 1 THEN doc_id END)
         |    AS n_contaminated_docs
         |FROM tr GROUP BY source ORDER BY source""".stripMargin)),

    // q118: integer PageRank over the verified near-dup pair graph —
    // five unrolled rounds, exact micro-unit math (floor division on
    // non-negative operands: Spark `div` == DuckDB `//`), mirroring
    // Graph.pageRank's schedule round for round.
    QueryDef("q118_neardup_pagerank", (s, d) => neardupPageRank(s, d), Some {
      val rounds = (1 to 5).map { i =>
        s"""r$i AS (
           |  SELECT deg.node,
           |    CAST(150000 + 850000 * COALESCE(s$i.sc, 0) // 1000000 AS BIGINT) AS pr
           |  FROM deg LEFT JOIN (
           |    SELECT e.dst, SUM(p.pr // deg.deg) AS sc
           |    FROM r${i - 1} p JOIN deg ON deg.node = p.node
           |    JOIN und e ON e.src = p.node
           |    GROUP BY e.dst) s$i ON s$i.dst = deg.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $PAIR_CTES,
         |und AS (SELECT d1 AS src, d2 AS dst FROM pairs
         |        UNION ALL SELECT d2, d1 FROM pairs),
         |deg AS (SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY src),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM deg),
         |$rounds
         |SELECT r5.node AS doc_id, r5.pr AS pr_micro, deg.deg
         |FROM r5 JOIN deg ON deg.node = r5.node
         |ORDER BY doc_id""".stripMargin
    }),

    // q119: disjunctive BM25 top-5 retrieval for the fixed query set —
    // the retrieval half of q64's index, probing the shared posting
    // chain.
    QueryDef("q119_bm25_retrieval", (s, d) => bm25Retrieval(s, d), Some {
      val qvals = operators.Text.RetrievalQueries
        .flatMap { case (id, ts) => ts.map(t => s"(CAST($id AS BIGINT), '$t')") }
        .mkString(", ")
      s"""WITH $BM25_CTES,
         |q(query_id, term) AS (VALUES $qvals),
         |hits AS (
         |  SELECT q.query_id, s.doc_id,
         |    CAST(SUM(s.bm25_micro) AS BIGINT) AS score_micro,
         |    COUNT(*) AS n_terms_hit
         |  FROM s JOIN q USING (term)
         |  GROUP BY q.query_id, s.doc_id),
         |r AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rnk
         |  FROM hits)
         |SELECT query_id, rnk, doc_id, score_micro, n_terms_hit
         |FROM r WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin
    }),

    // q121: the q119 probe with duplicate collapsing — only near-dup
    // cluster canonicals rank; each result reports the variants it
    // suppressed. Combines the shared BM25 posting chain with the q67
    // cluster reachability CTEs.
    QueryDef("q121_bm25_canonical", (s, d) => bm25CanonicalRetrieval(s, d), Some {
      val qvals = operators.Text.RetrievalQueries
        .flatMap { case (id, ts) => ts.map(t => s"(CAST($id AS BIGINT), '$t')") }
        .mkString(", ")
      s"""WITH RECURSIVE $BM25_CTES,
         |$CLUSTER_CTES,
         |labels AS (SELECT doc, MIN(lab) AS lab FROM r GROUP BY doc),
         |csz AS (SELECT lab, COUNT(*) AS csz FROM labels GROUP BY lab),
         |q(query_id, term) AS (VALUES $qvals),
         |hits AS (
         |  SELECT q.query_id, s.doc_id,
         |    CAST(SUM(s.bm25_micro) AS BIGINT) AS score_micro
         |  FROM s JOIN q USING (term)
         |  GROUP BY q.query_id, s.doc_id),
         |elig AS (
         |  SELECT h.query_id, h.doc_id, h.score_micro,
         |    CASE WHEN l.doc IS NULL THEN 0 ELSE csz.csz - 1 END
         |      AS n_dups_suppressed
         |  FROM hits h
         |  LEFT JOIN labels l ON l.doc = h.doc_id
         |  LEFT JOIN csz ON csz.lab = l.lab
         |  WHERE l.doc IS NULL OR l.doc = l.lab),
         |rk AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rnk
         |  FROM elig)
         |SELECT query_id, rnk, doc_id, score_micro, n_dups_suppressed
         |FROM rk WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin
    })
  )
}
