package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import graft.operators.{Banding, Text}

/** The batch text-pipeline operators (operators.Text, q38/q39/q33/q37
  * family) composed as ONE streaming ingest pipeline — the shape a
  * continuously-arriving 100 TB corpus actually runs: parse → quality
  * gate → exact dedup bounded by the watermark → content fingerprint,
  * all inside a single micro-batch plan (no per-stage materialization).
  *
  * State story at scale: the only stateful operator is
  * `dropDuplicatesWithinWatermark` keyed by the 16-byte content hash, so
  * state is O(docs inside the watermark horizon), not O(corpus); the
  * quality gate runs BEFORE dedup so junk never enters the state store;
  * the fingerprint is the codegen'd one-pass `min_gram_hash60`.
  */
object TextStreams {

  /** `df` must carry (doc_id, text, eventTime). Thresholds mirror the
    * oracle-checked batch quality filter (q39: 15 ≤ words ≤ 90,
    * stopword ratio ≤ 0.12); the deny-list scrub mirrors batch q95 and
    * runs BEFORE dedup, so the content hash keys on the text a consumer
    * would actually receive — two docs differing only in redacted
    * terms ARE duplicates post-scrub, and junk never enters the state
    * store un-scrubbed.
    */
  def ingestPipeline(df: DataFrame, delay: String = "10 seconds"): DataFrame = {
    val inSet = Text.sqlInSet(Text.ScrubLexicon)
    val scored = df
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_words", size(col("w")))
      .withColumn("n_stop", size(expr("filter(w, x -> x IN ('the', 'a'))")))
      .filter(col("n_words") >= 15 && col("n_words") <= 90 &&
        round(col("n_stop") / col("n_words"), 6) <= 0.12)
      .withColumn("n_redacted",
        expr(s"size(filter(w, x -> x IN $inSet))").cast("long"))
      .withColumn("red", expr(
        s"array_join(transform(w, x -> CASE WHEN x IN $inSet" +
          " THEN '[REDACTED]' ELSE x END), ' ')"))
      .withColumn("h", md5(col("red").cast("binary")))
    scored
      .withWatermark("eventTime", delay)
      .dropDuplicatesWithinWatermark("h")
      .select(col("doc_id"), col("eventTime"), col("n_words").cast("long").as("n_words"),
        col("n_redacted"),
        call_function("min_gram_hash60", col("red")).as("fingerprint"))
  }

  /** One per-(arrival, band) ownership verdict: `ownerDoc == docId`
    * means the arrival owns the bucket (first arrival inside the TTL
    * horizon); otherwise it collides with the earlier `ownerDoc`.
    */
  final case class BandVerdict(docId: Long, band: Int, ownerDoc: Long)

  /** Per-(band, sig) first-arrival owner. Within a micro-batch rows are
    * processed in doc_id order, so the owner (and every emitted verdict)
    * is deterministic regardless of partition arrival order.
    *
    * Emits every NON-OWNER verdict (the rows that can flip an admit
    * decision) plus one presence row per doc: its band-0 verdict (every
    * banded doc has a band 0) or its doc-unique short key (band −1).
    * Presence keeps per-batch doc accounting (distinct docId) total;
    * [[admittedOf]] reads only whether some row shows an earlier owner,
    * so owner rows on bands > 0 — ~3/4 of the emission at 4 bands — are
    * never emitted.
    */
  class BandOwnerProcessor(ttl: TTLConfig)
      extends StatefulProcessor[String, (String, Int, Long), BandVerdict] {
    @transient private var owner: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      owner = getHandle.getValueState("owner", Encoders.scalaLong, ttl)

    override def handleInputRows(sig: String, rows: Iterator[(String, Int, Long)],
        timerValues: TimerValues): Iterator[BandVerdict] = {
      val sorted = rows.toSeq.sortBy { case (_, _, doc) => doc }
      var own = if (owner.exists()) owner.get() else -1L
      val out = Seq.newBuilder[BandVerdict]
      sorted.foreach { case (_, band, doc) =>
        if (own < 0L) { own = doc; owner.update(doc) }
        if (band <= 0 || doc != own) out += BandVerdict(doc, band, own)
      }
      out.result().iterator
    }
  }

  /** The keyed stateful tail both near-dup surfaces share: `banded`
    * carries `doc_id` and one exploded `b` = (band, sig) struct per row;
    * each (band, sig) bucket is one `transformWithState` key holding its
    * first-arrival owner.
    */
  private def bandOwners(spark: SparkSession, banded: DataFrame,
      ttl: TTLConfig): Dataset[BandVerdict] = {
    import spark.implicits._
    banded
      .select(col("b.sig").as("sig"), col("b.band").as("band"), col("doc_id"))
      .as[(String, Int, Long)]
      // state key is the (band, sig) PAIR — the batch bucket definition
      // (arrivalDedup windows on (band, sig); the gate anti-joins per
      // band). Keying by sig alone would let a cross-band signature
      // equality (~2^-60/pair, but nonzero) emit a collision the batch
      // rule does not; the stream == batch drop-set claim is exact only
      // under the pair key.
      .groupByKey { case (sig, band, _) => s"$band|$sig" }
      // a TTL'd state store needs the processing-time clock; without a
      // TTL the operator is clock-free
      .transformWithState(new BandOwnerProcessor(ttl),
        if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** Intra-STREAM near-dup collision feed — the stateful complement of
    * [[IndexCompaction.gate]]: the gate drops arrivals that collide
    * with a LANDED corpus, this detects arrivals that collide with EARLIER ARRIVALS
    * (neither in any landed index yet — the first hours of a crawl, or
    * the window between index compactions). Same 8-hash 4×2 banding as
    * batch q35: each doc's 4 band signatures are computed as per-row
    * array expressions (no streaming aggregation), then keyed by
    * signature through one `transformWithState` holding the bucket's
    * first-arrival owner — O(distinct band signatures in the horizon)
    * state, 8 bytes each, never the text.
    *
    * Emits one append-only collision row per (doc, colliding band): the
    * [[streamingNearDupAdmit]] verdicts with `ownerDoc != docId`.
    * Consumers drop `distinct docId` (a quarantine feed, like
    * [[spanContaminationAudit]] — emission, not in-stream filtering,
    * keeps the plan to ONE stateful operator). A doc_id RE-ARRIVING in a
    * later batch re-emits any collisions its bands still have — the feed
    * is per-arrival, not per-doc-lifetime, so distinct-by-docId is part
    * of the consumer contract; a re-arrival whose buckets it already
    * owns emits nothing (owner == self). When arrival order is
    * doc_id order, the dropped set equals the batch rule "∃ an earlier
    * doc sharing ≥1 band signature" — the same set batch LSH dedup
    * (canonical = min doc_id) drops; spec-pinned against the batch band
    * index.
    *
    * `ttl` bounds the ownership horizon (processing-time TTL, the
    * state-store contract): a production pipeline sets it to its
    * compaction interval — once [[IndexCompaction.compact]] folds the
    * landed docs into the gate index, [[IndexCompaction.gate]] owns their
    * buckets and stream state can forget (drop-set equality across
    * that handoff is pinned in CompactionSpec and measured in
    * StreamBench's lsh_compaction stage); TTLConfig.NONE keeps owners
    * forever (dev/test). Docs under 3 words carry no
    * bands and never collide, exactly like the batch pipeline.
    *
    * A TTL'd instance runs on the processing-time clock, under which the
    * engine keeps triggering (empty) batches to advance time — so
    * `processAllAvailable()` never observes an idle stream, and even
    * `Trigger.AvailableNow` keeps re-triggering (observed: >120 s on a
    * one-row batch). Drive TTL'd runs with a fixed `ProcessingTime`
    * trigger (production) or one-batch `Trigger.Once` runs
    * (drain-and-stop; spec-pinned), never `processAllAvailable`.
    */
  def streamingLshCollisions(spark: SparkSession, stream: DataFrame,
      ttl: TTLConfig = TTLConfig.NONE,
      banding: Banding = Banding.Default): Dataset[BandVerdict] = {
    val banded = stream
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 3)
      // plain hs, NO Generate barrier on the shingle pipeline: this
      // unconditional path keeps the (single) bank reference CSE'd;
      // the BANK itself rides its own 1:1 barrier so the band structs
      // are pure element extraction (see Text.minHashBankOnce)
      .withColumn("hs", Text.shingleHashes)
      .withColumn("mhb", Text.minHashBankOnce(banding))
      .select(col("doc_id"), explode(Text.bandArray(banding)).as("b"))
    bandOwners(spark, banded, ttl).filter(col("ownerDoc") =!= col("docId"))
  }

  /** The ADMITTED-stream side of intra-stream near-dup: per arrival, the
    * [[BandOwnerProcessor]] verdicts, from which [[admittedOf]] reduces
    * the batch-q123 KEEP set — admit iff the doc owns EVERY one of its
    * buckets. [[streamingLshCollisions]] is the quarantine feed (its
    * non-owner rows); this adds each doc's presence row for pipelines
    * that want the deduped stream itself, at the same cost: identical
    * banding, identical single `transformWithState`, identical
    * O(distinct signatures in the horizon) state.
    *
    * Docs under 3 words carry no band signatures and are NEVER dropped
    * by the batch rule; silence would read as a missing verdict, so
    * each short doc flows through the SAME operator under a
    * doc-unique key (`band = -1`) it trivially owns — one TTL'd state
    * row, the price of per-doc presence. The per-doc admit decision is
    * complete WITHIN each micro-batch (an arrival's verdicts are
    * produced by the batch that processed it), so [[admittedOf]] runs
    * inside `foreachBatch` with no second stateful operator.
    *
    * Same TTL/trigger contract as [[streamingLshCollisions]]: TTL'd
    * instances run on the processing-time clock — drive with a fixed
    * ProcessingTime trigger or Trigger.Once, never
    * `processAllAvailable`.
    */
  def streamingNearDupAdmit(spark: SparkSession, stream: DataFrame,
      ttl: TTLConfig = TTLConfig.NONE,
      banding: Banding = Banding.Default): Dataset[BandVerdict] = {
    val banded = stream
      .withColumn("w", split(col("text"), " "))
      .withColumn("hs", Text.shingleHashesOnce)
      // the bank behind its own barrier: the conditional band array
      // below defeats codegen subexpression elimination (the r13
      // admit finding), so an inline bank would re-evaluate once PER
      // BAND — measured 2,300 vs 4,912 rows/s on the 500k-doc drain
      .withColumn("mhb", Text.minHashBankOnce(banding))
      .withColumn("bs",
        when(size(col("w")) >= 3, Text.bandArray(banding))
          .otherwise(array(struct(lit(-1).as("band"),
            concat(lit("short|"), col("doc_id")).as("sig")))))
      .select(col("doc_id"), explode(col("bs")).as("b"))
    bandOwners(spark, banded, ttl)
  }

  /** Reduce one micro-batch of [[streamingNearDupAdmit]] verdicts to
    * the admitted doc_ids (batch-q123 keep set): admit iff no band
    * resolved to an earlier owner. Runs on the `foreachBatch`
    * DataFrame — valid because every verdict of an arrival lands in
    * the arrival's own micro-batch.
    */
  def admittedOf(verdicts: DataFrame): DataFrame =
    verdicts.groupBy(col("docId"))
      .agg(max(when(col("ownerDoc") =!= col("docId"), 1)
        .otherwise(0)).as("__hit"))
      .filter(col("__hit") === 0)
      .select(col("docId").as("doc_id"))

  /** Span-level contamination AUDIT stream — the streaming twin of batch
    * q116 for an ARRIVING corpus: per incoming doc, how many of its
    * fixed-stride 60-char spans (operators.Text.docSpans geometry) are
    * verbatim-present in a static corpus span index. Unlike
    * [[IndexCompaction.gate]] (stateless drop), this emits per-doc
    * accounting — the shape a quarantine/review queue consumes — so it carries ONE
    * watermark-bounded streaming aggregation keyed by (doc, eventTime):
    * state is O(docs inside the horizon), never O(corpus); finalized
    * rows append on watermark passage.
    *
    * The static span index lands once at gate construction (the
    * [[IndexCompaction.gate]] contract — a stream-static join
    * re-evaluates its static plan every micro-batch otherwise); the
    * stream side is
    * per-row span hashing → explode → one stream-static LEFT join on
    * the 8-byte hash. No stream-stream join anywhere.
    */
  def spanContaminationAudit(stream: DataFrame, corpus: DataFrame,
      delay: String = "10 seconds"): DataFrame = {
    val corpusSpans = corpus
      .select(explode(Text.spanHashesExpr("text")).as("h")).distinct()
      .withColumn("hit", lit(1L))
      .localCheckpoint(true)
    stream
      .select(col("doc_id"), col("eventTime"),
        explode_outer(Text.spanHashesExpr("text")).as("h"))
      .join(corpusSpans, Seq("h"), "left")
      .withWatermark("eventTime", delay)
      .groupBy(col("doc_id"), col("eventTime"))
      .agg(count(col("h")).as("n_spans"),
        coalesce(sum(col("hit")), lit(0L)).as("n_contaminated"))
  }

  /** LIVE dataset card — the streaming twin of batch q101's volume +
    * diversity block, maintained incrementally over an ARRIVING corpus:
    * every trigger updates one card row (docs, tokens, chars, approx
    * distinct langs/sources/texts). The batch card's duplication block
    * (verified near-dup pairs) stays batch-side — it needs the landed
    * LSH stage graph; the card a live ingest dashboard needs is volume
    * and diversity, fresh per batch.
    *
    * Spark-first state story: sums/counts are trivially mergeable
    * streaming aggregation state, and every `countDistinct` of the batch
    * card becomes `approx_count_distinct` — the HLL sketch is the ONLY
    * distinct-count whose state is bounded (a few KB) regardless of
    * corpus size; exact distinct state would grow with the vocabulary of
    * the key and is exactly what a 100 TB standing query must not hold.
    * Every `_approx` field carries the sketch's ~5% relative error
    * (observed: 19 for 20 sources at the default rsd) — the spec pins
    * the tolerance against the exact batch card.
    * Update output mode; `stream` needs (text, lang, source, n_chars).
    */
  def liveDatasetCard(stream: DataFrame): DataFrame =
    stream.agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " "))).cast("long").as("n_tokens"),
      sum(col("n_chars")).cast("long").as("n_chars"),
      approx_count_distinct(col("lang")).as("n_langs_approx"),
      approx_count_distinct(col("source")).as("n_sources_approx"),
      // clamped at 0: the HLL sketch can OVERestimate, and a dup-free
      // corpus must not show a negative dup count on a live dashboard
      greatest(lit(0L),
        count(lit(1)) - approx_count_distinct(md5(col("text").cast("binary"))))
        .as("n_exact_dup_docs_approx"))

  /** Frozen retrieval model for [[standingRetrieval]]: per query term,
    * the corpus idf plus the corpus-level BM25 constants. Tiny by
    * construction (one row per registered query term), collected once at
    * operator construction — the broadcast-codebook contract.
    */
  private[graft] final case class FrozenTerm(
      queryId: Long, term: String, idfMicro: Long, total: Long, ndocs: Long)

  /** One emitted top-k row of a standing query. */
  final case class RetrievalUpdate(
      query_id: Long, rnk: Long, doc_id: Long, score_micro: Long)

  /** Build the frozen model from the corpus at `dir`: df per registered
    * query term out of the landed tf stage, idf in micro-nats — the
    * exact integer spelling of batch q64/q119 scoring.
    */
  private[graft] def frozenModel(spark: SparkSession, dir: String): Seq[FrozenTerm] = {
    val tf = Text.tfStage(spark, dir).select(col("term"), col("doc_id"), col("cnt"))
    val ndocs = graft.sources.Tables.documents(spark, dir).count()
    val total = tf.agg(sum(col("cnt"))).head().getLong(0)
    val terms = Text.RetrievalQueries.flatMap(_._2).distinct
    val dfs = tf.filter(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((qid, ts) <- Text.RetrievalQueries; t <- ts; df <- dfs.get(t))
      yield FrozenTerm(qid, t,
        math.round(math.log(ndocs.toDouble / df) * 1e6), total, ndocs)
  }

  /** Per-row BM25 of arriving docs against the frozen model — shared by
    * the streaming standing query and its batch twin in the spec. No
    * explode, no shuffle: tf of each registered term is a per-row array
    * count, the score is the q64 integer formula. A doc becomes a
    * candidate iff it contains ≥1 query term — the SAME membership rule
    * as batch q119's posting-list probe (which keeps a zero-score hit
    * when every matched term has idf 0), so the standing top-k can never
    * diverge from the batch twin on that edge.
    */
  private[graft] def scoreAgainstFrozen(docs: DataFrame,
      model: Seq[FrozenTerm]): DataFrame = {
    val perQuery = model.groupBy(_.queryId).toSeq.sortBy(_._1).map {
      case (qid, fts) =>
        val tfs = fts.map(ft =>
          s"CAST(size(filter(w, x -> x = '${ft.term}')) AS BIGINT)")
        val contribs = fts.zip(tfs).map { case (ft, tf) =>
          s"(CAST(${ft.idfMicro} AS DECIMAL(38,0)) * 22 * $tf * ${ft.total}) div " +
            s"(CAST(10 AS DECIMAL(38,0)) * ${ft.total} * $tf + 3 * ${ft.total} " +
            s"+ 9 * len * ${ft.ndocs})"
        }
        // terms with tf = 0 contribute exactly 0 (zero numerator), so the
        // plain sum IS the disjunctive q119 semantics
        struct(lit(qid).as("query_id"),
          expr(contribs.mkString(" + ")).as("score_micro"),
          expr(tfs.map(tf => s"CAST($tf > 0 AS BIGINT)").mkString(" + "))
            .as("n_hits"))
    }
    // ONE pass over each micro-batch: all standing queries score from a
    // single tokenize, then explode the per-query struct array — a
    // per-query union would rescan the batch |queries| times
    docs.withColumn("w", split(col("text"), " "))
      .withColumn("len", size(col("w")).cast("long"))
      .select(col("doc_id"), explode(array(perQuery: _*)).as("qs"))
      .filter(col("qs.n_hits") > 0)
      .select(col("qs.query_id").as("query_id"), col("doc_id"),
        col("qs.score_micro").as("score_micro"))
  }

  /** Per-query running top-k over the candidate stream: ONE
    * ValueState[Seq] per query — O(queries · k) state total, independent
    * of stream length — emitting the query's full top-k whenever it
    * changes. Ties and ordering match batch q119: (score desc, doc asc).
    */
  private[graft] final case class TopKState(items: Seq[(Long, Long)])

  class StandingTopKProcessor(k: Int)
      extends StatefulProcessor[Long, (Long, Long, Long), RetrievalUpdate] {
    @transient private var state: ValueState[TopKState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState("topk",
        Encoders.product[TopKState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
        timerValues: TimerValues): Iterator[RetrievalUpdate] = {
      val prev = if (state.exists()) state.get().items else Seq.empty
      // dedupe by DOC (not by (score, doc)): a doc_id re-arriving with
      // updated text must not occupy two slots — keep its max score,
      // deterministic regardless of within-batch row order
      // .toSeq BEFORE the map: mapping the groupBy Map directly would
      // re-key entries by score and silently collapse score ties
      val merged = (prev ++ rows.map { case (_, doc, score) => (score, doc) })
        .groupBy { case (_, doc) => doc }.toSeq
        .map { case (doc, ss) => (ss.map(_._1).max, doc) }
        .sortBy { case (score, doc) => (-score, doc) }.take(k)
      if (merged == prev) Iterator.empty
      else {
        state.update(TopKState(merged))
        merged.iterator.zipWithIndex.map { case ((score, doc), i) =>
          RetrievalUpdate(key, i + 1L, doc, score)
        }
      }
    }
  }

  /** [[frozenModel]] keyed by the CORPUS FINGERPRINT — the staleness
    * policy for standing queries. A week-long standing query must not
    * serve ever-staler idf forever, but a model swap mid-stream would
    * make emitted scores non-reproducible; the contract is therefore:
    *
    *  - an IN-FLIGHT query keeps its construction-time model until it
    *    drains (the model is a closure over the query plan — nothing can
    *    change it mid-stream);
    *  - a (re)started query re-fingerprints the corpus dir
    *    (`Materialize.fingerprint`, a fresh walk — not the process
    *    cache): unchanged data reuses the cached model, changed data
    *    invalidates the process fingerprint cache so every landed stage
    *    (tfStage, …) rebuilds, then recomputes the model;
    *  - the top-k checkpoint stays restorable across the swap — state
    *    holds (score, doc) values, not model internals, so restored
    *    entries rank against newly-scored arrivals under the new model.
    *
    * Spec: `EventStreamsSpec` "frozen model rebuilds when the corpus
    * fingerprint changes".
    */
  private val modelCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Seq[FrozenTerm]]()

  private[graft] def currentModel(spark: SparkSession,
      dir: String): Seq[FrozenTerm] = {
    import scala.jdk.CollectionConverters._
    import graft.operators.Materialize
    val fp = Materialize.fingerprint(dir)
    // superseded generations evicted: a long-lived standing process over
    // a regenerating corpus holds ONE model per dir, not one per
    // generation (in-flight queries are unaffected — the model they
    // closed over is theirs until they drain)
    modelCache.keySet.asScala
      .filter(k => k._1 == dir && k._2 != fp)
      .foreach(modelCache.remove)
    modelCache.computeIfAbsent((dir, fp), _ => {
      Materialize.invalidate(dir)
      frozenModel(spark, dir)
    })
  }

  /** Standing-query retrieval — continuous search over an ARRIVING
    * corpus: each registered query (operators.Text.RetrievalQueries)
    * maintains a running BM25 top-k as docs stream in, the saved-search/
    * alerting workload of a retrieval stack. Arriving docs score
    * per-row against FROZEN corpus statistics (the landed index's idf
    * and corpus constants — new docs don't retro-shift scores, the
    * standard frozen-stats serving contract), so the stream side is
    * stateless until the O(queries · k) top-k state. Emits a query's
    * full top-k whenever it changes (Append mode).
    *
    * Staleness: the model is pinned per corpus FINGERPRINT
    * ([[currentModel]]) — a restart over regenerated corpus data
    * rebuilds the idf/constants; a restart over unchanged data reuses
    * the cached model and the checkpointed top-k state verbatim.
    */
  def standingRetrieval(spark: SparkSession, stream: DataFrame, dir: String,
      k: Int = 5): Dataset[RetrievalUpdate] = {
    import spark.implicits._
    scoreAgainstFrozen(stream, currentModel(spark, dir))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new StandingTopKProcessor(k),
        TimeMode.None(), OutputMode.Append())
  }

  /** JVM-side replica of operators.Text.hash60 (md5-prefix 60-bit),
    * computed by the shared [[graft.functions.Hash60]] kernel.
    */
  private[graft] def hash60(s: String): Long = graft.functions.Hash60.of(s)

  /** One running SUM per state key — a count-min cell. Per-key merge
    * happens once per micro-batch (the input iterator carries the key's
    * whole batch), so state writes are O(touched keys), not O(stream
    * rows). Emits the updated (key, sum) on every change.
    */
  class RunningSumProcessor[K]
      extends StatefulProcessor[K, (K, Long), (K, Long)] {
    @transient private var sum: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sum = getHandle.getValueState("sum", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[(K, Long)],
        timerValues: TimerValues): Iterator[(K, Long)] = {
      val next = (if (sum.exists()) sum.get() else 0L) + rows.map(_._2).sum
      sum.update(next)
      Iterator.single(key -> next)
    }
  }

  /** One running MAX per state key — an HLL register. Monotone, so
    * per-batch merges and checkpoint restores are order-insensitive and
    * exact. Emits (key, rank) only on increase: at most 24 emissions per
    * register over a stream's whole lifetime.
    */
  class RunningMaxProcessor[K]
      extends StatefulProcessor[K, (K, Int), (K, Int)] {
    @transient private var reg: ValueState[Int] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      reg = getHandle.getValueState("r", Encoders.scalaInt, TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[(K, Int)],
        timerValues: TimerValues): Iterator[(K, Int)] = {
      val incoming = rows.map(_._2).max
      val cur = if (reg.exists()) reg.get() else 0
      if (incoming > cur) {
        reg.update(incoming)
        Iterator.single(key -> incoming)
      } else Iterator.empty
    }
  }

  /** The count-min cells `term` increments, one per hash row: cell id =
    * j·w + bucket, the Scala spelling of [[Text.CountMin.cells]].
    */
  private[graft] def countMinCells(term: String): Seq[Long] = {
    val w = Text.CountMinWidth
    (0 until Text.CountMin.Rows).map(j => j.toLong * w + hash60(s"$term#$j") % w)
  }

  /** The HLL register `item` updates and its rank: the Scala spelling of
    * [[Text.Hll.registers]] for one item.
    */
  private[graft] def hllRegister(item: String): (Long, Int) = {
    import Text.Hll.{BucketBits, Cap, M}
    val h = hash60(item)
    val v = h >>> BucketBits
    val rho =
      if (v == 0L) Cap
      else math.min(java.lang.Long.numberOfTrailingZeros(v) + 1, Cap)
    (h % M, rho)
  }

  /** The q90 count-min sketch maintained INCREMENTALLY over a term
    * stream (`ds` = one row per term occurrence): each sketch cell is
    * one `transformWithState` key holding its running sum, so the sketch
    * partitions across executors, lives in the state store (RocksDB,
    * checkpoint-restartable) and never needs a batch rebuild. After any
    * prefix of the stream the emitted cell sums equal the batch sketch
    * built over the same terms — asserted in `EventStreamsSpec`.
    */
  def streamingCountMin(spark: SparkSession,
      ds: Dataset[String]): Dataset[(Long, Long)] = {
    import spark.implicits._
    ds.flatMap(term => countMinCells(term).map(_ -> 1L))
      .groupByKey(_._1)
      .transformWithState(new RunningSumProcessor[Long],
        TimeMode.None(), OutputMode.Update())
  }

  /** MANY live count-min sketches in one operator — [[streamingCountMin]]
    * keyed by a group column: input (group, term), state (group, cell) →
    * running sum, at most 4·w state rows PER GROUP. After any stream
    * prefix, a group's cell table equals the batch sketch built over
    * that group's terms — the live per-lang/per-source frequency table
    * behind a streaming dataset card.
    */
  def streamingCountMinBy(spark: SparkSession,
      ds: Dataset[(String, String)]): Dataset[(String, Long, Long)] = {
    import spark.implicits._
    ds.flatMap { case (grp, term) => countMinCells(term).map(c => ((grp, c), 1L)) }
      .groupByKey(_._1)
      .transformWithState(new RunningSumProcessor[(String, Long)],
        TimeMode.None(), OutputMode.Update())
      .map { case ((grp, cell), sum) => (grp, cell, sum) }
  }

  /** The q134 HyperLogLog maintained INCREMENTALLY over an item
    * stream — the live distinct counter: each of the 256 registers is
    * one `transformWithState` key holding its running max rank, so the
    * sketch partitions across executors, lives in the state store, and
    * never needs a batch rebuild. Duplicate and re-fed items are
    * absorbed by the max — exactly the HLL insert rule. After any
    * stream prefix, the latest emission per bucket equals the batch
    * register table over the same items, and [[hllEstimate]] over those
    * registers is the batch q134 estimate — asserted in
    * `EventStreamsSpec`.
    */
  def streamingHll(spark: SparkSession,
      ds: Dataset[String]): Dataset[(Long, Int)] = {
    import spark.implicits._
    ds.map(hllRegister)
      .groupByKey(_._1)
      .transformWithState(new RunningMaxProcessor[Long],
        TimeMode.None(), OutputMode.Update())
  }

  /** MANY live HLL sketches in one operator — [[streamingHll]] keyed by
    * a group column: input (group, item), state (group, bucket) → max
    * rank, at most 256 state rows PER GROUP and 24 emissions per
    * register regardless of stream length. After any prefix,
    * [[hllEstimate]] over a group's registers equals the batch q134
    * estimate over the same items — the live per-(domain, lang)
    * distinct counter behind a streaming dataset card.
    */
  def streamingHllBy(spark: SparkSession,
      ds: Dataset[(String, String)]): Dataset[(String, Long, Int)] = {
    import spark.implicits._
    ds.map { case (grp, item) =>
      val (bucket, rho) = hllRegister(item)
      ((grp, bucket), rho)
    }
      .groupByKey(_._1)
      .transformWithState(new RunningMaxProcessor[(String, Long)],
        TimeMode.None(), OutputMode.Update())
      .map { case ((grp, bucket), rank) => (grp, bucket, rank) }
  }

  /** The q134 estimate over a register snapshot (latest rank per
    * bucket): the Scala spelling of [[Text.Hll.summary]] — BIGINT
    * harmonic sum with capped ranks, one exact integer division,
    * micro-rounded linear counting in the small range.
    */
  def hllEstimate(regs: Iterable[(Long, Int)]): Long = {
    import Text.Hll.{Cap, M, Numerator}
    // reduce by MAX per bucket: an Update-mode sink's full emission
    // history arrives in partition-dependent order, so a snapshot that
    // still carries superseded (bucket, rank) rows must not let a stale
    // lower rank win (a plain toMap keeps the LAST duplicate)
    val present = regs.groupMapReduce(_._1)(_._2)(math.max)
    val sTotal = present.values.map(r => 1L << (Cap - r)).sum +
      (M - present.size).toLong * (1L << Cap)
    val raw = Numerator / (1000000L * sTotal)
    val zeros = M - present.size
    if (zeros > 0 && raw <= 5L * M / 2)
      M * math.round(math.log(M.toDouble / zeros) * 1e6) / 1000000L
    else raw
  }
}
