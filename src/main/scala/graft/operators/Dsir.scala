package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style importance reweighting (q101) and importance resampling
  * (q101b) — the DATA-SELECTION pair completing the quality-screen
  * family: q75 scores rarity (unigram Zipf), q100 scores fluency
  * (bigram LM); this scores DOMAIN RELEVANCE — "how much more does
  * this document look like the curated target corpus than like the raw
  * pool?" — the published Data Selection via Importance Resampling
  * recipe (Xie et al. 2023: hashed n-gram features, log-likelihood
  * ratio of two smoothed bag-of-features models, then weighted
  * sampling without replacement on the weights). The reference repo's
  * recurring shape is again content judged against a curated slice
  * (e.g. /root/reference/src/trace/fix/check_nwb_stimulus_match.py
  * compares declared metadata against a trusted extraction); DSIR is
  * that shape generalized to distribution-level similarity.
  *
  * Semantics:
  *  - FEATURES: each whitespace token (dedup-family canonicalization:
  *    lower/trim, null → one empty token) hashes into one of
  *    [[Buckets]] classes via the cross-engine 60-bit md5 prefix —
  *    the hashing trick, so the MODEL domain is a constant [[Buckets]]
  *    rows no matter how large the corpus vocabulary grows.
  *  - MODELS: Laplace-smoothed bucket distributions over the frozen
  *    TARGET slice (doc_id % [[TargetMod]] == 0 — the curated-corpus
  *    stand-in, the same frozen-slice discipline as q100's train cut)
  *    and over the RAW pool (every document).
  *    p̂(f) = (c_f + 1) / (C + B) for each side.
  *  - WEIGHT: per document, Σ over token occurrences of
  *    log2 p̂_target(f) − log2 p̂_raw(f), in 1/1024-bit units:
  *    delta(f) = mb_raw(f) − mb_target(f) where
  *    mb_side(f) = log2mb(c_f + 1, C + B) is the side's smoothed
  *    surprisal from the SAME fixed-point kernel q100 trusts
  *    ([[graft.functions.LogExpressions]] — int64 floor steps the
  *    DuckDB oracle replays digit-for-digit). keep = weight_mb > 0:
  *    "more target-like than pool-like".
  *  - RESAMPLE (q101b): the DSIR selection step made deterministic —
  *    weighted sampling WITHOUT replacement via the exponential race
  *    (Efraimidis–Spirakis: draw u ∈ (0,1] per item, rank by
  *    −log u / w, keep the K smallest). The uniform is the
  *    hash-uniform u = (md5_60("race:" ‖ doc_id) + 1) / 2⁶⁰, so
  *    −log2 u is EXACTLY log2mb(h + 1, 2⁶⁰) and the race key
  *    race_mb = mbu · 2²⁰ DIV weight_mb is pure int64 — both engines
  *    rank the same keys digit-for-digit. Only keep-docs race
  *    (w > 0 — the race semantics require positive weights), the
  *    [[SampleK]] smallest keys win (ties broken by doc_id).
  *
  * Exactness: every arithmetic step is int64 +, ×, floor-DIV or the
  * log2mb kernel. Bounds: |delta| ≤ log2(C+B)·1024 < 64·1024, so a
  * document needs > 2⁴⁴ tokens to overflow the weight sum; race keys
  * are ≤ 61440·2²⁰ < 2³⁷.
  *
  * Scale shape: model pass = one corpus scan → map-side-combined
  * groupBy over the [[Buckets]]-sized key domain (partial aggregation
  * collapses each task's stream to ≤ B rows before the exchange — a
  * hot bucket cannot serialize a task), the deltas driver arithmetic
  * over the collected B counts ([[TextModels]]). Scoring pass = one
  * corpus scan with the row-local `dsir_score` kernel per document
  * (the collected B deltas ride inside it) — no join, no broadcast,
  * no aggregate; the same kernel scores the stream door and the
  * report frame. The resample election is a K-bounded TakeOrdered
  * (per-partition heaps, K rows to the driver) — never a global sort.
  * Nothing data-sized ever shuffles on a token or bucket key;
  * plan-pinned in PlanShapeSpec.
  */
object Dsir {

  /** hashed-feature domain size (the hashing trick: model frames are
    * exactly this many rows at ANY corpus scale). */
  val Buckets = 64

  /** target slice: doc_id % TargetMod == 0 — the frozen curated-corpus
    * stand-in (same slice discipline as [[LmScreen.TrainMod]]). */
  val TargetMod = 5

  /** resample budget: the K of the weighted without-replacement draw. */
  val SampleK = 100

  /** race-key scale: mbu · RaceScale DIV weight keeps 20 fractional
    * bits through the integer division. */
  val RaceScale = 1L << 20

  /** the md5_60 hash domain: h ∈ [0, 2⁶⁰), so (h+1)/2⁶⁰ ∈ (0, 1]. */
  val HashRange = 1L << 60

  /** feature-hash prefix (decorrelates from the sample:/mix:/ctrl:
    * hash families used elsewhere). */
  val FeatPrefix = "dsir:"

  /** race-uniform prefix. */
  val RacePrefix = "race:"

  /** feature bucket of a token: md5_60("dsir:" ‖ t) mod B. md5_60 is
    * nonnegative, so pmod ≡ %, but pmod documents the intent. */
  private[operators] def bucketCol(t: Column): Column =
    pmod(Dedup.md5_60(concat(lit(FeatPrefix), t)), lit(Buckets.toLong))

  /** q101: per-document DSIR importance weight — the model trained by
    * [[TextModels]] at construction, scored by the row-local kernel,
    * sorted. Columns: doc_id, lang, n_tokens, weight_mb, keep
    * (weight_mb > 0 — more target-like than pool-like). */
  def dsirWeights(docs: DataFrame): DataFrame =
    dsirView(dsirScoreRowLocal(docs, TextModels.train(docs, TextModels.DsirOnly).dsir.get))
      .orderBy("doc_id")

  /** q101b: the deterministic importance-resampling draw — the
    * [[SampleK]] exponential-race winners among keep-documents
    * (weighted sampling without replacement; see object doc). Columns:
    * doc_id, lang, weight_mb, race_mb. */
  def dsirResample(docs: DataFrame): DataFrame =
    resampleFromWeights(
      dsirView(dsirScoreRowLocal(docs, TextModels.train(docs, TextModels.DsirOnly).dsir.get)))

  /** The race election over an ALREADY-COMPUTED weights frame (the
    * q101 output, or its persisted parquet / docReport-derived view):
    * a deployment computes weights once and resamples at many budgets
    * — each draw is then a pure row-local key computation + the
    * K-bounded TakeOrdered, never a re-scan of the corpus. Requires
    * doc_id, lang, weight_mb columns; spec-proven equal to
    * [[dsirResample]] composed end-to-end. */
  def resampleFromWeights(weights: DataFrame, k: Int = SampleK): DataFrame =
    weights
      .filter(col("weight_mb") > 0L)
      .withColumn("__mbu", graft.functions.LogExpressions.log2mb(
        Dedup.md5_60(concat(lit(RacePrefix), col("doc_id").cast("string"))) + 1L,
        lit(HashRange)))
      .withColumn("race_mb", expr(s"__mbu * $RaceScale DIV weight_mb"))
      .orderBy(col("race_mb").asc, col("doc_id").asc).limit(k)
      .select("doc_id", "lang", "weight_mb", "race_mb")
      .orderBy("doc_id")

  /** The collected delta model — exactly [[Buckets]] entries, a
    * broadcast-sized frozen object (the rarity/BPE/LM freeze
    * discipline): train batch-side on a released corpus, score an
    * ingest stream row-locally with
    * [[graft.streaming.DocStreams.dsirLookup]]. */
  case class DsirModel(delta: Map[Long, Long]) {
    require(delta.size == Buckets, s"model must cover all $Buckets buckets")
  }

  def dsirModel(docs: DataFrame): DsirModel =
    TextModels.forRelease(docs, 10, 1024, TextModels.DsirOnly)(_.dsir, _.copy(dsir = None))

  /** the q101 per-document fields against a FROZEN collected model —
    * `dsir_n_tokens` / `dsir_weight_mb` / `dsir_keep` over a whitespace
    * token array: each token hashes into its bucket and the bucket
    * deltas sum, one kernel per row
    * ([[graft.functions.TextKernels.DsirScore]]). The column list
    * [[TextAnalysis.docReport]] selects. */
  def dsirCols(wsToks: Column, model: DsirModel): Seq[Column] = {
    val k = dsirKernel(wsToks, model)
    graft.functions.TextKernels.DsirType.fieldNames.toSeq.map(f => k.getField(f).as(f))
  }

  private def dsirKernel(wsToks: Column, model: DsirModel): Column =
    graft.functions.TextKernels.dsir_score(wsToks, (0L until Buckets.toLong).map(model.delta),
      FeatPrefix)

  /** Row-local scoring against a FROZEN collected model, appended as the
    * [[dsirCols]] fields (all other columns ride through) — no state,
    * no shuffle. The struct leaves through `inline` of a one-element
    * array, so q101b's weight > 0 filter stays above the Generate and
    * each row is scored once (see [[Frequency.rarityScoreRowLocal]]).
    * The batch q101/q101b and the stream twin
    * [[graft.streaming.DocStreams.dsirLookup]]. */
  def dsirScoreRowLocal(docs: DataFrame, model: DsirModel): DataFrame =
    docs.select(col("*"), inline(array(dsirKernel(TextModels.wsTokens, model))))

  /** the q101 columns (doc_id, lang, n_tokens, weight_mb, keep) over a
    * frame carrying the [[dsirCols]], unordered — the one output
    * projection of the batch screen (which sorts it), the resample
    * draw, the stream lookup and the report view. */
  def dsirView(scored: DataFrame): DataFrame =
    scored.select(col("doc_id"), col("lang"),
      col("dsir_n_tokens").as("n_tokens"),
      col("dsir_weight_mb").as("weight_mb"), col("dsir_keep").as("keep"))
}
