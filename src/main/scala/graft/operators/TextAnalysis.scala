package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-corpus analysis operators for LLM-training-data pipelines
  * (SURVEY.md §2C): language ID, quality scoring, token counting,
  * content fingerprinting, exact dedup.
  *
  * Everything is built from codegen'd builtins (length/replace/regexp/
  * split/md5) — no UDFs — so the scan stays inside whole-stage codegen
  * and the operators hold up on a 100 TB corpus. Integer arithmetic
  * (DIV, basis points) instead of floating division keeps results
  * hash-identical to the oracle.
  */
object TextAnalysis {

  /** language → marker word (padded with spaces; all markers compared
    * by occurrence count, ties broken in declaration order). */
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> " the ", "de" -> " und ", "es" -> " los ",
    "fr" -> " les ", "zh" -> " 的 ")

  /** per-document marker-count language prediction, appended as a
    * `predicted_lang` column — shared by q37 (confusion counts), q46
    * (declared-vs-content consistency) and the q55 composite pipeline. */
  private[operators] def withPredictedLang(documents: DataFrame,
                                           keepHits: Boolean = false): DataFrame =
    documents.select(col("*") +: (predictedLangCol.as("predicted_lang") +:
      (if (keepHits) Seq(predHitsCol.as("pred_hits")) else Nil)): _*)

  /** per-language marker occurrence counts over the space-padded text */
  private def markerCounts: Seq[Column] = LangMarkers.map { case (_, m) =>
    expr(s"(length(' ' || text || ' ') - length(replace(' ' || text || ' ', '$m', ''))) DIV ${m.length}")
  }

  /** the marker-count election as one column over `text` */
  private[graft] def predictedLangCol: Column = {
    val langs = LangMarkers.map(_._1)
    val c = markerCounts
    langs.dropRight(1).zipWithIndex.foldLeft(when(lit(false), "")) {
      case (acc, (l, i)) =>
        val rest = c.drop(i + 1)
        val restMax = if (rest.size == 1) rest.head else greatest(rest: _*)
        acc.when(c(i) >= restMax, l)
    }.otherwise(langs.last)
  }

  /** the winner is the argmax, so its marker count IS the max — the
    * q128 evidence gate reads it without re-deriving the election */
  private def predHitsCol: Column = greatest(markerCounts: _*).cast(LongType)

  /** q37: n-gram-heuristic language ID → confusion counts vs the
    * labelled lang column. */
  def langId(documents: DataFrame): DataFrame =
    withPredictedLang(documents)
      .groupBy("lang", "predicted_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted_lang")

  /** q46: content-vs-declared-metadata consistency — the reference's
    * declared-stimulus vs decoded-content checks (reference
    * src/trace/fix/check_image_stimulus_match.py,
    * check_nwb_stimulus_match.py) re-expressed over documents: compare
    * the declared lang/n_chars metadata against what the content
    * itself says, list only the disagreeing rows. Row-local compute on
    * one scan; the only exchange is the output sort. Binary twin: q80
    * ([[Traces.sweepConsistency]]) runs the same declared-vs-computed
    * check against DECODED SAMPLE CONTENT instead of text. */
  def contentMetadataCheck(documents: DataFrame): DataFrame =
    withPredictedLang(documents)
      .select(col("doc_id"), col("lang"), col("predicted_lang"),
        col("n_chars"), length(col("text")).cast(LongType).as("computed_chars"))
      .withColumn("lang_match", col("lang") === col("predicted_lang"))
      .withColumn("chars_match", col("n_chars") === col("computed_chars"))
      .filter(!col("lang_match") || !col("chars_match"))
      .orderBy("doc_id")

  /** q128: METADATA FIX APPLY — the rewrite q46 plans, the shape of
    * the reference's whole fix/ directory (diagnose a
    * declared-vs-content mismatch, then UPDATE the resource; q46 only
    * reports): per mismatching doc the corrected metadata —
    * `n_chars` := the computed length (content is ground truth for a
    * derivable field, unconditionally), `lang` := the predicted
    * language but ONLY under positive marker evidence (pred_hits ≥ 1;
    * a prediction that won by default on a marker-less text is no
    * evidence, so the declared value stands — the conservative gate a
    * curation team signs off). Emits ONLY changed rows — the q43
    * MERGE input, exactly the reference's update-the-affected loop.
    * Cite: reference src/trace/fix/check_image_stimulus_match.py,
    * check_nwb_stimulus_match.py (declared-vs-content repair).
    *
    * Scale shape: one row-local scan (the q46 kernel + the evidence
    * gate), a mismatch-sized output, no exchange beyond the output
    * sort. */
  def metadataFix(documents: DataFrame): DataFrame =
    metadataFixRowLocal(documents)
      .filter(col("lang_fixed") || col("chars_fixed"))
      .orderBy("doc_id")

  /** the q128 kernel without the changed-row filter or the sort —
    * EVERY doc emits its (possibly identical) repaired metadata. This
    * is the ingest-door form ([[graft.streaming.DocStreams
    * .metadataFixLookup]]): a door lands documents, it doesn't emit a
    * report, so unchanged docs pass through with their declared
    * values and the flags read false. Pure row-local — trivially
    * micro-batch invariant. ONE definition with the batch operator so
    * the two cannot drift. */
  def metadataFixRowLocal(documents: DataFrame): DataFrame =
    withPredictedLang(documents, keepHits = true)
      .select(col("doc_id"), col("lang"), col("predicted_lang"),
        col("pred_hits"), col("n_chars"),
        length(col("text")).cast(LongType).as("computed_chars"))
      // coalesce: a null text nulls the marker counts (pred_hits ≥ 1 →
      // NULL), and a NULL verdict must read as "no fix", not propagate
      .withColumn("lang_fixed", coalesce(
        col("lang") =!= col("predicted_lang") && col("pred_hits") >= 1L,
        lit(false)))
      .withColumn("chars_fixed", !(col("n_chars") <=> col("computed_chars")))
      .select(col("doc_id"),
        col("lang"),
        when(col("lang_fixed"), col("predicted_lang")).otherwise(col("lang"))
          .as("fixed_lang"),
        col("lang_fixed"),
        col("n_chars"),
        col("computed_chars").as("fixed_n_chars"),
        col("chars_fixed"))

  /** the q38 kernel in append form (all other columns ride through):
    * `computed_chars` (named as q46's declared-vs-computed column — the
    * declared `n_chars` metadata stays untouched), alpha/punct/stopword
    * counts, alpha share in basis points, quality flag. Shared by the
    * standalone q38 projection and the decode-once [[docReport]]. */
  private[graft] def withQualityCols(documents: DataFrame): DataFrame =
    documents.select(col("*") +: qualityCols: _*)

  /** the q38 column list over `text` */
  private def qualityCols: Seq[Column] = {
    val chars = length(col("text")).cast(LongType)
    val alpha = length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast(LongType)
    val alphaBp = div(lit(10000) * alpha, nonZero(chars))
    Seq(chars.as("computed_chars"), alpha.as("n_alpha"),
      length(regexp_replace(col("text"), "[^.,;:!?]", "")).cast(LongType).as("n_punct"),
      expr("(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) DIV 5")
        .cast(LongType).as("n_stopword_the"),
      alphaBp.as("alpha_bp"),
      (chars.between(50, 20000) && alphaBp > 6000).as("is_quality"))
  }

  /** q116: GOPHER-STYLE RULE MATRIX — the published composite quality
    * filter (Gopher §A1.1 / Dolma / RedPajama-v2 quality signals) as a
    * named pass/fail column per rule (the q96 check-matrix shape over
    * documents, so curation can see WHICH rule cut a doc, not just
    * that one did): word count in range, mean word length in [3, 10],
    * ≥2 stopwords, ≥80% alphabetic words, punctuation-to-word ratio,
    * distinct-token ratio. Every comparison is integer — the ratio
    * rules multiply through by the denominator (5·n_alpha_words ≥
    * 4·n_words, never a division), so both engines compare identical
    * int64s at any document length.
    *
    * Scale shape: pure row-local — one scan, one projection over the
    * shared tokenizer, no join/window/exchange beyond the output sort
    * (plan-pinned). A null/empty text counts zero words and fails the
    * word-count rule, nothing else crashes. */
  def gopherRules(documents: DataFrame): DataFrame =
    withGopherCols(documents).select(gopherOutCols: _*).orderBy("doc_id")

  /** the q116 kernel in append form — six named rule verdicts,
    * `n_words`, and the composite as `gopher_n_failed`/`gopher_keep`
    * (prefixed like the other screens' keeps, so the report frame
    * stays unambiguous). Pure row-local. */
  private[graft] def withGopherCols(documents: DataFrame): DataFrame =
    documents.select(col("*"), TextModels.wsTokens.as("__gtk"))
      .select(col("*") +: gopherCols(col("__gtk")): _*)
      .drop("__gtk")

  /** the q116 column list over `text` and its whitespace token array
    * (`tokens(coalesce(text, ''))`) */
  private def gopherCols(wsToks: Column): Seq[Column] = {
    val words = when(length(trim(coalesce(col("text"), lit("")))) === 0, lit(0L))
      .otherwise(size(wsToks).cast(LongType))
    val wl = length(array_join(wsToks, "")).cast(LongType)
    val classes = graft.functions.TextKernels.word_class_counts(wsToks,
      Seq("the", "and", "of", "to", "a"))
    val punct = length(regexp_replace(coalesce(col("text"), lit("")), "[^.,;:!?]", "")).cast(LongType)
    val dist = size(array_distinct(wsToks)).cast(LongType)
    val rules = Seq(
      "word_count_ok" -> words.between(50, 100000),
      "mean_word_len_ok" -> (words > 0 && wl >= words * 3 && wl <= words * 10),
      "stopword_ok" -> (classes.getField("n_stop") >= 2),
      "alpha_words_ok" -> (words > 0 && classes.getField("n_alpha_words") * 5 >= words * 4),
      "punct_ratio_ok" -> (punct * 2 <= words),
      "distinct_ratio_ok" -> (words > 0 && dist * 5 >= words))
    val failed = rules.map { case (_, r) => when(r, 0).otherwise(1) }.reduce(_ + _).cast(LongType)
    (words.as("n_words") +: rules.map { case (n, r) => r.as(n) }) ++
      Seq(failed.as("gopher_n_failed"), (failed === 0).as("gopher_keep"))
  }

  private def gopherOutCols: Seq[Column] = Seq(col("doc_id"), col("n_words"),
    col("word_count_ok"), col("mean_word_len_ok"), col("stopword_ok"),
    col("alpha_words_ok"), col("punct_ratio_ok"), col("distinct_ratio_ok"),
    col("gopher_n_failed").as("n_failed"), col("gopher_keep").as("keep"))

  /** q38: quality scoring — length, alpha/punct ratios in integer basis
    * points, stopword presence, boolean keep-flag. */
  def qualityScore(documents: DataFrame): DataFrame =
    withQualityCols(documents)
      .select(col("doc_id"), col("computed_chars").as("n_chars"),
        col("n_alpha"), col("n_punct"), col("n_stopword_the"),
        col("alpha_bp"), col("is_quality"))
      .orderBy("doc_id")

  /** q126 sweep arms (alpha_bp thresholds) — shared with the oracle
    * SQL. Chosen around the corpus's measured alpha distribution
    * (sf0.001: min 7933 / median 8214 / max 8461) so the curve has
    * real shape: arm 0 keeps everything scorable, 8500 keeps
    * nothing. */
  val QualitySweepArms: Seq[Long] = Seq(0L, 8000L, 8150L, 8250L, 8350L, 8500L)

  /** q126: QUALITY-THRESHOLD SWEEP — the keep-rate curve a curation
    * team reads to PICK the quality cut (q38 scores; q116 applies
    * fixed published rules; this prices the knob, the q110b sweep
    * discipline applied to the quality screen): per candidate
    * alpha_bp threshold, the documents and tokens that survive
    * `alpha_bp >= t`, each also as a share of the whole corpus in
    * basis points. Unscorable docs (null alpha — null/empty text)
    * count in the totals but survive NO arm: the conservative
    * contract (raising a threshold can only cut, and the curve's
    * shares are honest fractions of the real corpus).
    *
    * Scale shape: the corpus pays ONE map-side-combined groupBy on
    * alpha_bp — a key bounded in [0, 10000], so the histogram is
    * ≤10001 rows at ANY corpus size; the totals reduce the histogram
    * (not the corpus — ReusedExchange feeds both); every arm is a
    * range-filter over histogram×arms rows (≤10001×|arms|). Adding
    * arms adds ZERO corpus scans — the q110b one-shared-frame rule. */
  def qualityThresholdSweep(documents: DataFrame): DataFrame = {
    // the histogram keys on coalesce(alpha_bp, −1), NOT alpha_bp: a
    // nullable key makes the arms join infer an isnotnull constraint
    // that pushes below the aggregate into ONE branch's scan, so the
    // totals branch (which must keep the unscorable group) can no
    // longer share the subtree and the corpus is scanned twice. The
    // sentinel key is non-nullable by construction — no constraint is
    // inferred, both consumers read the SAME exchange, one scan. The
    // −1 group falls out of every arm because all arms are ≥ 0.
    sweepFromScored(withQualityCols(withTokenCountCols(documents)))
  }

  /** q126 over the persisted docReport frame — the decode-once path: a
    * deployment sweeps the frame's stored alpha_bp/n_bpe_tokens
    * columns instead of re-tokenizing the corpus. ONE shared
    * definition with the standalone operator, so the two cannot
    * drift. */
  def reportQualitySweep(report: DataFrame): DataFrame =
    sweepFromScored(report)

  private def sweepFromScored(frame: DataFrame): DataFrame = {
    val scored = frame
      .select(coalesce(col("alpha_bp"), lit(-1L)).as("alpha_key"),
        col("n_bpe_tokens").as("n_tokens"))
    val hist = scored.groupBy("alpha_key")
      .agg(count(lit(1)).as("h_docs"), sum(col("n_tokens")).as("h_tokens"))
    val tot = hist.agg(sum(col("h_docs")).as("t_docs"),
      sum(col("h_tokens")).as("t_tokens"))
    val arms = frame.sparkSession.range(1)
      .select(explode(array(QualitySweepArms.map(lit): _*)).as("threshold_bp"))
    arms
      .join(hist, col("alpha_key") >= col("threshold_bp"), "left")
      .groupBy("threshold_bp")
      .agg(coalesce(sum(col("h_docs")), lit(0L)).as("n_docs_kept"),
        coalesce(sum(col("h_tokens")), lit(0L)).as("n_tokens_kept"))
      .crossJoin(broadcast(tot))
      .withColumn("docs_share_bp", expr("(10000 * n_docs_kept) DIV nullif(t_docs, 0)"))
      .withColumn("tokens_share_bp",
        expr("(10000 * n_tokens_kept) DIV nullif(t_tokens, 0)"))
      .select("threshold_bp", "n_docs_kept", "n_tokens_kept",
        "docs_share_bp", "tokens_share_bp")
      .orderBy("threshold_bp")
  }

  /** the q39 kernel in append form — whitespace / distinct / BPE-ish
    * token counts ride alongside the input columns. */
  private[graft] def withTokenCountCols(documents: DataFrame): DataFrame =
    documents.select(col("*") +: tokenCountCols(split(trim(col("text")), " +"),
      TextModels.regexTokens): _*)

  /** the q39 column list over the raw whitespace split
    * (`split(trim(text), ' +')`) and the regex token array */
  private def tokenCountCols(rawWs: Column, regexToks: Column): Seq[Column] = Seq(
    size(rawWs).cast(LongType).as("n_ws_tokens"),
    size(array_distinct(rawWs)).cast(LongType).as("n_distinct_tokens"),
    size(regexToks).cast(LongType).as("n_bpe_tokens"))

  /** q39: token counting — whitespace tokens, distinct tokens, and a
    * BPE-ish regex segmentation (letter runs / digit runs / single
    * punctuation). */
  def tokenCounts(documents: DataFrame): DataFrame =
    withTokenCountCols(documents)
      .select("doc_id", "n_ws_tokens", "n_distinct_tokens", "n_bpe_tokens")
      .orderBy("doc_id")

  /** the q105 rollup over any frame carrying (lang, n_chars,
    * n_ws_tokens, n_bpe_tokens) — ONE definition serves the standalone
    * operator and the docReport view, so the two cannot drift. The
    * fixed-point ratios widen through DECIMAL(38,0) before the
    * truncating division: a per-language token total of ~10¹² at
    * corpus scale times 2²⁰ would overflow int64 (the q62 widening
    * discipline); the quotient itself is small and lands back in a
    * BIGINT. A language with zero words (or zero tokens) yields NULL
    * ratios via NULLIF, never a division error. */
  private def fertilityRollup(df: DataFrame): DataFrame =
    df.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_ws_tokens")).as("total_ws_tokens"),
        sum(col("n_bpe_tokens")).as("total_bpe_tokens"),
        sum(col("n_chars")).as("total_chars"),
        expr("CAST(CAST(sum(n_bpe_tokens) AS DECIMAL(38,0)) * 1048576 div " +
          "nullif(CAST(sum(n_ws_tokens) AS DECIMAL(38,0)), 0) AS BIGINT)")
          .as("fertility_q20"),
        expr("CAST(CAST(sum(n_chars) AS DECIMAL(38,0)) * 1048576 div " +
          "nullif(CAST(sum(n_bpe_tokens) AS DECIMAL(38,0)), 0) AS BIGINT)")
          .as("chars_per_token_q20"))
      .orderBy("lang")

  /** q105: TOKENIZER FERTILITY per language — the cross-language
    * tokenizer-cost audit every multilingual pretraining mix needs
    * (fertility = subword tokens per whitespace word; chars per token
    * is its compression twin): a language whose fertility runs high
    * pays proportionally more context-window budget per sentence, so
    * mixture weights (q62) and token budgets (q49) read directly off
    * this card. Ratios in Q20 fixed point — integer-exact in both
    * engines. One map-side-combined scan; output is language-count
    * sized. */
  def tokenizerFertility(documents: DataFrame): DataFrame =
    fertilityRollup(withTokenCountCols(documents))

  /** q105 over the persisted docReport frame. */
  def reportFertility(report: DataFrame): DataFrame = fertilityRollup(report)

  /** repetition flag thresholds (basis points) — shared with the q54
    * oracle SQL so both engines cut at the same literals. The shape
    * follows the published MassiveText/Gopher repetition filters
    * (top-n-gram share, duplicate-n-gram share), re-based to word
    * n-grams since this corpus has no line structure. */
  val TopTokenMaxBp = 1000L
  val Top2GramMaxBp = 2000L
  val Dup3GramMaxBp = 3000L

  /** q54: repetition-quality screen — share of the most frequent
    * token, share of the most frequent word 2-gram, duplicate word
    * 3-gram share, each in integer basis points, plus the keep flag.
    * Everything is row-local: per n-gram size one codegen kernel pass
    * (shingle hashes → sort+run-scan frequency stats, no explode, no
    * shuffle of n-gram rows), so the operator is a single corpus scan
    * plus the output sort — the shape that survives 100 TB, where an
    * explode+groupBy over 3-grams would shuffle 3× the corpus token
    * count. */
  def repetitionScreen(documents: DataFrame): DataFrame =
    withRepetitionCols(documents)
      .select("doc_id", "top_token_bp", "top_2gram_bp", "dup_3gram_bp",
        "is_repetitive")
      .orderBy("doc_id")

  /** the q54 kernel in append form — per n-gram size one codegen
    * frequency-stats pass, shares in basis points, repetition flag. */
  private[graft] def withRepetitionCols(documents: DataFrame): DataFrame =
    documents.select(col("*") +: repetitionCols(Dedup.tokens(col("text"))): _*)

  /** the q54 column list over `tokens(text)` */
  private def repetitionCols(toks: Column): Seq[Column] = {
    def stats(k: Int) = graft.functions.HashExpressions.array_freq_stats(
      graft.functions.HashExpressions.md5_shingle_hashes(toks, k))
    val (s1, s2, s3) = (stats(1), stats(2), stats(3))
    val top = div(lit(10000) * s1.getItem(2), nonZero(s1.getItem(0)))
    val top2 = div(lit(10000) * s2.getItem(2), nonZero(s2.getItem(0)))
    val dup3 = div(lit(10000) * (s3.getItem(0) - s3.getItem(1)), nonZero(s3.getItem(0)))
    Seq(top.as("top_token_bp"), top2.as("top_2gram_bp"), dup3.as("dup_3gram_bp"),
      (top > TopTokenMaxBp || top2 > Top2GramMaxBp || dup3 > Dup3GramMaxBp).as("is_repetitive"))
  }

  /** `nullif(x, 0)` spelled as a CASE: Spark 4 rewrites `nullif` into a
    * common-expression projection of its own, one more Project per use */
  private def nonZero(x: Column): Column = when(x =!= 0, x)

  /** SQL `a DIV b` (truncating integral division, null on a null side) */
  private def div(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** canonical form used for fingerprinting: lowercase, strip
    * non-alphanumerics, collapse whitespace. */
  def canonicalText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** the ONE definition of a document's content fingerprint — q40 and
    * q42 (and their oracle SQL) must agree on what counts as a dup. */
  def fingerprintCol(text: Column): Column =
    md5(canonicalText(text).cast(BinaryType))

  /** q40: content fingerprint + how many docs share it — near-dup at
    * the "same text modulo punctuation" level. Class sizes come from a
    * map-side-partial groupBy + join ([[Scale.keyAggJoin]]), not a
    * fingerprint window: a boilerplate page duplicated 10⁶× would put
    * its whole class into one window task, while the groupBy combines
    * it to one row per map task and the join is AQE-skew-splittable. */
  def fingerprint(documents: DataFrame): DataFrame = {
    val fp = documents
      .select(col("doc_id"), fingerprintCol(col("text")).as("fingerprint"))
    Scale.keyAggJoin(fp, Seq("fingerprint"),
        Seq(count(lit(1)).as("n_same_fingerprint")))
      .orderBy("doc_id")
  }

  /** q30: exact dedup via content hash — group identical texts, elect
    * the smallest doc_id as canonical (hash-groupBy; at 100 TB this is
    * one shuffle on a 16-byte key). */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text").cast(BinaryType)).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_id"))
      .orderBy("content_hash")

  /** q137 threshold: documents under this many millibits (1/1024 bit)
    * of token entropy are flagged — 3072 mb = 3 bits, i.e. the
    * document's token stream carries at most ~8 effective distinct
    * tokens' worth of diversity. Shared with the oracle SQL. */
  val LowEntropyMb = 3072L

  /** q137: TOKEN-ENTROPY SCREEN — the global-diversity quality signal
    * beside q54's repetition screen (q54 flags CONCENTRATION: one
    * n-gram dominating; this flags low DIVERSITY overall — generated
    * spam, keyword-stuffed pages and template boilerplate score low
    * entropy even when no single token crosses q54's top-share bar;
    * the compression-ratio screen of published pipelines, done in
    * exact integers): per document the token count, distinct tokens
    * and the Shannon entropy of the token distribution in millibits —
    * entropy_mb = (Σ_t c_t · log2mb(c_t, n)) DIV n on the q100/q136
    * shared fixed-point log kernel, so both engines compute the SAME
    * integer digit-for-digit. Null-text docs ship with NULL verdicts
    * (the q54 convention). Uniform docs read exactly log2(distinct):
    * "a b c d" → 2048 mb; "a a a a" → 0.
    *
    * Scale shape: ONE row-local codegen pass (sort + run-scan over
    * the doc's 60-bit token hashes inside [[graft.functions
    * .HashExpressions.ArrayEntropyStats]]) — no explode, no token-row
    * shuffle, nothing but the output sort; the shape that survives
    * 100 TB where an explode+groupBy would shuffle the corpus token
    * count (the q54 lesson applied verbatim). */
  def tokenEntropy(documents: DataFrame): DataFrame =
    entropyView(withEntropyCols(documents))

  /** the q137 kernel in append form (entropy_* columns ride the frame;
    * ONE definition with the standalone operator and the docReport
    * view, so the three cannot drift). */
  private[graft] def withEntropyCols(documents: DataFrame): DataFrame =
    documents.select(col("*") +: entropyCols(Dedup.tokens(col("text"))): _*)

  /** the q137 column list over `tokens(text)` */
  private def entropyCols(toks: Column): Seq[Column] = {
    val e = graft.functions.HashExpressions.array_entropy_stats(
      graft.functions.HashExpressions.md5_shingle_hashes(toks, 1))
    Seq(e.getItem(0).as("entropy_n_tokens"), e.getItem(1).as("entropy_distinct"),
      e.getItem(2).as("entropy_mb"))
  }

  private def entropyView(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      col("entropy_n_tokens").as("n_tokens"),
      col("entropy_distinct").as("distinct_tokens"),
      col("entropy_mb"),
      (col("entropy_mb") < lit(LowEntropyMb)).as("is_low_entropy"))
      .orderBy("doc_id")

  /** q42: apply the dedup policy — the retained training corpus. Each
    * canonical-fingerprint group keeps its smallest doc_id; everything
    * else is marked dropped. Winner election is the q83 groupBy+join
    * shape ([[Scale.keyAggJoin]]): the hot fingerprint class combines
    * map-side before the exchange instead of serializing through one
    * window task. */
  def dedupedCorpus(documents: DataFrame): DataFrame = {
    val fp = documents
      .select(col("doc_id"), fingerprintCol(col("text")).as("fingerprint"))
    Scale.keyAggJoin(fp, Seq("fingerprint"),
        Seq(min(col("doc_id")).as("__winner")))
      .withColumn("keep", col("doc_id") === col("__winner"))
      .drop("__winner")
      .orderBy("doc_id")
  }

  // ------------------------------------- decode-once combined report

  /** DECODE-ONCE text report frame — the 100 TB shape of the document
    * family, the [[NeuriteAtlas.morphReport]] / [[Traces.traceReport]]
    * discipline applied to text: the standalone screens each pay a
    * full corpus scan (re-reading and re-tokenizing every payload —
    * the dominant cost at scale); a deployment trains the three
    * corpus-level models ONCE batch-side ([[Frequency.rarityModel]],
    * [[LmScreen.lmModel]], [[Dsir.dsirModel]] — the frozen-model
    * contract), then computes this frame in ONE pure row-local pass
    * (ZERO exchanges, plan-pinned: every kernel is a column
    * expression, the models ride inside their kernels as hash maps) and
    * persists it WITHOUT the text column. Every per-doc screen
    * becomes a column read over the narrow frame, and every
    * corpus-level view (lang confusion, fingerprint dedup, split
    * manifest, keep statistics) aggregates the frame — no payload is
    * ever re-read. The kernels are the SAME expression objects the
    * standalone operators project from (shared `with*Cols` /
    * `*ScoreRowLocal` functions), so the views cannot drift —
    * spec-proven equal per view.
    *
    * Columns: identity + declared metadata (doc_id, lang, source,
    * n_chars), q37/q46 predicted_lang, q38 quality fields
    * (computed_chars…is_quality), q39 token counts, q54 repetition
    * fields, q40/q42/q70 fingerprint, q30 content_hash, q75 rar_*,
    * q100 lm_*, q101 dsir_*.
    *
    * CONSTRUCTION RULE: build a wide row-local frame with one or two
    * `select`s, never a `withColumn` ladder — each `withColumn`
    * re-analyses the whole plan (this frame's 40-step ladder built 84
    * analysed Projects and took ~0.5 s to construct). Two, not one:
    * the first projection materialises the token arrays several
    * features share, the second selects every feature column over them
    * (plan-pinned: ≤ 2 ProjectExec, no lambda). Inlining the arrays
    * into one projection re-tokenizes once per reference. */
  def docReport(documents: DataFrame,
                rarityModel: (Map[String, Long], Long),
                lmModel: LmScreen.LmModel,
                dsirModel: Dsir.DsirModel,
                benchWindowHashes: Seq[Long] = Nil): DataFrame = {
    // projection 1: the shared token arrays, each tokenized once
    val arrays = documents.select(col("*"),
      TextModels.regexTokens.as("__rt"), TextModels.wsTokens.as("__wt"),
      Dedup.tokens(col("text")).as("__tx"), split(trim(col("text")), " +").as("__st"))
    // projection 2: every feature column, over the same kernels the
    // standalone operators score with
    val features =
      (predictedLangCol.as("predicted_lang") +: qualityCols) ++
        tokenCountCols(col("__st"), col("__rt")) ++
        repetitionCols(col("__tx")) ++ entropyCols(col("__tx")) ++
        gopherCols(col("__wt")) ++
        Seq(fingerprintCol(col("text")).as("fingerprint"),
          md5(col("text").cast(BinaryType)).as("content_hash"),
          Corpus.chunkSpansCol(col("__rt")).as("chunks")) ++
        Frequency.rarityCols(col("__rt"), rarityModel._1, rarityModel._2) ++
        LmScreen.lmCols(col("__wt"), lmModel) ++
        Dsir.dsirCols(col("__wt"), dsirModel) ++
        // q113's frozen-set probe + the q114 apply (the benchmark window
        // set is the fourth frozen model; Nil is legal and yields empty
        // spans with the clean hash equal to the content's own
        // normalized hash)
        Dedup.contamApplyCols(col("__wt"), benchWindowHashes)
    val keep = documents.columns.toSeq.filter(_ != "text").map(c => col(c))
    arrays.select(keep ++ features: _*)
  }

  // Views over the (persisted) report frame — each must reproduce its
  // standalone operator exactly (spec-proven in DocReportSpec).

  /** q37 over the frame. */
  def reportLangId(report: DataFrame): DataFrame =
    report.groupBy("lang", "predicted_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted_lang")

  /** q46 over the frame. */
  def reportContentCheck(report: DataFrame): DataFrame =
    report.select(col("doc_id"), col("lang"), col("predicted_lang"),
        col("n_chars"), col("computed_chars"))
      .withColumn("lang_match", col("lang") === col("predicted_lang"))
      .withColumn("chars_match", col("n_chars") === col("computed_chars"))
      .filter(!col("lang_match") || !col("chars_match"))
      .orderBy("doc_id")

  /** q38 over the frame. */
  def reportQuality(report: DataFrame): DataFrame =
    report.select(col("doc_id"), col("computed_chars").as("n_chars"),
        col("n_alpha"), col("n_punct"), col("n_stopword_the"),
        col("alpha_bp"), col("is_quality"))
      .orderBy("doc_id")

  /** q39 over the frame. */
  def reportTokenCounts(report: DataFrame): DataFrame =
    report.select("doc_id", "n_ws_tokens", "n_distinct_tokens", "n_bpe_tokens")
      .orderBy("doc_id")

  /** q54 over the frame. */
  def reportRepetition(report: DataFrame): DataFrame =
    report.select("doc_id", "top_token_bp", "top_2gram_bp", "dup_3gram_bp",
        "is_repetitive")
      .orderBy("doc_id")

  /** q40 over the frame — the class-size election re-runs on the
    * PERSISTED fingerprint (same keyAggJoin shape, no text). */
  def reportFingerprint(report: DataFrame): DataFrame =
    Scale.keyAggJoin(report.select("doc_id", "fingerprint"),
        Seq("fingerprint"), Seq(count(lit(1)).as("n_same_fingerprint")))
      .orderBy("doc_id")

  /** q30 over the frame. */
  def reportExactDedup(report: DataFrame): DataFrame =
    report.groupBy(col("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_id"))
      .orderBy("content_hash")

  /** q42 over the frame. */
  def reportDedupApply(report: DataFrame): DataFrame =
    Scale.keyAggJoin(report.select("doc_id", "fingerprint"),
        Seq("fingerprint"), Seq(min(col("doc_id")).as("__winner")))
      .withColumn("keep", col("doc_id") === col("__winner"))
      .drop("__winner")
      .orderBy("doc_id")

  /** q70 over the frame — same "split:" salt on the persisted
    * fingerprint; n_tokens is the frame's BPE-regex count (the ONE
    * corpus segmentation). */
  def reportDatasetSplit(report: DataFrame, valBp: Int, testBp: Int): DataFrame = {
    require(valBp >= 0 && testBp >= 0 && valBp + testBp < 10000,
      s"val+test must leave room for train: val=$valBp test=$testBp bp")
    val h = Dedup.md5_60(concat(lit("split:"), col("fingerprint")))
    val split = when(h < lit(testBp.toLong * Corpus.RateQuantum), "test")
      .when(h < lit((testBp.toLong + valBp) * Corpus.RateQuantum), "val")
      .otherwise("train")
    report.select(col("doc_id"), col("source"), split.as("split"),
        col("n_bpe_tokens").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** q75 over the frame (the batch screen's ≥1-token contract). */
  def reportRarity(report: DataFrame): DataFrame =
    Frequency.rarityView(report).orderBy("doc_id")

  /** q100 over the frame. */
  def reportLmScreen(report: DataFrame): DataFrame =
    LmScreen.lmView(report).orderBy("doc_id")

  /** q102 over the frame — the nested chunk array explodes back to
    * the span rows. */
  def reportChunkSpans(report: DataFrame): DataFrame =
    report.select(col("doc_id"), explode(col("chunks")).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.start_tok"),
        col("c.end_tok"), col("c.n_chunk_tokens"), col("c.chunk_hash"))
      .orderBy("doc_id", "chunk_idx")

  /** q101 over the frame. */
  def reportDsir(report: DataFrame): DataFrame =
    Dsir.dsirView(report).orderBy("doc_id")

  /** q114 over the frame: the cut manifest reads straight off the
    * persisted columns (spans → counts, the stored clean hash) —
    * benchmark rows filtered at view time, exactly like q113's view. */
  def reportDecontamApply(report: DataFrame): DataFrame =
    Dedup.decontamView(report).orderBy("doc_id")

  /** q113 over the frame (frame built with the frozen benchmark window
    * set): explode the nested spans of CORPUS docs — the frame holds
    * every doc, including the benchmark split, whose self-matching
    * spans q113 by definition excludes. */
  def reportContamSpans(report: DataFrame): DataFrame =
    Dedup.contamSpansView(report).orderBy("doc_id", "start_pos")
}
