package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact heavy hitters via the two-pass sketch→verify plan — the
  * frequency-analysis report every large-corpus pipeline needs (which
  * sources/tokens/ids dominate the data), analogous to the reference's
  * tabulated per-type counts (reference
  * src/schemas/check_schema_validation.py summary tables) but built to
  * survive a billion-key domain.
  *
  * Pass 1: a mergeable Misra-Gries sketch ([[graft.functions.MgSketch]])
  * computes a candidate superset — map-side combined, so only
  * capacity-sized summaries cross the wire, never the distinct domain.
  * Pass 2: exact counts restricted to the broadcast candidate set, then
  * the φ-threshold filter. MG guarantees no key above N/(capacity+1)
  * is missed, so with capacity+1 ≥ 1/φ the result is EXACT — which is
  * what makes an approximate-sketch plan oracle-checkable against a
  * plain GROUP BY.
  *
  * At 100 TB: a direct groupBy over URLs/tokens shuffles billions of
  * keys to find the top handful; this plan shuffles
  * O(capacity × partitions) for pass 1 and only candidate-key rows
  * (semi-join, broadcast) for pass 2.
  */
object Frequency {

  /** keys with frequency share strictly above `phiBp` basis points,
    * with exact counts. Requires capacity+1 ≥ 10000/phiBp (the MG
    * no-miss condition).
    *
    * `shareScan = true` (default): a round-robin repartition makes the
    * keyed projection an Exchange BOTH passes consume — Spark plans it
    * once (ReusedExchange, plan-pinned): the source is scanned and the
    * key extracted exactly once, and pass 2 re-reads only the shuffled
    * key column (~8 B/row) instead of re-running the scan+extraction.
    * The right trade when extraction is expensive relative to the key
    * (q47's JSON parse). Pass `false` when the keyed frame is LARGER
    * than its source (an exploded token stream): re-running the
    * row-local extraction twice is cheaper than materializing a
    * corpus-sized shuffle — see [[groupedHeavyHitters]]. */
  def exactHeavyHitters(df: DataFrame, key: Column, phiBp: Int,
                        capacity: Int = 256, shareScan: Boolean = true): DataFrame = {
    require((capacity + 1).toLong * phiBp >= 10000L,
      s"capacity $capacity too small for phi=$phiBp bp: candidates above the threshold could be missed")
    val projected = df.select(key.as("k")).filter(col("k").isNotNull)
    val keyed =
      if (shareScan)
        projected.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
      else projected
    // sketch AND total in one aggregate — pass 1 is a single scan; the
    // total rides along on the exploded candidate frame so pass 2 needs
    // no third read of the data
    val cands = keyed
      .agg(graft.functions.MgSketch.mg_sketch(col("k"), capacity).as("c"),
        count(lit(1)).as("n_total"))
      .select(explode(col("c")).as("k"), col("n_total"))
    keyed.join(broadcast(cands), Seq("k"))
      .groupBy("k", "n_total").agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") * 10000L > col("n_total") * phiBp)
      .select(col("k"), col("n_occurrences"),
        expr("(10000 * n_occurrences) DIV n_total").as("share_bp"))
      .orderBy("k")
  }

  /** Rows whose raw extracted `$.k` string is a strict integer literal
    * of AT MOST 18 DIGITS — a deliberately conservative gate: every
    * match fits a BIGINT with no overflow check needed, but valid
    * 19-digit BIGINTs (10¹⁸..2⁶³−1 and their negatives) are excluded
    * by design. The SAME regexp gates the DuckDB oracle, so the
    * heavy-hitter denominator (n_total) is defined identically in
    * both engines regardless of what the JSON holds (a bare cast would
    * diverge: Spark ANSI errors on non-numerics, DuckDB hard-casts;
    * a 19-digit gate would need TRY_CAST-style range checks in both).
    * Anchored with \z, not $: Java regex lets $ match before a trailing
    * newline while RE2 (DuckDB) does not — \z means end-of-text in
    * both. */
  val IntegerKeyPattern = "^-?[0-9]{1,18}\\z"

  /** q47 instance: heavy hitters of the JSON `k` property over events
    * (share > 0.5%). */
  def eventKeyHeavyHitters(events: DataFrame): DataFrame = {
    val raw = get_json_object(col("props"), "$.k")
    exactHeavyHitters(events.filter(raw.rlike(IntegerKeyPattern)),
      raw.cast(org.apache.spark.sql.types.LongType),
      phiBp = 50, capacity = 256)
  }

  /** GROUPED exact heavy hitters: the [[exactHeavyHitters]] discipline
    * with a group key — one MG sketch (and one total) per group in a
    * single map-side-combined aggregate, candidates broadcast back for
    * the exact verify. String keys ride as the engine's cross-engine
    * 60-bit md5 inside the Long-keyed sketch; the verify pass counts by
    * the ORIGINAL string, so a (vanishingly unlikely) hash collision
    * can only add a candidate, never corrupt a count — output stays
    * exact. The MG no-miss bound applies per group (each group's
    * denominator is its own total). */
  def groupedHeavyHitters(df: DataFrame, group: Column, key: Column,
                          phiBp: Int, capacity: Int = 256): DataFrame = {
    require((capacity + 1).toLong * phiBp >= 10000L,
      s"capacity $capacity too small for phi=$phiBp bp: candidates above the threshold could be missed")
    // deliberately NOT the shared-exchange trick used by
    // [[exactHeavyHitters]]: here the keyed frame is an exploded token
    // stream whose shuffle payload (grp, token, hash per row) is LARGER
    // than the source text, so materializing it to shuffle files costs
    // more than running the row-local explode+hash twice — measured at
    // bench SF and strictly worse at 100 TB (a corpus-sized shuffle
    // write vs a second CPU-only pass over the scan)
    val keyed = df.select(group.as("grp"), key.as("k"))
      .filter(col("k").isNotNull)
      .withColumn("h", Dedup.md5_60(col("k")))
    val cands = keyed.groupBy("grp")
      .agg(graft.functions.MgSketch.mg_sketch(col("h"), capacity).as("c"),
        count(lit(1)).as("n_total"))
      .select(col("grp"), explode(col("c")).as("h"), col("n_total"))
    keyed.join(broadcast(cands), Seq("grp", "h"))
      .groupBy("grp", "k", "n_total").agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") * 10000L > col("n_total") * phiBp)
      .select(col("grp"), col("k"), col("n_occurrences"),
        expr("(10000 * n_occurrences) DIV n_total").as("share_bp"))
      .orderBy("grp", "k")
  }

  /** q75: corpus-adaptive RARE-TOKEN screen — the integer-exact sibling
    * of perplexity filtering (CCNet/Gopher-style: score each document
    * against a model trained on the corpus ITSELF, cut the tail). The
    * "model" is the exact heavy-hitter vocabulary (token share >
    * `phiBp` of the whole token stream — the two-pass sketch+verify
    * discipline above, so the token domain never shuffles), collected
    * and carried into a third row-local pass that scores every token:
    *
    *   cost(tok) = N·10⁴ DIV count(tok)        (inverse frequency —
    *     a Zipf surprisal proxy; same RANKING as −log p, chosen
    *     because both engines compute it exactly in BIGINT, where a
    *     float log2 could flip a floor at the ulp)
    *   cost(OOV) = N·10⁴ DIV (at-threshold count + 1)   (every
    *     out-of-vocabulary token is AT MOST threshold-frequent, so it
    *     pays the ceiling)
    *
    * Output per document (docs with ≥1 token): token count, OOV count
    * and share, mean token cost, and the `is_tail` flag (OOV share >
    * `fenceOovBp`). Plan: the model trains in two linear passes
    * ([[TextModels]]: sketch, then verify — run at construction), then
    * one scoring pass: the `rarity_score` kernel per document over the
    * collected vocabulary ([[rarityScoreRowLocal]]) and [[rarityView]],
    * sorted — one scan, no join, no broadcast, and the only exchange is
    * the output sort; nothing keyed by token ever crosses the wire.
    * N·10⁴ must fit BIGINT: fine to ~10¹⁵ tokens (≈ 4 PB of text),
    * beyond the 100 TB design point. */
  def rarityScreen(docs: DataFrame, phiBp: Int = 10, capacity: Int = 1024,
                   fenceOovBp: Int = 5000): DataFrame = {
    val (vocab, nTotal) = TextModels.train(docs, TextModels.RarityOnly, phiBp, capacity).rarity.get
    rarityView(rarityScoreRowLocal(docs, vocab, nTotal, phiBp, fenceOovBp)).orderBy("doc_id")
  }

  /** The q75 vocabulary MODEL, collected to the driver: (token → exact
    * count, total token count). Bounded by `capacity` entries — a
    * broadcast-sized model like the IVF centroids, NOT a data-scale
    * collect. Trained by [[TextModels]] together with the release's LM
    * and DSIR models (the first of the three builders trains all
    * three). Score an ingest stream row-locally with
    * [[graft.streaming.DocStreams.rarityLookup]]. */
  def rarityModel(docs: DataFrame, phiBp: Int = 10,
                  capacity: Int = 1024): (Map[String, Long], Long) =
    TextModels.forRelease(docs, phiBp, capacity,
      TextModels.RarityOnly)(_.rarity, _.copy(rarity = None))

  /** the q75 per-document fields against the FROZEN collected
    * vocabulary — `rar_n_tokens` / `rar_n_oov` / `rar_oov_bp` /
    * `rar_mean_cost` / `rar_is_tail` over a regex token array (null for
    * null text: every field null; the oov/cost fields are null for
    * token-less documents). Same integer formulas as [[rarityScreen]],
    * one kernel per row ([[graft.functions.TextKernels.RarityScore]]).
    * The column list [[TextAnalysis.docReport]] selects. */
  def rarityCols(regexToks: Column, model: Map[String, Long], nTotal: Long,
                 phiBp: Int = 10, fenceOovBp: Int = 5000): Seq[Column] = {
    val k = graft.functions.TextKernels.rarity_score(regexToks, model, nTotal, phiBp, fenceOovBp)
    graft.functions.TextKernels.RarityType.fieldNames.toSeq.map(f => k.getField(f).as(f))
  }

  /** Row-local scoring against the FROZEN collected q75 vocabulary,
    * appended as the [[rarityCols]] fields (all other columns ride
    * through; [[rarityView]] applies the batch screen's rar_n_tokens > 0
    * contract) — no state, no shuffle. The kernel's struct leaves
    * through `inline` of a one-element array: a filter on its fields
    * then stays above the Generate, where Catalyst would otherwise push
    * it below the projection and tokenize and score every row twice
    * (once in the Filter, once in the Project). The batch q75 and the
    * stream twin [[graft.streaming.DocStreams.rarityLookup]]. */
  def rarityScoreRowLocal(docs: DataFrame, model: Map[String, Long], nTotal: Long,
                          phiBp: Int = 10, fenceOovBp: Int = 5000): DataFrame =
    docs.select(col("*"), inline(array(graft.functions.TextKernels.rarity_score(
      TextModels.regexTokens, model, nTotal, phiBp, fenceOovBp))))

  /** the q75 columns (doc_id, n_tokens, n_oov, oov_bp, mean_cost,
    * is_tail) over a frame carrying the [[rarityCols]], documents with
    * at least one token only, unordered — the one output projection of
    * the batch screen (which sorts it), the stream lookup and the
    * report view. */
  def rarityView(scored: DataFrame): DataFrame =
    scored.filter(col("rar_n_tokens") > 0)
      .select(col("doc_id"), col("rar_n_tokens").as("n_tokens"),
        col("rar_n_oov").as("n_oov"), col("rar_oov_bp").as("oov_bp"),
        col("rar_mean_cost").as("mean_cost"), col("rar_is_tail").as("is_tail"))

  /** q68 instance: the per-source TOP-TERMS report over the corpus
    * (tokens with share > 2% within their source) — the vocabulary-
    * dominance card a training-data release ships with. Tokens use the
    * ONE corpus segmentation ([[Corpus.tokenCountCol]]'s regex), so
    * term shares and token budgets agree. The explode is row-local
    * (Generate, no shuffle); only sketch summaries and candidate-key
    * rows ever cross the wire — the token DOMAIN never shuffles. */
  def sourceTopTerms(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"),
      explode(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)")).as("tok"))
    groupedHeavyHitters(toks, col("source"), col("tok"),
      phiBp = 200, capacity = 256)
      .withColumnRenamed("grp", "source").withColumnRenamed("k", "token")
  }

  // ------------------------------------------------------------------
  // q109: PMI collocations
  // ------------------------------------------------------------------

  /** per-language vocabulary size for the PMI pair domain. */
  val PmiVocabK = 16

  /** collocations reported per language. */
  val PmiTopK = 8

  /** minimum pair support — a pair seen twice is noise, not a
    * collocation. */
  val PmiMinPair = 3L

  /** the LAZY restricted-pair count frame (vocab election + the two
    * broadcast semi-joins + the one map-side-combined pair count) —
    * exposed for the plan pin now that [[pmiCollocations]] localizes
    * its result. */
  private[graft] def pmiPairCounts(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("lang"), TextModels.wsTokens.as("tk"))
    val counts = toks.select(col("lang"), explode(col("tk")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
    // vocab (≤ V·langs rows) is MODEL-sized — localized so the election
    // runs once instead of per semi-join broadcast
    val vocab = Scale.localized(
      graft.plans.TopKPerKey(counts, Seq(col("lang")),
          Seq(col("cnt").desc, col("tok").asc), PmiVocabK)
        .select("lang", "tok"))
    toks.select(col("lang"), explode(expr(
        """CASE WHEN size(tk) >= 2
          |THEN transform(sequence(0, size(tk) - 2), i -> struct(tk[i] AS w1, tk[i + 1] AS w2))
          |ELSE array() END""".stripMargin)).as("p"))
      .select(col("lang"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .join(broadcast(vocab.select(col("lang"), col("tok").as("w1"))),
        Seq("lang", "w1"), "left_semi")
      .join(broadcast(vocab.select(col("lang"), col("tok").as("w2"))),
        Seq("lang", "w2"), "left_semi")
      .groupBy("lang", "w1", "w2").agg(count(lit(1)).as("c_pair"))
  }

  /** q109: PMI COLLOCATIONS per language — the corpus-analysis card
    * behind tokenizer-vocabulary and stopword decisions (which
    * adjacent word pairs cohere far beyond chance): for each language,
    * the top-[[PmiTopK]] adjacent pairs over the top-[[PmiVocabK]]
    * vocabulary by pointwise mutual information,
    * PMI = log2( c(a,b)·N / (c₁(a)·c₂(b)) ) with marginals taken over
    * the restricted pair domain (so Σ_b c(a,b) = c₁(a) exactly).
    *
    * EXACTNESS: PMI is irrational; it is DEFINED here in 1/1024-bit
    * units as the SIGNED sum of four fixed-point floor-logs on the
    * q100 kernel — l(c_pair) + l(N) − l(c₁) − l(c₂) with
    * l(x) = log2mb(1, x) — each argument a plain count < 2⁶², so the
    * form never multiplies counts and cannot overflow at ANY corpus
    * size (c·N products would pass 2⁶³ at ~10¹³ pairs). The oracle
    * replays the four cascades digit-for-digit via one dom union.
    *
    * Scale shape: the vocabulary is the bounded-heap TopKPerKey
    * election (a per-lang count window would serialize the dominant
    * language); the pair stream is restricted row-locally by two
    * BROADCAST left-semi joins against the ≤ V·langs vocab before the
    * ONE map-side-combined (lang, w1, w2) count — ≤ V² rows per lang
    * survive, so marginals, N, the kernel and the election all run on
    * model-sized frames.
    *
    * NOTE (r19 semantics): CONSTRUCTION executes Spark jobs — the
    * restricted pair counts are collected and re-entered as a local
    * relation ([[Scale.localized]]), so building this frame pays the
    * corpus pass up front and snapshots source state at build time. */
  def pmiCollocations(docs: DataFrame): DataFrame = {
    import graft.functions.LogExpressions.log2mb
    // the restricted pair counts (≤ V² per lang) are MODEL-sized —
    // localized so the pair pipeline runs once: left lazy, it re-ran
    // for each of its four consumers (marginals ×2, totals, scoring) —
    // 12 corpus scans / 26 exchanges in the before-plan
    val pairCounts = Scale.localized(pmiPairCounts(docs))
    val m1 = pairCounts.groupBy("lang", "w1").agg(sum("c_pair").as("c1"))
    val m2 = pairCounts.groupBy("lang", "w2").agg(sum("c_pair").as("c2"))
    val nl = pairCounts.groupBy("lang").agg(sum("c_pair").as("n_pairs"))
    val scored = pairCounts
      .join(broadcast(m1), Seq("lang", "w1"))
      .join(broadcast(m2), Seq("lang", "w2"))
      .join(broadcast(nl), Seq("lang"))
      .filter(col("c_pair") >= PmiMinPair)
      .withColumn("pmi_mb",
        log2mb(lit(1L), col("c_pair")) + log2mb(lit(1L), col("n_pairs"))
          - log2mb(lit(1L), col("c1")) - log2mb(lit(1L), col("c2")))
    graft.plans.TopKPerKey(scored, Seq(col("lang")),
        Seq(col("pmi_mb").desc, col("w1").asc, col("w2").asc), PmiTopK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
          .orderBy(col("pmi_mb").desc, col("w1").asc, col("w2").asc)).cast("long"))
      .select(col("lang"), col("rank"), col("w1"), col("w2"),
        col("c_pair").as("pair_n"), col("pmi_mb"))
      .orderBy("lang", "rank")
  }

  // ------------------------------------------------------------------
  // q111: vocabulary drift between releases
  // ------------------------------------------------------------------

  /** tracked vocabulary size for the drift card. */
  val DriftVocabK = 32

  /** q111: VOCABULARY DRIFT between corpus releases — the token-level
    * release monitor beside q64 (doc membership) and q106 (embedding
    * space): a re-release that silently shifts topical composition
    * moves token SHARES long before doc counts look wrong. For each of
    * release A's top-[[DriftVocabK]] tokens: both releases' counts,
    * A-side share in bp, and the smoothed log-probability-ratio drift
    * drift_mb = log2( p̂_A(t) / p̂_B(t) ) in 1/1024-bit units, with
    * p̂(t) = (c+1)/(N+V) — defined as the SIGNED sum of four
    * floor-logs on the q100 kernel ([l(c_A+1) − l(c_B+1)] +
    * [l(N_B+V) − l(N_A+V)], every argument a plain count — the q109
    * no-multiply discipline, overflow-free at any corpus size).
    * Biggest movers first (abs drift desc, token asc).
    *
    * Scale shape: the vocabulary elects on a K-bounded TakeOrdered;
    * each release pays ONE token scan — a broadcast semi-join
    * restricts the stream to the 32 tracked tokens BEFORE its
    * map-side-combined count, and the totals are 1-row aggregates
    * broadcast back; the kernel and ranking run on ≤K rows.
    *
    * NOTE (r19 semantics): CONSTRUCTION executes Spark jobs — the A
    * counts are localCheckpoint'ed and the ≤K vocab/B-aggregate frames
    * collected ([[Scale.localized]]) at build time, not at first
    * action. */
  def vocabDrift(relA: DataFrame, relB: DataFrame): DataFrame = {
    import graft.functions.LogExpressions.log2mb
    val v = lit(DriftVocabK.toLong)
    def toks(rel: DataFrame) = rel.select(explode(TextModels.wsTokens).as("tok"))
    val ta = toks(relA)
    // ONE scan per release (the before-plan paid 3 of A and 2 of B):
    // A's full token counts are checkpointed — the vocabulary election,
    // its grand total (n_a == Σ counts == token count) and the tracked
    // rows all derive from the materialized frame; B restricts to the
    // tracked tokens ROW-LOCALLY (literal membership over the ≤K
    // collected vocab) so its tracked counts and its total come out of
    // the same aggregate (null group = every untracked token).
    val countsA = ta.groupBy("tok").agg(count(lit(1)).as("c_a")).localCheckpoint()
    val vocab = graft.operators.Scale.localized(
      countsA.orderBy(col("c_a").desc, col("tok").asc).limit(DriftVocabK))
    val vset = vocab.collect().map(_.getString(0)).toSeq
    val bAgg = graft.operators.Scale.localized(
      toks(relB)
        .select(when(if (vset.isEmpty) lit(false) else col("tok").isin(vset: _*),
          col("tok")).as("vt"))
        .groupBy("vt").agg(count(lit(1)).as("c")))
    val cb = bAgg.filter(col("vt").isNotNull)
      .select(col("vt").as("tok"), col("c").as("c_b"))
    // coalesce(…, 0): an empty release must yield total 0 (the old
    // count(*) semantics), not a null that would null the kernel
    val na = countsA.agg(coalesce(sum("c_a"), lit(0L)).as("n_a"))
    val nb = bAgg.agg(coalesce(sum("c"), lit(0L)).as("n_b"))
    val scored = vocab
      .join(cb, Seq("tok"), "left")
      .na.fill(0L, Seq("c_b"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .withColumn("share_bp", expr("(10000 * c_a) DIV n_a"))
      .withColumn("drift_mb",
        log2mb(lit(1L), col("c_a") + 1L) - log2mb(lit(1L), col("c_b") + 1L)
          + log2mb(lit(1L), col("n_b") + v) - log2mb(lit(1L), col("n_a") + v))
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(abs(col("drift_mb")).desc, col("tok").asc)).cast("long"))
      .select(col("rank"), col("tok"), col("c_a"), col("c_b"),
        col("share_bp"), col("drift_mb"))
      .orderBy("rank")
  }

  /** q121: ZIPF FIT card — the per-language rank-frequency health
    * check a corpus audit reads beside the q109/q111 token cards
    * (natural language follows freq ∝ rank^(−α) with α ≈ 1; a far-off
    * exponent flags machine-generated, templated or mis-identified
    * text): the Zipf exponent is estimated by EXACT fixed-point least
    * squares over the top-K (log₂ rank, log₂ count) points — both
    * logs in 1/1024-bit units on the q100 `log2mb` kernel, the slope
    * as an integer quotient of the standard normal-equation sums.
    * α is the NEGATED slope, and counts are non-increasing in rank,
    * so the numerator is provably non-negative — Spark's truncating
    * DIV and DuckDB's flooring // agree (the q119 clamp discipline,
    * satisfied here by construction). `alpha_mb` ≈ 1024·α.
    *
    * Overflow audit at any corpus size: x ≤ 1024·log₂K ≈ 5·2¹⁰,
    * y < 62·2¹⁰, so n·Σxy < 2³⁹ and every normal-equation product
    * stays far under 2⁶³ — no decimal widening needed.
    *
    * Scale shape: ONE map-side-combined (lang, tok) count; the top-K
    * election is the bounded-heap TopKPerKey (never a per-lang count
    * window); the rank window and the kernel run on ≤K rows per
    * language; one language-dimension rollup ends the plan. */
  def zipfCard(docs: DataFrame, k: Int = 32): DataFrame = {
    require(k >= 2, s"a slope needs at least 2 ranks, got k=$k")
    val counts = docs
      .select(col("lang"),
        explode(Dedup.tokens(coalesce(col("text"), lit("")))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
    val top = graft.plans.TopKPerKey(counts, Seq(col("lang")),
      Seq(col("c").desc, col("tok")), k)
    val ranked = top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")
          .orderBy(col("c").desc, col("tok"))).cast("long"))
      .withColumn("x", graft.functions.LogExpressions.log2mb(lit(1L), col("rank")))
      .withColumn("y", graft.functions.LogExpressions.log2mb(lit(1L), col("c")))
    ranked.groupBy("lang").agg(
        count(lit(1)).as("n_top"),
        max(when(col("rank") === 1L, col("tok"))).as("top_token"),
        max(when(col("rank") === 1L, col("c"))).as("top_count"),
        sum(col("x")).as("__sx"), sum(col("y")).as("__sy"),
        sum(col("x") * col("y")).as("__sxy"),
        sum(col("x") * col("x")).as("__sxx"))
      .withColumn("alpha_mb", expr(
        """CAST(CASE WHEN n_top * __sxx - __sx * __sx > 0
          |THEN (1024 * (__sx * __sy - n_top * __sxy)) DIV (n_top * __sxx - __sx * __sx)
          |ELSE 0 END AS BIGINT)""".stripMargin))
      .select("lang", "n_top", "top_token", "top_count", "alpha_mb")
      .orderBy("lang")
  }
}
