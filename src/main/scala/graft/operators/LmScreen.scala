package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bigram language-model perplexity screen (q100) — the SEQUENCE-model
  * sibling of q75's unigram Zipf screen, completing the classic
  * quality-filter pair a large-scale training-data pipeline runs
  * (CCNet/Gopher score documents with an n-gram LM trained on a
  * trusted reference slice and cut the high-perplexity tail; the
  * reference repo's recurring shape is the same — content judged
  * against a model built from a curated slice, e.g.
  * /root/reference/src/trace/fix/check_nwb_stimulus_match.py).
  *
  * Semantics: a bigram model with Laplace smoothing is trained on the
  * frozen TRAIN slice (doc_id % [[TrainMod]] == 0 — standing in for
  * the curated reference corpus); the vocabulary is the top-[[VocabK]]
  * train tokens under the TOTAL order (count desc, token asc), every
  * other token maps to the `<unk>` class. Every document (train or
  * not) is then scored: per bigram (w₁,w₂),
  * surprisal = log2( (c(w₁)+V+1) / (c(w₁,w₂)+1) ) with train-slice
  * bigram/context counts and V+1 the smoothing domain (vocab + unk);
  * per document the bigram count, total surprisal and per-bigram mean,
  * cut against [[KeepMaxMb]].
  *
  * EXACTNESS — the fixed-point log2 kernel
  * ([[graft.functions.LogExpressions]], a codegen Catalyst
  * Expression). Perplexity is irrational and cross-engine float logs
  * do not hash-match, so the surprisal is DEFINED in 1/1024-bit units
  * ("mb") by an int64-only floor algorithm both engines replay
  * digit-for-digit — exponent cascade, restoring-division mantissa,
  * log-by-repeated-squaring fraction — exact on the FULL count domain
  * b < 2⁶² (the division recurrence never forms the b·2³⁰ product
  * that would overflow int64). The DuckDB oracle carries the same
  * unrolled steps as chained CTEs ([[log2mbSqlCtes]]).
  *
  * Scale shape: the log2 kernel runs on the driver over MODEL-sized
  * collections only (≤ (K+1)² bigram counts + K+1 contexts + 1,
  * [[TextModels]]), never on the document stream. Train token counts
  * hash-shuffle a bounded token domain with map-side combine; the
  * vocabulary election is a K-bounded TakeOrdered (the distributed
  * top-K plan: per-partition heaps, K rows to the driver); mapped
  * bigram counts collapse map-side to ≤ (K+1)² rows. Scoring is one
  * row-local `lm_score` kernel per document over the collected model
  * (the per-language form: a table of models keyed by `lang`) — one
  * corpus scan, no join, no broadcast, and the only exchange is the
  * output sort. The same kernel scores the stream door and the report
  * frame.
  */
object LmScreen {

  /** train slice: doc_id % TrainMod == 0 (a frozen 20% reference
    * corpus stand-in). */
  val TrainMod = 5

  /** vocabulary size: top-K train tokens by (count desc, token asc). */
  val VocabK = 16

  /** fractional bits of the fixed-point log2 (1/1024-bit units). */
  val FracBits = 10

  /** keep fence: mean surprisal per bigram ≤ this many 1/1024 bits —
    * sits at the corpus's third quartile (sf0.01 avg_mb: q25 3028,
    * median 3223, q75 3410, max 4367), so the screen genuinely cuts
    * the high-perplexity tail at every SF rather than waving
    * everything through. */
  val KeepMaxMb = 3400L

  /** the OOV class token. A literal `<unk>` corpus token would merge
    * into the class — at worst that token is charged the class's
    * smoothed cost, which is already OOV's semantics. */
  val UnkTok = "<unk>"

  /** exponent cascade steps for d = b DIV a < 2⁶²: compare-and-halve
    * producing k = ⌊log2 d⌋ and p = 2ᵏ via literal shifts only (the
    * oracle's spelling of the kernel's numberOfLeadingZeros). */
  val ExpSteps: Seq[Int] = Seq(32, 16, 8, 4, 2, 1)

  /** restoring-division steps: bits of the Q0.30 mantissa fraction. */
  val DivBits = 30

  // ---------------------------------------------------------------
  // the kernel, oracle side: chained-CTE text over a source CTE that
  // carries int64 columns `a`, `b` (1 ≤ a ≤ b < 2⁶²) plus `keyCols`;
  // final CTE `surp` has (keys..., mb). Spliced into
  // SparkEntry.lmScreenSql. Every step is int64 +, ×, floor-DIV and
  // comparisons — no product ever exceeds 2⁶³ (the restoring division
  // doubles a remainder < 2⁶² instead of forming b·2³⁰).
  // ---------------------------------------------------------------

  def log2mbSqlCtes(srcCte: String, keyCols: Seq[String]): String = {
    val ks = keyCols.mkString(", ")
    val norm =
      s"""kc0 AS (SELECT $ks, a, b, b // a AS rest,
         |  CAST(0 AS BIGINT) AS k, CAST(1 AS BIGINT) AS p FROM $srcCte)""".stripMargin
    val exp = ExpSteps.zipWithIndex.map { case (s, i) =>
      s"""kc${i + 1} AS (SELECT $ks, a, b,
         |  CASE WHEN rest >= ${1L << s} THEN rest // ${1L << s} ELSE rest END AS rest,
         |  k + CASE WHEN rest >= ${1L << s} THEN $s ELSE 0 END AS k,
         |  p * CASE WHEN rest >= ${1L << s} THEN ${1L << s} ELSE 1 END AS p FROM kc$i)""".stripMargin
    }
    val dv0 =
      s"""dv0 AS (SELECT $ks, k, a * p AS dd, b - a * p AS rem,
         |  CAST(0 AS BIGINT) AS facc FROM kc${ExpSteps.length})""".stripMargin
    val dv = (1 to DivBits).map { i =>
      s"""dv$i AS (SELECT $ks, k, dd,
         |  CASE WHEN rem * 2 >= dd THEN rem * 2 - dd ELSE rem * 2 END AS rem,
         |  facc * 2 + (CASE WHEN rem * 2 >= dd THEN 1 ELSE 0 END) AS facc FROM dv${i - 1})""".stripMargin
    }
    val lg0 =
      s"""lg0 AS (SELECT $ks, k, ${1L << DivBits} + facc AS r,
         |  CAST(0 AS BIGINT) AS acc FROM dv$DivBits)""".stripMargin
    val frac = (1 to FracBits).map { i =>
      s"""lg$i AS (SELECT $ks, k,
         |  CASE WHEN ((r * r) // ${1L << DivBits}) >= ${1L << 31}
         |       THEN ((r * r) // ${1L << DivBits}) // 2 ELSE ((r * r) // ${1L << DivBits}) END AS r,
         |  acc * 2 + (CASE WHEN ((r * r) // ${1L << DivBits}) >= ${1L << 31} THEN 1 ELSE 0 END) AS acc
         |  FROM lg${i - 1})""".stripMargin
    }
    val fin =
      s"surp AS (SELECT $ks, CAST(k * ${1L << FracBits} + acc AS BIGINT) AS mb FROM lg$FracBits)"
    (Seq(norm) ++ exp ++ Seq(dv0) ++ dv ++ Seq(lg0) ++ frac :+ fin).mkString(",\n")
  }

  // ---------------------------------------------------------------
  // operator
  // ---------------------------------------------------------------

  /** bigram pair structs: an index transform over the token array —
    * ascending sequence sliced so 0/1-token docs yield no pairs. */
  private val BigramsExpr =
    "transform(slice(sequence(0, size(tk)), 1, greatest(size(tk) - 1, 0)), i -> struct(tk[i] AS t1, tk[i + 1] AS t2))"

  /** (group, m1, m2) mapped-bigram stream of the per-group training
    * read; the vocab joins are broadcast (one exchange, reused for both
    * sides), the explode row-local. Vocabulary membership is per group. */
  private def mappedBigrams(docs: DataFrame, vocab: DataFrame, group: String): DataFrame =
    docs.select(col(group), TextModels.wsTokens.as("tk"))
      .select(col(group), explode(expr(BigramsExpr)).as("bg"))
      .select(col(group), col("bg.t1").as("t1"), col("bg.t2").as("t2"))
      .join(broadcast(vocab.select(col(group), col("tok").as("t1"), lit(1).as("__v1"))),
        Seq(group, "t1"), "left")
      .join(broadcast(vocab.select(col(group), col("tok").as("t2"), lit(1).as("__v2"))),
        Seq(group, "t2"), "left")
      .select(col(group),
        when(col("__v1").isNotNull, col("t1")).otherwise(lit(UnkTok)).as("m1"),
        when(col("__v2").isNotNull, col("t2")).otherwise(lit(UnkTok)).as("m2"))

  /** the LAZY per-group vocabulary-election frame — each group's
    * top-[[VocabK]] train tokens under the total (count desc, token
    * asc) order, on the bounded-heap TopKPerKey. Exposed so PlanShapeSpec
    * can pin the election shape now that [[model]] collects its result
    * (the global election is [[TextModels.firstRead]]'s). */
  private[graft] def vocabElection(docs: DataFrame, group: String): DataFrame = {
    val counts = docs.filter(pmod(col("doc_id"), lit(TrainMod.toLong)) === 0)
      .select(col(group), explode(TextModels.wsTokens).as("tok"))
      .groupBy(group, "tok").agg(count(lit(1)).as("cnt"))
    graft.plans.TopKPerKey(counts, Seq(col(group)), Seq(col("cnt").desc, col("tok").asc), VocabK)
      .select(group, "tok")
  }

  /** one collected model per value of the string column `group`: each
    * group elects its vocabulary on the repo's bounded-heap TopKPerKey
    * operator ([[vocabElection]]) and counts its mapped train bigrams in
    * a second read; the surprisals come from the ONE driver-side
    * arithmetic ([[TextModels.lmModel]]) the global model also uses.
    * Documents with a null group train nothing: the oracle's equi-join
    * on the group never matches a null, so no null model exists.
    *
    * NOTE (r19 semantics): building the models EXECUTES Spark jobs at
    * construction time — callers pay the training scans when they call
    * this, not at first action, and the models snapshot source state
    * as of the build. */
  private[operators] def model(docs: DataFrame, group: String): Map[String, LmModel] = {
    val keyed = docs.filter(col(group).isNotNull)
    val election = vocabElection(keyed, group)
    val vocabRows = Scale.bounded(election, VocabK * Corpus.MaxLanguages,
      "LmScreen.vocabElection")
    val vocab = docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(vocabRows: _*), election.schema)
    val train = keyed.filter(pmod(col("doc_id"), lit(TrainMod.toLong)) === 0)
    val pairRows = Scale.bounded(mappedBigrams(train, vocab, group)
        .groupBy(group, "m1", "m2").agg(count(lit(1)).as("c2")),
      (VocabK + 1) * (VocabK + 1) * Corpus.MaxLanguages, "LmScreen.pairCounts")
    val pairsBy = pairRows.toSeq.groupBy(_.getString(0))
    vocabRows.toSeq.groupBy(_.getString(0)).map { case (g, vs) =>
      g -> TextModels.lmModel(vs.map(_.getString(1)),
        pairsBy.getOrElse(g, Nil).map(r => (r.getString(1), r.getString(2), r.getLong(3))))
    }
  }

  /** The collected LM model — bounded ((K+1)² pairs + K+1 contexts +
    * 1), a broadcast-sized object like the IVF centroids or the q75
    * vocabulary, NOT a data-scale collect. Train batch-side on a
    * released corpus, freeze, then score an ingest stream row-locally
    * with [[graft.streaming.DocStreams.lmLookup]]. Pair keys join the
    * two classes with a single space — tokens cannot contain one
    * (they come from a split on spaces). */
  case class LmModel(vocab: Set[String], pairMb: Map[String, Long],
                     ctxMb: Map[String, Long], unkMb: Long)

  /** the global model's key in the one-entry table [[lmCols]] scores
    * against */
  private val GlobalKey = ""

  /** the q100 per-document fields against a FROZEN collected model —
    * `lm_n_bigrams` / `lm_total_mb` / `lm_avg_mb` / `lm_keep` over a
    * whitespace token array: vocabulary fold, pair / context / unseen
    * surprisal lookups and the per-doc mean in one kernel per row
    * ([[graft.functions.TextKernels.LmScore]], the global model a
    * one-entry table under a constant key). The column list both
    * [[lmScoreRowLocal]] and [[TextAnalysis.docReport]] select. */
  def lmCols(wsToks: Column, model: LmModel): Seq[Column] =
    lmCols(wsToks, lit(GlobalKey), Map(GlobalKey -> model))

  /** [[lmCols]] against one model per value of the string column
    * `group` (a null or untrained group scores 0 per bigram) */
  private def lmCols(wsToks: Column, group: Column, models: Map[String, LmModel]): Seq[Column] = {
    val k = graft.functions.TextKernels.lm_score(wsToks, group, models, UnkTok, KeepMaxMb)
    graft.functions.TextKernels.LmType.fieldNames.toSeq.map(f => k.getField(f).as(f))
  }

  /** Row-local scoring against a FROZEN collected model, appended as the
    * [[lmCols]] (all other columns ride through) — no explode, no
    * state, no shuffle. The q101-family stream twin
    * [[graft.streaming.DocStreams.lmLookup]]. */
  def lmScoreRowLocal(docs: DataFrame, model: LmModel): DataFrame =
    docs.select(col("*") +: lmCols(TextModels.wsTokens, model): _*)

  /** the q100 columns (doc_id, lang, n_bigrams, total_mb, avg_mb, keep)
    * over a frame carrying the [[lmCols]], unordered — the one output
    * projection of the batch screens (which sort it), the stream lookup
    * and the report view. */
  def lmView(scored: DataFrame): DataFrame =
    scored.select(col("doc_id"), col("lang"),
      col("lm_n_bigrams").as("n_bigrams"), col("lm_total_mb").as("total_mb"),
      col("lm_avg_mb").as("avg_mb"), col("lm_keep").as("keep"))

  /** the collected global model — trained by [[TextModels]] together
    * with the release's rarity and DSIR models (the first of the three
    * builders trains all three). */
  def lmModel(docs: DataFrame): LmModel =
    TextModels.forRelease(docs, 10, 1024, TextModels.LmOnly)(_.lm, _.copy(lm = None))

  /** q100: the per-document LM screen (see object doc): the global
    * model scored by the row-local kernel, sorted. Columns: doc_id,
    * lang, n_bigrams, total_mb, avg_mb (total_mb/avg_mb null when the
    * document has < 2 tokens), keep. */
  def lmScreen(docs: DataFrame): DataFrame =
    lmView(lmScoreRowLocal(docs, TextModels.train(docs, TextModels.LmOnly).lm.get))
      .orderBy("doc_id")

  /** q100b: the PER-LANGUAGE screen — the deployed CCNet shape: one
    * bigram model per language (per-language vocabulary via the
    * bounded-heap TopKPerKey election, per-language counts and
    * smoothing domain), each document scored against ITS language's
    * model by the same kernel. A multilingual corpus scored against
    * one global model conflates "rare language" with "low quality";
    * per-language models make the fence comparable across languages.
    * Documents of a language absent from the train slice, and
    * documents with a null language, score 0 (no model has nothing to
    * be surprised by — they pass, flagged by n_bigrams as usual). Same
    * columns as q100. */
  def lmScreenPerLang(docs: DataFrame): DataFrame =
    lmView(docs.select(col("*") +:
        lmCols(TextModels.wsTokens, col("lang"), model(docs, "lang")): _*))
      .orderBy("doc_id")
}
