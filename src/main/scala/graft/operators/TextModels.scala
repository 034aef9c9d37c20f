package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.LogExpressions.log2mbKernel

/** The release's three frozen text models — q75 rarity vocabulary,
  * q100 bigram LM, q101 DSIR bucket deltas — trained together in TWO
  * corpus reads, with all model arithmetic on the driver.
  *
  *  - Read 1: one tokenizing scan feeds one map-side-combined aggregate
  *    keyed by (kind, token, bucket): the rarity Misra-Gries sketch and
  *    token total (one group), the LM train-slice token counts (one
  *    group per token) and the DSIR raw/target bucket counts (≤
  *    [[Dsir.Buckets]] groups). One K-bounded TakeOrdered returns the
  *    sketch row, the bucket rows and the top-[[LmScreen.VocabK]] LM
  *    tokens — the vocabulary election is the distributed top-K.
  *  - Read 2: one scan counts the sketch candidates exactly (the verify
  *    pass; candidates probed against a sorted long set) and the
  *    vocabulary-mapped train bigrams (≤ (K+1)² groups).
  *  - Driver: the rarity threshold, context sums, the Laplace domain,
  *    the `log2mb` surprisals, DSIR deltas and totals — plain Long
  *    arithmetic over model-sized collections, each collected once
  *    through [[Scale.bounded]] under its model's own ceiling.
  *
  * Every consumer scores a collected model with its row-local kernel
  * ([[graft.functions.TextKernels]]): the batch screens, the stream
  * lookups and the release report share one scorer per model. */
object TextModels {

  /** the whitespace tokenizer every LM/DSIR token comes from (null text
    * is the one empty token) */
  def wsTokens: Column = Dedup.tokens(coalesce(col("text"), lit("")))

  /** the BPE-ish regex tokenizer rarity counts (null text: no tokens) */
  def regexTokens: Column = expr(Corpus.chunkToksSql("text"))

  case class Parts(rarity: Boolean, lm: Boolean, dsir: Boolean)
  val AllParts: Parts = Parts(rarity = true, lm = true, dsir = true)
  val RarityOnly: Parts = Parts(rarity = true, lm = false, dsir = false)
  val LmOnly: Parts = Parts(rarity = false, lm = true, dsir = false)
  val DsirOnly: Parts = Parts(rarity = false, lm = false, dsir = true)

  /** the collected results of one training run (each present iff its
    * part was trained) */
  case class Trained(rarity: Option[(Map[String, Long], Long)],
                     lm: Option[LmScreen.LmModel],
                     dsir: Option[Dsir.DsirModel])

  private val Rarity = 0
  private val LmTok = 1
  private val DsirBucket = 2

  private def isTrain: Column = pmod(col("doc_id"), lit(LmScreen.TrainMod.toLong)) === 0
  private def isTarget: Column = pmod(col("doc_id"), lit(Dsir.TargetMod.toLong)) === 0
  private def emptyStrings: Column = array().cast(ArrayType(StringType))
  private def emptyInts: Column = array().cast(ArrayType(IntegerType))

  /** read-1 row budget: the sketch row, the bucket rows, the vocabulary */
  def firstReadRows: Int = 1 + Dsir.Buckets + LmScreen.VocabK

  /** the LAZY read-1 frame (exposed for the plan pin) */
  private[graft] def firstRead(docs: DataFrame, parts: Parts, capacity: Int): DataFrame = {
    val rt = if (parts.rarity) coalesce(regexTokens, emptyStrings) else emptyStrings
    val wt = if (parts.lm || parts.dsir) wsTokens else emptyStrings
    val wsKinds = concat(
      if (parts.lm) when(isTrain, array(lit(LmTok))).otherwise(emptyInts) else emptyInts,
      if (parts.dsir) array(lit(DsirBucket)) else emptyInts)
    val toks = docs.select(col("doc_id"), rt.as("__rt"), wt.as("__wt"))
      .select(col("doc_id"), size(col("__rt")).as("__nrt"),
        posexplode(concat(col("__rt"), col("__wt"))).as(Seq("__pos", "tok")))
      .select(col("doc_id"), col("tok"), explode(
        when(col("__pos") < col("__nrt"), array(lit(Rarity))).otherwise(wsKinds)).as("kind"))
    val keyed = toks.select(col("kind"),
      when(col("kind") === LmTok, col("tok")).as("s"),
      when(col("kind") === DsirBucket, Dsir.bucketCol(col("tok"))).as("f"),
      when(col("kind") === Rarity, Dedup.md5_60(col("tok"))).as("h"),
      when(col("kind") === DsirBucket && isTarget, 1L).otherwise(0L).as("tgt"))
    val aggs = Seq(count(lit(1)).as("n"), sum(col("tgt")).as("nt")) ++
      (if (parts.rarity) Seq(graft.functions.MgSketch.mg_sketch(col("h"), capacity).as("sketch"))
       else Seq(lit(null).cast(ArrayType(LongType)).as("sketch")))
    keyed.groupBy("kind", "s", "f").agg(aggs.head, aggs.tail: _*)
      .orderBy(when(col("kind") === LmTok, 1).otherwise(0), col("n").desc, col("s").asc)
      .limit(firstReadRows)
      .select("kind", "s", "f", "n", "nt", "sketch")
  }

  /** the LAZY read-2 frame: exact counts of tokens whose 60-bit hash is
    * a sketch candidate, and vocabulary-mapped train bigram counts */
  private[graft] def secondRead(docs: DataFrame, cands: Seq[Long], vocab: Seq[String],
                                parts: Parts): DataFrame = {
    val rt = if (parts.rarity) coalesce(regexTokens, emptyStrings) else emptyStrings
    val wt = if (parts.lm) when(isTrain, wsTokens).otherwise(emptyStrings) else emptyStrings
    def cls(t: Column): Column =
      if (vocab.isEmpty) lit(LmScreen.UnkTok)
      else when(t.isin(vocab: _*), t).otherwise(lit(LmScreen.UnkTok))
    val pos = docs.select(rt.as("__rt"), wt.as("__wt"))
      .select(col("__wt"), size(col("__rt")).as("__nrt"),
        posexplode(concat(col("__rt"), col("__wt"))).as(Seq("__pos", "tok")))
    val j = col("__pos") - col("__nrt")
    pos.filter(
        (col("__pos") < col("__nrt") && graft.functions.HashExpressions
          .sorted_long_contains(Dedup.md5_60(col("tok")), cands)) ||
        (col("__pos") >= col("__nrt") && j < size(col("__wt")) - 1))
      .select(
        when(col("__pos") < col("__nrt"), lit(Rarity)).otherwise(lit(LmTok)).as("kind"),
        when(col("__pos") < col("__nrt"), col("tok")).otherwise(cls(col("tok"))).as("s1"),
        when(col("__pos") >= col("__nrt"), cls(get(col("__wt"), j + 1))).as("s2"))
      .groupBy("kind", "s1", "s2").agg(count(lit(1)).as("n"))
  }

  /** Train the selected models: two corpus reads (one when only DSIR
    * is asked for), everything else on the driver. */
  def train(docs: DataFrame, parts: Parts, phiBp: Int = 10, capacity: Int = 1024): Trained = {
    require((capacity + 1).toLong * phiBp >= 10000L,
      s"capacity $capacity too small for phi=$phiBp bp: vocabulary tokens could be missed")
    val first = Scale.bounded(firstRead(docs, parts, capacity), firstReadRows,
      "TextModels.firstRead")
    val byKind = first.groupBy(_.getInt(0))
    val nTotal = byKind.getOrElse(Rarity, Array.empty[Row]).headOption.map(_.getLong(3)).getOrElse(0L)
    val cands = byKind.getOrElse(Rarity, Array.empty[Row]).headOption
      .map(_.getSeq[Long](5)).getOrElse(Nil)
    // the TakeOrdered order IS the election order (count desc, token
    // asc in Spark's string order) — never re-sorted here
    val vocab = byKind.getOrElse(LmTok, Array.empty[Row]).take(LmScreen.VocabK).map(_.getString(1)).toSeq
    val second =
      if (!parts.rarity && !parts.lm) Array.empty[Row]
      else Scale.bounded(secondRead(docs, cands, vocab, parts),
        capacity + (LmScreen.VocabK + 1) * (LmScreen.VocabK + 1), "TextModels.secondRead")
    val verify = second.filter(_.getInt(0) == Rarity)
    val pairs = second.filter(_.getInt(0) == LmTok)
    require(verify.length <= capacity,
      s"TextModels.secondRead: expected at most $capacity verified sketch tokens, saw ${verify.length}")
    Trained(
      if (parts.rarity) Some((verify.collect {
          case r if r.getLong(3) * 10000L > nTotal * phiBp => r.getString(1) -> r.getLong(3)
        }.toMap, nTotal))
      else None,
      if (parts.lm) Some(lmModel(vocab, pairs.toSeq.map(r => (r.getString(1), r.getString(2), r.getLong(3)))))
      else None,
      if (parts.dsir) Some(dsirModel(byKind.getOrElse(DsirBucket, Array.empty[Row])
        .map(r => r.getLong(2) -> (r.getLong(3), r.getLong(4))).toMap))
      else None)
  }

  /** LM arithmetic over one group's vocabulary and mapped pair counts:
    * context sums c₁, the Laplace domain V+1, and the surprisals
    * log2((c₁+V+1)/(c₂+1)), log2(c₁+V+1) and log2(V+1) in 1/1024 bits */
  private[operators] def lmModel(vocab: Seq[String],
                                 pairs: Seq[(String, String, Long)]): LmScreen.LmModel = {
    val vd = vocab.size + 1L
    val ctx = pairs.groupMapReduce(_._1)(_._3)(_ + _)
    LmScreen.LmModel(vocab.toSet,
      pairs.map { case (a, b, c2) => s"$a $b" -> log2mbKernel(c2 + 1L, ctx(a) + vd) }.toMap,
      ctx.map { case (a, c1) => a -> log2mbKernel(1L, c1 + vd) },
      log2mbKernel(1L, vd))
  }

  /** DSIR arithmetic: smoothed bucket surprisal difference raw − target
    * over the full bucket domain (absent buckets count zero) */
  private def dsirModel(counts: Map[Long, (Long, Long)]): Dsir.DsirModel = {
    val b = Dsir.Buckets.toLong
    val full = (0L until b).map(f => f -> counts.getOrElse(f, (0L, 0L)))
    val rtot = full.map(_._2._1).sum
    val ttot = full.map(_._2._2).sum
    Dsir.DsirModel(full.map { case (f, (r, t)) =>
      f -> (log2mbKernel(r + 1L, rtot + b) - log2mbKernel(t + 1L, ttot + b))
    }.toMap)
  }

  // ---------------------------------------------- the release handoff

  /** One release asks for all three models, one builder at a time
    * (`rarityModel`, `lmModel`, `dsirModel`). When the input can be
    * recognised again, the first builder call trains all three in one
    * run and parks the two it did not ask for; a later builder call
    * over the same input takes its parked model once. "The same input"
    * means a deterministic batch plan with an equal canonical form
    * whose every leaf is known not to change under it: a local relation,
    * a range, a one-row relation, or files read through a file index at
    * the same length and modification time. Any other leaf (a V2 table,
    * a catalog table, an RDD, …) carries no snapshot the key could
    * compare, so such an input trains only the part its caller asked
    * for and parks nothing. A parked model is handed out at most once,
    * and the slot (the input's key and the parked models) empties when
    * the last of them is taken or the next training replaces it. */
  private val NoModels = Trained(None, None, None)
  private var parkedKey: Option[AnyRef] = None
  private var parked: Trained = NoModels

  private def inputKey(docs: DataFrame, phiBp: Int, capacity: Int): Option[AnyRef] = {
    import org.apache.spark.sql.catalyst.plans.logical
    import org.apache.spark.sql.execution.datasources._
    val plan = docs.queryExecution.analyzed
    if (!plan.deterministic || plan.isStreaming) None
    else {
      val files = plan.collectLeaves().map {
        case _: logical.LocalRelation | _: logical.Range | _: logical.OneRowRelation => Some(Nil)
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location match {
            case idx: PartitioningAwareFileIndex =>
              Some(idx.allFiles().toSeq.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)))
            case _ => None
          }
          case _ => None
        }
        case _ => None
      }
      if (files.contains(None)) None
      else Some((plan.canonicalized, files.flatten.flatten.sortBy(_._1), phiBp, capacity))
    }
  }

  private[operators] def forRelease[A](docs: DataFrame, phiBp: Int, capacity: Int, parts: Parts)
                                      (take: Trained => Option[A],
                                       taken: Trained => Trained): A = synchronized {
    val key = inputKey(docs, phiBp, capacity)
    val hit = if (key.isDefined && key == parkedKey) take(parked) else None
    val (model, rest) = hit match {
      case Some(m) => (m, taken(parked))
      case None if key.isDefined =>
        val t = train(docs, AllParts, phiBp, capacity)
        (take(t).get, taken(t))
      case None => (take(train(docs, parts, phiBp, capacity)).get, NoModels)
    }
    parked = rest
    parkedKey = if (rest == NoModels) None else key
    model
  }
}
