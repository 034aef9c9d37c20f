package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.HashExpressions.Md5Kernels

/** Row-local text kernels over a token array: the frozen-model scores
  * of the release report (rarity, bigram LM, DSIR) and the per-document
  * passes that used to be `filter`/`transform`/`aggregate` lambdas
  * (Gopher word classes, contamination spans and their cut, chunk
  * geometry). Lambdas are `CodegenFallback`: each one split the
  * whole-stage codegen stage and evaluated element by element in the
  * interpreter, and each frozen model rode as a literal map probed by a
  * linear `element_at`. A kernel holds its model as a hash map (the
  * [[HashExpressions.SortedLongContains]] pattern: built once, shared
  * by reference) and runs one JVM loop per row; codegen and
  * interpreted evaluation call the same Scala method, so the two
  * cannot diverge. The scoring kernels are the ONE scorer of their
  * frozen model: the batch screens (q75, q100, q100b, q101, q113), the
  * stream lookups and the report frame all call them, so their
  * independent reference is the DuckDB oracle plus the hand fixtures
  * (FrequencyCorpusSpec's exact q75 costs, the Scala replays in
  * LmScreenSpec and DsirSpec); CodegenAgreementSpec checks codegen
  * against interpreted evaluation. */
object TextKernels {

  /** an expression whose codegen is one virtual call into `kernel` —
    * the md5-shingle / CDC pattern */
  sealed trait KernelCodegen extends Expression {
    protected def genCall(ctx: CodegenContext, ev: ExprCode, args: String*): String = {
      val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
      s"${ev.value} = (${CodeGenerator.javaType(dataType)}) $ref.kernel(${args.mkString(", ")});"
    }
  }

  private def stringArray(e: Expression, fn: String): TypeCheckResult = e.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$fn expects array<string>, got $t")
  }

  /** a unary kernel over array<string> */
  abstract class TokenKernel extends UnaryExpression with KernelCodegen {
    def kernel(a: ArrayData): Any
    override def checkInputDataTypes(): TypeCheckResult = stringArray(child, prettyName)
    override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => genCall(ctx, ev, a))
  }

  private def row(vs: Any*): InternalRow = new GenericInternalRow(vs.toArray)

  private def utf8Map[V](m: Map[String, V]): java.util.HashMap[UTF8String, V] = {
    val h = new java.util.HashMap[UTF8String, V](m.size * 2)
    m.foreach { case (k, v) => h.put(UTF8String.fromString(k), v) }
    h
  }

  /** the value-equality contract of a model-holding case class: Catalyst
    * compares and hashes expressions during every optimizer batch, so
    * the (model-sized) hash is taken once */
  private def modelHash(parts: Any*): Int = parts.##

  // ------------------------------------------------------------ rarity

  val RarityType: StructType = StructType(Seq(
    StructField("rar_n_tokens", LongType, nullable = false),
    StructField("rar_n_oov", LongType, nullable = false),
    StructField("rar_oov_bp", LongType),
    StructField("rar_mean_cost", LongType),
    StructField("rar_is_tail", BooleanType)))

  /** q75 scored against the frozen vocabulary (token → exact count,
    * corpus token total): token count, out-of-vocabulary count and
    * share, mean inverse-frequency cost and the tail flag — the
    * integer formulas of [[graft.operators.Frequency.rarityScreen]]. */
  case class RarityScore(child: Expression, vocab: Map[String, Long], nTotal: Long,
                         phiBp: Int, fenceOovBp: Int) extends TokenKernel {
    override def dataType: DataType = RarityType
    override def prettyName: String = "rarity_score"
    // plan strings name the model's size, never its entries: Spark keeps
    // the strings of its last executions, once per kernel reference
    override protected def stringArgs: Iterator[Any] =
      Iterator(child, s"vocab[${vocab.size}]", nTotal, phiBp, fenceOovBp)
    @transient private lazy val counts =
      utf8Map(vocab.map { case (t, c) => t -> java.lang.Long.valueOf(c) })
    private val scale = nTotal * 10000L
    private val oovCost = scale / (nTotal * phiBp / 10000L + 1L)

    def kernel(a: ArrayData): InternalRow = {
      val n = a.numElements()
      var oov = 0L
      var cost = 0L
      var i = 0
      while (i < n) {
        val c = counts.get(a.getUTF8String(i))
        if (c == null) { oov += 1; cost = Math.addExact(cost, oovCost) }
        else cost = Math.addExact(cost, scale / c.longValue)
        i += 1
      }
      if (n == 0) row(0L, 0L, null, null, null)
      else {
        val bp = 10000L * oov / n
        row(n.toLong, oov, bp, cost / n, bp > fenceOovBp)
      }
    }

    override def equals(o: Any): Boolean = o match {
      case r: RarityScore => child == r.child && nTotal == r.nTotal && phiBp == r.phiBp &&
        fenceOovBp == r.fenceOovBp && vocab == r.vocab
      case _ => false
    }
    @transient private lazy val h = modelHash(child, vocab, nTotal, phiBp, fenceOovBp)
    override def hashCode(): Int = h
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  // ----------------------------------------------------------- bigram LM

  val LmType: StructType = StructType(Seq(
    StructField("lm_n_bigrams", LongType, nullable = false),
    StructField("lm_total_mb", LongType),
    StructField("lm_avg_mb", LongType),
    StructField("lm_keep", BooleanType, nullable = false)))

  /** q100 scored against a table of frozen bigram models, one per
    * value of a string group column (the global model is a one-entry
    * table under a constant key): every token folds to its model's
    * vocabulary class (or `unk`), and each adjacent pair costs its pair
    * surprisal, else its context's unseen-pair surprisal, else the
    * unseen-context surprisal. A null group, or a group the table does
    * not hold, has no model and costs 0 per bigram — the equi-join
    * semantics of the per-language oracle. Each model's classes are
    * numbered once, so a bigram is two array reads, not a string
    * concatenation and a map probe. A null token array scores null. */
  case class LmScore(left: Expression, right: Expression,
                     models: Map[String, graft.operators.LmScreen.LmModel],
                     unkTok: String, keepMaxMb: Long) extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (right.dataType == StringType) stringArray(left, prettyName)
      else TypeCheckResult.TypeCheckFailure(s"lm_score groups by a string, got ${right.dataType}")
    override def dataType: DataType = LmType
    override def prettyName: String = "lm_score"
    override protected def stringArgs: Iterator[Any] = Iterator(left, right, s"models[${models.size}]")

    /** one model's class numbering and (class, class) cost table */
    private final class Table(m: graft.operators.LmScreen.LmModel) {
      // vocabulary tokens, the unk class, and any class the pair/context
      // maps name (pair keys join two classes by a space)
      private val classes: IndexedSeq[String] =
        (m.vocab.toSeq.sorted ++ Seq(unkTok) ++
          m.pairMb.keys.flatMap(_.split(" ", 2)) ++ m.ctxMb.keys).distinct.toIndexedSeq
      private val k = classes.length
      private val vocabIdx = utf8Map(m.vocab.map(t => t -> Integer.valueOf(classes.indexOf(t))).toMap)
      private val unkIdx = classes.indexOf(unkTok)
      // bigram cost per (class, class): pair, else context, else unk
      private val cost: Array[Long] = Array.tabulate(k * k) { ij =>
        val (a, b) = (classes(ij / k), classes(ij % k))
        m.pairMb.getOrElse(a + " " + b, m.ctxMb.getOrElse(a, m.unkMb))
      }
      private def cls(a: ArrayData, i: Int): Int = {
        val v = vocabIdx.get(a.getUTF8String(i))
        if (v == null) unkIdx else v.intValue
      }
      def total(a: ArrayData): Long = {
        var total = 0L
        var prev = cls(a, 0)
        var i = 1
        while (i < a.numElements()) {
          val c = cls(a, i)
          total = Math.addExact(total, cost(prev * k + c))
          prev = c
          i += 1
        }
        total
      }
    }
    @transient private lazy val tables: java.util.HashMap[UTF8String, Table] =
      utf8Map(models.map { case (g, m) => g -> new Table(m) })

    def kernel(a: ArrayData, group: UTF8String): InternalRow = {
      val n = a.numElements()
      val nb = math.max(n - 1, 0).toLong
      if (n < 2) row(nb, null, null, false)
      else {
        val t = if (group == null) null else tables.get(group)
        val total = if (t == null) 0L else t.total(a)
        val avg = total / nb
        row(nb, total, avg, avg <= keepMaxMb)
      }
    }

    override def eval(input: InternalRow): Any = {
      val a = left.eval(input)
      if (a == null) null
      else kernel(a.asInstanceOf[ArrayData], right.eval(input).asInstanceOf[UTF8String])
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val a = left.genCode(ctx)
      val g = right.genCode(ctx)
      val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
      ev.copy(code = code"""
        |${a.code}
        |boolean ${ev.isNull} = ${a.isNull};
        |${CodeGenerator.javaType(dataType)} ${ev.value} = null;
        |if (!${ev.isNull}) {
        |  ${g.code}
        |  ${ev.value} = $ref.kernel(${a.value}, ${g.isNull} ? null : ${g.value});
        |}""".stripMargin)
    }

    override def equals(o: Any): Boolean = o match {
      case l: LmScore => left == l.left && right == l.right && unkTok == l.unkTok &&
        keepMaxMb == l.keepMaxMb && models == l.models
      case _ => false
    }
    @transient private lazy val h = modelHash(left, right, models, unkTok, keepMaxMb)
    override def hashCode(): Int = h
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  // ---------------------------------------------------------------- DSIR

  val DsirType: StructType = StructType(Seq(
    StructField("dsir_n_tokens", LongType, nullable = false),
    StructField("dsir_weight_mb", LongType, nullable = false),
    StructField("dsir_keep", BooleanType, nullable = false)))

  /** q101 scored against the frozen per-bucket delta model: each token
    * hashes to bucket md5_60(prefix ‖ token) mod B, and the document's
    * weight is the sum of its tokens' bucket deltas. */
  case class DsirScore(child: Expression, delta: Array[Long], prefix: String)
      extends TokenKernel {
    override def dataType: DataType = DsirType
    override def prettyName: String = "dsir_score"
    override protected def stringArgs: Iterator[Any] = Iterator(child, s"delta[${delta.length}]")
    private val prefixBytes = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)

    def kernel(a: ArrayData): InternalRow = {
      val n = a.numElements()
      var w = 0L
      var i = 0
      while (i < n) {
        val d = Md5Kernels.digest()
        d.update(prefixBytes)
        d.update(a.getUTF8String(i).getBytes)
        w = Math.addExact(w, delta((Md5Kernels.first60(d.digest()) % delta.length).toInt))
        i += 1
      }
      row(n.toLong, w, w > 0L)
    }

    override def equals(o: Any): Boolean = o match {
      case d: DsirScore => child == d.child && prefix == d.prefix &&
        java.util.Arrays.equals(delta, d.delta)
      case _ => false
    }
    override def hashCode(): Int = 31 * child.hashCode() + java.util.Arrays.hashCode(delta)
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  // ------------------------------------------------------ Gopher classes

  val WordClassType: StructType = StructType(Seq(
    StructField("n_stop", LongType, nullable = false),
    StructField("n_alpha_words", LongType, nullable = false)))

  /** per-document word-class counts for the q116 Gopher rules: tokens
    * equal to a stopword, and tokens holding at least one `[a-z]`
    * letter (the `rlike '[a-z]'` test: an ASCII byte 0x61–0x7a, which
    * never occurs inside a multi-byte UTF-8 sequence). */
  case class WordClassCounts(child: Expression, stopwords: Seq[String]) extends TokenKernel {
    override def dataType: DataType = WordClassType
    override def prettyName: String = "word_class_counts"
    @transient private lazy val stops: java.util.HashSet[UTF8String] = {
      val s = new java.util.HashSet[UTF8String]()
      stopwords.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }

    def kernel(a: ArrayData): InternalRow = {
      var nStop = 0L
      var nAlpha = 0L
      var i = 0
      while (i < a.numElements()) {
        val t = a.getUTF8String(i)
        if (stops.contains(t)) nStop += 1
        val b = t.getBytes
        var j = 0
        var hit = false
        while (!hit && j < b.length) { hit = b(j) >= 'a' && b(j) <= 'z'; j += 1 }
        if (hit) nAlpha += 1
        i += 1
      }
      row(nStop, nAlpha)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  // ------------------------------------------------ contamination spans

  /** the span type every cut list carries: array<struct<s:int,e:int>> */
  val SpanArrayType: ArrayType =
    ArrayType(StructType(Seq(StructField("s", IntegerType), StructField("e", IntegerType))))

  /** q113's merged contamination intervals over one token array: every
    * window start i (0 ≤ i ≤ n − w) whose w-token 60-bit md5 is in the
    * frozen sorted set marks [i, i + w); marks merge while the next
    * start is at or before the open end. Arrays shorter than `w` have
    * no window. */
  case class WindowSpans(child: Expression, set: Array[Long], w: Int) extends TokenKernel {
    require(w >= 1, s"windowTokens must be >= 1, got $w")
    override def dataType: DataType = SpanArrayType
    override def prettyName: String = "window_spans"
    override protected def stringArgs: Iterator[Any] = Iterator(child, s"set[${set.length}]", w)

    def kernel(a: ArrayData): ArrayData = {
      val n = a.numElements()
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var cs = -1
      var ce = -1
      var p = 0
      while (p + w <= n) {
        if (java.util.Arrays.binarySearch(set, Md5Kernels.hashRange(a, p, p + w)) >= 0) {
          if (ce < 0) cs = p
          else if (p > ce) { out += row(cs, ce); cs = p }
          ce = p + w
        }
        p += 1
      }
      if (ce >= 0) out += row(cs, ce)
      new GenericArrayData(out.toArray)
    }

    override def equals(o: Any): Boolean = o match {
      case s: WindowSpans => child == s.child && w == s.w &&
        ((set eq s.set) || java.util.Arrays.equals(set, s.set))
      case _ => false
    }
    @transient private lazy val setHash: Int = java.util.Arrays.hashCode(set)
    override def hashCode(): Int = 31 * (31 * child.hashCode() + setHash) + w
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  val CutType: StructType = StructType(Seq(
    StructField("clean_n_tokens", LongType, nullable = false),
    StructField("clean_hash", LongType, nullable = false)))

  /** THE cut rule: a token survives iff no [s, e) span covers its
    * index; returns the survivors' count and the 60-bit md5 of the
    * survivors joined by one space (md5_60(array_join(clean, ' '))). */
  case class CutTokens(left: Expression, right: Expression)
      extends BinaryExpression with KernelCodegen {
    override def checkInputDataTypes(): TypeCheckResult =
      if (!stringArray(left, prettyName).isSuccess) stringArray(left, prettyName)
      else right.dataType match {
        case ArrayType(st: StructType, _) if st.fieldNames.toSeq == Seq("s", "e") =>
          TypeCheckResult.TypeCheckSuccess
        case t => TypeCheckResult.TypeCheckFailure(s"cut_tokens expects span structs, got $t")
      }
    override def dataType: DataType = CutType
    override def prettyName: String = "cut_tokens"

    def kernel(a: ArrayData, spans: ArrayData): InternalRow = {
      val n = a.numElements()
      val cut = new Array[Boolean](n)
      var k = 0
      while (k < spans.numElements()) {
        val sp = spans.getStruct(k, 2)
        var i = math.max(sp.getInt(0), 0)
        while (i < math.min(sp.getInt(1), n)) { cut(i) = true; i += 1 }
        k += 1
      }
      val d = Md5Kernels.digest()
      var kept = 0L
      var i = 0
      while (i < n) {
        if (!cut(i)) {
          if (kept > 0) d.update(0x20.toByte)
          d.update(a.getUTF8String(i).getBytes)
          kept += 1
        }
        i += 1
      }
      row(kept, Md5Kernels.first60(d.digest()))
    }

    override def nullSafeEval(a: Any, s: Any): Any =
      kernel(a.asInstanceOf[ArrayData], s.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, s) => genCall(ctx, ev, a, s))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  // ------------------------------------------------------ chunk geometry

  val ChunkArrayType: ArrayType = ArrayType(StructType(Seq(
    StructField("chunk_idx", LongType),
    StructField("start_tok", LongType, nullable = false),
    StructField("end_tok", LongType, nullable = false),
    StructField("n_chunk_tokens", LongType, nullable = false),
    StructField("chunk_hash", LongType))), containsNull = false)

  /** fixed-stride chunk geometry (q102): windows of `width` tokens
    * starting every `width − overlap` tokens, the last start at
    * max(n − overlap, 1) − 1; per chunk its index, [start, end) span,
    * length and the 60-bit md5 of its tokens joined by one space. A
    * null or empty array has no chunk (an empty array, not null). */
  case class ChunkSpans(child: Expression, width: Int, overlap: Int)
      extends UnaryExpression with KernelCodegen {
    require(width > overlap && overlap >= 0, s"chunk width $width must exceed overlap $overlap")
    override def checkInputDataTypes(): TypeCheckResult = stringArray(child, prettyName)
    override def dataType: DataType = ChunkArrayType
    override def nullable: Boolean = false
    override def prettyName: String = "chunk_spans"

    def kernel(a: ArrayData): ArrayData = {
      val n = if (a == null) 0 else a.numElements()
      val stride = width - overlap
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      if (n > 0) {
        val last = math.max(n - overlap, 1) - 1
        var s = 0
        while (s <= last) {
          val e = math.min(s + width, n)
          out += row((s / stride).toLong, s.toLong, e.toLong, (e - s).toLong,
            Md5Kernels.hashRange(a, s, e))
          s += stride
        }
      }
      new GenericArrayData(out.toArray)
    }

    override def eval(input: InternalRow): Any =
      kernel(child.eval(input).asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
      ev.copy(code = code"""
        |${c.code}
        |${CodeGenerator.javaType(dataType)} ${ev.value} =
        |  $ref.kernel(${c.isNull} ? null : ${c.value});""".stripMargin,
        isNull = FalseLiteral)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  private def wrap(e: Expression): Column = ColumnBridge.column(e)
  private def ex(c: Column): Expression = ColumnBridge.expression(c)

  def rarity_score(tokens: Column, vocab: Map[String, Long], nTotal: Long,
                   phiBp: Int, fenceOovBp: Int): Column =
    wrap(RarityScore(ex(tokens), vocab, nTotal, phiBp, fenceOovBp))

  def lm_score(tokens: Column, group: Column, models: Map[String, graft.operators.LmScreen.LmModel],
               unkTok: String, keepMaxMb: Long): Column =
    wrap(LmScore(ex(tokens), ex(group), models, unkTok, keepMaxMb))

  def dsir_score(tokens: Column, delta: Seq[Long], prefix: String): Column =
    wrap(DsirScore(ex(tokens), delta.toArray, prefix))

  def word_class_counts(tokens: Column, stopwords: Seq[String]): Column =
    wrap(WordClassCounts(ex(tokens), stopwords))

  def window_spans(tokens: Column, set: Seq[Long], w: Int): Column =
    wrap(WindowSpans(ex(tokens), set.toArray.sorted, w))

  def cut_tokens(tokens: Column, spans: Column): Column =
    wrap(CutTokens(ex(tokens), ex(spans)))

  def chunk_spans(tokens: Column, width: Int, overlap: Int): Column =
    wrap(ChunkSpans(ex(tokens), width, overlap))
}
