package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

import graft.functions.Kernels.{TokenKernel, UnaryKernel, expect}

/** Byte-pair-encoding application kernel (SURVEY.md §2C, q85 family).
  *
  * The tokenizer-induction loop itself is driver-side over a BOUNDED
  * word-frequency table ([[graft.operators.Bpe]]); this expression is
  * the corpus-side APPLY: each word decomposes to its code points and
  * the frozen merge list replays in rank order, greedy left-to-right —
  * the standard BPE apply (Sennrich et al. 2016; reference analogue:
  * the per-resource feature-extraction loops, e.g.
  * /root/reference/src/kg_construction/text_processing.py). Row-local,
  * zero shuffles, whole-stage-codegen-friendly via one kernel call per
  * row (the [[Kernels]] shape).
  */
object BpeExpressions {

  /** greedy left-to-right application of one (left, right) merge: scan
    * the symbol array once; at a match emit left+right and skip both.
    * Equivalent closed form (used by the DuckDB oracle replay): select
    * every match position whose offset within its run of consecutive
    * match positions is even — runs longer than 1 only occur for
    * self-pairs (for left ≠ right, a match at i forbids one at i+1). */
  def applyMerge(syms: Array[String], left: String, right: String,
                 merged: String): Array[String] = {
    val n = syms.length
    if (n < 2) return syms
    val out = new Array[String](n)
    var w = 0
    var i = 0
    while (i < n) {
      if (i + 1 < n && syms(i) == left && syms(i + 1) == right) {
        out(w) = merged; w += 1; i += 2
      } else {
        out(w) = syms(i); w += 1; i += 1
      }
    }
    if (w == n) syms else java.util.Arrays.copyOfRange(out, 0, w)
  }

  /** a word's initial symbols: one per Unicode code point (matches the
    * oracle's regexp_extract_all(w, '(?s).') — every code point,
    * newlines included). */
  def codePointSyms(w: String): Array[String] = {
    val n = w.codePointCount(0, w.length)
    val out = new Array[String](n)
    var i = 0
    var off = 0
    while (i < n) {
      val cp = w.codePointAt(off)
      val len = Character.charCount(cp)
      out(i) = w.substring(off, off + len)
      i += 1
      off += len
    }
    out
  }

  /** every merge in rank order over an already-split symbol array —
    * the single copy of the merge loop (kernel callers split first so
    * they can count initial symbols). */
  def applyMerges(syms0: Array[String],
                  merges: Array[(String, String)]): Array[String] = {
    var syms = syms0
    var r = 0
    while (r < merges.length && syms.length >= 2) {
      val (l, rt) = merges(r)
      syms = applyMerge(syms, l, rt, l + rt)
      r += 1
    }
    syms
  }

  /** full apply: code-point split, then every merge in rank order. */
  def tokenize(word: String, merges: Array[(String, String)]): Array[String] =
    applyMerges(codePointSyms(word), merges)

  /** per-document BPE stats over a word array against a frozen merge
    * list: (n_words, n_syms -- code points before any merge,
    * n_bpe -- tokens after all merges). Null words are skipped (split()
    * never produces them; SQL callers get array_to_string-like
    * behavior, consistent with the other kernels). */
  case class BpeStats(child: Expression, merges: Seq[(String, String)])
      extends TokenKernel {

    override def dataType: DataType = StructType(Seq(
      StructField("n_words", LongType, nullable = false),
      StructField("n_syms", LongType, nullable = false),
      StructField("n_bpe", LongType, nullable = false)))
    override def prettyName: String = "bpe_stats"

    private val mergeArr: Array[(String, String)] = merges.toArray

    def kernel(a: ArrayData): InternalRow = {
      val n = a.numElements()
      var words = 0L
      var syms0 = 0L
      var bpe = 0L
      var i = 0
      while (i < n) {
        if (!a.isNullAt(i)) {
          val w = a.getUTF8String(i).toString
          words += 1
          val s = codePointSyms(w)
          syms0 += s.length
          bpe += applyMerges(s, mergeArr).length
        }
        i += 1
      }
      InternalRow(words, syms0, bpe)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def bpe_stats(words: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeStats(ColumnBridge.expression(words), merges))

  /** the tokenized symbol array itself — the user-facing "give me the
    * actual tokens" column (the q85b stats query only needs counts, so
    * it uses [[BpeStats]]; this is the API a training-data exporter
    * calls, spec-pinned against the driver-side [[tokenize]]). */
  case class BpeTokens(child: Expression, merges: Seq[(String, String)])
      extends UnaryKernel {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "string", child) { case StringType => }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "bpe_tokens"
    private val mergeArr: Array[(String, String)] = merges.toArray

    def kernel(w: org.apache.spark.unsafe.types.UTF8String): ArrayData =
      new GenericArrayData(tokenize(w.toString, mergeArr)
        .map(org.apache.spark.unsafe.types.UTF8String.fromString(_)))

    override def nullSafeEval(a: Any): Any =
      kernel(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def bpe_tokens(word: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeTokens(ColumnBridge.expression(word), merges))
}
