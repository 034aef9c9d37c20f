package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native hash-sketch expressions. */
object HashExpressions {

  /** 64-bit SimHash over an array of (token) hashes: per-bit ±1 votes,
    * sign-packed. The nested higher-order formulation
    * (aggregate(zip_with(..., transform(sequence(0,63),...)))) builds a
    * 64-element array per token interpreted; this is the same
    * computation as two tight codegen loops. */
  case class ArraySimhash(child: Expression) extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"simhash expects array<bigint>, got $t")
    }
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64"

    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val votes = new Array[Int](64)
      var i = 0
      while (i < x.numElements()) {
        val h = x.getLong(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        i += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
      sig
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val votes = ctx.freshName("votes")
        val i = ctx.freshName("i")
        val b = ctx.freshName("b")
        val h = ctx.freshName("h")
        val sig = ctx.freshName("sig")
        s"""
           |int[] $votes = new int[64];
           |for (int $i = 0; $i < $a.numElements(); $i++) {
           |  long $h = $a.getLong($i);
           |  for (int $b = 0; $b < 64; $b++) {
           |    $votes[$b] += ((($h >>> $b) & 1L) == 1L) ? 1 : -1;
           |  }
           |}
           |long $sig = 0L;
           |for (int $b = 0; $b < 64; $b++) {
           |  if ($votes[$b] > 0) $sig |= (1L << $b);
           |}
           |${ev.value} = $sig;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def simhash64(tokenHashes: Column): Column =
    ColumnBridge.column(ArraySimhash(ColumnBridge.expression(tokenHashes)))

  /** Shared md5 plumbing for the cross-engine 60-bit hash: the value of
    * the first 15 hex digits of md5(s), i.e. the top 60 bits of the
    * digest — DuckDB computes the identical value as
    * `('0x' || substr(md5(s), 1, 15))::BIGINT`, which is what makes the
    * dedup family oracle-checkable (same trick as the q17 KMV sketch). */
  object Md5Kernels {
    private val md = new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
    def digest(): java.security.MessageDigest = { val d = md.get(); d.reset(); d }
    /** top 60 bits of a 16-byte digest (big-endian), always ≥ 0. */
    def first60(dig: Array[Byte]): Long = {
      var v = 0L
      var i = 0
      while (i < 8) { v = (v << 8) | (dig(i) & 0xFFL); i += 1 }
      v >>> 4
    }

    /** THE cross-engine token-range digest: 60-bit md5 of tokens
      * [from, until) joined with one space, null elements skipped
      * entirely (the array_to_string contract the DuckDB oracle joins
      * with) — the single definition behind shingle hashes and CDC
      * chunk hashes, so the two can never diverge. */
    def hashRange(a: ArrayData, from: Int, until: Int): Long = {
      val d = digest()
      var j = from
      var wrote = false
      while (j < until) {
        if (!a.isNullAt(j)) {
          if (wrote) d.update(0x20.toByte)
          d.update(a.getUTF8String(j).getBytes)
          wrote = true
        }
        j += 1
      }
      first60(d.digest())
    }
  }

  /** k-word shingle hashes from an array of tokens: shingle i is the
    * 60-bit md5 of tokens i..i+k-1 joined with a single space; arrays
    * shorter than k yield one shingle over all tokens. The digest is
    * fed incrementally (no concatenated-string allocation per shingle).
    */
  case class Md5ShingleHashes(child: Expression, k: Int) extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"md5_shingle_hashes expects array<string>, got $t")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "md5_shingle_hashes"

    def kernel(a: ArrayData): ArrayData = {
      val n = a.numElements()
      val m = math.max(n - k + 1, 1)
      val out = new Array[Long](m)
      var i = 0
      while (i < m) {
        // shingle i = the shared token-range digest over i..i+k-1
        // (clamped at the array end) — ONE definition with the CDC
        // chunk hashes, see Md5Kernels.hashRange
        out(i) = Md5Kernels.hashRange(a, i, math.min(i + k, n))
        i += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }

    override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        // one virtual call per row into the md5 kernel keeps the operator
        // inside whole-stage codegen without generating digest plumbing
        val ref = ctx.addReferenceObj("md5Shingles", this, classOf[Md5ShingleHashes].getName)
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.kernel($a);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** MinHash signature over an array of 60-bit hashes: for each
    * permutation p, min over elements of (a_p·h + b_p) mod (2^61 − 1).
    * Full-range `a` keeps the permutations min-wise independent (the
    * bounded-`a` affine family correlates them); the Mersenne modulus
    * makes the 122-bit product reducible with two shift-add folds
    * (2^61 ≡ 1), exact in plain long arithmetic via multiplyHigh — and
    * exactly reproducible in DuckDB HUGEINT arithmetic, so banded
    * candidates are oracle-checkable. One codegen loop: no explode, no
    * per-permutation expression duplication, no shuffle.
    *
    * The shift-fold reduction is only valid for h ∈ [0, 2^60) — the
    * range [[Md5Kernels.first60]] produces — and the function is also
    * exposed to SQL on arbitrary array<bigint>, so each input is masked
    * to its low 60 bits first (h & (2^60−1)). On in-range inputs the
    * mask is the identity; out-of-range SQL inputs get well-defined
    * "hash of the low 60 bits" semantics instead of silently leaving
    * the (a·h+b) mod M contract. */
  case class AffineMinHash(child: Expression, as: Seq[Long], bs: Seq[Long])
      extends UnaryExpression {
    require(as.length == bs.length, "one (a,b) pair per permutation")

    private val Mask60 = (1L << 60) - 1

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"affine_minhash expects array<bigint>, got $t")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "affine_minhash"

    private val M = (1L << 61) - 1

    override def nullSafeEval(x: Any): Any = {
      val arr = x.asInstanceOf[ArrayData]
      val mins = Array.fill(as.length)(Long.MaxValue)
      var i = 0
      while (i < arr.numElements()) {
        val h = arr.getLong(i) & Mask60
        var p = 0
        while (p < as.length) {
          val hi = Math.multiplyHigh(as(p), h)
          val lo = as(p) * h
          var r = ((hi << 3) | (lo >>> 61)) + (lo & M)
          r = (r & M) + (r >>> 61)
          if (r >= M) r -= M
          r += bs(p)
          if (r >= M) r -= M
          if (r < mins(p)) mins(p) = r
          p += 1
        }
        i += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(mins)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val aArr = ctx.addReferenceObj("affineA", as.toArray, "long[]")
        val bArr = ctx.addReferenceObj("affineB", bs.toArray, "long[]")
        val mins = ctx.freshName("mins"); val i = ctx.freshName("i")
        val p = ctx.freshName("p"); val h = ctx.freshName("h")
        val hi = ctx.freshName("hi"); val lo = ctx.freshName("lo")
        val r = ctx.freshName("r")
        s"""
           |long[] $mins = new long[$aArr.length];
           |java.util.Arrays.fill($mins, Long.MAX_VALUE);
           |for (int $i = 0; $i < $a.numElements(); $i++) {
           |  long $h = $a.getLong($i) & ${Mask60}L;
           |  for (int $p = 0; $p < $aArr.length; $p++) {
           |    long $hi = Math.multiplyHigh($aArr[$p], $h);
           |    long $lo = $aArr[$p] * $h;
           |    long $r = (($hi << 3) | ($lo >>> 61)) + ($lo & ${M}L);
           |    $r = ($r & ${M}L) + ($r >>> 61);
           |    if ($r >= ${M}L) $r -= ${M}L;
           |    $r += $bArr[$p];
           |    if ($r >= ${M}L) $r -= ${M}L;
           |    if ($r < $mins[$p]) $mins[$p] = $r;
           |  }
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($mins);
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Frequency stats of an array<bigint> in one row-local pass:
    * `[n, n_distinct, max_count]` over the non-null elements — the
    * building block of the repetition-quality screens (top-n-gram
    * share, duplicate-n-gram share). Computing these with
    * explode+groupBy would shuffle corpus-size n-gram rows; computing
    * them with higher-order aggregate lambdas evaluates interpreted
    * (the measured 100×-slowdown trap the minhash kernel hit) — this
    * is a sort+run-scan inside whole-stage codegen instead. */
  case class ArrayFreqStats(child: Expression) extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"array_freq_stats expects array<bigint>, got $t")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "array_freq_stats"

    def kernel(a: ArrayData): ArrayData = {
      val total = a.numElements()
      var n = 0
      val xs = new Array[Long](total)
      var i = 0
      while (i < total) {
        if (!a.isNullAt(i)) { xs(n) = a.getLong(i); n += 1 }
        i += 1
      }
      if (n == 0)
        return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(0L, 0L, 0L))
      java.util.Arrays.sort(xs, 0, n)
      var distinct = 1L
      var maxCount = 1L
      var run = 1L
      i = 1
      while (i < n) {
        if (xs(i) == xs(i - 1)) {
          run += 1
          if (run > maxCount) maxCount = run
        } else {
          distinct += 1
          run = 1
        }
        i += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(n.toLong, distinct, maxCount))
    }

    override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val ref = ctx.addReferenceObj("freqStats", this, classOf[ArrayFreqStats].getName)
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.kernel($a);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-row token-entropy stats (the q137 kernel): over the hash
    * array's value runs (sort + run-scan, the [[ArrayFreqStats]]
    * discipline — no explode, no shuffle of token rows), emits
    * [n, distinct, entropy_mb] where entropy_mb =
    * (Σ_runs c · log2mb(c, n)) DIV n — the exact-integer Shannon
    * entropy of the token distribution in 1/1024-bit units, on the
    * SAME [[LogExpressions.log2mbKernel]] the q100/q136 families
    * replay digit-for-digit in the oracle. Empty array → [0, 0, 0];
    * null (null text upstream) stays null. */
  case class ArrayEntropyStats(child: Expression) extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"array_entropy_stats expects array<bigint>, got $t")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "array_entropy_stats"

    def kernel(a: ArrayData): ArrayData = {
      val total = a.numElements()
      var n = 0
      val xs = new Array[Long](total)
      var i = 0
      while (i < total) {
        if (!a.isNullAt(i)) { xs(n) = a.getLong(i); n += 1 }
        i += 1
      }
      if (n == 0)
        return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(0L, 0L, 0L))
      java.util.Arrays.sort(xs, 0, n)
      var distinct = 0L
      var acc = 0L
      var runStart = 0
      i = 1
      while (i <= n) {
        if (i == n || xs(i) != xs(runStart)) {
          val c = (i - runStart).toLong
          distinct += 1
          acc += c * LogExpressions.log2mbKernel(c, n.toLong)
          runStart = i
        }
        i += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(n.toLong, distinct, acc / n))
    }

    override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val ref = ctx.addReferenceObj("entropyStats", this, classOf[ArrayEntropyStats].getName)
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.kernel($a);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Saturated hashed bag-of-tokens counts (the q103 retrieval
    * feature): one length-`buckets` long array per row, token t
    * incrementing bucket md5_60(salt ‖ t) mod buckets, each count
    * capped at `clamp`. The HOF formulation
    * (`transform(sequence(0,B−1), b -> size(filter(...)))`) is
    * O(B·n) with an interpreted lambda per element; this is one
    * O(n) codegen'd pass with an incremental digest. Null tokens are
    * skipped (the SQL version maps them to a null bucket that
    * matches nothing — same absence). */
  case class BucketCountVec(child: Expression, salt: String, buckets: Int, clamp: Int)
      extends UnaryExpression {
    require(buckets > 0 && clamp > 0, s"bucket_count_vec($buckets, $clamp)")

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"bucket_count_vec expects array<string>, got $t")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "bucket_count_vec"

    private val saltBytes = salt.getBytes(java.nio.charset.StandardCharsets.UTF_8)

    def kernel(a: ArrayData): ArrayData = {
      val out = new Array[Long](buckets)
      val md = Md5Kernels.digest()
      val n = a.numElements()
      var i = 0
      while (i < n) {
        if (!a.isNullAt(i)) {
          md.reset()
          md.update(saltBytes)
          md.update(a.getUTF8String(i).getBytes)
          val b = (Md5Kernels.first60(md.digest()) % buckets).toInt
          if (out(b) < clamp) out(b) += 1
        }
        i += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }

    override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val ref = ctx.addReferenceObj("bucketCounts", this, classOf[BucketCountVec].getName)
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.kernel($a);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** mixer for the bigram channel of [[BucketCountVec2Packed]]: an
    * asymmetric combine of two adjacent md5-60 token hashes whose every
    * intermediate stays under 2⁶¹ — (h₁ mod 2⁵⁰)·1021 + h₂ ≤
    * 2⁶⁰ + 2⁶⁰ — so the oracle replays it in plain BIGINT arithmetic
    * with no overflow in either engine (DuckDB errors on int64
    * overflow rather than wrapping). Asymmetric (h₁, h₂ ordered), so
    * "a b" and "b a" land independently. */
  val BigramMixMod = 1125899906842624L // 2^50
  val BigramMixMul = 1021L

  /** TWO-CHANNEL packed scoring vector (q103 r16): `uniBuckets`
    * unigram byte-counts ‖ `biBuckets` adjacent-bigram byte-counts in
    * ONE O(n) pass with ONE md5 per token — the bigram bucket derives
    * from the two adjacent UNIGRAM hashes via the overflow-safe mixer
    * above, so the phrase channel costs no second digest pass and no
    * concat-string garbage (the zip_with + md5("a b") formulation
    * measured ~1.7× q103's whole-query cost; this form returns it to
    * the r15 envelope). Channel concatenation is byte concatenation:
    * dot/norm kernels simply sum across both sections, and per-bucket
    * saturation is channel-local exactly like two separate packed
    * vectors. Null tokens are skipped AND break adjacency (no bigram
    * spans a null). */
  case class BucketCountVec2Packed(child: Expression, salt: String,
                                   uniBuckets: Int, biBuckets: Int, clamp: Int)
      extends UnaryExpression {
    require(uniBuckets > 0 && biBuckets > 0 && clamp > 0 && clamp <= 255,
      s"bucket_count_vec2_packed($uniBuckets, $biBuckets, $clamp): clamp must fit a byte")

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"bucket_count_vec2_packed expects array<string>, got $t")
    }
    override def dataType: DataType = BinaryType
    override def prettyName: String = "bucket_count_vec2_packed"

    private val saltBytes = salt.getBytes(java.nio.charset.StandardCharsets.UTF_8)

    def kernel(a: ArrayData): Array[Byte] = {
      val out = new Array[Byte](uniBuckets + biBuckets)
      val md = Md5Kernels.digest()
      val n = a.numElements()
      var prev = -1L
      var i = 0
      while (i < n) {
        if (a.isNullAt(i)) prev = -1L
        else {
          md.reset()
          md.update(saltBytes)
          md.update(a.getUTF8String(i).getBytes)
          val h = Md5Kernels.first60(md.digest())
          val b = (h % uniBuckets).toInt
          if ((out(b) & 0xFF) < clamp) out(b) = ((out(b) & 0xFF) + 1).toByte
          if (prev >= 0L) {
            val b2 = uniBuckets +
              (((prev % BigramMixMod) * BigramMixMul + h) % biBuckets).toInt
            if ((out(b2) & 0xFF) < clamp) out(b2) = ((out(b2) & 0xFF) + 1).toByte
          }
          prev = h
        }
        i += 1
      }
      out
    }

    override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val ref = ctx.addReferenceObj("bucketCountsVec2", this,
          classOf[BucketCountVec2Packed].getName)
        s"${ev.value} = (byte[]) $ref.kernel($a);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private def literalInt(e: Expression, fn: String): Int =
    if (e.foldable) e.eval().asInstanceOf[Number].intValue
    else throw new IllegalArgumentException(
      s"$fn: second argument must be a literal integer")

  private def literalString(e: Expression, fn: String): String = {
    val v = if (e.foldable && e.dataType == StringType) e.eval() else null
    if (v == null) throw new IllegalArgumentException(
      s"$fn: argument must be a non-null literal string")
    v.toString
  }

  /** Content-defined chunking in ONE kernel pass (q102c): boundary
    * ends are every position s + k whose k-token window's 60-bit md5
    * divides by `mod` (and sits strictly inside the doc), plus the doc
    * length; each resulting [start, end) chunk is emitted with its own
    * 60-bit content hash. Everything — window digests, boundary
    * election, chunk digests — runs in this one JVM loop: the HOF
    * formulation evaluated interpreted lambdas per position and the
    * let-bound variant still paid interpreted-HOF overhead (57s → 10s
    * at sf0.1); the kernel is sub-second (the q103 bucket_count_vec
    * lesson, applied again). Null tokens are skipped like
    * array_to_string, so the oracle's join semantics hold. */
  case class CdcChunks(child: Expression, k: Int, mod: Int) extends UnaryExpression {
    require(k >= 1 && mod >= 1, s"cdc_chunks needs k >= 1, mod >= 1: k=$k mod=$mod")

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"cdc_chunks expects array<string>, got $t")
    }
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("chunk_idx", LongType, nullable = false),
      StructField("start_tok", LongType, nullable = false),
      StructField("end_tok", LongType, nullable = false),
      StructField("n_chunk_tokens", LongType, nullable = false),
      StructField("chunk_hash", LongType, nullable = false))), containsNull = false)
    override def prettyName: String = "cdc_chunks"

    def kernel(a: ArrayData): ArrayData = {
      val n = a.numElements()
      if (n == 0)
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
      val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
      var s = 0
      while (s + k < n) {
        if (Md5Kernels.hashRange(a, s, s + k) % mod == 0) ends += (s + k)
        s += 1
      }
      ends += n
      val out = new Array[Any](ends.length)
      var prev = 0
      var idx = 0
      while (idx < ends.length) {
        val e = ends(idx)
        out(idx) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
          idx.toLong, prev.toLong, e.toLong, (e - prev).toLong,
          Md5Kernels.hashRange(a, prev, e)))
        prev = e
        idx += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val ref = ctx.addReferenceObj("cdcChunks", this, classOf[CdcChunks].getName)
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.kernel($a);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Membership probe against a FROZEN sorted long set — one
    * binary search per probe (O(log |set|)) against a shared long[]
    * reference. The previous form — `array_contains` over a
    * `typedlit` array column — was a linear scan per probe AND
    * materialized the literal array into every row's projection;
    * at real eval-suite sizes (10⁵–10⁶ benchmark windows) the probe
    * cost per corpus token position is what dominates the q113/q114
    * ingest door, so the log-factor matters. The array is sorted once
    * at construction (idempotent if already sorted) and referenced,
    * never copied per row. */
  case class SortedLongContains(child: Expression, set: Array[Long])
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"needs bigint, got ${t.sql}")
    }
    override def dataType: DataType = BooleanType
    override def prettyName: String = "sorted_long_contains"

    override def nullSafeEval(v: Any): Any =
      java.util.Arrays.binarySearch(set, v.asInstanceOf[Long]) >= 0

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("sortedLongSet", set, "long[]")
      defineCodeGen(ctx, ev, c => s"java.util.Arrays.binarySearch($ref, $c) >= 0")
    }

    // value equality over the array contents: the case-class default
    // compares Array[Long] by REFERENCE, so two semantically identical
    // probes never canonicalize equal — defeating subexpression
    // elimination and exchange reuse wherever the probe appears twice
    override def equals(o: Any): Boolean = o match {
      case s: SortedLongContains =>
        child == s.child && ((set eq s.set) || java.util.Arrays.equals(set, s.set))
      case _ => false
    }
    // Catalyst calls hashCode/equals repeatedly during optimizer rule
    // batches and canonicalization; the set is frozen (10⁵–10⁶ entries),
    // so hash it once — an O(|set|) hashCode per optimizer probe would
    // tax planning on every decontamination query (r12 advice)
    private lazy val setHash: Int = java.util.Arrays.hashCode(set)
    override def hashCode(): Int = 31 * child.hashCode() + setHash

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** The ONE definition of each SQL function builder — referenced by
    * both GraftExtensions (spark.sql.extensions) and the session-local
    * [[registerSql]], so the two registration paths can't drift. */
  val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> ((exprs: Seq[Expression]) => ArraySimhash(exprs.head)),
    "array_freq_stats" -> ((exprs: Seq[Expression]) => ArrayFreqStats(exprs.head)),
    "md5_shingle_hashes" -> ((exprs: Seq[Expression]) =>
      Md5ShingleHashes(exprs(0), literalInt(exprs(1), "md5_shingle_hashes"))),
    "affine_minhash" -> ((exprs: Seq[Expression]) => {
      val params = graft.operators.Dedup.affineParams(
        literalInt(exprs(1), "affine_minhash"))
      AffineMinHash(exprs(0), params.map(_._1), params.map(_._2))
    }),
    "bucket_count_vec" -> ((exprs: Seq[Expression]) =>
      BucketCountVec(exprs(0), literalString(exprs(1), "bucket_count_vec"),
        literalInt(exprs(2), "bucket_count_vec"),
        literalInt(exprs(3), "bucket_count_vec"))),
    "cdc_chunks" -> ((exprs: Seq[Expression]) =>
      CdcChunks(exprs(0), literalInt(exprs(1), "cdc_chunks"),
        literalInt(exprs(2), "cdc_chunks"))))

  /** SQL registration (session-local twin of the GraftExtensions
    * entries): simhash64(arr), md5_shingle_hashes(tokens, k),
    * affine_minhash(hashes, numPerms). */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit =
    sqlBuilders.foreach { case (name, builder) =>
      ColumnBridge.registerFunction(spark, name, builder)
    }

  def array_freq_stats(hashes: Column): Column =
    ColumnBridge.column(ArrayFreqStats(ColumnBridge.expression(hashes)))

  def array_entropy_stats(hashes: Column): Column =
    ColumnBridge.column(ArrayEntropyStats(ColumnBridge.expression(hashes)))

  def md5_shingle_hashes(tokens: Column, k: Int): Column =
    ColumnBridge.column(Md5ShingleHashes(ColumnBridge.expression(tokens), k))

  def cdc_chunks(tokens: Column, k: Int, mod: Int): Column =
    ColumnBridge.column(CdcChunks(ColumnBridge.expression(tokens), k, mod))

  def affine_minhash(hashes: Column, params: Seq[(Long, Long)]): Column =
    ColumnBridge.column(AffineMinHash(ColumnBridge.expression(hashes),
      params.map(_._1), params.map(_._2)))

  def bucket_count_vec(tokens: Column, salt: String, buckets: Int, clamp: Int): Column =
    ColumnBridge.column(BucketCountVec(ColumnBridge.expression(tokens), salt, buckets, clamp))

  def bucket_count_vec2_packed(tokens: Column, salt: String, uniBuckets: Int,
                               biBuckets: Int, clamp: Int): Column =
    ColumnBridge.column(BucketCountVec2Packed(ColumnBridge.expression(tokens),
      salt, uniBuckets, biBuckets, clamp))

  def sorted_long_contains(value: Column, set: Seq[Long]): Column =
    ColumnBridge.column(SortedLongContains(ColumnBridge.expression(value),
      set.toArray.sorted))
}
