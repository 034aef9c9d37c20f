package graft

import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}

import graft.functions.HashExpressions.{AffineMinHash, ArraySimhash, Md5ShingleHashes}
import graft.functions.MgSketch.MgAgg
import graft.operators.Dedup

/** Property tests for the pure kernels behind the dedup/sketch family —
  * the arithmetic the cross-engine oracle parity rests on. These run on
  * the expressions' eval paths directly (no Spark session): generated
  * code calls the same kernels, and CodegenAgreementSpec covers the
  * plumbing around that call. For every kernel whose generated and
  * interpreted paths share one method, the naive model here is its
  * independent reference.
  */
object KernelProperties extends Properties("graft.kernels") {

  private val M = Dedup.Mersenne61

  // ---- Morphology SWC parser: render→parse is the identity for any
  //      valid tree, under every header variant the format allows

  private val swcTreeGen: Gen[Seq[graft.operators.Morphology.SwcNode]] = for {
    n <- Gen.chooseNum(1, 40)
    types <- Gen.listOfN(n, Gen.chooseNum(2, 4))
    radii <- Gen.listOfN(n, Gen.chooseNum(1, 60))
    coords <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(-50, 50),
      Gen.zip(Gen.chooseNum(-50, 50), Gen.chooseNum(-50, 50))))
    // parent of node i+2 is any earlier node: always a valid tree
    parents <- Gen.sequence[Seq[Int], Int]((0 until n).map(i => Gen.chooseNum(1, i + 1)))
  } yield {
    import graft.operators.Morphology.SwcNode
    SwcNode(1L, 1, 0, 0, 0, 10, -1L) +: (0 until n).map { i =>
      SwcNode(i + 2L, types(i), coords(i)._1.toDouble, coords(i)._2._1.toDouble,
        coords(i)._2._2.toDouble, radii(i).toDouble, parents(i).toLong)
    }
  }

  property("swc render->parse roundtrips for any tree and header variant") =
    Prop.forAll(swcTreeGen, Gen.oneOf(0, 1, 2)) { (nodes, variant) =>
      val (hdr, order) = variant match {
        case 0 => ("# n type x y z r parent", Seq("type", "x", "y", "z", "radius", "parent"))
        case 1 => ("# n type x y z radius parent", Seq("type", "x", "y", "z", "radius", "parent"))
        case _ => ("# n type radius x y z parent", Seq("type", "radius", "x", "y", "z", "parent"))
      }
      val text = (Seq("# property fixture", hdr) ++ nodes.map { nd =>
        val f = Map("type" -> nd.typ.toString,
          "x" -> nd.x.toLong.toString, "y" -> nd.y.toLong.toString,
          "z" -> nd.z.toLong.toString, "radius" -> nd.radius.toLong.toString,
          "parent" -> nd.parent.toString)
        s"${nd.id} ${order.map(f).mkString(" ")}"
      }).mkString("", "\n", "\n")
      val parsed = graft.operators.Morphology.parseSwc(text.getBytes("US-ASCII"))
      // and the tree walk accepts every generated tree (single root,
      // all reachable by construction) without throwing
      graft.operators.Morphology.treeMetrics(1L, parsed)
      parsed == nodes
    }

  // ---- Traces codec: encode→decode recovers exact channel aggregates

  private val sweepGen: Gen[(Array[Short], Array[Short])] = for {
    n <- Gen.chooseNum(2, 32)
    st <- Gen.listOfN(n, Gen.chooseNum(-300, 300))
    re <- Gen.listOfN(n, Gen.chooseNum(-300, 300))
  } yield (st.map(_.toShort).toArray, re.map(_.toShort).toArray)

  property("trace encode->decode recovers sums, peaks and labels exactly") =
    Prop.forAll(Gen.chooseNum(1, 5).flatMap(s => Gen.listOfN(s, sweepGen)),
      Gen.chooseNum(1, 100000), Gen.chooseNum(1, 5000)) { (sweeps0, rate, conv) =>
      // ragged channels are rejected by encode; align lengths first
      val n = sweeps0.head._1.length
      val sweeps = sweeps0.map { case (st, re) =>
        (st.padTo(n, 0.toShort).take(n), re.padTo(n, 0.toShort).take(n))
      }
      val labels = sweeps.indices.map(i => graft.operators.Traces.Names(i % 3))
      val bytes = graft.operators.Traces.encodeTrace(rate, conv, labels, sweeps)
      val dec = graft.operators.Traces.decodeTraceFull(
        graft.operators.Traces.TraceRow(9L, bytes))
      val got = dec.reports
      dec.conv_milli == conv &&
      got.length == sweeps.length && got.zipWithIndex.forall { case (r, i) =>
        r.rate_hz == rate && r.declared == labels(i) &&
          r.sum_stim == sweeps(i)._1.foldLeft(0L)(_ + _) &&
          r.sum_resp == sweeps(i)._2.foldLeft(0L)(_ + _) &&
          r.peak_resp == sweeps(i)._2.map(_.toLong).max &&
          r.is_match == (r.computed == labels(i))
      }
    }

  private def longArray(xs: Seq[Long]): ArrayData = ArrayData.toArrayData(xs.toArray)

  // ---- AffineMinHash: folded Mersenne arithmetic == BigInt ground truth

  private val hash60Gen = Gen.chooseNum(0L, (1L << 60) - 1)
  private val paramGen = for {
    a <- Gen.chooseNum(1L, M - 1)
    b <- Gen.chooseNum(0L, M - 1)
  } yield (a, b)

  property("affine minhash equals BigInt (a*h+b) mod 2^61-1") =
    Prop.forAll(Gen.nonEmptyListOf(hash60Gen), Gen.nonEmptyListOf(paramGen)) { (hs, ps) =>
      val expr = AffineMinHash(Literal.create(null, ArrayType(LongType)),
        ps.map(_._1), ps.map(_._2))
      val got = expr.nullSafeEval(longArray(hs)).asInstanceOf[ArrayData].toLongArray.toSeq
      val want = ps.map { case (a, b) =>
        hs.map(h => ((BigInt(a) * h + b) mod BigInt(M)).toLong).min
      }
      got == want
    }

  property("affine minhash masks arbitrary bigint inputs to their low 60 bits") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(Long.MinValue, Long.MaxValue)),
      Gen.nonEmptyListOf(paramGen)) { (hs, ps) =>
      val expr = AffineMinHash(Literal.create(null, ArrayType(LongType)),
        ps.map(_._1), ps.map(_._2))
      val got = expr.nullSafeEval(longArray(hs)).asInstanceOf[ArrayData].toLongArray.toSeq
      val want = ps.map { case (a, b) =>
        hs.map(h => ((BigInt(a) * (h & ((1L << 60) - 1)) + b) mod BigInt(M)).toLong).min
      }
      got == want
    }

  property("affine minhash is invariant to element order and duplication") =
    Prop.forAll(Gen.nonEmptyListOf(hash60Gen), Gen.nonEmptyListOf(paramGen)) { (hs, ps) =>
      val expr = AffineMinHash(Literal.create(null, ArrayType(LongType)),
        ps.map(_._1), ps.map(_._2))
      def sig(xs: Seq[Long]) =
        expr.nullSafeEval(longArray(xs)).asInstanceOf[ArrayData].toLongArray.toSeq
      sig(hs) == sig(hs.reverse) && sig(hs) == sig(hs ++ hs)
    }

  // ---- BucketCountVec: matches a naive count-then-clamp model

  property("bucket_count_vec equals naive salted-md5 counts clamped") =
    Prop.forAll(Gen.listOf(Gen.alphaNumStr), Gen.chooseNum(1, 64),
        Gen.chooseNum(1, 5)) { (tokens, buckets, clamp) =>
      val expr = graft.functions.HashExpressions.BucketCountVec(
        Literal.create(null, ArrayType(StringType)), "ret:", buckets, clamp)
      val arr = ArrayData.toArrayData(tokens.map(UTF8String.fromString).toArray)
      val got = expr.kernel(arr).toLongArray.toSeq
      val md = java.security.MessageDigest.getInstance("MD5")
      val want = new Array[Long](buckets)
      tokens.foreach { t =>
        val hex = md.digest(("ret:" + t).getBytes("UTF-8")).map("%02x".format(_)).mkString
        val b = (java.lang.Long.parseLong(hex.take(15), 16) % buckets).toInt
        if (want(b) < clamp) want(b) += 1
      }
      got == want.toSeq && got.length == buckets
    }

  // ---- BucketCountVec2Packed: unigram section equals the packed
  // single-channel kernel; bigram section matches the naive
  // adjacent-hash-mix model (one md5 per token, overflow-safe mixer)

  property("bucket_count_vec2_packed equals naive two-channel counts clamped") =
    Prop.forAll(Gen.listOf(Gen.alphaNumStr), Gen.chooseNum(1, 64),
        Gen.chooseNum(1, 32), Gen.chooseNum(1, 5)) { (tokens, ub, bb, clamp) =>
      import graft.functions.HashExpressions.{BigramMixMod, BigramMixMul}
      val expr = graft.functions.HashExpressions.BucketCountVec2Packed(
        Literal.create(null, ArrayType(StringType)), "ret:", ub, bb, clamp)
      val arr = ArrayData.toArrayData(tokens.map(UTF8String.fromString).toArray)
      val got = expr.kernel(arr).map(b => (b & 0xFF).toLong).toSeq
      val md = java.security.MessageDigest.getInstance("MD5")
      def h60(t: String): Long = {
        val hex = md.digest(("ret:" + t).getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.take(15), 16)
      }
      val want = new Array[Long](ub + bb)
      val hs = tokens.map(h60)
      hs.foreach { h => val b = (h % ub).toInt; if (want(b) < clamp) want(b) += 1 }
      hs.sliding(2).foreach {
        case Seq(h1, h2) =>
          val b = ub + (((h1 % BigramMixMod) * BigramMixMul + h2) % bb).toInt
          if (want(b) < clamp) want(b) += 1
        case _ =>
      }
      got == want.toSeq && got.length == ub + bb
    }

  property("bucket_count_vec2_packed: a null token is skipped AND breaks bigram adjacency") =
    Prop.forAll(Gen.listOf(Gen.alphaNumStr), Gen.listOf(Gen.alphaNumStr)) { (a, b) =>
      // ["x.." null "y.."] must count exactly like the two halves
      // summed: no unigram for the null, and NO bigram spanning it —
      // the oracle's NULL-bucket rows drop from counts the same way
      val expr = graft.functions.HashExpressions.BucketCountVec2Packed(
        Literal.create(null, ArrayType(StringType)), "ret:", 32, 16, 255)
      def arr(ts: Seq[String]) =
        ArrayData.toArrayData(ts.map(UTF8String.fromString).toArray)
      val withNull = ArrayData.toArrayData(
        (a.map(UTF8String.fromString) ++ Seq(null) ++
          b.map(UTF8String.fromString)).toArray)
      val got = expr.kernel(withNull).map(_ & 0xFF)
      val wantA = expr.kernel(arr(a)).map(_ & 0xFF)
      val wantB = expr.kernel(arr(b)).map(_ & 0xFF)
      // exact identity: min(a+b, 255) == min(min(a,255)+min(b,255), 255)
      // for nonnegative a, b — clamping composes across the split
      got.toSeq == wantA.zip(wantB).map { case (x, y) => (x + y).min(255) }.toSeq
    }

  property("cdc_chunks equals the naive boundary+digest model and tiles exactly") =
    Prop.forAll(
        Gen.chooseNum(0, 50).flatMap(n =>
          Gen.listOfN(n, Gen.oneOf("a", "b", "cd", "word", "1", "x9", "zz"))),
        Gen.chooseNum(1, 6), Gen.chooseNum(1, 8)) { (toks, k, mod) =>
      def h60(ts: Seq[String]): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(ts.mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.take(15), 16)
      }
      val expr = graft.functions.HashExpressions.CdcChunks(
        Literal.create(null, ArrayType(StringType)), k, mod)
      val arr = ArrayData.toArrayData(toks.map(UTF8String.fromString).toArray)
      val got = expr.kernel(arr)
      val n = toks.length
      val ends =
        (0 until n).filter(s => s + k < n && h60(toks.slice(s, s + k)) % mod == 0)
          .map(_ + k) ++ (if (n > 0) Seq(n) else Nil)
      val starts = 0 +: ends.dropRight(if (ends.isEmpty) 0 else 1)
      got.numElements() == ends.length && (0 until got.numElements()).forall { i =>
        val r = got.getStruct(i, 5)
        r.getLong(0) == i.toLong && r.getLong(1) == starts(i).toLong &&
          r.getLong(2) == ends(i).toLong &&
          r.getLong(3) == (ends(i) - starts(i)).toLong &&
          r.getLong(4) == h60(toks.slice(starts(i), ends(i)))
      }
    }

  property("lvec dot and norm_sq equal the naive fold, exact in int64") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(-1000L, 1000L)),
        Gen.listOf(Gen.chooseNum(-1000L, 1000L))) { (a, b) =>
      import graft.functions.VectorExpressions.{LongArrayDot, LongArrayNormSq}
      val nullLit = Literal.create(null, ArrayType(LongType))
      val dot = LongArrayDot(nullLit, nullLit)
        .nullSafeEval(longArray(a), longArray(b)).asInstanceOf[Long]
      val n = math.min(a.length, b.length)
      val nsq = LongArrayNormSq(nullLit)
        .nullSafeEval(longArray(a)).asInstanceOf[Long]
      dot == (0 until n).map(i => a(i) * b(i)).sum &&
        nsq == a.map(v => v * v).sum
    }

  // ---- Md5ShingleHashes: matches a straight re-derivation

  private val tokenGen = Gen.nonEmptyListOf(Gen.alphaNumStr.suchThat(_.nonEmpty))

  property("md5 shingle hashes match direct digest of joined tokens") =
    Prop.forAll(tokenGen, Gen.chooseNum(1, 5)) { (tokens, k) =>
      val expr = Md5ShingleHashes(Literal.create(null, ArrayType(StringType)), k)
      val arr = ArrayData.toArrayData(tokens.map(UTF8String.fromString).toArray)
      val got = expr.kernel(arr).toLongArray.toSeq
      val n = tokens.length
      val m = math.max(n - k + 1, 1)
      val md = java.security.MessageDigest.getInstance("MD5")
      val want = (0 until m).map { i =>
        val s = tokens.slice(i, math.min(i + k, n)).mkString(" ")
        val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.take(15), 16)
      }
      got == want && got.forall(h => h >= 0 && h < (1L << 60))
    }

  property("sorted_long_contains equals Set membership for any set and probe") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue)),
                Gen.listOf(Gen.chooseNum(-100L, 100L))) { (set, probes) =>
      val expr = graft.functions.HashExpressions.SortedLongContains(
        BoundReference(0, LongType, nullable = false), set.toArray.sorted)
      val want = set.toSet
      // probe both arbitrary longs and values drawn from the set itself
      // (hit coverage: random probes almost never collide with a random set)
      (probes ++ set).forall { v =>
        expr.eval(new GenericInternalRow(Array[Any](v))) == want.contains(v)
      }
    }

  property("md5 shingle hashes skip null tokens like array_to_string") =
    Prop.forAll(tokenGen, Gen.chooseNum(1, 4)) { (tokens, k) =>
      // interleave nulls between real tokens; the digest must equal the
      // null-free shingle joined with single spaces (separator dropped
      // with the element, exactly DuckDB array_to_string semantics)
      val withNulls: Seq[String] = tokens.flatMap(t => Seq(null, t)) :+ null
      val expr = Md5ShingleHashes(Literal.create(null, ArrayType(StringType)), k)
      val arr = ArrayData.toArrayData(
        withNulls.map(t => if (t == null) null else UTF8String.fromString(t)).toArray)
      val got = expr.kernel(arr).toLongArray.toSeq
      val n = withNulls.length
      val m = math.max(n - k + 1, 1)
      val md = java.security.MessageDigest.getInstance("MD5")
      val want = (0 until m).map { i =>
        val s = withNulls.slice(i, math.min(i + k, n)).filter(_ != null).mkString(" ")
        val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.take(15), 16)
      }
      got == want
    }

  // ---- ArrayFreqStats: sort+run-scan equals naive groupBy counts

  property("array_freq_stats equals naive frequency map on non-null elements") =
    Prop.forAll(Gen.listOf(Gen.option(Gen.chooseNum(-50L, 50L)))) { xs =>
      val expr = graft.functions.HashExpressions.ArrayFreqStats(
        Literal.create(null, ArrayType(LongType)))
      val arr = ArrayData.toArrayData(xs.map(_.map(Long.box).orNull).toArray)
      val got = expr.kernel(arr).toLongArray.toSeq
      val vals = xs.flatten
      val counts = vals.groupBy(identity).view.mapValues(_.size.toLong)
      val want = Seq(vals.size.toLong, counts.size.toLong,
        if (vals.isEmpty) 0L else counts.values.max)
      got == want
    }

  // ---- ArraySimhash: multiset semantics on 60-bit inputs

  property("simhash is order-invariant and stays within 60 bits") =
    Prop.forAll(Gen.nonEmptyListOf(hash60Gen)) { hs =>
      val expr = ArraySimhash(Literal.create(null, ArrayType(LongType)))
      def sig(xs: Seq[Long]) = expr.nullSafeEval(longArray(xs)).asInstanceOf[Long]
      sig(hs) == sig(hs.reverse) && (sig(hs) >>> 60) == 0L
    }

  property("simhash of a single hash is that hash") =
    Prop.forAll(hash60Gen) { h =>
      val expr = ArraySimhash(Literal.create(null, ArrayType(LongType)))
      expr.nullSafeEval(longArray(Seq(h))).asInstanceOf[Long] == h
    }

  property("simhash64 equals the naive per-bit majority vote") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))) { hs =>
      val expr = ArraySimhash(Literal.create(null, ArrayType(LongType)))
      val got = expr.nullSafeEval(longArray(hs)).asInstanceOf[Long]
      val want = (0 until 64).foldLeft(0L) { (sig, b) =>
        val ones = hs.count(h => BigInt(h).testBit(b))
        if (ones > hs.length - ones) sig | (1L << b) else sig
      }
      got == want
    }

  // ---- Misra-Gries: the no-miss guarantee under arbitrary splits

  private val streamGen: Gen[List[Long]] = for {
    nHot <- Gen.chooseNum(50, 200)
    hot <- Gen.chooseNum(0L, 5L)
    noise <- Gen.listOfN(100, Gen.chooseNum(100L, 10000L))
  } yield List.fill(nHot)(hot) ++ noise

  property("MG sketch never drops a key with freq > N/(capacity+1), even merged") =
    Prop.forAll(streamGen, Gen.chooseNum(8, 32), Gen.chooseNum(1, 5)) { (stream, cap, nParts) =>
      val agg = MgAgg(BoundReference(0, LongType, nullable = false), cap)
      // split the stream into parts, build partial buffers, merge them
      val parts = stream.grouped(math.max(stream.size / nParts, 1)).toList
      val bufs = parts.map { p =>
        val b = agg.createAggregationBuffer()
        p.foreach(v => agg.update(b, new GenericInternalRow(Array[Any](v))))
        b
      }
      val merged = bufs.reduceLeft(agg.merge)
      val cands = agg.eval(merged).asInstanceOf[ArrayData].toLongArray.toSet
      val n = stream.size
      val truth = stream.groupBy(identity).view.mapValues(_.size).toMap
      val mustKeep = truth.filter { case (_, c) => c.toLong * (cap + 1) > n.toLong }.keySet
      cands.size <= cap && mustKeep.subsetOf(cands)
    }

  // ---- vector kernels: match the naive sequential fold they replaced

  private val vecGen: Gen[List[Float]] =
    Gen.listOfN(8, Gen.chooseNum(-4.0f, 4.0f))

  property("vec_dot and vec_norm_sq equal the naive double fold over float and double arrays") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(-4.0, 4.0)), Gen.listOf(Gen.chooseNum(-4.0, 4.0)),
        Gen.oneOf(FloatType, DoubleType), Gen.oneOf(FloatType, DoubleType)) { (a, b, ta, tb) =>
      import graft.functions.VectorExpressions.{ArrayDotProduct, ArrayNormSq}
      // the values an array of element type t holds, as doubles
      def vals(xs: List[Double], t: DataType) = if (t == FloatType) xs.map(_.toFloat.toDouble) else xs
      def arr(xs: List[Double], t: DataType): ArrayData =
        if (t == FloatType) ArrayData.toArrayData(xs.map(_.toFloat).toArray)
        else ArrayData.toArrayData(xs.toArray)
      def typed(t: DataType) = Literal.create(null, ArrayType(t))
      val dot = ArrayDotProduct(typed(ta), typed(tb))
        .nullSafeEval(arr(a, ta), arr(b, tb)).asInstanceOf[Double]
      val nsq = ArrayNormSq(typed(ta)).nullSafeEval(arr(a, ta)).asInstanceOf[Double]
      // zip stops at the shorter array, as the kernel does
      dot == vals(a, ta).zip(vals(b, tb)).foldLeft(0.0) { case (s, (x, y)) => s + x * y } &&
        nsq == vals(a, ta).foldLeft(0.0)((s, x) => s + x * x)
    }

  property("lsh_buckets equals the per-plane sequential-fold sign bits") =
    Prop.forAll(vecGen, Gen.listOfN(3, Gen.listOfN(4, vecGen))) { (v, tables) =>
      val planes = tables.map(_.map(_.map(_.toDouble)))
      val expr = graft.functions.VectorExpressions.LshBucketsExpr(
        Literal.create(null, ArrayType(FloatType)),
        planes.map(_.map(_.toArray).toArray).toArray)
      val arr = ArrayData.toArrayData(v.toArray)
      val got = expr.nullSafeEval(arr).asInstanceOf[ArrayData].toIntArray.toSeq
      val want = planes.map { ps =>
        ps.zipWithIndex.map { case (p, j) =>
          val dot = v.map(_.toDouble).zip(p).foldLeft(0.0) { case (s, (a, b)) => s + a * b }
          if (dot > 0) 1 << j else 0
        }.sum
      }
      got == want
    }

  property("vec_cell_dots equals the naive sequential dot per cell") =
    Prop.forAll(vecGen, Gen.listOfN(5, vecGen)) { (v, cells) =>
      val cs = cells.map(_.map(_.toDouble))
      val expr = graft.functions.VectorExpressions.CellDotsExpr(
        Literal.create(null, ArrayType(FloatType)), cs.map(_.toArray).toArray)
      val arr = ArrayData.toArrayData(v.toArray)
      val got = expr.nullSafeEval(arr).asInstanceOf[ArrayData].toDoubleArray.toSeq
      val want = cs.map(c =>
        v.map(_.toDouble).zip(c).foldLeft(0.0) { case (s, (a, b)) => s + a * b })
      got == want
    }

  // ---- fixed-point log2 (the q100 surprisal kernel)

  property("log2mb floors the true log within 2/1024 bit on the full domain") =
    Prop.forAll(Gen.chooseNum(1L, (1L << 62) - 1), Gen.chooseNum(1L, (1L << 62) - 1)) {
      (x, y) =>
        val (a, b) = (math.min(x, y), math.max(x, y))
        val mb = graft.functions.LogExpressions.log2mbKernel(a, b)
        val truth = StrictMath.log(b.toDouble / a) / StrictMath.log(2.0) * 1024.0
        mb <= truth + 1e-6 && mb >= truth - 2.0
    }

  property("log2mb is additive across exact power-of-two scalings") =
    Prop.forAll(Gen.chooseNum(1L, 1L << 30), Gen.chooseNum(1L, 1L << 30),
      Gen.chooseNum(0, 30)) { (x, y, e) =>
      // scaling b by 2^e adds exactly e·1024: the exponent and mantissa
      // paths are independent, so the shift lands entirely in k
      val (a, b) = (math.min(x, y), math.max(x, y))
      graft.functions.LogExpressions.log2mbKernel(a, b << e) ==
        graft.functions.LogExpressions.log2mbKernel(a, b) + e.toLong * 1024
    }

  // ---- packed-binary kernels (the q103b rescore's exchange format)

  property("pack_longs -> unpack_longs roundtrips any long list") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))) { xs =>
      val packed = graft.functions.VectorExpressions
        .LongsToBinary(BoundReference(0, ArrayType(LongType), nullable = false))
        .kernel(ArrayData.toArrayData(xs.toArray))
      val back = graft.functions.VectorExpressions
        .BinaryToLongs(BoundReference(0, BinaryType, nullable = false))
        .kernel(packed)
      back.toLongArray().toSeq == xs
    }

  property("bvec dot/norm over packed bytes equal lvec over the long form") =
    Prop.forAll(
      Gen.listOfN(64, Gen.chooseNum(0, 255)),
      Gen.listOfN(64, Gen.chooseNum(0, 255))) { (a, b) =>
      val al = a.map(_.toLong); val bl = b.map(_.toLong)
      val ab = a.map(_.toByte).toArray; val bb = b.map(_.toByte).toArray
      def lDot(x: Seq[Long], y: Seq[Long]) = graft.functions.VectorExpressions
        .LongArrayDot(BoundReference(0, ArrayType(LongType), nullable = false),
          BoundReference(1, ArrayType(LongType), nullable = false))
        .nullSafeEval(ArrayData.toArrayData(x.toArray), ArrayData.toArrayData(y.toArray))
        .asInstanceOf[Long]
      def bDot(x: Array[Byte], y: Array[Byte]) = graft.functions.VectorExpressions
        .ByteVecDot(BoundReference(0, BinaryType, nullable = false),
          BoundReference(1, BinaryType, nullable = false))
        .nullSafeEval(x, y).asInstanceOf[Long]
      def bNorm(x: Array[Byte]) = graft.functions.VectorExpressions
        .ByteVecNormSq(BoundReference(0, BinaryType, nullable = false))
        .nullSafeEval(x).asInstanceOf[Long]
      def lNorm(x: Seq[Long]) = graft.functions.VectorExpressions
        .LongArrayNormSq(BoundReference(0, ArrayType(LongType), nullable = false))
        .nullSafeEval(ArrayData.toArrayData(x.toArray)).asInstanceOf[Long]
      bDot(ab, bb) == lDot(al, bl) && bNorm(ab) == lNorm(al) && bNorm(bb) == lNorm(bl)
    }

  // ---- serialization round-trip

  property("MG buffer serializes and deserializes losslessly") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(0L, 100L))) { xs =>
      val agg = MgAgg(BoundReference(0, LongType, nullable = false), 16)
      val b = agg.createAggregationBuffer()
      xs.foreach(v => agg.update(b, new GenericInternalRow(Array[Any](v))))
      val rt = agg.deserialize(agg.serialize(b))
      rt.toMap == b.toMap
    }

  // ---- Multimodal resize: geometry + nearest-neighbour sampling law

  property("image resize emits a valid P6 at the target dims whose pixels obey the NN law") =
    Prop.forAll(
      Gen.chooseNum(1, 20), Gen.chooseNum(1, 20),
      Gen.chooseNum(1, 20), Gen.chooseNum(1, 20),
      Gen.chooseNum(0L, 1000000L)) { (w, h, newW, newH, docId) =>
      import graft.operators.Multimodal
      // fixture pixel law: (docId*31 + i*7) mod 256 (the synthMedia form)
      val px = Array.tabulate(w * h * 3)(i => ((docId * 31 + i.toLong * 7) % 256L).toByte)
      val row = Multimodal.MediaRow(docId, Multimodal.ImageMime,
        Multimodal.encodeImage(w, h, px))
      val out = Multimodal.resizeImage(row, newW, newH)
      val feats = Multimodal.decodeMedia(out) // must re-decode as a VALID P6
      // reference recompute of the nearest-neighbour resample, in plain
      // Scala independent of the kernel's byte walking
      var want = 0L
      var y = 0
      while (y < newH) {
        var x = 0
        while (x < newW) {
          val src = ((y * h / newH) * w + x * w / newW) * 3
          var c = 0
          while (c < 3) { want += java.lang.Byte.toUnsignedInt(px(src + c)); c += 1 }
          x += 1
        }
        y += 1
      }
      feats.width == newW.toLong && feats.height == newH.toLong &&
        feats.sum_pix == want
    }
}
