package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path.
  *
  * The higher-order-function formulation of a dot product
  * (`aggregate(zip_with(a,b,*),0,+)`) evaluates its lambda interpreted,
  * one element at a time — fine for a few thousand rows, hopeless for
  * the O(n·k) inner loop of similarity search at scale. These are tight
  * codegen'd loops over the array data, usable from whole-stage
  * codegen.
  */
object VectorExpressions {

  private def getter(e: Expression): String =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType  => "getFloat"
      case DoubleType => "getDouble"
      case t => throw new IllegalArgumentException(s"vec op on array<$t>")
    }

  private def read(x: ArrayData, g: String, i: Int): Double =
    if (g == "getFloat") x.getFloat(i).toDouble else x.getDouble(i)

  /** Σ aᵢ·bᵢ over two float/double arrays (shorter length wins).
    * Element types are read natively — no array-wide cast copy per row,
    * which matters when the same vector participates in thousands of
    * pair comparisons. */
  case class ArrayDotProduct(left: Expression, right: Expression)
      extends BinaryExpression {

    override def checkInputDataTypes() = {
      def ok(e: Expression) = e.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }
      if (ok(left) && ok(right))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot expects array<float|double>, got ${left.dataType}, ${right.dataType}")
    }
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val (gx, gy) = (getter(left), getter(right))
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += read(x, gx, i) * read(y, gy, i); i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double ${ev.value}_s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  ${ev.value}_s += (double) $a.${getter(left)}($i) * (double) $b.${getter(right)}($i);
           |}
           |${ev.value} = ${ev.value}_s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Σ aᵢ² — squared L2 norm, same codegen shape. */
  case class ArrayNormSq(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

    override def checkInputDataTypes() = child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_norm_sq expects array<float|double>, got $t")
    }
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_norm_sq"

    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val g = getter(child)
      var s = 0.0
      var i = 0
      while (i < x.numElements()) { val v = read(x, g, i); s += v * v; i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i")
        s"""
           |double ${ev.value}_s = 0.0;
           |for (int $i = 0; $i < $a.numElements(); $i++) {
           |  double v = (double) $a.${getter(child)}($i);
           |  ${ev.value}_s += v * v;
           |}
           |${ev.value} = ${ev.value}_s;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Σ aᵢ·bᵢ over two long arrays, exact int64 — the integer-count
    * sibling of [[ArrayDotProduct]] for the q103 retrieval scoring,
    * whose HOF form (`aggregate(zip_with(...))`) evaluates an
    * interpreted lambda per element per candidate pair. Callers
    * guarantee no-overflow via saturation bounds. */
  case class LongArrayDot(left: Expression, right: Expression)
      extends BinaryExpression {

    override def checkInputDataTypes() = (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (a, b) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lvec_dot expects array<bigint>, got $a, $b")
    }
    override def dataType: DataType = LongType
    override def prettyName: String = "lvec_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0L
      var i = 0
      while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |long ${ev.value}_s = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  ${ev.value}_s += $a.getLong($i) * $b.getLong($i);
           |}
           |${ev.value} = ${ev.value}_s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Σ aᵢ² over a long array, exact int64. */
  case class LongArrayNormSq(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

    override def checkInputDataTypes() = child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lvec_norm_sq expects array<bigint>, got $t")
    }
    override def dataType: DataType = LongType
    override def prettyName: String = "lvec_norm_sq"

    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      var s = 0L
      var i = 0
      while (i < x.numElements()) { val v = x.getLong(i); s += v * v; i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i")
        s"""
           |long ${ev.value}_s = 0L;
           |for (int $i = 0; $i < $a.numElements(); $i++) {
           |  long v = $a.getLong($i);
           |  ${ev.value}_s += v * v;
           |}
           |${ev.value} = ${ev.value}_s;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** All LSH sign-buckets for a vector in ONE expression: for table t,
    * bucket(t) = Σ_j [dot(v, planes(t)(j)) > 0]·2^j. The plane matrix
    * rides along as a codegen reference object — one tree node where
    * the per-plane `vec_dot(v, typedLit(plane))` formulation needs
    * tables×planes separate subtrees holding tables×planes×dim literal
    * nodes, which dominates analysis+codegen time for every
    * LSH-family query. The inner fold is ordered identically to
    * [[ArrayDotProduct]], so the sign bits (and the DuckDB oracle
    * parity built on them) are unchanged. */
  case class LshBucketsExpr(child: Expression, planes: Array[Array[Array[Double]]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

    override def checkInputDataTypes() = child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lsh_buckets expects array<float|double>, got $t")
    }
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "lsh_buckets"

    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val g = getter(child)
      val out = new Array[Int](planes.length)
      var t = 0
      while (t < planes.length) {
        var bucket = 0
        var j = 0
        while (j < planes(t).length) {
          val p = planes(t)(j)
          val n = math.min(x.numElements(), p.length)
          var s = 0.0
          var i = 0
          while (i < n) { s += read(x, g, i) * p(i); i += 1 }
          if (s > 0) bucket |= 1 << j
          j += 1
        }
        out(t) = bucket
        t += 1
      }
      ArrayData.toArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val pl = ctx.addReferenceObj("lshPlanes", planes, "double[][][]")
        val out = ctx.freshName("out"); val t = ctx.freshName("t")
        val j = ctx.freshName("j"); val i = ctx.freshName("i")
        val p = ctx.freshName("p"); val s = ctx.freshName("s")
        val n = ctx.freshName("n"); val bucket = ctx.freshName("bucket")
        s"""
           |int[] $out = new int[$pl.length];
           |for (int $t = 0; $t < $pl.length; $t++) {
           |  int $bucket = 0;
           |  for (int $j = 0; $j < $pl[$t].length; $j++) {
           |    double[] $p = $pl[$t][$j];
           |    int $n = java.lang.Math.min($a.numElements(), $p.length);
           |    double $s = 0.0;
           |    for (int $i = 0; $i < $n; $i++) {
           |      $s += (double) $a.${getter(child)}($i) * $p[$i];
           |    }
           |    if ($s > 0) $bucket |= 1 << $j;
           |  }
           |  $out[$t] = $bucket;
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Σ (aᵢ & 0xFF)·(bᵢ & 0xFF) over two PACKED byte-count vectors
    * (BinaryType, one unsigned byte per bucket — the
    * `bucket_count_vec_packed` layout), exact int64. The packed twin
    * of [[LongArrayDot]] for the q103b rescore: a `buckets`-wide
    * count vector saturated at 255 occupies `buckets` bytes as binary
    * vs ~8·buckets+16 bytes as a Tungsten long array, so every
    * exchange the candidate rows cross carries ~8× fewer bytes — the
    * r12 verdict's measured 100× knee was exactly this row width. Counts ≤ 255 ⇒ every
    * product < 2¹⁶ and any realistic sum is int64-exact. */
  case class ByteVecDot(left: Expression, right: Expression)
      extends BinaryExpression {

    override def checkInputDataTypes() = (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (a, b) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bvec_dot expects binary, got $a, $b")
    }
    override def dataType: DataType = LongType
    override def prettyName: String = "bvec_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[Array[Byte]]
      val y = b.asInstanceOf[Array[Byte]]
      val n = math.min(x.length, y.length)
      var s = 0L
      var i = 0
      while (i < n) { s += (x(i) & 0xFF).toLong * (y(i) & 0xFF).toLong; i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        s"""
           |int $n = java.lang.Math.min($a.length, $b.length);
           |long ${ev.value}_s = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  ${ev.value}_s += (long) ($a[$i] & 0xFF) * (long) ($b[$i] & 0xFF);
           |}
           |${ev.value} = ${ev.value}_s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Σ (aᵢ & 0xFF)² over a packed byte-count vector, exact int64. */
  case class ByteVecNormSq(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

    override def checkInputDataTypes() = child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bvec_norm_sq expects binary, got $t")
    }
    override def dataType: DataType = LongType
    override def prettyName: String = "bvec_norm_sq"

    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[Array[Byte]]
      var s = 0L
      var i = 0
      while (i < x.length) { val v = (x(i) & 0xFF).toLong; s += v * v; i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i")
        s"""
           |long ${ev.value}_s = 0L;
           |for (int $i = 0; $i < $a.length; $i++) {
           |  long v = (long) ($a[$i] & 0xFF);
           |  ${ev.value}_s += v * v;
           |}
           |${ev.value} = ${ev.value}_s;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** array<bigint> → packed big-endian binary (8 bytes per value).
    * Exists so a long list can CROSS an exchange as BinaryType — a
    * Tungsten long array costs 16 + 8n bytes plus array-over-shuffle
    * is pinned out of the q103b plan; the packed form is 8n and
    * unpacks row-locally ABOVE the exchange ([[BinaryToLongs]]).
    * Null elements are disallowed (callers pack hash lists, which
    * never carry nulls). */
  case class LongsToBinary(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

    override def checkInputDataTypes() = child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pack_longs expects array<bigint>, got $t")
    }
    override def dataType: DataType = BinaryType
    override def prettyName: String = "pack_longs"

    def kernel(a: ArrayData): Array[Byte] = {
      val n = a.numElements()
      val out = new Array[Byte](n * 8)
      var i = 0
      while (i < n) {
        val v = a.getLong(i)
        var j = 0
        while (j < 8) { out(i * 8 + j) = (v >>> (56 - 8 * j)).toByte; j += 1 }
        i += 1
      }
      out
    }
    override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val ref = ctx.addReferenceObj("packLongs", this, classOf[LongsToBinary].getName)
        s"${ev.value} = (byte[]) $ref.kernel($a);"
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** packed big-endian binary → array<bigint> (inverse of
    * [[LongsToBinary]]). */
  case class BinaryToLongs(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

    override def checkInputDataTypes() = child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"unpack_longs expects binary, got $t")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "unpack_longs"

    def kernel(b: Array[Byte]): ArrayData = {
      val n = b.length / 8
      val out = new Array[Long](n)
      var i = 0
      while (i < n) {
        var v = 0L
        var j = 0
        while (j < 8) { v = (v << 8) | (b(i * 8 + j) & 0xFFL); j += 1 }
        out(i) = v
        i += 1
      }
      ArrayData.toArrayData(out)
    }
    override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val ref = ctx.addReferenceObj("unpackLongs", this, classOf[BinaryToLongs].getName)
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.kernel($a);"
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def lsh_buckets(embedding: Column, planes: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(LshBucketsExpr(ColumnBridge.expression(embedding),
      planes.map(_.map(_.toArray).toArray).toArray))

  /** dot(v, mᵢ) for every row mᵢ of a broadcast-sized matrix (IVF
    * centroids), one expression — same reference-object trick as
    * [[LshBucketsExpr]], same fold order as [[ArrayDotProduct]]. */
  case class CellDotsExpr(child: Expression, cells: Array[Array[Double]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

    override def checkInputDataTypes() = child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_cell_dots expects array<float|double>, got $t")
    }
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "vec_cell_dots"

    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val g = getter(child)
      val out = new Array[Double](cells.length)
      var c = 0
      while (c < cells.length) {
        val m = cells(c)
        val n = math.min(x.numElements(), m.length)
        var s = 0.0
        var i = 0
        while (i < n) { s += read(x, g, i) * m(i); i += 1 }
        out(c) = s
        c += 1
      }
      ArrayData.toArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val cl = ctx.addReferenceObj("cellMatrix", cells, "double[][]")
        val out = ctx.freshName("out"); val c = ctx.freshName("c")
        val i = ctx.freshName("i"); val m = ctx.freshName("m")
        val s = ctx.freshName("s"); val n = ctx.freshName("n")
        s"""
           |double[] $out = new double[$cl.length];
           |for (int $c = 0; $c < $cl.length; $c++) {
           |  double[] $m = $cl[$c];
           |  int $n = java.lang.Math.min($a.numElements(), $m.length);
           |  double $s = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    $s += (double) $a.${getter(child)}($i) * $m[$i];
           |  }
           |  $out[$c] = $s;
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def vec_cell_dots(embedding: Column, cells: Seq[Seq[Double]]): Column =
    ColumnBridge.column(CellDotsExpr(ColumnBridge.expression(embedding),
      cells.map(_.toArray).toArray))

  val NearestCellType: StructType = StructType(Seq(
    StructField("score", DoubleType), StructField("cell", IntegerType, nullable = false)))

  /** IVF cell assignment over a row's [[CellDotsExpr]] array:
    * struct(score, cell) of the cell maximising
    * score_c = dots[c] / (norm · cellNorms[c]) — exactly what
    * `greatest(struct(score_0, 0), …, struct(score_{C−1}, C−1))` over
    * those divisions returns, without building and comparing C structs
    * per row. The order is greatest's: a null score ranks lowest, NaN
    * ranks highest (and equals NaN), −0.0 equals 0.0, and a tie goes to
    * the larger cell. Each score is Spark's double division: a null
    * dots array or norm gives a null score, and a zero divisor fails
    * under ANSI (`failOnError`, the session's mode when the expression
    * is built) and gives null otherwise. */
  case class NearestCell(left: Expression, right: Expression, cellNorms: Array[Double],
                         failOnError: Boolean) extends BinaryExpression {
    require(cellNorms.nonEmpty, "nearest_cell needs at least one centroid")
    override def checkInputDataTypes() = (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nearest_cell expects (array<double>, double), got ($l, $r)")
    }
    override def dataType: DataType = NearestCellType
    override def nullable: Boolean = false
    override def prettyName: String = "nearest_cell"
    override protected def stringArgs: Iterator[Any] =
      Iterator(left, right, s"cells[${cellNorms.length}]")

    /** `dots` is null when the embedding is, `norm` when the norm is */
    def kernel(dots: ArrayData, norm: java.lang.Double): org.apache.spark.sql.catalyst.InternalRow = {
      if (dots != null && dots.numElements() != cellNorms.length)
        throw new IllegalArgumentException(
          s"nearest_cell: ${dots.numElements()} dots for ${cellNorms.length} cells")
      var best = 0
      var bestScore: java.lang.Double = null
      var c = 0
      while (c < cellNorms.length) {
        val score: java.lang.Double =
          if (norm == null || dots == null || dots.isNullAt(c)) null
          else {
            val div = norm * cellNorms(c)
            if (div == 0.0) {
              if (failOnError)
                throw new ArithmeticException("[DIVIDE_BY_ZERO] Division by zero in nearest_cell.")
              null
            } else dots.getDouble(c) / div
          }
        val wins =
          if (score == null) bestScore == null
          else bestScore == null ||
            org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(score, bestScore) >= 0
        if (wins) { best = c; bestScore = score }
        c += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](bestScore, best))
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      kernel(left.eval(input).asInstanceOf[ArrayData],
        right.eval(input).asInstanceOf[java.lang.Double])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val l = left.genCode(ctx)
      val r = right.genCode(ctx)
      val ref = ctx.addReferenceObj("nearestCell", this, classOf[NearestCell].getName)
      ev.copy(code = code"""
        |${l.code}
        |${r.code}
        |InternalRow ${ev.value} = $ref.kernel(${l.isNull} ? null : ${l.value},
        |  ${r.isNull} ? null : Double.valueOf(${r.value}));""".stripMargin,
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }

    override def equals(o: Any): Boolean = o match {
      case n: NearestCell => left == n.left && right == n.right && failOnError == n.failOnError &&
        java.util.Arrays.equals(cellNorms, n.cellNorms)
      case _ => false
    }
    override def hashCode(): Int =
      31 * (31 * left.hashCode() + right.hashCode()) + java.util.Arrays.hashCode(cellNorms)

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** the nearest IVF cell of each row as struct(score, cell) — see
    * [[NearestCell]]; `dots` is the row's [[vec_cell_dots]] over the
    * centroids, `norm` the embedding's L2 norm, `cellNorms` the
    * centroids' L2 norms */
  def nearest_cell(dots: Column, norm: Column, cellNorms: Seq[Double]): Column =
    ColumnBridge.column(NearestCell(ColumnBridge.expression(dots),
      ColumnBridge.expression(norm), cellNorms.toArray,
      org.apache.spark.sql.internal.SQLConf.get.ansiEnabled))

  /** Column API: codegen'd dot product (inputs auto-cast to
    * array<double>). */
  def vec_dot(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayDotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def lvec_dot(a: Column, b: Column): Column =
    ColumnBridge.column(LongArrayDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def lvec_norm_sq(a: Column): Column =
    ColumnBridge.column(LongArrayNormSq(ColumnBridge.expression(a)))

  def bvec_dot(a: Column, b: Column): Column =
    ColumnBridge.column(ByteVecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def bvec_norm_sq(a: Column): Column =
    ColumnBridge.column(ByteVecNormSq(ColumnBridge.expression(a)))

  def pack_longs(a: Column): Column =
    ColumnBridge.column(LongsToBinary(ColumnBridge.expression(a)))

  def unpack_longs(a: Column): Column =
    ColumnBridge.column(BinaryToLongs(ColumnBridge.expression(a)))

  def vec_norm_sq(a: Column): Column =
    ColumnBridge.column(ArrayNormSq(ColumnBridge.expression(a)))

  /** make vec_dot / vec_norm_sq / lvec_dot / lvec_norm_sq available
    * to spark.sql(...) texts. */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit = {
    ColumnBridge.registerFunction(spark, "vec_dot",
      exprs => ArrayDotProduct(exprs(0), exprs(1)))
    ColumnBridge.registerFunction(spark, "vec_norm_sq",
      exprs => ArrayNormSq(exprs.head))
    ColumnBridge.registerFunction(spark, "lvec_dot",
      exprs => LongArrayDot(exprs(0), exprs(1)))
    ColumnBridge.registerFunction(spark, "lvec_norm_sq",
      exprs => LongArrayNormSq(exprs.head))
  }
}
