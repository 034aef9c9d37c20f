package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** The one shape of graft's row-level Catalyst expressions, and their
  * one SQL-function table.
  *
  * Each expression's math is one Scala `kernel` method. Interpreted
  * evaluation calls it directly; generated code reaches it through
  * [[KernelCodegen.genCall]], one virtual call per row on the
  * expression itself (held as a codegen reference object). So the two
  * modes cannot diverge, the expression stays inside whole-stage
  * codegen, and no loop is generated as Java text. A kernel whose
  * result type is primitive returns the primitive, so the generated
  * path boxes nothing. Each kernel's independent reference is a naive
  * re-derivation in KernelProperties (or the DuckDB oracle and the hand
  * fixtures its expression's doc names); CodegenAgreementSpec checks
  * the plumbing around the call. */
object Kernels {

  /** an expression whose generated code calls its own `kernel` */
  trait KernelCodegen extends Expression {
    /** the Java expression `(T) this.kernel(args)`, T the Java type of
      * `dataType` */
    protected def genCall(ctx: CodegenContext, args: String*): String = {
      val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
      s"(${CodeGenerator.javaType(dataType)}) $ref.kernel(${args.mkString(", ")})"
    }
  }

  /** a one-input kernel: a null input gives null */
  abstract class UnaryKernel extends UnaryExpression with KernelCodegen {
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = ${genCall(ctx, a)};")
  }

  /** a two-input kernel: a null in either input gives null */
  abstract class BinaryKernel extends BinaryExpression with KernelCodegen {
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = ${genCall(ctx, a, b)};")
  }

  /** a unary kernel over array<string> with an object result */
  abstract class TokenKernel extends UnaryKernel {
    def kernel(a: ArrayData): Any
    override def checkInputDataTypes(): TypeCheckResult = stringArray(prettyName, child)
    override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])
  }

  /** success iff every input's type is one `ok` accepts; else
    * "`fn` expects `want`, got <the inputs' types>" */
  def expect(fn: String, want: String, inputs: Expression*)(
      ok: PartialFunction[DataType, Unit]): TypeCheckResult =
    if (inputs.forall(e => ok.isDefinedAt(e.dataType))) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn expects $want, got ${inputs.map(_.dataType).mkString(", ")}")

  def stringArray(fn: String, inputs: Expression*): TypeCheckResult =
    expect(fn, "array<string>", inputs: _*) { case ArrayType(StringType, _) => }

  def longArray(fn: String, inputs: Expression*): TypeCheckResult =
    expect(fn, "array<bigint>", inputs: _*) { case ArrayType(LongType, _) => }

  def vector(fn: String, inputs: Expression*): TypeCheckResult =
    expect(fn, "array<float|double>", inputs: _*) { case ArrayType(FloatType | DoubleType, _) => }

  def binary(fn: String, inputs: Expression*): TypeCheckResult =
    expect(fn, "binary", inputs: _*) { case BinaryType => }

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

  /** THE SQL-function table: every graft function a `spark.sql` text
    * can call, by name. GraftExtensions injects it when a session is
    * built; [[registerSql]] registers it on a session that exists. */
  val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] = {
    import HashExpressions._
    import VectorExpressions._
    Seq(
      ("simhash64", e => ArraySimhash(e(0))),
      ("array_freq_stats", e => ArrayFreqStats(e(0))),
      ("md5_shingle_hashes", e => Md5ShingleHashes(e(0), literalInt(e(1), "md5_shingle_hashes"))),
      ("affine_minhash", e => {
        val params = graft.operators.Dedup.affineParams(literalInt(e(1), "affine_minhash"))
        AffineMinHash(e(0), params.map(_._1), params.map(_._2))
      }),
      ("bucket_count_vec", e => BucketCountVec(e(0), literalString(e(1), "bucket_count_vec"),
        literalInt(e(2), "bucket_count_vec"), literalInt(e(3), "bucket_count_vec"))),
      ("cdc_chunks", e => CdcChunks(e(0), literalInt(e(1), "cdc_chunks"),
        literalInt(e(2), "cdc_chunks"))),
      ("vec_dot", e => ArrayDotProduct(e(0), e(1))),
      ("vec_norm_sq", e => ArrayNormSq(e(0))),
      ("lvec_dot", e => LongArrayDot(e(0), e(1))),
      ("lvec_norm_sq", e => LongArrayNormSq(e(0))),
      ("log2mb", e => LogExpressions.Log2FixedMb(e(0), e(1))))
  }

  /** register every [[sqlBuilders]] function on an existing session */
  def registerSql(spark: SparkSession): Unit =
    sqlBuilders.foreach { case (name, builder) =>
      ColumnBridge.registerFunction(spark, name, builder)
    }
}
