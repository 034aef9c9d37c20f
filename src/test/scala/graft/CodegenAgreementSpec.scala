package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BpeExpressions, HashExpressions, LogExpressions, TextKernels, VectorExpressions}

/** CODEGEN ↔ INTERPRETED agreement for every custom Catalyst
  * expression (r15). Every expression's math is one Scala kernel that
  * both modes call ([[graft.functions.Kernels]]), so what can still
  * diverge is the plumbing around the call: null handling, the cast of
  * the generated call, result conversion, the float/double dispatch —
  * and the interpreted path is exactly what runs when whole-stage
  * codegen falls back at scale (generated-method-size limits, wide
  * plans, codegen bugs), i.e. precisely when nobody is looking. A slip
  * in the math itself shows against the naive references in
  * KernelProperties, not here. This
  * spec runs the full battery twice on the SAME inputs — once under a
  * child session that must generate code (a generated call that fails
  * to compile throws instead of falling back, and the projection must
  * sit inside a whole-stage span), once under a child session with
  * whole-stage codegen off and the expression factory forced to
  * NO_CODEGEN — and demands bit-identical rows.
  *
  * The child session ([[org.apache.spark.sql.SparkSession#newSession]])
  * has its OWN SQLConf, so flipping the factory mode cannot race the
  * other suites sharing this JVM's default session. */
class CodegenAgreementSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** both sides keep the battery's projection a plan node: the
    * optimizer would otherwise evaluate a projection over a local
    * relation once on the driver, interpreted (ConvertToLocalRelation),
    * and the codegen side would test nothing */
  private def child(settings: (String, String)*): SparkSession = {
    val s = spark.newSession()
    (("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation") +: settings)
      .foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** the codegen side: a generated call that fails to compile throws
    * instead of quietly running interpreted */
  private def generated = child("spark.sql.codegen.fallback" -> "false",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")

  private def interpreted = child("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** every plan node that evaluates a graft expression sits inside a
    * whole-stage span, and there is at least one (run after execution,
    * so the adaptive plan is final) */
  private def assertWholeStage(df: DataFrame): Unit = {
    def span(p: SparkPlan): Seq[SparkPlan] =
      p +: (p match { case _: InputAdapter => Nil; case _ => p.children.flatMap(span) })
    val all = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
    val inSpans = all.collect { case w: WholeStageCodegenExec => span(w.child) }.flatten
    val carrying = all.filter(_.expressions.exists(_.exists(
      _.getClass.getName.startsWith("graft.functions."))))
    assert(carrying.nonEmpty, "no plan node evaluates a graft expression")
    carrying.foreach(n => assert(inSpans.exists(_ eq n), s"outside whole-stage codegen: ${n.nodeName}"))
  }

  /** collects the battery; on the codegen side, also checks it ran there */
  private def run(df: DataFrame, codegen: Boolean): Array[Seq[Any]] = {
    val rows = df.collect()
    if (codegen) assertWholeStage(df)
    rows.map(_.toSeq.map {
      case a: Array[Byte] => a.toSeq
      case v => v
    })
  }

  private def battery(s: SparkSession): DataFrame = {
    import s.implicits._
    val rows = (0L until 64L).map { i =>
      val toks = (0 to (i % 7).toInt).map(j => s"w${(i * 3 + j) % 11}")
      val la = (0 to (i % 5).toInt + 1).map(j => (i * 7 + j * 13) % 256)
      val lb = (0 to (i % 5).toInt + 1).map(j => (i * 5 + j * 17) % 256)
      val fa = (0 to 5).map(j => ((i * 31 + j * 7) % 100).toDouble / 10.0 - 5.0)
      val fb = (0 to 5).map(j => ((i * 17 + j * 3) % 100).toDouble / 10.0 - 5.0)
      val hashes = (0 to (i % 6).toInt).map(j => (i * 1000003L + j * 999983L) % (1L << 60))
      (i, toks, la, lb, fa, fb, hashes, i % 97 + 1, i % 89 + 1, s"word${i % 13}")
    }
    val df = rows.toDF("id", "toks", "la", "lb", "fa", "fb", "hashes", "a", "b", "word")
    val planes = Seq(Seq(Seq(0.5, -1.0, 2.0, 0.1, -0.3, 1.1), Seq(1.0, 1.0, -1.0, 0.0, 0.2, -0.7)))
    val cells = Seq(Seq(1.0, 0.0, -1.0, 0.5, 0.25, -0.125), Seq(-1.0, 2.0, 0.0, 0.0, 1.0, 1.0))
    val merges = Seq(("w", "o"), ("wo", "r"), ("a", "b"))
    val params = graft.operators.Dedup.affineParams(8)
    df.select(col("id"),
        VectorExpressions.lvec_dot(col("la"), col("lb")).as("ld"),
        VectorExpressions.lvec_norm_sq(col("la")).as("ln"),
        VectorExpressions.bvec_dot(
          VectorExpressions.pack_longs(col("la")),
          VectorExpressions.pack_longs(col("lb"))).as("bd"),
        VectorExpressions.bvec_norm_sq(VectorExpressions.pack_longs(col("la"))).as("bn"),
        VectorExpressions.unpack_longs(VectorExpressions.pack_longs(col("la"))).as("rt"),
        VectorExpressions.vec_dot(col("fa"), col("fb")).as("vd"),
        VectorExpressions.vec_norm_sq(col("fa")).as("vn"),
        VectorExpressions.lsh_buckets(col("fa"), planes).as("lsh"),
        VectorExpressions.vec_cell_dots(col("fa"), cells).as("cd"),
        HashExpressions.simhash64(col("hashes")).as("sh"),
        HashExpressions.array_freq_stats(col("hashes")).as("fs"),
        HashExpressions.array_entropy_stats(col("hashes")).as("es"),
        HashExpressions.md5_shingle_hashes(col("toks"), 3).as("msh"),
        HashExpressions.cdc_chunks(col("toks"), 2, 4).as("cdc"),
        HashExpressions.affine_minhash(
          HashExpressions.md5_shingle_hashes(col("toks"), 3), params).as("mh"),
        HashExpressions.bucket_count_vec(col("toks"), "agr:", 32, 255).as("bcv"),
        HashExpressions.bucket_count_vec2_packed(col("toks"), "agr:", 32, 16, 255).as("bcv2"),
        HashExpressions.sorted_long_contains(col("a"), Seq(3L, 17L, 42L, 90L)).as("slc"),
        LogExpressions.log2mb(col("a"), col("b")).as("lg"),
        BpeExpressions.bpe_tokens(col("word"), merges).as("bpe"),
        BpeExpressions.bpe_stats(col("toks"), merges).as("bps"))
      .orderBy("id")
  }

  test("every custom expression agrees between codegen and interpreted evaluation") {
    val gen = run(battery(generated), codegen = true)
    val interp = interpreted
    // sanity: the child session really is in interpreted mode and the
    // parent session's conf is untouched
    assert(interp.conf.get("spark.sql.codegen.factoryMode") == "NO_CODEGEN")
    assert(spark.conf.get("spark.sql.codegen.wholeStage", "true") != "false")
    assert(spark.conf.get("spark.sql.codegen.fallback", "true") != "false")
    // non-vacuity: the child session's physical plans carry no
    // whole-stage span (codegen genuinely off, not silently ignored)
    val probe = interp.range(3).selectExpr("id + 1")
    assert(!probe.queryExecution.executedPlan.toString.contains("WholeStageCodegen"),
      "the interpreted session must not produce WholeStageCodegen spans")
    val int = run(battery(interp), codegen = false)
    assert(gen.length == int.length && gen.nonEmpty)
    gen.zip(int).zipWithIndex.foreach { case ((g, i2), idx) =>
      assert(g == i2, s"row $idx diverges between codegen and interpreted: $g vs $i2")
    }
  }

  /** the frozen-model text kernels and the nearest-cell kernel over
    * edge rows: empty and null text, a zero vector, NaN components, a
    * short embedding, a tied score (zero divisors are checked apart:
    * under ANSI they fail in both modes) */
  private val cells = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0), Seq(0.5, 0.5, 3.0))
  private def nearest(emb: org.apache.spark.sql.Column, norm: org.apache.spark.sql.Column,
                      cs: Seq[Seq[Double]]) =
    VectorExpressions.nearest_cell(VectorExpressions.vec_cell_dots(emb, cs), norm,
      cs.map(c => math.sqrt(c.map(x => x * x).sum)))
  private def kernelBattery(s: SparkSession, withCells: Seq[Seq[Double]]): DataFrame = {
    import s.implicits._
    val nan = Double.NaN
    val rows = Seq[(Long, String, Seq[Double])](
      (0L, "the cat sat on the mat, the end", Seq(1.0, 1.0, 0.0)),   // tie between cells 0 and 1
      (1L, "", Seq(0.2, -0.4, 1.5)),
      (2L, null, null),
      (3L, "a b a b a b c 42 !", Seq(nan, 1.0, 0.0)),
      (4L, "x  y   z x y z x y", Seq(2.0, 1.0)),                     // short embedding
      (5L, "Unk <unk> unk the the", Seq(-1.0, -1.0, -1.0)),
      (6L, "zz", Seq(nan, nan, nan)))
    val df = rows.toDF("id", "text", "emb")
      .withColumn("norm", sqrt(VectorExpressions.vec_norm_sq(col("emb"))))
    val ws = graft.operators.TextModels.wsTokens
    val rx = graft.operators.TextModels.regexTokens
    val lm = graft.operators.LmScreen.LmModel(Set("the", "a", "b", "<unk>"),
      Map("the the" -> 900L, "a b" -> 100L, "<unk> the" -> 2500L),
      Map("the" -> 3000L, "a" -> 1200L), 4096L)
    val spans = TextKernels.window_spans(ws, Seq(
      graft.functions.HashExpressions.Md5Kernels.hashRange(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          Array("a", "b").map(org.apache.spark.unsafe.types.UTF8String.fromString)), 0, 2)), 2)
    df.select(col("id"),
        TextKernels.rarity_score(rx, Map("the" -> 3L, "a" -> 3L, "b" -> 3L), 40L, 10, 5000).as("rar"),
        TextKernels.lm_score(ws, lit(""), Map("" -> lm), "<unk>", 3400L).as("lm"),
        // a per-group table: a trained group, an untrained one, a null one
        TextKernels.lm_score(ws, when(col("id") % 3 === 0, "de").when(col("id") % 3 === 1, "xx"),
          Map("de" -> lm, "en" -> lm.copy(unkMb = 9000L)), "<unk>", 3400L).as("lmg"),
        TextKernels.dsir_score(ws, (0 until 64).map(i => (i % 7 - 3).toLong), "dsir:").as("ds"),
        TextKernels.word_class_counts(ws, Seq("the", "and", "a")).as("wc"),
        spans.as("sp"),
        TextKernels.cut_tokens(ws, spans).as("cut"),
        TextKernels.chunk_spans(rx, 4, 1).as("ch"),
        nearest(col("emb"), col("norm"), withCells).as("nc"),
        TextKernels.window_spans(ws, Nil, 2).as("sp0"),  // an empty frozen set
        TextKernels.merge_spans(mergeInput).as("ms"))
      .orderBy("id")
  }

  /** merge_spans input per battery row: an empty array, one span, a
    * null array, nested, touching, overlapping and unsorted spans */
  private val mergeInput = expr("""CASE id
    WHEN 0 THEN CAST(array() AS ARRAY<STRUCT<s:INT,e:INT>>)
    WHEN 1 THEN array(named_struct('s', 2, 'e', 5))
    WHEN 3 THEN array(named_struct('s', 1, 'e', 10), named_struct('s', 3, 'e', 4))
    WHEN 4 THEN array(named_struct('s', 0, 'e', 3), named_struct('s', 3, 'e', 6))
    WHEN 5 THEN array(named_struct('s', 0, 'e', 4), named_struct('s', 2, 'e', 7),
      named_struct('s', 9, 'e', 12))
    WHEN 6 THEN array(named_struct('s', 9, 'e', 12), named_struct('s', 0, 'e', 4),
      named_struct('s', 5, 'e', 6), named_struct('s', 2, 'e', 7))
    END""")
  private val mergeExpected = Seq(Seq(), Seq((2, 5)), null, Seq((1, 10)), Seq((0, 6)),
    Seq((0, 7), (9, 12)), Seq((0, 7), (9, 12)))

  test("the text and nearest-cell kernels agree between codegen and interpreted, edge rows included") {
    val gen = run(kernelBattery(generated, cells), codegen = true)
    val int = run(kernelBattery(interpreted, cells), codegen = false)
    assert(gen.length == 7)
    gen.zip(int).foreach { case (g, i) => assert(g.toString == i.toString, s"$g vs $i") }
    assert(gen.map(_.last match {
      case null => null
      case ms: scala.collection.Seq[_] =>
        ms.toSeq.map { case r: org.apache.spark.sql.Row => (r.getInt(0), r.getInt(1)) }
    }).toSeq == mergeExpected)
    assert(gen.forall(r => r(r.length - 2) match {
      case sp: scala.collection.Seq[_] => sp.isEmpty
      case _ => false
    }), "an empty window set marks no span on any row")
  }

  test("nearest_cell keeps greatest's order: null lowest, NaN highest, ties to the larger cell") {
    import spark.implicits._
    val df = Seq[(Long, Seq[Double])]((0L, Seq(1.0, 1.0, 0.0)), (1L, null),
        (2L, Seq(Double.NaN, 1.0, 0.0)), (3L, Seq(2.0, 1.0)), (4L, Seq(-1.0, -1.0, -1.0)))
      .toDF("id", "embedding").withColumn("norm", sqrt(VectorExpressions.vec_norm_sq(col("embedding"))))
      .withColumn("__dots", VectorExpressions.vec_cell_dots(col("embedding"), cells))
    val structs = cells.zipWithIndex.map { case (c, i) =>
      struct((element_at(col("__dots"), i + 1) / (col("norm") * math.sqrt(c.map(x => x * x).sum)))
        .as("score"), lit(i).as("cell")) }
    val got = df.select(col("id"), VectorExpressions.nearest_cell(col("__dots"), col("norm"),
        cells.map(c => math.sqrt(c.map(x => x * x).sum))).as("k"), greatest(structs: _*).as("g"))
      .orderBy("id").collect()
    got.foreach(r => assert(r.get(1) == r.get(2), s"row ${r.get(0)}: kernel ${r.get(1)} vs greatest ${r.get(2)}"))
    assert(got(0).getStruct(1).getInt(1) == 1, "a tied score goes to the larger cell")
  }

  test("nearest_cell: a zero vector or a zero centroid fails under ANSI in both modes, as the division does") {
    import spark.implicits._
    def eval(s: SparkSession, emb: Seq[Double], cs: Seq[Seq[Double]]) = {
      import s.implicits._
      Seq((0L, emb)).toDF("id", "emb").select(nearest(col("emb"),
        sqrt(VectorExpressions.vec_norm_sq(col("emb"))), cs)).collect()
    }
    Seq((Seq(0.0, 0.0, 0.0), cells), (Seq(1.0, 2.0, 3.0), cells :+ Seq(0.0, 0.0, 0.0))).foreach {
      case (emb, cs) =>
        intercept[Exception](eval(generated, emb, cs))
        intercept[Exception](eval(interpreted, emb, cs))
    }
  }
}
