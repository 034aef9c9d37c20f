package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CurationPipeline, Morphology, NeuriteAtlas, Validation}

/** q141: the composed curation pipeline must (a) reuse the standalone
  * operators' verdicts and bodies bit-for-bit (shared-definition
  * discipline — the composition cannot drift from the parts), and
  * (b) decode each payload exactly once (the r15 mediaReport pin,
  * applied to the reference-side chain). */
class CurationPipelineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val docs = Tables.documents(spark, TestSpark.sf)

  test("composed validator verdicts equal the standalone q79 metrics + shared rules") {
    // the gate the pipeline applied, recovered from its per-annotation rows
    val report = NeuriteAtlas.morphReport(docs).toDF()
    val composed = CurationPipeline.computedAnnotations(report)
      .select("morph_id", "valid").distinct()
    // the same rule objects applied to the STANDALONE q79 output
    val verdict = CurationPipeline.MorphRules
      .map(r => !coalesce(r.violation, lit(false))).reduce(_ && _)
    val standalone = Morphology.morphMetrics(docs)
      .select(col("morph_id"), verdict.as("valid"))
    assert(composed.exceptAll(standalone).count() == 0 &&
      standalone.exceptAll(composed).count() == 0,
      "composed verdicts must equal standalone-q79 + shared rules")
  }

  test("composed annotation bodies equal the standalone q98b features") {
    val report = NeuriteAtlas.morphReport(docs).toDF()
    val composed = CurationPipeline.computedAnnotations(report)
      .select("morph_id", "neurite_type", "n_sections", "cum_len_um")
    val standalone = NeuriteAtlas.neuriteFeatures(docs)
      .select("morph_id", "neurite_type", "n_sections", "cum_len_um")
    assert(composed.exceptAll(standalone).count() == 0 &&
      standalone.exceptAll(composed).count() == 0,
      "composed bodies must equal standalone q98b rows")
  }

  test("merge semantics: untouched keep rev + stale body, updates bump rev, creates start at 1") {
    val state = CurationPipeline.applyAndRead(spark, docs)
    val report = NeuriteAtlas.morphReport(docs).toDF()
    val computed = CurationPipeline.computedAnnotations(report)
    val existing = CurationPipeline.existingStore(docs)

    val joined = state.alias("s")
      .join(existing.select(col("morph_id"), col("neurite_type"),
        col("rev").as("seed_rev")).alias("e"), Seq("morph_id", "neurite_type"), "left")
      .join(computed.filter(col("valid")).select(col("morph_id"),
        col("neurite_type"), lit(1).as("pushed")).alias("c"),
        Seq("morph_id", "neurite_type"), "left")
      .cache()
    try {
      // untouched = existed, not pushed: rev unchanged, stale zero body
      assert(joined.filter(col("pushed").isNull &&
        (col("rev") =!= col("seed_rev") || col("n_sections") =!= 0)).count() == 0)
      // updates = existed and pushed: rev bumped by exactly one
      assert(joined.filter(col("pushed").isNotNull && col("seed_rev").isNotNull &&
        col("rev") =!= col("seed_rev") + 1).count() == 0)
      // creates = pushed, no seed: rev exactly 1
      assert(joined.filter(col("pushed").isNotNull && col("seed_rev").isNull &&
        col("rev") =!= 1).count() == 0)
      // nothing in the state that is neither seeded nor pushed
      assert(joined.filter(col("pushed").isNull && col("seed_rev").isNull).count() == 0)
      // rejected morphologies contributed NO rows beyond their seeds
      val rejected = computed.filter(!col("valid")).select("morph_id").distinct()
      assert(state.join(rejected, Seq("morph_id"), "left_semi")
        .join(existing.select("morph_id", "neurite_type"),
          Seq("morph_id", "neurite_type"), "left_anti").count() == 0,
        "a rejected morphology must never create an annotation")
    } finally { joined.unpersist(); () }
  }

  test("decode-once plan pin: ONE blob exchange in the report build, ZERO binary downstream") {
    // the report build: exactly one BinaryType-carrying exchange (the
    // skew-evening repartition before the single decode)
    val build = NeuriteAtlas.morphReport(docs).toDF()
    val nBlob = PlanFences.blobExchanges(build)
    assert(nBlob == 1,
      s"report build must have exactly ONE blob exchange, got $nBlob")

    // the composed chain off the PERSISTED frame: no plan node may
    // output a BinaryType column — payloads are never re-read
    val dir = java.nio.file.Files.createTempDirectory("graft_cp_spec_").toString + "/report"
    NeuriteAtlas.morphReport(docs).write.mode("overwrite").parquet(dir)
    val actions = CurationPipeline.annotationActions(
      CurationPipeline.computedAnnotations(spark.read.parquet(dir)),
      CurationPipeline.existingStore(docs))
    val binaryNodes = PlanFences.binaryCarryingNodes(actions)
    assert(binaryNodes.isEmpty,
      s"the post-persist pipeline must never carry payload bytes, got ${binaryNodes.length} nodes")
  }

  test("the gate rejects exactly the structurally-defective fixture ids") {
    val report = NeuriteAtlas.morphReport(docs).toDF()
    val got = CurationPipeline.computedAnnotations(report)
      .filter(!col("valid")).select("morph_id").distinct()
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    val want = docs.select("doc_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
      .filter(id => id % 5 == 0 || id % 7 == 0 || id % 11 == 0).toSet
    assert(got == want, "gate must reject exactly the %5/%7/%11 defect ids")
  }
}
