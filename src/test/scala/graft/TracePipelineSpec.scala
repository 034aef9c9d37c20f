package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{TracePipeline, Traces}
import graft.plans.PlanWalk

/** q142: the composed trace pipeline must (a) reuse the standalone
  * operators' verdicts bit-for-bit (shared-definition discipline —
  * classify and validate cannot drift from q123/q80), and (b) decode
  * each payload exactly once (the q141 morphReport pin applied to the
  * trace side). */
class TracePipelineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val docs = Tables.documents(spark, TestSpark.sf)

  test("composed classify off the report equals the standalone q123 verdicts") {
    val report = Traces.traceReport(docs).toDF()
    val composed = Traces.singleCellClassify(
      report.select(col("trace_id"), explode(col("sweeps.computed")).as("computed")))
    val standalone = Traces.singleCellTypeFix(docs)
    assert(composed.exceptAll(standalone).count() == 0 &&
      standalone.exceptAll(composed).count() == 0,
      "report-path classify must equal the standalone q123 rows")
  }

  test("composed validator verdicts equal the standalone q80 mismatch counts + shared rules") {
    val report = Traces.traceReport(docs).toDF()
    val composed = TracePipeline.verdicts(report).select("trace_id", "valid")
    // the same rule threshold applied to the STANDALONE q80 output
    val standalone = Traces.sweepConsistency(docs)
      .groupBy(col("trace_id"))
      .agg((count(when(!col("is_match"), 1)) === 0L).as("valid"))
    assert(composed.exceptAll(standalone).count() == 0 &&
      standalone.exceptAll(composed).count() == 0,
      "composed verdicts must equal standalone-q80 mismatch counts + shared rules")
  }

  test("merge semantics: untouched keep seed state, pushed rows append type + bump rev, no creates") {
    val state = TracePipeline.applyAndRead(spark, docs).cache()
    try {
      val seed = TracePipeline.existingStore(docs)
      val report = Traces.traceReport(docs).toDF()
      val pushed = TracePipeline.pushUpdates(report, seed)
        .select(col("trace_id"), lit(1).as("was_pushed"))
      val joined = state.alias("s")
        .join(seed.select(col("trace_id"), col("types").as("seed_types"),
          col("rev").as("seed_rev")), Seq("trace_id"))
        .join(pushed, Seq("trace_id"), "left")

      // a fix job never creates: exactly the seeded population
      assert(state.count() == seed.count(), "store row count must be unchanged")
      // untouched rows: seed types, seed rev, empty evidence
      assert(joined.filter(col("was_pushed").isNull &&
        (col("types") =!= col("seed_types") || col("rev") =!= col("seed_rev") ||
          col("single_cell_stimuli") =!= "")).count() == 0)
      // pushed rows: appended type, rev bumped by exactly one, evidence present
      assert(joined.filter(col("was_pushed").isNotNull &&
        (col("types") =!= concat(col("seed_types"), lit(",single_cell_protocol")) ||
          col("rev") =!= col("seed_rev") + 1 ||
          col("single_cell_stimuli") === "")).count() == 0)
      // the pushed set is exactly valid ∧ add_type
      val expect = Traces.singleCellTypeFix(docs).filter(col("action") === "add_type")
        .join(TracePipeline.verdicts(report).filter(col("valid"))
          .select("trace_id"), Seq("trace_id"), "left_semi")
        .select("trace_id")
      val got = joined.filter(col("was_pushed").isNotNull).select("trace_id")
      assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0,
        "pushed set must be exactly the valid add_type traces")
      // an INVALID trace never pushes, even when classify says add_type
      val invalidPushable = Traces.singleCellTypeFix(docs)
        .filter(col("action") === "add_type")
        .join(TracePipeline.verdicts(report).filter(!col("valid"))
          .select("trace_id"), Seq("trace_id"), "left_semi")
      assert(invalidPushable.count() > 0,
        "fixture must exercise the gate (some classifiable trace is invalid)")
      assert(got.join(invalidPushable, Seq("trace_id"), "left_semi").count() == 0,
        "a trace failing validation must never push")
    } finally { state.unpersist(); () }
  }

  test("decode-once plan pin: ONE blob exchange in the report build, ZERO payload binary downstream") {
    val build = Traces.traceReport(docs).toDF()
    val nBlob = PlanFences.blobExchanges(build)
    assert(nBlob == 1,
      s"report build must have exactly ONE blob exchange, got $nBlob")

    // the composed chain off the PERSISTED frame: no SCAN may output a
    // BinaryType column — payloads are never re-read from disk. Unlike
    // q141's chain, exactly ONE downstream exchange legitimately
    // carries binary: the classify core's partial_collect_set buffer
    // (q123's own inventoried shape, PLANS_r17) — a TypedImperative
    // aggregate serializes its ≤3-short-strings-per-trace buffer as
    // binary for the shuffle. That is a bounded sketch buffer, not a
    // payload; anything beyond it fails the pin.
    val dir = java.nio.file.Files.createTempDirectory("graft_tp_spec_").toString + "/report"
    Traces.traceReport(docs).write.mode("overwrite").parquet(dir)
    val updates = TracePipeline.pushUpdates(spark.read.parquet(dir),
      TracePipeline.existingStore(docs))
    val nDownstreamBinary = PlanFences.blobExchanges(updates)
    assert(nDownstreamBinary <= 1,
      s"post-persist chain may carry binary only in the classify buffer exchange, got $nDownstreamBinary")
    val nodes = PlanWalk.nodes(updates.queryExecution.executedPlan)
    val binaryScans = nodes
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.output.exists(_.dataType == org.apache.spark.sql.types.BinaryType) => s }
    assert(binaryScans.isEmpty,
      s"the post-persist pipeline must never re-read payload bytes, got ${binaryScans.length} binary scans")
    // and the stated no-window shape: every per-trace reduction is a
    // map-side-combined aggregate, never a window
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "the pipeline must carry no window operator")
  }

  test("the gate rejects exactly the closed-form mislabeled fixture ids") {
    val report = Traces.traceReport(docs).toDF()
    val got = TracePipeline.verdicts(report)
      .filter(!col("valid")).select("trace_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    val want = docs.select("doc_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
      .filter { id =>
        val sweeps = 2 + id % 3
        (0L until sweeps).exists(s => (id * 7 + s) % 13 == 0)
      }.toSet
    assert(got == want, "gate must reject exactly the mislabel-rotation ids")
  }
}
