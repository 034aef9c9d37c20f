package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** q142: the TRACE side's END-TO-END daily workflow composed as ONE
  * oracle-checked pipeline — the q141 decode-once discipline applied to
  * the other half of the reference (the r17 verdict's top item). The
  * chain a reference trace curator runs: stimulus-consistency check
  * (reference src/trace/fix/check_nwb_stimulus_match.py:33-95) →
  * the trace validation screens (trace/validation/validation.py:1-482)
  * → single-cell type classification (trace/fix/
  * add_single_cell_type.py:70-100) → the forge.update push of the
  * add-type actions — re-staged over the engine's proven parts so
  * nothing is defined twice:
  *
  *   1. DECODE ONCE: [[Traces.traceReport]] is built and PERSISTED —
  *      every later stage reads the narrow nested frame (a few longs
  *      per sweep); no payload byte is ever re-read. This finally
  *      exercises the report's stated deployment read path in an
  *      oracle-checked entry (before q142 it was only spec-equal).
  *   2. VALIDATE ([[Validation.Rule]] objects — the q96/q21b/q141
  *      machinery, THE SAME null semantics): [[TraceRules]] is the
  *      reference trace validator's error tier as a zero-tolerance
  *      range over the report-derived check metrics — any sweep whose
  *      DECLARED stimulus label disagrees with the CONTENT-computed
  *      class rejects the trace (the check_nwb_stimulus_match
  *      mismatch, validation.py's blocking screen). The
  *      representative-sweep CLAMP (fewer than 3 sweeps in the elected
  *      protocol — where the reference's n=-3 indexing would throw) is
  *      carried as a metric but tiers as a WARNING and does not gate —
  *      the q141 radical-diameter error-vs-warning split.
  *   3. CLASSIFY (the q123 shape, SHARED definition):
  *      [[Traces.singleCellClassify]] runs over the report's exploded
  *      per-sweep computed classes — the SAME classify core the
  *      standalone q123 runs over a fresh decode, so the composed
  *      verdict cannot drift. Only VALID traces with action
  *      `add_type` push (already_typed logs, none is a no-op — the
  *      reference's three branches; and a trace failing step 2 never
  *      pushes even if classifiable, the q141 gate asymmetry).
  *   4. MERGE PUSH: the add-type updates (type list appended, the
  *      detected stimuli recorded as evidence, rev bumped) go through
  *      the REAL [[MergeWriter.applyTo]] copy-on-write writer into the
  *      seeded store, and q142's output is the POST-MERGE STORE STATE
  *      read back from disk — the driver's oracle value-checks
  *      decode → validate → classify → writer end-to-end.
  *
  * Scale shape: ONE payload decode (the report build's skew-evening
  * repartition is the only blob-sized exchange; the post-persist chain
  * is pinned to re-read ZERO payload bytes — its one binary exchange
  * is the classify core's bounded partial_collect_set buffer, q123's
  * own inventoried shape, a few short strings per trace —
  * TracePipelineSpec);
  * row-local check metrics, one sweeps explode, the ontology closure
  * as a row-local IN-list (closed on the driver over the literal edge
  * list — no join), two AQE-splittable trace-keyed equi-joins
  * (verdict gate, store rev lookup), one map-side-combined per-trace
  * aggregate, no window. Unlike q141's annotation store, the trace store is keyed by
  * the entity itself (a fix job updates existing resources and never
  * creates), so the merge is a pure per-key update; at 100 TB the
  * store merge takes the q43b partitioned-writer path — the flat swap
  * here keeps the inventory entry self-contained.
  */
object TracePipeline {

  /** the trace validator's ERROR tier over the report-derived check
    * metrics — SHARED [[Validation.Rule]] objects (q96/q141
    * discipline). Zero tolerance: any declared-vs-computed stimulus
    * mismatch rejects the trace (check_nwb_stimulus_match.py:33-95 —
    * a mislabeled sweep means the metadata cannot be trusted). */
  val TraceRules: Seq[Validation.Rule] = Seq(
    Validation.InRange("n_mismatch", 0, 0))

  /** per-trace check metrics off the PERSISTED report — row-local
    * array folds, no exchange: the error-tier mismatch count and the
    * warning-tier representative clamp flag (carried, non-gating). */
  def traceChecks(report: DataFrame): DataFrame =
    report.select(
      col("trace_id"),
      size(filter(col("sweeps"), s => !s.getField("is_match")))
        .cast(LongType).as("n_mismatch"),
      col("rep.clamped").as("rep_clamped"))

  /** step 2: the composed validator verdict — THE SAME rule objects,
    * q21b's null semantics (`violation IS NOT TRUE`). */
  def verdicts(report: DataFrame): DataFrame = {
    val verdict = TraceRules
      .map(r => !coalesce(r.violation, lit(false)))
      .reduce(_ && _)
    traceChecks(report).withColumn("valid", verdict)
  }

  /** the seeded trace-resource store: ONE row per trace (a fix job
    * runs over the full registered population — unlike q141's sparse
    * annotation store, nothing is ever created). Closed forms the
    * oracle replays: already-typed traces (id % 7 == 0, the q123
    * declared rule) seed with the single-cell type already in their
    * list; revisions at id % 5 + 1 (the q141 rev shape); evidence
    * column empty until a push lands. Built from ids only — seeding
    * never decodes a payload. */
  def existingStore(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("trace_id"),
      when(col("doc_id") % 7 === 0, lit("Trace,single_cell_protocol"))
        .otherwise(lit("Trace")).as("types"),
      lit("").as("single_cell_stimuli"),
      (col("doc_id") % 5 + 1).cast(LongType).as("rev"))

  /** steps 2+3 composed: the add-type ACTION rows — classify off the
    * persisted report via the SHARED q123 core, gate by the SHARED
    * rule verdict, look up the store row for the append + rev bump.
    * Keeps `prev_rev` as the audit column (the revision the update was
    * computed against — what a push door records per batch); the
    * writer-bound form is [[pushUpdates]]. ONE definition shared by
    * the batch q142 and the streaming
    * [[graft.streaming.EventStreams.tracePushSink]] (whose frozen diff
    * base plays the `existing` role), so the two push verdicts cannot
    * drift — the q140/q141 shared-diff discipline. The store side is
    * data-sized: equi-join, no broadcast assumed. Contract: `existing`
    * covers the classified population (a fix job runs over registered
    * traces, and the store holds one row per registered trace by
    * construction) — an unregistered trace_id drops from the inner
    * join, the reference's fetch-then-update semantics. */
  def pushActions(report: DataFrame, existing: DataFrame): DataFrame = {
    val computedSweeps = report
      .select(col("trace_id"), explode(col("sweeps.computed")).as("computed"))
    Traces.singleCellClassify(computedSweeps)
      .join(verdicts(report).select("trace_id", "valid"), Seq("trace_id"))
      .filter(col("valid") && col("action") === "add_type")
      .join(existing.select(col("trace_id"), col("types").as("ex_types"),
        col("rev").as("prev_rev")), Seq("trace_id"))
      .select(
        col("trace_id"),
        // the reference APPENDS the new type to the resource's list
        concat(col("ex_types"), lit(",single_cell_protocol")).as("types"),
        col("single_cell_stimuli"),
        col("prev_rev"),
        (col("prev_rev") + 1L).as("rev"))
  }

  /** the writer-bound update batch: [[pushActions]] minus the audit
    * column — exactly the rows [[MergeWriter.applyTo]] merges. */
  def pushUpdates(report: DataFrame, existing: DataFrame): DataFrame =
    pushActions(report, existing).drop("prev_rev")

  /** q142: the whole chain — build+persist the report, seed the store,
    * compute the gated add-type updates off the persisted frame, push
    * through the REAL writer, read the post-merge state back. Output:
    * the store after the fix run, totally ordered — untouched rows
    * keep their seeded types/rev/empty evidence, pushed rows carry the
    * appended type, the detected stimuli, and rev prev+1. */
  def applyAndRead(spark: SparkSession, documents: DataFrame): DataFrame = {
    val base = graft.Scratch.dir("graft_tracepipe_")
    val reportDir = s"$base/report"
    val storeDir = s"$base/store"
    Traces.traceReport(documents).write.mode("overwrite").parquet(reportDir)
    existingStore(documents).write.mode("overwrite").parquet(storeDir)
    val report = graft.Tables.read(spark, reportDir)
    val updates = pushUpdates(report, graft.Tables.read(spark, storeDir))
    MergeWriter.applyTo(spark, storeDir, updates, "trace_id")
    graft.Tables.read(spark, storeDir)
      .select("trace_id", "types", "single_cell_stimuli", "rev")
      .orderBy("trace_id")
  }
}
