package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Multimodal, Scale}

/** PERMANENT MUTATION TESTS (r15 verdict item 5): the repo's plan
  * fences were mutation-tested by hand in r15 (inject the regression,
  * watch the pin fail, revert) — proof that lived only in prose. These
  * tests re-run the mutations on every `sbt test` via test-only hooks:
  * each fence's predicate is evaluated against the CLEAN plan (must
  * hold) and against the MUTANT plan (must fail), so a fence that
  * silently stops biting — a walk that misses a node type, a predicate
  * that matches nothing — fails here first. */
class MutationPinSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val docs = Tables.documents(spark, TestSpark.sf)

  // the SHARED fence predicate the real pins run ([[PlanFences]]) — not
  // a local copy, so this spec mutation-tests the predicate the other
  // specs actually enforce
  private def blobExchanges(df: org.apache.spark.sql.DataFrame): Int =
    PlanFences.blobExchanges(df)

  test("blob-exchange pin bites: a second payload exchange reads 2, clean reads 1") {
    assert(!Multimodal.mutantExtraBlobExchange)
    assert(blobExchanges(Multimodal.extractFeatures(docs)) == 1,
      "clean q41 must satisfy the one-blob-exchange pin")
    Multimodal.mutantExtraBlobExchange = true
    try {
      assert(blobExchanges(Multimodal.extractFeatures(docs)) == 2,
        "the injected second payload exchange MUST trip the pin's count — " +
          "if this reads 1, the fence has stopped seeing real exchanges")
    } finally Multimodal.mutantExtraBlobExchange = false
    assert(blobExchanges(Multimodal.extractFeatures(docs)) == 1,
      "hook restored: the clean plan is back to one blob exchange")
  }

  /** the PlanShapeSpec no-hot-key-window predicate, verbatim. */
  private def hasWindow(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString().contains("Window")

  test("no-window election pin bites: the window mutant surfaces, clean stays join-shaped") {
    assert(!Scale.mutantWindowElection)
    val part = Tables.part(spark, TestSpark.sf)
    def q26 = Curation.registrationDedup(part, part.filter(col("p_partkey") < 500))
    assert(!hasWindow(q26), "clean q26 must satisfy the no-hot-key-window pin")
    Scale.mutantWindowElection = true
    try {
      val mutant = q26
      assert(hasWindow(mutant),
        "the injected window election MUST put a Window node in the plan — " +
          "if it does not, the fence's predicate has gone blind")
      // and the mutant is still semantically correct (same rows), so the
      // fence is catching a SCALE regression, not a correctness one —
      // exactly the class of silent drift plan pins exist for
      val clean = { Scale.mutantWindowElection = false; q26 }
      Scale.mutantWindowElection = true
      assert(mutant.exceptAll(clean).isEmpty && clean.exceptAll(mutant).isEmpty,
        "window mutant must be result-equal (the regression is the plan, not the rows)")
    } finally Scale.mutantWindowElection = false
    assert(!hasWindow(q26), "hook restored: q26 is back to groupBy+join")
  }
}
