package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Empty-input robustness: a user switching to this library will hit
  * empty tables and empty partitions (fresh buckets, filtered views,
  * off-hours streams). Every operator must return a defined — usually
  * empty — frame, never throw. */
class EdgeCaseSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val noDocs: DataFrame =
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  private lazy val noVecs: DataFrame =
    Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")

  test("dedup family yields empty results on an empty corpus") {
    assert(Dedup.minhashProfile(noDocs).isEmpty)
    assert(Dedup.simhashProfile(noDocs).isEmpty)
    assert(Dedup.jaccardVerify(noDocs).isEmpty)
    assert(Dedup.nearDupClusters(noDocs).isEmpty)
    assert(TextAnalysis.exactDedup(noDocs).isEmpty)
    assert(Dedup.decontaminate(noDocs).isEmpty)
    assert(Dedup.containmentVerify(noDocs).isEmpty)
    assert(TextAnalysis.repetitionScreen(noDocs).isEmpty)
  }

  test("similarity family yields empty results on an empty corpus") {
    assert(Similarity.knnBruteForce(noVecs).isEmpty)
    assert(Similarity.knnLsh(noVecs).isEmpty)
    assert(Similarity.knnIvf(noVecs).isEmpty, "IVF must not throw with zero centroids")
    assert(Similarity.nearDupPairsBanded(noVecs).isEmpty)
    assert(Similarity.pqEncode(noVecs).isEmpty, "PQ must not throw with an empty codebook")
    assert(Similarity.pqAdcSearch(noVecs).isEmpty)
    assert(Similarity.pqSearchReranked(noVecs).isEmpty)
    assert(Similarity.knnIvfPq(noVecs).isEmpty)
  }

  test("binary kernels and the residual family yield empty results on empty inputs") {
    assert(Morphology.morphMetrics(noDocs).isEmpty)
    assert(Traces.sweepConsistency(noDocs).isEmpty)
    assert(Similarity.pqResidualEncode(noVecs).isEmpty,
      "residual PQ must not throw with zero centroids")
    assert(Similarity.knnIvfRpq(noVecs).isEmpty)
    assert(Similarity.indexUpsertApply(spark, noVecs).isEmpty,
      "index upsert must not throw with no model to freeze")
    // ragged SHORT vector: the residual keeps the flat family's
    // defined short-row semantics (residual over the components that
    // exist) — zip_with must not null-pad into the vector kernels
    val mix = Seq((1L, Array.fill(8)(0.5f)), (2L, Array(0.25f, -0.5f)))
      .toDF("vec_id", "embedding")
    val ragged = Similarity.pqResidualEncode(mix, nCells = 2, m = 2, dim = 8, k = 2)
      .collect()
    assert(ragged.length == 2 &&
      ragged.forall(r => !r.isNullAt(2) && !r.isNullAt(3)),
      "short rows must encode to defined codes, not nulls")
  }

  test("r9 family (attribution, election, pivot) yields empty results on empty inputs") {
    val dir = "/root/testdata/sf0.001"
    val (nat, reg) = (Tables.nation(spark, dir), Tables.region(spark, dir))
    assert(graft.operators.NeuriteAtlas.leafRegionAttribution(noDocs, nat, reg).isEmpty)
    assert(graft.operators.NeuriteAtlas.neuriteFeatures(noDocs).isEmpty)
    assert(graft.operators.NeuriteAtlas.sectionStats(noDocs).isEmpty)
    assert(Traces.representativeSweeps(noDocs).isEmpty)
    // the pivot keeps its full static schema on an empty frame — a
    // fresh bucket reports zero rows, never a narrower frame
    val emptyPivot = graft.operators.Validation.typeSchemaPivot(
      noDocs, "source", "lang", Seq("de", "en"), Seq("de"))
    assert(emptyPivot.isEmpty && emptyPivot.schema.fieldNames.toSeq ==
      Seq("bucket", "cnt_de", "cnt_en", "n_types", "unschematized_types", "n_unschematized"))
  }

  test("late-r9 family (fertility, drift, bpe fertility) behaves on empty inputs") {
    assert(TextAnalysis.tokenizerFertility(noDocs).isEmpty)
    assert(graft.operators.Bpe.bpeFertility(noDocs).isEmpty,
      "an untrainable (empty) BPE model must not crash the rollup")
    assert(Similarity.vecReport(noVecs.withColumn("label", lit(0))).isEmpty)
    assert(Similarity.clusterDrift(noVecs, Similarity.vecReleaseView(noVecs),
      Seq.empty).isEmpty)
    // a null-text doc neither crashes nor hides the language rollup
    val mixed = Seq(
      (1L, "some clean text", "en", "s", 15L),
      (2L, null.asInstanceOf[String], "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = TextAnalysis.tokenizerFertility(mixed).collect()
    assert(f.length == 1 && f.head.getAs[Long]("n_docs") == 2L,
      "null text stays in its language group with null-skipped token sums")
  }

  test("corpus construction yields empty results on an empty corpus") {
    assert(Corpus.stratifiedSample(noDocs, Seq("en" -> 1000), 2500).isEmpty)
    assert(Corpus.tokenBudgetPack(noDocs, 1000L).isEmpty)
    assert(Corpus.corpusPipeline(noDocs, Seq("en" -> 1000), 2500, 1000L).isEmpty)
    // Spark's Expand-based rollup emits nothing on empty input (the
    // oracle's HAVING COUNT(*) > 0 mirrors this)
    assert(Corpus.corpusCard(noDocs, Seq("en" -> 1000), 2500).isEmpty)
    assert(Corpus.mixtureBalance(noDocs, Seq("src0" -> 2000), 500).isEmpty)
    assert(Corpus.packManifest(noDocs, 512L).isEmpty)
  }

  test("a null text row neither crashes the text family nor hides other docs") {
    val docs = Seq(
      (1L, "clean alpha text here", "en", "src0", 21L),
      (2L, null.asInstanceOf[String], "en", "src0", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // each operator must process doc 1; doc 2 may yield nulls or drop,
    // but must not throw
    assert(TextAnalysis.qualityScore(docs).filter($"doc_id" === 1L).count() == 1)
    assert(TextAnalysis.tokenCounts(docs).filter($"doc_id" === 1L).count() == 1)
    assert(TextAnalysis.langId(docs).collect().nonEmpty)
    assert(Dedup.minhashProfile(docs).filter($"doc_id" === 1L).count() == 1)
    assert(Dedup.simhashProfile(docs).filter($"doc_id" === 1L).count() == 1)
    assert(Corpus.corpusPipeline(docs, Seq("en" -> 1000), 2500, 1000L)
      .filter($"doc_id" === 1L).count() == 1)
    assert(Dedup.nearDupClusters(docs).filter($"doc_id" === 1L).count() == 1)
    assert(TextAnalysis.repetitionScreen(docs).filter($"doc_id" === 1L).count() == 1)
    assert(Dedup.decontaminate(docs).filter($"doc_id" === 1L).count() == 1)
    assert(Corpus.mixtureBalance(docs, Seq("src0" -> 2000), 500).collect().nonEmpty)
    assert(Corpus.packManifest(docs, 512L).filter($"doc_id" === 1L).count() == 1)
    // chunking: the null-text doc yields no chunks, doc 1 chunks normally
    assert(Corpus.chunkSpans(docs).filter($"doc_id" === 2L).count() == 0)
    assert(Corpus.chunkSpans(docs).filter($"doc_id" === 1L).count() == 1)
    assert(Corpus.chunkDedup(docs).filter($"doc_id" === 1L)
      .collect().forall(_.getAs[Boolean]("keep")))
  }

  test("hygiene family (q66-q70) yields empty results on empty inputs") {
    val noLabeled = Seq.empty[(Long, Array[Float], Long)]
      .toDF("vec_id", "embedding", "label")
    assert(Privacy.piiScrub(noDocs.select("doc_id", "text")).isEmpty)
    assert(Curation.fuzzyNameMatches(noDocs.select($"text".as("nm")), "nm", 2,
      Seq(substring(col("name"), 1, 1))).isEmpty)
    assert(Frequency.sourceTopTerms(noDocs).isEmpty)
    assert(Similarity.labelCentroidOutliers(noLabeled).isEmpty)
    assert(Corpus.datasetSplit(noDocs, 500, 500).isEmpty)
    assert(Frequency.rarityScreen(noDocs).isEmpty)
  }

  test("hygiene family survives a null-text row without hiding other docs") {
    val docs = Seq(
      (1L, "mail a.user@example.com please", "en", "src0", 0L),
      (2L, null.asInstanceOf[String], "en", "src0", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Privacy.piiScrub(docs).count() == 1L)
    assert(Frequency.sourceTopTerms(docs).filter($"token" === "mail").count() == 1L)
    assert(Corpus.datasetSplit(docs, 500, 500).count() == 2L,
      "the null-text doc still gets a (train) split row")
  }

  test("events.ts int64 branch refuses micros-magnitude values instead of guessing") {
    // nanos since epoch (2026) pass and divide losslessly ...
    val ok = Tables.normalizeEventsTs(
      Seq(1767225600000000000L).toDF("ts")).collect()
    assert(ok.head.getTimestamp(0).getTime == 1767225600000L)
    // ... a plain int64-micros generation (1000x too small for nanos)
    // must fail loud, never be silently divided into the year 1970
    val bad = Tables.normalizeEventsTs(Seq(1767225600000000L).toDF("ts"))
    val e = intercept[Exception](bad.collect())
    assert(String.valueOf(e.getMessage).contains("refusing")
      || String.valueOf(e.getCause).contains("refusing"))
  }

  test("decode-once report frames behave on an empty corpus") {
    // models trained on nothing are legal frozen objects (uniform /
    // empty), and the frames must be empty, not throw
    val rar = Frequency.rarityModel(noDocs)
    val lm = LmScreen.lmModel(noDocs)
    val ds = Dsir.dsirModel(noDocs)
    assert(rar._1.isEmpty && rar._2 == 0L)
    assert(lm.vocab.isEmpty && ds.delta.size == Dsir.Buckets)
    assert(TextAnalysis.docReport(noDocs, rar, lm, ds).isEmpty)
    assert(Multimodal.mediaReport(noDocs).isEmpty)
  }

  test("frequency and validation report sanely over empty inputs") {
    assert(Frequency.exactHeavyHitters(Seq.empty[Long].toDF("k"), col("k"), 100).isEmpty)
    assert(Scale.hotKeys(Seq.empty[Long].toDF("k"), "k").isEmpty)
    val rep = Validation.report(
      Seq.empty[(Long, Double)].toDF("o_orderkey", "o_totalprice"),
      Seq(Validation.InRange("o_totalprice", 0, 10)))
    assert(rep.collect().forall(_.getAs[Long]("n_violations") == 0L),
      "rules over an empty frame report zero violations, not nothing")
  }

  test("r10 family (span cut, release dedup, pmi, recall audit) behaves on empty inputs") {
    assert(Dedup.spanCut(noDocs).isEmpty)
    assert(Dedup.spanCutSpans(noDocs).isEmpty)
    // empty STORE and empty BATCH: neither side may throw
    assert(Dedup.releaseDedup(noDocs, noDocs).isEmpty)
    assert(Frequency.pmiCollocations(noDocs).isEmpty)
    assert(Similarity.annRecallAudit(noVecs).isEmpty,
      "auditing an empty index against an empty baseline is a no-op, not a crash")
    assert(Dedup.decontamApply(noDocs).isEmpty)
    assert(Dedup.leakAttribution(noDocs).isEmpty,
      "no benchmark docs → no attribution rows, not a crash")
    assert(Dedup.combinedCutSpans(noDocs).isEmpty)
    assert(Dedup.combinedCutApply(noDocs).isEmpty)
    assert(Dedup.spanDedup(noDocs).isEmpty)
    assert(Dedup.boilerplateTopK(noDocs).isEmpty)
    assert(Similarity.annRecallSweep(noVecs).isEmpty,
      "sweeping an empty index is a no-op, not a crash")
    assert(TextAnalysis.gopherRules(noDocs).isEmpty)
    assert(graft.operators.Corpus.temperatureMix(noDocs).isEmpty)
    assert(graft.operators.Corpus.temperatureSample(noDocs).isEmpty)
  }

  test("r11 monitors behave on empty inputs") {
    assert(Dedup.sourceOverlap(noDocs).isEmpty,
      "no sources → no matrix rows, not a crash")
    assert(Dedup.clusterQualityAudit(noDocs).isEmpty)
    val sweep = TextAnalysis.qualityThresholdSweep(noDocs).collect()
    assert(sweep.length == TextAnalysis.QualitySweepArms.length,
      "the sweep still prices every arm over an empty corpus")
    assert(sweep.forall(_.getAs[Long]("n_docs_kept") == 0L))
    assert(sweep.forall(r => r.isNullAt(r.fieldIndex("docs_share_bp"))),
      "a share of an empty corpus is NULL, never a division error")
  }

  test("r10 family survives a null-text row without hiding other docs") {
    val docs = Seq(
      (1L, "clean alpha text here and more words to window over", "en", "src0", 51L),
      (2L, null.asInstanceOf[String], "en", "src0", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // span cut: the null-text doc re-enters with zeros
    val sc = Dedup.spanCut(docs).collect().map(r => r.getLong(0) -> r).toMap
    assert(sc(2L).getAs[Long]("n_cut_spans") == 0L && sc.contains(1L))
    // span dedup: the null-text doc has no window and reports zeros
    val sd = Dedup.spanDedup(docs).collect().map(r => r.getLong(0) -> r).toMap
    assert(sd(2L).getAs[Long]("n_windows") == 0L && sd(2L).getAs[Long]("dup_bp") == 0L
      && sd(1L).getAs[Long]("n_windows") == 3L)
    // combined cut: nothing is duplicated or benchmark-quoted, so no span
    assert(Dedup.combinedCutSpans(docs).isEmpty)
    // release dedup: every incoming doc gets a verdict, null text included
    val out = Dedup.releaseDedup(docs, Dedup.ingestView(docs)).collect()
    assert(out.length == 2, "every incoming doc gets a verdict")
    assert(out.forall(r => Set("exact", "near", "new")(r.getAs[String]("verdict"))))
    assert(Frequency.pmiCollocations(docs).collect()
      .forall(_.getAs[String]("lang") == "en"))
    // decontam apply: the null-text doc cleans to the empty-content
    // hash with zero cuts instead of crashing the tokenizer
    val da = Dedup.decontamApply(docs).collect().map(r => r.getLong(0) -> r).toMap
    assert(da(2L).getAs[Long]("tokens_cut") == 0L
      && da(2L).getAs[Long]("clean_n_tokens") == da(2L).getAs[Long]("n_tokens"))
  }

  test("r14 family (annotation push, retrieval recall) behaves on empty inputs") {
    import spark.implicits._
    val noPart = Seq.empty[(Long, String)].toDF("p_partkey", "p_brand")
    val noLines = Seq.empty[(Long, Int, Double)]
      .toDF("l_partkey", "l_linenumber", "l_quantity")
    // no computed annotations -> no push at all (never-delete: an
    // empty computation must not touch the existing store)
    assert(graft.operators.Curation.annotationPush(noPart, noLines).isEmpty)
    // an existing store with no computations is likewise untouched
    val part = Seq((2L, "B2")).toDF("p_partkey", "p_brand")
    assert(graft.operators.Curation.annotationPush(part, noLines).isEmpty)
    // empty corpus -> the recall audit reports no queries, not a crash
    val noDocs = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(graft.operators.Corpus.retrievalRecallAudit(noDocs).isEmpty)
    // the new multimodal stages on an empty corpus: no frames, no mimes
    assert(graft.operators.Multimodal.frameSampleManifest(noDocs).isEmpty)
    assert(graft.operators.Multimodal.resizedFeatures(noDocs).isEmpty)
  }
}
