package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dsir, Frequency, LmScreen, TextAnalysis}

/** The decode-once text report frame ([[TextAnalysis.docReport]]): one
  * pure row-local pass over the corpus, persisted WITHOUT the text
  * column; every per-doc screen and corpus-level election must be
  * derivable from the persisted frame EXACTLY — each view is compared
  * row-for-row against its standalone operator. The frozen models are
  * trained on the same corpus, so the frozen-model views must equal
  * the corpus-trained batch screens too (the lookup specs' contract,
  * here proven THROUGH a parquet round-trip of the frame). */
class DocReportSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val report: DataFrame = {
    val frame = TextAnalysis.docReport(docs,
      Frequency.rarityModel(docs), LmScreen.lmModel(docs), Dsir.dsirModel(docs),
      graft.operators.Dedup.benchmarkWindowHashes(docs))
    val dir = java.nio.file.Files.createTempDirectory("graft_docreport").toString
    frame.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def same(view: DataFrame, want: DataFrame, what: String): Unit = {
    assert(view.columns.sorted.sameElements(want.columns.sorted),
      s"$what: columns ${view.columns.mkString(",")} vs ${want.columns.mkString(",")}")
    val v = view.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
    val w = want.select(view.columns.head, view.columns.tail: _*)
      .collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
    assert(v == w, s"$what: view differs from the standalone operator")
  }

  test("the frame is text-free and row-complete") {
    assert(!report.columns.contains("text"),
      "persisting the payload would defeat the narrow-frame design")
    assert(report.count() == docs.count(), "one row per document")
  }

  test("q37 lang confusion derives exactly") {
    same(TextAnalysis.reportLangId(report), TextAnalysis.langId(docs), "q37")
  }

  test("q46 content-metadata check derives exactly") {
    same(TextAnalysis.reportContentCheck(report),
      TextAnalysis.contentMetadataCheck(docs), "q46")
  }

  test("q38 quality score derives exactly") {
    same(TextAnalysis.reportQuality(report), TextAnalysis.qualityScore(docs), "q38")
  }

  test("q39 token counts derive exactly") {
    same(TextAnalysis.reportTokenCounts(report), TextAnalysis.tokenCounts(docs), "q39")
  }

  test("q105 tokenizer fertility derives exactly") {
    same(TextAnalysis.reportFertility(report),
      TextAnalysis.tokenizerFertility(docs), "q105")
  }

  test("q54 repetition screen derives exactly") {
    same(TextAnalysis.reportRepetition(report),
      TextAnalysis.repetitionScreen(docs), "q54")
  }

  test("q137 token entropy derives exactly from the frame's entropy columns") {
    same(report.select(col("doc_id"), col("entropy_n_tokens").as("n_tokens"),
        col("entropy_distinct").as("distinct_tokens"), col("entropy_mb"),
        (col("entropy_mb") < TextAnalysis.LowEntropyMb).as("is_low_entropy")),
      TextAnalysis.tokenEntropy(docs), "q137")
  }

  test("q40 fingerprint classes derive exactly from the persisted fingerprint") {
    same(TextAnalysis.reportFingerprint(report), TextAnalysis.fingerprint(docs), "q40")
  }

  test("q126 quality sweep derives exactly from the frame's stored score columns") {
    same(TextAnalysis.reportQualitySweep(report),
      TextAnalysis.qualityThresholdSweep(docs), "q126")
  }

  test("q30 exact-dedup election derives exactly from the persisted hash") {
    same(TextAnalysis.reportExactDedup(report), TextAnalysis.exactDedup(docs), "q30")
  }

  test("q42 dedup apply derives exactly") {
    same(TextAnalysis.reportDedupApply(report), TextAnalysis.dedupedCorpus(docs), "q42")
  }

  test("q70 split manifest derives exactly") {
    same(TextAnalysis.reportDatasetSplit(report, 1000, 1000),
      graft.operators.Corpus.datasetSplit(docs, 1000, 1000), "q70")
  }

  test("q75 rarity screen derives exactly under the frozen vocabulary") {
    same(TextAnalysis.reportRarity(report), Frequency.rarityScreen(docs), "q75")
  }

  test("q100 LM screen derives exactly under the frozen model") {
    same(TextAnalysis.reportLmScreen(report), LmScreen.lmScreen(docs), "q100")
  }

  test("q101 DSIR weights derive exactly under the frozen model") {
    same(TextAnalysis.reportDsir(report), Dsir.dsirWeights(docs), "q101")
  }

  test("q102 chunk spans derive exactly from the nested chunk array") {
    same(TextAnalysis.reportChunkSpans(report),
      graft.operators.Corpus.chunkSpans(docs), "q102")
  }

  test("q102b chunk dedup derives exactly from the frame's spans") {
    // the first-occurrence election written out over the frame's
    // spans: per chunk hash its copy count and the smallest
    // (doc_id, chunk_idx) holder, which keeps
    val spans = TextAnalysis.reportChunkSpans(report)
      .select("doc_id", "chunk_idx", "start_tok", "end_tok", "chunk_hash")
    val elected = spans.groupBy("chunk_hash").agg(count(lit(1)).as("n_copies"),
      min(struct(col("doc_id"), col("chunk_idx"))).as("w"))
    same(spans.join(elected, "chunk_hash")
        .select(col("doc_id"), col("chunk_idx"), col("start_tok"), col("end_tok"),
          col("chunk_hash"), col("n_copies"),
          (col("doc_id") === col("w.doc_id") && col("chunk_idx") === col("w.chunk_idx"))
            .as("keep")),
      graft.operators.Corpus.chunkDedup(docs), "q102b")
  }

  test("q55 end-to-end pipeline derives exactly (dedup election + budget cut included)") {
    val rates = Seq("en" -> 8000, "de" -> 6000)
    same(graft.operators.Corpus.reportCorpusPipeline(report, rates, 5000, 4000L),
      graft.operators.Corpus.corpusPipeline(docs, rates, 5000, 4000L), "q55")
  }

  test("q60 corpus card derives exactly") {
    val rates = Seq("en" -> 8000, "de" -> 6000)
    same(graft.operators.Corpus.reportCorpusCard(report, rates, 5000),
      graft.operators.Corpus.corpusCard(docs, rates, 5000), "q60")
  }

  test("q113 contamination spans derive exactly from the frame's nested column") {
    same(TextAnalysis.reportContamSpans(report),
      graft.operators.Dedup.contaminationSpans(docs), "q113")
  }

  test("q116 gopher rule matrix derives exactly from the frame") {
    same(report.select(col("doc_id"), col("n_words"), col("word_count_ok"),
        col("mean_word_len_ok"), col("stopword_ok"), col("alpha_words_ok"),
        col("punct_ratio_ok"), col("distinct_ratio_ok"),
        col("gopher_n_failed").as("n_failed"), col("gopher_keep").as("keep")),
      TextAnalysis.gopherRules(docs), "q116")
  }

  test("q114 decontam manifest derives exactly from the frame's stored clean hash") {
    same(TextAnalysis.reportDecontamApply(report),
      graft.operators.Dedup.decontamApply(docs), "q114")
  }
}
