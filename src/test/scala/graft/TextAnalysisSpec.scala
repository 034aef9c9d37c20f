package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Multimodal, TextAnalysis}

class TextAnalysisSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("langid picks the language with the most marker hits") {
    val docs = Seq(
      (1L, "the cat sat on the mat with the hat", "en"),
      (2L, "der hund und die katze und der vogel und", "de"),
      (3L, "las casas y los perros y los gatos y los", "es")
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langId(docs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("en") == "en")
    assert(out("de") == "de")
    assert(out("es") == "es")
  }

  test("quality score computes exact integer ratios") {
    val docs = Seq((1L, "a" * 100)).toDF("doc_id", "text")
    val r = TextAnalysis.qualityScore(docs).collect().head
    assert(r.getAs[Long]("n_chars") == 100)
    assert(r.getAs[Long]("n_alpha") == 100)
    assert(r.getAs[Long]("alpha_bp") == 10000)
    assert(r.getAs[Boolean]("is_quality"))
  }

  test("gopher rule matrix: named rules cut independently at integer boundaries") {
    val docs = Seq(
      (1L, "the and " + (1 to 58).map(i => s"word$i").mkString(" ")), // passes all six
      (2L, "the and tiny doc here"),                                  // only word count fails
      (3L, (1 to 60).map(i => s"word$i").mkString(" ")),              // only stopwords fail
      (4L, ("the and " + "9 " * 58).trim)                             // digit flood
    ).toDF("doc_id", "text")
    val r = TextAnalysis.gopherRules(docs).collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[Boolean]("keep") && r(1L).getAs[Long]("n_failed") == 0L, s"${r(1L)}")
    assert(!r(2L).getAs[Boolean]("word_count_ok") && r(2L).getAs[Long]("n_failed") == 1L,
      s"a short doc fails ONLY the word-count rule: ${r(2L)}")
    assert(!r(3L).getAs[Boolean]("stopword_ok") && r(3L).getAs[Long]("n_failed") == 1L)
    // 58 digit words: alpha share 2/60, mean word length 64/60 < 3,
    // 3 distinct tokens — three independent rules all see it
    assert(!r(4L).getAs[Boolean]("alpha_words_ok")
      && !r(4L).getAs[Boolean]("mean_word_len_ok")
      && !r(4L).getAs[Boolean]("distinct_ratio_ok")
      && r(4L).getAs[Boolean]("stopword_ok")
      && r(4L).getAs[Long]("n_failed") == 3L, s"${r(4L)}")
    // the 50-word boundary is inclusive
    val b = Seq((10L, "the and " + (1 to 48).map(i => s"w$i").mkString(" ")),
        (11L, "the and " + (1 to 47).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val rb = TextAnalysis.gopherRules(b).collect().map(x => x.getLong(0) -> x).toMap
    assert(rb(10L).getAs[Boolean]("word_count_ok") && !rb(11L).getAs[Boolean]("word_count_ok"))
    val plan = TextAnalysis.gopherRules(docs).queryExecution.executedPlan.toString()
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"the rule matrix is one row-local scan:\n${plan.take(1500)}")
  }

  test("token counts: whitespace, distinct, bpe-ish") {
    val docs = Seq((1L, "hello world hello 42 foo-bar")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(docs).collect().head
    assert(r.getAs[Long]("n_ws_tokens") == 5)
    assert(r.getAs[Long]("n_distinct_tokens") == 4)
    // hello|world|hello|42|foo|-|bar
    assert(r.getAs[Long]("n_bpe_tokens") == 7)
  }

  test("fingerprint is punctuation/case-insensitive") {
    val docs = Seq(
      (1L, "Hello, World!"), (2L, "hello world"), (3L, "other text")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.fingerprint(docs).collect()
    val fp = out.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
    assert(out.filter(_.getLong(0) <= 2).forall(_.getAs[Long]("n_same_fingerprint") == 2))
  }

  test("multimodal decode is deterministic and partition-count independent") {
    val docs = Tables.documents(spark, sf)
    // the decode width is the session's shuffle parallelism
    def decodedAt(width: Int) = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", width.toString)
      try Multimodal.extractFeatures(docs).collect()
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val a = decodedAt(2)
    val b = decodedAt(7)
    assert(a.sameElements(b))
    assert(a.length == 3) // three mime groups
  }

  test("multimodal resize lands images at target dims, frame sampling explodes videos 1-to-N") {
    val docs = Tables.documents(spark, sf)
    val images = Multimodal.mediaFrame(docs).as[Multimodal.MediaRow].collect()
      .filter(_.mime == Multimodal.ImageMime)
    assert(images.nonEmpty)
    images.foreach { r =>
      val f = Multimodal.decodeMedia(Multimodal.resizeImage(r, newW = 8, newH = 6))
      assert(f.width == 8 && f.height == 6, "resized image must re-decode at target dims")
    }
    val frames = Multimodal.frameSampleManifest(docs, stride = 1)
    val videoDocs = Multimodal.mediaFrame(docs)
      .filter($"mime" === Multimodal.VideoMime).count()
    assert(frames.count() >= 2 * videoDocs, "every video has >= 2 frames")
    assert(frames.groupBy("doc_id").count().collect().forall(_.getLong(1) >= 1))
  }

  test("repetition screen flags dominated and looping docs, passes diverse text") {
    val docs = Seq(
      (1L, Seq.fill(10)("x").mkString(" ")),             // one token repeated
      (2L, (1 to 60).map(i => s"w$i").mkString(" ")),    // all distinct
      (3L, Seq.fill(8)("a b c").mkString(" "))           // looping phrase
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionScreen(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("top_token_bp") == 10000L)
    assert(out(1L).getAs[Long]("top_2gram_bp") == 10000L)
    // 8 three-gram occurrences, 1 distinct → (8-1)/8 = 8750 bp
    assert(out(1L).getAs[Long]("dup_3gram_bp") == 8750L)
    assert(out(1L).getAs[Boolean]("is_repetitive"))
    assert(out(2L).getAs[Long]("top_token_bp") == 10000L / 60)
    assert(out(2L).getAs[Long]("dup_3gram_bp") == 0L)
    assert(!out(2L).getAs[Boolean]("is_repetitive"))
    // "a b c" ×8 = 24 tokens, top token share 8/24 = 3333 bp
    assert(out(3L).getAs[Long]("top_token_bp") == 3333L)
    assert(out(3L).getAs[Boolean]("is_repetitive"))
  }

  test("tokenizer fertility: exact Q20 ratios per language, NULL on empty denominators") {
    // en: "ab cd" → 2 words, 2 bpe tokens, fertility = 1.0 in Q20;
    //     "e-f"   → 1 word, 3 bpe tokens (letter run, punct, letter run)
    // zz: "..."   → 1 ws "word", 3 single-punct tokens
    val docs = Seq(
      (1L, "ab cd", "en", "s", 5L),
      (2L, "e-f", "en", "s", 3L),
      (3L, "...", "zz", "s", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.tokenizerFertility(docs).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    val en = out("en")
    assert(en.getAs[Long]("n_docs") == 2L)
    assert(en.getAs[Long]("total_ws_tokens") == 3L)
    assert(en.getAs[Long]("total_bpe_tokens") == 5L)
    assert(en.getAs[Long]("fertility_q20") == 5L * 1048576L / 3L,
      "fertility is the truncating Q20 ratio of bpe tokens to words")
    assert(en.getAs[Long]("chars_per_token_q20") == 8L * 1048576L / 5L)
    val zz = out("zz")
    assert(zz.getAs[Long]("fertility_q20") == 3L * 1048576L)
    // a language of empty texts: 0 bpe tokens → NULL ratio, no div error
    val empty = Seq((4L, "", "qq", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.tokenizerFertility(empty).collect().head
    assert(r.isNullAt(r.fieldIndex("chars_per_token_q20")),
      "zero tokens must yield NULL, never a division error")
  }

  test("metadata fix: chars unconditional, lang gated on evidence, changed rows only") {
    val docs = Seq(
      // wrong lang WITH evidence (the/the markers) + right chars → lang fix only
      (1L, "the cat and the dog see the bird", "de", 32L),
      // wrong lang, NO marker evidence (no markers at all) → no row
      (2L, "alpha beta gamma delta epsilon", "de", 30L),
      // right lang, wrong declared chars → chars fix only
      (3L, "the cat sat on the mat right there", "en", 999L),
      // null text: chars fix to NULL, lang never fixed
      (4L, null.asInstanceOf[String], "en", 10L),
      // everything consistent → no row
      (5L, "the quick brown fox and the hen", "en", 31L)
    ).toDF("doc_id", "text", "lang", "n_chars")
    val out = TextAnalysis.metadataFix(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1L, 3L, 4L), s"got ${out.keySet}")
    assert(out(1L).getAs[String]("fixed_lang") == "en"
      && out(1L).getAs[Boolean]("lang_fixed")
      && !out(1L).getAs[Boolean]("chars_fixed"))
    assert(out(3L).getAs[String]("fixed_lang") == "en"
      && !out(3L).getAs[Boolean]("lang_fixed")
      && out(3L).getAs[Boolean]("chars_fixed")
      && out(3L).getAs[Long]("fixed_n_chars") == 34L)
    assert(out(4L).getAs[String]("fixed_lang") == "en"
      && !out(4L).getAs[Boolean]("lang_fixed")
      && out(4L).isNullAt(out(4L).fieldIndex("fixed_n_chars")),
      "a null text fixes chars to NULL (undefined), never relabels the lang")
  }

  test("quality sweep: monotone in the threshold, exact at arm 0, honest totals") {
    // three scorable docs (alpha 10000, ~8000, low) + one null-text doc
    // that counts in the totals but survives no arm
    val docs = Seq(
      (1L, "purealphabetictext"),            // alpha_bp = 10000
      (2L, "four words of text"),            // spaces pull alpha below 10000
      (3L, "a 1 2 3 4 5 6 7 8 9"),           // digit-heavy, low alpha
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.qualityThresholdSweep(docs).collect()
    assert(out.map(_.getAs[Long]("threshold_bp")).toSeq ==
      TextAnalysis.QualitySweepArms, "one row per arm, in arm order")
    val kept = out.map(_.getAs[Long]("n_docs_kept")).toSeq
    assert(kept == kept.sorted.reverse, "raising the threshold can only cut")
    assert(kept.head == 3L, "arm 0 keeps every scorable doc, never the null one")
    assert(out.head.getAs[Long]("docs_share_bp") == 7500L,
      "shares are fractions of the WHOLE corpus (3 of 4 docs)")
    assert(kept.last == 1L, "only the pure-alphabetic doc survives 8500")
    out.foreach { r =>
      assert(r.getAs[Long]("docs_share_bp") <= 10000L)
      assert(r.getAs[Long]("tokens_share_bp") <= 10000L)
      assert(r.getAs[Long]("n_tokens_kept") >= 0L)
    }
  }

  test("quality sweep on real data: curve has real shape and token/doc monotonicity") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = TextAnalysis.qualityThresholdSweep(docs).collect()
    val docsKept = out.map(_.getAs[Long]("n_docs_kept")).toSeq
    val toksKept = out.map(_.getAs[Long]("n_tokens_kept")).toSeq
    assert(docsKept == docsKept.sorted.reverse)
    assert(toksKept == toksKept.sorted.reverse)
    assert(docsKept.head > docsKept.last,
      "the arms must separate the corpus — a flat curve prices nothing")
    assert(out.head.getAs[Long]("docs_share_bp") == 10000L,
      "every sf0.001 doc is scorable, so arm 0 keeps the whole corpus")
  }

  test("token entropy: exact at powers of two, zero for uniform-repeat, null text null") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),        // uniform over 4 → exactly 2 bits = 2048 mb (LOW: < 3 bits)
      (2L, "a a a a"),        // one token → 0 mb, flagged
      (3L, "a a b b"),        // uniform over 2 → exactly 1024 mb, flagged
      (4L, null.asInstanceOf[String]), // null text → null verdicts (q54 convention)
      (5L, "a b c d e f g h i j")     // uniform over 10 → log2(10) > 3 bits, passes
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("entropy_mb") == 2048L && out(1L).getAs[Boolean]("is_low_entropy"),
      "a 4-distinct-token doc sits under the 3-bit bar")
    assert(out(2L).getAs[Long]("entropy_mb") == 0L && out(2L).getAs[Boolean]("is_low_entropy"))
    assert(out(3L).getAs[Long]("entropy_mb") == 1024L && out(3L).getAs[Boolean]("is_low_entropy"))
    assert(out(4L).isNullAt(out(4L).fieldIndex("entropy_mb"))
      && out(4L).isNullAt(out(4L).fieldIndex("is_low_entropy")))
    assert(out(5L).getAs[Long]("entropy_mb") ==
      graft.functions.LogExpressions.log2mbKernel(1L, 10L)
      && !out(5L).getAs[Boolean]("is_low_entropy"),
      "a uniform doc reads exactly log2(distinct) and 10 distinct clears 3 bits")
    assert(out(1L).getAs[Long]("n_tokens") == 4L
      && out(1L).getAs[Long]("distinct_tokens") == 4L)
  }

  test("token entropy laws on real data: bounded by log2(distinct), row-local plan") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = TextAnalysis.tokenEntropy(real).collect().filter(!_.isNullAt(3))
    assert(out.nonEmpty)
    out.foreach { r =>
      val e = r.getAs[Long]("entropy_mb"); val d = r.getAs[Long]("distinct_tokens")
      val n = r.getAs[Long]("n_tokens")
      assert(e >= 0L, s"entropy is non-negative: $r")
      assert(e <= graft.functions.LogExpressions.log2mbKernel(1L, d) + 2,
        s"entropy is bounded by log2(distinct) up to kernel floor slack: $r")
      assert(d <= n)
    }
    val plan = TextAnalysis.tokenEntropy(real).queryExecution.executedPlan.toString()
    assert(!plan.contains("Join") && !plan.contains("Window")
      && !plan.contains("Exchange hashpartitioning"),
      s"q137 is one row-local pass + the output sort:\n${plan.take(1200)}")
  }
}
