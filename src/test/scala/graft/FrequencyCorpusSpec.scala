package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Corpus, EventOps, Frequency}

class FrequencyCorpusSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("MG sketch keeps true heavy hitters with capacity far below the domain") {
    // key 7 appears 500 times, 2000 singletons — capacity 16 must
    // still surface 7 (freq 0.2 >> N/(16+1))
    val stream = (Seq.fill(500)(7L) ++ (1000L until 3000L)).toDF("k")
      .repartition(8) // force partial buffers + merges
    val cands = stream.agg(graft.functions.MgSketch.mg_sketch(col("k"), 16).as("c"))
      .select(explode(col("c")).as("k")).as[Long].collect().toSet
    assert(cands.contains(7L), s"true heavy hitter must survive, got $cands")
    assert(cands.size <= 16, "candidate set bounded by capacity")
  }

  test("exact heavy hitters matches a plain groupBy at the same threshold") {
    // skewed synthetic stream: key i gets ~1000/i occurrences
    val rows = (1L to 50L).flatMap(i => Seq.fill((1000 / i).toInt)(i))
    val df = rows.toDF("k").repartition(8)
    val n = rows.size
    val expected = rows.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * 10000L > n.toLong * 200L }
      .keySet
    val got = Frequency.exactHeavyHitters(df, col("k"), phiBp = 200, capacity = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == expected, s"got ${got.keySet} expected $expected")
    // counts are EXACT (pass 2), not sketch estimates
    got.foreach { case (k, c) => assert(c == rows.count(_ == k).toLong) }
  }

  test("heavy hitters rejects a capacity that could miss candidates") {
    intercept[IllegalArgumentException] {
      Frequency.exactHeavyHitters(Seq(1L).toDF("k"), col("k"), phiBp = 10, capacity = 16)
    }
  }

  test("rarity screen: exact integer costs, OOV ceiling, strict tail boundary") {
    // N=8 tokens; 'the' (6/8) is the only >25%-share vocab entry.
    // cost(the) = 80000 DIV 6 = 13333; OOV ceiling = 80000 DIV 3 = 26666
    val docs = Seq(
      (1L, "the the the the"),  // all vocab: mean 13333, oov_bp 0
      (2L, "the the zz qq"),    // mean (2*13333+2*26666) DIV 4 = 19999, oov_bp 5000
      (3L, null.asInstanceOf[String]) // zero tokens: absent from the report
    ).toDF("doc_id", "text")
    val out = Frequency.rarityScreen(docs, phiBp = 2500, capacity = 1024,
      fenceOovBp = 5000).collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1L, 2L), "only token-bearing docs are scored")
    assert(out(1L).getAs[Long]("mean_cost") == 13333L)
    assert(out(1L).getAs[Long]("oov_bp") == 0L && !out(1L).getAs[Boolean]("is_tail"))
    assert(out(2L).getAs[Long]("mean_cost") == 19999L)
    assert(out(2L).getAs[Long]("n_oov") == 2L && out(2L).getAs[Long]("oov_bp") == 5000L)
    assert(!out(2L).getAs[Boolean]("is_tail"), "fence is a STRICT bound: 5000 > 5000 is false")
    // an all-gibberish doc crosses the fence
    val tail = Frequency.rarityScreen(
      docs.unionByName(Seq((4L, "xq zv wk")).toDF("doc_id", "text")),
      phiBp = 2500, capacity = 1024, fenceOovBp = 5000)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(tail(4L).getAs[Long]("oov_bp") == 10000L && tail(4L).getAs[Boolean]("is_tail"))
    intercept[IllegalArgumentException] {
      Frequency.rarityScreen(docs, phiBp = 10, capacity = 16)
    }
  }

  test("stratified sample is a pure function of doc_id: stable under repartitioning") {
    val docs = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "fr", s"text $i"))
      .toDF("doc_id", "lang", "text")
    val a = Corpus.stratifiedSample(docs, Seq("en" -> 1000), 5000)
      .collect().map(_.getLong(0)).toSeq
    val b = Corpus.stratifiedSample(docs.repartition(13), Seq("en" -> 1000), 5000)
      .collect().map(_.getLong(0)).toSeq
    assert(a == b, "sampling decision must not depend on partitioning")
    // rates land near their targets (10% of en, 50% of fr)
    val byLang = Corpus.stratifiedSample(docs, Seq("en" -> 1000), 5000)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("en") > 50 && byLang("en") < 150, s"~100 of 1000 en docs: $byLang")
    assert(byLang("fr") > 400 && byLang("fr") < 600, s"~500 of 1000 fr docs: $byLang")
  }

  test("token budget pack fills highest-alpha docs first and respects the budget") {
    val docs = Seq(
      (1L, "en", "clean alpha text here"),            // high alpha ratio
      (2L, "en", "1 2 3 4 5 6 7 8 9 0 ! ? . , ; :"),  // low alpha ratio
      (3L, "en", "more clean alpha text follows")
    ).toDF("doc_id", "lang", "text")
    val all = Corpus.tokenBudgetPack(docs, budgetPerLang = 1000L).collect()
    assert(all.length == 3, "large budget keeps everything")
    val tokensOf = all.map(r => r.getLong(1) -> r.getAs[Long]("n_tokens")).toMap
    val tight = Corpus.tokenBudgetPack(docs, tokensOf(1L) + tokensOf(3L)).collect()
    assert(tight.map(_.getLong(1)).toSet == Set(1L, 3L),
      "tight budget keeps the two high-alpha docs and cuts the junk doc")
    tight.foreach(r => assert(r.getAs[Long]("cum_tokens") <= tokensOf(1L) + tokensOf(3L)))
  }

  test("corpus pipeline: keep implies every stage's verdict, budget respected") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val rates = Seq("en" -> 1000, "zh" -> 5000)
    val out = Corpus.corpusPipeline(docs, rates, 2500, budgetPerLang = 2000L).collect()
    assert(out.length == docs.count(), "one decision row per document")
    val kept = out.filter(_.getAs[Boolean]("keep"))
    assert(kept.nonEmpty, "pipeline must keep something")
    kept.foreach { r =>
      assert(r.getAs[Boolean]("is_quality") && r.getAs[Boolean]("keep_dedup")
        && r.getAs[Boolean]("sampled"), "keep is the conjunction of stage verdicts")
      assert(r.getAs[Long]("cum_tokens") <= 2000L, "kept docs sit inside the budget")
    }
    // stage verdicts agree with the standalone operators
    val sampledIds = Corpus.stratifiedSample(docs, rates, 2500)
      .collect().map(_.getLong(0)).toSet
    out.foreach(r => assert(r.getAs[Boolean]("sampled") == sampledIds.contains(r.getLong(0))))
    val dedupKeep = graft.operators.TextAnalysis.dedupedCorpus(docs)
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    out.foreach(r => assert(r.getAs[Boolean]("keep_dedup") == dedupKeep(r.getLong(0))))
  }

  test("corpus pipeline: every shuffle belongs to the election or the bucketed cut") {
    // the r8 shape: langid/quality/sample stay row-local on the scan;
    // the shuffles that remain are the q83 dedup election (map-side
    // partial min + AQE-splittable winner join on fingerprint) and
    // bucketedRunningSum's (group, bucket)-keyed pieces — every hash
    // exchange must be keyed by fingerprint or by the bucket key, and
    // none may be a bare-lang (one-task-per-language) partition
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Corpus.corpusPipeline(docs, Seq("en" -> 1000), 2500, 2000L)
      .queryExecution.executedPlan.toString()
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, "election and budget cut still shuffle")
    // one bare-lang exchange is expected and harmless: it feeds the
    // offsets frame's running sum, which runs over the per-(lang,
    // bucket) PARTIAL SUMS (dimension-sized, ≤ |langs|×10002 rows) —
    // never over document rows
    val bareLang = exchanges.filterNot(l =>
      l.contains("fingerprint") || l.contains("__bucket") || l.contains("__k_"))
    assert(bareLang.size <= 1 && plan.contains("__bsum"),
      s"unexpected data-stream shuffle (bare-lang window crept back in?):\n${bareLang.mkString("\n")}")
    // and any window over bare lang must consume the aggregated offsets
    // frame, not document rows: the full-data windows are (lang,
    // __bucket)-keyed
    val dataWindows = plan.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && l.contains("lang") &&
        !l.contains("__bucket") && !l.contains("__bsum")).toSeq
    assert(dataWindows.isEmpty,
      s"per-language window over document rows crept back in:\n${dataWindows.mkString("\n")}")
    assert(plan.contains("partial_min"),
      "the dedup election must map-side combine before its exchange")
  }

  test("outlier report flags only values above the Tukey fence") {
    val dir = "/root/testdata/sf0.001"
    val events = Tables.events(spark, dir)
    val out = EventOps.outlierReport(events).collect()
    assert(out.nonEmpty, "skewed value distribution must produce fence outliers")
    out.foreach(r => assert(r.getAs[Long]("value_us") > r.getAs[Long]("fence_us") - 1000000,
      "every flagged value sits above (or at rounding distance of) its fence"))
    // flagged set == manual recompute
    val n = out.length
    val manual = {
      val byType = events.groupBy("event_type")
        .agg(percentile(col("value"), lit(0.25)).as("p25"),
          percentile(col("value"), lit(0.75)).as("p75"))
        .collect().map(r => r.getString(0) ->
          (r.getDouble(2) + (r.getDouble(2) - r.getDouble(1)) * 1.5)).toMap
      events.collect().count(r =>
        !r.isNullAt(r.fieldIndex("value")) &&
          r.getAs[Double]("value") > byType(r.getAs[String]("event_type")))
    }
    assert(n == manual, s"report rows $n vs manual $manual")
  }

  test("funnel: monotone reach, first-touch chain on a hand fixture, horizon enforced") {
    val real = Tables.events(spark, "/root/testdata/sf0.001")
    val out = EventOps.funnel(real).collect()
    assert(out.map(_.getAs[String]("step")).toSeq == EventOps.FunnelSteps)
    val reach = out.map(_.getAs[Long]("n_users")).toSeq
    assert(reach == reach.sorted.reverse, "funnel reach can only shrink")
    assert(out.head.getAs[Long]("conv_top_bp") == 10000L)
    // hand fixture: u1 completes in order; u2 clicks BEFORE viewing
    // (order violated → depth 1); u3 purchases outside the horizon
    // (depth 2); u4 never views (depth 0)
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val h = EventOps.FunnelHorizonS
    val ev = Seq(
      (1L, ts(0), 1L, "view", 1.0, "{}"), (2L, ts(1), 1L, "click", 1.0, "{}"),
      (3L, ts(2), 1L, "purchase", 1.0, "{}"),
      (4L, ts(0), 2L, "click", 1.0, "{}"), (5L, ts(1), 2L, "view", 1.0, "{}"),
      (6L, ts(0), 3L, "view", 1.0, "{}"), (7L, ts(1), 3L, "click", 1.0, "{}"),
      (8L, ts(1 + h / 60 + 10), 3L, "purchase", 1.0, "{}"),
      (9L, ts(0), 4L, "purchase", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val f = EventOps.funnel(ev).collect().map(r =>
      r.getAs[String]("step") -> r.getAs[Long]("n_users")).toMap
    assert(f == Map("view" -> 3L, "click" -> 2L, "purchase" -> 1L),
      s"got $f: u1 full chain, u2 re-views then stalls, u3 misses the horizon, u4 never enters")
  }

  test("rate bursts: only above-bar hours ship, ratio integer-exact, hand fixture") {
    val out = EventOps.rateBursts(
      Tables.events(spark, "/root/testdata/sf0.001")).collect()
    out.foreach { r =>
      val (n, hrs, tot) = (r.getAs[Long]("n"),
        r.getAs[Long]("hours_observed"), r.getAs[Long]("total_n"))
      assert(r.getAs[Long]("ratio_pm") == 1000L * n * hrs / tot)
      assert(r.getAs[Long]("ratio_pm") > EventOps.BurstThresholdPm,
        "every shipped hour is above the burst bar")
    }
    // hand fixture: type "a" idles at 1 event/hour for 10 hours then
    // spikes to 20 in hour 11 → mean 30/11, spike ratio
    // 1000·20·11/30 = 7333‰ ships; the quiet hours (366‰) do not.
    // Type "b" is perfectly flat → no burst rows at all.
    import spark.implicits._
    def ts(hr: Long, mi: Long) = new java.sql.Timestamp(1700000000000L / 3600000L * 3600000L + hr * 3600000L + mi * 60000L)
    val ev = ((0 until 10).map(h => (h.toLong, ts(h, 5), 1L, "a", 1.0, "{}")) ++
      (0 until 20).map(i => (100L + i, ts(10, i), 1L, "a", 1.0, "{}")) ++
      (0 until 6).map(h => (200L + h, ts(h, 0), 2L, "b", 1.0, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val rows = EventOps.rateBursts(ev).collect()
    assert(rows.length == 1, s"exactly the spike hour ships, got ${rows.length}")
    assert(rows.head.getAs[String]("event_type") == "a" &&
      rows.head.getAs[Long]("n") == 20L &&
      rows.head.getAs[Long]("ratio_pm") == 7333L)
  }

  test("retention cohorts: offsets non-negative, week-0 full, actives bounded by cohort") {
    val out = EventOps.retentionCohorts(
      Tables.events(spark, "/root/testdata/sf0.001")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("week_offset") >= 0L,
        "no user can be active before their own first event")
      assert(r.getAs[Long]("n_active") <= r.getAs[Long]("n_users"))
    }
    val week0 = out.filter(_.getAs[Long]("week_offset") == 0L)
    assert(week0.nonEmpty && week0.forall(r =>
      r.getAs[Long]("n_active") == r.getAs[Long]("n_users")),
      "every user is active in their own cohort week by definition")
  }

  test("corpus card rolls up composition with consistent totals") {
    import spark.implicits._
    val good = (1 to 30).map(i => s"alpha$i").mkString(" ")  // quality text
    val docs = Seq(
      (1L, good, "en", "srcA", 0L),
      (2L, good, "en", "srcA", 0L),            // dup of 1 → dedup keeps 1
      (3L, good + " more", "de", "srcB", 0L),
      (4L, "short", "en", "srcB", 0L)          // fails quality (< 50 chars)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val card = Corpus.corpusCard(docs, Seq("en" -> 10000), 10000).collect()
    val rows = card.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // grand total row aggregates everything
    val total = rows(("(all)", "(all)"))
    assert(total.getAs[Long]("n_docs") == 4L)
    assert(total.getAs[Long]("sampled_bp") == 10000L, "all langs at 100% sample rate")
    // per-source subtotal rows exist and add up
    assert(rows(("srcA", "(all)")).getAs[Long]("n_docs") == 2L)
    assert(rows(("srcB", "(all)")).getAs[Long]("n_docs") == 2L)
    // dedup keep rate: srcA keeps 1 of 2 (verbatim dup dropped)
    assert(rows(("srcA", "en")).getAs[Long]("dedup_keep_bp") == 5000L)
    // quality: srcB has one good, one too-short doc
    assert(rows(("srcB", "(all)")).getAs[Long]("quality_bp") == 5000L)
    // token totals are additive across the hierarchy
    val leafSum = card.filter(r => r.getString(0) != "(all)" && r.getString(1) != "(all)")
      .map(_.getAs[Long]("n_tokens")).sum
    assert(total.getAs[Long]("n_tokens") == leafSum)
  }

  test("mixture rebalance: scarcest source binds, rates follow the weights") {
    // ten alpha tokens per doc (pure-alpha words: "tokN" would split
    // into alpha+digit under the BPE-ish segmentation); A is
    // over-weighted and scarce → binds
    def doc(id: Long, src: String) =
      (id, List.fill(10)("tok").mkString(" "), "en", src, 0L)
    val docs = ((1L to 2L).map(doc(_, "A")) ++ (3L to 6L).map(doc(_, "B"))
      ++ (7L to 16L).map(doc(_, "C")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = Corpus.mixtureBalance(docs, Seq("A" -> 5000, "B" -> 2500), 2500)
      .collect().map(r => r.getString(0) -> r).toMap
    // avail tokens: A=20, B=40, C=100; W=10000
    // achievable total = min(20·10⁴/5000, 40·10⁴/2500, 100·10⁴/2500) = 40
    // want: A 20 (all of it → 10000bp), B 10 (2500bp), C 10 (1000bp)
    assert(rows("A").getAs[Long]("rate_bp") == 10000L)
    assert(rows("B").getAs[Long]("rate_bp") == 2500L)
    assert(rows("C").getAs[Long]("rate_bp") == 1000L)
    assert(rows("A").getAs[Long]("avail_tokens") == 20L)
    rows.values.foreach { r =>
      assert(r.getAs[Long]("kept_docs") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("kept_tokens") <= r.getAs[Long]("avail_tokens"))
    }
  }

  test("mixture rebalance: a zero-token source cannot bind and gets rate 0") {
    // source Z exists in the corpus but all its docs have null/empty
    // text → avail_tokens = 0. It must not drag total_tokens_max to 0
    // (which would silently empty every other source); it is reported
    // with rate_bp 0 and the other sources' rates are exactly what they
    // would be without it.
    def doc(id: Long, src: String, text: String) = (id, text, "en", src, 0L)
    val withZ = (Seq(doc(100L, "Z", ""), doc(101L, "Z", null)) ++
      (1L to 2L).map(doc(_, "A", List.fill(10)("tok").mkString(" "))) ++
      (3L to 6L).map(doc(_, "B", List.fill(10)("tok").mkString(" "))))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = Corpus.mixtureBalance(withZ, Seq("A" -> 5000, "B" -> 2500), 2500)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows("Z").getAs[Long]("avail_tokens") == 0L)
    assert(rows("Z").getAs[Long]("rate_bp") == 0L)
    assert(rows("Z").getAs[Long]("kept_docs") == 0L)
    // A (avail 20, weight 5000) binds among the positive-avail sources:
    // W = 10000, total = min(20·10⁴/5000, 40·10⁴/2500) = 40
    assert(rows("A").getAs[Long]("rate_bp") == 10000L)
    assert(rows("B").getAs[Long]("rate_bp") == 2500L)
  }

  test("mixture rebalance approaches the target composition on a real corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val rows = Corpus.mixtureBalance(docs, Seq("src0" -> 2000, "src1" -> 1000), 500)
      .collect().map(r => r.getString(0) -> r).toMap
    // src0 is over-weighted 4× vs the default → it binds (sources are
    // near-uniform in the generator) and keeps everything
    assert(rows("src0").getAs[Long]("rate_bp") == 10000L)
    assert(rows("src0").getAs[Long]("kept_docs") == rows("src0").getAs[Long]("n_docs"))
    // everyone else is down-sampled, none above the binding source's rate
    rows.values.foreach(r => assert(r.getAs[Long]("rate_bp") <= 10000L))
    val defaultRates = rows.filterKeys(s => s != "src0" && s != "src1")
      .values.map(_.getAs[Long]("rate_bp"))
    assert(defaultRates.forall(_ < 10000L), "default-weight sources are down-sampled")
  }

  test("zipf card replays exactly from the kernel logs; flat text scores zero") {
    import graft.functions.LogExpressions.log2mbKernel
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // independent Scala replay (the DsirSpec discipline): counts, the
    // top-32 election under the same total order, kernel logs, the
    // same normal-equation quotient
    val counts = docs.collect().flatMap { r =>
      val lang = r.getAs[String]("lang")
      Option(r.getAs[String]("text")).toSeq.flatMap(
        _.trim.toLowerCase.split(" +").toSeq).map(t => (lang, t))
    }.groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((l, t), c) => (l, t, c) }
    val expected = counts.groupBy(_._1).map { case (l, ts) =>
      val top = ts.sortBy(t => (-t._3, t._2)).take(32)
      val pts = top.zipWithIndex.map { case ((_, _, c), i) =>
        (log2mbKernel(1, i + 1L), log2mbKernel(1, c)) }
      val n = pts.length.toLong
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val den = n * sxx - sx * sx
      val alpha = if (den > 0) (1024 * (sx * sy - n * sxy)) / den else 0L
      l -> (n, top.head._2, top.head._3, alpha)
    }
    val got = Frequency.zipfCard(docs).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (n, tok, c, alpha) = expected(r.getString(0))
      assert(r.getAs[Long]("n_top") == n && r.getAs[String]("top_token") == tok
        && r.getAs[Long]("top_count") == c && r.getAs[Long]("alpha_mb") == alpha,
        s"replay mismatch for ${r.getString(0)}: $r vs ($n, $tok, $c, $alpha)")
      assert(r.getAs[Long]("alpha_mb") >= 0L)
    }
    // perfectly flat text: every log-count is identical → slope 0
    val flat = Seq((1L, (1 to 40).map(i => s"tok$i").mkString(" "), "xx"))
      .toDF("doc_id", "text", "lang")
    val fr = Frequency.zipfCard(flat).collect()
    assert(fr.length == 1 && fr.head.getAs[Long]("alpha_mb") == 0L,
      s"uniform counts must fit a zero exponent: ${fr.toSeq}")
  }

  test("temperature mix: α=1/2 shares are integer-exact, isqrt corrected at boundaries") {
    val docs = Seq(
      (1L, ("x " * 100).trim, "a"),
      (2L, ("x " * 400).trim, "b")
    ).toDF("doc_id", "text", "lang")
    val r = Corpus.temperatureMix(docs).collect().map(x => x.getString(0) -> x).toMap
    // c = (100, 400) → w = (10, 20); raw (2000, 8000) bp, temp
    // (3333, 6666) bp; half budget 250 → targets (83, 166)
    assert(r("a").getAs[Long]("raw_share_bp") == 2000L
      && r("a").getAs[Long]("temp_share_bp") == 3333L
      && r("a").getAs[Long]("target_tokens") == 83L
      && r("a").getAs[Boolean]("boosted"), s"${r("a")}")
    assert(r("b").getAs[Long]("temp_share_bp") == 6666L
      && r("b").getAs[Long]("target_tokens") == 166L
      && !r("b").getAs[Boolean]("boosted"))
    // isqrt lands exactly across a square boundary: 99 → 9, 101 → 10
    val edge = Seq((1L, ("y " * 99).trim, "p"), (2L, ("y " * 101).trim, "q"))
      .toDF("doc_id", "text", "lang")
    val re = Corpus.temperatureMix(edge).collect().map(x => x.getString(0) -> x).toMap
    assert(re("p").getAs[Long]("temp_share_bp") == 10000L * 9 / 19
      && re("q").getAs[Long]("temp_share_bp") == 10000L * 10 / 19, s"$re")
  }

  test("temperature mix on real data: targets fit the half budget, the head de-boosts") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Corpus.temperatureMix(docs).collect()
    val totTok = out.map(_.getAs[Long]("n_tokens")).sum
    assert(out.map(_.getAs[Long]("target_tokens")).sum <= totTok / 2,
      "floor division must never over-allocate the budget")
    val en = out.find(_.getString(0) == "en").get
    assert(!en.getAs[Boolean]("boosted"),
      "the dominant language's share must shrink under temperature")
    assert(out.filter(_.getString(0) != "en").forall(_.getAs[Boolean]("boosted")),
      "every tail language gains share at α=1/2 on this corpus")
    val plan = Corpus.temperatureMix(docs).queryExecution.executedPlan.toString()
    assert(!plan.contains("Window") && !plan.contains("SortMergeJoin"),
      "one map-side language rollup + dimension-sized arithmetic only")
  }

  test("corrected isqrt is exact across square boundaries and random 52-bit values") {
    val rnd = new scala.util.Random(17)
    val vals = ((0L to 3000L).flatMap(k => Seq(k * k - 1, k * k, k * k + 1))
      ++ Seq((1L << 26) - 1, 1L << 26, (1L << 52) - 1, 1L << 52)
      ++ Seq.fill(4000)(math.abs(rnd.nextLong()) % (1L << 52)))
      .filter(_ >= 0).distinct
    val out = vals.toDF("n")
      .withColumn("s0", expr(Corpus.isqrtSeedSql("n")))
      .withColumn("s", expr(Corpus.isqrtCorrectSql("n", "s0")))
      .collect()
    assert(out.length == vals.length)
    out.foreach { r =>
      val n = r.getAs[Long]("n"); val s = r.getAs[Long]("s")
      assert(BigInt(s) * s <= n && BigInt(s + 1) * (s + 1) > n,
        s"isqrt($n) = $s violates s^2 <= n < (s+1)^2")
    }
  }

  test("temperature sample realises the plan: never overfills, conserves, reproducible") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Corpus.temperatureMix(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("target_tokens")).toMap
    val out = Corpus.temperatureSample(docs).collect()
    out.groupBy(_.getString(0)).foreach { case (l, rows) =>
      val keptTok = rows.filter(_.getAs[Boolean]("keep"))
        .map(_.getAs[Long]("n_tokens")).sum
      assert(keptTok <= plan(l), s"$l overfills its target: $keptTok > ${plan(l)}")
      assert(rows.map(_.getAs[Long]("cum_tokens")).max
        == rows.map(_.getAs[Long]("n_tokens")).sum,
        s"$l: the bucketed running sum must conserve the language total")
    }
    assert(out.exists(_.getAs[Boolean]("keep"))
      && out.exists(!_.getAs[Boolean]("keep")), "the cut is real on this corpus")
    // the draw is a pure function of doc_id: physical layout is irrelevant
    val again = Corpus.temperatureSample(docs.repartition(7)).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getAs[Boolean]("keep"))).toSeq
      == again.map(r => (r.getString(0), r.getLong(1), r.getAs[Boolean]("keep"))).toSeq)
  }

  test("curriculum stages: token-balanced per language, monotone in quality") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Corpus.curriculumStages(docs).collect()
    out.groupBy(_.getString(0)).foreach { case (l, rows) =>
      assert(rows.map(_.getAs[Long]("stage")).toSet.subsetOf(Set(1L, 2L, 3L)))
      // stage boundaries cut the token stream into near-equal thirds:
      // each of the two cut points can push at most one straddling
      // document to the earlier side, so totals differ by ≤ 2 docs
      val sums = rows.groupBy(_.getAs[Long]("stage")).view
        .mapValues(_.map(_.getAs[Long]("n_tokens")).sum).values.toSeq
      val maxDoc = rows.map(_.getAs[Long]("n_tokens")).max
      assert(sums.max - sums.min <= 2 * maxDoc,
        s"$l stages unbalanced beyond two boundary docs: $sums (maxDoc $maxDoc)")
      // within a language, a higher-quality doc never lands in an
      // earlier stage than a lower-quality one
      val byQ = rows.filter(_.get(2) != null)
        .sortBy(r => (r.getAs[Long]("alpha_bp"), r.getAs[Long]("doc_id")))
      byQ.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("stage") <= b.getAs[Long]("stage"))
        case _ =>
      }
    }
    // a null lang is a valid group (the bucketedRunningSum contract):
    // its docs still get a non-null stage from their own total
    val withNull = docs.unionByName(
      docs.limit(3).withColumn("lang", lit(null).cast("string")))
    val nullRows = Corpus.curriculumStages(withNull).collect()
      .filter(_.isNullAt(0))
    assert(nullRows.length == 3 && nullRows.forall(!_.isNullAt(5)),
      s"null-lang docs must carry a real stage: ${nullRows.toSeq}")
  }

  test("pack manifest: sequence ids, offsets and straddle flags are exact") {
    def doc(id: Long, lang: String, n: Int) =
      (id, List.fill(n)("word").mkString(" "), lang, "s", 0L)
    // en: 4+4+4 tokens, ctx=10 → cum_before 0,4,8; doc 3 straddles the cut
    // fr: a single 12-token doc spans two sequences from offset 0
    val docs = Seq(doc(1, "en", 4), doc(2, "en", 4), doc(3, "en", 4),
      doc(11, "fr", 12))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = Corpus.packManifest(docs, 10L).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m(1L).getAs[Long]("seq_id") == 0L && m(1L).getAs[Long]("seq_offset") == 0L)
    assert(m(2L).getAs[Long]("seq_offset") == 4L && !m(2L).getAs[Boolean]("straddles"))
    assert(m(3L).getAs[Long]("seq_offset") == 8L && m(3L).getAs[Boolean]("straddles"))
    // languages pack independently: fr restarts at sequence 0, offset 0
    assert(m(11L).getAs[Long]("seq_id") == 0L && m(11L).getAs[Long]("seq_offset") == 0L)
    assert(m(11L).getAs[Boolean]("straddles"), "12 tokens cannot fit one 10-token sequence")
  }

  test("chunk spans tile every document with the declared geometry") {
    import graft.operators.Corpus.{ChunkW, ChunkO, chunkStride}
    // lengths around every boundary: empty, tiny, exactly W, W+1,
    // exactly covered tail (n = W + stride), one past it, and long
    val lens = Seq(0, 1, 5, ChunkW - 1, ChunkW, ChunkW + 1,
      ChunkW + chunkStride, ChunkW + chunkStride + 1, 1000)
    val docs = lens.zipWithIndex.map { case (n, i) =>
      (i.toLong, (0 until n).map(j => "w" * (j % 3 + 1)).mkString(" "), "en", "s0", n.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val chunks = graft.operators.Corpus.chunkSpans(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getAs[Long]("chunk_idx"))).toMap
    lens.zipWithIndex.foreach { case (n, i) =>
      val id = i.toLong
      if (n == 0) assert(!chunks.contains(id), "zero tokens → no chunks")
      else {
        val cs = chunks(id)
        assert(cs.head.getAs[Long]("start_tok") == 0L, s"doc $id starts at 0")
        assert(cs.last.getAs[Long]("end_tok") == n.toLong, s"doc $id ends at n")
        cs.zipWithIndex.foreach { case (c, k) =>
          assert(c.getAs[Long]("chunk_idx") == k.toLong)
          assert(c.getAs[Long]("start_tok") == k.toLong * chunkStride,
            "starts advance by exactly the stride")
          val w = c.getAs[Long]("end_tok") - c.getAs[Long]("start_tok")
          assert(w == c.getAs[Long]("n_chunk_tokens") && w <= ChunkW && w > 0)
        }
        // consecutive chunks overlap: next start < previous end
        cs.sliding(2).foreach {
          case Array(a, b) =>
            assert(b.getAs[Long]("start_tok") < a.getAs[Long]("end_tok"),
              "no token gap between consecutive chunks")
          case _ =>
        }
        // a start is only emitted if it adds uncovered tokens
        if (cs.length > 1)
          assert(cs(cs.length - 2).getAs[Long]("end_tok") < n.toLong,
            "the final chunk must add tokens beyond the previous cover")
      }
    }
    // identical token windows hash identically across documents —
    // chunk_hash is a cross-doc dedup key
    val twin = Seq(
      (100L, (0 until ChunkW).map(j => "w" * (j % 3 + 1)).mkString(" "), "en", "s0", 1L),
      (101L, (0 until ChunkW).map(j => "w" * (j % 3 + 1)).mkString(" "), "fr", "s1", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val hs = graft.operators.Corpus.chunkSpans(twin).collect()
      .map(_.getAs[Long]("chunk_hash")).distinct
    assert(hs.length == 1, "same chunk content → same hash")
  }

  test("cdc chunks realign after a prefix edit where fixed windows do not") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("text").isNotNull)
    val edited = docs.withColumn("text",
      concat(lit("prefix edit tokens "), col("text")))
    def hashes(df: org.apache.spark.sql.DataFrame,
               f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      f(df).collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getAs[Long]("chunk_hash")).toSeq).toMap
    val co = hashes(docs, Corpus.cdcChunkSpans)
    val ce = hashes(edited, Corpus.cdcChunkSpans)
    val fo = hashes(docs, Corpus.chunkSpans)
    val fe = hashes(edited, Corpus.chunkSpans)
    var fixKept = 0L; var fixTot = 0L; var cdcTail = 0L
    co.keys.foreach { d =>
      // every content-anchored chunk AFTER the first boundary survives
      // the edit verbatim — the CDC guarantee, exact, not statistical
      val tail = co(d).drop(1)
      val eh = ce(d).toSet
      assert(tail.forall(eh), s"doc $d lost a content-anchored chunk")
      cdcTail += tail.size
      val ft = fo(d).drop(1); val fehs = fe(d).toSet
      fixKept += ft.count(fehs); fixTot += ft.size
    }
    assert(cdcTail > 0 && fixTot > 0)
    assert(fixKept.toDouble / fixTot < 0.5,
      s"fixed windows shift everywhere after a prefix edit: $fixKept/$fixTot survived")
    // CDC spans carry the q102 span columns and types, so every span
    // consumer reads either geometry, and (doc_id, chunk_idx) is a key,
    // so the q102b first-occurrence election keeps one row per hash
    def cols(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    val cdc = Corpus.cdcChunkSpans(docs)
    assert(cols(cdc) == cols(Corpus.chunkSpans(docs)))
    assert(cdc.select("doc_id", "chunk_idx").distinct().count() == cdc.count())
  }

  test("chunk diff localizes edits: a suffix edit costs one chunk, not the doc") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Corpus.chunkDiff(docs, graft.operators.Curation.releaseView(docs))
      .collect().map(r => r.getLong(0) -> r).toMap
    // removed docs (%31) and clones (+1e12, %41) get the whole-doc verdicts
    out.filter(_._1 >= 1000000000000L).values.foreach { r =>
      assert(r.getAs[String]("verdict") == "added"
        && r.getAs[Long]("changed_bp") == 10000L)
    }
    out.filter { case (d, _) => d < 1000000000000L && d % 31 == 0 }.values
      .foreach(r => assert(r.getAs[String]("verdict") == "removed"))
    // the CDC localization guarantee: a ' revised' suffix changes ONLY
    // the final chunk — every earlier boundary re-aligns
    val edited = out.filter { case (d, _) =>
      d < 1000000000000L && d % 31 != 0 && d % 17 == 0 }.values
    assert(edited.nonEmpty)
    edited.foreach { r =>
      assert(r.getAs[Long]("n_common") >= r.getAs[Long]("n_chunks_a") - 1,
        s"a suffix edit must cost at most the final chunk: $r")
      assert(r.getAs[String]("verdict") == "edited")
    }
    // untouched docs are bit-identical
    out.filter { case (d, _) =>
      d < 1000000000000L && d % 31 != 0 && d % 17 != 0 }.values
      .foreach(r => assert(r.getAs[String]("verdict") == "same"
        && r.getAs[Long]("changed_bp") == 0L))
  }

  test("chunk dedup: first occurrence survives, within and across documents") {
    import graft.operators.Corpus.{ChunkW, chunkStride}
    // doc 0: 200 identical tokens — full windows at 0/48/96 share one
    // hash (only chunk 0 keeps); the final partial window (56 tokens)
    // has different content and survives. doc 1 repeats doc 0's text:
    // every full window is a cross-doc duplicate of doc 0's chunk 0,
    // and its partial duplicates doc 0's partial.
    val text = Seq.fill(200)("w").mkString(" ")
    val docs = Seq((0L, text, "en", "s0", 1L), (1L, text, "fr", "s1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.Corpus.chunkDedup(docs).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("chunk_idx")) ->
        (r.getAs[Long]("n_copies"), r.getAs[Boolean]("keep"))).toMap
    // 4 chunks per doc: starts 0,48,96,144 (windows 64,64,64,56)
    assert(out.size == 8)
    assert(out((0L, 0L)) == ((6L, true)), "the first full window keeps; 6 copies exist")
    Seq((0L, 1L), (0L, 2L), (1L, 0L), (1L, 1L), (1L, 2L)).foreach { k =>
      assert(out(k) == ((6L, false)), s"$k is a duplicate full window")
    }
    assert(out((0L, 3L)) == ((2L, true)), "doc 0's partial window is the first of 2")
    assert(out((1L, 3L)) == ((2L, false)), "doc 1's partial duplicates it")
    // the election must never be a window over the hash
    val plan = graft.operators.Corpus.chunkDedup(docs)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"), "hash election = groupBy+join, not a window")
  }

  test("chunk spans plan is one row-local scan: no window, no join") {
    val df = graft.operators.Corpus.chunkSpans(
      Tables.documents(spark, TestSpark.sf))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Window") && !plan.contains("Join"),
      "chunking must stay row-local — generate + project only")
  }

  test("chunk retrieval: exact-match chunk ranks first at sim 2^20; ranking is cosine") {
    import graft.operators.Corpus.RetMod
    // doc 0 (≡0 mod RetMod) is the query; doc 1 repeats its text
    // verbatim (identical token multiset → identical feature vector →
    // cos = 1 exactly); doc 2 shares half the tokens; doc 3 none.
    val qText = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (0L, qText, "en", "s0", qText.length.toLong),
      (1L, qText, "en", "s0", qText.length.toLong),
      (2L, "alpha beta gamma qqq rrr sss", "en", "s0", 28L),
      (3L, "uno dos tres cuatro cinco seis", "en", "s0", 30L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Corpus.chunkRetrieval(docs).collect()
    assert(out.forall(_.getAs[Long]("query_id") == 0L))
    // the verbatim copy is rank 1 with EXACTLY cos²·2²⁰ = 1048576
    val r1 = out.find(_.getAs[Long]("rank") == 1L).get
    assert(r1.getAs[Long]("doc_id") == 1L && r1.getAs[Long]("sim_q20") == 1048576L)
    // Cauchy-Schwarz: every score ≤ 2^20; positive by the dot>0 gate
    out.foreach { r =>
      val s = r.getAs[Long]("sim_q20")
      assert(s > 0L && s <= 1048576L, s"score out of range: $s")
    }
    // the partial-overlap chunk outranks nothing above it and the
    // disjoint doc 3 is retrievable only via a hash collision — if it
    // appears at all it must rank BELOW the half-overlap chunk
    val byDoc = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank")).toMap
    assert(byDoc(2L) == 2L, "half-overlap chunk must rank 2")
    byDoc.get(3L).foreach(r3 => assert(r3 > byDoc(2L)))
    // query docs never appear as retrieved chunks
    assert(!byDoc.contains(0L))
    // k bound
    assert(out.length <= graft.operators.Corpus.RetK)
    assert(RetMod == 97)
  }

  test("chunk retrieval: tf saturation — counts past the clamp cannot move scores") {
    import graft.operators.Corpus.{RetClamp, RetMod}
    // two query docs whose only difference is a token repeated at vs
    // far past the clamp: identical saturated vectors → identical
    // per-chunk scores (score columns equal row-for-row). n = clamp+1
    // tokens saturates BOTH channels (n unigrams AND n−1 "zzz zzz"
    // bigrams ≥ clamp) — at exactly n = clamp the bigram count is
    // clamp−1, legitimately under the clamp, and the vectors differ.
    def rep(n: Int) = Seq.fill(n)("zzz").mkString(" ")
    val docs = Seq(
      (0L, rep(RetClamp + 1), "en", "s0", 1L),
      (RetMod.toLong, rep(RetClamp + 500), "en", "s0", 1L),
      (1L, "zzz yyy xxx", "en", "s0", 11L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Corpus.chunkRetrieval(docs).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("chunk_idx"), r.getAs[Long]("sim_q20"))).sorted.toSeq).toMap
    assert(out.keySet == Set(0L, RetMod.toLong))
    assert(out(0L) == out(RetMod.toLong),
      "saturated vectors must be identical → identical retrieval lists")
    assert(out(0L).nonEmpty)
  }

  test("pruned retrieval: verbatim copy still rank 1; no shared phrase → never a candidate") {
    import graft.operators.Corpus.RetbMod
    // doc 0 (≡0 mod RetbMod) queries; doc 1 repeats it verbatim (all
    // its shingles shared, champions included → candidate, and the
    // identical scoring vector gives EXACTLY 2^20); doc 2 shares a
    // 3-token phrase (candidate via that shingle); doc 3 shares NO
    // 3-shingle — champion pruning must never score it, even though
    // a hashed-bucket collision could give it dot > 0 in the scoring
    // space (the stated recall trade, deterministic here)
    val qText = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (0L, qText, "en", "s0", qText.length.toLong),
      (1L, qText, "en", "s0", qText.length.toLong),
      (2L, "alpha beta gamma qqq rrr sss", "en", "s0", 28L),
      (3L, "uno dos tres cuatro cinco seis", "en", "s0", 30L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.Corpus.chunkRetrievalPruned(docs).collect()
    assert(out.forall(_.getAs[Long]("query_id") == 0L))
    val byDoc = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byDoc(1L).getAs[Long]("rank") == 1L &&
      byDoc(1L).getAs[Long]("sim_q20") == 1048576L)
    assert(byDoc(2L).getAs[Long]("rank") == 2L)
    assert(!byDoc.contains(3L), "no shared shingle → pruned before scoring")
    assert(!byDoc.contains(0L), "queries never retrieved")
    assert(RetbMod == 7)
  }

  test("pruned retrieval plan: champion + final TopK elections, no data-sized window or cartesian") {
    val df = graft.operators.Corpus.chunkRetrievalPruned(
      Tables.documents(spark, TestSpark.sf))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.split("TopKPerKey").length - 1 >= 2,
      "both the champion and the final election must be bounded-heap operators")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "pruned retrieval must never form the Q×C cross product")
    // only the ≤k rank Window survives (AQE prints final + initial)
    assert(plan.split("Window \\[").length - 1 <= 2)
    // r13 pin (the r12 100×-knee fix): NO array-typed column crosses
    // any shuffle exchange — the rescore carries PACKED byte vectors
    // (BinaryType) and the TopK election key-only rows; a dense
    // 64-long Tungsten array on a candidate exchange is the row-width
    // regression this pin exists to catch
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: nodes(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        p +: nodes(r.child)
      case _ => p +: p.children.flatMap(nodes)
    }
    val arrayOverShuffle = nodes(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        s.output.filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    }.flatten
    assert(arrayOverShuffle.isEmpty,
      s"array-typed columns crossed a shuffle exchange: $arrayOverShuffle")
    // r13 single-scan pin: the chunk-side tokenize/feature scan feeds
    // BOTH the posting rows and the exact rescore through ONE shared
    // repartition exchange — the second consumer must be a
    // ReusedExchange (the keep-wide filters exist exactly so column
    // pruning cannot split it); same for the query side
    assert(plan.contains("ReusedExchange"),
      "the shared chunk-feature exchange must be reused, not recomputed")
  }

  test("pruned retrieval recall fence: every confident match is recovered (r13 item 2)") {
    // the q110 discipline applied to lexical retrieval: recall of the
    // champion-list pruning measured against the exhaustive rescore
    // over the SAME query set and scoring space (RECALL_r14.json is
    // the multi-SF artifact; this fences the invariant at the test
    // SF). The CONFIDENT band — exhaustive top-k rows at
    // cos² ≥ ConfidentSimQ20/2²⁰ ≈ 0.954, the true near-dup matches
    // retrieval exists for — must be recovered COMPLETELY; the
    // unrestricted recall is reported but NOT fenced high, because the
    // corpus is genuinely near-identical under phrase-blind unigram
    // cosine (the r15 width sweep proved ≥256 buckets collision-free
    // and the score distribution unchanged at 1024): the unrestricted
    // exhaustive top-k is a noise ranking (~0.78 cos² everywhere) no
    // candidate-pruned method can reproduce without paying the Ω(Q·C)
    // scan q103b exists to avoid.
    val audit = graft.operators.Corpus.retrievalRecallAudit(
      Tables.documents(spark, TestSpark.sf)).collect()
    assert(audit.length > 50, "the mod-7 query set is corpus-sized")
    val nConf = audit.map(_.getAs[Long]("n_confident")).sum
    val nConfHits = audit.map(_.getAs[Long]("n_confident_hits")).sum
    assert(nConf > 0, "the fixture must carry confident near-dup matches")
    assert(nConfHits == nConf,
      s"champion pruning lost a confident match: $nConfHits/$nConf")
    // unrestricted recall is a sane ratio and nonzero somewhere (the
    // verbatim-dup queries put their match in both top lists)
    assert(audit.forall { r =>
      val bp = r.getAs[Long]("recall_bp"); bp >= 0L && bp <= 10000L })
    assert(audit.exists(_.getAs[Long]("recall_bp") > 0L))
  }

  test("chunk retrieval plan: broadcast query side, TopK election, no corpus-sized window") {
    val df = Corpus.chunkRetrieval(Tables.documents(spark, TestSpark.sf))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("TopKPerKey"), "election must be the bounded-heap operator")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "the benchmark query side must broadcast")
    assert(!plan.contains("SortMergeJoin"), "nothing may shuffle on a data-sized key")
    // the only Window is the rank over ≤k TopK survivors (AQE prints
    // the final AND the initial plan, so the one node appears twice)
    assert(plan.split("Window \\[").length - 1 <= 2)
  }

  test("PMI collocations replay independently (kernel as primitive)") {
    // one language, engineered so 'x y' is a tight collocation while
    // high-count pairs with independent parts score low
    val texts = Seq.fill(6)("x y u") ++ Seq.fill(6)("v x y") ++
      Seq.fill(4)("u v u v u") ++ Seq.fill(3)("y x")
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en") }.toDF("doc_id", "text", "lang")
    // independent replay: counts in plain Scala, log2mb as primitive
    val tokss = texts.map(_.trim.toLowerCase.split(" +").toSeq)
    val vocab = tokss.flatten.groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (t, c) => (-c, t) }.take(Frequency.PmiVocabK).map(_._1).toSet
    val pairs = tokss.flatMap(tk => tk.zip(tk.drop(1)))
      .filter { case (a, b) => vocab(a) && vocab(b) }
    val pc = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val c2 = pairs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = pairs.size.toLong
    val support = pc.filter(_._2 >= Frequency.PmiMinPair)
    // kernel evaluations for every needed count, via one literal frame
    val args = (support.values ++ support.keys.map(k => c1(k._1)) ++
      support.keys.map(k => c2(k._2)) ++ Seq(n)).toSeq.distinct
    val mb = args.toDF("b")
      .select(col("b"), graft.functions.LogExpressions.log2mb(lit(1L), col("b")).as("mb"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = support.toSeq.map { case ((a, b), c) =>
      ((a, b), c, mb(c) + mb(n) - mb(c1(a)) - mb(c2(b)))
    }.sortBy { case ((a, b), _, p) => (-p, a, b) }.take(Frequency.PmiTopK)
    val got = Frequency.pmiCollocations(docs).collect()
      .map(r => ((r.getAs[String]("w1"), r.getAs[String]("w2")),
        r.getAs[Long]("pair_n"), r.getAs[Long]("pmi_mb")))
    assert(got.toSeq == expected,
      s"got ${got.toSeq}\nexpected $expected")
    // both engineered collocations surface with positive coherence
    assert(got.head._3 > 0)
    assert(got.map(_._1).contains(("x", "y")))
  }

  test("PMI collocations on real data: dense ranks, in-vocab pairs, supported counts") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Frequency.pmiCollocations(docs).collect()
    assert(out.nonEmpty)
    val vocab = docs
      .select(col("lang"), explode(expr("split(trim(lower(coalesce(text, ''))), ' +')")).as("tok"))
      .groupBy("lang", "tok").count().collect()
      .groupBy(_.getString(0)).view.mapValues(
        _.sortBy(r => (-r.getAs[Long]("count"), r.getString(1)))
          .take(Frequency.PmiVocabK).map(_.getString(1)).toSet).toMap
    out.groupBy(_.getAs[String]("lang")).foreach { case (lang, rows) =>
      val ranks = rows.map(_.getAs[Long]("rank")).sorted
      assert(ranks.toSeq == (1L to rows.length).toSeq, s"$lang ranks dense")
      rows.foreach { r =>
        assert(r.getAs[Long]("pair_n") >= Frequency.PmiMinPair)
        assert(vocab(lang)(r.getAs[String]("w1")) && vocab(lang)(r.getAs[String]("w2")),
          s"$lang pair outside the top-${Frequency.PmiVocabK} vocabulary")
      }
    }
    val plan = Frequency.pmiCollocations(docs).queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"))
    // r19: the pair pipeline is localized (model-sized), so the vocab
    // semi-joins live in ITS plan and the final plan reads no file at
    // all — the corpus is scanned once per invocation, at collect time
    val pairPlan = Frequency.pmiPairCounts(docs).queryExecution.executedPlan.toString()
    assert(pairPlan.contains("LeftSemi"), "vocab restriction is broadcast semi-joins")
    assert(!plan.contains("Scan parquet") && !plan.contains("FileScan"),
      "the scoring plan must run on the localized pair counts only")
    assert(!plan.contains("SortMergeJoin") && !pairPlan.contains("SortMergeJoin"),
      "model-sized frames must broadcast")
    // the only Window is the rank over ≤PmiTopK TopKPerKey survivors
    // (AQE prints final + initial plans: the one node appears twice)
    assert(plan.split("Window \\[").length - 1 <= 2,
      "no data-sized window — vocab and winners elect on the bounded heap")
  }

  test("vocab drift: identical releases drift zero; a composition shift surfaces signed") {
    val a = Seq(
      (1L, "x x x x y y z"), (2L, "x x y z w"), (3L, "x y w w")
    ).map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
    val zero = Frequency.vocabDrift(a, a).collect()
    assert(zero.nonEmpty)
    zero.foreach { r =>
      assert(r.getAs[Long]("c_a") == r.getAs[Long]("c_b"))
      assert(r.getAs[Long]("drift_mb") == 0L,
        "all four floor-logs cancel when nothing moved")
    }
    // release B drops doc 1 (x-heavy) and adds a w-heavy doc: x's share
    // falls (positive drift: A-side heavier), w's rises (negative)
    val b = Seq(
      (2L, "x x y z w"), (3L, "x y w w"), (4L, "w w w w w")
    ).map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
    val drift = Frequency.vocabDrift(a, b).collect()
      .map(r => r.getAs[String]("tok") -> r.getAs[Long]("drift_mb")).toMap
    assert(drift("x") > 0, s"x lost share in B: ${drift("x")}")
    assert(drift("w") < 0, s"w gained share in B: ${drift("w")}")
    // ranks are dense over the tracked vocabulary, biggest mover first
    val out = Frequency.vocabDrift(a, b).collect()
    assert(out.map(_.getAs[Long]("rank")).toSeq == (1L to out.length).toSeq)
    assert(out.sliding(2).forall {
      case Array(p, q) =>
        math.abs(p.getAs[Long]("drift_mb")) >= math.abs(q.getAs[Long]("drift_mb"))
      case _ => true
    })
  }

  test("event gaps: coverage arithmetic holds on real data, hand fixture pins the outage") {
    val out = EventOps.eventGaps(
      Tables.events(spark, "/root/testdata/sf0.001")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("hours_observed") +
        r.getAs[Long]("hours_missing") == r.getAs[Long]("hours_expected"))
      assert(r.getAs[Long]("coverage_bp") ==
        10000L * r.getAs[Long]("hours_observed") / r.getAs[Long]("hours_expected"))
      assert(r.getAs[Long]("max_gap_hours") <= r.getAs[Long]("hours_missing"),
        "the longest outage cannot exceed the total missing hours")
    }
    // hand fixture: type "a" fires in hours 0,1,5,6 (a 3-hour outage),
    // type "b" in hour 2 only (span 1, full coverage, no gap)
    import spark.implicits._
    def ts(hr: Long) = new java.sql.Timestamp(1700000000000L / 3600000L * 3600000L + hr * 3600000L)
    val ev = Seq(
      (1L, ts(0), 1L, "a", 1.0, "{}"), (2L, ts(1), 1L, "a", 1.0, "{}"),
      (3L, ts(5), 1L, "a", 1.0, "{}"), (4L, ts(6), 1L, "a", 1.0, "{}"),
      (5L, ts(2), 2L, "b", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val m = EventOps.eventGaps(ev).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(m("a").getAs[Long]("hours_expected") == 7L)
    assert(m("a").getAs[Long]("hours_observed") == 4L)
    assert(m("a").getAs[Long]("hours_missing") == 3L)
    assert(m("a").getAs[Long]("max_gap_hours") == 3L)
    assert(m("a").getAs[Long]("coverage_bp") == 5714L)
    assert(m("b").getAs[Long]("hours_expected") == 1L &&
      m("b").getAs[Long]("coverage_bp") == 10000L &&
      m("b").getAs[Long]("max_gap_hours") == 0L)
  }

  test("event transitions: edge conservation, shares sum per row, hand fixture") {
    val real = Tables.events(spark, "/root/testdata/sf0.001")
    val out = EventOps.eventTransitions(real).collect()
    assert(out.nonEmpty)
    // every user with k events contributes exactly k−1 edges
    val expectEdges = real.groupBy("user_id").count().collect()
      .map(r => r.getLong(1) - 1).sum
    assert(out.map(_.getAs[Long]("n")).sum == expectEdges,
      "the matrix conserves the per-user edge total")
    // per prev_type, shares sum to ~10000 (floor rounding loses < #cells)
    out.groupBy(_.getAs[String]("prev_type")).foreach { case (_, rows) =>
      val s = rows.map(_.getAs[Long]("share_bp")).sum
      assert(s <= 10000L && s > 10000L - rows.length,
        s"outgoing shares must tile 10000 bp up to floor loss, got $s")
    }
    // hand fixture: u1 view→click→click, u2 view (no edge) →
    // matrix: view→click 1, click→click 1
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val ev = Seq(
      (1L, ts(0), 1L, "view", 1.0, "{}"), (2L, ts(1), 1L, "click", 1.0, "{}"),
      (3L, ts(2), 1L, "click", 1.0, "{}"), (4L, ts(0), 2L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val m = EventOps.eventTransitions(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    assert(m == Map(("view", "click") -> 1L, ("click", "click") -> 1L))
  }

  test("segmented transition lag equals the user-keyed window form (incl. boundary straddles and ties)") {
    import spark.implicits._
    // real corpus: the segmented plan must reproduce the window plan
    val real = Tables.events(spark, "/root/testdata/sf0.001")
    assert(EventOps.eventTransitions(real).collect().toSeq ==
      EventOps.eventTransitionsWindowed(real).collect().toSeq)
    // adversarial fixture: sequences straddling 15-min bucket edges,
    // same-ts ties ordered by event_id, a bot user spanning many
    // buckets, and an empty bucket between two non-empty ones
    val B = EventOps.TransitionBucketUs / 1000L // bucket width in ms
    def t(ms: Long) = new java.sql.Timestamp(ms)
    val base = 1700000000000L - (1700000000000L % B) // bucket-aligned
    val ev = (Seq(
      // u1: last event of bucket 0 → first of bucket 1 (stitch)
      (1L, t(base + B - 1), 1L, "a", 1.0, "{}"),
      (2L, t(base + B), 1L, "b", 1.0, "{}"),
      // u1: bucket 2 empty; next event in bucket 3 (stitch skips a gap)
      (3L, t(base + 3 * B), 1L, "c", 1.0, "{}"),
      // u2: same-ts tie broken by event_id, both at a bucket boundary
      (10L, t(base + B), 2L, "x", 1.0, "{}"),
      (11L, t(base + B), 2L, "y", 1.0, "{}"),
      (12L, t(base + B - 1), 2L, "w", 1.0, "{}")
    ) ++ Seq(
      // u3: a NULL-typed event INSIDE a bucket between two typed ones —
      // the windowed lag yields a null prev (no edge) for the follower;
      // a bare-column segmented lag would fall through to the stitch
      // and fabricate an a→b edge (the struct-lag fix's pin)
      (20L, t(base + 10), 3L, "a", 1.0, "{}"),
      (21L, t(base + 20), 3L, null.asInstanceOf[String], 1.0, "{}"),
      (22L, t(base + 30), 3L, "b", 1.0, "{}"),
      // u4: the previous bucket's LAST event is null-typed — the stitch
      // must hand the bucket-first a null prev, not skip backwards
      (30L, t(base + B - 2), 4L, "a", 1.0, "{}"),
      (31L, t(base + B - 1), 4L, null.asInstanceOf[String], 1.0, "{}"),
      (32L, t(base + B), 4L, "b", 1.0, "{}")
    ) ++ (0 until 500).map { i => // bot spanning ~50 buckets
      (100L + i, t(base + i * (B / 10)), 99L, if (i % 3 == 0) "p" else "q", 1.0, "{}")
    }).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(EventOps.eventTransitions(ev).collect().toSeq ==
      EventOps.eventTransitionsWindowed(ev).collect().toSeq)
    // plan shape: the only event-sized window is (user, bucket)-keyed —
    // no Window partitioned by user_id alone over the raw events.
    // r19: the edge frame is materialized (its two consumers otherwise
    // re-ran the whole segmented pass), so the window pin reads the
    // exposed lazy edge frame
    val df = EventOps.transitionEdgesLazy(ev)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("__bkt"), "the segmented plan must key windows by (user, bucket)")
  }

  test("q134b type outages: cells = timeline x types minus observed; agrees with q134 inside each span") {
    val real = Tables.events(spark, "/root/testdata/sf0.001")
    val out = EventOps.typeOutageReport(real).collect()
      .map(r => (r.getAs[Long]("hour_us"), r.getAs[String]("event_type")))
    assert(out.nonEmpty, "sf0.001 carries real type-hour holes")
    assert(out.distinct.length == out.length)
    // independent re-derivation: global hour set x type set − observed
    val obs = real.select(
        unix_micros(date_trunc("hour", col("ts"))).as("h"), col("event_type"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val hours = obs.map(_._1); val types = obs.map(_._2)
    val expected = for (h <- hours; t <- types; if !obs((h, t))) yield (h, t)
    assert(out.toSet == expected, "outage cells must be exactly the missing cells")
    // consistency with the q134 card: per type, outage cells inside
    // the type's own span = globally-OBSERVED hours in the span minus
    // the type's own hours — q134b's frame is the global timeline, so
    // hours where NO type fired (global silence) are invisible to it
    // (the same closed-window contract the gapMonitor door states),
    // while q134's hours_missing counts them
    val typeHours = obs.groupBy(_._2).map { case (t, cells) => t -> cells.map(_._1) }
    EventOps.eventGaps(real).collect().foreach { g =>
      val t = g.getAs[String]("event_type")
      val lo = g.getAs[Long]("first_hour_us"); val hi = g.getAs[Long]("last_hour_us")
      val inSpan = out.count { case (h, ty) => ty == t && h >= lo && h <= hi }
      val expectedInSpan = hours.count(h => h >= lo && h <= hi) - typeHours(t).size
      assert(inSpan == expectedInSpan,
        s"q134b within $t's span must equal observed-global-hours minus $t's own")
      assert(inSpan <= g.getAs[Long]("hours_missing"),
        s"q134b can only see a subset of q134's missing hours for $t")
    }
  }

  test("parameterized funnel: 2-step and 4-step fixtures; 3-step default unchanged") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    // u1 completes all 4 steps in order; u2 stalls after step 2 (step-3
    // type fires BEFORE its step 2 — order violation); u3 never enters
    val ev = Seq(
      (1L, ts(0), 1L, "a", 1.0, "{}"), (2L, ts(1), 1L, "b", 1.0, "{}"),
      (3L, ts(2), 1L, "c", 1.0, "{}"), (4L, ts(3), 1L, "d", 1.0, "{}"),
      (5L, ts(0), 2L, "a", 1.0, "{}"), (6L, ts(2), 2L, "b", 1.0, "{}"),
      (7L, ts(1), 2L, "c", 1.0, "{}"),
      (8L, ts(0), 3L, "b", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val four = EventOps.funnel(ev, Seq("a", "b", "c", "d"), horizonS = 3600)
      .collect().map(r => r.getInt(0) -> r.getAs[Long]("n_users")).toMap
    assert(four == Map(1 -> 2L, 2 -> 2L, 3 -> 1L, 4 -> 1L),
      s"4-step reach: $four")
    val two = EventOps.funnel(ev, Seq("b", "c"), horizonS = 3600)
      .collect().map(r => r.getInt(0) -> r.getAs[Long]("n_users")).toMap
    // u3 enters at 'b' but has no later 'c'; u1 converts; u2's c is
    // BEFORE its first b — strictly-after fails
    assert(two == Map(1 -> 3L, 2 -> 1L), s"2-step reach: $two")
    val users4 = EventOps.funnelUsers(ev, Seq("a", "b", "c", "d"), 3600)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("depth")).toMap
    assert(users4 == Map(1L -> 4, 2L -> 2), s"4-step depths: $users4")
    // the default arguments reproduce the registered q130 exactly
    val real = Tables.events(spark, "/root/testdata/sf0.001")
    assert(EventOps.funnel(real).collect().toSeq ==
      EventOps.funnel(real, EventOps.FunnelSteps, EventOps.FunnelHorizonS)
        .collect().toSeq)
  }

  test("q119b epoch shuffle: permutation laws, window equality, epoch independence") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val n = docs.count()
    val e1 = Corpus.epochShuffle(docs, 1).collect()
    assert(e1.length.toLong == n)
    assert(e1.map(_.getAs[Long]("position")).sorted.toSeq == (1L to n).toSeq,
      "positions are exactly 1..N — a permutation, no gaps, no ties")
    // exactly the naive global row_number over (shuffle_key, doc_id)
    val naive = e1.sortBy(r => (r.getAs[Long]("shuffle_key"), r.getLong(0)))
      .zipWithIndex.map { case (r, i) => r.getLong(0) -> (i + 1L) }.toMap
    e1.foreach(r => assert(r.getAs[Long]("position") == naive(r.getLong(0)),
      s"bucketed rank must equal the naive window for doc ${r.getLong(0)}"))
    // a different epoch reshuffles (same set, nearly no fixed points)
    val p1 = e1.map(r => r.getLong(0) -> r.getAs[Long]("position")).toMap
    val e2 = Corpus.epochShuffle(docs, 2).collect()
    assert(e2.map(_.getLong(0)).toSet == p1.keySet, "epochs permute the SAME corpus")
    val moved = e2.count(r => p1(r.getLong(0)) != r.getAs[Long]("position"))
    assert(moved.toLong > (n * 9) / 10, s"a new epoch moves nearly every doc, moved=$moved")
    // pure function of (epoch, doc_id): stable under repartitioning
    val re = Corpus.epochShuffle(docs.repartition(13), 1).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("position")).toMap
    assert(re == p1, "the order must not depend on physical partitioning")
    // the DATA-path window must partition by the key bucket (the
    // offsets frame's own tiny cumulative window is dimension-sized
    // — 4096 rows — and legitimately single-partition)
    val plan = Corpus.epochShuffle(docs, 1).queryExecution.executedPlan.toString()
    assert(plan.contains("windowspecdefinition(__bucket"),
      s"position must come from the bucketed prefix count:\n${plan.take(1500)}")
    assert(!plan.contains("windowspecdefinition(shuffle_key")
      && !plan.contains("row_number()"),
      "no corpus-wide rank window anywhere in the plan")
  }

  test("q138 source cap: quota exact per class, hot class included, window equality") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val cap = 3L
    val out = Corpus.sourceCap(real, cap).collect()
    assert(out.length.toLong == real.count(), "one verdict row per document")
    val byClass = out.groupBy(r => (r.getAs[String]("lang"), r.getAs[String]("source")))
    byClass.foreach { case (cls, rows) =>
      val kept = rows.count(_.getAs[Boolean]("keep")).toLong
      assert(kept == math.min(cap, rows.length.toLong),
        s"class $cls must keep exactly min(cap, size), got $kept of ${rows.length}")
      // rank within the class is the naive (cap_hash, doc_id) window
      val naive = rows.sortBy(r => (r.getAs[Long]("cap_hash"), r.getLong(0)))
        .zipWithIndex.map { case (r, i) => r.getLong(0) -> (i + 1L) }.toMap
      rows.foreach(r => assert(r.getAs[Long]("class_rank") == naive(r.getLong(0))))
    }
    // the hot class: one source holding most of the corpus still caps
    // exactly (the cell this operator exists for)
    import spark.implicits._
    val hot = real.withColumn("source",
      when(col("doc_id") % 10 =!= 0, "megacrawl").otherwise(col("source")))
    val hotOut = Corpus.sourceCap(hot, cap).collect()
    val mega = hotOut.filter(_.getAs[String]("source") == "megacrawl")
    assert(mega.length.toLong > real.count() / 2, "fixture: megacrawl dominates")
    val megaLangs = mega.map(_.getAs[String]("lang")).distinct.length.toLong
    assert(mega.count(_.getAs[Boolean]("keep")).toLong == cap * megaLangs,
      s"the dominant source keeps exactly the quota in each of its $megaLangs (lang, source) cells")
    // pure function of doc_id: stable under repartitioning
    val a = out.map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    val b = Corpus.sourceCap(real.repartition(13), cap).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    assert(a == b)
  }
}
