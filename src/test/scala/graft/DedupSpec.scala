package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity, TextAnalysis}

class DedupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // long doc with one word changed → shingle jaccard ≈ 0.9, so the
  // near-dup collides in ≥1 of the 8 minhash bands (deterministic seed)
  private val base = ((1 to 60).map(i => s"word$i") :+ "ending").mkString(" ")
  private val nearDup = base.replace("word30", "changed")
  private val distinctDoc = (1 to 60).map(i => s"other$i").mkString(" ")

  private lazy val docs = Seq(
    (1L, base), (2L, base), (3L, nearDup), (4L, distinctDoc)
  ).toDF("doc_id", "text")

  test("minhash banding finds exact and near duplicates as candidates") {
    val pairs = Dedup.minhashCandidatePairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "identical docs must collide in every band")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      s"near-dup should share a band: $pairs")
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((2L, 4L)),
      "unrelated docs should not be candidates")
  }

  test("banding recall fence: every true pair in the high-similarity band is a candidate (r14)") {
    // the q110/q103b measured-recall discipline applied to the dedup
    // family: the exact all-pairs Jaccard reference vs the q31 banding
    // candidates on the real test corpus (RECALL_r14.json is the
    // multi-SF artifact; this fences the invariant at the test SF).
    // Theory for (r=4, b=8) reads >= 0.985 at s >= 0.8 — the fence
    // demands 100% there, so a band-count or hash-family regression
    // that starts losing near-verbatim dup pairs fails loudly.
    val audit = graft.operators.Dedup.minhashBandingRecall(
      Tables.documents(spark, TestSpark.sf)).collect()
      .map(r => r.getAs[Long]("threshold_bp") ->
        (r.getAs[Long]("n_true"), r.getAs[Long]("n_caught"))).toMap
    val (nTrue, nCaught) = audit(8000L)
    assert(nTrue > 0, "the fixture must carry true near-dup pairs at J >= 0.8")
    assert(nCaught == nTrue,
      s"banding lost a high-similarity true pair: $nCaught/$nTrue")
    // hand fence on the tiny universe too: the audit frame's arithmetic
    val hand = graft.operators.Dedup.minhashBandingRecall(docs, Seq(9000L)).collect()
    assert(hand.length == 1 && hand.head.getAs[Long]("n_true") >= 1L &&
      hand.head.getAs[Long]("recall_bp") == 10000L)
    // a threshold with ZERO true pairs must still emit its row (r14
    // advice: the filter-before-group form silently omitted the cell),
    // with recall explicitly null — never a fabricated number
    val empty = graft.operators.Dedup.minhashBandingRecall(docs, Seq(10001L, 9000L))
      .collect().map(r => r.getAs[Long]("threshold_bp") -> r).toMap
    assert(empty.keySet == Set(9000L, 10001L), "every requested threshold emits a row")
    assert(empty(10001L).getAs[Long]("n_true") == 0L &&
      empty(10001L).getAs[Long]("n_caught") == 0L &&
      empty(10001L).isNullAt(empty(10001L).fieldIndex("recall_bp")),
      "zero-truth thresholds report n_true=0 and null recall")
  }

  test("mid-band recall: the S-curve knee measured against its own theory point (r15)") {
    // the fixture's pairs sit at EXACTLY 5000/6000/7000 bp by the
    // closed-form shingle-overlap construction — first assert the
    // geometry, then fence each class's measured banding recall within
    // a 3-sigma-wide band of the published 1-(1-s^4)^8 point (n = 120
    // independent pairs per class: half-widths ~1350/1290/860 bp; the
    // fence is the loose union, catching a broken band count or hash
    // family, not run noise — the fixture is deterministic)
    val n = 120
    val fx = graft.operators.Dedup.midBandFixture(spark, n)
    val out = graft.operators.Dedup.minhashMidBandRecall(fx).collect()
      .map(r => r.getAs[Long]("jaccard_bp") -> r).toMap
    assert(out.keySet == Set(5000L, 6000L, 7000L),
      s"fixture classes drifted off their closed-form Jaccard: ${out.keySet}")
    Seq(5000L, 6000L, 7000L).foreach { j =>
      val r = out(j)
      assert(r.getAs[Long]("n_true") == n.toLong,
        s"class $j must hold exactly $n true pairs, got ${r.getAs[Long]("n_true")}")
      val recall = r.getAs[Long]("recall_bp")
      val theory = r.getAs[Long]("theory_bp")
      assert(math.abs(recall - theory) <= 1500,
        s"class $j: measured recall $recall bp vs theory $theory bp — outside the fence")
    }
  }

  test("jaccard verify ranks the true duplicate highest") {
    val out = Dedup.jaccardVerify(docs).collect()
    val top = out.head
    assert((top.getAs[Long]("doc_a"), top.getAs[Long]("doc_b")) == ((1L, 2L)))
    assert(top.getAs[Long]("jaccard_bp") == 10000L)
  }

  test("near-dup clusters label chains transitively and elect one canonical") {
    // chain: 1~2 identical, 3 near-dups base; 10/11 identical to each
    // other but unrelated to the 1-2-3 cluster; 4 isolated
    val chainDocs = Seq(
      (1L, base), (2L, base), (3L, nearDup), (4L, distinctDoc),
      (10L, base.replace("word1", "xx")), (11L, base.replace("word1", "xx"))
    ).toDF("doc_id", "text")
    val out = Dedup.nearDupClusters(chainDocs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == ((1L, true)))
    assert(out(2L) == ((1L, false)), "identical copy joins doc 1's cluster")
    assert(out(3L)._1 == 1L, "near-dup chains into the same component transitively")
    assert(out(4L) == ((4L, true)), "isolated doc is its own canonical")
    assert(out(10L)._1 == out(11L)._1, "second pair forms its own cluster")
    assert(out.values.count(_._2) == out.values.map(_._1).toSet.size,
      "exactly one canonical per cluster")
  }

  test("label propagation resolves long chains to one canonical") {
    // a 14-node PATH graph — diameter 13, far beyond any single
    // propagation round; the fixpoint loop must still collapse it
    val nodes = (1L to 14L).map(Tuple1(_)).toDF("doc_id")
    val pathEdges = (1L until 14L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.propagateLabels(nodes, pathEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.forall(_ == 1L),
      s"whole path must collapse to the min node: $labels")
    // ... and the elected canonical is a real member that is self-labeled
    assert(labels(1L) == 1L)
  }

  test("label propagation merges multiple local minima (non-monotone ids)") {
    // path 2-9-10-11-1: nodes 2 and 1 are both local id-minima, so a
    // bounded rounds-then-jumps scheme splits the component into {2,9}
    // and {10,11,1} — pointer jumping can never merge two self-labeled
    // roots. The verified fixpoint must label everything 1.
    val ids = Seq(2L, 9L, 10L, 11L, 1L)
    val nodes = ids.map(Tuple1(_)).toDF("doc_id")
    val edges = ids.zip(ids.tail).toDF("doc_a", "doc_b")
    val labels = Dedup.propagateLabels(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == ids.map(_ -> 1L).toMap,
      s"one component, canonical 1: $labels")
  }

  test("label propagation is exact on a shuffled multi-component graph") {
    // 30 nodes with permuted ids in 3 path components + isolates;
    // compare against a driver-side union-find ground truth
    val rnd = new scala.util.Random(7)
    val ids = rnd.shuffle((1L to 30L).toVector)
    val comps = Seq(ids.slice(0, 12), ids.slice(12, 20), ids.slice(20, 25))
    val edgeList = comps.flatMap(c => c.zip(c.tail))
    val nodes = ids.map(Tuple1(_)).toDF("doc_id")
    val edges = edgeList.toDF("doc_a", "doc_b")
    val labels = Dedup.propagateLabels(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ids.map { id =>
      id -> comps.find(_.contains(id)).map(_.min).getOrElse(id)
    }.toMap
    assert(labels == want, s"fixpoint labels must equal true components")
  }

  test("label propagation matches union-find on random graphs") {
    val rnd = new scala.util.Random(13)
    (1 to 3).foreach { trial =>
      val n = 40
      val ids = rnd.shuffle((1L to 200L).toVector).take(n)
      val edges = (1 to 30)
        .map(_ => (ids(rnd.nextInt(n)), ids(rnd.nextInt(n))))
        .filter(e => e._1 != e._2)
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      val want = ids.map(i => i -> ids.filter(j => find(j) == find(i)).min).toMap
      val labels = Dedup.propagateLabels(
        ids.map(Tuple1(_)).toDF("doc_id"), edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels == want, s"trial $trial: fixpoint != union-find ground truth")
    }
  }

  test("decontamination flags corpus docs overlapping the benchmark split") {
    // doc 0 and 20 are benchmark (id % 20 == 0); doc 1 copies doc 0,
    // doc 2 is unrelated
    val docs = Seq(
      (0L, base), (20L, distinctDoc.replace("other1", "unique")),
      (1L, base), (2L, (1 to 60).map(i => s"clean$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(0L) && !out.contains(20L), "benchmark docs are not scored")
    assert(out(1L).getAs[Long]("contam_bp") == 10000L, "verbatim copy is fully contaminated")
    assert(out(1L).getAs[Boolean]("is_contaminated"))
    assert(out(2L).getAs[Long]("n_shared") == 0L)
    assert(!out(2L).getAs[Boolean]("is_contaminated"))
  }

  test("bloom decontamination is bit-identical to the broadcast-set form") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val want = Dedup.decontaminate(docs).collect().toSeq
    val got = Dedup.decontaminateBloom(docs).collect().toSeq
    assert(got == want, "bloom prefilter + exact confirm must reproduce q58 exactly")
    // a deliberately tiny filter (64 bits → false positives everywhere)
    // changes COST only — the exact confirm join discards the dust, so
    // the output is still bit-identical: no false negatives, by
    // construction, at ANY filter size
    val tiny = Dedup.decontaminateBloom(docs, estItems = 8, numBits = 64)
      .collect().toSeq
    assert(tiny == want, "filter size must never change the result")
    // null-text corpus docs: explode drops them in decontaminate, so the
    // bloom form's explode_outer path must drop them too (regression:
    // it used to emit a spurious n_shingles=null row)
    val withNull = Seq(
      (0L, base), (1L, base), (2L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val wantN = Dedup.decontaminate(withNull).collect().toSeq
    val gotN = Dedup.decontaminateBloom(withNull).collect().toSeq
    assert(!wantN.exists(_.getLong(0) == 2L), "null-text doc is out of domain")
    assert(gotN == wantN, "bit-identity must hold with null text in the corpus")
  }

  test("containment catches a short doc quoted inside a long one") {
    val longDoc = (1 to 80).map(i => s"tok$i").mkString(" ")
    val shortDoc = (1 to 20).map(i => s"tok$i").mkString(" ")  // prefix quote
    // ids (2,3): doc 2 is in the hash-sampled control (md5('ctrl:2')
    // below the 2000bp threshold), so the adjacent pair is always scored
    val docs = Seq((2L, shortDoc), (3L, longDoc)).toDF("doc_id", "text")
    val row = Dedup.containmentVerify(docs).collect()
      .find(r => r.getLong(0) == 2L && r.getLong(1) == 3L).get
    assert(row.getAs[Long]("cont_a_bp") == 10000L, "short doc fully contained")
    assert(row.getAs[Long]("cont_b_bp") < 3000L, "long doc mostly novel")
    // the symmetric Jaccard for the same pair dilutes the signal
    val jac = Dedup.jaccardVerify(docs).collect()
      .find(r => r.getLong(0) == 2L && r.getLong(1) == 3L).get
    assert(jac.getAs[Long]("jaccard_bp") < 3000L)
  }

  test("block dedup keeps first occurrence and reassembles in order") {
    // 8-token blocks: A|B, A|C, A|B (verbatim copy), and a doc that
    // repeats its own first block (A|A)
    def blk(tag: String) = (1 to 8).map(i => s"$tag$i").mkString(" ")
    val (a, bb, c, d) = (blk("a"), blk("b"), blk("c"), blk("d"))
    val docs = Seq(
      (1L, s"$a $bb"), (2L, s"$a $c"), (3L, s"$a $bb"), (4L, s"$d $d")
    ).toDF("doc_id", "text")
    val out = Dedup.blockDedup(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("retained_text") == s"$a $bb",
      "first occurrences keep everything")
    assert(out(1L).getAs[Long]("n_dropped") == 0L)
    assert(out(2L).getAs[String]("retained_text") == c,
      "shared leading block drops, novel tail kept in order")
    assert(out(2L).getAs[Long]("drop_bp") == 5000L)
    assert(out(3L).getAs[String]("retained_text") == "",
      "verbatim copy loses every block")
    assert(out(3L).getAs[Long]("drop_bp") == 10000L)
    assert(out(4L).getAs[String]("retained_text") == d,
      "a doc's own repeated block dedups against its first occurrence")
  }

  test("block dedup: short tail block, cross-doc order, and null text") {
    def blk(tag: String) = (1 to 8).map(i => s"$tag$i").mkString(" ")
    val tail = "t1 t2 t3" // 3-token tail block
    val docs = Seq(
      (5L, s"${blk("x")} $tail"),
      (6L, tail), // the 3-token string is a full block here — same hash
      (7L, null.asInstanceOf[String]),
      (8L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.blockDedup(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(5L).getAs[Long]("n_blocks") == 2L)
    assert(out(5L).getAs[String]("retained_text") == s"${blk("x")} $tail",
      "doc 5 owns both first occurrences")
    assert(out(6L).getAs[String]("retained_text") == "",
      "doc 6's only block already occurred as doc 5's tail")
    // null text reads as one empty block; the two null docs dedup
    // against each other, first doc_id winning
    assert(out(7L).getAs[Long]("n_blocks") == 1L &&
      out(7L).getAs[Long]("n_dropped") == 0L)
    assert(out(8L).getAs[Long]("n_dropped") == 1L)
  }

  test("simhash of identical docs is identical, near-dup is hamming-close") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    val hammingNear = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    val hammingFar = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(hammingNear < hammingFar,
      s"near-dup hamming $hammingNear should be < unrelated $hammingFar")
  }

  test("exact dedup groups identical texts under one canonical id") {
    val out = TextAnalysis.exactDedup(docs).collect()
    val dupGroup = out.filter(_.getAs[Long]("n_copies") == 2L)
    assert(dupGroup.length == 1)
    assert(dupGroup.head.getAs[Long]("canonical_id") == 1L)
  }

  test("embedding near-dup ranks identical vectors first") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.nearDupPairsAllPairs(vecs, topN = 2).collect()
    assert((top.head.getLong(0), top.head.getLong(1)) == ((1L, 2L)))
    assert(math.abs(top.head.getAs[Double]("cosine") - 1.0) < 1e-9)
  }

  test("banded near-dup finds every pair the all-pairs screen finds at high cosine") {
    // 3 planted clusters of near-identical vectors + noise directions
    val rnd = new scala.util.Random(11)
    val base = Seq.fill(3)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 60).map { i =>
      val b = base(i % 3)
      val jitter = Array.fill(16)((rnd.nextGaussian() * 0.02).toFloat)
      (i.toLong, b.zip(jitter).map { case (x, j) => x + j })
    }.toDF("vec_id", "embedding")
    val banded = Similarity.nearDupPairsBanded(vecs, nTables = 6, nPlanes = 4,
      dim = 16, minCosine = 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.nearDupPairsAllPairs(vecs, topN = 10000)
      .filter($"cosine" >= 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = banded.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"banded recall $recall vs exact ${exact.size} pairs")
    assert(banded.subsetOf(exact), "banded emits only true ≥-threshold pairs")
  }

  test("semantic dedup report covers exactly the banded pair set with consistent flags") {
    val sfDir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sfDir)
    val embs = graft.Tables.embeddings(spark, sfDir)
    val report = Similarity.semanticDedupReport(docs, embs).collect()
    val pairs = Similarity.nearDupPairsBanded(embs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(report.map(r => (r.getLong(0), r.getLong(1))).toSet == pairs,
      "metadata joins must neither drop nor invent pairs")
    assert(report.nonEmpty)
    report.foreach { r =>
      assert(r.getAs[Boolean]("cross_lang") ==
        (r.getAs[String]("lang_a") != r.getAs[String]("lang_b")))
    }
  }

  test("knn IVF finds identical-vector neighbors within a cell") {
    val vecs = (0 until 64).map { i =>
      val arr = Array.fill(8)(0.0f); arr(i % 8) = 1.0f
      (i.toLong, arr)
    }.toDF("vec_id", "embedding")
    val out = Similarity.knnIvf(vecs, nCells = 4, nQueries = 2, k = 3).collect()
    val q0 = out.filter(_.getAs[Long]("query_id") == 0L)
    assert(q0.nonEmpty, "query 0 should find cell-mates")
    assert(q0.head.getAs[Long]("neighbor_id") % 8 == 0,
      "nearest neighbor should be an identical vector")
    assert(q0.head.getAs[Long]("cos_bp") == 10000L)
  }

  test("knn brute force and LSH agree on an identical-vector neighbor") {
    val vecs = (0 until 50).map { i =>
      val arr = Array.fill(8)(0.0f); arr(i % 8) = 1.0f
      (i.toLong, arr)
    }.toDF("vec_id", "embedding")
    val brute = Similarity.knnBruteForce(vecs, nQueries = 2, k = 3).collect()
    assert(brute.nonEmpty)
    // query 0 = e0; vecs 8,16,24,32,40,48 are identical to it
    val q0 = brute.filter(_.getAs[Long]("query_id") == 0L).head
    assert(q0.getAs[Long]("neighbor_id") % 8 == 0)
    val lsh = Similarity.knnLsh(vecs, nPlanes = 4, dim = 8, nQueries = 2, k = 3).collect()
    val lshQ0 = lsh.filter(_.getAs[Long]("query_id") == 0L)
    assert(lshQ0.nonEmpty && lshQ0.head.getAs[Long]("neighbor_id") % 8 == 0)
  }

  test("multi-cell-probe IVF kNN emits k rows per query with usable recall") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.knnBruteForce(e).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.knnIvf(e).collect()
    assert(ivf.length == 20 * 10, s"every query must emit k rows, got ${ivf.length}")
    val ivfSet = ivf.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = ivfSet.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"IVF nprobe=6 recall $recall vs brute force")
  }

  test("multi-probe LSH kNN emits k rows per query and recalls the brute-force set") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.knnBruteForce(e).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val lsh = Similarity.knnLsh(e).collect()
    assert(lsh.length == 20 * 10, s"every query must emit k rows, got ${lsh.length}")
    val lshSet = lsh.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = lshSet.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"LSH recall $recall vs brute force")
  }

  test("span dedup: cross-doc windows flag, runs certify span length, within-doc repeats don't") {
    // w=2 (bigram windows) keeps the fixture hand-checkable
    val docs = Seq(
      (1L, "a b c x a b"),  // bigrams ab bc cx xa ab → dup: ab(×2), bc; max run 2
      (2L, "a b q b c"),    // bigrams ab bq qb bc → dup: ab, bc; isolated → run 1
      (3L, "m m m"),        // mm repeats WITHIN one doc only → never dup
      (4L, "z")             // shorter than the window → zero windows
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, windowTokens = 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_windows") == 5L)
    assert(out(1L).getAs[Long]("n_dup_windows") == 3L,
      "the second 'a b' occurrence is duplicated too (its content is cross-doc)")
    assert(out(1L).getAs[Long]("max_dup_run") == 2L)
    assert(out(1L).getAs[Long]("max_span_tokens") == 3L,
      "2 consecutive dup bigrams certify a 3-token verbatim span ('a b c')")
    assert(out(1L).getAs[Long]("dup_bp") == 6000L)
    assert(out(2L).getAs[Long]("n_dup_windows") == 2L
      && out(2L).getAs[Long]("max_dup_run") == 1L
      && out(2L).getAs[Long]("max_span_tokens") == 2L)
    assert(out(3L).getAs[Long]("n_dup_windows") == 0L,
      "within-doc repetition is q54's screen, not cross-doc duplication")
    assert(out(4L).getAs[Long]("n_windows") == 0L
      && out(4L).getAs[Long]("dup_bp") == 0L
      && out(4L).getAs[Long]("max_span_tokens") == 0L,
      "short docs re-enter with zeros")
  }

  test("span dedup shares ONE window-keyed exchange between election and flag join") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val df = Dedup.spanDedup(docs)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ReusedExchange"),
      s"the flag join must re-read the h-partitioned window stream, not re-shuffle it:\n${plan.take(2500)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("span cut: owner keeps, non-owners cut, adjacent cuts merge into one interval") {
    val docs = Seq(
      (1L, "a b c x a b"),  // owns ab and bc (smallest doc_id) → cuts nothing
      (2L, "a b q b c"),    // cut ab@0 → [0,2) and bc@3 → [3,5): gap at 2, TWO spans
      (3L, "m m m"),        // within-doc repetition only → never cut
      (4L, "z"),            // shorter than the window → zero windows
      (5L, "a b c y y")     // cut ab@0, bc@1 → overlap merges to ONE [0,3) span
    ).toDF("doc_id", "text")
    val sm = Dedup.spanCut(docs, windowTokens = 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(sm(1L).getAs[Long]("tokens_cut") == 0L,
      "the min-doc_id owner keeps every occurrence")
    assert(sm(2L).getAs[Long]("n_cut_spans") == 2L
      && sm(2L).getAs[Long]("tokens_cut") == 4L
      && sm(2L).getAs[Long]("tokens_left") == 1L
      && sm(2L).getAs[Long]("cut_bp") == 8000L)
    assert(sm(3L).getAs[Long]("tokens_cut") == 0L,
      "within-doc repetition is q54's screen, not a cross-doc cut")
    assert(sm(4L).getAs[Long]("n_tokens") == 1L && sm(4L).getAs[Long]("n_cut_spans") == 0L)
    assert(sm(5L).getAs[Long]("n_cut_spans") == 1L && sm(5L).getAs[Long]("tokens_cut") == 3L,
      "overlapping window cuts merge into one maximal interval")
    val spans = Dedup.spanCutSpans(docs, windowTokens = 2).collect()
    val d2 = spans.filter(_.getLong(0) == 2L)
      .map(r => (r.getAs[Long]("span_idx"), r.getAs[Long]("start_pos"), r.getAs[Long]("end_pos")))
    assert(d2.toSeq == Seq((0L, 0L, 2L), (1L, 3L, 5L)))
    val d5 = spans.filter(_.getLong(0) == 5L)
      .map(r => (r.getAs[Long]("start_pos"), r.getAs[Long]("end_pos")))
    assert(d5.toSeq == Seq((0L, 3L)))
  }

  test("span cut invariants on real data; summary and span list agree") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val spans = Dedup.spanCutSpans(docs).collect()
    assert(spans.nonEmpty, "sf0.001 carries real cross-doc spans")
    spans.groupBy(_.getLong(0)).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_.getAs[Long]("start_pos"))
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Long]("span_idx") == i.toLong)
        assert(r.getAs[Long]("span_tokens") ==
          r.getAs[Long]("end_pos") - r.getAs[Long]("start_pos"))
        assert(r.getAs[Long]("span_tokens") >= 8L,
          "every merged interval covers at least one full window")
      }
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("start_pos") > a.getAs[Long]("end_pos"),
            "maximal intervals are disjoint and non-adjacent")
        case _ => ()
      }
    }
    val fromList = spans.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getAs[Long]("span_tokens")).sum).toMap
    Dedup.spanCut(docs).collect().foreach { r =>
      assert(r.getAs[Long]("tokens_cut") == fromList.getOrElse(r.getLong(0), 0L))
      assert(r.getAs[Long]("tokens_left") ==
        r.getAs[Long]("n_tokens") - r.getAs[Long]("tokens_cut"))
    }
  }

  test("span cut shares ONE window-keyed exchange and runs window-free") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val df = Dedup.spanCut(docs)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ReusedExchange"),
      s"the cut join must re-read the h-partitioned window stream, not re-shuffle it:\n${plan.take(2500)}")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("Window"), "per-doc interval merge folds row-locally, never a window")
  }

  test("contamination spans: quoted benchmark text is cut, not the whole doc") {
    // doc 0 is benchmark (id%20==0, <1000); docs 1001+ are corpus
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1001L, "intro words here the quick brown fox jumps over the lazy dog tonight and a long original tail continues"),
      (1002L, "completely original content with no overlap at all whatsoever in any window")
    ).toDF("doc_id", "text")
    val spans = Dedup.contaminationSpans(docs).collect()
    assert(spans.map(_.getLong(0)).toSet == Set(1001L),
      "only the quoting doc is contaminated; the benchmark itself is not scanned")
    val s = spans.head
    // tokens 3..13 of doc 1001 are the quoted 10-token benchmark text:
    // windows at offsets 3,4,5 hit → merged interval [3, 13)
    assert(s.getAs[Long]("start_pos") == 3L && s.getAs[Long]("end_pos") == 13L
      && s.getAs[Long]("span_tokens") == 10L,
      s"expected the quoted span [3,13), got $s")
    // the benchmark windows are a frozen set inside the window_spans
    // kernel: no join, no broadcast, no window, and the output sort's
    // range exchange the only exchange
    val df = Dedup.contaminationSpans(docs)
    df.queryExecution.toRdd.count()
    val ns = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      "the benchmark set is probed in the kernel, never joined")
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeLike]))
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
    val shuffles = graft.plans.PlanWalk.shuffleExchanges(df).map(_.outputPartitioning)
    assert(shuffles.length <= 1 && shuffles.forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]),
      s"the corpus never exchanges on the window key: $shuffles")
  }

  test("the benchmark window-set collect fails one window past its ceiling, naming itself and the count") {
    val max = Dedup.MaxBenchmarkWindows
    // n distinct tokens hold n − 7 distinct 8-token windows
    def bench(windows: Int) = Seq((0L, (0 until windows + 7).map(i => s"t$i").mkString(" ")),
      (1001L, "a corpus document")).toDF("doc_id", "text")
    assert(Dedup.benchmarkWindowHashes(bench(max)).size == max)
    val e = intercept[IllegalArgumentException](Dedup.benchmarkWindowHashes(bench(max + 1)))
    assert(e.getMessage.contains("Dedup.benchmarkWindowHashes") &&
      e.getMessage.contains(s"saw ${max + 1}"), e.getMessage)
  }

  test("contamination spans imply q58 contamination on real data") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val flagged = Dedup.decontaminate(docs).collect()
      .filter(_.getAs[Boolean]("is_contaminated")).map(_.getLong(0)).toSet
    val spanned = Dedup.contaminationSpans(docs).collect().map(_.getLong(0)).toSet
    assert(spanned.subsetOf(flagged),
      s"an 8-token verbatim run implies shared 3-shingles: ${spanned -- flagged}")
  }

  test("decontam apply cuts exactly the planned spans and rehashes the remainder") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1001L, "intro words here the quick brown fox jumps over the lazy dog tonight and a long original tail continues"),
      (1002L, "completely original content with no overlap at all whatsoever in any window")
    ).toDF("doc_id", "text")
    val out = Dedup.decontamApply(docs).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1001L, 1002L),
      "benchmark rows never emit; corpus rows all do")
    def h(s: String): Long = spark.range(1)
      .select(Dedup.md5_60(lit(s)).as("h")).head.getLong(0)
    val cut = out.find(_.getLong(0) == 1001L).get
    // the quoted 10-token benchmark span [3, 13) is cut; the intro and
    // the tail survive and re-join around it
    assert(cut.getAs[Long]("n_tokens") == 19L)
    assert(cut.getAs[Long]("n_cut_spans") == 1L && cut.getAs[Long]("tokens_cut") == 10L)
    assert(cut.getAs[Long]("clean_n_tokens") == 9L)
    assert(cut.getAs[Long]("clean_hash") ==
      h("intro words here and a long original tail continues"))
    val clean = out.find(_.getLong(0) == 1002L).get
    assert(clean.getAs[Long]("tokens_cut") == 0L
      && clean.getAs[Long]("clean_n_tokens") == clean.getAs[Long]("n_tokens"))
    assert(clean.getAs[Long]("clean_hash") ==
      h("completely original content with no overlap at all whatsoever in any window"),
      "an untouched doc's clean hash is its normalized content hash")
  }

  test("decontam apply conserves tokens against q113's plan on real data") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Dedup.decontamApply(docs).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("clean_n_tokens")
        == r.getAs[Long]("n_tokens") - r.getAs[Long]("tokens_cut"),
        s"cut conservation violated: $r")
    }
    val byDoc = out.map(r => r.getLong(0) -> r).toMap
    val planned = Dedup.contaminationSpans(docs).collect().groupBy(_.getLong(0))
    assert(planned.nonEmpty, "sf0.001 carries real contamination")
    planned.foreach { case (d, spans) =>
      val r = byDoc(d)
      assert(r.getAs[Long]("n_cut_spans") == spans.length.toLong
        && r.getAs[Long]("tokens_cut") == spans.map(_.getAs[Long]("span_tokens")).sum,
        s"q114 must cut exactly what q113 plans for doc $d")
    }
    // one row-local scan over the frozen set: no join, no window — the
    // only exchange is the output sort
    val plan = Dedup.decontamApply(docs).queryExecution.executedPlan.toString()
    assert(!plan.contains("Join") && !plan.contains("Window")
      && !plan.contains("CartesianProduct"),
      s"q114 is one row-local projection:\n${plan.take(2000)}")
  }

  test("decontam report rolls up exactly what the q114 manifest says, per language") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val langOf = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val manifest = Dedup.decontamApply(docs).collect()
    val expected = manifest.groupBy(r => langOf(r.getLong(0))).map { case (l, rs) =>
      l -> (rs.length.toLong, rs.count(_.getAs[Long]("tokens_cut") > 0).toLong,
        rs.map(_.getAs[Long]("n_tokens")).sum, rs.map(_.getAs[Long]("tokens_cut")).sum)
    }
    val got = Dedup.decontamReport(docs).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (n, cutDocs, before, cut) = expected(r.getString(0))
      assert(r.getAs[Long]("n_docs") == n && r.getAs[Long]("n_docs_cut") == cutDocs
        && r.getAs[Long]("tokens_before") == before
        && r.getAs[Long]("tokens_cut") == cut
        && r.getAs[Long]("tokens_after") == before - cut,
        s"report disagrees with the manifest for ${r.getString(0)}: $r")
    }
    assert(got.map(_.getAs[Long]("tokens_cut")).sum > 0, "real cuts on this corpus")
  }

  test("leak attribution reports per-benchmark-doc reach, zero-leak docs included") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (20L, "six short words only here now"),
      (40L, "an unquoted benchmark document that nobody in the wider corpus ever copies"),
      (1001L, "intro words here the quick brown fox jumps over the lazy dog tonight and a long original tail continues"),
      (1002L, "second quoting doc the quick brown fox jumps over the lazy dog tonight end")
    ).toDF("doc_id", "text")
    val out = Dedup.leakAttribution(docs).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 20L, 40L),
      "every benchmark doc emits exactly one row, in id order")
    val d0 = out(0)
    // all 3 of doc 0's windows occur in both quoting docs
    assert(d0.getAs[Long]("n_windows") == 3L
      && d0.getAs[Long]("n_leaked_windows") == 3L
      && d0.getAs[Long]("leak_bp") == 10000L
      && d0.getAs[Long]("n_corpus_docs") == 2L
      && d0.getAs[Long]("n_occurrences") == 6L, s"doc 0: $d0")
    val d20 = out(1) // 6 tokens → no windows at all
    assert(d20.getAs[Long]("n_windows") == 0L && d20.getAs[Long]("leak_bp") == 0L
      && d20.getAs[Long]("n_corpus_docs") == 0L)
    val d40 = out(2) // windowed but never quoted
    assert(d40.getAs[Long]("n_windows") == 5L
      && d40.getAs[Long]("n_leaked_windows") == 0L
      && d40.getAs[Long]("n_occurrences") == 0L)
    val plan = Dedup.leakAttribution(docs).queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("CartesianProduct")
      && !plan.contains("Window"),
      "the benchmark window set broadcasts; the corpus never exchanges on the window key")
  }

  test("combined cut merges duplication and contamination spans into one plan") {
    val boiler = "legal one two three four five six seven eight nine ten eleven"
    val bench = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq(
      (0L, bench),                                            // the benchmark split
      (1001L, boiler + " some original closing words"),       // owner: keeps its copy
      (1002L, boiler + " " + bench),                          // dup cut [0,12) touches contam [12,22)
      (1003L, boiler + " unrelated filler words here " + bench) // disjoint: [0,12) and [16,26)
    ).toDF("doc_id", "text")
    val out = Dedup.combinedCutSpans(docs).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("start_pos"), r.getAs[Long]("end_pos")))
    assert(out.count(_._1 == 1002L) == 1
      && out.contains((1002L, 0L, 22L)),
      s"adjacent dup + contamination ranges merge into one interval: ${out.toSeq}")
    assert(out.filter(_._1 == 1003L).toSeq.sorted == Seq((1003L, 0L, 12L), (1003L, 16L, 26L)),
      s"a real gap stays two intervals: ${out.toSeq}")
    assert(!out.exists(_._1 == 1001L), "the owner cuts nothing")
  }

  test("interval-union fold equals a reference merge on random interval sets") {
    val rnd = new scala.util.Random(7)
    val cases = (1 to 400).map { i =>
      val n = rnd.nextInt(12)
      (i.toLong,
        Seq.fill(n) { val s = rnd.nextInt(50); (s, s + 1 + rnd.nextInt(12)) })
    }
    def refMerge(ivs: Seq[(Int, Int)]): Seq[(Int, Int)] =
      ivs.sorted.foldLeft(List.empty[(Int, Int)]) {
        case (acc, (s, e)) => acc match {
          case (cs, ce) :: tail if s <= ce => (cs, math.max(ce, e)) :: tail
          case _ => (s, e) :: acc
        }
      }.reverse
    val df = cases.map { case (id, ivs) => (id, ivs.map(_._1), ivs.map(_._2)) }
      .toDF("id", "ss", "es")
      .withColumn("merged", expr(Dedup.mergeIntervalsFoldSql(
        "array_sort(transform(arrays_zip(ss, es), x -> named_struct('s', x.ss, 'e', x.es)))")))
      .select(col("id"), expr("transform(merged, m -> named_struct('s', m.s, 'e', m.e))").as("merged"))
    val got = df.collect().map { r =>
      r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(m => (m.getInt(0), m.getInt(1)))
    }.toMap
    cases.foreach { case (id, ivs) =>
      assert(got(id).toSeq == refMerge(ivs),
        s"fold disagrees with the reference merge for $ivs: ${got(id)}")
    }
  }

  test("combined cut covers both screens exactly on real data") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val comb = Dedup.combinedCutSpans(docs).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("start_pos"), r.getAs[Long]("end_pos")))
    val inputs = (Dedup.spanCutSpans(docs).collect()
        ++ Dedup.contaminationSpans(docs).collect())
      .map(r => (r.getLong(0), r.getAs[Long]("start_pos"), r.getAs[Long]("end_pos")))
    assert(inputs.nonEmpty && comb.nonEmpty)
    inputs.foreach { case (d, s, e) =>
      assert(comb.exists { case (d2, s2, e2) => d2 == d && s2 <= s && e <= e2 },
        s"input span ($d,$s,$e) must be contained in a combined interval")
    }
    comb.groupBy(_._1).values.foreach { spans =>
      val sorted = spans.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 < b._2, s"combined intervals must be disjoint and non-adjacent: $a $b")
        case _ =>
      }
    }
  }

  test("combineCutLists over persisted cut lists equals the self-contained q118") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val tmp = java.nio.file.Files.createTempDirectory("graft_cutcompose")
    Dedup.spanCutSpans(docs).write.mode("overwrite").parquet(s"$tmp/dup")
    Dedup.contaminationSpans(docs).write.mode("overwrite").parquet(s"$tmp/contam")
    val composed = Dedup.combineCutLists(
      spark.read.parquet(s"$tmp/dup"), spark.read.parquet(s"$tmp/contam")).collect()
    val self = Dedup.combinedCutSpans(docs).collect()
    assert(composed.toSeq == self.toSeq,
      "the deployment compose path must equal the inventory entry span-for-span")
  }

  test("combined cut APPLY executes exactly the q118 plan, conservation-exact") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Dedup.combinedCutSpans(docs).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("span_tokens")))
      .groupBy(_._1).view.mapValues(v => (v.length.toLong, v.map(_._2).sum)).toMap
    val out = Dedup.combinedCutApply(docs).collect()
    assert(out.length == docs.count(), "every doc ships — uncut docs pass through whole")
    out.foreach { r =>
      val (id, n, spans, cut, clean) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      assert(clean == n - cut, s"conservation violated for doc $id: $n - $cut != $clean")
      val (pSpans, pCut) = plan.getOrElse(id, (0L, 0L))
      assert(spans == pSpans && cut == pCut,
        s"apply must execute the q118 plan verbatim for doc $id: got ($spans,$cut), plan ($pSpans,$pCut)")
    }
    assert(out.exists(_.getLong(3) > 0L), "the fixture has something to cut")
  }

  test("combined cut APPLY re-fingerprints the cleaned stream like a by-hand cut") {
    val boiler = "legal one two three four five six seven eight nine ten eleven"
    val bench = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq(
      (0L, bench),
      (1001L, boiler + " some original closing words"),
      (1002L, boiler + " " + bench)
    ).toDF("doc_id", "text")
    val out = Dedup.combinedCutApply(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def h(s: String): Long = spark.range(1)
      .select(Dedup.md5_60(lit(s))).collect()(0).getLong(0)
    // owner 1001 is uncut: clean hash == hash of its full normalized text
    assert(out(1001L).getLong(3) == 0L
      && out(1001L).getLong(5) == h(boiler + " some original closing words"),
      "an uncut doc's clean hash is its q30 exact-dedup hash — composition holds")
    // 1002 cuts [0,22) of its 22 tokens: everything goes, hash of ""
    assert(out(1002L).getLong(4) == 0L && out(1002L).getLong(5) == h(""),
      s"a fully-cut doc legally cleans to the empty stream: ${out(1002L)}")
  }

  test("span-floor law: a cross-doc verbatim span shorter than w is invisible at w, cut at smaller w") {
    // a 6-token verbatim benchmark quote inside an otherwise-unique doc:
    // at w=8 NO window fits inside the quote (every 8-window spans into
    // unique context), so the w=8 cut list misses it by design — the
    // spec'd floor. At w=4 three windows fit and the span is cut.
    // q58's 3-gram doc-level decontamination still FLAGS the doc either
    // way (the cross-law covers flagging, not cutting).
    val quote = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (0L, quote),                                             // benchmark split (id rule)
      (1001L, "unique lead tokens here " + quote + " unique tail tokens here follow")
    ).toDF("doc_id", "text")
    val w8 = Dedup.contaminationSpans(docs, windowTokens = 8).collect()
    assert(w8.isEmpty, s"a 6-token quote is below the w=8 floor: ${w8.toSeq}")
    val w4 = Dedup.contaminationSpans(docs, windowTokens = 4).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("start_pos"), r.getAs[Long]("end_pos")))
    assert(w4.toSeq == Seq((1001L, 4L, 10L)),
      s"at w=4 the quote's 3 windows merge to exactly the quote: ${w4.toSeq}")
    // the doc-level q58 flag catches it at both widths
    val flagged = Dedup.decontaminate(docs).filter(col("is_contaminated"))
    assert(flagged.collect().map(_.getLong(0)).toSeq == Seq(1001L),
      "q58's 3-gram flag covers sub-floor leaks — the flag/cut division of labor")
  }

  test("q108b confirm: LSH proposes, exact Jaccard decides — demotions exact") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val inc = Dedup.ingestView(docs)
    val base = Dedup.releaseDedup(docs, inc).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val out = Dedup.releaseDedupConfirmed(docs, inc).collect()
    assert(out.length == base.size, "one confirmed verdict per incoming doc")
    out.foreach { r =>
      val (id, v) = (r.getLong(0), r.getString(2))
      val j = if (r.isNullAt(5)) None else Some(r.getLong(5))
      base(id) match {
        case "near" =>
          if (j.exists(_ >= Dedup.ConfirmJaccardBp))
            assert(v == "near" && !r.isNullAt(3),
              s"a confirmed near keeps its verdict and holder: $r")
          else
            assert(v == "new" && r.isNullAt(3),
              s"an unconfirmed near demotes to new with a null holder: $r")
        case other =>
          assert(v == other, s"non-near verdicts must ride through untouched: $r")
          assert(j.isEmpty, s"only band-near candidates get scored: $r")
      }
    }
    // the fixture's light edits are REAL near-dups: at least one near
    // survives the confirm, so the precision pass isn't vacuous
    assert(out.exists(_.getString(2) == "near"), "true near-dups must survive")
  }

  test("boilerplate leaderboard names the offender and orders by reach") {
    val docs = Seq(
      (1L, "legal header one two a b c d e unique tail x"),
      (2L, "legal header one two a b c d e another thing"),
      (3L, "legal header one two a b c d e third doc"),
      (4L, "some pair shared q w e r t y u i"),
      (5L, "other pair shared q w e r t y u i")
    ).toDF("doc_id", "text")
    val out = Dedup.boilerplateTopK(docs, windowTokens = 8, k = 32).collect()
    assert(out.nonEmpty)
    // the 3-doc header's windows outrank every 2-doc span; ties on
    // (n_docs, n_occ) break alphabetically
    assert(out.head.getAs[String]("span_text") == "header one two a b c d e")
    assert(out.head.getAs[Long]("n_docs") == 3L && out.head.getAs[Long]("n_occ") == 3L)
    assert(out.map(_.getAs[String]("span_text")).contains("legal header one two a b c d"))
    out.foreach { r =>
      assert(r.getAs[String]("span_text").split(" ").length == 8)
      assert(r.getAs[Long]("n_occ") >= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_docs") >= 2L)
    }
    assert(out.sliding(2).forall {
      case Array(p, q) => p.getAs[Long]("n_docs") >= q.getAs[Long]("n_docs")
      case _ => true
    }, "reach-ordered: widest-spread boilerplate first")
    val ranks = out.map(_.getAs[Long]("rank"))
    assert(ranks.toSeq == (1L to out.length).toSeq)
  }

  test("ann recall audit equals the independent intersection of the two published operators") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.knnBruteForce(e).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    val approx = Similarity.knnIvf(e).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val expected = exact.groupBy(_._1).view.mapValues { ps =>
      (ps.length.toLong, ps.count(approx).toLong)
    }.toMap
    val audit = Similarity.annRecallAudit(e).collect()
    assert(audit.length == expected.size)
    audit.foreach { r =>
      val (nExact, nHits) = expected(r.getAs[Long]("query_id"))
      assert(r.getAs[Long]("n_exact") == nExact)
      assert(r.getAs[Long]("n_hits") == nHits)
      assert(r.getAs[Long]("recall_bp") == 10000L * nHits / nExact)
    }
    assert(audit.map(_.getAs[Long]("recall_bp")).max <= 10000L)
  }

  test("recall sweep: monotone in nProbe, exact at full fan-out, equals the audit at its arm") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val sweep = Similarity.annRecallSweep(e).collect()
    assert(sweep.map(_.getAs[Long]("n_probe")).toSeq == Seq(1L, 2L, 4L, 8L, 16L))
    val micro = sweep.map(_.getAs[Long]("micro_recall_bp"))
    assert(micro.sliding(2).forall { case Array(a, b) => a <= b; case _ => true },
      s"probing more cells can only help: ${micro.toSeq}")
    assert(micro.last == 10000L,
      "nProbe = nCells probes every cell — the index IS brute force there")
    // the sweep's arm at the audited setting reproduces q110 exactly
    val arm6 = Similarity.annRecallSweep(e, nProbes = Seq(6)).collect().head
    val audit = Similarity.annRecallAudit(e).collect()
    val macroMean = audit.map(_.getAs[Long]("recall_bp")).sum / audit.length
    assert(arm6.getAs[Long]("mean_recall_bp") == macroMean,
      s"sweep arm 6 must equal the audit: ${arm6.getAs[Long]("mean_recall_bp")} vs $macroMean")
    assert(arm6.getAs[Long]("micro_recall_bp")
      == 10000L * audit.map(_.getAs[Long]("n_hits")).sum / audit.map(_.getAs[Long]("n_exact")).sum)
  }

  test("filtered ANN: neighbors share the query's language, short lists are honest") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val langOf = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = Similarity.knnIvfFiltered(e, docs).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[String]("lang") == langOf(r.getAs[Long]("query_id"))
        && langOf(r.getAs[Long]("neighbor_id")) == r.getAs[String]("lang"),
        s"the filter is the query's own language: $r")
    }
    out.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to rows.length).toSeq)
      assert(rows.length <= 10)
    }
    // any same-language neighbor the UNFILTERED search already ranked
    // top-k must survive the filter (same candidates, smaller pool)
    val unf = Similarity.knnIvf(e).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .filter { case (q, n) => langOf(q) == langOf(n) }.toSet
    val got = out.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(unf.subsetOf(got), s"missing: ${unf -- got}")
    // post-filter honesty: a rare-language query returns its ONLY
    // same-language neighbor, not k padded rows
    import spark.implicits._
    val vecs = (0L to 29L).map(i =>
      (i, Array.tabulate(4)(j => ((i * 7 + j) % 13).toFloat))).toDF("vec_id", "embedding")
    val meta = (0L to 29L).map(i =>
      (i, if (i % 15 == 0) "xx" else "en")).toDF("doc_id", "lang")
    val rare = Similarity.knnIvfFiltered(vecs, meta, nCells = 2, nProbe = 2)
      .collect().filter(_.getAs[Long]("query_id") == 0L)
    assert(rare.length == 1 && rare.head.getAs[Long]("neighbor_id") == 15L,
      s"query 0 (lang xx) has exactly one xx neighbor: ${rare.toSeq}")
  }

  test("release dedup: exact beats near, normalization-aware, store min-id wins") {
    val store = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"), // same content, larger id
      (3L, "first second third fourth fifth sixth seventh eighth ninth tenth", "en")
    ).toDF("doc_id", "text", "lang")
    val incoming = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"), // verbatim
      (101L, "ALPHA BETA GAMMA DELTA EPSILON ZETA ETA THETA IOTA KAPPA", "en"), // reformatting
      (102L, "first second third fourth fifth sixth seventh eighth ninth tenth extra", "en"), // light edit
      (103L, "entirely unrelated words about nothing in the corpus whatsoever", "en")
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.releaseDedup(store, incoming).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(100L).getAs[String]("verdict") == "exact"
      && out(100L).getAs[Long]("dup_of") == 1L,
      "verbatim re-upload is exact, dup_of is the SMALLEST store holder")
    assert(out(101L).getAs[String]("verdict") == "exact"
      && out(101L).getAs[Long]("dup_of") == 1L,
      "the q40 normalization sees through case changes")
    assert(out(102L).getAs[String]("verdict") == "near"
      && out(102L).getAs[Long]("dup_of") == 3L
      && out(102L).getAs[Long]("n_bands_matched") >= 1L,
      "a lightly-edited doc shares a MinHash band with its source")
    assert(out(103L).getAs[String]("verdict") == "new"
      && out(103L).isNullAt(out(103L).fieldIndex("dup_of"))
      && out(103L).getAs[Long]("n_bands_matched") == 0L)
    // exact ALSO band-matches — the verdict must still say exact
    assert(out(100L).getAs[Long]("n_bands_matched") == 8L)
  }

  test("release dedup is partitioning-invariant and window-free") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val df = Dedup.releaseDedup(docs, Dedup.ingestView(docs))
    val once = df.collect()
    assert(once.nonEmpty)
    val verdicts = once.groupBy(_.getAs[String]("verdict")).view.mapValues(_.length).toMap
    assert(verdicts.contains("exact") && verdicts.contains("near") && verdicts.contains("new"),
      s"the ingest fixture must exercise all three verdicts: $verdicts")
    val again = Dedup.releaseDedup(docs.repartition(7), Dedup.ingestView(docs).repartition(5))
      .collect()
    assert(once.sameElements(again))
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"),
      "the probe is two linear equi-joins against collapsed stores")
  }

  // ---- q104/q104b cluster curation

  test("cluster cards partition the embedded corpus and elect the modal language") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cards = Similarity.clusterCards(docs, emb).collect()
    assert(cards.nonEmpty && cards.length <= 16)
    val nEmbedded = docs.join(emb, docs("doc_id") === emb("vec_id")).count()
    assert(cards.map(_.getAs[Long]("n_docs")).sum == nEmbedded,
      "every embedded doc lands in exactly one cluster")
    cards.foreach { r =>
      assert(r.getAs[Long]("n_langs") >= 1)
      val c = r.getAs[Long]("coherence_bp")
      assert(c >= -10000 && c <= 10000, s"coherence is a mean cosine in bp: $c")
      assert(r.getAs[String]("top_lang").nonEmpty)
    }
    // cards are a pure function of the frozen model: repartition-invariant
    val again = Similarity.clusterCards(docs.repartition(7), emb.repartition(5)).collect()
    assert(cards.sameElements(again))
  }

  test("modal-language election is deterministic on count ties (smallest lang wins)") {
    // one cluster (identical vectors), two langs with equal counts
    val docs = Seq((0L, "a", "de", "s", 5L), (1L, "b", "ar", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val emb = Seq((0L, Array.fill(8)(1.0f)), (1L, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val cards = Similarity.clusterCards(docs, emb, nCells = 1).collect()
    assert(cards.length == 1)
    assert(cards.head.getAs[String]("top_lang") == "ar",
      "count tie must break to the lexicographically smallest lang")
    assert(cards.head.getAs[Long]("n_langs") == 2L)
    assert(cards.head.getAs[Long]("coherence_bp") == 10000L,
      "identical vectors sit exactly on their centroid")
  }

  test("cluster sample caps every cell and ranks by the deterministic draw") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.clusterSample(emb, perCell = 7).collect()
    val perCell = out.groupBy(_.getAs[Long]("cell"))
    perCell.foreach { case (cell, rows) =>
      assert(rows.length <= 7, s"cell $cell holds ${rows.length} > cap")
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to rows.length).toSeq,
        "ranks are dense from 1 within each cell")
    }
    // the draw is a pure hash of vec_id: input partitioning can't move it
    val again = Similarity.clusterSample(emb.repartition(9), perCell = 7).collect()
    assert(out.sameElements(again))
    // assignment agrees with the q36b model: same cells for sampled ids
    val cells = Similarity.clusterAssign(emb).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    out.foreach(r => assert(cells(r.getAs[Long]("vec_id")) == r.getAs[Long]("cell")))
  }

  test("cluster sample plan: bounded-heap election, no data-sized window or cartesian") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val df = Similarity.clusterSample(emb)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("TopKPerKey"), "the per-cell cap must be the bounded heap")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // AQE prints final + initial: the one ≤perCell rank window appears ≤2×
    assert(plan.split("Window \\[").length - 1 <= 2)
  }

  test("semdedup within cells: min-id survivor, chain semantics, exact cosine") {
    // three identical vectors + one orthogonal: ids 5,9,12 collapse to
    // the min id 5; the orthogonal vector is untouched
    val dup = Array.fill(8)(0.5f)
    val other = { val a = Array.fill(8)(0.0f); a(0) = 1.0f; a }
    val emb = Seq((5L, dup), (9L, dup), (12L, dup), (7L, other))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedupCells(emb, nCells = 2).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(out(5L).getAs[Boolean]("keep"), "the smallest id of a chain is always kept")
    Seq(9L, 12L).foreach { id =>
      assert(!out(id).getAs[Boolean]("keep"))
      assert(out(id).getAs[Long]("dup_of") == 5L, "dup_of is the smallest qualifying id")
      assert(out(id).getAs[Long]("max_cos_bp") == 10000L)
    }
    // every dropped doc points at a smaller id; kept docs carry nulls
    out.values.foreach { r =>
      if (r.getAs[Boolean]("keep")) assert(r.isNullAt(r.fieldIndex("dup_of")))
      else assert(r.getAs[Long]("dup_of") < r.getAs[Long]("vec_id"))
    }
  }

  test("semdedup cell-size guard fails fast on an oversized cell") {
    val dup = Array.fill(8)(0.5f)
    val emb = Seq((1L, dup), (2L, dup), (3L, dup)).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.semanticDedupCells(emb, nCells = 1, maxCell = 2).collect()
    }
    assert(ex.getMessage != null)
  }

  test("semdedup plan: cell-keyed pair join, never a cartesian") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val df = Similarity.semanticDedupCells(emb)
    val rows = df.collect()
    assert(rows.length == emb.count(), "every vector gets exactly one verdict")
    // the smallest id in every cell is always kept
    rows.groupBy(_.getAs[Long]("cell")).foreach { case (_, rs) =>
      val minId = rs.map(_.getAs[Long]("vec_id")).min
      assert(rs.find(_.getAs[Long]("vec_id") == minId).get.getAs[Boolean]("keep"))
    }
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "in-cell pairs must come from the cell equi-join")
  }

  test("cluster drift satisfies release-conservation laws under the frozen model") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Similarity.ivfCentroids(emb, 16)
    val relB = Similarity.vecReleaseView(emb)
    val out = Similarity.clusterDrift(emb, relB, cents).collect()
    val nA = emb.count(); val nB = relB.count(); val nRemoved = nA - nB
    assert(nRemoved > 0, "the release view must remove the %13 slice")
    assert(out.map(_.getAs[Long]("n_a")).sum == nA)
    assert(out.map(_.getAs[Long]("n_b")).sum == nB)
    // no new ids in release B ⇒ every arrival is a cell move, and
    // departures are exactly moves + removals
    val moved = out.map(_.getAs[Long]("n_arrived")).sum
    assert(out.map(_.getAs[Long]("n_departed")).sum == moved + nRemoved,
      "departed = moved + removed when the id space only shrinks")
    // reversal preserves the norm, so every coherence is a valid mean
    out.foreach { r =>
      Seq("coherence_a_bp", "coherence_b_bp").foreach { c =>
        if (!r.isNullAt(r.fieldIndex(c)))
          assert(math.abs(r.getAs[Long](c)) <= 10000L)
      }
    }
    // an unchanged vector (neither %7 nor %13) never moves cells
    val aMap = Similarity.clusterAssignWithModel(emb, cents).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Similarity.clusterAssignWithModel(relB, cents).collect()
      .filter(r => r.getLong(0) % 7 != 0)
      .foreach(r => assert(aMap(r.getLong(0)) == r.getLong(1)))
  }

  test("source overlap counts DISTINCT shared fingerprints per pair, full matrix") {
    val df = Seq(
      (1L, "alpha beta gamma", "srcA"),
      // normalizes to doc 1's fingerprint — case/punct must not matter
      (2L, "Alpha,  beta GAMMA!", "srcB"),
      (3L, "delta epsilon", "srcA"),
      (4L, "delta epsilon", "srcC"),
      (5L, "unique text here", "srcB"),
      (6L, null.asInstanceOf[String], "srcA"), // null fp drops entirely
      (7L, "alpha beta gamma", "srcA") // within-source dup counts once
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(df).collect()
    val m = out.map(r => ((r.getString(0), r.getString(1)),
      (r.getAs[Long]("n_fp_a"), r.getAs[Long]("n_fp_b"), r.getAs[Long]("n_shared")))).toMap
    assert(m == Map(
      ("srcA", "srcB") -> ((2L, 2L, 1L)),
      ("srcA", "srcC") -> ((2L, 1L, 1L)),
      ("srcB", "srcC") -> ((2L, 1L, 0L))), s"got $m")
    val ab = out.find(r => r.getString(0) == "srcA" && r.getString(1) == "srcB").get
    assert(ab.getAs[Long]("share_a_bp") == 5000L && ab.getAs[Long]("share_b_bp") == 5000L)
  }

  test("q124 fixture law: only rotation-adjacent pairs overlap; raw corpus is all zeros") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Dedup.sourceOverlap(Dedup.sourceMirrorView(real)).collect()
    assert(out.length == 190, "full upper triangle over 20 sources")
    def rot(s: String) = "src" + ((s.drop(3).toInt + 1) % 20)
    out.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val sh = r.getAs[Long]("n_shared")
      assert(sh <= math.min(r.getAs[Long]("n_fp_a"), r.getAs[Long]("n_fp_b")))
      if (rot(a) == b || rot(b) == a)
        assert(sh > 0L, s"mirror pair ($a,$b) must overlap")
      else
        assert(sh == 0L, s"non-mirror pair ($a,$b) must not overlap")
    }
    assert(Dedup.sourceOverlap(real).collect()
      .forall(_.getAs[Long]("n_shared") == 0L),
      "the raw corpus carries no cross-source duplicate fingerprints")
  }

  test("source near-overlap folds candidate pairs into unordered source cells, conserving the total") {
    val df = Seq(
      (1L, base, "srcA"), (2L, base, "srcB"),
      (3L, nearDup, "srcA"), (4L, distinctDoc, "srcB")
    ).toDF("doc_id", "text", "source")
    val srcOf = Map(1L -> "srcA", 2L -> "srcB", 3L -> "srcA", 4L -> "srcB")
    val cand = Dedup.minhashCandidatePairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = cand
      .map { case (a, b) =>
        val (s1, s2) = (srcOf(a), srcOf(b))
        (Seq(s1, s2).min, Seq(s1, s2).max)
      }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val out = Dedup.sourceNearOverlap(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_pairs")).toMap
    assert(out.keySet == Set(("srcA", "srcA"), ("srcA", "srcB"), ("srcB", "srcB")),
      "full matrix incl. diagonal over both sources")
    expected.foreach { case (cell, n) => assert(out(cell) == n, s"cell $cell") }
    assert(out.values.sum == cand.length.toLong,
      "the matrix conserves the candidate pair total")
  }

  test("q127 composes the q42 election and q107 span cut, bill conserved per screen") {
    val real = Dedup.sourceMirrorView(Tables.documents(spark, "/root/testdata/sf0.001"))
    val out = Dedup.dedupImpactBySource(real).collect()
    val totalExactDupes = out.map(_.getAs[Long]("exact_dupes")).sum
    val totalSpanCut = out.map(_.getAs[Long]("span_tokens_cut")).sum
    val electionDupes = TextAnalysis.dedupedCorpus(real).collect()
      .count(!_.getAs[Boolean]("keep")).toLong
    val spanTotal = Dedup.spanCut(real).collect()
      .map(_.getAs[Long]("tokens_cut")).sum
    assert(totalExactDupes == electionDupes,
      "per-source exact dupes must sum to the q42 election's losers")
    assert(totalSpanCut == spanTotal,
      "per-source span cuts must sum to the q107 bill")
    assert(totalExactDupes > 0L, "the mirror view must produce real exact dupes")
    // every mirrored copy loses to its original, so the bill lands on
    // the rotated source: all 20 sources carry mirrored content
    assert(out.forall(_.getAs[Long]("exact_dupes") > 0L),
      "every source receives mirrored copies under the rotation")
  }

  test("q127 attributes an exact dupe to the LOSER's source") {
    val df = Seq(
      (1L, "the winning copy of this text", "srcA"),
      (9L, "the winning copy of this text", "srcB"), // loser: larger id
      (5L, "unrelated other content here", "srcB")
    ).toDF("doc_id", "text", "source")
    val m = Dedup.dedupImpactBySource(df).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("exact_dupes")).toMap
    assert(m == Map("srcA" -> 0L, "srcB" -> 1L))
  }

  test("cluster quality audit exposes the weak edge in a chained cluster") {
    // 1 = 2 exact copies (edge at 10000 bp); 3 near-dups them (one word
    // changed) — transitive closure merges all three; the 3-edges are
    // the weak links the audit must surface; 4 stays a singleton and
    // must not appear
    val out = Dedup.clusterQualityAudit(docs).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("cluster_id") == 1L && r.getAs[Long]("n_members") == 3L)
    assert(r.getAs[Long]("n_edges") >= 2L)
    assert(r.getAs[Long]("min_edge_jaccard_bp") < 10000L,
      "the near-dup edge is the weak link")
    assert(r.getAs[Long]("mean_edge_jaccard_bp") >= r.getAs[Long]("min_edge_jaccard_bp"))
  }

  test("verified clustering keeps strong edges and splits below the bar") {
    // 1-2 exact (10000 bp); 1-3/2-3 near (~9000 bp: one word of 61).
    // Default bar (5000) keeps the chain; a 9500 bar cuts the weak
    // edges and 3 becomes its own cluster — the knob a curator turns
    // when q125 reads min ≪ mean.
    val loose = Dedup.verifiedClusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(loose(1L) == 1L && loose(2L) == 1L && loose(3L) == 1L && loose(4L) == 4L)
    val strict = Dedup.verifiedClusters(docs, minJaccardBp = 9500L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(strict(1L) == 1L && strict(2L) == 1L,
      "the exact-dup edge survives any bar <= 10000")
    assert(strict(3L) == 3L, "the near-dup edge must not survive a 9500 bar")
  }

  test("verified clusters refine q57: dropping edges can only split, never merge") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val q57 = Dedup.nearDupClusters(real).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ver = Dedup.verifiedClusters(real).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    ver.groupBy(_._2).foreach { case (vc, members) =>
      val q57Labels = members.map { case (id, _) => q57(id) }.distinct
      assert(q57Labels.length == 1,
        s"verified cluster $vc spans q57 clusters $q57Labels — refinement violated")
    }
  }

  test("cluster audit laws on real data: members match q57, spanning edges, min <= mean") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val audit = Dedup.clusterQualityAudit(real).collect()
    val multi = Dedup.nearDupClusters(real).collect()
      .groupBy(_.getAs[Long]("cluster_id")).filter(_._2.length >= 2)
    assert(audit.map(_.getAs[Long]("cluster_id")).toSet == multi.keySet,
      "audited clusters = exactly q57's multi-member clusters")
    audit.foreach { r =>
      assert(r.getAs[Long]("n_members") ==
        multi(r.getAs[Long]("cluster_id")).length.toLong)
      assert(r.getAs[Long]("n_edges") >= r.getAs[Long]("n_members") - 1,
        "a connected component needs at least a spanning tree of edges")
      assert(r.getAs[Long]("min_edge_jaccard_bp") <=
        r.getAs[Long]("mean_edge_jaccard_bp"))
    }
  }

  test("an empty frozen model on a non-empty corpus fails loud, never fabricates labels") {
    val emb = Seq((1L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.clusterAssignWithModel(emb, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Similarity.semanticDedupCellsWithModel(emb, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Similarity.vecReportWithModels(
        emb.withColumn("label", lit(0)), Seq.empty, Seq.empty)
    }
  }

  test("cluster operators behave on an empty corpus") {
    val docs = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val emb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.clusterCards(docs, emb).isEmpty)
    assert(Similarity.clusterSample(emb).isEmpty)
    assert(Similarity.semanticDedupCells(emb).isEmpty)
    assert(Similarity.clusterDrift(emb, Similarity.vecReleaseView(emb),
      Seq.empty).isEmpty)
  }

  test("q133 split-leakage laws on real data: all boundaries ship, counts conserve") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Dedup.splitLeakage(real, valBp = 500, testBp = 500).collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq.sorted ==
      Dedup.SplitBoundaries.sorted, "all three boundaries always ship")
    // heldout sizes must equal the q70 split's own census
    val census = graft.operators.Corpus.datasetSplit(real, 500, 500)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("heldout_n") == census.getOrElse(r.getString(1), 0L),
        s"heldout_n for ${r.getString(1)}")
      assert(r.getAs[Long]("n_leak_pairs") <= r.getAs[Long]("n_cand_pairs"))
      assert(r.getAs[Long]("n_heldout_leaked") <= r.getAs[Long]("n_leak_pairs"))
    }
    // boundary totals conserve the cross-split candidate-pair universe
    val splits = graft.operators.Corpus.datasetSplit(real, 500, 500)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val crossCands = Dedup.minhashCandidatePairs(real).collect()
      .count(r => splits(r.getLong(0)) != splits(r.getLong(1))).toLong
    assert(out.map(_.getAs[Long]("n_cand_pairs")).sum == crossCands,
      "boundary rollup conserves the cross-split candidate total")
  }

  test("q133: exact dups are split-leak-immune by construction; near dups are not") {
    // content-hash splitting sends byte-identical text to the SAME
    // split — the law q70 buys — so an exact-dup pair can never cross
    // a boundary; a near dup hashes independently and can. The audit
    // must reflect the first as zero contribution.
    val exactPair = Seq(
      (1L, base, "en", "srcA", 0L), (2L, base, "en", "srcA", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.splitLeakage(exactPair, valBp = 3000, testBp = 3000).collect()
    assert(out.map(_.getAs[Long]("n_cand_pairs")).sum == 0L,
      "identical text lands in one split under the content-hash rule")
    assert(out.map(_.getAs[Long]("n_leak_pairs")).sum == 0L)
  }

  test("q133b split repair: the component rule, re-derived independently on real data") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val manifest = Dedup.splitRepair(real, 500, 500).collect()
    assert(manifest.nonEmpty, "sf0.001 carries real cross-split near-dups")
    val act = manifest.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("action")).toMap
    // independent driver-side re-derivation: verified components +
    // splits collected, the rule applied by hand — manifest must match
    // EXACTLY (completeness and minimality, not just soundness)
    val clusterOf = Dedup.verifiedClusters(real).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val splitOf = graft.operators.Corpus.datasetSplit(real, 500, 500)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val compSplits = clusterOf.groupBy(_._2)
      .map { case (cid, ms) => cid -> ms.keys.map(splitOf).toSet }
    val expected = clusterOf.flatMap { case (d, cid) =>
      val s = splitOf(d); val ss = compSplits(cid)
      if (s != "train" && ss.contains("train")) Some(d -> "reassign_train")
      else if (s == "val" && !ss.contains("train") && ss.contains("test"))
        Some(d -> "quarantine")
      else None
    }
    assert(act == expected, "manifest must equal the hand-applied component rule")
    manifest.foreach { r =>
      assert(clusterOf(r.getAs[Long]("doc_id")) == r.getAs[Long]("cluster_id"),
        "manifest cluster ids trace to q125b's labels")
      assert(r.getAs[String]("old_split") == splitOf(r.getAs[Long]("doc_id")))
    }
  }

  test("q133b closure law: after repair NO verified edge crosses a split boundary") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val act = Dedup.splitRepair(real, 500, 500).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("action")).toMap
    assert(act.nonEmpty)
    val repaired: Map[Long, String] =
      graft.operators.Corpus.datasetSplit(real, 500, 500)
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
        .flatMap { case (d, s) => act.get(d) match {
          case Some("quarantine")     => None // dropped from every split
          case Some("reassign_train") => Some(d -> "train")
          case _                      => Some(d -> s)
        }}
    val edges = Dedup.verifiedEdges(real).collect()
    assert(edges.nonEmpty)
    edges.foreach { e =>
      (repaired.get(e.getLong(0)), repaired.get(e.getLong(1))) match {
        case (Some(sa), Some(sb)) =>
          assert(sa == sb,
            s"edge ${e.getLong(0)}($sa) ↔ ${e.getLong(1)}($sb) survives repair")
        case _ => // an endpoint was quarantined — the edge is gone
      }
    }
  }
}
