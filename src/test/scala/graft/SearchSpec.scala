package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Search

/** Lexical retrieval (q86 tf-idf terms, q87 keyword search): exact
  * integer scoring on a hand-computed corpus, AND semantics, the
  * length-normalization ordering, and the scale-shape plan pins. */
class SearchSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // N=4 docs; df: merge=1 join=2 scan=2 window=1 ""(null doc)=1
  // idf_bp(t) = (10000·(N−df+1)) DIV (df+1):
  //   merge/window/"" → 20000; join/scan → 10000
  private def corpus = Seq(
    (1L, "merge join merge"),
    (2L, "join scan"),
    (3L, "window window window scan"),
    (4L, null.asInstanceOf[String])
  ).toDF("doc_id", "text")

  test("tfidf terms: exact integer scores, tie broken by term asc") {
    val out = Search.tfidfTerms(corpus, m = 1).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L), "every doc ranks its top term")
    // doc1: merge tf=2 → 2·20000 = 40000 beats join 10000
    assert(out(1L).getAs[String]("term") == "merge")
    assert(out(1L).getAs[Long]("tfidf_bp") == 40000L)
    assert(out(1L).getAs[Long]("tf") == 2L && out(1L).getAs[Long]("df") == 1L)
    // doc2: join and scan tie at 10000 → term asc picks "join"
    assert(out(2L).getAs[String]("term") == "join")
    assert(out(2L).getAs[Long]("tfidf_bp") == 10000L)
    // doc3: window 3·20000
    assert(out(3L).getAs[String]("term") == "window")
    assert(out(3L).getAs[Long]("tfidf_bp") == 60000L)
    // null text tokenizes to the single empty token (the oracle's
    // string_split_regex does the same — both engines agree)
    assert(out(4L).getAs[String]("term") == "")
  }

  test("tfidf terms: m bounds per-doc rows and ranks are dense from 1") {
    val out = Search.tfidfTerms(corpus, m = 2).collect()
    val byDoc = out.groupBy(_.getLong(0))
    byDoc.foreach { case (_, rows) =>
      assert(rows.length <= 2)
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq ==
        (1L to rows.length.toLong).toSeq)
    }
    // doc2 has exactly 2 terms; doc4 only 1
    assert(byDoc(2L).length == 2 && byDoc(4L).length == 1)
  }

  test("keyword search: AND semantics, exact normalized scores, shorter doc ranks first") {
    val qs = Seq(1 -> Seq("merge", "join"), 2 -> Seq("scan"))
    val out = Search.keywordSearch(corpus, qs, k = 10).collect()
    val byQ = out.groupBy(_.getInt(0))
    // query 1: only doc1 holds BOTH terms (doc2 has join but no merge)
    assert(byQ(1).map(_.getLong(2)).toSeq == Seq(1L))
    // raw = idf(merge)·tf + idf(join)·tf = 20000·2 + 10000·1
    assert(byQ(1).head.getAs[Long]("score_bp") == (10000L * 50000L) / (1500L + 3L))
    // query 2: docs 2 and 3 both contain scan with tf=1 → equal raw
    // 10000; the 2-token doc outranks the 4-token doc purely on the
    // length pivot
    assert(byQ(2).map(_.getLong(2)).toSeq == Seq(2L, 3L))
    assert(byQ(2)(0).getAs[Long]("score_bp") == (10000L * 10000L) / (1500L + 2L))
    assert(byQ(2)(1).getAs[Long]("score_bp") == (10000L * 10000L) / (1500L + 4L))
  }

  test("keyword search: a query term absent from the corpus empties that query only") {
    val qs = Seq(1 -> Seq("scan"), 2 -> Seq("scan", "nosuchterm"))
    val out = Search.keywordSearch(corpus, qs, k = 10).collect()
    assert(out.forall(_.getInt(0) == 1), "AND with df=0 term matches nothing")
    assert(out.nonEmpty)
    intercept[IllegalArgumentException] {
      Search.keywordSearch(corpus, Seq(1 -> Seq.empty[String]))
    }
  }

  test("keyword search is one corpus scan: no explode, no shuffle before the heap") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val df = Search.keywordSearch(docs)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("SortMergeJoin"), "stats must broadcast, never shuffle-join")
    assert("TopKPerKey \\[".r.findAllIn(plan).length == 2,
      "ranking must run on the two-phase bounded heap")
    // the corpus parquet is read exactly twice: once for the 1-row
    // stats aggregate, once for the scoring scan — never per query term
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 2, s"expected ≤2 corpus scans, got $scans:\n${plan.take(2000)}")
  }

  test("tfidf terms: AQE picks a broadcast df join at small vocab; no forced hint") {
    // the df side is deliberately unhinted (a raw-token vocabulary is
    // unbounded at corpus scale) — what we pin is that AQE, having
    // measured this corpus's small vocab, lands on a broadcast join
    // at runtime rather than a shuffle join
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val q = Search.tfidfTerms(docs)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"AQE should broadcast the measured-small df side, got:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"), "small-vocab df join must not shuffle-join")
  }

  test("posting index: one row per (term, doc) with tf and denormalized doc length") {
    val rows = Search.postingIndex(corpus).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getAs[Long]("tf"), r.getAs[Long]("n_tokens"))).toMap
    assert(rows(("merge", 1L)) == (2L, 3L))
    assert(rows(("join", 1L)) == (1L, 3L))
    assert(rows(("scan", 3L)) == (1L, 4L))
    assert(rows(("", 4L)) == (1L, 1L), "null text posts its single empty token")
    assert(rows.size == 7, "distinct (term, doc) pairs only")
  }

  test("indexed search is bit-identical to the corpus-scan search") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val scan = Search.keywordSearch(docs).collect().toSeq
    val idx = Search.indexedSearch(Search.postingIndex(docs), Search.docCount(docs))
      .collect().toSeq
    assert(idx == scan, "the index is a physical strategy, not a semantics change")
    assert(scan.nonEmpty, "the equivalence must be witnessed on real matches")
  }

  test("registered posting index: catalog round trip and bucket-pruned search") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    graft.sources.IndexCatalog.registerPostingIndex(docs, "graft_postings_spec", buckets = 16)
    try {
      // search through the named table = the scan-path ranking
      val viaCatalog = graft.sources.IndexCatalog
        .searchPostings(spark, "graft_postings_spec").collect().toSeq
      assert(viaCatalog == Search.keywordSearch(docs).collect().toSeq)
      // the term-equality filter prunes the scan to the query terms'
      // buckets — the corpus-scale payoff of the bucketBy(term) layout.
      // (autoBucketedScan drops the bucketed layout when nothing
      // downstream wants its partitioning, which also forfeits
      // pruning — pin the pruned shape with it off.)
      val terms = Search.Queries.flatMap(_._2).distinct
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val pruned = try spark.table("graft_postings_spec")
        .filter(col("term").isin(terms: _*))
        .queryExecution.executedPlan.toString()
      finally spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      val m = "SelectedBucketsCount: (\\d+) out of 16".r.findFirstMatchIn(pruned)
      assert(m.isDefined, s"bucket pruning must show at the scan, got:\n${pruned.take(1500)}")
      assert(m.get.group(1).toInt < 16, "query terms must touch a strict subset of buckets")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_postings_spec")
      spark.sql("DROP TABLE IF EXISTS graft_postings_spec_meta")
      ()
    }
  }

  test("q88b keeps its compacted tables under the process's scratch dir, not the warehouse") {
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    val docs = Tables.documents(spark, sf)
    try {
      val got = SparkEntry.queries("q88b_compacted_search")(spark, sf)
      assert(got.collect().toSeq == Search.keywordSearch(docs).collect().toSeq,
        "the compacted index must stay readable and rank like the scan path")
      val left = Option(new java.io.File(wh).listFiles()).toSeq.flatten.map(_.getName)
        .filter(_.startsWith("graft_q88b_"))
      assert(left.isEmpty, s"q88b left table data under the warehouse dir $wh: $left")
    } finally
      spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_q88b_"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("hybrid RRF equals a by-hand fusion of the two rankings") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val qids = Search.Queries.map(_._1).toSet
    val lex = Search.keywordSearch(docs).collect()
      .map(r => (r.getInt(0), r.getLong(2)) -> r.getLong(1)).toMap
    val vec = graft.operators.Similarity.knnBruteForce(emb, nQueries = 4).collect()
      .filter(r => qids.contains(r.getLong(0).toInt))
      .map(r => (r.getLong(0).toInt, r.getLong(1)) -> r.getAs[Long]("rank")).toMap
    val expected = (lex.keySet ++ vec.keySet).toSeq.map { key =>
      val contrib = lex.get(key).map(r => 10000L / (60L + r)).getOrElse(0L) +
        vec.get(key).map(r => 10000L / (60L + r)).getOrElse(0L)
      (key._1, key._2, contrib, Seq(lex.get(key), vec.get(key)).flatten.size.toLong)
    }
    val got = Search.hybridRrf(docs, emb).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getAs[Long]("rrf_bp"), r.getAs[Long]("n_lists")))
    // every fused row reproduces the hand computation...
    val byKey = expected.map(e => (e._1, e._2) -> e).toMap
    got.foreach(g => assert(byKey((g._1, g._2)) == g, s"mismatch at $g"))
    // ...and per query the top-k by (rrf_bp desc, doc asc) is what ranks
    qids.foreach { q =>
      val want = expected.filter(_._1 == q).sortBy(e => (-e._3, e._2)).take(10).map(e => (e._2, e._3))
      val have = got.filter(_._1 == q).sortBy(_._2).map(g => (g._2, g._3))
      assert(have.toSet == want.toSet, s"query $q fused top-k diverges")
    }
  }

  test("phrase search: overlapping in-order matches, exact scores, short-doc edge") {
    // df(a b)=2 of N=4 → idf = (10000·3) DIV 3 = 10000
    // df(b a)=1 → idf = (10000·4) DIV 2 = 20000
    // df(x x)=1 → 20000
    val docs = Seq(
      (1L, "a b a b a"),   // "a b"×2 (pos 1,3), "b a"×2 (pos 2,4)
      (2L, "x x x"),       // self-adjacent overlap: "x x"×2
      (3L, "a b"),         // exact-length doc
      (4L, "b")            // shorter than every phrase
    ).toDF("doc_id", "text")
    val qs = Seq(1 -> Seq("a", "b"), 2 -> Seq("b", "a"), 3 -> Seq("x", "x"))
    val out = Search.phraseSearch(docs, qs, k = 10).collect()
      .map(r => (r.getInt(0), r.getLong(2)) -> r).toMap
    assert(out.keySet == Set((1, 1L), (1, 3L), (2, 1L), (3, 2L)))
    assert(out((1, 1L)).getAs[Long]("phrase_tf") == 2L)
    assert(out((1, 1L)).getAs[Long]("score_bp") == (10000L * 10000L * 2L) / (1500L + 5L))
    assert(out((1, 3L)).getAs[Long]("phrase_tf") == 1L)
    assert(out((1, 3L)).getAs[Long]("score_bp") == (10000L * 10000L * 1L) / (1500L + 2L))
    // doc1's double hit (raw 20000 over len 5 → 132890) outranks
    // doc3's single hit (raw 10000 over len 2 → 66577)
    assert(out((1, 1L)).getAs[Long]("rank") == 1L && out((1, 3L)).getAs[Long]("rank") == 2L)
    assert(out((2, 1L)).getAs[Long]("phrase_tf") == 2L, "reversed phrase is distinct")
    assert(out((3, 2L)).getAs[Long]("phrase_tf") == 2L, "self-adjacent overlaps each count")
  }

  test("phrase search is one row-local scan: no n-gram explode, no join") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Search.phraseSearch(docs).queryExecution.executedPlan.toString()
    assert(!plan.contains("SortMergeJoin"), "stats must broadcast")
    assert("TopKPerKey \\[".r.findAllIn(plan).length == 2)
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 2, s"expected ≤2 corpus scans (stats + score), got $scans")
  }

  test("percolator under frozen stats reproduces the live search exactly") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val (dfs, n) = Search.keywordStats(docs)
    assert(n == docs.count(), "frozen N is the corpus size")
    val rows = Search.percolate(docs, dfs, n).collect()
      .map(r => (r.getInt(1), r.getLong(0), r.getAs[Long]("score_bp")))
    // top-k of the percolator's qualifying rows = the ranked search
    val want = Search.keywordSearch(docs).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getAs[Long]("score_bp"))).toSet
    val got = rows.groupBy(_._1).values.flatMap(qs =>
      qs.sortBy(t => (-t._3, t._2)).take(Search.SearchTopK).toSeq).toSet
    assert(got == want, "frozen-stats scoring must equal the live scoring on the same corpus")
    // a query term missing from the frozen model fails loud
    intercept[IllegalArgumentException] {
      Search.percolate(docs, dfs - "merge", n)
    }
  }

  test("hybrid RRF: both-list agreement sums contributions, ties break doc asc") {
    // doc 10 ranks 2nd lexically + 1st by vector; doc 11 the reverse —
    // identical fused score 10000/61 + 10000/62 = 163 + 161 = 324,
    // tie broken by doc_id; doc 12 is vector-only (rank 3 → 158)
    val docs = Seq(
      (1L, "alpha beta"), (10L, "merge"), (11L, "merge merge word"), (12L, "gamma")
    ).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Array(1f, 0f)), (10L, Array(0.9f, 0.1f)),
      (11L, Array(0f, 1f)), (12L, Array(-1f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Search.hybridRrf(docs, emb, Seq(1 -> Seq("merge")), k = 10).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getAs[Long]("rrf_bp"), r.getAs[Long]("n_lists")))
    assert(got.toSeq == Seq((1L, 10L, 324L, 2L), (2L, 11L, 324L, 2L), (3L, 12L, 158L, 1L)),
      s"got ${got.toSeq}")
  }

  /** independent BM25 replay with the log2mb kernel as primitive (the
    * q121 discipline): BigInt arithmetic, same token rule. */
  private def bm25Expected(docs: Seq[(Long, String)],
                           queries: Seq[(Int, Seq[String])]): Map[(Int, Long), Long] = {
    val toks = docs.map { case (id, t) =>
      id -> Option(t).getOrElse("").trim.toLowerCase.split(" +", -1).toSeq }
    val n = BigInt(docs.length)
    val bigT = BigInt(toks.map(_._2.length).sum)
    val terms = queries.flatMap(_._2).distinct
    val idf = terms.map { t =>
      val df = BigInt(toks.count(_._2.contains(t)))
      val a = 2 * df + 1
      val b = 2 * (n - df) + 1
      t -> (if (a <= b)
        BigInt(graft.functions.LogExpressions.log2mbKernel(a.toLong, b.toLong))
      else BigInt(0))
    }.toMap
    (for {
      (qid, qterms) <- queries
      (id, tk) <- toks
      if qterms.exists(tk.contains)
    } yield {
      val dl = BigInt(tk.length)
      val score = qterms.map { t =>
        val tf = BigInt(tk.count(_ == t))
        (idf(t) * 22 * bigT * tf) / (10 * bigT * tf + 3 * bigT + 9 * dl * n)
      }.sum
      (qid, id) -> score.toLong
    }).toMap
  }

  test("bm25: exact integer scores against an independent kernel replay, OR semantics") {
    val qs = Seq(1 -> Seq("merge", "scan"), 2 -> Seq("window"))
    val out = Search.bm25Search(corpus, qs, k = 10).collect()
    val expected = bm25Expected(Seq(
      (1L, "merge join merge"), (2L, "join scan"),
      (3L, "window window window scan"), (4L, null)), qs)
    assert(out.nonEmpty)
    out.foreach { r =>
      val key = (r.getInt(0), r.getLong(2))
      assert(expected.contains(key), s"unexpected hit $key")
      assert(r.getAs[Long]("score_mb") == expected(key),
        s"score for $key: got ${r.getAs[Long]("score_mb")}, want ${expected(key)}")
    }
    assert(out.length == expected.count(_._2 >= 0),
      "OR semantics: every doc containing any query term ranks")
    // q87 (AND) would drop docs 1 and 3 from query 1; BM25 keeps them
    val q1docs = out.filter(_.getInt(0) == 1).map(_.getLong(2)).toSet
    assert(q1docs == Set(1L, 2L, 3L), s"got $q1docs")
  }

  test("bm25: tf saturation and length normalization, the two defining laws") {
    // docs 4-7 keep df=3 < N/2=3.5 so the idf clamp doesn't fire
    // (df >= N/2 zeroes idf — the clamp law has its own test below)
    val docs = (Seq(
      (1L, "merge " + (1 to 9).map(i => s"pad$i").mkString(" ")),         // tf=1, dl=10
      (2L, "merge merge " + (1 to 8).map(i => s"pad$i").mkString(" ")),   // tf=2, dl=10
      (3L, "merge " + (1 to 39).map(i => s"pad$i").mkString(" "))         // tf=1, dl=40
    ) ++ (4L to 7L).map(i => (i, s"filler$i"))).toDF("doc_id", "text")
    val s = Search.bm25Search(docs, Seq(1 -> Seq("merge")), k = 10).collect()
      .map(r => r.getLong(2) -> r.getAs[Long]("score_mb")).toMap
    assert(s(2L) > s(1L), "more occurrences score higher")
    assert(s(2L) < 2 * s(1L), "tf SATURATES: the second occurrence adds less than the first")
    assert(s(3L) < s(1L), "same tf in a longer doc scores lower")
  }

  test("bm25: idf clamps at 0 for a term in more than half the corpus") {
    // 'common' in 3 of 4 docs → df > N/2 → idf 0 → only 'rare' scores
    val docs = Seq(
      (1L, "common rare"), (2L, "common x"), (3L, "common y"), (4L, "z")
    ).toDF("doc_id", "text")
    val out = Search.bm25Search(docs, Seq(1 -> Seq("common", "rare")), k = 10)
      .collect().map(r => r.getLong(2) -> r.getAs[Long]("score_mb")).toMap
    assert(out(1L) > 0L, "the rare term still scores doc 1")
    assert(out(2L) == 0L && out(3L) == 0L,
      "clamped idf zeroes the common term's contribution everywhere")
  }
}
