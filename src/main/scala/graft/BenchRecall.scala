package graft

/** RECALL evidence for the approximate families (r13 verdict item 2,
  * extended r14): the ANN family's recall is audited by inventory
  * operators (q110/q110b); q103b's champion-list pruning and q31's
  * MinHash banding had only deterministically spec-pinned trades with
  * no measured number. This main runs
  * [[graft.operators.Corpus.retrievalRecallAudit]] (pruned retrieval
  * vs the exhaustive rescore over the SAME query set and scoring
  * space) and [[graft.operators.Dedup.minhashBandingRecall]] (banding
  * candidates vs the exact all-pairs Jaccard reference, per
  * threshold) at each given SF dir and prints ONE JSON line, so both
  * trades are MEASUREMENTS an audit can cite (RECALL_rNN.json). */
/** Saturation probe for the q103 scoring space (r15): the exhaustive
  * top-k score DISTRIBUTION per SF — if the rank-1 median cos² sits
  * near the bulk (scores clustered), the unrestricted exhaustive
  * ranking is noise among statistically-identical pairs and no
  * candidate-pruned method can reproduce it; if widening the bucket
  * count separates the distribution but unrestricted recall stays
  * flat, the ceiling is the REPRESENTATION (phrase-blind unigram
  * cosine), not the hash width. Prints rank-1/rank-k percentiles of
  * sim_q20 (cos²·2²⁰). */
object BenchRetrievalSaturation {
  def main(args: Array[String]): Unit = {
    val dirs = sys.env.getOrElse("SPARK_GRAFT_RECALL_DIRS",
      "/root/testdata/sf0.01,/root/testdata/sf0.1").split(',').map(_.trim).toSeq
    val k = sys.env.getOrElse("SPARK_GRAFT_RECALL_K", "3").toInt
    val spark = BenchSplit.session()
    import org.apache.spark.sql.functions._
    val rows = dirs.map { dir =>
      val docs = Tables.documents(spark, dir)
      val exact = graft.operators.Corpus.chunkRetrievalExhaustive(docs, k)
      val pct = exact.groupBy("rank").agg(
        percentile_approx(col("sim_q20"), lit(Array(0.1, 0.5, 0.9)), lit(10000))
          .as("p"), count(lit(1)).as("n"))
        .orderBy("rank").collect()
      val cells = pct.map { r =>
        val p = r.getSeq[Long](1)
        s""""rank${r.getAs[Long]("rank")}":{"p10":${p(0)},"p50":${p(1)},""" +
          s""""p90":${p(2)},"n":${r.getAs[Long]("n")}}"""
      }
      s""""$dir":{${cells.mkString(",")}}"""
    }
    println(s"""{"metric":"retrieval_saturation","unit":"sim_q20 (cos2 * 2^20)",""" +
      s""""ret_buckets":${graft.operators.Corpus.RetBuckets},""" +
      s""""dirs":{${rows.mkString(",")}}}""")
    spark.stop()
  }
}

object BenchRecall {
  def main(args: Array[String]): Unit = {
    val dirs = sys.env.getOrElse("SPARK_GRAFT_RECALL_DIRS",
      "/root/testdata/sf0.01,/root/testdata/sf0.1").split(',').map(_.trim).toSeq
    val k = sys.env.getOrElse("SPARK_GRAFT_RECALL_K", "3").toInt
    val spark = BenchSplit.session()
    val rows = dirs.map { dir =>
      val docs = Tables.documents(spark, dir)
      val a = graft.operators.Corpus.retrievalRecallAudit(docs, k).collect()
      val n = a.length.max(1)
      val macroMean = a.map(_.getAs[Long]("recall_bp")).sum / n
      val minBp = if (a.isEmpty) -1L else a.map(_.getAs[Long]("recall_bp")).min
      val pooled = {
        val hits = a.map(_.getAs[Long]("n_hits")).sum
        val exact = a.map(_.getAs[Long]("n_exact")).sum.max(1L)
        10000L * hits / exact
      }
      val nConf = a.map(_.getAs[Long]("n_confident")).sum
      val nConfHit = a.map(_.getAs[Long]("n_confident_hits")).sum
      val confBp = 10000L * nConfHit / nConf.max(1L)
      s""""$dir":{"n_queries":${a.length},"macro_mean_bp":$macroMean,""" +
        s""""min_bp":$minBp,"micro_bp":$pooled,""" +
        s""""n_confident":$nConf,"n_confident_hits":$nConfHit,""" +
        s""""confident_bp":$confBp}"""
    }
    val bandRows = dirs.map { dir =>
      val docs = Tables.documents(spark, dir)
      val a = graft.operators.Dedup.minhashBandingRecall(docs).collect()
      val cells = a.map { r =>
        s""""t${r.getAs[Long]("threshold_bp")}":{"n_true":${r.getAs[Long]("n_true")},""" +
          s""""n_caught":${r.getAs[Long]("n_caught")},""" +
          s""""recall_bp":${r.getAs[Long]("recall_bp")}}"""
      }
      s""""$dir":{${cells.mkString(",")}}"""
    }
    // the MID-BAND arm (r14 verdict item 4): the corpora's true-pair
    // population is bimodal, so the S-curve knee is exercised on a
    // deterministic closed-form fixture whose pairs sit at exactly
    // 5000/6000/7000 bp — each measured recall lands beside its own
    // theory point. SF-independent (the fixture is synthetic).
    val midPairs = sys.env.getOrElse("SPARK_GRAFT_MIDBAND_PAIRS", "400").toInt
    val mid = graft.operators.Dedup.minhashMidBandRecall(
      graft.operators.Dedup.midBandFixture(spark, midPairs)).collect()
    val midCells = mid.map { r =>
      s""""j${r.getAs[Long]("jaccard_bp")}":{"n_true":${r.getAs[Long]("n_true")},""" +
        s""""n_caught":${r.getAs[Long]("n_caught")},""" +
        s""""recall_bp":${r.getAs[Long]("recall_bp")},""" +
        s""""theory_bp":${r.getAs[Long]("theory_bp")}}"""
    }
    println(s"""{"metric":"recall_audits","unit":"bp",""" +
      s""""loadavg":"${Bench.loadavg()}",""" +
      s""""retrieval_recall_at_$k":{""" +
      s""""confident_bar_q20":${graft.operators.Corpus.ConfidentSimQ20},""" +
      s""""ret_buckets":${graft.operators.Corpus.RetBuckets},""" +
      s""""ret_bigram_buckets":${graft.operators.Corpus.RetBigramBuckets},""" +
      s""""note":"q103b champion-list pruning vs exhaustive rescore, same query set and scoring space (r16: unigram + adjacent-bigram channels); confident = exhaustive top-k rows at cos2 >= bar/2^20 (the near-dup band)",""" +
      s""""dirs":{${rows.mkString(",")}}},""" +
      s""""minhash_banding_recall":{""" +
      s""""note":"q31 banding candidates (32 hashes, 8 bands of 4) vs the exact all-pairs Jaccard reference, per threshold (cumulative: a row counts every true pair at or above its threshold); theory for r=4,b=8 predicts 1-(1-s^4)^8: 0.9998 at s=0.9, 0.985 at 0.8, 0.889 at 0.7, 0.404 at 0.5. Equal n_true across thresholds = the corpus's true-pair population is bimodal (every pair above 0.5 is >=0.8-similar, where the curve reads >=0.985); the mid-similarity knee is measured separately in minhash_midband_recall",""" +
      s""""dirs":{${bandRows.mkString(",")}}},""" +
      s""""minhash_midband_recall":{""" +
      s""""note":"the S-curve knee MEASURED (r15): $midPairs independent closed-form pairs per similarity class at exactly J = 0.5/0.6/0.7 (shared m-token prefix, disjoint t-token tails: J = (m-2)/(m+2t-2)), grouped by the TRUE Jaccard so each class compares to its own theory point 1-(1-s^4)^8; expected binomial 3-sigma half-width at n=$midPairs is <= ~750 bp",""" +
      s""""pairs_per_band":$midPairs,${midCells.mkString(",")}}}""")
    spark.stop()
  }
}
