package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** KMV-swap pricing harness (r17 verdict item 4): the r17 fabric-cost
  * inventory named q23 (21.5 MB) / q22 (8.7 MB) the suite's heaviest
  * shippers and named q17's KMV sketch as the at-scale alternative —
  * but nothing measured what the swap buys (wire MB) and costs
  * (estimate error). This main prices it on the same fixture, three
  * cells:
  *
  *  - `q23_swap`: q23's own aggregation with countDistinct(l_suppkey)
  *    replaced by the KMV aggregate. The measurement corrected the
  *    prior intuition that low per-key cardinality makes this a wash:
  *    Spark plans a mixed distinct/plain aggregate as an EXPAND —
  *    every input row is emitted on TWO grouping sets and the
  *    partial-aggregate wire carries both — so dropping the expand
  *    collapses the exchange even where per-key distincts sit below k
  *    (where the sketch is also EXACT: error 0). Double win at this
  *    grain; smoke cell at sf0.01 read mb_ratio 0.19, err 0.
  *  - `q22_note` is a non-cell: q22's 8.7 MB is entity-grain output
  *    rows (it has NO countDistinct — nothing to swap); recorded in
  *    the artifact note so the r17 leader list is fully adjudicated.
  *  - `high_card_swap`: the 100 TB shape on the same tables —
  *    per-brand distinct order counts (25 groups, per-group distincts
  *    ~10^4+ at sf0.1 and data-sized at scale). Exact countDistinct
  *    must ship every distinct (brand, orderkey) pair; the sketch
  *    ships ≤ mappers × k minima per group. This is where the
  *    collapse lives; the cell stamps the MB ratio AND the estimate
  *    error actually paid for it.
  *
  * Ruler: toRdd.count (the Bench rule), warm-min over reps, shuffle
  * bytes via the ShuffleBytes listener (a plan property — r17), quiet
  * gate + degraded stamp per the round's discipline. */
object BenchKmv {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val k = sys.env.getOrElse("SPARK_GRAFT_KMV_K", "64").toInt
    val (degraded, loadWaitedS) = Bench.awaitQuiet(
      sys.env.getOrElse("SPARK_GRAFT_LOAD_THRESHOLD", "3.0").toDouble,
      sys.env.getOrElse("SPARK_GRAFT_LOAD_MAX_WAIT_S", "600").toInt)
    val spark = BenchSplit.session()

    val part = Tables.part(spark, sfDir)
    val lineitem = Tables.lineitem(spark, sfDir)

    def timeIt(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    /** (warm-min seconds, shuffle-write MB): one metered cold pass for
      * the plan-property bytes, then `reps` timed warm passes. */
    def measure(df: => DataFrame): (Double, Double) = {
      val (sw, _) = ShuffleBytes.measure(spark, () => { df.queryExecution.toRdd.count(); () })
      val warm = (1 to reps).map(_ => timeIt(df)).min
      (warm, sw / 1e6)
    }
    /** estimate error of `est` vs `exact` joined on `key`: max and
      * mean |est−exact|/max(exact,1) — group counts are bounded
      * (dimension-sized), the error aggregate is one narrow pass. */
    def err(exact: DataFrame, est: DataFrame, key: String,
            exactCol: String, estCol: String): (Double, Double) = {
      val j = exact.select(col(key), col(exactCol).as("__x"))
        .join(est.select(col(key), col(estCol).as("__e")), Seq(key))
        .select((abs(col("__e") - col("__x")) /
          greatest(col("__x"), lit(1L))).cast("double").as("__r"))
      val row = j.agg(max(col("__r")), avg(col("__r"))).head()
      (row.getDouble(0), row.getDouble(1))
    }

    // ---- cell 1: q23's own grain (low per-key cardinality — the
    // honest "swap is a wash here" cell)
    def q23Exact = graft.operators.Curation.featureAnnotations(part, lineitem)
    def q23Kmv = graft.operators.Curation.featureAnnotationsKmv(part, lineitem, k)
    q23Exact.queryExecution.toRdd.count(); q23Kmv.queryExecution.toRdd.count() // warmup
    val (xS1, xMb1) = measure(q23Exact)
    val (kS1, kMb1) = measure(q23Kmv)
    val (maxE1, meanE1) = err(q23Exact, q23Kmv, "p_partkey",
      "n_suppliers", "n_suppliers_est")
    System.err.println(s"[kmv] q23_swap done")

    // ---- cell 2: the high-cardinality grain (the 100 TB shape:
    // per-group distincts >> k, the pair expand is data-sized)
    val joined = lineitem.select(col("l_partkey"), col("l_orderkey"))
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
    def hcExact = joined.groupBy(col("p_brand"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"))
    def hcKmv = {
      val h = shiftrightunsigned(xxhash64(col("l_orderkey")), 4)
      val sk = graft.functions.KmvSketch.kmv_sketch(h, k)
      joined.groupBy(col("p_brand")).agg(sk.as("sk"))
        .select(col("p_brand"),
          when(size(col("sk")) < k, size(col("sk")).cast("long"))
            .otherwise(floor(lit((k - 1).toDouble * math.pow(2, 60)) /
              element_at(col("sk"), size(col("sk"))).cast("double")))
            .as("n_orders_est"))
    }
    hcExact.queryExecution.toRdd.count(); hcKmv.queryExecution.toRdd.count() // warmup
    val (xS2, xMb2) = measure(hcExact)
    val (kS2, kMb2) = measure(hcKmv)
    val (maxE2, meanE2) = err(hcExact, hcKmv, "p_brand", "n_orders", "n_orders_est")
    System.err.println(s"[kmv] high_card_swap done")

    import Bench.fmt3
    // mb_ratio guard (r18 advice): a 0-byte metered exact cell would
    // emit Infinity/NaN — not valid JSON, breaking the one-line
    // contract. -1 = "denominator was zero, ratio undefined".
    def mbRatio(num: Double, den: Double): Double =
      if (den > 0.0) num / den else -1.0
    // end-of-run ramp label (r18 verdict item 3)
    val rampedFlag = Bench.ramped(Bench.load1(),
      sys.env.getOrElse("SPARK_GRAFT_LOAD_THRESHOLD", "3.0").toDouble)
    val detail = s"""{"metric":"kmv_swap","sf":"$sfDir","k":$k,"reps":$reps,""" +
      s""""degraded":$degraded,"ramped":$rampedFlag,"load_waited_s":$loadWaitedS,""" +
      s""""loadavg":"${Bench.loadavg()}",""" +
      s""""note":"prices the q17-KMV swap for exact countDistinct on the r17 fabric leaders; q22 is adjudicated NOT swappable (its 8.7 MB is entity-grain output rows, no countDistinct in the plan); q23_swap: per-key distincts sit below k so the estimate is EXACT, and the wire still collapses because removing the mixed-distinct EXPAND stops shipping every input row on two grouping sets; high_card_swap: per-key distincts >> k — the 100 TB shape — prices the MB collapse against the estimate error actually paid",""" +
      s""""q23_swap":{"exact_s_min":${fmt3(xS1)},"kmv_s_min":${fmt3(kS1)},""" +
      s""""exact_shuffle_mb":${fmt3(xMb1)},"kmv_shuffle_mb":${fmt3(kMb1)},""" +
      s""""mb_ratio":${fmt3(mbRatio(kMb1, xMb1))},""" +
      s""""max_rel_err":${fmt3(maxE1)},"mean_rel_err":${fmt3(meanE1)}},""" +
      s""""high_card_swap":{"exact_s_min":${fmt3(xS2)},"kmv_s_min":${fmt3(kS2)},""" +
      s""""exact_shuffle_mb":${fmt3(xMb2)},"kmv_shuffle_mb":${fmt3(kMb2)},""" +
      s""""mb_ratio":${fmt3(mbRatio(kMb2, xMb2))},""" +
      s""""max_rel_err":${fmt3(maxE2)},"mean_rel_err":${fmt3(meanE2)}}}"""
    println(detail)
    val requested = sys.env.get("SPARK_GRAFT_KMV").getOrElse(
      sys.env.get("SPARK_GRAFT_ROUND")
        .map(r => s"KMV_r$r.json").getOrElse("KMV.json"))
    try {
      val target = Bench.writeNew(detail, requested)
      System.err.println(s"[kmv] artifact persisted to $target")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[kmv] could not persist $requested: $e") }
    spark.stop()
  }
}
