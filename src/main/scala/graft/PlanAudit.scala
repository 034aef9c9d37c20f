package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, SortExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
  CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.BinaryType

import graft.plans.PlanWalk

/** Plan audits over `SPARK_GRAFT_SF_DIR` on [[BenchSplit.session]]:
  *  - `--inventory [query…]` (no query = every query): the executed-
  *    plan census, one JSON line (the `PLANS_r*.json` keys);
  *  - `--unpushed <query…>`: every scan whose data filters did not
  *    become pushed source filters, with the untranslated expressions,
  *    so "semantic full scan" vs "pruning bug" is decided on the
  *    expressions;
  *  - `--executed <query…>`: the final post-AQE executed plan
  *    (explain formatted shows the initial adaptive plan only —
  *    runtime decisions like ReusedExchange and AQE join rewrites are
  *    invisible there);
  *  - `[query…]`: formatted physical plans (no query = a headline set). */
object PlanAudit {

  /** one executed plan's structural counts, walked by the same
    * [[PlanWalk]] the plan-pin specs use, so the census cannot
    * disagree with the fences about what a plan contains. Windows
    * without a partition spec are the global-sort smell; the scan
    * classes split full scans (`scans_unpushed`: no pushed filter,
    * legitimate when the query reads a whole table or its own written
    * state) from [[PlanWalk.filteredUnpushed]] scans, whose filters
    * run after the read over every row. */
  private def counts(plan: SparkPlan): Seq[(String, Int)] = {
    val ns = PlanWalk.nodes(plan)
    val shuffles = ns.collect { case s: ShuffleExchangeLike => s }
    val scans = ns.collect { case s: FileSourceScanExec => s }
    val windows = ns.collect { case w: WindowExec => w }
    Seq(
      "shuffles" -> shuffles.length,
      "binary_shuffles" -> shuffles.count(_.output.exists(_.dataType == BinaryType)),
      "bcast_exchanges" -> ns.count(_.isInstanceOf[BroadcastExchangeLike]),
      "bhj" -> ns.count(_.isInstanceOf[BroadcastHashJoinExec]),
      "smj" -> ns.count(_.isInstanceOf[SortMergeJoinExec]),
      "shj" -> ns.count(_.isInstanceOf[ShuffledHashJoinExec]),
      "bnlj" -> ns.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "cartesian" -> ns.count(_.isInstanceOf[CartesianProductExec]),
      "windows" -> windows.length,
      "windows_unpartitioned" -> windows.count(_.partitionSpec.isEmpty),
      "sorts_global" -> ns.count { case s: SortExec => s.global; case _ => false },
      "scans" -> scans.length,
      "scan_cols" -> scans.map(_.requiredSchema.size).sum,
      "scans_with_pushed_filters" -> scans.count(PlanWalk.pushesFilters),
      "scans_unpushed" -> scans.count(!PlanWalk.pushesFilters(_)),
      "scans_filtered_unpushed" -> scans.count(PlanWalk.filteredUnpushed),
      "wholestage_spans" -> ns.count(_.isInstanceOf[WholeStageCodegenExec]),
      "nodes" -> ns.length)
  }

  /** run each query (so the adaptive plan is final) and render the
    * census line: per-query counts, their totals and the queries
    * flagged by the standing invariants — zero cartesian products and
    * exactly the four fixed-bound unpartitioned windows, both also
    * fenced by PlanShapeSpec's "plan-inventory invariants" test.
    * Writer queries run their MERGE jobs inside the query function;
    * the census covers the returned frame's plan (the read-back). */
  def inventory(spark: SparkSession, sfDir: String, names: Seq[String],
                gate: (Boolean, Long)): String = {
    val rows = names.map { name =>
      System.err.println(s"[inventory] $name")
      val df = SparkEntry.queries(name)(spark, sfDir)
      BenchSplit.rows(df)
      name -> counts(df.queryExecution.executedPlan)
    }
    def obj(kvs: Seq[(String, Int)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val totals = rows.head._2.map(_._1).map(k => k -> rows.map(_._2.toMap.apply(k)).sum)
    def flagged(k: String): String = rows.collect {
      case (n, cs) if cs.toMap.apply(k) > 0 => "\"" + n + "\""
    }.mkString("[", ",", "]")
    val (degraded, waitedS) = gate
    s"""{"metric":"plan_inventory","sf":"$sfDir","n_queries":${rows.length},""" +
      s""""degraded":$degraded,"load_waited_s":$waitedS,"loadavg":"${Bench.loadavg()}",""" +
      s""""note":"executed post-AQE plans of each query's returned frame, walked by graft.plans.PlanWalk (the fence walker); writer queries' internal MERGE jobs are spec-pinned, not inventoried; scans_filtered_unpushed = scans holding a data filter that did not translate to a pushed source filter (the 100 TB pruning smell), scans_unpushed = scans with no pushed filter at all (full-scan-by-semantics or read-backs)",""" +
      s""""totals":${obj(totals)},""" +
      s""""flagged_cartesian":${flagged("cartesian")},""" +
      s""""flagged_window_unpartitioned":${flagged("windows_unpartitioned")},""" +
      s""""flagged_filtered_unpushed":${flagged("scans_filtered_unpushed")},""" +
      s""""flagged_binary_shuffles":${flagged("binary_shuffles")},""" +
      s""""queries":${rows.map { case (n, cs) => "\"" + n + "\":" + obj(cs) }.mkString("{", ",", "}")}}"""
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.filter(_.startsWith("--"))
    val names = args.drop(mode.size).toSeq
    val sfDir = BenchSplit.sfDir()
    val spark = BenchSplit.session()
    def executed(name: String): SparkPlan = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      BenchSplit.rows(df)
      df.queryExecution.executedPlan
    }
    try mode match {
      case Some("--inventory") =>
        val gate = BenchSplit.quietGate()
        println(inventory(spark, sfDir,
          if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted, gate))
      case Some("--unpushed") => names.foreach { n =>
        PlanWalk.nodes(executed(n)).collect {
          case s: FileSourceScanExec if PlanWalk.filteredUnpushed(s) =>
            println(s"[unpushed] $n table=${s.relation.location.rootPaths.mkString(",")}" +
              s" dataFilters=${s.dataFilters.map(_.sql).mkString(" AND ")}")
        }
      }
      case Some("--executed") => names.foreach { n =>
        println(s"\n========== $n (executed) ==========")
        println(executed(n).toString())
      }
      case Some(other) => throw new IllegalArgumentException(
        s"unknown mode $other; known: --inventory, --unpushed, --executed")
      case None =>
        val shown = if (names.nonEmpty) names
          else Seq("q01_pricing_summary", "q03_join_revenue", "q22_quality_metrics",
            "q31_dedup_minhash", "q34_dedup_embedding", "q50_stream_window",
            "q47_heavy_hitters", "q75_rarity_screen", "q76b_pq_adc", "q78_ivf_pq")
        shown.foreach { n =>
          println(s"\n========== $n ==========")
          println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(FormattedMode))
        }
    } finally spark.stop()
  }
}
