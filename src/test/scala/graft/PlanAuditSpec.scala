package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** `PlanAudit --inventory` over the nine queries PlanShapeSpec's
  * "plan-inventory invariants" fence samples: the line keeps the
  * PLANS_r21 keys (so later censuses stay comparable with it), its
  * totals are the sums of its per-query counts, and its flags name
  * exactly what the fence asserts — no cartesian product, and the four
  * audited fixed-bound unpartitioned windows. */
class PlanAuditSpec extends AnyFunSuite {

  private val audited = Seq(
    "q111_vocab_drift", "q112_boilerplate", "q119b_epoch_shuffle", "q130_funnel")
  private val sample = audited ++ Seq("q35_knn_bruteforce", "q03_join_revenue",
    "q57_dedup_clusters", "q103b_retrieval_pruned", "q138_source_cap")

  private val topKeys = Set("metric", "sf", "n_queries", "degraded", "load_waited_s", "loadavg",
    "note", "totals", "flagged_cartesian", "flagged_window_unpartitioned",
    "flagged_filtered_unpushed", "flagged_binary_shuffles", "queries")
  private val countKeys = Set("shuffles", "binary_shuffles", "bcast_exchanges", "bhj", "smj",
    "shj", "bnlj", "cartesian", "windows", "windows_unpartitioned", "sorts_global", "scans",
    "scan_cols", "scans_with_pushed_filters", "scans_unpushed", "scans_filtered_unpushed",
    "wholestage_spans", "nodes")

  private def keys(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet
  private def names(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  test("the inventory keeps the PLANS keys, sums its totals and flags only the audited windows") {
    val line = PlanAudit.inventory(TestSpark.spark, TestSpark.sf, sample, (false, 0L))
    val json = new ObjectMapper().readTree(line)
    assert(keys(json) == topKeys, line)
    assert(json.get("n_queries").asInt() == sample.length)
    val queries = json.get("queries")
    assert(keys(queries) == sample.toSet)
    queries.elements().asScala.foreach(q => assert(keys(q) == countKeys, line))
    assert(keys(json.get("totals")) == countKeys)
    countKeys.foreach { k =>
      assert(json.get("totals").get(k).asInt() ==
        queries.elements().asScala.map(_.get(k).asInt()).sum, k)
    }
    assert(names(json.get("flagged_cartesian")).isEmpty, line)
    assert(names(json.get("flagged_window_unpartitioned")).toSet == audited.toSet, line)
  }
}
