package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Smoke run of every [[BenchSplit]] entry at reps = 1: each split's
  * phases execute against the small fixture and its JSON line parses
  * with the key set the split has always printed (the figures already
  * recorded under those keys stay comparable). Nothing else runs these
  * phases, so without this spec a split can time code no query runs.
  * Also: the scale-curve replica cache is keyed by its base SF. */
class BenchSplitSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val tail = Set("reps", "sf", "degraded", "load_waited_s", "loadavg")
  private def pms(cell: Set[String]) = Seq(0, 100, 300, 500).map(pm => s"pm$pm" -> cell).toMap

  /** top-level scalar keys, and nested objects with their keys */
  private val expected: Map[String, (Set[String], Map[String, Set[String]])] = Map(
    "pq" -> (Set("ivf_train_s", "pq_train_s", "encode_scan_s", "encode_full_s",
      "adc_search_s", "ivfpq_search_s", "ivf_rpq_search_s"), Map()),
    "seg" -> (Set("segment_writes_s", "compact_s", "search_s"), Map()),
    "idx" -> (Set("train_s", "base_build_s", "maintain_s", "cells",
      "base_build_256c_s", "maintain_50row_256c_s"), Map()),
    "report" -> (Set("model_train_s", "standalone_14ops_s", "frame_build_persist_s",
      "views_14ops_s"), Map()),
    "release" -> (Set("cold_classes", "warm_pass_ms_p50", "warm_compiles_p50", "warm_compile_ms_p50"),
      Seq("cold", "warm1").map(_ -> (Seq("rarity_model", "lm_model", "dsir_model", "doc_report_build",
        "doc_report_write",
        "view_q70_dataset_split", "view_q101b_dsir_resample", "release_stores", "ingest_door",
        "ivf_centroids", "view_q104c_semdedup").flatMap(op => Seq(s"${op}_ms", s"${op}_compiles",
        s"${op}_compile_ms")).toSet ++ Set("pass_ms", "compiles", "compile_ms"))).toMap),
    "rel" -> (Set("store_build_s", "probe_s"), Map()),
    "cut" -> (Set("upstream_scans_s", "combine_s"), Map()),
    "cluster" -> (Set("ivf_train_s", "cards_frozen_s", "sample_frozen_s",
      "semdedup_frozen_s", "vecreport_frozen_s"), Map()),
    "audit" -> (Set("q125_full_s", "q125_frames_s", "q125b_full_s", "q125b_edges_s"), Map()),
    "skew" -> (Set("metric", "bot_user"), pms(Set("transitions_s",
      "transitions_windowed_s", "funnel_s", "funnel_users_s"))),
    "skew_docs" -> (Set("metric"), pms(Set("q40_fingerprint_s", "q83_block_s",
      "q31_minhash_s", "q42_apply_s"))),
    "skew_push" -> (Set("metric", "hot_part"), pms(Set("q140_push_s"))),
    "media" -> (Set("standalone_3ops_s", "frame_build_persist_s", "views_3ops_s",
      "q41_with_repartition_s", "q41_no_shuffle_s"), Map()),
    "media_scale" -> (Set("metric"), Seq(1, 4, 16).map(s => s"x$s" -> Set("payload_mb",
      "with_repartition_s", "no_shuffle_s", "shuffle_mb_with", "shuffle_mb_without")).toMap),
    "media_skew" -> (Set("metric", "hot_permille", "hot_scale", "decode_reps", "input_splits"),
      Seq("spread", "clustered").flatMap(p => Seq("_with_repartition", "_no_shuffle")
        .map(f => p + f -> Set("s", "shuffle_mb"))).toMap),
    "doors" -> (Set("metric", "note"), {
      val cell = Set("n_rows", "n_batches", "door_s_min", "door_s_median", "door_1batch_s_min",
        "per_batch_overhead_s", "door_rows_per_s", "batch_twin", "twin_s_min", "twin_s_median",
        "door_over_twin", "note")
      Seq("screen_door", "retrieval_lookup_door", "sessionize_door", "sessionize_door_x10")
        .map(_ -> cell).toMap ++
        Seq("annotation_push_door", "annotation_push_door_x10", "trace_push_door")
          .map(_ -> (cell + "batch_trigger_ms")).toMap
    }),
    "recall" -> (Set("metric", "unit"), Map(
      "retrieval_recall_at_3" -> Set("confident_bar_q20", "ret_buckets", "ret_bigram_buckets",
        "note", "n_queries", "macro_mean_bp", "min_bp", "micro_bp", "n_confident",
        "n_confident_hits", "confident_bp"),
      "minhash_banding_recall" -> Set("note", "t5000", "t7000", "t8000", "t9000"),
      "minhash_midband_recall" -> Set("note", "pairs_per_band", "j5000", "j6000", "j7000"))),
    "kmv" -> (Set("metric", "k"), Map("high_card_swap" -> Set("exact_s_min", "kmv_s_min",
      "exact_shuffle_mb", "kmv_shuffle_mb", "mb_ratio", "max_rel_err", "mean_rel_err"))),
    "scale_curve" -> (Set("metric", "unit", "factors"),
      Map("queries" -> BenchScaleCurve.CurveQueries.toSet)))

  /** nested figures that may read below zero: a difference of two
    * minima, which noise can invert at the smoke SF */
  private val signed = Set("per_batch_overhead_s")

  private def keys(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  test("the split table and the expected key sets name the same splits") {
    assert(BenchSplit.splits.keySet == expected.keySet)
  }

  /** what a split must leave as it found it: catalog tables and the
    * file-split settings the hot-blob layout overrides */
  private def sessionState(): (Set[String], Seq[Option[String]]) =
    (spark.catalog.listTables().collect().map(_.name).toSet,
      Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
        .map(spark.conf.getOption))

  BenchSplit.splits.keys.foreach { name =>
    test(s"split '$name' runs once, prints its key set and leaves the session as it was") {
      val before = sessionState()
      val line = BenchSplit.run(spark, TestSpark.sf, 1, name, (false, 0L))
      assert(sessionState() == before)
      val json = new ObjectMapper().readTree(line)
      val (scalars, nested) = expected(name)
      assert(keys(json) == scalars ++ nested.keySet ++ tail, line)
      nested.foreach { case (k, cell) =>
        assert(json.get(k).isObject && keys(json.get(k)) == cell, line)
        json.get(k).fields().asScala.filterNot(f => signed(f.getKey))
          .foreach(f => assert(f.getValue.asDouble() >= 0.0, line))
      }
      json.fields().asScala.filter(f => f.getKey.endsWith("_s")).foreach { f =>
        assert(f.getValue.isNumber && f.getValue.asDouble() >= 0.0, line)
      }
      assert(json.get("reps").asInt() == 1 && json.get("sf").asText() == TestSpark.sf)
    }
  }

  test("a scale-curve bucket built from one base is rebuilt for another, not reused") {
    // a second base SF: the fixture with every other document dropped
    val base2 = java.nio.file.Files.createTempDirectory("graft_curve_base").toFile
    val work = java.nio.file.Files.createTempDirectory("graft_curve_work").toString
    try {
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(TestSpark.sf), base2)
      Tables.documents(spark, TestSpark.sf).filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$base2/documents.parquet")
      def docs(dir: String) = spark.read.parquet(s"$dir/documents.parquet").count()
      BenchScaleCurve.materialize(spark, TestSpark.sf, s"$work/x3", 3)
      assert(docs(s"$work/x3") == 3 * docs(TestSpark.sf))
      BenchScaleCurve.materialize(spark, base2.toString, s"$work/x3", 3)
      assert(docs(base2.toString) < docs(TestSpark.sf))
      assert(docs(s"$work/x3") == 3 * docs(base2.toString))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base2)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
    }
  }
}
