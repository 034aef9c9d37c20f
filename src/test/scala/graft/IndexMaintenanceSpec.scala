package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MergeWriter, Similarity}

/** q82 index maintenance: merging a frozen-model-encoded arrival batch
  * into the persisted cell-partitioned residual index. The value state
  * is oracle-checked (CORRECTNESS q82); this spec pins the two
  * properties the oracle cannot see:
  *   - the writer path changes nothing: the post-merge read-back
  *     equals the plain union of base and delta encodes, and
  *   - the rewrite is bounded: cells the batch does not land in keep
  *     their files PHYSICALLY identical (same names, same bytes
  *     mtime), which at 100 TB is what makes nightly index updates
  *     O(touched cells) instead of an index rebuild.
  */
class IndexMaintenanceSpec extends AnyFunSuite {
  import TestSpark._

  private val sfDir = "/root/testdata/sf0.001"

  test("index upsert equals the frozen-model union; untouched cells physically intact") {
    val e = Tables.embeddings(spark, sfDir)
    val cents = Similarity.ivfCentroids(e, 16)
    val (_, books) = Similarity.rpqModels(e, cents)
    val base = Similarity.pqResidualEncodeWithModel(e, cents, books)
    // a SMALL batch (8 vectors) so some cells are guaranteed untouched
    val delta = e.filter(col("vec_id") < 8)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
    val deltaIdx = Similarity.pqResidualEncodeWithModel(delta, cents, books)

    val dir = java.nio.file.Files.createTempDirectory("graft_idxspec_").toString + "/index"
    base.write.mode("overwrite").partitionBy("cell").parquet(dir)
    def fileState(): Map[String, Map[String, Long]] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("cell=")).map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified()).toMap
      }.toMap
    val before = fileState()
    val touched = deltaIdx.select("cell").distinct().collect().map(_.getLong(0)).toSet
    assert(touched.nonEmpty && touched.size < before.size,
      s"precondition: the batch must land in a strict subset of cells, got $touched")

    MergeWriter.applyToPartitioned(spark, dir, deltaIdx, "vec_id", "cell")

    val after = fileState()
    before.foreach { case (cellDir, files) =>
      val cell = cellDir.stripPrefix("cell=").toLong
      if (!touched.contains(cell))
        assert(after(cellDir) == files,
          s"untouched $cellDir was rewritten: ${files.keySet} -> ${after(cellDir).keySet}")
      else
        assert(after(cellDir) != files, s"touched $cellDir should have been rewritten")
    }

    // writer round trip = plain union (no row lost, duplicated or altered)
    val got = spark.read.parquet(dir)
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("pq_code"), col("err_bp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = base.unionByName(deltaIdx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, "post-merge index state must equal base ∪ delta encode")
  }

  test("q82 entry: new ids appended, base ids re-encoded identically, err_bp comparable") {
    val out = Similarity.indexUpsertApply(spark, Tables.embeddings(spark, sfDir))
      .collect()
    val (delta, baseRows) = out.partition(_.getLong(0) >= 1000000L)
    assert(delta.length == 500 && baseRows.length == 500)
    // base half must be exactly the q81 encode (frozen models are the
    // SAME models q81 trains — insert-only merge cannot disturb them)
    val q81 = Similarity.pqResidualEncode(Tables.embeddings(spark, sfDir)).collect()
    assert(baseRows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      q81.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq,
      "merging new arrivals must not change existing index rows")
    // reversed vectors are genuinely re-encoded, not copied
    val byId = out.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val changed = (0L until 500L).count(i => byId(i) != byId(i + 1000000L))
    assert(changed > 400, s"reversal should re-key nearly every vector, got $changed/500")
  }

  test("vector health: clean store passes, every corruption rule is seen, nulls counted") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    // the raw store is healthy on every row of the card
    val clean = Similarity.vectorHealth(emb).collect()
    assert(clean.nonEmpty && clean.forall(_.getAs[Boolean]("healthy")))
    assert(clean.forall(r => r.getAs[Long]("min_dim") == 64L
      && r.getAs[Long]("max_dim") == 64L))
    // the corruption view gives each failure column exactly the mass
    // the first-match-wins id rules inject
    val ids = emb.select("vec_id").collect().map(_.getLong(0))
    val nZero = ids.count(_ % 101 == 0).toLong
    val nNan = ids.count(i => i % 103 == 0 && i % 101 != 0).toLong
    val nShort = ids.count(i => i % 107 == 0 && i % 101 != 0 && i % 103 != 0).toLong
    val audit = Similarity.vectorHealth(Similarity.vecCorruptView(emb)).collect()
    assert(audit.map(_.getAs[Long]("n_zero")).sum == nZero)
    assert(audit.map(_.getAs[Long]("n_nonfinite")).sum == nNan)
    assert(audit.forall(r => r.getAs[Long]("min_dim") == 64L ||
      (r.getAs[Long]("min_dim") == 4L && !r.getAs[Boolean]("healthy"))),
      "a label holding a truncated vector reads min_dim 4 and fails")
    assert(nShort == 0L || audit.exists(_.getAs[Long]("min_dim") == 4L),
      "the truncation rule must be visible in the card")
    // a null embedding is its own failure class, not a crash
    import spark.implicits._
    val withNull = Seq((1L, Array(1.0f, 2.0f), 0), (2L, null.asInstanceOf[Array[Float]], 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.vectorHealth(withNull).collect().head
    assert(r.getAs[Long]("n_null") == 1L && !r.getAs[Boolean]("healthy"))
    // NULL vectors must NOT leak the legacy size(NULL) = −1 sentinel
    // into the dim stats — min_dim skips NULLs like the oracle's MIN
    assert(r.getAs[Long]("min_dim") == 2L && r.getAs[Long]("max_dim") == 2L,
      s"min/max dim must skip NULL embeddings, got $r")
  }

  test("release stores: registered once, probed per batch, never rebuilt") {
    import graft.sources.IndexCatalog
    val docs = Tables.documents(spark, sfDir)
    IndexCatalog.registerReleaseStores(docs, "rel_store")
    val inc = graft.operators.Dedup.ingestView(docs)
    // catalog-probe verdicts are bit-identical to the self-contained op
    // the per-batch probe: two LEFT equi-joins against the named stores
    def probe(batch: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.releaseDedupWithStores(
        spark.table("rel_store_fp"), spark.table("rel_store_bands"), batch)
    val viaCatalog = probe(inc).collect().toSeq
    val direct = graft.operators.Dedup.releaseDedup(docs, inc).collect().toSeq
    assert(viaCatalog == direct,
      "the registered-store probe must equal the rebuild path verdict-for-verdict")
    // the layout contract holds: all three tables bucketed on their probe key
    Seq("rel_store_fp" -> "fp", "rel_store_bands" -> "band_hash",
        "rel_store_docs" -> "doc_id").foreach { case (t, key) =>
      val ddl = spark.sql(s"SHOW CREATE TABLE $t").collect()(0).getString(0)
      assert(ddl.contains("CLUSTERED BY") && ddl.contains(key),
        s"$t must be bucketed by $key:\n$ddl")
    }
    // a SECOND batch probes the same frozen tables with zero rebuild:
    // every store file stays physically identical (name + mtime)
    def files(t: String): Map[String, Long] = {
      val loc = spark.sql(s"DESCRIBE EXTENDED $t").collect()
        .find(_.getString(0) == "Location").get.getString(1).stripPrefix("file:")
      new java.io.File(loc).listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = Seq("rel_store_fp", "rel_store_bands", "rel_store_docs").map(files)
    val inc2 = inc.withColumn("doc_id", col("doc_id") + 7000000000000L)
    val n2 = probe(inc2).count()
    assert(n2 == inc.count(), "the second batch gets one verdict per doc")
    val after = Seq("rel_store_fp", "rel_store_bands", "rel_store_docs").map(files)
    assert(before == after,
      "probing must never rewrite a store file — build once per release, reuse per batch")
  }
}
