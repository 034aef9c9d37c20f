package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Search, Similarity}

/** CATALOG registration for the persisted ANN index tables (SURVEY
  * §2E): the q76/q78/q81 artifacts written as NAMED tables instead of
  * anonymous parquet directories, so any metastore-aware engine —
  * another Spark session, Trino/DuckDB via the warehouse layout,
  * the reference's "aggregated view" consumers
  * (/root/reference/view_aggregate) — can read the indexes by name
  * without knowing the directory layout.
  *
  * Layout contract (documented for external readers, see README):
  *   - `<table>_ivfpq`: columns (vec_id BIGINT, pq_code BIGINT,
  *     cell INT), PARTITIONED BY cell — a probe restricted to its
  *     cells prunes to those partitions' files at the scan; the
  *     float32 vector store is never touched at search time.
  *   - `<table>_pqcodes`: columns (vec_id BIGINT, pq_code BIGINT,
  *     err_bp BIGINT), BUCKETED BY vec_id — q77-style exact re-rank
  *     joins (codes ⋈ candidates on vec_id) co-locate without a
  *     shuffle of the big side when the raw-vector table is bucketed
  *     the same way.
  *
  * At 100 TB both writes are one corpus scan (the models are bounded
  * broadcast objects); the catalog entry is metadata-only on top. */
object IndexCatalog {

  /** Build + register the IVF-PQ index as a catalog table partitioned
    * by cell (the q78 pruning layout, now addressable by name). */
  def registerIvfPqIndex(embeddings: DataFrame, table: String,
                         nCells: Int = 16, m: Int = 8, dim: Int = 64,
                         k: Int = 16): Unit =
    Similarity.buildIvfPqIndex(embeddings, nCells, m, dim, k)
      .hint("rebalance", "cell") // ≈1 file per cell, not tasks × cells
      .write.mode("overwrite").format("parquet")
      .partitionBy("cell")
      .saveAsTable(table)

  /** Build + register the flat PQ code table bucketed by vec_id (the
    * q77 re-rank join key), `buckets` files per write. */
  def registerPqCodes(embeddings: DataFrame, table: String,
                      buckets: Int = 16, m: Int = 8, dim: Int = 64,
                      k: Int = 16): Unit =
    Similarity.pqEncode(embeddings, m, dim, k)
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "vec_id").sortBy("vec_id")
      .saveAsTable(table)

  /** External-reader path: the registered index by name, restricted to
    * the probed cells — the filter is a partition predicate, so the
    * scan reads only those cells' files (spec-proven). */
  def probeCells(spark: SparkSession, table: String, cells: Seq[Int]): DataFrame =
    spark.table(table).filter(col("cell").isin(cells: _*))

  /** Build + register the vecReport frame (cell, cosine, PQ code,
    * reconstruction error per vector — the vector family's decode-once
    * narrow frame) as a catalog table partitioned by cell, so
    * cluster-scoped readers (per-cell sampling, drift slices, SemDeDup
    * shards) prune to their cells' files at the scan. */
  def registerVecReport(embeddings: DataFrame, table: String,
                        nCells: Int = 16, m: Int = 8, dim: Int = 64): Unit =
    Similarity.vecReport(embeddings, nCells, m, dim)
      .hint("rebalance", "cell") // ≈1 file per cell, not tasks × cells
      .write.mode("overwrite").format("parquet")
      .partitionBy("cell")
      .saveAsTable(table)

  /** Build + register the inverted posting index BUCKETED by term
    * (q88's persisted layout: a search's term-equality filter prunes
    * the scan to its terms' buckets) plus the 1-row corpus-size
    * metadata table `<table>_meta` frozen at build time — the
    * searcher must not derive N from whatever pruned sliver it reads.
    * Layout contract: (term STRING, doc_id BIGINT, n_tokens BIGINT,
    * tf BIGINT), doc length denormalized into the posting so scoring
    * needs no per-doc second fetch. */
  def registerPostingIndex(docs: DataFrame, table: String, buckets: Int = 16): Unit = {
    Search.postingIndex(docs)
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "term").sortBy("term")
      .saveAsTable(table)
    Search.docCount(docs)
      .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_meta")
  }

  /** COMPACTION: many small streaming segments → the one bucketed q88
    * layout (the Lucene merge step of the segment model —
    * [[graft.streaming.DocStreams.postingMaintenance]] writes the
    * segments, this folds them). Segments are disjoint per-doc posting
    * facts, so the segment union IS the batch index over the union
    * corpus; the frozen meta table is the summed per-segment count,
    * never derived from a pruned sliver. After compaction queries pay
    * bucket-pruned scans instead of a per-segment small-file sprawl —
    * the read-amplification half of why Lucene merges.
    *
    * PRECONDITION: segments must be per-doc DISJOINT (true for the
    * postingMaintenance append-only segment model, where each doc lands
    * in exactly one micro-batch segment). The frozen meta sums
    * per-segment n_docs; a re-ingested doc appearing in TWO segments
    * would double-count N and skew idf ranking after compaction — an
    * update-capable segment model must dedup doc versions before
    * compacting (or derive N from the distinct doc domain).
    *
    * Both tables are EXTERNAL, their files under `<dataDir>/<table>`
    * and `<dataDir>/<table>_meta`: the caller's directory owns their
    * lifetime (dropping a table leaves its files), so no run leaves
    * table data under the warehouse dir. */
  def compactSegments(spark: SparkSession, indexPath: String, metaPath: String,
                      table: String, dataDir: String, buckets: Int = 16): Unit = {
    def save(w: DataFrameWriter[Row], t: String): Unit =
      w.option("path", s"$dataDir/$t").saveAsTable(t)
    save(graft.Tables.read(spark, indexPath).drop("seg")
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "term").sortBy("term"), table)
    save(graft.Tables.read(spark, metaPath)
      .agg(sum("n_docs").cast("long").as("n_docs"))
      .write.mode("overwrite").format("parquet"), s"${table}_meta")
  }

  /** External-reader search path: q87's ranking through the
    * registered posting index by name — bit-identical output,
    * corpus never touched, scan bucket-pruned to the query terms. */
  def searchPostings(spark: SparkSession, table: String,
                     queries: Seq[(Int, Seq[String])] = Search.Queries,
                     k: Int = Search.SearchTopK): DataFrame =
    Search.indexedSearch(spark.table(table), spark.table(s"${table}_meta"),
      queries, k)

  /** Build + register the q108 door stores as NAMED tables, so the
    * ingest sink ([[graft.streaming.DocStreams.releaseDedupSink]])
    * probes catalog tables instead of re-collapsing the corpus per
    * batch — the stores are built ONCE per release (two
    * map-side-combined min aggregates over one corpus scan) and every
    * batch after that pays only its two probe joins. Layout contract:
    *   - `<table>_fp`: (fp BIGINT, fp_min BIGINT), BUCKETED BY fp —
    *     the exact-probe join co-locates on the fingerprint without
    *     shuffling the store side.
    *   - `<table>_bands`: (band_idx INT, band_hash BIGINT,
    *     band_min BIGINT), BUCKETED BY band_hash — ditto for the
    *     band-bucket probe.
    *   - `<table>_docs`: (doc_id BIGINT, text STRING), BUCKETED BY
    *     doc_id — the q108b confirm's candidate-restricted text fetch
    *     joins on the elected holder ids without shuffling the store
    *     (the shuffle-free half of "the confirm is batch-sized"). */
  def registerReleaseStores(store: DataFrame, table: String,
                            buckets: Int = 16): Unit = {
    val (fpStore, bandStore) = graft.operators.Dedup.releaseStores(store)
    fpStore.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "fp").sortBy("fp")
      .saveAsTable(s"${table}_fp")
    bandStore.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "band_hash").sortBy("band_hash")
      .saveAsTable(s"${table}_bands")
    store.select(col("doc_id"), col("text"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${table}_docs")
  }
}
