package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Corpus

/** Structured Streaming form of the corpus-construction path: the
  * row-local screens of the q55 pipeline (language-ID, quality score,
  * reproducible sampling) run unchanged on a live document ingest
  * stream — they are stateless projections, so the batch and streaming
  * plans are literally the same expressions. Content dedup becomes
  * `dropDuplicatesWithinWatermark` on the fingerprint with an
  * ingest-time watermark: state holds one watermark's worth of
  * fingerprints (bounded), and the first arrival of each content wins —
  * the streaming analogue of the batch min-doc_id canonical pick.
  *
  * The token-budget cut intentionally stays batch-side: a global
  * per-language running sum has no bounded-state streaming form; the
  * production shape is screen-on-ingest (this), pack-on-snapshot (q49).
  */
object DocStreams {

  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over a directory of documents parquet. */
  def readDocStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docsSchema).parquet(dir)

  final case class CapDocIn(doc_id: Long, lang: String, source: String)
  final case class CapClassSt(admitted: Long)
  final case class CapOut(doc_id: Long, lang: String, source: String,
                          cap_hash: Long, class_rank: Long, keep: Boolean)

  /** q138 at the door: INGEST-TIME SOURCE CAP — per (lang, source)
    * class a running admission counter as keyed state, admitting
    * documents until the quota and rejecting after (the batch
    * operator's fixed-quota semantics run live, so a runaway source is
    * cut off AT the door instead of in the nightly release build).
    *
    * STATED CONTRACT DIFFERENCE from batch q138 (the releaseDedupSink
    * discipline — name the divergence, don't hide it): ARRIVAL order
    * replaces global hash order. Within each micro-batch a class's
    * documents are sorted by the SAME (cap_hash, doc_id) total order
    * the batch operator ranks by, so on a fixed arrival order that
    * presents documents in global hash order — one batch, or batches
    * pre-split along the hash order — the door's keep set and ranks
    * equal batch q138 exactly (spec-pinned, restart-soaked). Under
    * arbitrary arrival interleaving the door admits first-come (the
    * only online option: a door cannot displace an already-admitted
    * document), while batch ranks the full corpus — a late low-hash
    * doc may be kept by batch and rejected at the door.
    *
    * State is ONE counter per (lang, source) class —
    * class-dimension-sized at any volume (the bounded-state claim is
    * structural: classes are a dimension, not a population — unlike
    * user-keyed doors no eviction is needed). PER-BATCH memory is a
    * different bound and is stated, not hidden: the in-batch hash-order
    * sort buffers one micro-batch's rows of a class in its task, so a
    * catch-up replay over a deep backlog must bound micro-batch size
    * (`maxFilesPerTrigger` / `maxBytesPerTrigger` — the standard
    * file-source lever); steady-state door batches are
    * arrival-rate-sized and the exact ranks matter more than the
    * worst-case replay. */
  def sourceCapDoor(docs: org.apache.spark.sql.Dataset[CapDocIn],
                    capPerClass: Long)
      : org.apache.spark.sql.Dataset[CapOut] = {
    require(capPerClass >= 1, s"capPerClass must be >= 1, got $capPerClass")
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    docs
      .groupByKey(d => (Option(d.lang), Option(d.source)))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (_: (Option[String], Option[String]), it: Iterator[CapDocIn],
         state: org.apache.spark.sql.streaming.GroupState[CapClassSt]) => {
          val kern = graft.functions.HashExpressions.Md5Kernels
          val md = kern.digest()
          def capHash(id: Long): Long = {
            md.reset()
            md.update(s"cap:$id".getBytes(java.nio.charset.StandardCharsets.UTF_8))
            kern.first60(md.digest())
          }
          // the batch operator's (cap_hash, doc_id) total order, applied
          // within the arrival wave
          val sorted = it.toSeq.map(d => (capHash(d.doc_id), d))
            .sortBy { case (h, d) => (h, d.doc_id) }
          var n = state.getOption.map(_.admitted).getOrElse(0L)
          val out = sorted.map { case (h, d) =>
            n += 1
            CapOut(d.doc_id, d.lang, d.source, h, n, n <= capPerClass)
          }
          state.update(CapClassSt(n))
          out.iterator
        })
  }

  /** Incremental corpus screen: every stage's verdict as a column
    * (same trail as the batch pipeline), survivors only. The row-local
    * verdict block is [[Corpus.withScreenColumns]] — literally the
    * batch pipeline's expressions, so the two cannot drift. */
  def corpusScreen(docs: DataFrame, rateBpByLang: Seq[(String, Int)],
                   defaultBp: Int): DataFrame =
    Corpus.withScreenColumns(docs, rateBpByLang, defaultBp)
      .withColumn("ingest_ts", current_timestamp())
      .withWatermark("ingest_ts", "1 hour")
      .dropDuplicatesWithinWatermark("fingerprint")
      .filter(col("is_quality") && col("sampled"))
      .select("doc_id", "lang", "fingerprint", "alpha_bp")

  /** documents schema when the SOURCE carries the ingest timestamp —
    * event time, not processing time. */
  val docsWithTsSchema: StructType = StructType(
    docsSchema.fields :+ StructField("ingest_ts", TimestampType))

  def readDocStreamWithTs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docsWithTsSchema).parquet(dir)

  /** EVENT-TIME corpus screen: identical verdict expressions, but the
    * watermark and dedup state are keyed on the source's own ingest_ts
    * column. Unlike the processing-time variant above, this is
    * REPLAYABLE — reprocessing the same input from a checkpoint (or a
    * backfill) advances the watermark through the same event-time
    * sequence and reaches the same verdicts, which is what an audited
    * training-data pipeline needs. State is still bounded by the
    * watermark horizon. */
  def corpusScreenEventTime(docs: DataFrame, rateBpByLang: Seq[(String, Int)],
                            defaultBp: Int): DataFrame =
    Corpus.withScreenColumns(docs, rateBpByLang, defaultBp)
      .withWatermark("ingest_ts", "1 hour")
      .dropDuplicatesWithinWatermark("fingerprint")
      .filter(col("is_quality") && col("sampled"))
      .select("doc_id", "lang", "fingerprint", "alpha_bp", "ingest_ts")

  /** Streaming NEAR-DUP LOOKUP against an indexed corpus: each
    * incoming document computes its MinHash band keys row-locally
    * (the same codegen kernels as the batch q31 — stateless, so the
    * streaming plan is the batch expressions verbatim) and probes the
    * static corpus band index with a stream-static equi-join. Emits
    * one row per band collision (new_doc_id, corpus_doc_id, band_idx)
    * — the ingest-time "is this a near-dup of something we already
    * hold" feed; downstream dedups/aggregates per pair (kept raw here:
    * per-pair aggregation on a stream needs watermark state, while the
    * collision feed itself is stateless and unbounded-safe).
    *
    * At 100 TB the index is [[graft.operators.Dedup.minhashBands]]
    * persisted bucketed by (band_idx, band_hash), so each micro-batch
    * probes co-located buckets without reshuffling the index. */
  def nearDupLookup(docs: DataFrame, corpusBands: DataFrame): DataFrame =
    graft.operators.Dedup.minhashBands(docs)
      .withColumnRenamed("doc_id", "new_doc_id")
      .join(corpusBands.withColumnRenamed("doc_id", "corpus_doc_id"),
        Seq("band_idx", "band_hash"))
      .select("new_doc_id", "corpus_doc_id", "band_idx")

  /** Streaming RARITY LOOKUP: incoming documents scored row-locally
    * against a STATIC vocabulary model — the ingest-time twin of the
    * batch q75 screen ([[graft.operators.Frequency.rarityScreen]]).
    * The model ([[graft.operators.Frequency.rarityModel]]: token →
    * exact count + corpus total, ≤ capacity entries) is trained
    * batch-side on the released corpus and rides inside the
    * `rarity_score` kernel as a hash map; scoring is the same integer
    * cost formulas, one kernel call per row — STATELESS, so it runs at
    * any ingest rate with zero state store. The batch screen's own
    * scorer and view unsorted ([[graft.operators.Frequency.rarityView]]):
    * docs with zero tokens are dropped. */
  def rarityLookup(docs: DataFrame, model: Map[String, Long], nTotal: Long,
                   phiBp: Int = 10, fenceOovBp: Int = 5000): DataFrame =
    graft.operators.Frequency.rarityView(
      graft.operators.Frequency.rarityScoreRowLocal(docs, model, nTotal, phiBp, fenceOovBp))

  /** Ingest-time LM perplexity screen (q100's stream twin): score each
    * arriving document against the FROZEN collected bigram model
    * ([[graft.operators.LmScreen.lmModel]]) — vocabulary fold, pair /
    * context / unseen surprisal lookups and the per-doc mean, all in
    * the one row-local `lm_score` kernel over the token array (no
    * explode, no state, no shuffle). Retraining belongs batch-side
    * (the rarity/BPE discipline: a silently drifting model would
    * re-score the corpus). The batch q100's own scorer and view
    * ([[graft.operators.LmScreen.lmView]]), unsorted. */
  def lmLookup(docs: DataFrame, model: graft.operators.LmScreen.LmModel): DataFrame =
    graft.operators.LmScreen.lmView(graft.operators.LmScreen.lmScoreRowLocal(docs, model))

  /** Ingest-time DSIR relevance screen (q101's stream twin): score
    * each arriving document against the FROZEN collected delta model
    * ([[graft.operators.Dsir.dsirModel]] — exactly
    * [[graft.operators.Dsir.Buckets]] entries) with the one row-local
    * `dsir_score` kernel over the token array: hash each token into its
    * bucket, read the bucket's delta, sum. No explode,
    * no state, no shuffle; retraining is batch-side (the frozen-model
    * contract — a drifting model would silently re-score the corpus).
    * The batch q101's own scorer and view
    * ([[graft.operators.Dsir.dsirView]]), unsorted. */
  def dsirLookup(docs: DataFrame, model: graft.operators.Dsir.DsirModel): DataFrame =
    graft.operators.Dsir.dsirView(graft.operators.Dsir.dsirScoreRowLocal(docs, model))

  /** Ingest-time retrieval percolation (q103's stream twin): every
    * arriving document is chunked by the ONE shared geometry and each
    * chunk scored row-locally against the FROZEN benchmark-query
    * feature model ([[graft.operators.Corpus.retrievalModel]] — a
    * literal benchmark-set-sized array, the freeze discipline); pairs
    * at or above `minSimQ20` are emitted — contamination/duplication
    * alerting at the door, before a chunk ever reaches the corpus.
    * No join, no state, no shuffle; scores bit-identical to the
    * batch q103 scoring (shared dot/sim expressions). */
  def retrievalLookup(docs: DataFrame, model: Seq[(Long, Array[Byte], Long)],
                      minSimQ20: Long): DataFrame =
    graft.operators.Corpus.retrievalLookup(docs, model, minSimQ20)

  /** Ingest-time decode-once report frame
    * ([[graft.operators.TextAnalysis.docReport]]'s stream twin): the
    * frame is a pure row-local pass against three FROZEN models, so
    * the SAME function runs unmodified on a streaming DataFrame —
    * every arriving document lands in the persisted narrow frame with
    * all fourteen screens' fields already computed, and no consumer
    * ever re-reads the payload. Stateless; spec-equal to the batch
    * frame through a real file source. */
  def docReportStream(docs: DataFrame,
                      rarityModel: (Map[String, Long], Long),
                      lmModel: graft.operators.LmScreen.LmModel,
                      dsirModel: graft.operators.Dsir.DsirModel,
                      benchWindowHashes: Seq[Long] = Nil): DataFrame =
    graft.operators.TextAnalysis.docReport(docs, rarityModel, lmModel, dsirModel,
      benchWindowHashes)

  /** Ingest-time media report ([[graft.operators.Multimodal.mediaReport]]'s
    * stream twin): each arriving payload is decoded once and lands as
    * the narrow nested record (features + frame samples, no content
    * bytes) — stateless per-partition map, same kernels as batch.
    * Spec-equal to the batch frame through a real file source. */
  def mediaReportStream(docs: DataFrame, stride: Int = 2): DataFrame =
    graft.operators.Multimodal.mediaReport(docs, stride = stride).toDF()

  /** Ingest-time morphology validation (q79's stream twin): the same
    * SWC parser and tree walk, stateless and row-local — every arriving
    * entity's payload is screened at ingest, the shape the reference's
    * per-resource validation loop has (one resource at a time) but on
    * the streaming engine. Spec-equal to the batch q79. */
  def morphMetricsStream(docs: DataFrame): DataFrame =
    graft.operators.Morphology.morphMetricsRowLocal(docs)

  /** Ingest-time trace consistency (q80's stream twin): decode +
    * classify + declared-vs-computed per sweep, stateless/row-local —
    * a mislabeled trace is caught the moment it lands. Spec-equal to
    * the batch q80. */
  def traceCheckStream(docs: DataFrame): DataFrame =
    graft.operators.Traces.sweepConsistencyRowLocal(docs)

  /** Ingest-time region validation (q94's stream twin): every arriving
    * entity's declared region is checked against the region computed
    * from its coordinates the moment it registers — the reference runs
    * this as a per-resource batch loop; here the voxel volume and
    * ancestor closure are bounded STATIC broadcasts and the verdict is
    * a stream-static join chain, so the check is continuous and
    * stateless (re-snapshotting the volume on an atlas release is a
    * batch-side swap, the frozen-model contract). Spec-equal to the
    * batch q94. */
  def regionCheckStream(entities: DataFrame, nation: DataFrame,
                        region: DataFrame): DataFrame =
    graft.operators.Atlas.regionVerdicts(entities, nation, region)

  /** Ingest-time leaf-region attribution (q98's stream twin): every
    * arriving morphology is decoded, walked and binned against the
    * STATIC annotation volume the moment it lands — kernel + broadcast
    * label only, stateless (the corpus-level rollup stays a batch/
    * consumer concern; within one entity the kernel has already
    * combined duplicate voxels). Spec-proven: per-entity sums equal
    * the batch q98 rollup. */
  def leafRegionStream(docs: DataFrame, nation: DataFrame,
                       region: DataFrame): DataFrame =
    graft.operators.NeuriteAtlas.leafRegionRowsLocal(docs, nation, region)

  /** Ingest-time BPE tokenization stats (q85b's stream twin): arriving
    * documents are tokenized against the FROZEN batch-trained merge
    * list — stateless row-local work, the same contract as
    * [[rarityLookup]]/pqEncodeStream (retraining the tokenizer would
    * silently re-segment the whole corpus, so a deployment trains
    * batch-side and freezes; spec-equal to the batch q85b). */
  def bpeTokenizeStream(docs: DataFrame,
                        merges: Seq[(String, String)]): DataFrame =
    graft.operators.Bpe.tokenizeStatsRowLocal(docs, merges)

  /** The MAINTENANCE half of incremental near-dup: append each incoming
    * document's band rows to the persisted index [[nearDupLookup]]
    * probes. Band computation is stateless/row-local, the sink is a
    * plain append (band rows are immutable facts about a doc), and the
    * checkpoint makes it exactly-once per input file — so lookup +
    * maintenance together give ingest-time dedup whose index grows with
    * the corpus, no rebuild. Returns the started query. */
  def bandIndexMaintenance(docs: DataFrame, indexPath: String,
                           checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.operators.Dedup.minhashBands(docs)
      .writeStream.outputMode("append")
      .format("parquet").option("path", indexPath)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** The MAINTENANCE half of the lexical index (q88's stream form —
    * the Lucene segment model): each micro-batch's documents become a
    * new immutable posting SEGMENT under `seg=<batchId>` plus a
    * per-segment doc-count meta row, so [[searchSegments]] always
    * scores against the exact frozen N = Σ segment counts. Overwrite
    * into the batch-id-keyed directory makes replay idempotent (a
    * crash between the two writes re-runs the batch into the same
    * segment paths); posting rows are per-doc facts, disjoint across
    * segments as long as a doc ingests once (file source +
    * checkpoint), so the segment union is bit-equal to a batch
    * rebuild over the union corpus — spec-proven. Compaction of many
    * small segments into the bucketed q88 layout is the batch
    * [[graft.sources.IndexCatalog.registerPostingIndex]]. */
  def postingMaintenance(docs: DataFrame, indexPath: String, metaPath: String,
                         checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val b = batch.toDF()
        graft.operators.Search.postingIndex(b).write.mode("overwrite")
          .parquet(s"$indexPath/seg=$batchId")
        graft.operators.Search.docCount(b).write.mode("overwrite")
          .parquet(s"$metaPath/seg=$batchId")
      }
      .start()

  /** q108's stream form — the INGEST DOOR: each micro-batch of
    * arriving documents runs the batch release-dedup probe against the
    * FROZEN collapsed store frames ([[graft.operators.Dedup.releaseStores]],
    * built once per release) and writes the verdicts under
    * `batch=<id>`. foreachBatch is the deployment shape here on
    * purpose: the verdict needs a per-doc aggregate over band matches,
    * which a pure append stream cannot express without watermark
    * state — the micro-batch IS the batch, and the probe inside it is
    * the same two linear equi-joins (batch-sized cost at any store
    * size). Overwrite into the batch-id-keyed directory + checkpoint
    * makes replay idempotent, the postingMaintenance discipline. */
  def releaseDedupSink(docs: DataFrame, fpStore: DataFrame, bandStore: DataFrame,
                       outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Dedup.releaseDedupWithStores(fpStore, bandStore, batch.toDF())
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .start()

  /** q113's stream twin — span-level decontamination at the door:
    * arriving documents probe the FROZEN collected benchmark window
    * set ([[graft.operators.Dedup.benchmarkWindowHashes]],
    * eval-suite-sized — the freeze discipline) entirely row-locally:
    * window hashes, set probe and the interval merge run inside the
    * one `window_spans` kernel batch q113 also scores with, and the
    * spans leave through the same explode view, unsorted. Stateless,
    * no join — runs
    * at any ingest rate. */
  def contaminationLookup(docs: DataFrame, benchHashes: Seq[Long],
                          windowTokens: Int = 8): DataFrame =
    graft.operators.Dedup.contaminationSpansRowLocal(docs, benchHashes, windowTokens)

  /** q114's stream twin — decontamination APPLIED at the door: each
    * arriving document is cut against the same frozen benchmark window
    * set and lands already clean (counts + clean hash), so nothing
    * downstream ever sees the leaked spans. One projection, stateless,
    * no join — the probe, interval fold and cut share the batch
    * kernels verbatim (spec-proven bit-equal to batch q114). */
  def decontamLookup(docs: DataFrame, benchHashes: Seq[Long],
                     windowTokens: Int = 8): DataFrame =
    graft.operators.Dedup.decontamApplyRowLocal(docs, benchHashes, windowTokens)

  /** the q128 plan at the ingest door: each arriving document lands
    * with its metadata already repaired (chars from content
    * unconditionally, lang only under positive marker evidence — the
    * SAME row-local kernel as the batch operator, so the door and the
    * batch fix cannot drift). Every doc emits; unchanged docs pass
    * through with their declared values and false flags. Pure
    * row-local ⇒ micro-batch invariant by construction (spec-proven
    * through a real file source). */
  def metadataFixLookup(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.metadataFixRowLocal(docs)

  /** the q117 plan at the ingest door: frozen per-language rates
    * ([[graft.operators.Corpus.temperatureRates]]) applied by the
    * stateless hash-threshold idiom — each arriving doc's verdict is a
    * pure function of (doc_id, its language's rate), so any
    * micro-batching yields the same kept set as the batch sampler
    * (spec-proven); the plan is realised in expectation, not exactly
    * (the stateless trade — q117b's exact fill needs the batch form).
    *
    * UNKNOWN-LANGUAGE CONTRACT: a document whose language is absent
    * from the frozen plan (a language that appeared AFTER the plan
    * froze) gets `unknownLangBp` — the default 0 DROPS it, the
    * conservative posture for a budgeted mixture (an unplanned
    * language has no token budget, so admitting it silently skews
    * every planned share). A deployment that prefers pass-through
    * quarantine sets `unknownLangBp = 10000` (keep all) or any raw
    * share, and re-freezes the plan to give the new language a real
    * rate; either way the choice is explicit here, never implicit. */
  def temperatureLookup(docs: DataFrame,
                        rates: Seq[(String, Int)],
                        unknownLangBp: Int = 0): DataFrame =
    // the draw is q117b's OWN "temp:" salt, not the shared sampleHash:
    // a door correlated with the q48/q55 sampling decisions would keep
    // min(r1, r2) instead of r1·r2 when composed with them, and the
    // kept set would bear no relation to q117b's draw-order fill
    docs.withColumn("keep",
      graft.operators.Dedup.md5_60(
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("temp:"),
          org.apache.spark.sql.functions.col("doc_id").cast("string"))) <
        graft.operators.Corpus.thresholdCol(rates, unknownLangBp))

  /** q87's exact ranking over the live segmented index: postings =
    * the segment union (the seg partition column is bookkeeping, not
    * data), N = the summed per-segment counts — never derived from
    * the postings a query happens to read. */
  def searchSegments(spark: SparkSession, indexPath: String, metaPath: String,
                     queries: Seq[(Int, Seq[String])] = graft.operators.Search.Queries,
                     k: Int = graft.operators.Search.SearchTopK): DataFrame =
    graft.operators.Search.indexedSearch(
      graft.Tables.read(spark, indexPath).drop("seg"),
      graft.Tables.read(spark, metaPath).agg(sum("n_docs").as("n_docs")),
      queries, k)

  /** Ingest-time PERCOLATION — standing queries evaluated against
    * every arriving document (the alerting/routing half of a search
    * deployment; ES calls it percolate): row-local scoring under the
    * FROZEN df/N stats of [[graft.operators.Search.keywordStats]], the
    * same frozen-model discipline as [[rarityLookup]]. Emits one row
    * per qualifying (doc, query) with the exact q87 score —
    * spec-proven equal to the batch [[graft.operators.Search.percolate]]
    * (and, top-k'd under shared stats, to keywordSearch itself).
    * Re-freezing stats as the corpus drifts is a batch-side rebuild,
    * exactly like the ANN codebooks. */
  def percolateStream(docs: DataFrame, dfByTerm: Map[String, Long], nDocs: Long,
                      queries: Seq[(Int, Seq[String])] = graft.operators.Search.Queries): DataFrame =
    graft.operators.Search.percolate(docs, dfByTerm, nDocs, queries)

  /** Streaming CORPUS COMPOSITION: the per-source × language half of
    * the q60 corpus card, maintained continuously — per event-time hour
    * window: doc and token counts plus quality/sample pass counts, from
    * the SAME verdict expressions as the batch card
    * ([[Corpus.withScreenColumns]] / [[Corpus.tokenCountCol]]), so the
    * live feed cannot drift from the release card. The dedup column is
    * deliberately absent: min-doc_id-per-fingerprint needs a global
    * window (batch-side), while everything here is row-local before one
    * watermarked aggregate. State = one watermark horizon of open
    * (window, source, lang) groups; one shuffle per micro-batch. */
  def sourceComposition(docs: DataFrame, rateBpByLang: Seq[(String, Int)],
                        defaultBp: Int): DataFrame =
    Corpus.withScreenColumns(docs, rateBpByLang, defaultBp)
      .withColumn("n_tokens", Corpus.tokenCountCol)
      .withWatermark("ingest_ts", "1 hour")
      .groupBy(window(col("ingest_ts"), "1 hour"), col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("is_quality"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"))
      .select(unix_micros(col("window.start")).as("hour_us"),
        col("source"), col("lang"),
        col("n_docs"), col("n_tokens"), col("n_quality"), col("n_sampled"))

  /** event-time ingest monitoring: per-hour × language document counts
    * under the watermark — the operational feed of a document ingest
    * pipeline (in append mode each window finalizes exactly once, when
    * the watermark passes its end). One shuffle on (window, lang);
    * state is one watermark horizon of open windows per language. */
  def hourlyLangCounts(docs: DataFrame): DataFrame =
    docs.withWatermark("ingest_ts", "1 hour")
      .groupBy(window(col("ingest_ts"), "1 hour"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("hour_us"), col("lang"), col("n"))
}
