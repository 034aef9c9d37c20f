package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventOps
import graft.streaming.EventStreams

class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  /** file-stream sources need a directory — stage the events parquet
    * into one. */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toFile.getAbsolutePath
  }

  test("an unseeded event stream directory is refused with the seeding message") {
    val empty = java.nio.file.Files.createTempDirectory("graft_stream_unseeded").toString
    val e = intercept[IllegalArgumentException](EventStreams.readEventStream(spark, empty))
    assert(e.getMessage.contains("must be seeded"), e.getMessage)
  }

  test("streaming rate-burst monitor equals the batch report under the frozen baseline") {
    val batchEvents = Tables.events(spark, sf)
    val baseline = EventOps.rateBaseline(batchEvents)
    val stream = EventStreams.readEventStream(spark, eventsDir)
    val q = EventStreams.rateBurstMonitor(stream, baseline)
      .writeStream.outputMode("complete")
      .format("memory").queryName("burst_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("burst_out")
      .orderBy("event_type", "hour_us").collect()
    val batch = EventOps.rateBursts(batchEvents).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      Seq("event_type", "hour_us", "n", "hours_observed", "total_n",
        "ratio_pm").foreach(c => assert(s.getAs[Any](c) == b.getAs[Any](c),
        s"column $c: stream ${s.getAs[Any](c)} vs batch ${b.getAs[Any](c)}"))
      assert(s.getAs[Boolean]("known_type"),
        "a baseline frozen from the same window knows every type")
    }
    // a type ABSENT from the frozen baseline always alerts: re-run the
    // monitor with the baseline restricted to one type — every hour of
    // every other type must ship with known_type=false, null ratio
    val oneType = baseline.take(1)
    val q2 = EventStreams.rateBurstMonitor(
        EventStreams.readEventStream(spark, eventsDir), oneType)
      .writeStream.outputMode("complete")
      .format("memory").queryName("burst_unknown")
      .trigger(Trigger.AvailableNow())
      .start()
    q2.processAllAvailable()
    q2.stop()
    val unknown = spark.table("burst_unknown")
      .filter(!col("known_type")).collect()
    val expectedUnknownHours = EventOps.rateBaseline(
      batchEvents.filter(col("event_type") =!= oneType.head._1))
      .map(_._2).sum
    assert(unknown.length.toLong == expectedUnknownHours,
      "every hour of every unplanned type ships")
    unknown.foreach(r => assert(r.isNullAt(r.fieldIndex("ratio_pm"))))
  }

  test("streaming corpus screen matches the batch pipeline's screen verdicts") {
    // stage documents as a single ordered file so first-arrival dedup
    // aligns with the batch min-doc_id canonical pick
    val docsDir = java.nio.file.Files.createTempDirectory("graft_docstream")
    Tables.documents(spark, sf).orderBy("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(docsDir.toFile.getAbsolutePath)
    val rates = Seq("en" -> 1000, "zh" -> 5000)
    val stream = graft.streaming.DocStreams.readDocStream(spark, docsDir.toFile.getAbsolutePath)
    val q = graft.streaming.DocStreams.corpusScreen(stream, rates, 2500)
      .writeStream.outputMode("append")
      .format("memory").queryName("screen_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("screen_out").collect().map(_.getAs[Long]("doc_id")).toSet
    // batch expectation: quality && sampled && canonical copy, no budget cut
    val batch = graft.operators.Corpus.corpusPipeline(
      Tables.documents(spark, sf), rates, 2500, budgetPerLang = Long.MaxValue)
      .filter(col("is_quality") && col("sampled") && col("keep_dedup"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(streamed == batch,
      s"screen sets differ: only-stream=${streamed.diff(batch)} only-batch=${batch.diff(streamed)}")
    assert(streamed.nonEmpty)
  }

  test("event-time corpus screen matches batch verdicts and dedups across restarts") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_evt_docs")
    val srcDir = base.resolve("src").toString
    val ckpt = base.resolve("ckpt").toString
    // 100% sample rates: the restart assertions below must isolate the
    // DEDUP state — with a lossy sampler a re-sent doc could be dropped
    // by its sample hash and the cross-restart dedup check is vacuous
    val rates = Seq("en" -> 10000, "zh" -> 10000)
    // deterministic event time: epoch + doc_id seconds
    def stage(docs: org.apache.spark.sql.DataFrame): Unit = docs
      .withColumn("ingest_ts",
        timestamp_micros((col("doc_id") * 1000000L) + 1600000000000000L))
      .coalesce(1).write.mode("append").parquet(srcDir)

    // memory sink can't resume from a checkpoint — use the real file
    // sink, which is also what an ingest pipeline would write
    val outDir = base.resolve("out").toString
    def runScreen(): Set[Long] = {
      val stream = graft.streaming.DocStreams.readDocStreamWithTs(spark, srcDir)
      val q = graft.streaming.DocStreams.corpusScreenEventTime(stream, rates, 2500)
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
      spark.read.parquet(outDir).collect().map(_.getAs[Long]("doc_id")).toSet
    }

    stage(Tables.documents(spark, sf).orderBy("doc_id"))
    val streamed = runScreen()
    val batch = graft.operators.Corpus.corpusPipeline(
      Tables.documents(spark, sf), rates, 2500, budgetPerLang = Long.MaxValue)
      .filter(col("is_quality") && col("sampled") && col("keep_dedup"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(streamed == batch,
      s"only-stream=${streamed.diff(batch)} only-batch=${batch.diff(streamed)}")

    // restart from the checkpoint: a re-sent copy of a kept doc (same
    // fingerprint, in-watermark event time) must NOT be emitted again;
    // a genuinely new quality doc MUST be — proving both the state
    // resume and that the screen still passes fresh content
    val keptId = streamed.max
    val keptText = Tables.documents(spark, sf)
      .filter(col("doc_id") === keptId).collect().head.getAs[String]("text")
    val novel = (1 to 40).map(i => s"novelword$i").mkString(" ")
    stage(Seq(
      (90001L, keptText, "en", "resend", keptText.length.toLong),
      (90002L, novel, "en", "new", novel.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val after = runScreen()
    assert(!after.contains(90001L), "duplicate content re-sent across restart must stay deduped")
    assert(after.contains(90002L), "novel quality doc must be emitted on resume")
  }

  /** streams the documents, stamped with an `ingest_ts` spread over
    * seven hours, through `hourlyLangCounts`; returns the streamed and
    * the batch (hour, lang) -> n maps. */
  private def hourlyLangCountsVsBatch(queryName: String)
      : (Map[(Long, String), Long], Map[(Long, String), Long]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_evt_counts").toString
    val docs = Tables.documents(spark, sf)
      .withColumn("ingest_ts",
        timestamp_micros((col("doc_id") % 7) * 3600000000L + 1600000000000000L))
    docs.coalesce(1).write.mode("append").parquet(dir)
    val stream = graft.streaming.DocStreams.readDocStreamWithTs(spark, dir)
    val q = graft.streaming.DocStreams.hourlyLangCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table(queryName)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = docs
      .groupBy(window(col("ingest_ts"), "1 hour"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("h"), col("lang"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    (streamed, batch)
  }

  test("event-time hourly language counts equal the batch aggregation") {
    val (streamed, batch) = hourlyLangCountsVsBatch("evt_counts_out")
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming source composition equals the batch card expressions per window") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evt_comp").toString
    val rates = Seq("en" -> 1000, "zh" -> 5000)
    val docs = Tables.documents(spark, sf)
      .withColumn("ingest_ts",
        timestamp_micros((col("doc_id") % 5) * 3600000000L + 1600000000000000L))
    docs.coalesce(1).write.mode("append").parquet(dir)
    val stream = graft.streaming.DocStreams.readDocStreamWithTs(spark, dir)
    val q = graft.streaming.DocStreams.sourceComposition(stream, rates, 2500)
      .writeStream.outputMode("complete")
      .format("memory").queryName("evt_comp_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
    val streamed = spark.table("evt_comp_out").collect().map(key).toMap
    val batch = graft.operators.Corpus.withScreenColumns(docs, rates, 2500)
      .withColumn("n_tokens", graft.operators.Corpus.tokenCountCol)
      .groupBy(window(col("ingest_ts"), "1 hour"), col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("is_quality"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"))
      .select(unix_micros(col("window.start")).as("hour_us"), col("source"),
        col("lang"), col("n_docs"), col("n_tokens"), col("n_quality"), col("n_sampled"))
      .collect().map(key).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // the feed carries every (source, lang) cell the batch card has
    assert(streamed.keySet.map { case (_, s, l) => (s, l) } ==
      batch.keySet.map { case (_, s, l) => (s, l) })
  }

  test("streaming near-dup lookup flags an incoming copy of an indexed corpus doc") {
    import spark.implicits._
    val corpus = Tables.documents(spark, sf)
    val index = graft.operators.Dedup.minhashBands(corpus)
    // incoming batch: one verbatim copy of corpus doc 7, one novel doc
    val copied = corpus.filter(col("doc_id") === 7L)
      .collect().head.getAs[String]("text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ndlookup").toString
    Seq(
      (80001L, copied, "en", "ingest", copied.length.toLong),
      (80002L, (1 to 50).map(i => s"zz$i").mkString(" "), "en", "ingest", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(dir)
    val stream = graft.streaming.DocStreams.readDocStream(spark, dir)
    val q = graft.streaming.DocStreams.nearDupLookup(stream, index)
      .writeStream.outputMode("append")
      .format("memory").queryName("ndlookup_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val hits = spark.table("ndlookup_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // identical text collides in EVERY band with its source doc
    assert(hits.count(_ == (80001L, 7L)) == 8,
      s"verbatim copy must collide in all 8 bands: ${hits.toSeq}")
    assert(!hits.exists(_._1 == 80002L), "novel doc has no collisions")
  }

  test("streaming rarity lookup equals the batch screen under the batch-trained model") {
    // train the q75 vocabulary on the corpus batch-side, then score the
    // SAME corpus as an ingest stream against the static model — every
    // per-doc figure must match the batch operator exactly (the model
    // is fixed, the scoring formulas are shared integer arithmetic)
    val docs = Tables.documents(spark, sf)
    // stage to a clean dir: a file-source stream consumes EVERY parquet
    // file under its path (the testdata dir holds all ten tables; the
    // foreign rows would only be dropped by the zero-token filter)
    val dir = java.nio.file.Files.createTempDirectory("graft_raritystream").toString
    docs.write.mode("overwrite").parquet(dir)
    val want = graft.operators.Frequency.rarityScreen(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Long]("mean_cost"), r.getAs[Boolean]("is_tail"))).toMap
    val (model, n) = graft.operators.Frequency.rarityModel(docs)
    assert(model.nonEmpty && model.size <= 1024, "model is bounded, broadcast-sized")
    val q = graft.streaming.DocStreams.rarityLookup(
        graft.streaming.DocStreams.readDocStream(spark, dir), model, n)
      .writeStream.outputMode("append")
      .format("memory").queryName("rarity_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("rarity_out").collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Long]("mean_cost"), r.getAs[Boolean]("is_tail"))).toMap
    assert(got == want, "stream scoring must reproduce the batch screen verbatim")
  }

  test("streaming lm lookup equals the batch perplexity screen under the frozen model") {
    // train the bigram model batch-side, stream the same corpus through
    // the frozen-model scorer — every per-doc figure must match the
    // batch q100 exactly (the surprisal values were computed ONCE by
    // the fixed-point kernel and ride the collected model; the stream
    // side only folds vocab and sums lookups)
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_lmstream").toString
    docs.write.mode("overwrite").parquet(dir)
    val model = graft.operators.LmScreen.lmModel(docs)
    val k = graft.operators.LmScreen.VocabK
    assert(model.vocab.nonEmpty && model.vocab.size <= k, "vocab bounded by K")
    assert(model.pairMb.size <= (k + 1) * (k + 1), "pair table bounded by (K+1)^2")
    val want = graft.operators.LmScreen.lmScreen(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("total_mb"),
          r.getAs[Long]("avg_mb"), r.getAs[Boolean]("keep"))).toMap
    val q = graft.streaming.DocStreams.lmLookup(
        graft.streaming.DocStreams.readDocStream(spark, dir), model)
      .writeStream.outputMode("append")
      .format("memory").queryName("lm_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("lm_out").collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("total_mb"),
          r.getAs[Long]("avg_mb"), r.getAs[Boolean]("keep"))).toMap
    assert(got == want, "stream scoring must reproduce the batch screen verbatim")
  }

  test("streaming dsir lookup equals the batch weights under the frozen model") {
    // train the delta model batch-side, stream the same corpus through
    // the frozen-model scorer — per-doc weight and keep must match the
    // batch q101 exactly through a real file source (the model's 64
    // deltas were computed ONCE by the fixed-point kernel; the stream
    // side only hashes tokens and sums map lookups, stateless)
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_dsirstream").toString
    docs.write.mode("overwrite").parquet(dir)
    val model = graft.operators.Dsir.dsirModel(docs)
    val want = graft.operators.Dsir.dsirWeights(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("weight_mb"),
          r.getAs[Boolean]("keep"))).toMap
    val q = graft.streaming.DocStreams.dsirLookup(
        graft.streaming.DocStreams.readDocStream(spark, dir), model)
      .writeStream.outputMode("append")
      .format("memory").queryName("dsir_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dsir_out").collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("weight_mb"),
          r.getAs[Boolean]("keep"))).toMap
    assert(got == want, "stream scoring must reproduce the batch weights verbatim")
  }

  test("streaming retrieval percolation scores exactly as the batch q103") {
    // freeze the benchmark-query model batch-side, stream the corpus
    // side through the percolator at threshold 1: every batch top-k
    // row must surface with the IDENTICAL integer score (the batch
    // path goes broadcast-join + TopK; the stream path is a literal
    // model explode — same dot/sim expressions, so bit-equal)
    val docs = Tables.documents(spark, sf)
    val corpusSide = docs.filter(
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(
          graft.operators.Corpus.RetMod.toLong)) =!= 0L)
    val dir = java.nio.file.Files.createTempDirectory("graft_retstream").toString
    corpusSide.write.mode("overwrite").parquet(dir)
    val model = graft.operators.Corpus.retrievalModel(docs)
    assert(model.nonEmpty && model.size < 20, "benchmark-set-sized model")
    val want = graft.operators.Corpus.chunkRetrieval(docs).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("chunk_idx")) -> r.getAs[Long]("sim_q20")).toMap
    val q = graft.streaming.DocStreams.retrievalLookup(
        graft.streaming.DocStreams.readDocStream(spark, dir), model, 0L)
      .writeStream.outputMode("append")
      .format("memory").queryName("ret_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ret_out").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("chunk_idx")) -> r.getAs[Long]("sim_q20")).toMap
    want.foreach { case (k, s) =>
      assert(got.get(k).contains(s),
        s"batch top-k pair $k (sim $s) must percolate with the same score, got ${got.get(k)}")
    }
    assert(got.values.forall(_ >= 0L), "threshold respected")
  }

  test("streaming doc report equals the batch frame under the frozen models") {
    // the decode-once frame is pure row-local work, so the SAME
    // function must produce identical rows at ingest — every screen
    // field computed the moment a document lands
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_reportstream").toString
    docs.write.mode("overwrite").parquet(dir)
    val rar = graft.operators.Frequency.rarityModel(docs)
    val lm = graft.operators.LmScreen.lmModel(docs)
    val ds = graft.operators.Dsir.dsirModel(docs)
    val want = graft.operators.TextAnalysis.docReport(docs, rar, lm, ds)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.toSeq.mkString("|")).toMap
    val q = graft.streaming.DocStreams.docReportStream(
        graft.streaming.DocStreams.readDocStream(spark, dir), rar, lm, ds)
      .writeStream.outputMode("append")
      .format("memory").queryName("report_stream_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("report_stream_out")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.toSeq.mkString("|")).toMap
    assert(got == want, "ingest-time frame must reproduce the batch frame verbatim")
  }

  test("streaming media report equals the batch frame") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_mediastream").toString
    docs.write.mode("overwrite").parquet(dir)
    val want = graft.operators.Multimodal.mediaReport(docs)
      .toDF().collect().map(r => r.getAs[org.apache.spark.sql.Row]("features")
        .getAs[Long]("doc_id") -> r.toSeq.mkString("|")).toMap
    val q = graft.operators.Multimodal.mediaReport(
        graft.streaming.DocStreams.readDocStream(spark, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("media_report_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("media_report_out")
      .collect().map(r => r.getAs[org.apache.spark.sql.Row]("features")
        .getAs[Long]("doc_id") -> r.toSeq.mkString("|")).toMap
    assert(got == want, "ingest-time media frame must reproduce the batch frame")
  }

  test("streaming bpe tokenize equals the batch stats under the frozen merges") {
    // train merges batch-side, stream the same corpus through the
    // frozen-model tokenizer — every per-doc figure must match the
    // batch operator exactly (stateless row-local kernel, shared model)
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_bpestream").toString
    docs.write.mode("overwrite").parquet(dir)
    val merges = graft.operators.Bpe.trainMerges(
      graft.operators.Bpe.vocabulary(docs)).map(m => (m.left, m.right))
    assert(merges.nonEmpty && merges.size <= graft.operators.Bpe.MaxMerges,
      "model is bounded by the merge budget")
    val want = graft.operators.Bpe.tokenizeStats(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_syms"),
          r.getAs[Long]("n_bpe"))).toMap
    val q = graft.streaming.DocStreams.bpeTokenizeStream(
        graft.streaming.DocStreams.readDocStream(spark, dir), merges)
      .writeStream.outputMode("append")
      .format("memory").queryName("bpe_stream_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("bpe_stream_out").collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_syms"),
          r.getAs[Long]("n_bpe"))).toMap
    assert(got == want, "stream tokenization must reproduce the batch stats verbatim")
  }

  test("streaming pq encode equals the batch encode under the frozen codebooks") {
    // train the codebooks batch-side, stream the same vectors through
    // the model-driven encode — every (vec_id, pq_code, err_bp) must
    // match the batch operator (stateless expressions, shared model)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // stage to a clean dir: a file-source stream consumes EVERY parquet
    // file under its path, and the testdata dir holds all ten tables
    val dir = java.nio.file.Files.createTempDirectory("graft_vecstream").toString
    emb.write.mode("overwrite").parquet(dir)
    val books = graft.operators.Similarity.pqCodebooks(emb)
    val want = graft.operators.Similarity.pqEncode(emb).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val q = graft.streaming.VecStreams.pqEncodeStream(
        graft.streaming.VecStreams.readVecStream(spark, dir), books)
      .writeStream.outputMode("append")
      .format("memory").queryName("pq_stream_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("pq_stream_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want, "stream encode must reproduce the batch codes verbatim")
  }

  test("streaming cluster assignment equals the batch q104 assignment under the frozen model") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_clstream").toString
    emb.write.mode("overwrite").parquet(dir)
    val cents = graft.operators.Similarity.ivfCentroids(emb, 16)
    val want = graft.operators.Similarity.clusterAssign(emb).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val q = graft.streaming.VecStreams.clusterAssignStream(
        graft.streaming.VecStreams.readVecStream(spark, dir), cents)
      .writeStream.outputMode("append")
      .format("memory").queryName("cluster_stream_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("cluster_stream_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want, "stream assignment must reproduce the batch cells and cosines verbatim")
  }

  test("streaming vec report equals the batch frame under the frozen model pair") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_vrstream").toString
    emb.write.mode("overwrite").parquet(dir)
    val cents = graft.operators.Similarity.ivfCentroids(emb, 16)
    val books = graft.operators.Similarity.pqCodebooks(emb)
    val want = graft.operators.Similarity
      .vecReportWithModels(emb, cents, books).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val q = graft.streaming.VecStreams.vecReportStream(
        graft.streaming.VecStreams.readVecStream(spark, dir), cents, books)
      .writeStream.outputMode("append")
      .format("memory").queryName("vecreport_stream_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("vecreport_stream_out").collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(got == want, "stream report must reproduce every batch field verbatim")
  }

  test("streaming binary kernels (morphology, traces) equal their batch twins") {
    // the q79/q80 decode is stateless row-local work, so the stream
    // plan is the batch parser verbatim — per-entity metrics must match
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_binstream").toString
    docs.write.mode("overwrite").parquet(dir)
    val stream = graft.streaming.DocStreams.readDocStream(spark, dir)

    val wantMorph = graft.operators.Morphology.morphMetrics(docs).collect().toSet
    val qm = graft.streaming.DocStreams.morphMetricsStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("morph_stream_out")
      .trigger(Trigger.AvailableNow()).start()
    qm.processAllAvailable(); qm.stop()
    assert(spark.table("morph_stream_out").collect().toSet == wantMorph,
      "stream tree walk must reproduce the batch metrics verbatim")

    val wantTrace = graft.operators.Traces.sweepConsistency(docs).collect().toSet
    val qt = graft.streaming.DocStreams.traceCheckStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("trace_stream_out")
      .trigger(Trigger.AvailableNow()).start()
    qt.processAllAvailable(); qt.stop()
    assert(spark.table("trace_stream_out").collect().toSet == wantTrace,
      "stream decode must reproduce the batch consistency report verbatim")
  }

  test("streaming region check equals the batch q94 against the static volume") {
    val dir0 = "/root/testdata/sf0.001"
    val cust = Tables.customer(spark, dir0)
    val (nat, reg) = (Tables.nation(spark, dir0), Tables.region(spark, dir0))
    val dir = java.nio.file.Files.createTempDirectory("graft_regstream").toString
    cust.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(cust.schema).parquet(dir)
    val want = graft.operators.Atlas.regionConsistency(cust, nat, reg).collect().toSet
    val q = graft.streaming.DocStreams.regionCheckStream(stream, nat, reg)
      .writeStream.outputMode("append").format("memory").queryName("region_stream_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("region_stream_out").collect().toSet == want,
      "ingest-time verdicts must reproduce the batch report verbatim")
  }

  test("streaming leaf-region attribution sums to the batch q98 rollup") {
    val dir0 = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir0)
    val (nat, reg) = (Tables.nation(spark, dir0), Tables.region(spark, dir0))
    val dir = java.nio.file.Files.createTempDirectory("graft_leafstream").toString
    docs.write.mode("overwrite").parquet(dir)
    val stream = graft.streaming.DocStreams.readDocStream(spark, dir)
    val q = graft.streaming.DocStreams.leafRegionStream(stream, nat, reg)
      .writeStream.outputMode("append").format("memory").queryName("leaf_stream_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    // the stream emits pre-rollup (type, region) rows; summing them per
    // (morph, type, region) must reproduce the batch q98 exactly
    val got = spark.table("leaf_stream_out")
      .groupBy("morph_id", "neurite_type", "region")
      .agg(org.apache.spark.sql.functions.sum("n_points").as("n_points"),
        org.apache.spark.sql.functions.sum("n_leaves").as("n_leaves"))
      .collect().toSet
    val want = graft.operators.NeuriteAtlas
      .leafRegionAttribution(docs, nat, reg).collect().toSet
    assert(got == want,
      "ingest-time attribution rows must sum to the batch report verbatim")
  }

  test("streaming residual encode equals the batch q81 under frozen models") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_rvecstream").toString
    emb.write.mode("overwrite").parquet(dir)
    val cents = graft.operators.Similarity.ivfCentroids(emb, 16)
    val (_, books) = graft.operators.Similarity.rpqModels(emb, cents)
    val q = graft.streaming.VecStreams.rpqEncodeStream(
        graft.streaming.VecStreams.readVecStream(spark, dir), cents, books)
      .writeStream.outputMode("append").format("memory").queryName("rpq_stream_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("rpq_stream_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val want = graft.operators.Similarity
      .pqResidualEncodeWithModel(emb, cents, books).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == want, "stream residual encode must reproduce the batch codes verbatim")
  }

  test("streaming index maintenance merges each batch into touched cells only") {
    import org.apache.spark.sql.functions.{col, reverse}
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft_idxmaint")
    val srcDir = base.resolve("src").toString
    val indexDir = base.resolve("index").toString
    val ckpt = base.resolve("ckpt").toString
    val cents = graft.operators.Similarity.ivfCentroids(emb, 16)
    val (_, books) = graft.operators.Similarity.rpqModels(emb, cents)
    val enc = (df: org.apache.spark.sql.DataFrame) =>
      graft.operators.Similarity.pqResidualEncodeWithModel(df, cents, books)
    enc(emb).write.mode("overwrite").partitionBy("cell").parquet(indexDir)

    def fileState(): Map[String, Map[String, Long]] =
      new java.io.File(indexDir).listFiles().filter(_.getName.startsWith("cell=")).map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified()).toMap
      }.toMap
    def delta(offset: Long, n: Int) = emb.filter(col("vec_id") < n)
      .select((col("vec_id") + offset).as("vec_id"),
        reverse(col("embedding")).as("embedding"), col("label"))
    def arrive(batch: org.apache.spark.sql.DataFrame): Unit = {
      batch.coalesce(1).write.mode("append").parquet(srcDir)
      val q = graft.streaming.VecStreams.indexMaintainSink(
        graft.streaming.VecStreams.readVecStream(spark, srcDir),
        indexDir, ckpt, cents, books)
      q.processAllAvailable(); q.stop()
    }
    def indexState() = spark.read.parquet(indexDir)
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("pq_code"), col("err_bp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    val before = fileState()
    val d1 = delta(1000L, 4) // a SMALL batch: some cells must stay untouched
    val touched = enc(d1).select("cell").distinct().collect().map(_.getLong(0))
      .map(c => s"cell=$c").toSet
    assert(touched.size < before.size, s"precondition: strict cell subset, got $touched")
    arrive(d1)
    assert(indexState() == asSet(enc(emb)) ++ asSet(enc(d1)),
      "batch 1 must merge into the persisted index")
    fileState().foreach { case (cellDir, files) =>
      if (!touched.contains(cellDir))
        assert(files == before(cellDir), s"untouched $cellDir was rewritten by the stream")
    }

    // batch 2 resumes from the checkpoint: only the NEW file is encoded
    // and merged; batch 1's rows survive untouched
    arrive(delta(2000L, 3))
    assert(indexState() ==
      asSet(enc(emb)) ++ asSet(enc(d1)) ++ asSet(enc(delta(2000L, 3))),
      "checkpoint resume must merge only the new arrivals, keeping batch 1")
  }

  test("band-index maintenance + lookup give incremental ingest dedup") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ndmaint")
    val srcDir = base.resolve("src").toString
    val indexDir = base.resolve("index").toString
    val ckpt = base.resolve("ckpt").toString
    def stage(rows: Seq[(Long, String)]): Unit = rows
      .map { case (id, t) => (id, t, "en", "ingest", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(srcDir)

    val docA = (1 to 40).map(i => s"ma$i").mkString(" ")
    val docB = (1 to 40).map(i => s"mb$i").mkString(" ")
    // batch 1 builds the index
    stage(Seq((1L, docA)))
    val m1 = graft.streaming.DocStreams.bandIndexMaintenance(
      graft.streaming.DocStreams.readDocStream(spark, srcDir), indexDir, ckpt)
    m1.processAllAvailable(); m1.stop()
    // batch 2: one dup of doc 1, one novel doc — checkpoint resume
    // indexes only the new file
    stage(Seq((2L, docA), (3L, docB)))
    val m2 = graft.streaming.DocStreams.bandIndexMaintenance(
      graft.streaming.DocStreams.readDocStream(spark, srcDir), indexDir, ckpt)
    m2.processAllAvailable(); m2.stop()
    val index = spark.read.parquet(indexDir)
    assert(index.count() == 3 * 8, "8 band rows per doc, exactly once each")
    // lookup over the maintained index flags the dup against BOTH copies
    val probeDir = base.resolve("probe").toString
    Seq((9L, docA, "en", "probe", docA.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(probeDir)
    val q = graft.streaming.DocStreams.nearDupLookup(
      graft.streaming.DocStreams.readDocStream(spark, probeDir), index)
      .writeStream.outputMode("append")
      .format("memory").queryName("ndmaint_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val hits = spark.table("ndmaint_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(hits.count(_ == (9L, 1L)) == 8 && hits.count(_ == (9L, 2L)) == 8,
      s"probe must collide with both indexed copies in all bands: $hits")
    assert(!hits.exists(_._2 == 3L), "no collision with the unrelated doc")
  }

  test("sketch aggregates run under streaming aggregation: KMV exactly, MG with its guarantee") {
    val stream = EventStreams.readEventStream(spark, eventsDir)
      .select(col("user_id"))
    val q = stream
      .agg(
        graft.functions.KmvSketch.kmv_sketch(xxhash64(col("user_id")), 64).as("kmv"),
        graft.functions.MgSketch.mg_sketch(col("user_id"), 64).as("mg"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("sketch_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val row = spark.table("sketch_out").collect().head
    val batchEvents = Tables.events(spark, sf).select(col("user_id"))
    // KMV = the set of k smallest hashes: order-independent, so the
    // streaming result is IDENTICAL to batch
    val batchKmv = batchEvents
      .agg(graft.functions.KmvSketch.kmv_sketch(xxhash64(col("user_id")), 64).as("kmv"))
      .collect().head.getSeq[Long](0)
    assert(row.getSeq[Long](row.fieldIndex("kmv")) == batchKmv)
    // MG candidate content is merge-order-dependent, but the no-miss
    // guarantee is not: every user above N/(cap+1) share must be present
    val counts = batchEvents.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val n = counts.map(_._2).sum
    val mustKeep = counts.filter { case (_, c) => c * 65 > n }.map(_._1).toSet
    val mg = row.getSeq[Long](row.fieldIndex("mg")).toSet
    assert(mustKeep.subsetOf(mg), s"guaranteed heavy users missing: ${mustKeep.diff(mg)}")
    assert(mg.size <= 64)
  }

  test("stateful sessionizer emits closed + open sessions covering all events") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStreams.Ev]
    val sessions = EventStreams.statefulSessionize(events).collect()
    assert(sessions.map(_.n_events).sum == events.count())
    // open sessions: exactly one per user
    val open = sessions.filter(!_.closed)
    assert(open.map(_.user_id).distinct.length == open.length)
    // session count agrees with the batch lag/cumsum operator
    val batchSessions = EventOps.sessionize(Tables.events(spark, sf)).count()
    assert(sessions.length == batchSessions)
  }

  test("funnel door equals the batch q130b manifest, batch-mode and through a real stream") {
    import spark.implicits._
    val batchEvents = Tables.events(spark, sf)
    val expected = EventOps.funnelUsers(batchEvents).collect()
      .map(r => r.getLong(0) -> (
        Option(r.get(r.fieldIndex("t1_us"))).map(_.asInstanceOf[Long]),
        Option(r.get(r.fieldIndex("t2_us"))).map(_.asInstanceOf[Long]),
        Option(r.get(r.fieldIndex("t3_us"))).map(_.asInstanceOf[Long]),
        r.getInt(r.fieldIndex("depth")))).toMap
    // batch-mode run of the same state machine (exact, single "batch")
    val typed = batchEvents
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStreams.Ev]
    val batchOut = EventStreams.funnelMonitor(typed).collect()
    assert(batchOut.map(_.user_id).distinct.length == batchOut.length)
    val reached = batchOut.filter(_.depth >= 1)
    assert(reached.length == expected.size,
      "door reaches step 1 for exactly the q130b users")
    reached.foreach { o =>
      val (t1, t2, t3, d) = expected(o.user_id)
      assert((o.t1_us, o.t2_us, o.t3_us, o.depth) == ((t1, t2, t3, d)),
        s"user ${o.user_id}")
    }
    // every user with any event ships a state row (depth 0 included)
    assert(batchOut.length ==
      batchEvents.select("user_id").distinct().count())
    // real stream: same comparison through the file source
    val stream = EventStreams.readEventStream(spark, eventsDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStreams.Ev]
    val q = EventStreams.funnelMonitor(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("funnel_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    // update mode emits the user's full state each touching batch —
    // the latest per user is the max since state only grows
    val streamed = spark.table("funnel_out")
      .groupBy("user_id")
      .agg(max(col("depth")).as("depth"), max(col("t1_us")).as("t1_us"),
        max(col("t2_us")).as("t2_us"), max(col("t3_us")).as("t3_us"))
      .filter(col("depth") >= 1).collect()
    assert(streamed.length == expected.size)
    streamed.foreach { r =>
      val (t1, t2, t3, d) = expected(r.getLong(0))
      assert(Option(r.get(r.fieldIndex("t1_us"))).map(_.asInstanceOf[Long]) == t1)
      assert(Option(r.get(r.fieldIndex("t2_us"))).map(_.asInstanceOf[Long]) == t2)
      assert(Option(r.get(r.fieldIndex("t3_us"))).map(_.asInstanceOf[Long]) == t3)
      assert(r.getInt(r.fieldIndex("depth")) == d)
    }
  }

  test("gap-monitor door equals the batch q134b manifest through a real stream") {
    val batchEvents = Tables.events(spark, sf)
    val expectedTypes = batchEvents.select("event_type").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val stream = EventStreams.readEventStream(spark, eventsDir)
    val q = EventStreams.gapMonitor(stream, expectedTypes)
      .writeStream.outputMode("append")
      .format("memory").queryName("gap_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("gap_out")
      .collect().map(r => (r.getAs[Long]("hour_us"), r.getAs[String]("event_type")))
    // batch q134b restricted to watermark-CLOSED hours: AvailableNow
    // leaves the final watermark at max(ts) − 2h, so the trailing
    // hours' windows never finalize — the stated closed-window
    // contract, applied literally in the comparison
    val maxUs = batchEvents.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val closedBefore = maxUs - 2L * 3600000000L
    val batch = EventOps.typeOutageReport(batchEvents).collect()
      .map(r => (r.getAs[Long]("hour_us"), r.getAs[String]("event_type")))
      .filter { case (h, _) => h + 3600000000L <= closedBefore }
    assert(streamed.nonEmpty, "the event timeline carries real type-hour holes")
    assert(streamed.toSet == batch.toSet,
      s"door outage cells must equal the closed-hour batch manifest " +
        s"(door ${streamed.length}, batch ${batch.length})")
  }

  test("transition-monitor door emits exactly the batch q135 edges; unknown edges flag") {
    import spark.implicits._
    val batchEvents = Tables.events(spark, sf)
    val baseline = EventOps.transitionBaseline(batchEvents)
    val stream = EventStreams.readEventStream(spark, eventsDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStreams.Ev]
    val q = EventStreams.transitionMonitor(stream, baseline)
      .writeStream.outputMode("update")
      .format("memory").queryName("trans_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("trans_out").collect()
    // a baseline frozen from the same window knows every edge
    assert(streamed.nonEmpty && streamed.forall(_.getAs[Boolean]("known_edge")))
    // the emitted edge multiset equals the batch matrix exactly
    val streamedCounts = streamed
      .groupBy(r => (r.getAs[String]("prev_type"), r.getAs[String]("next_type")))
      .map { case (k, v) => k -> v.length.toLong }
    val batch = EventOps.eventTransitions(batchEvents).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    assert(streamedCounts == batch,
      "door edge stream must be the batch matrix's exact increment")
    // a restricted baseline flags the absent edges, never drops them
    val oneEdge = baseline.take(1)
    val q2 = EventStreams.transitionMonitor(
        EventStreams.readEventStream(spark, eventsDir)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          .as[EventStreams.Ev], oneEdge)
      .writeStream.outputMode("update")
      .format("memory").queryName("trans_unknown")
      .trigger(Trigger.AvailableNow())
      .start()
    q2.processAllAvailable()
    q2.stop()
    val flagged = spark.table("trans_unknown").collect()
    assert(flagged.length == streamed.length, "restricting the baseline drops nothing")
    assert(flagged.exists(!_.getAs[Boolean]("known_edge")),
      "edges outside the frozen set must ship flagged")
  }

  test("funnel door: an event at exactly epoch 0 advances the chain (sentinel fix)") {
    import spark.implicits._
    // 0L was the old unset sentinel, so a view at epoch 0 could never
    // register; Long.MinValue is unreachable by any real timestamp
    val evs = Seq(
      EventStreams.Ev(1L, new java.sql.Timestamp(0L), 7L, "view", 1.0),
      EventStreams.Ev(2L, new java.sql.Timestamp(3600000L), 7L, "click", 1.0),
      EventStreams.Ev(3L, new java.sql.Timestamp(7200000L), 7L, "purchase", 1.0)
    ).toDS()
    val out = EventStreams.funnelMonitor(evs).collect()
    assert(out.length == 1 && out.head.depth == 3,
      s"epoch-0 view must enter the funnel: ${out.toSeq}")
    assert(out.head.t1_us.contains(0L))
  }

  test("transition monitor on RocksDB: per-user state survives a checkpoint restart") {
    import spark.implicits._
    // the funnel/transition doors carry ONE (type, ts) pair per user —
    // this proves that state actually RESTORES through a real
    // checkpoint restart on the production state store: a user whose
    // previous event landed before the restart must still emit the
    // cross-restart edge afterwards.
    val confs = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val base = java.nio.file.Files.createTempDirectory("graft_trans_soak")
    val srcDir = base.resolve("src").toString
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    // cached for the multi-pass splits below; MUST unpersist in the
    // finally — a leaked InMemoryRelation rewrites every later suite's
    // events plans (it broke PlanShapeSpec's q47 reused-exchange pin
    // whenever this suite ran first in a testOnly subset)
    val events = Tables.events(spark, sf).cache()
    try {
      val baseline = EventOps.transitionBaseline(events)
      def run(): Unit = {
        val stream = EventStreams.readEventStream(spark, srcDir)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          .as[EventStreams.Ev]
        val q = EventStreams.transitionMonitor(stream, baseline)
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStreams.TransOut], _: Long) =>
            b.write.mode("append").parquet(outDir); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.processAllAvailable(); q.stop()
      }
      // split by TIME so each user's later events arrive after the
      // restart (the door's in-order-per-user delivery contract)
      val med = events.selectExpr("unix_micros(ts) AS u")
        .stat.approxQuantile("u", Array(0.5), 0.0).head.toLong
      events.filter(unix_micros(col("ts")) <= med)
        .coalesce(2).write.mode("append").parquet(srcDir)
      run() // run 1 — state checkpointed
      events.filter(unix_micros(col("ts")) > med)
        .coalesce(2).write.mode("append").parquet(srcDir)
      run() // run 2 — RESTART: state must restore
      val got = spark.read.parquet(outDir)
        .groupBy("prev_type", "next_type").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val want = EventOps.eventTransitions(events).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
      assert(got == want,
        "edge multiset across the restart must equal the batch matrix exactly")
      // the proof that state restored: users straddling the cutoff
      // contribute an edge whose prev side predates the restart
      val straddlers = EventOps.eventTransitions(
        events.filter(unix_micros(col("ts")) > med)).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
      assert(want.values.sum > straddlers.values.sum,
        "some edges must span the restart boundary — otherwise nothing was proven")
    } finally {
      events.unpersist(blocking = false)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("streaming upsert sink merges each micro-batch into the parquet table") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_stream_merge")
    val srcDir = base.resolve("src").toString
    val table = base.resolve("table").toString
    val ckpt = base.resolve("ckpt").toString
    Seq((1L, "old"), (2L, "old")).toDF("id", "v").write.parquet(table)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("gone", BooleanType)))

    def runBatch(rows: Seq[(Long, String, Boolean)]): Unit = {
      rows.toDF("id", "v", "gone").write.mode("append").parquet(srcDir)
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      val q = EventStreams.upsertSink(stream, table, ckpt, "id", Some("gone"))
      q.processAllAvailable(); q.stop()
    }

    runBatch(Seq((1L, "new1", false), (3L, "new3", false)))
    val after1 = spark.read.parquet(table).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after1 == Map(1L -> "new1", 2L -> "old", 3L -> "new3"))

    // second batch resumes from the checkpoint: only the new files merge
    runBatch(Seq((2L, "x", true), (4L, "new4", false)))
    val after2 = spark.read.parquet(table).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after2 == Map(1L -> "new1", 3L -> "new3", 4L -> "new4"),
      s"delete flag must drop id 2, insert id 4: $after2")
  }

  test("ingest dedup state survives a checkpoint restart on RocksDB with changelog checkpointing") {
    // the production ingest-dedup shape: dropDuplicatesWithinWatermark
    // state in RocksDB (off-heap, spillable) with changelog
    // checkpointing (per-batch delta upload instead of full snapshots —
    // the tuning that matters once dedup state is 100 TB-scale). The
    // restart must still see the first run's fingerprints.
    import spark.implicits._
    val confs = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val base = java.nio.file.Files.createTempDirectory("graft_rocks_dedup")
    val srcDir = base.resolve("src").toString
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    def stage(rows: Seq[(Long, String)]): Unit = rows
      .map { case (id, text) => (id, text, "en", "s", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .withColumn("ingest_ts",
        timestamp_micros((col("doc_id") * 1000000L) + 1600000000000000L))
      .coalesce(1).write.mode("append").parquet(srcDir)
    def run(): Set[Long] = {
      val stream = graft.streaming.DocStreams.readDocStreamWithTs(spark, srcDir)
      val q = graft.streaming.DocStreams
        .corpusScreenEventTime(stream, Seq("en" -> 10000), 10000)
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
      spark.read.parquet(outDir).collect().map(_.getAs[Long]("doc_id")).toSet
    }
    try {
      val good = (1 to 40).map(i => s"alphaword$i").mkString(" ")
      stage(Seq(1L -> good))
      assert(run() == Set(1L))
      // restart: a re-sent copy must stay deduped BY RESTORED STATE; a
      // novel doc must pass
      val novel = (1 to 40).map(i => s"freshword$i").mkString(" ")
      stage(Seq(2L -> good, 3L -> novel))
      val after = run()
      assert(!after.contains(2L), "RocksDB-restored dedup state must drop the re-sent content")
      assert(after.contains(3L), "novel content must pass on resume")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("stateful aggregation runs on the RocksDB state store") {
    // HDFS-backed state keeps everything on-heap — fine for tests, not
    // for 100 TB of session state. Prove the plans run unchanged on the
    // spill-friendly RocksDB provider a production cluster would use.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (streamed, batch) = hourlyLangCountsVsBatch("rocksdb_out")
      assert(streamed.nonEmpty && streamed == batch,
        s"RocksDB-backed result rows ${streamed.size} != batch ${batch.size}")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("ingest-time percolation matches the batch scorer under the same frozen stats") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_percolate")
    val srcDir = base.resolve("src").toString
    val corpus = Tables.documents(spark, sf)
    val (dfs, n) = graft.operators.Search.keywordStats(corpus)
    // stream a slice of the corpus through the standing queries
    corpus.filter(col("doc_id") < 100)
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q = graft.streaming.DocStreams.percolateStream(
      graft.streaming.DocStreams.readDocStream(spark, srcDir), dfs, n)
      .writeStream.outputMode("append")
      .format("memory").queryName("percolate_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("percolate_out").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val batch = graft.operators.Search
      .percolate(corpus.filter(col("doc_id") < 100), dfs, n).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(streamed == batch, "stream and batch percolation must agree row-for-row")
    assert(streamed.nonEmpty, "the slice must hit at least one standing query")
  }

  test("posting-index maintenance: segment union equals the batch rebuild, search stays exact") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_postmaint")
    val srcDir = base.resolve("src").toString
    val indexDir = base.resolve("index").toString
    val metaDir = base.resolve("meta").toString
    val ckpt = base.resolve("ckpt").toString
    def stage(rows: Seq[(Long, String)]): Unit = rows
      .map { case (id, t) => (id, t, "en", "ingest", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(srcDir)
    def docsSoFar = spark.read.parquet(srcDir).select("doc_id", "text")

    val qs = Seq(1 -> Seq("merge", "join"), 2 -> Seq("scan"))
    // batch 1: two docs
    stage(Seq((1L, "merge join merge"), (2L, "join scan")))
    val m1 = graft.streaming.DocStreams.postingMaintenance(
      graft.streaming.DocStreams.readDocStream(spark, srcDir), indexDir, metaDir, ckpt)
    m1.processAllAvailable(); m1.stop()
    val s1 = graft.streaming.DocStreams.searchSegments(spark, indexDir, metaDir, qs)
      .collect().toSeq
    assert(s1 == graft.operators.Search.keywordSearch(docsSoFar, qs).collect().toSeq,
      "one-segment index must already match the batch scan path")
    // batch 2 (checkpoint resume): a new doc CHANGES df(scan) and N —
    // the maintained index must re-rank exactly like a full rebuild
    stage(Seq((3L, "window scan")))
    val m2 = graft.streaming.DocStreams.postingMaintenance(
      graft.streaming.DocStreams.readDocStream(spark, srcDir), indexDir, metaDir, ckpt)
    m2.processAllAvailable(); m2.stop()
    val s2 = graft.streaming.DocStreams.searchSegments(spark, indexDir, metaDir, qs)
      .collect().toSeq
    assert(s2 == graft.operators.Search.keywordSearch(docsSoFar, qs).collect().toSeq,
      "segment union + summed meta counts must equal a batch rebuild over the union corpus")
    // exactly one posting row per (term, doc): batch 2 indexed ONLY the new file
    val postings = spark.read.parquet(indexDir)
    assert(postings.count() == postings.select("term", "doc_id").distinct().count(),
      "checkpoint resume must not re-index already-ingested docs")
    assert(spark.read.parquet(metaDir).agg(sum("n_docs")).head.getLong(0) == 3L)
  }

  test("streaming contamination lookup emits the batch q113 spans verbatim") {
    // freeze the benchmark window set batch-side, stream the corpus
    // side through the row-local probe — the shared fold SQL makes the
    // merged intervals bit-equal to the batch q113
    val docs = Tables.documents(spark, sf)
    val corpusSide = docs.filter(
      !(col("doc_id") % graft.operators.Dedup.BenchmarkMod === 0
        && col("doc_id") < graft.operators.Dedup.BenchmarkMaxId))
    val dir = java.nio.file.Files.createTempDirectory("graft_contamstream").toString
    corpusSide.write.mode("overwrite").parquet(dir)
    val bench = graft.operators.Dedup.benchmarkWindowHashes(docs)
    assert(bench.nonEmpty)
    val want = graft.operators.Dedup.contaminationSpans(docs).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("span_idx"), r.getAs[Long]("start_pos"),
        r.getAs[Long]("end_pos"), r.getAs[Long]("span_tokens"))).toSet
    assert(want.nonEmpty, "sf0.001 carries real contaminated spans")
    val q = graft.streaming.DocStreams.contaminationLookup(
        graft.streaming.DocStreams.readDocStream(spark, dir), bench)
      .writeStream.outputMode("append")
      .format("memory").queryName("contam_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("contam_out").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("span_idx"), r.getAs[Long]("start_pos"),
        r.getAs[Long]("end_pos"), r.getAs[Long]("span_tokens"))).toSet
    assert(got == want, "the door must emit the batch cut list verbatim")
  }

  test("streaming decontam lookup lands each doc already cut, bit-equal to batch q114") {
    val docs = Tables.documents(spark, sf)
    val corpusSide = docs.filter(
      !(col("doc_id") % graft.operators.Dedup.BenchmarkMod === 0
        && col("doc_id") < graft.operators.Dedup.BenchmarkMaxId))
    val dir = java.nio.file.Files.createTempDirectory("graft_decontamstream").toString
    corpusSide.write.mode("overwrite").parquet(dir)
    val bench = graft.operators.Dedup.benchmarkWindowHashes(docs)
    val want = graft.operators.Dedup.decontamApply(docs).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_tokens"), r.getAs[Long]("n_cut_spans"),
        r.getAs[Long]("tokens_cut"), r.getAs[Long]("clean_n_tokens"),
        r.getAs[Long]("clean_hash"))).toSet
    assert(want.exists(_._4 > 0), "sf0.001 carries real cuts")
    val q = graft.streaming.DocStreams.decontamLookup(
        graft.streaming.DocStreams.readDocStream(spark, dir), bench)
      .writeStream.outputMode("append")
      .format("memory").queryName("decontam_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("decontam_out").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_tokens"), r.getAs[Long]("n_cut_spans"),
        r.getAs[Long]("tokens_cut"), r.getAs[Long]("clean_n_tokens"),
        r.getAs[Long]("clean_hash"))).toSet
    assert(got == want, "the door must land the batch-identical cleaned manifest")
  }

  test("temperature door: frozen rates derive from the plan and survive micro-batching") {
    val docs = Tables.documents(spark, sf)
    val rates = graft.operators.Corpus.temperatureRates(docs)
    assert(rates.nonEmpty && rates.forall(r => r._2 >= 0 && r._2 <= 10000))
    val plan = graft.operators.Corpus.temperatureMix(docs).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("target_tokens"))).toMap
    rates.foreach { case (l, bp) =>
      val (avail, tgt) = plan(l)
      assert(bp.toLong == (if (avail <= 0) 0L else 10000L * tgt / avail),
        s"$l: rate must be the exact floor share of the plan")
    }
    val want = graft.streaming.DocStreams.temperatureLookup(docs, rates).collect()
      .filter(_.getAs[Boolean]("keep")).map(_.getAs[Long]("doc_id")).toSet
    assert(want.nonEmpty && want.size < docs.count(), "the door genuinely cuts")
    val dir = java.nio.file.Files.createTempDirectory("graft_tempdoor").toString
    docs.coalesce(3).write.mode("overwrite").parquet(dir)
    val q = graft.streaming.DocStreams.temperatureLookup(
        graft.streaming.DocStreams.readDocStream(spark, dir), rates)
      .filter(col("keep"))
      .writeStream.outputMode("append")
      .format("memory").queryName("tempdoor_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("tempdoor_out").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(got == want, "the door's verdicts are a pure function of (doc_id, lang)")
  }

  test("release-dedup ingest door: micro-batch verdicts equal the batch probe") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_reldedup")
    val srcDir = base.resolve("src").toString
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    val store = Tables.documents(spark, "/root/testdata/sf0.001")
    // frozen collapsed stores, built once — the per-release contract
    val (fpStore, bandStore) = graft.operators.Dedup.releaseStores(store)
    val incoming = graft.operators.Dedup.ingestView(store)
    incoming.withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(2).write.mode("append").parquet(srcDir)
    val q = graft.streaming.DocStreams.releaseDedupSink(
      graft.streaming.DocStreams.readDocStream(spark, srcDir),
      fpStore, bandStore, outDir, ckpt)
    q.processAllAvailable(); q.stop()
    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "lang", "verdict", "dup_of", "n_bands_matched")
      .orderBy("doc_id").collect().toSeq
    val batch = graft.operators.Dedup.releaseDedup(store, incoming)
      .collect().toSeq
    assert(streamed == batch,
      "the door's verdicts must reproduce the batch q108 verbatim")
  }

  test("streaming metadata-fix door repairs every arriving doc exactly as batch q128") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_mfixstream").toString
    docs.write.mode("overwrite").parquet(dir)
    val q = graft.streaming.DocStreams.metadataFixLookup(
        graft.streaming.DocStreams.readDocStream(spark, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("mfix_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("mfix_out").collect()
      .map(r => r.getLong(0) -> (r.getAs[String]("fixed_lang"),
        r.getAs[Boolean]("lang_fixed"), r.getAs[Boolean]("chars_fixed"))).toMap
    // the door emits EVERY doc; its changed subset is exactly batch q128
    assert(got.size == docs.count())
    val batch = graft.operators.TextAnalysis.metadataFix(docs).collect()
      .map(r => r.getLong(0) -> (r.getAs[String]("fixed_lang"),
        r.getAs[Boolean]("lang_fixed"), r.getAs[Boolean]("chars_fixed"))).toMap
    batch.foreach { case (id, v) => assert(got(id) == v, s"doc $id") }
    got.filterNot { case (id, _) => batch.contains(id) }.foreach { case (id, v) =>
      assert(!v._2 && !v._3, s"doc $id passed the door but claims a fix")
    }
  }

  test("streaming vector-health door flags exactly what the batch q129 card counts") {
    val emb = graft.operators.Similarity.vecCorruptView(
      Tables.embeddings(spark, "/root/testdata/sf0.001"))
    val dir = java.nio.file.Files.createTempDirectory("graft_vhstream").toString
    emb.write.mode("overwrite").parquet(dir)
    val q = graft.streaming.VecStreams.vectorHealthLookup(
        graft.streaming.VecStreams.readVecStream(spark, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("vh_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("vh_out").collect()
    // door flags roll up to exactly the batch card's counts
    val nZero = got.count(_.getAs[Boolean]("is_zero")).toLong
    val nBad = got.count(_.getAs[Boolean]("has_nonfinite")).toLong
    val nOk = got.count(_.getAs[Boolean]("vec_ok")).toLong
    val card = graft.operators.Similarity.vectorHealth(emb).collect()
    assert(nZero == card.map(_.getAs[Long]("n_zero")).sum)
    assert(nBad == card.map(_.getAs[Long]("n_nonfinite")).sum)
    assert(nOk == card.map(_.getAs[Long]("n_vecs")).sum -
      card.map(r => r.getAs[Long]("n_null") + r.getAs[Long]("n_zero")
        + r.getAs[Long]("n_nonfinite")).sum,
      "vec_ok is the complement of the three failure classes")
  }

  test("ticked gap monitor ships a FULLY-silent hour (the plain door's stated blindspot)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_tick")
    val evDir = base.resolve("ev").toString
    val tkDir = base.resolve("tk").toString
    val H = 3600000000L // one hour in µs
    val b = 1700000000000000L - (1700000000000000L % H) // hour-aligned µs
    def ts(us: Long) = new java.sql.Timestamp(us / 1000L)
    // hour 0: both types fire; hour 1: TOTAL silence; hour 2: only 'a';
    // hour 3+: silence again
    Seq((ts(b + 600000000L), "a"), (ts(b + 1200000000L), "b"),
      (ts(b + 2 * H + 600000000L), "a"))
      .toDF("ts", "event_type").coalesce(1).write.parquet(evDir)
    // wall-clock stand-in: one tick every 20 min through hour 6 — the
    // max tick (b+6h) leaves the watermark at b+4h, closing hours 0-3
    (0 until 19).map(i => Tuple1(ts(b + i * 1200000000L)))
      .toDF("ts").coalesce(1).write.parquet(tkDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType)))
    val evS = spark.readStream.schema(schema).parquet(evDir)
    val tkS = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(schema.take(1)))
      .parquet(tkDir)
    val q = graft.streaming.EventStreams
      .gapMonitorTicked(evS, Seq("a", "b"), tkS)
      .writeStream.outputMode("append")
      .format("memory").queryName("tickgap_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("tickgap_out").collect()
      .map(r => (r.getAs[Long]("hour_us"), r.getAs[String]("event_type"))).toSet
    val want = Set(
      (b + H, "a"), (b + H, "b"),       // the fully-silent hour SHIPS
      (b + 2 * H, "b"),                 // partial outage still exact
      (b + 3 * H, "a"), (b + 3 * H, "b")) // trailing silence ships too
    assert(got == want, s"got $got")
    assert(!got.exists(_._2 == graft.streaming.EventStreams.TickType),
      "tick rows must never surface as outages")
  }

  test("parameterized funnel door equals batch funnelUsers at 2 and 4 steps") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
    val typed = events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStreams.Ev]
    for (steps <- Seq(Seq("click", "purchase"),
      Seq("view", "click", "view", "purchase"))) {
      val door = EventStreams.funnelMonitorSteps(typed, steps).collect()
        .filter(_.depth >= 1)
        .map(o => o.user_id -> (o.depth, o.step_ts_us)).toMap
      val batch = EventOps.funnelUsers(events, steps).collect().map { r =>
        val ts = (1 to steps.length)
          .map(i => Option(r.get(r.fieldIndex(s"t${i}_us"))).map(_.asInstanceOf[Long]))
          .takeWhile(_.isDefined).flatten
        r.getAs[Long]("user_id") -> (ts.length, ts)
      }.toMap
      assert(door == batch, s"steps=$steps: door/batch manifests differ")
      assert(batch.nonEmpty, s"steps=$steps must reach someone")
    }
  }

  test("source-cap door: hash-order arrival equals batch q138 across a restart") {
    import spark.implicits._
    // a cap small enough that the test SF exercises both verdicts
    val cap = 3L
    val docs = Tables.documents(spark, sf)
    val batch = graft.operators.Corpus.sourceCap(docs, cap).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("class_rank"), r.getAs[Boolean]("keep"))).toMap
    val base = java.nio.file.Files.createTempDirectory("graft_capdoor")
    val srcDir = base.resolve("src").toString
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    // fixed arrival order = the batch total order (cap_hash, doc_id),
    // split into two waves along it — wave 2 arrives AFTER a restart
    val ordered = graft.operators.Corpus.sourceCap(docs, cap)
      .select("doc_id", "lang", "source", "cap_hash")
    val medHash = ordered.stat.approxQuantile("cap_hash", Array(0.5), 0.0).head.toLong
    def run(): Unit = {
      val stream = graft.streaming.DocStreams.readDocStream(spark, srcDir)
        .select(col("doc_id"), col("lang"), col("source"))
        .as[graft.streaming.DocStreams.CapDocIn]
      val q = graft.streaming.DocStreams.sourceCapDoor(stream, cap)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.DocStreams.CapOut],
                         _: Long) =>
          b.write.mode("append").parquet(outDir); ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
    }
    val full = docs.select("doc_id", "text", "lang", "source", "n_chars")
    val loHash = ordered.filter(col("cap_hash") <= medHash).select("doc_id")
    full.join(loHash, Seq("doc_id")).coalesce(1).write.mode("append").parquet(srcDir)
    run() // wave 1
    val hiHash = ordered.filter(col("cap_hash") > medHash).select("doc_id")
    full.join(hiHash, Seq("doc_id")).coalesce(1).write.mode("append").parquet(srcDir)
    run() // wave 2 — RESTART: per-class admission counters must restore
    val door = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("class_rank"), r.getAs[Boolean]("keep"))).toMap
    assert(door == batch,
      "hash-order arrival must reproduce the batch quota exactly, ranks included")
    assert(batch.values.exists(!_._2) && batch.values.exists(_._2),
      "the fixture must exercise both keep and reject")
  }

  test("retention door: folded deltas equal the batch q131 matrix across a restart") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("graft_retdoor")
    val srcDir = base.resolve("src").toString
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    def run(): Unit = {
      val stream = EventStreams.readEventStream(spark, srcDir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[EventStreams.Ev]
      val q = EventStreams.retentionMonitor(stream)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStreams.RetOut], _: Long) =>
          b.write.mode("append").parquet(outDir); ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
    }
    // time-split restart: users straddling the cutoff must keep their
    // frozen cohort and already-emitted offsets through the checkpoint
    val med = events.selectExpr("unix_micros(ts) AS u")
      .stat.approxQuantile("u", Array(0.5), 0.0).head.toLong
    events.filter(unix_micros(col("ts")) <= med)
      .coalesce(2).write.mode("append").parquet(srcDir)
    run()
    events.filter(unix_micros(col("ts")) > med)
      .coalesce(2).write.mode("append").parquet(srcDir)
    run()
    val folded = spark.read.parquet(outDir)
      .groupBy("cohort_week", "week_offset").agg(sum("delta").as("n"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    val batch = EventOps.retentionCohorts(events).collect()
      .map(r => (r.getDate(0).toString, r.getAs[Long]("week_offset")) ->
        r.getAs[Long]("n_active")).toMap
    assert(folded == batch,
      s"delta fold must equal the batch matrix: only-door=${folded.keySet.diff(batch.keySet)} " +
        s"only-batch=${batch.keySet.diff(folded.keySet)}")
    // no cell ever receives a duplicate increment (the bitmask dedup)
    assert(folded.values.toSet == batch.values.toSet && folded.nonEmpty)
  }

  test("transition monitor evicts users idle past the event-time horizon") {
    import spark.implicits._
    val DayMs = 24L * 3600000L
    def ts(ms: Long) = new java.sql.Timestamp(1700000000000L + ms)
    def arm(waves: Seq[Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]])
        : Array[org.apache.spark.sql.Row] = {
      val base = java.nio.file.Files.createTempDirectory("graft_trans_evict")
      val srcDir = base.resolve("src").toString
      val outDir = base.resolve("out").toString
      val ckpt = base.resolve("ckpt").toString
      def run(): Unit = {
        val stream = EventStreams.readEventStream(spark, srcDir)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          .as[EventStreams.Ev]
        val q = EventStreams.transitionMonitor(stream, Seq("view" -> "click"))
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStreams.TransOut], _: Long) =>
            b.write.mode("append").parquet(outDir); ()
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.processAllAvailable(); q.stop()
      }
      waves.foreach { rows =>
        rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("append").parquet(srcDir)
        run()
      }
      spark.read.parquet(outDir).filter(col("user_id") === 1L).collect()
    }
    // eviction arm: u1's click comes 35 event-time DAYS after its view
    // (past the 30-day horizon); u3's traffic in between advances the
    // watermark past u1's timer, so the restart that processes it
    // EVICTS u1 — the click then starts a fresh sequence: no edge.
    // This also proves AvailableNow runs TERMINATE with timers pending
    // (the processing-time form busy-looped forever — 8800 batches).
    val evicted = arm(Seq(
      Seq((1L, ts(0L), 1L, "view", 1.0, "{}")),
      Seq((2L, ts(35L * DayMs), 3L, "view", 1.0, "{}")),
      Seq((3L, ts(36L * DayMs), 1L, "click", 1.0, "{}"))))
    assert(evicted.isEmpty,
      s"an evicted user's next event must start a fresh sequence: ${evicted.toSeq}")
    // control arm: the same shape within the horizon (1 day between
    // view and click) keeps the state across the restarts — edge ships
    val kept = arm(Seq(
      Seq((1L, ts(0L), 1L, "view", 1.0, "{}")),
      Seq((2L, ts(DayMs), 3L, "view", 1.0, "{}")),
      Seq((3L, ts(DayMs + 3600000L), 1L, "click", 1.0, "{}"))))
    assert(kept.length == 1 && kept.head.getAs[String]("prev_type") == "view" &&
      kept.head.getAs[String]("next_type") == "click" &&
      kept.head.getAs[Boolean]("known_edge"),
      s"within the horizon the cross-restart edge must still ship: ${kept.toSeq}")
  }

  test("funnel door evicts horizon-expired users; state survives restarts within the horizon") {
    import spark.implicits._
    // the r13 verdict item 1: the transition door's eviction pattern
    // applied to the funnel doors. Steps view→click, default 7-day
    // horizon; each wave is a separate checkpointed run, so this
    // doubles as the funnel door's RESTART SOAK.
    val DayMs = 24L * 3600000L
    def ts(ms: Long) = new java.sql.Timestamp(1700000000000L + ms)
    def us(ms: Long) = (1700000000000L + ms) * 1000L
    def arm(waves: Seq[Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]])
        : Array[org.apache.spark.sql.Row] = {
      val base = java.nio.file.Files.createTempDirectory("graft_funnel_evict")
      val srcDir = base.resolve("src").toString
      val outDir = base.resolve("out").toString
      val ckpt = base.resolve("ckpt").toString
      def run(): Unit = {
        val stream = EventStreams.readEventStream(spark, srcDir)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          .as[EventStreams.Ev]
        val q = EventStreams.funnelMonitorSteps(stream, Seq("view", "click"))
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStreams.FunnelStepsOut],
                           _: Long) =>
            b.write.mode("append").parquet(outDir); ()
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.processAllAvailable(); q.stop()
      }
      waves.foreach { rows =>
        rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("append").parquet(srcDir)
        run()
      }
      spark.read.parquet(outDir).filter(col("user_id") === 1L).collect()
    }
    // eviction arm: u1's second view comes 36 event-time days after its
    // first — far past t1 + the 7-day horizon; u3's traffic in between
    // advances the watermark past u1's timer, so u1 is EVICTED and the
    // second view starts a FRESH attempt with its OWN t1. (Without
    // eviction the state machine would ignore the second view — depth 1
    // wants a click — and keep the original t1 forever.)
    val evicted = arm(Seq(
      Seq((1L, ts(0L), 1L, "view", 1.0, "{}")),
      Seq((2L, ts(35L * DayMs), 3L, "view", 1.0, "{}")),
      Seq((3L, ts(36L * DayMs), 1L, "view", 1.0, "{}"))))
    assert(evicted.exists { r =>
      r.getInt(r.fieldIndex("depth")) == 1 &&
        r.getSeq[Long](r.fieldIndex("step_ts_us")) == Seq(us(36L * DayMs))
    }, s"an evicted user's next view must start a FRESH attempt: ${evicted.toSeq}")
    // control arm: the same shape within the horizon — u1's click one
    // day after its view must extend the ORIGINAL attempt across two
    // checkpoint restarts (state restored, t1 unchanged)
    val kept = arm(Seq(
      Seq((1L, ts(0L), 1L, "view", 1.0, "{}")),
      Seq((2L, ts(DayMs), 3L, "view", 1.0, "{}")),
      Seq((3L, ts(DayMs + 3600000L), 1L, "click", 1.0, "{}"))))
    assert(kept.exists { r =>
      r.getInt(r.fieldIndex("depth")) == 2 &&
        r.getSeq[Long](r.fieldIndex("step_ts_us")) ==
          Seq(us(0L), us(DayMs + 3600000L))
    }, s"within the horizon the funnel must advance across the restarts: ${kept.toSeq}")
  }

  test("sessionizer closes a departed user's final session at the watermark") {
    import spark.implicits._
    // r14: eviction as the session DEFINITION — the NoTimeout form
    // could only close a session when the user's NEXT event arrived,
    // so a departed user's last session stayed open (and its state
    // lived) forever. With event-time timers, the watermark passing
    // lastTs + gap ships the close itself — across a checkpoint
    // restart, with no successor event ever arriving.
    val H = 3600000L
    def ts(ms: Long) = new java.sql.Timestamp(1700000000000L + ms)
    val base = java.nio.file.Files.createTempDirectory("graft_sess_evict")
    val srcDir = base.resolve("src").toString
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    def run(): Unit = {
      val stream = EventStreams.readEventStream(spark, srcDir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[EventStreams.Ev]
      val q = EventStreams.statefulSessionize(stream)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStreams.SessionOut], _: Long) =>
          b.write.mode("append").parquet(outDir); ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
    }
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(srcDir)
    // wave 1: u1's two events, 10 minutes apart — one open session
    write(Seq(
      (1L, ts(0L), 1L, "view", 1.0, "{}"),
      (2L, ts(10L * 60000L), 1L, "click", 1.0, "{}")))
    run()
    // wave 2 (RESTART): only u3's far-future traffic — the watermark
    // passes u1's lastTs + 30min gap and the timeout ships the close
    write(Seq((3L, ts(5L * H), 3L, "view", 1.0, "{}")))
    run()
    val u1 = spark.read.parquet(outDir).filter(col("user_id") === 1L).collect()
    val closed = u1.filter(_.getAs[Boolean]("closed"))
    assert(closed.length == 1,
      s"exactly one close must ship, from the timeout: ${u1.toSeq}")
    val c = closed.head
    assert(c.getAs[Long]("t_start_s") == 1700000000L &&
      c.getAs[Long]("t_end_s") == 1700000000L + 600L &&
      c.getAs[Long]("n_events") == 2L,
      s"the closed session must be the restart-spanning one intact: $c")
  }

  test("sessionizer eviction never splits inside the final admissible second (r15)") {
    import spark.implicits._
    // session times are FLOORED to whole seconds, so an event anywhere
    // in second lastTs+gap still extends the session — but a timer at
    // (lastTs+gap)·1000 could fire while the watermark sits inside
    // that second and split one batch-semantics session into two. The
    // fixed timer is (lastTs+gap+1)·1000: this drives the watermark to
    // exactly +500 ms inside the final second (wave 2, no u1 data — the
    // timer would fire there under the old arithmetic), then lands a
    // u1 event at +900 ms (above the watermark — admissible; floored
    // second = the gap boundary — extends). One session must survive.
    val H = 3600000L
    def ts(ms: Long) = new java.sql.Timestamp(1700000000000L + ms)
    val base = java.nio.file.Files.createTempDirectory("graft_sess_split")
    val srcDir = base.resolve("src").toString
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    def run(): Unit = {
      val stream = EventStreams.readEventStream(spark, srcDir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[EventStreams.Ev]
      val q = EventStreams.statefulSessionize(stream)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStreams.SessionOut], _: Long) =>
          b.write.mode("append").parquet(outDir); ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
    }
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(srcDir)
    val boundary = 600000L + 1800000L // u1's lastTs + gap, in rel ms
    write(Seq(
      (1L, ts(0L), 1L, "view", 1.0, "{}"),
      (2L, ts(600000L), 1L, "click", 1.0, "{}")))
    run()
    // wave 2: no u1 data; watermark lands at boundary + 500 ms
    write(Seq((3L, ts(boundary + 2 * H + 500L), 3L, "view", 1.0, "{}")))
    run()
    // wave 3: u1 event INSIDE the final admissible second — must extend
    write(Seq((4L, ts(boundary + 900L), 1L, "view", 1.0, "{}")))
    run()
    // wave 4: far-future traffic closes u1's session via the timeout
    write(Seq((5L, ts(20L * H), 3L, "view", 1.0, "{}")))
    run()
    val closed = spark.read.parquet(outDir)
      .filter(col("user_id") === 1L && col("closed")).collect()
    assert(closed.length == 1,
      s"the final-second event must extend, not start a fresh session: ${closed.toSeq}")
    assert(closed.head.getAs[Long]("n_events") == 3L &&
      closed.head.getAs[Long]("t_end_s") == 1700000000L + boundary / 1000L,
      s"the one session must carry all three events: ${closed.head}")
  }

  test("late-data witness: watermark drops are counted and the batch run explains the gap") {
    import spark.implicits._
    // r13 verdict item 7: rows dropped by the tightened delivery
    // contract are invisible in the door's output — the engine's
    // numRowsDroppedByWatermark counter, surfaced via
    // droppedByWatermark, is how a deployment SEES cross-user
    // event-time skew violating the stated delay.
    val H = 3600000L
    def ts(ms: Long) = new java.sql.Timestamp(1700000000000L + ms)
    val base = java.nio.file.Files.createTempDirectory("graft_late_witness")
    val srcDir = base.resolve("src").toString
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    def run(): Long = {
      val stream = EventStreams.readEventStream(spark, srcDir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[EventStreams.Ev]
      val q = EventStreams.transitionMonitor(stream, Seq("view" -> "click"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStreams.TransOut], _: Long) =>
          b.write.mode("append").parquet(outDir); ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
      val dropped = EventStreams.droppedByWatermark(q)
      q.stop()
      dropped
    }
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(srcDir)
    // wave 1: u3's in-order traffic runs the watermark to t0+10h − 2h
    write(Seq(
      (1L, ts(0L), 3L, "view", 1.0, "{}"),
      (2L, ts(10L * H), 3L, "click", 1.0, "{}")))
    assert(run() == 0L, "an in-order wave drops nothing")
    // wave 2: a collector replays u1's backlog 6+ hours behind the
    // watermark — the tightened contract DROPS both rows, and the
    // counter is the visible witness
    write(Seq(
      (3L, ts(1L * H), 1L, "view", 1.0, "{}"),
      (4L, ts(2L * H), 1L, "click", 1.0, "{}")))
    val d2 = run()
    assert(d2 == 2L, s"both replayed rows must count as watermark-dropped: $d2")
    // the door's output is missing u1's edge entirely...
    val door = spark.read.parquet(outDir)
    assert(door.filter(col("user_id") === 1L).isEmpty,
      "the skewed replay must be absent from the door's edge stream")
    assert(door.count() == 1L, "u3's edge ships normally")
    // ...while the batch operator over the FULL landed log has it — the
    // reconciliation that explains the nonzero counter
    val full = Seq(
      (1L, ts(0L), 3L, "view", 1.0, "{}"),
      (2L, ts(10L * H), 3L, "click", 1.0, "{}"),
      (3L, ts(1L * H), 1L, "view", 1.0, "{}"),
      (4L, ts(2L * H), 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batch = EventOps.eventTransitions(full).collect()
    assert(batch.length == 1 &&
      batch.head.getAs[Long]("n") == 2L,
      s"the batch matrix counts BOTH users' view→click edges: ${batch.toSeq}")
  }

  test("annotation-push door: per-batch actions union to batch q140; store merges once per key") {
    // the q140 stream twin: computed annotation rows arrive in THREE
    // hash-ordered micro-batches; the union of the door's per-batch
    // action rows must equal the batch operator's action list exactly
    // (any batching — keys are disjoint across the push cycle), and
    // the post-push store must carry every pushed body at the right
    // revision with untouched seeds intact. Run 2 RESTARTS mid-cycle
    // on the same checkpoint: the frozen diffbase must keep later
    // batches' actions identical (a live-store diff would flip
    // creates to updates after the restart).
    import graft.operators.Curation
    val part = Tables.part(spark, sf)
    val lineitem = Tables.lineitem(spark, sf)
    val computed = Curation.computedCompartmentAnnotations(lineitem).cache()
    try {
      val base = java.nio.file.Files.createTempDirectory("graft_annpush")
      val srcDir = base.resolve("src").toString
      val storeDir = base.resolve("store").toString
      val actDir = base.resolve("actions").toString
      val ckpt = base.resolve("ckpt").toString
      Curation.annotationStoreSeed(part).write.parquet(storeDir)

      // three deterministic hash-slices of the computed rows
      val slice = pmod(hash(col("entity_id"), col("compartment")), lit(3))
      def drop(i: Int): Unit =
        computed.filter(slice === i).coalesce(1)
          .write.mode("append").parquet(srcDir)
      def run(): Unit = {
        val stream = spark.readStream
          .schema(computed.schema).parquet(srcDir)
        val q = EventStreams.annotationPushSink(stream, part, storeDir, actDir, ckpt)
        q.processAllAvailable(); q.stop()
      }
      drop(0)
      run() // cycle start: freezes the diffbase, pushes slice 0
      drop(1)
      run() // RESTART 1: same checkpoint, same frozen base
      drop(2)
      run() // RESTART 2

      val key = Seq("entity_id", "compartment")
      val gotActions = spark.read.parquet(actDir).drop("batch", "cycle")
      val wantActions = Curation.annotationPush(part, lineitem)
      assert(gotActions.count() == wantActions.count() &&
        gotActions.exceptAll(wantActions).isEmpty &&
        wantActions.exceptAll(gotActions).isEmpty,
        "door actions across restarts must union to the batch q140 rows")

      // store state: every action landed once — creates at rev 1,
      // updates at prev_rev+1, untouched seeds intact
      val store = spark.read.parquet(storeDir)
      val joined = store.join(
        wantActions.select(col("entity_id"), col("compartment"),
          col("action"), col("n_uses").as("want_uses"),
          (coalesce(col("prev_rev"), lit(0L)) + 1L).as("want_rev")),
        key, "left")
      assert(joined.filter(col("action").isNotNull &&
        (col("rev") =!= col("want_rev") || col("n_uses") =!= col("want_uses")))
        .count() == 0, "every pushed row must land exactly once at its revision")
      assert(joined.filter(col("action").isNull &&
        (col("n_uses") =!= 0L)).count() == 0,
        "existing-only rows must stay untouched (the no-delete asymmetry)")
      // the store contains exactly seeds ∪ pushed keys
      assert(store.count() ==
        Curation.annotationStoreSeed(part).select(key.map(col): _*)
          .unionByName(wantActions.select(key.map(col): _*))
          .distinct().count())

      // SECOND PUSH CYCLE (the r16 review fix, structurally): a new
      // cycle brings a new checkpoint + actions path, which RE-FREEZES
      // the diff base against the pushed store — re-computed rows for
      // keys created in cycle 1 must now diff as UPDATE at the
      // post-cycle-1 revision (the stale-base bug re-merged them as
      // creates at rev 1).
      val src2 = base.resolve("src2").toString
      val act2 = base.resolve("actions2").toString
      val ckpt2 = base.resolve("ckpt2").toString
      val cycle1Creates = wantActions.filter(col("action") === "create")
        .select(col("entity_id"), col("compartment"))
      val resend = computed.join(cycle1Creates, key, "left_semi")
      resend.coalesce(1).write.parquet(src2)
      val q2 = EventStreams.annotationPushSink(
        spark.readStream.schema(computed.schema).parquet(src2),
        part, storeDir, act2, ckpt2)
      q2.processAllAvailable(); q2.stop()
      val acts2 = spark.read.parquet(act2)
      assert(acts2.filter(col("action") =!= "update").count() == 0,
        "cycle 2 must see cycle 1's creates as existing — a stale base re-creates them")
      assert(acts2.filter(col("prev_rev") =!= 1L).count() == 0,
        "cycle 2's prev_rev must be cycle 1's created rev (1)")
      val store2 = spark.read.parquet(storeDir)
        .join(cycle1Creates, key, "left_semi")
      assert(store2.filter(col("rev") =!= 2L).count() == 0,
        "cycle 1's creates must sit at rev 2 after cycle 2's update push")
    } finally { computed.unpersist(blocking = false); () }
  }

  test("trace-push door: per-batch actions union to batch q142; post-merge store equals the batch pipeline state") {
    // the q142 stream twin (r18 verdict item 1): PERSISTED-REPORT rows
    // arrive in three trace-hash micro-batches; each batch runs the
    // SHARED TracePipeline.pushActions (classify + rule gate + diff vs
    // the frozen base) and a real MERGE keyed on trace_id. The union
    // of per-batch action rows must equal the batch pushActions list
    // exactly, and the post-push store must equal batch q142's
    // applyAndRead state row-for-row. Runs 2 RESTARTS mid-cycle on the
    // same checkpoint — the checkpoint-restart soak: the frozen
    // diffbase keeps later batches' prev_rev identical (a live-store
    // diff would double-bump a replayed trace's revision).
    import graft.operators.{TracePipeline, Traces}
    val docs = Tables.documents(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("graft_trpush")
    val reportDir = base.resolve("report").toString
    Traces.traceReport(docs).write.mode("overwrite").parquet(reportDir)
    val report = spark.read.parquet(reportDir)
    val srcDir = base.resolve("src").toString
    val storeDir = base.resolve("store").toString
    val actDir = base.resolve("actions").toString
    val ckpt = base.resolve("ckpt").toString
    TracePipeline.existingStore(docs).write.parquet(storeDir)

    val slice = pmod(hash(col("trace_id")), lit(3))
    def drop(i: Int): Unit =
      report.filter(slice === i).coalesce(1).write.mode("append").parquet(srcDir)
    def run(): Unit = {
      val q = EventStreams.tracePushSink(
        spark.readStream.schema(report.schema).parquet(srcDir),
        storeDir, actDir, ckpt)
      q.processAllAvailable(); q.stop()
    }
    drop(0)
    run() // cycle start: freezes the diffbase, pushes slice 0
    drop(1)
    run() // RESTART 1: same checkpoint, same frozen base
    drop(2)
    run() // RESTART 2

    val gotActions = spark.read.parquet(actDir).drop("batch", "cycle")
    val wantActions = TracePipeline.pushActions(
      report, TracePipeline.existingStore(docs))
    assert(wantActions.count() > 0, "fixture must actually push something")
    assert(gotActions.count() == wantActions.count() &&
      gotActions.exceptAll(wantActions).isEmpty &&
      wantActions.exceptAll(gotActions).isEmpty,
      "door actions across restarts must union to the batch q142 action rows")

    // the post-merge store state IS q142's output shape — compare
    // against the batch pipeline end-to-end (its own store, same docs)
    val got = spark.read.parquet(storeDir)
      .select("trace_id", "types", "single_cell_stimuli", "rev")
      .orderBy("trace_id").collect().toSeq
    val want = TracePipeline.applyAndRead(spark, docs).collect().toSeq
    assert(got == want,
      "the door's post-merge store must equal the batch pipeline's state row-for-row")

    // grain asymmetry holds at the door: a fix job never creates
    assert(spark.read.parquet(storeDir).count() == docs.count(),
      "store row count must stay the registered population (no creates)")
  }

  test("trace-push door: the shared push-cycle guards bite at the trace grain") {
    // the re-keyed door must INHERIT the replay contract, not just the
    // happy path: (1) a trace_id arriving in a second micro-batch of
    // one cycle fails the keylog guard loudly, store untouched;
    // (2) a deleted-and-recreated checkpoint over the cycle's residue
    // refuses to construct.
    import graft.operators.{TracePipeline, Traces}
    val docs = Tables.documents(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("graft_trguard")
    val reportDir = base.resolve("report").toString
    Traces.traceReport(docs).write.mode("overwrite").parquet(reportDir)
    val report = spark.read.parquet(reportDir)
    val srcDir = base.resolve("src").toString
    val storeDir = base.resolve("store").toString
    val actDir = base.resolve("actions").toString
    val ckpt = base.resolve("ckpt").toString
    TracePipeline.existingStore(docs).write.parquet(storeDir)
    val slice0 = report.filter(pmod(hash(col("trace_id")), lit(3)) === 0)
    def run(): Unit = {
      val q = EventStreams.tracePushSink(
        spark.readStream.schema(report.schema).parquet(srcDir),
        storeDir, actDir, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    slice0.coalesce(1).write.mode("append").parquet(srcDir)
    run() // batch 0: pushes slice 0, logs its keys
    val storeAfter0 = spark.read.parquet(storeDir)
      .orderBy("trace_id").collect().toSeq
    slice0.coalesce(1).write.mode("append").parquet(srcDir)
    val ex = intercept[Exception] { run() }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString(" | "))
    assert(rootMsg(ex).contains("repeats keys already pushed"),
      s"the keylog guard must fire at the trace grain: ${rootMsg(ex).take(300)}")
    assert(spark.read.parquet(storeDir)
      .orderBy("trace_id").collect().toSeq == storeAfter0,
      "a guard-failed batch must leave the store untouched")
    // fresh cycle over residue: delete the checkpoint, keep the rest
    def rmr(p: java.nio.file.Path): Unit = if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    rmr(base.resolve("ckpt"))
    val refuse = intercept[IllegalStateException] {
      EventStreams.tracePushSink(
        spark.readStream.schema(report.schema).parquet(srcDir),
        storeDir, actDir, ckpt)
    }
    assert(refuse.getMessage.startsWith("tracePushSink:") &&
      refuse.getMessage.contains("already holds action batches"),
      s"reused-path fresh cycle must refuse with the door's own name: ${refuse.getMessage.take(200)}")
  }

  test("annotation-push door: replay-contract guards bite — repeated key fails the cycle, reused checkpoint path refuses") {
    // r17 (advice): the two documented hazards are now CHECKED. (1) A
    // key arriving in a SECOND micro-batch of one push cycle would
    // re-diff against the frozen base and overwrite its earlier merge
    // (create at rev 1 over an already-bumped row) — the keylog guard
    // must fail the query loudly BEFORE any write, leaving the store
    // exactly at its pre-batch state. (2) A fresh cycle over a
    // deleted-and-recreated checkpoint path would replay batch ids
    // from 0 over the same actions cycle dir against a stale base —
    // the sink must refuse to construct.
    import graft.operators.Curation
    val part = Tables.part(spark, sf)
    val lineitem = Tables.lineitem(spark, sf)
    val computed = Curation.computedCompartmentAnnotations(lineitem)
    val slice0 = computed.filter(
      pmod(hash(col("entity_id"), col("compartment")), lit(3)) === 0).cache()
    try {
      val base = java.nio.file.Files.createTempDirectory("graft_annguard")
      val srcDir = base.resolve("src").toString
      val storeDir = base.resolve("store").toString
      val actDir = base.resolve("actions").toString
      val ckpt = base.resolve("ckpt").toString
      Curation.annotationStoreSeed(part).write.parquet(storeDir)
      def run(): Unit = {
        val q = EventStreams.annotationPushSink(
          spark.readStream.schema(computed.schema).parquet(srcDir),
          part, storeDir, actDir, ckpt)
        try q.processAllAvailable() finally q.stop()
      }
      slice0.coalesce(1).write.mode("append").parquet(srcDir)
      run() // batch 0: pushes slice 0, logs its keys
      val storeAfter0 = spark.read.parquet(storeDir)
        .orderBy("entity_id", "compartment").collect().toSeq
      // the SAME keys arrive again as a new source file → batch 1
      slice0.coalesce(1).write.mode("append").parquet(srcDir)
      val ex = intercept[Exception] { run() }
      def rootMsg(t: Throwable): String =
        (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(e => String.valueOf(e.getMessage)).mkString(" | "))
      assert(rootMsg(ex).contains("repeats keys already pushed"),
        s"the keylog guard must name the contract violation: ${rootMsg(ex).take(300)}")
      // the failed batch wrote NOTHING: store identical, no batch=1 actions
      assert(spark.read.parquet(storeDir)
        .orderBy("entity_id", "compartment").collect().toSeq == storeAfter0,
        "a guard-failed batch must leave the store untouched")
      assert(!new java.io.File(s"$actDir").listFiles().flatMap(c =>
        Option(c.listFiles()).getOrElse(Array.empty))
        .exists(_.getName == "batch=1"),
        "a guard-failed batch must record no actions")
      // (2) delete the checkpoint, keep the cycle's residue: a fresh
      // cycle at the SAME checkpoint path must refuse to start — both
      // on the actions cycle dir and, with actions cleaned too, on the
      // retained keylog (≥1 batch pushed = the store was mutated under
      // a base this start would stale-reuse)
      def rmr(p: java.nio.file.Path): Unit = if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
      rmr(base.resolve("ckpt"))
      def construct() = EventStreams.annotationPushSink(
        spark.readStream.schema(computed.schema).parquet(srcDir),
        part, storeDir, actDir, ckpt)
      val refuse = intercept[IllegalStateException] { construct() }
      assert(refuse.getMessage.contains("already holds action batches"),
        s"reused-path fresh cycle must refuse: ${refuse.getMessage.take(200)}")
      // clean the actions dir the way a user 'tidying up' would — the
      // keylog alone must still refuse
      rmr(java.nio.file.Paths.get(actDir))
      val refuse2 = intercept[IllegalStateException] { construct() }
      assert(refuse2.getMessage.contains("pushed keys"),
        s"a retained keylog must refuse a fresh cycle: ${refuse2.getMessage.take(200)}")
    } finally { slice0.unpersist(blocking = false); () }
  }
}
