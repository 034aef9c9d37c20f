package graft

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators._
import graft.sources.IndexCatalog
import graft.streaming.{DocStreams, EventStreams}

/** Cost splits: each named split times a list of labelled phases and
  * prints ONE JSON line. Most splits separate what a deployment pays
  * once (model training, store or frame builds) from what it pays per
  * query or batch (the frozen-model scan, the probe, the views over a
  * persisted frame) — the inventory entries price both per rep because
  * the oracle contract is self-contained. The skew and media splits
  * sweep one operator family over a hot-key share or a payload size;
  * `doors` prices the streaming doors against their batch twins,
  * `recall` and `kmv` the approximate operators against their exact
  * references, and `scale_curve` the heavy queries on synthetic ×3/×10
  * replicas ([[BenchScaleCurve]]).
  *
  * Run: `SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.BenchSplit
  * <split>…"` (no split = all of them, in table order). Every phase is
  * a warm series ([[warmTimes]]) of `SPARK_GRAFT_REPS` timed runs
  * (default 5) on the Bench ruler ([[rows]]); the session takes
  * `SPARK_GRAFT_CPUS` cores (default: the machine's). The run starts
  * behind [[quietGate]], and each line ends with `reps`, `sf`, the
  * gate's `degraded` and `load_waited_s`, and the end-of-split
  * `loadavg` — compare only lines taken under similar load. */
object BenchSplit {

  /** the Bench TIMING RULE: `toRdd.count()` computes every row of the
    * real plan; `Dataset.count()` would let Catalyst prune the final
    * sort/projection (and zero-filled card plans down to their
    * LocalRelation), pricing a different plan than the one shipped. */
  def rows(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** the one warm timer: `body` once untimed (plan, codegen, parquet
    * footers land there), then `reps` timed runs. Returns the sorted
    * seconds and the warm-up's value, so a phase that trains a model
    * hands it to the phases after it without one more training. */
  def warmTimes[A](reps: Int)(body: => A): (IndexedSeq[Double], A) = {
    val warm = body
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.sorted
    (ts, warm)
  }

  def sfDir(): String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    throw new IllegalArgumentException("SPARK_GRAFT_SF_DIR must name a scale-factor directory"))

  /** clamped to >= 1: the median of zero reps is undefined */
  def reps(): Int = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt.max(1)

  def session(): SparkSession = GraftSession.local(
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors()))

  /** the measurement tools' one quiet gate: wait, at most
    * `SPARK_GRAFT_LOAD_MAX_WAIT_S` (default 600), for the 1-minute load
    * to settle under `SPARK_GRAFT_LOAD_THRESHOLD` (default 3.0), then
    * run anyway. Returns (degraded, seconds waited) for the line. */
  def quietGate(): (Boolean, Long) = Bench.awaitQuiet(
    sys.env.getOrElse("SPARK_GRAFT_LOAD_THRESHOLD", "3.0").toDouble,
    sys.env.getOrElse("SPARK_GRAFT_LOAD_MAX_WAIT_S", "600").toInt)

  /** One split's recording: the session and SF it runs on, and the
    * ordered JSON fields its phases have produced. */
  final class Run(val spark: SparkSession, val sfDir: String, val reps: Int) {
    private val fields = ArrayBuffer.empty[(String, String)]
    lazy val docs: DataFrame = Tables.documents(spark, sfDir)
    lazy val emb: DataFrame = Tables.embeddings(spark, sfDir)
    /** per-split scratch space, deleted at JVM exit */
    private lazy val scratch = Scratch.dir("graft_split_")

    def put(key: String, value: Any): Unit = fields += key -> value.toString
    def putStr(key: String, value: String): Unit = put(key, "\"" + value + "\"")
    def putMb(key: String, bytes: Long): Unit = put(key, Bench.fmt3(bytes / 1048576.0))

    /** a labelled phase: its warm median in seconds under `label`;
      * returns the warm-up's value */
    def phase[A](label: String)(body: => A): A = {
      val (ts, warm) = warmTimes(reps)(body)
      put(label, Bench.fmt3(ts(ts.length / 2)))
      warm
    }
    /** a phase that runs one frame on the Bench ruler */
    def time(label: String)(df: => DataFrame): Unit = { phase(label)(rows(df)); () }
    /** shuffle-write MB of one untimed run of `df` (a plan property) */
    def shuffleMb(label: String)(df: => DataFrame): Unit =
      putMb(label, ShuffleBytes.measure(spark, () => { rows(df); () })._1)
    /** a nested object of fields recorded by `body` */
    def nest(key: String)(body: Run => Unit): Unit = {
      val sub = new Run(spark, sfDir, reps)
      body(sub)
      put(key, sub.json)
    }

    def path(name: String): String = s"$scratch/$name"
    def save(ds: Dataset[_], name: String): Unit =
      ds.write.mode("overwrite").parquet(path(name))
    def load(name: String): DataFrame = spark.read.parquet(path(name))

    def json: String = fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  /** the shared hot-key sweep: at each share (‰) the rows whose
    * `pmod(hot, 1000)` falls below it get `key` := `value` — one key
    * class holding up to half the table — recorded as `pm<share>`. A
    * map-side-combined plan stays near-flat across the sweep; a
    * serialized hot class grows linearly in the class size. */
  private def skewSweep(r: Run, base: DataFrame, key: String, hot: Column, value: Column)(
      cell: (Run, DataFrame) => Unit): Unit =
    Seq(0, 100, 300, 500).foreach { pm =>
      val view = if (pm == 0) base
        else base.withColumn(key, when(pmod(hot, lit(1000)) < pm, value).otherwise(col(key)))
      r.nest(s"pm$pm")(cell(_, view))
    }

  /** the `doors` split: streaming doors against their batch twins on
    * the same input and ruler, so the door premium — per-micro-batch
    * offset log, state store and planning — is a number. Each door's
    * input is staged once as slice files; `maxFilesPerTrigger=1` under
    * Trigger.AvailableNow drains one real micro-batch per slice (the
    * steady-state shape: one file per arrival wave), and every drain
    * gets a fresh checkpoint, so every rep replays the full cycle. The
    * sink is the Bench ruler at the door (each batch's rows computed,
    * none persisted), except for the two writer doors, whose sink is
    * the operator itself: a real MERGE per batch against a twin that
    * prices the diff only, so door − twin is the writer by
    * construction. `door_1batch` drains the same rows as ONE batch, so
    * (door − door_1batch)/(n_batches − 1) is the per-batch machinery,
    * which amortizes at production arrival volumes. */
  private def doors(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    import Bench.fmt3
    r.putStr("metric", "door_throughput")
    r.putStr("note", "each door drained with Trigger.AvailableNow over maxFilesPerTrigger=1 " +
      "slice files (real micro-batches); fresh checkpoint per rep; sink = per-batch " +
      "toRdd.count (the Bench ruler at the door) except the writer doors, whose sink IS the " +
      "MERGE writer; twins run on the same session and input; door_1batch drains the SAME " +
      "rows as ONE micro-batch, so (door-door_1batch)/(n_batches-1) = per-batch machinery " +
      "cost, which amortizes at production arrival volumes")
    var n = 0
    def fresh(kind: String): String = { n += 1; r.path(s"doors/$kind-$n") }
    def byMod(df: DataFrame, key: Column, k: Int): Seq[DataFrame] =
      (0 until k).map(i => df.filter(pmod(key, lit(k)) === i))
    /** one parquet file per slice, appended in slice order */
    def stage(slices: Seq[DataFrame]): String = {
      val dir = fresh("src")
      slices.foreach(_.coalesce(1).write.mode("append").parquet(dir))
      dir
    }
    def source(schema: StructType, dir: String, batched: Boolean): DataFrame = {
      val rs = spark.readStream.schema(schema)
      (if (batched) rs.option("maxFilesPerTrigger", 1) else rs).parquet(dir)
    }
    /** a writer door mutates its store: one freshly seeded store per
      * drain of a cell (two warm series of `reps` + 1), seeded before
      * any of them is timed */
    def stores(seed: DataFrame): Iterator[String] =
      (1 to 2 * (r.reps + 1)).map { _ => val d = fresh("store"); seed.write.parquet(d); d }.iterator
    /** start a door on a fresh checkpoint and drain it; returns the
      * trigger ms of the batches that carried rows, in batch order —
      * rising durations would show a guard re-reading a growing keylog */
    def drain(start: String => StreamingQuery): Seq[(Long, Long)] = {
      val q = start(fresh("ckpt"))
      try {
        q.processAllAvailable()
        q.recentProgress.toSeq.filter(_.numInputRows > 0)
          .map(p => p.batchId ->
            Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(-1L))
          .sortBy(_._1)
      } finally q.stop()
    }
    val countSink = (b: Dataset[Row], _: Long) => { rows(b); () }
    def counted(out: DataFrame, mode: String): Seq[(Long, Long)] = drain { ckpt =>
      out.writeStream.outputMode(mode).option("checkpointLocation", ckpt)
        .foreachBatch(countSink).trigger(Trigger.AvailableNow()).start()
    }
    /** one cell: the door drained as slices and as one batch, then its
      * twin, each a warm series; the writer doors (`triggers`) also
      * stamp their last timed drain's `batch_trigger_ms` */
    def cell(name: String, nRows: Long, nBatches: Int, twinName: String, note: String,
             triggers: Boolean = false)(door: Boolean => Seq[(Long, Long)])(
             twin: => DataFrame): Unit = r.nest(name) { c =>
      var last = Seq.empty[(Long, Long)]
      val (d, _) = warmTimes(r.reps) { last = door(true) }
      val (one, _) = warmTimes(r.reps)(door(false))
      val (t, _) = warmTimes(r.reps)(rows(twin))
      c.put("n_rows", nRows); c.put("n_batches", nBatches)
      c.put("door_s_min", fmt3(d.head)); c.put("door_s_median", fmt3(d(d.length / 2)))
      c.put("door_1batch_s_min", fmt3(one.head))
      // -1 with a single batch (sessionize under extreme timestamp
      // duplication): the split is undefined there
      c.put("per_batch_overhead_s",
        fmt3(if (nBatches >= 2) (d.head - one.head) / (nBatches - 1) else -1.0))
      c.put("door_rows_per_s", fmt3(nRows / d.head))
      c.putStr("batch_twin", twinName)
      c.put("twin_s_min", fmt3(t.head)); c.put("twin_s_median", fmt3(t(t.length / 2)))
      c.put("door_over_twin", fmt3(d.head / t.head))
      if (triggers)
        c.put("batch_trigger_ms", last.map { case (id, ms) => s"[$id,$ms]" }.mkString("[", ",", "]"))
      c.putStr("note", note)
    }

    // corpus screen: stateless row-local verdicts + within-watermark
    // dedup — the highest-volume ingest door
    val rates = Seq("en" -> 1000, "zh" -> 5000)
    val screenDir = stage(byMod(r.docs, col("doc_id"), 4))
    cell("screen_door", r.docs.count(), 4, "withScreenColumns+dedup (the door's own verdict block)",
      "stateless verdicts + dropDuplicatesWithinWatermark; door pays source discovery + " +
        "4 micro-batch plans + state store for the dedup")(
      b => counted(DocStreams.corpusScreen(source(DocStreams.docsSchema, screenDir, b), rates, 2500),
        "append"))(
      Corpus.withScreenColumns(r.docs, rates, 2500).filter(col("is_quality") && col("sampled"))
        .dropDuplicates("fingerprint").select("doc_id", "lang", "fingerprint", "alpha_bp"))

    // retrieval percolation: q103's corpus side arriving incrementally,
    // scored row-locally against the frozen query model
    val corpusSide = r.docs.filter(pmod(col("doc_id"), lit(Corpus.RetMod.toLong)) =!= 0L)
    val retDir = stage(byMod(corpusSide, col("doc_id"), 4))
    val model = Corpus.retrievalModel(r.docs)
    cell("retrieval_lookup_door", corpusSide.count(), 4, "q103_chunk_retrieval",
      "percolation vs frozen query model, row-local scoring; twin additionally " +
        "ELECTS global top-k (the door alerts, the batch ranks) — stated asymmetry")(
      b => counted(DocStreams.retrievalLookup(source(DocStreams.docsSchema, retDir, b), model, 0L),
        "append"))(
      SparkEntry.queries("q103_chunk_retrieval")(spark, r.sfDir))

    // stateful sessionize (flatMapGroupsWithState + event-time timers)
    // at ×1 and ×10 volume: the per-batch machinery is fixed, so rows/s
    // must rise toward the kernel rate as the waves carry more rows (10
    // disjoint user-id universes replicate the events without changing
    // any session's shape). The twin is the batch operator on the same
    // input — at ×1 exactly the q51 plan.
    val ev0 = Tables.events(spark, r.sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    Seq(1 -> "sessionize_door", 10 -> "sessionize_door_x10").foreach { case (mult, name) =>
      val ev = if (mult == 1) ev0 else (0 until mult).map(i => ev0
          .withColumn("event_id", col("event_id") + lit(i * 1000000000L))
          .withColumn("user_id", col("user_id") + lit(i * 1000000000L)))
        .reduce(_ unionByName _)
      // contiguous event-time waves so the watermark advances per batch.
      // Duplicated timestamps can collapse quantile bounds, so the
      // bounds are deduplicated and n_batches counts the waves that
      // carried rows
      val withTs = ev.withColumn("ts_us", unix_micros(col("ts")))
      val qs = withTs.stat.approxQuantile("ts_us", Array(0.25, 0.5, 0.75), 0.001).map(_.toLong)
      val dir = fresh("src")
      val waveRows = (Long.MinValue +: qs :+ Long.MaxValue).distinct.sorted.sliding(2).toSeq
        .map { b =>
          val w = withTs.filter(col("ts_us") >= b(0) && col("ts_us") < b(1)).drop("ts_us")
          val rowsInWave = w.count()
          if (rowsInWave > 0) w.coalesce(1).write.mode("append").parquet(dir)
          rowsInWave
        }.filter(_ > 0)
      cell(name, ev.count(), waveRows.length, s"EventOps.sessionize x$mult (q51's operator)",
        s"flatMapGroupsWithState + event-time eviction timers over ${waveRows.length} " +
          s"time-ordered waves (rows/wave ${waveRows.mkString("/")}); state = open sessions only" +
          (if (mult > 1) s"; x$mult disjoint user universes — same waves, ${mult}x rows per batch"
           else ""))(
        b => counted(EventStreams.statefulSessionize(
          EventStreams.readEventStream(spark, dir, maxFilesPerTrigger = Option.when(b)(1))
            .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
            .as[EventStreams.Ev]).toDF(), "update"))(
        EventOps.sessionize(ev))
    }

    // annotation push, the guarded writer door (keylog disjointness
    // check + diff + a real copy-on-write MERGE per batch), at ×1 and
    // ×10: the ×10 arm replicates part + computed into 10 disjoint
    // entity universes and stages ONE SLICE PER UNIVERSE, so batch i's
    // guard re-reads i−1 universes of keylog — it measures the
    // premium's amortization and the guard's per-batch cost as the
    // keylog grows. Slices are key-disjoint (the replay contract). The
    // twin is q140's operator composition on the same input.
    val shift = 1000000000L
    val part0 = Tables.part(spark, r.sfDir)
    val computed0 = Curation.computedCompartmentAnnotations(Tables.lineitem(spark, r.sfDir))
    Seq(1 -> "annotation_push_door", 10 -> "annotation_push_door_x10").foreach { case (mult, name) =>
      def universes(df: DataFrame, key: String) = if (mult == 1) df
        else (0 until mult).map(i => df.withColumn(key, col(key) + lit(i * shift)))
          .reduce(_ unionByName _)
      val part = universes(part0, "p_partkey")
      val computed = universes(computed0, "entity_id")
      val kSlices = if (mult == 1) 3 else mult
      val dir = stage(if (mult == 1) byMod(computed, hash(col("entity_id"), col("compartment")), 3)
        else (0 until mult).map(i =>
          computed.filter(col("entity_id") >= i * shift && col("entity_id") < (i + 1) * shift)))
      val annStores = stores(Curation.annotationStoreSeed(part))
      cell(name, computed.count(), kSlices, s"Curation.annotationDiff x$mult (q140's operator)",
        "guarded writer door: keylog disjointness check + diff + REAL copy-on-write MERGE " +
          s"per batch; twin is the diff only, so door-twin = $kSlices writer cycles + guard by " +
          "construction" + (if (mult > 1) s"; x$mult disjoint entity universes, one universe " +
            "per batch — batch i's guard re-reads i-1 universes of keylog" else ""),
        triggers = true)(
        b => drain(ckpt => EventStreams.annotationPushSink(source(computed.schema, dir, b), part,
          annStores.next(), fresh("act"), ckpt)))(
        Curation.annotationDiff(computed, Curation.existingAnnotations(part), part)
          .orderBy("entity_id", "compartment"))
    }

    // trace push (q142's door): persisted-report rows arrive per batch;
    // each batch runs the shared classify + gate + diff against the
    // frozen base and a real MERGE keyed on trace_id. The report is
    // built once — the decode is the pipeline's one-time cost, not the
    // door's. The twin is the door's per-batch compute over the whole
    // report in one pass, writer excluded.
    r.save(Traces.traceReport(r.docs), "doors/report")
    val report = r.load("doors/report")
    val traceDir = stage(byMod(report, hash(col("trace_id")), 3))
    val traceStores = stores(TracePipeline.existingStore(r.docs))
    cell("trace_push_door", report.count(), 3,
      "TracePipeline.pushActions (q142's classify+gate+diff, writer excluded)",
      "guarded trace-grain writer door: keylog disjointness check + shared " +
        "classify/gate/diff vs frozen base + REAL copy-on-write MERGE per batch; " +
        "input = PERSISTED report rows (decode excluded by design), so door-twin = 3 " +
        "writer cycles + guard by construction", triggers = true)(
      b => drain(ckpt => EventStreams.tracePushSink(source(report.schema, traceDir, b),
        traceStores.next(), fresh("act"), ckpt)))(
      TracePipeline.pushActions(report, TracePipeline.existingStore(r.docs)))
  }

  /** the split table, in run order */
  val splits: ListMap[String, Run => Unit] = ListMap(
    // PQ family: the model-training constant (bounded sample + driver
    // Lloyd) that a deployment pays once per index build, vs the
    // encode scan and the searches it pays per query
    "pq" -> { r =>
      r.phase("ivf_train_s")(Similarity.ivfCentroids(r.emb, 16))
      val books = r.phase("pq_train_s")(Similarity.pqCodebooks(r.emb))
      r.time("encode_scan_s")(Similarity.pqEncodeWithModel(r.emb, books))
      r.time("encode_full_s")(Similarity.pqEncode(r.emb))
      r.time("adc_search_s")(Similarity.pqAdcSearch(r.emb))
      r.time("ivfpq_search_s")(Similarity.knnIvfPq(r.emb))
      r.time("ivf_rpq_search_s")(Similarity.knnIvfRpq(r.emb))
    },
    // q88b segment lifecycle: segment writes (per micro-batch),
    // compaction (amortized on a schedule) and the bucket-pruned
    // catalog search (per query)
    "seg" -> { r =>
      r.phase("segment_writes_s")(Seq(0, 1).foreach { par =>
        val b = r.docs.filter(pmod(col("doc_id"), lit(2)) === par)
        r.save(Search.postingIndex(b), s"index/seg=$par")
        r.save(Search.docCount(b), s"meta/seg=$par")
      })
      // a fresh table per rep: compaction overwrites a table, and
      // re-creating it is the operation being priced
      var gen = 0
      try {
        r.phase("compact_s") {
          gen += 1
          IndexCatalog.compactSegments(r.spark, r.path("index"), r.path("meta"),
            s"graft_segsplit_$gen", r.path("compacted"))
        }
        r.time("search_s")(IndexCatalog.searchPostings(r.spark, s"graft_segsplit_$gen"))
      } finally (1 to gen).foreach { g =>
        r.spark.sql(s"DROP TABLE IF EXISTS graft_segsplit_$g")
        r.spark.sql(s"DROP TABLE IF EXISTS graft_segsplit_${g}_meta")
      }
    },
    // q82 index maintenance: BUILD (train + full base encode/write) vs
    // MAINTAIN (delta encode + partition-scoped merge; re-applying the
    // same delta is idempotent by vec_id and rewrites the same cells)
    "idx" -> { r =>
      val (m, dim, nCells) = (8, 64, 16)
      def train(cells: Int) =
        Similarity.rpqModels(r.emb, Similarity.ivfCentroids(r.emb, cells), m, dim)
      def arm(model: (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]), deltaRows: Int,
              buildKey: String, maintainKey: String): Unit = {
        val (cents, books) = model
        val dir = r.path(buildKey)
        r.phase(buildKey)(Similarity.pqResidualEncodeWithModel(r.emb, cents, books, m, dim)
          .hint("rebalance", "cell")
          .write.mode("overwrite").partitionBy("cell").parquet(dir))
        val delta = r.emb.filter(col("vec_id") < deltaRows)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            reverse(col("embedding")).as("embedding"))
        r.phase(maintainKey)(MergeWriter.applyToPartitioned(r.spark, dir,
          Similarity.pqResidualEncodeWithModel(delta, cents, books, m, dim), "vec_id", "cell"))
      }
      arm(r.phase("train_s")(train(nCells)), 500, "base_build_s", "maintain_s")
      r.put("cells", nCells)
      // deployment-shaped case: at the q82 constants (16 cells) ANY
      // uniform delta touches every cell, so partition scoping can't
      // prune and maintain costs ≥ a rebuild at this SF. With a
      // realistic cell count and a small batch the merge reads and
      // rewrites only the touched fraction — this pair shows the
      // crossover the 100 TB story rests on.
      arm(train(256), 50, "base_build_256c_s", "maintain_50row_256c_s")
    },
    // the text family as 14 standalone corpus scans vs ONE docReport
    // build + persist and 14 views over the narrow frame; the models
    // (rarity/LM/DSIR, frozen once per release) are timed apart
    "report" -> { r =>
      val rates = Seq("en" -> 8000, "de" -> 6000)
      val (rar, lm, ds) = r.phase("model_train_s")(
        (Frequency.rarityModel(r.docs), LmScreen.lmModel(r.docs), Dsir.dsirModel(r.docs)))
      val standalone: Seq[DataFrame => DataFrame] = Seq(
        TextAnalysis.langId(_), TextAnalysis.contentMetadataCheck(_),
        TextAnalysis.qualityScore(_), TextAnalysis.tokenCounts(_),
        TextAnalysis.repetitionScreen(_), TextAnalysis.fingerprint(_),
        TextAnalysis.exactDedup(_), TextAnalysis.dedupedCorpus(_),
        Corpus.datasetSplit(_, 1000, 1000), Frequency.rarityScreen(_),
        LmScreen.lmScreen(_), Dsir.dsirWeights(_),
        Corpus.corpusPipeline(_, rates, 5000, 4000L), Corpus.corpusCard(_, rates, 5000))
      r.phase("standalone_14ops_s")(standalone.foreach(op => rows(op(r.docs))))
      r.phase("frame_build_persist_s")(r.save(TextAnalysis.docReport(r.docs, rar, lm, ds), "frame"))
      val frame = r.load("frame")
      val views: Seq[DataFrame => DataFrame] = Seq(
        TextAnalysis.reportLangId(_), TextAnalysis.reportContentCheck(_),
        TextAnalysis.reportQuality(_), TextAnalysis.reportTokenCounts(_),
        TextAnalysis.reportRepetition(_), TextAnalysis.reportFingerprint(_),
        TextAnalysis.reportExactDedup(_), TextAnalysis.reportDedupApply(_),
        TextAnalysis.reportDatasetSplit(_, 1000, 1000), TextAnalysis.reportRarity(_),
        TextAnalysis.reportLmScreen(_), TextAnalysis.reportDsir(_),
        Corpus.reportCorpusPipeline(_, rates, 5000, 4000L),
        Corpus.reportCorpusCard(_, rates, 5000))
      r.phase("views_14ops_s")(views.foreach(op => rows(op(frame))))
    },
    // the README release flow in one session, op by op: wall ms and
    // the Janino compiles (count and ms) each op pays, for one cold
    // pass and SPARK_GRAFT_REPS warm passes — a warm pass that still
    // compiles classes is not fitting Spark's codegen cache
    "release" -> { r =>
      val slices = r.path("slices")
      Seq(0, 1).foreach(p => r.docs.filter(pmod(col("doc_id"), lit(2)) === p)
        .select(streaming.DocStreams.docsSchema.fieldNames.map(col).toSeq: _*)
        .coalesce(1).write.mode("append").parquet(slices))
      var rar: (Map[String, Long], Long) = null
      var lm: LmScreen.LmModel = null
      var ds: Dsir.DsirModel = null
      var report: DataFrame = null
      var cents: Seq[Seq[Double]] = null
      var drains = 0
      val ops: Seq[(String, () => Unit)] = Seq(
        "rarity_model" -> (() => rar = Frequency.rarityModel(r.docs)),
        "lm_model" -> (() => lm = LmScreen.lmModel(r.docs)),
        "dsir_model" -> (() => ds = Dsir.dsirModel(r.docs)),
        "doc_report_build" -> (() => report = TextAnalysis.docReport(r.docs, rar, lm, ds)),
        "doc_report_write" -> (() => r.save(report, "report")),
        "view_q70_dataset_split" -> (() =>
          rows(TextAnalysis.reportDatasetSplit(r.load("report"), 500, 500))),
        "view_q101b_dsir_resample" -> (() =>
          rows(Dsir.resampleFromWeights(TextAnalysis.reportDsir(r.load("report"))))),
        "release_stores" -> (() => {
          val (fp, band) = Dedup.releaseStores(r.docs)
          r.save(fp, "fp"); r.save(band, "band")
        }),
        "ingest_door" -> (() => {
          drains += 1
          val arriving = r.spark.readStream.schema(streaming.DocStreams.docsSchema)
            .option("maxFilesPerTrigger", "1").parquet(slices)
          val q = streaming.DocStreams.releaseDedupSink(arriving, r.load("fp"), r.load("band"),
            r.path(s"door/out-$drains"), r.path(s"door/ckpt-$drains"))
          try q.awaitTermination() finally q.stop()
        }),
        "ivf_centroids" -> (() => cents = Similarity.ivfCentroids(r.emb, 16)),
        "view_q104c_semdedup" -> (() => rows(Similarity.semanticDedupCellsWithModel(r.emb, cents))))
      // one pass: per op wall ms, compiles and compile ms; pass totals
      def pass(key: String): (Double, Long, Double) = {
        var (ms, compiles, compileMs) = (0.0, 0L, 0.0)
        r.nest(key) { p =>
          ops.foreach { case (name, op) =>
            val (c0, n0, t0) = (CodegenCost.compiles, CodegenCost.nanos, System.nanoTime())
            op()
            val (dt, dc, dn) = ((System.nanoTime() - t0) / 1e6, CodegenCost.compiles - c0,
              (CodegenCost.nanos - n0) / 1e6)
            p.put(s"${name}_ms", Bench.fmt3(dt)); p.put(s"${name}_compiles", dc)
            p.put(s"${name}_compile_ms", Bench.fmt3(dn))
            ms += dt; compiles += dc; compileMs += dn
          }
          p.put("pass_ms", Bench.fmt3(ms)); p.put("compiles", compiles)
          p.put("compile_ms", Bench.fmt3(compileMs))
        }
        (ms, compiles, compileMs)
      }
      r.put("cold_classes", pass("cold")._2)
      val warm = (1 to r.reps).map(i => pass(s"warm$i"))
      def p50(xs: Seq[Double]) = Bench.fmt3(xs.sorted.apply(xs.length / 2))
      r.put("warm_pass_ms_p50", p50(warm.map(_._1)))
      r.put("warm_compiles_p50", p50(warm.map(_._2.toDouble)))
      r.put("warm_compile_ms_p50", p50(warm.map(_._3)))
    },
    // q108: store collapse (once per release) vs the probe of the
    // persisted stores (per ingest batch)
    "rel" -> { r =>
      val (fp, band) = Dedup.releaseStores(r.docs)
      r.save(fp, "fp"); r.save(band, "band")
      val (fpP, bandP) = (r.load("fp"), r.load("band"))
      val inc = Dedup.ingestView(r.docs)
      r.phase("store_build_s") {
        val (a, b) = Dedup.releaseStores(r.docs)
        rows(a); rows(b)
      }
      r.time("probe_s")(Dedup.releaseDedupWithStores(fpP, bandP, inc))
    },
    // q118: both upstream span scans (q107b duplication + q113
    // contamination) vs the cut-sized union+fold over persisted lists
    "cut" -> { r =>
      r.save(Dedup.spanCutSpans(r.docs), "dup")
      r.save(Dedup.contaminationSpans(r.docs), "contam")
      val (dupP, contamP) = (r.load("dup"), r.load("contam"))
      r.phase("upstream_scans_s") {
        rows(Dedup.spanCutSpans(r.docs)); rows(Dedup.contaminationSpans(r.docs))
      }
      r.time("combine_s")(Dedup.combineCutLists(dupP, contamP))
    },
    // cluster curation: the k-means training constant vs each
    // q104-family operator and the vecReport frame under frozen models
    "cluster" -> { r =>
      val cents = r.phase("ivf_train_s")(Similarity.ivfCentroids(r.emb, 16))
      val books = Similarity.pqCodebooks(r.emb)
      r.time("cards_frozen_s")(Similarity.clusterCardsWithModel(r.docs, r.emb, cents))
      r.time("sample_frozen_s")(Similarity.clusterSampleWithModel(r.emb, cents))
      r.time("semdedup_frozen_s")(Similarity.semanticDedupCellsWithModel(r.emb, cents))
      r.time("vecreport_frozen_s")(Similarity.vecReportWithModels(r.emb, cents, books))
    },
    // q125/q125b: self-contained derivation vs the audit over the
    // scored edges and cluster labels the dedup pass persists
    "audit" -> { r =>
      val edges = Dedup.minhashCandidatePairs(r.docs)
      val sets = r.docs.select(col("doc_id"), Dedup.shingleSet(col("text"), 3).as("sh"))
      r.save(edges
        .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          expr("(10000 * CAST(size(array_intersect(sh_a, sh_b)) AS BIGINT)) DIV " +
            "nullif(CAST(size(array_union(sh_a, sh_b)) AS BIGINT), 0)").as("jaccard_bp")),
        "scored")
      r.save(Dedup.propagateLabels(r.docs, edges), "labels")
      val (scoredP, labelsP) = (r.load("scored"), r.load("labels"))
      r.time("q125_full_s")(Dedup.clusterQualityAudit(r.docs))
      r.time("q125_frames_s")(
        Dedup.clusterQualityFromFrames(scoredP.select("doc_a", "jaccard_bp"), labelsP))
      r.time("q125b_full_s")(Dedup.verifiedClusters(r.docs))
      r.time("q125b_edges_s")(Dedup.verifiedClustersFromEdges(r.docs,
        scoredP.filter(col("jaccard_bp") >= Dedup.VerifiedEdgeBp).select("doc_a", "doc_b")))
    },
    // BOT-USER skew: one user holds the swept share of all events — the
    // per-user-sequence operators (q135's lag, q130's funnel chain)
    "skew" -> { r =>
      val botUser = 424242424242L
      r.putStr("metric", "bot_skew"); r.put("bot_user", botUser)
      skewSweep(r, Tables.events(r.spark, r.sfDir), "user_id", col("event_id"), lit(botUser)) {
        (c, ev) =>
          c.time("transitions_s")(EventOps.eventTransitions(ev))
          c.time("transitions_windowed_s")(EventOps.eventTransitionsWindowed(ev))
          c.time("funnel_s")(EventOps.funnel(ev))
          c.time("funnel_users_s")(EventOps.funnelUsers(ev))
      }
    },
    // BOILERPLATE skew: one shared text (one fingerprint/shingle class)
    // holds the swept share of all documents — the dedup elections
    "skew_docs" -> { r =>
      val boiler = "the quick brown fox jumped over the lazy dog and then " +
        "jumped over the lazy dog once more for good measure"
      r.putStr("metric", "boilerplate_skew")
      skewSweep(r, r.docs, "text", col("doc_id"), lit(boiler)) { (c, d) =>
        c.time("q40_fingerprint_s")(TextAnalysis.fingerprint(d))
        c.time("q83_block_s")(Dedup.blockDedup(d))
        c.time("q31_minhash_s")(Dedup.minhashProfile(d))
        c.time("q42_apply_s")(TextAnalysis.dedupedCorpus(d))
      }
    },
    // HOT-PART skew: one part key holds the swept share of lineitem —
    // q140's (partkey, compartment) groupBy in the annotation push
    "skew_push" -> { r =>
      val hotPart = 1L
      val part = Tables.part(r.spark, r.sfDir)
      r.putStr("metric", "hot_part_skew"); r.put("hot_part", hotPart)
      skewSweep(r, Tables.lineitem(r.spark, r.sfDir), "l_partkey",
          col("l_orderkey") * 10 + col("l_linenumber"), lit(hotPart)) { (c, li) =>
        c.time("q140_push_s")(Curation.annotationPush(part, li))
      }
    },
    // the q41 family as three standalone payload scans vs ONE
    // decode-once mediaReport build + three views over the persisted
    // narrow frame; then q41 with and without its payload-sized exchange
    "media" -> { r =>
      r.phase("standalone_3ops_s") {
        rows(Multimodal.extractFeatures(r.docs))
        rows(Multimodal.frameSampleManifest(r.docs))
        rows(Multimodal.resizedFeatures(r.docs))
      }
      r.phase("frame_build_persist_s")(r.save(Multimodal.mediaReport(r.docs), "frame"))
      val frame = r.load("frame")
      r.phase("views_3ops_s") {
        rows(Multimodal.reportFeatures(frame))
        rows(Multimodal.reportFrameSamples(frame).orderBy("doc_id", "frame_idx"))
        rows(Multimodal.reportResizedFeatures(frame))
      }
      r.time("q41_with_repartition_s")(Multimodal.extractFeatures(r.docs))
      r.time("q41_no_shuffle_s")(
        Multimodal.featuresRollup(Multimodal.mediaFrame(r.docs), repartition = false))
    },
    // PAYLOAD-SIZE decade: the 100 TB multimodal cost is payload bytes
    // (image/video bytes grow ≈ scale²), so sweep the payload size at
    // fixed rows and price the blob exchange at each point, in seconds
    // and in the shuffle bytes a cluster fabric would carry
    "media_scale" -> { r =>
      r.putStr("metric", "media_payload_decade")
      sys.env.getOrElse("SPARK_GRAFT_MEDIA_SCALES", "1,4,16").split(',').map(_.trim.toInt)
        .foreach { s =>
          val media = Multimodal.mediaFrame(r.docs, s)
          def q41(repartition: Boolean) = Multimodal.featuresRollup(media, repartition)
          r.nest(s"x$s") { c =>
            c.putMb("payload_mb", media.agg(sum(length(col("content")))).head().getLong(0))
            c.time("with_repartition_s")(q41(true))
            c.time("no_shuffle_s")(q41(false))
            c.shuffleMb("shuffle_mb_with")(q41(true))
            c.shuffleMb("shuffle_mb_without")(q41(false))
          }
        }
    },
    // HOT-BLOB skew: the scenario the blob exchange exists for —
    // `HOT_PERMILLE`‰ of documents carry `HOT_SCALE`-sized payloads,
    // SPREAD through the id space or CLUSTERED at its head (adjacent
    // ids share input splits, so without the exchange one scan task
    // decodes nearly all of them and the job waits on its tail). The
    // synthesis stands in for the scan and cannot be evened (bytes are
    // read where they live); the exchange evens the DECODE.
    "media_skew" -> { r =>
      val permille = sys.env.getOrElse("SPARK_GRAFT_HOT_PERMILLE", "10").toInt
      val hotScale = sys.env.getOrElse("SPARK_GRAFT_HOT_SCALE", "32").toInt
      val decodeReps = sys.env.getOrElse("SPARK_GRAFT_DECODE_REPS", "8").toInt
      r.putStr("metric", "media_hot_blob_skew")
      r.put("hot_permille", permille); r.put("hot_scale", hotScale)
      r.put("decode_reps", decodeReps)
      // A realistic input layout: the fixture is one parquet file = ONE
      // input split, where everything is "clustered". Re-write it as
      // 32 range-partitioned files, then set BOTH maxPartitionBytes and
      // openCostInBytes to the largest file size: maxSplitBytes =
      // min(maxPartitionBytes, max(openCost, bytesPerCore)) is then that
      // size whatever bytesPerCore is, no file splits and no two files
      // pack — one file per split, asserted below.
      r.save(r.docs.repartitionByRange(32, col("doc_id")), "docs")
      val dir = new org.apache.hadoop.fs.Path(r.path("docs"))
      val maxFile = dir.getFileSystem(r.spark.sparkContext.hadoopConfiguration)
        .listStatus(dir).filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).max
      val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
      val saved = keys.map(k => k -> r.spark.conf.getOption(k))
      keys.foreach(r.spark.conf.set(_, maxFile.toString))
      try {
        val docs = r.load("docs")
        require(docs.rdd.getNumPartitions == 32,
          s"media_skew needs the 32-file ranged layout to scan as 32 input " +
            s"splits, got ${docs.rdd.getNumPartitions} (maxPartitionBytes=$maxFile)")
        r.put("input_splits", docs.rdd.getNumPartitions)
        val n = docs.count()
        val spark = r.spark
        import spark.implicits._
        for (clustered <- Seq(false, true); withRep <- Seq(true, false)) {
          val hot: Long => Boolean =
            if (clustered) _ < n * permille / 1000L else id => Math.floorMod(id, 1000L) < permille
          val media = Multimodal.mediaFrame(docs).as[Multimodal.MediaRow].map { m =>
            if (hot(m.doc_id)) m.copy(content = Multimodal.synthMedia(m.doc_id, m.mime, hotScale))
            else m
          }.toDF()
          def q41 = Multimodal.featuresRollup(media, withRep, decodeReps = decodeReps)
          r.nest((if (clustered) "clustered" else "spread") +
              (if (withRep) "_with_repartition" else "_no_shuffle")) { c =>
            c.time("s")(q41)
            c.shuffleMb("shuffle_mb")(q41)
          }
        }
      } finally saved.foreach { case (k, v) => v.fold(r.spark.conf.unset(k))(r.spark.conf.set(k, _)) }
    },
    "doors" -> doors,
    // the approximate families against their exact references on this
    // SF: q103b's champion-list pruning vs the exhaustive rescore over
    // the same query set and scoring space, q31's MinHash banding vs
    // the exact all-pairs Jaccard per threshold, and the banding
    // S-curve knee on a closed-form fixture (SF-independent: the
    // corpora's true-pair population is bimodal, so the knee is
    // exercised on pairs at exactly J = 0.5/0.6/0.7)
    "recall" -> { r =>
      r.putStr("metric", "recall_audits"); r.putStr("unit", "bp")
      def num(row: Row, key: String): Long = row.getAs[Long](key)
      r.nest(s"retrieval_recall_at_${Corpus.RetK}") { c =>
        c.put("confident_bar_q20", Corpus.ConfidentSimQ20)
        c.put("ret_buckets", Corpus.RetBuckets)
        c.put("ret_bigram_buckets", Corpus.RetBigramBuckets)
        c.putStr("note", "q103b champion-list pruning vs exhaustive rescore, same query set " +
          "and scoring space (unigram + adjacent-bigram channels); confident = exhaustive " +
          "top-k rows at cos2 >= bar/2^20 (the near-dup band)")
        val a = Corpus.retrievalRecallAudit(r.docs, Corpus.RetK).collect()
        def total(key: String) = a.map(num(_, key)).sum
        c.put("n_queries", a.length)
        c.put("macro_mean_bp", total("recall_bp") / a.length.max(1))
        c.put("min_bp", if (a.isEmpty) -1L else a.map(num(_, "recall_bp")).min)
        c.put("micro_bp", 10000L * total("n_hits") / total("n_exact").max(1L))
        c.put("n_confident", total("n_confident"))
        c.put("n_confident_hits", total("n_confident_hits"))
        c.put("confident_bp", 10000L * total("n_confident_hits") / total("n_confident").max(1L))
      }
      r.nest("minhash_banding_recall") { c =>
        c.putStr("note", "q31 banding candidates (32 hashes, 8 bands of 4) vs the exact " +
          "all-pairs Jaccard reference, per threshold (cumulative: a row counts every true " +
          "pair at or above its threshold); theory for r=4,b=8 predicts 1-(1-s^4)^8: 0.9998 " +
          "at s=0.9, 0.985 at 0.8, 0.889 at 0.7, 0.404 at 0.5")
        Dedup.minhashBandingRecall(r.docs).collect().foreach { t =>
          c.nest(s"t${num(t, "threshold_bp")}") { cell =>
            Seq("n_true", "n_caught", "recall_bp").foreach(k => cell.put(k, num(t, k)))
          }
        }
      }
      val midPairs = 400
      r.nest("minhash_midband_recall") { c =>
        c.putStr("note", s"$midPairs independent closed-form pairs per similarity class at " +
          "exactly J = 0.5/0.6/0.7 (shared m-token prefix, disjoint t-token tails: " +
          "J = (m-2)/(m+2t-2)), grouped by the TRUE Jaccard so each class compares to its own " +
          "theory point 1-(1-s^4)^8; expected binomial 3-sigma half-width at " +
          s"n=$midPairs is <= ~750 bp")
        c.put("pairs_per_band", midPairs)
        Dedup.minhashMidBandRecall(Dedup.midBandFixture(r.spark, midPairs)).collect().foreach { j =>
          c.nest(s"j${num(j, "jaccard_bp")}") { cell =>
            Seq("n_true", "n_caught", "recall_bp", "theory_bp").foreach(k => cell.put(k, num(j, k)))
          }
        }
      }
    },
    // the KMV sketch for exact countDistinct where per-group distincts
    // far exceed k — per-brand distinct orders, the 100 TB shape: the
    // shuffle MB the swap saves against the estimate error it costs.
    // (q23b's own grain sits below k, where the estimate is exact and
    // KmvSketchSpec pins it.) Exact countDistinct ships every distinct
    // (brand, orderkey) pair; the sketch ships ≤ mappers × k minima
    // per group.
    "kmv" -> { r =>
      val k = Curation.KmvK
      r.putStr("metric", "kmv_swap"); r.put("k", k)
      val joined = Tables.lineitem(r.spark, r.sfDir).select(col("l_partkey"), col("l_orderkey"))
        .join(Tables.part(r.spark, r.sfDir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
      def exact = joined.groupBy(col("p_brand"))
        .agg(countDistinct(col("l_orderkey")).as("n_orders"))
      def kmv = {
        val sk = graft.functions.KmvSketch.kmv_sketch(
          shiftrightunsigned(xxhash64(col("l_orderkey")), 4), k)
        joined.groupBy(col("p_brand")).agg(sk.as("sk"))
          .select(col("p_brand"),
            when(size(col("sk")) < k, size(col("sk")).cast("long"))
              .otherwise(floor(lit((k - 1).toDouble * math.pow(2, 60)) /
                element_at(col("sk"), size(col("sk"))).cast("double")))
              .as("n_orders_est"))
      }
      r.nest("high_card_swap") { c =>
        def minS(df: => DataFrame): String = Bench.fmt3(warmTimes(r.reps)(rows(df))._1.head)
        /** shuffle-write MB (10^6 bytes) of one metered run: a plan property */
        def mb(df: => DataFrame): Double =
          ShuffleBytes.measure(r.spark, () => { rows(df); () })._1 / 1e6
        val (exactMb, kmvMb) = (mb(exact), mb(kmv))
        c.put("exact_s_min", minS(exact)); c.put("kmv_s_min", minS(kmv))
        c.put("exact_shuffle_mb", Bench.fmt3(exactMb)); c.put("kmv_shuffle_mb", Bench.fmt3(kmvMb))
        // -1 when the exact plan shuffled nothing: Infinity is not JSON
        c.put("mb_ratio", Bench.fmt3(if (exactMb > 0.0) kmvMb / exactMb else -1.0))
        // |est − exact| / max(exact, 1) per brand: one narrow pass over
        // the dimension-sized group counts
        val err = exact.join(kmv, Seq("p_brand"))
          .select((abs(col("n_orders_est") - col("n_orders")) /
            greatest(col("n_orders"), lit(1L))).cast("double").as("e"))
          .agg(max(col("e")), avg(col("e"))).head()
        c.put("max_rel_err", Bench.fmt3(err.getDouble(0)))
        c.put("mean_rel_err", Bench.fmt3(err.getDouble(1)))
      }
    },
    "scale_curve" -> BenchScaleCurve.curve)

  /** run one split and render its JSON line; `gate` is the
    * [[quietGate]] result the run started behind */
  def run(spark: SparkSession, sfDir: String, reps: Int, name: String,
          gate: (Boolean, Long)): String = {
    val r = new Run(spark, sfDir, reps)
    splits(name)(r)
    r.put("reps", reps)
    r.putStr("sf", sfDir)
    r.put("degraded", gate._1)
    r.put("load_waited_s", gate._2)
    r.putStr("loadavg", Bench.loadavg())
    r.json
  }

  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else splits.keys.toSeq
    val unknown = names.filterNot(splits.contains)
    require(unknown.isEmpty,
      s"unknown split(s) ${unknown.mkString(", ")}; known: ${splits.keys.mkString(", ")}")
    val (dir, n) = (sfDir(), reps())
    val gate = quietGate()
    val spark = session()
    try names.foreach(name => println(run(spark, dir, n, name, gate)))
    finally spark.stop()
  }
}

/** Spark's process-wide codegen counters: Janino compiles (cache
  * misses of the generated-class cache) and their cumulative time. */
object CodegenCost {
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def nanos: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}

/** The A/B ruler: warm medians over `SPARK_GRAFT_REPS` runs per query
  * (args = names; no args = the full inventory), one JSON line per
  * query. Single-shot timings on a shared box are load-noise-dominated
  * — medians are what to trust when comparing operator variants. */
object BenchStats {
  def main(args: Array[String]): Unit = {
    import BenchSplit._
    val (dir, n) = (sfDir(), reps())
    val spark = session()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    try names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val (ts, _) = warmTimes(n)(rows(fn(spark, dir)))
      println(s"""{"query":"$name","median_s":${Bench.fmt3(ts(ts.length / 2))},""" +
        s""""min_s":${Bench.fmt3(ts.head)},"max_s":${Bench.fmt3(ts.last)},"reps":$n}""")
    } finally spark.stop()
  }
}
