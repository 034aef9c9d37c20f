package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming-door throughput harness (r17): the doors carry spec-level
  * equivalence proofs (door output ≡ batch operator) and restart
  * soaks, but — alone among the engine's surfaces — no measured cost.
  * This times four representative doors end-to-end (source file
  * discovery → micro-batches → sink) against their BATCH TWIN on the
  * SAME input and ruler, so the "door premium" (per-micro-batch
  * machinery: offset log, state store, per-batch planning) is a
  * number, not a guess.
  *
  * Protocol: input staged ONCE as K ordered slice files;
  * `maxFilesPerTrigger=1` under Trigger.AvailableNow forces K real
  * micro-batches (the steady-state shape — one file per arrival wave);
  * each rep gets a FRESH checkpoint so every rep replays the full
  * cycle. Sink is the Bench ruler applied at the door — foreachBatch
  * runs `toRdd.count()` (every row computed, none persisted) — except
  * the annotation-push door, whose sink IS the operator (real MERGE
  * per batch; its twin q140 prices the diff only, so the door−twin gap
  * is the writer by construction, stated in the cell). Timings are
  * wall-clock per full cycle, reps ≥3, min+median reported; every cell
  * WAITS FOR A QUIET BOX via [[Bench.awaitQuiet]] before its timed
  * block and stamps pre-run load + a degraded flag (r17 verdict: the
  * r17 DOORS cells ran hot — loads 4.4-9.3 — on the very round that
  * spec'd the quiet rule into Bench; the guard now gates the doors
  * harness the same way it gates the official ruler). */
object BenchDoors {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val loadThreshold = sys.env.getOrElse("SPARK_GRAFT_LOAD_THRESHOLD", "3.0").toDouble
    val loadMaxWaitS = sys.env.getOrElse("SPARK_GRAFT_LOAD_MAX_WAIT_S", "600").toInt
    val slices = 4
    val spark = BenchSplit.session()
    import spark.implicits._

    /** per-cell quiet gate: wait (bounded) for the box to quiet. The
      * admission decision and the load STAMP are now separate (r18
      * advice 3): the untimed warmup pair runs between this gate and
      * the timed reps, so the stamp sampled here would understate the
      * load at the timed block — [[cell]] samples `pre_run_load1`
      * itself, right before forcing its (by-name) timed sequences. */
    def quietGate(cellName: String): (Boolean, Long) = {
      val (deg, waited) = Bench.awaitQuiet(loadThreshold, loadMaxWaitS)
      if (deg) System.err.println(
        s"[doors] $cellName: load still >= $loadThreshold after ${waited}s — cell DEGRADED")
      (deg, waited)
    }

    def timeIt(fn: () => Unit): Double = {
      val t0 = System.nanoTime(); fn(); (System.nanoTime() - t0) / 1e9
    }
    def stats(xs: Seq[Double]): (Double, Double) = {
      val s = xs.sorted; (s.head, s(s.length / 2))
    }
    val countSink = (b: Dataset[Row], _: Long) => { b.queryExecution.toRdd.count(); () }

    /** per-batch trigger durations, in batch order: the direct answer
      * to "does batch cost grow as the keylog grows?" — a guard that
      * re-read a GROWING log superlinearly would show rising durations
      * across the cycle. Shared by the two writer-door cells. */
    def triggerProgress(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[(Long, Long)] =
      q.recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .map(p => p.batchId ->
          Option(p.durationMs.get("triggerExecution"))
            .map(_.longValue).getOrElse(-1L))
        .sortBy(_._1)

    /** run one door rep: fresh checkpoint, AvailableNow to drain. */
    def doorRep(mk: String => org.apache.spark.sql.streaming.DataStreamWriter[Row]): Double = {
      val ckpt = Scratch.dir("graft_doors_ckpt")
      timeIt { () =>
        val q = mk(ckpt).trigger(Trigger.AvailableNow()).start()
        try q.processAllAvailable() finally q.stop()
      }
    }

    /** timed sequences are BY-NAME: the body samples `pre_run_load1`
      * right before forcing them (after the call site's untimed warmup
      * pair — the r18 advice-3 stamp fix) and `post_run_load1` right
      * after, so `ramped` (post-load breaching the admission threshold
      * — r18 verdict item 3: the r18 DOORS box ramped mid-run under a
      * degraded:false label) is a per-cell self-label. */
    def cell(name: String, nRows: Long, nBatches: Int, twin: String,
             gate: (Boolean, Long),
             doorTimes: => Seq[Double], oneBatchTimes: => Seq[Double],
             twinTimes: => Seq[Double], note: String,
             extra: => String = ""): String = {
      val (degraded, waitedS) = gate
      val preLoad = Bench.load1()
      val (dMin, dMed) = stats(doorTimes)
      val (oMin, _) = stats(oneBatchTimes)
      val (tMin, tMed) = stats(twinTimes)
      val postLoad = Bench.load1()
      val ramped = Bench.ramped(postLoad, loadThreshold)
      // the fixed-vs-per-row split: same rows drained as ONE batch vs
      // nBatches — the delta over the extra batches is the per-batch
      // machinery (offset log, state store commit, per-batch planning),
      // which amortizes at production arrival volumes. With nBatches
      // == 1 (legal for sessionize under extreme timestamp duplication
      // — r18 advice 2) the formula is undefined: stamp -1 so
      // downstream analysis never divides by zero.
      val perBatch = if (nBatches >= 2) (dMin - oMin) / (nBatches - 1) else -1.0
      s""""$name":{"n_rows":$nRows,"n_batches":$nBatches,""" +
        s""""door_s_min":${Bench.fmt3(dMin)},"door_s_median":${Bench.fmt3(dMed)},""" +
        s""""door_1batch_s_min":${Bench.fmt3(oMin)},""" +
        s""""per_batch_overhead_s":${Bench.fmt3(perBatch)},""" +
        s""""door_rows_per_s":${Bench.fmt3(nRows / dMin)},""" +
        s""""batch_twin":"$twin","twin_s_min":${Bench.fmt3(tMin)},"twin_s_median":${Bench.fmt3(tMed)},""" +
        s""""door_over_twin":${Bench.fmt3(dMin / tMin)},""" +
        s""""pre_run_load1":"${preLoad.getOrElse(-1.0)}",""" +
        s""""post_run_load1":"${postLoad.getOrElse(-1.0)}","ramped":$ramped,""" +
        s""""degraded":$degraded,"load_waited_s":$waitedS$extra,"note":"$note"}"""
    }

    // ---- cell 1: corpus screen (stateless row-local verdicts +
    // within-watermark dedup — the highest-volume ingest door)
    val screenCell = {
      val docs = Tables.documents(spark, sfDir)
      val nRows = docs.count()
      val dir = Scratch.dir("graft_doors_screen")
      (0 until slices).foreach(i => docs
        .filter(pmod(col("doc_id"), lit(slices.toLong)) === i.toLong)
        .coalesce(1).write.mode("append").parquet(dir))
      val rates = Seq("en" -> 1000, "zh" -> 5000)
      def door(mfpt: Option[Int]) = doorRep { ckpt =>
        val rs = spark.readStream.schema(graft.streaming.DocStreams.docsSchema)
        graft.streaming.DocStreams.corpusScreen(
          mfpt.fold(rs)(n => rs.option("maxFilesPerTrigger", n)).parquet(dir),
          rates, 2500)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt).foreachBatch(countSink)
      }
      def twin() = timeIt { () =>
        graft.operators.Corpus.withScreenColumns(docs, rates, 2500)
          .filter(col("is_quality") && col("sampled"))
          .dropDuplicates("fingerprint")
          .select("doc_id", "lang", "fingerprint", "alpha_bp")
          .queryExecution.toRdd.count(); ()
      }
      val gate = quietGate("screen_door")
      door(Some(1)); twin() // untimed warmup pair
      cell("screen_door", nRows, slices, "withScreenColumns+dedup (the door's own verdict block)",
        gate,
        (1 to reps).map(_ => door(Some(1))), (1 to reps).map(_ => door(None)),
        (1 to reps).map(_ => twin()),
        "stateless verdicts + dropDuplicatesWithinWatermark; door pays source discovery + " +
          s"$slices micro-batch plans + state store for the dedup")
    }
    System.err.println(s"[doors] screen done")

    // ---- cell 2: retrieval percolation (frozen query model, row-local
    // scoring at the door — q103's corpus side arriving incrementally)
    val retrievalCell = {
      val docs = Tables.documents(spark, sfDir)
      val corpusSide = docs.filter(
        pmod(col("doc_id"), lit(graft.operators.Corpus.RetMod.toLong)) =!= 0L)
      val nRows = corpusSide.count()
      val dir = Scratch.dir("graft_doors_ret")
      (0 until slices).foreach(i => corpusSide
        .filter(pmod(col("doc_id"), lit(slices.toLong)) === i.toLong)
        .coalesce(1).write.mode("append").parquet(dir))
      val model = graft.operators.Corpus.retrievalModel(docs)
      def door(mfpt: Option[Int]) = doorRep { ckpt =>
        val rs = spark.readStream.schema(graft.streaming.DocStreams.docsSchema)
        graft.streaming.DocStreams.retrievalLookup(
          mfpt.fold(rs)(n => rs.option("maxFilesPerTrigger", n)).parquet(dir),
          model, 0L)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt).foreachBatch(countSink)
      }
      def twin() = timeIt { () =>
        SparkEntry.queries("q103_chunk_retrieval")(spark, sfDir)
          .queryExecution.toRdd.count(); ()
      }
      val gate = quietGate("retrieval_lookup_door")
      door(Some(1)); twin()
      cell("retrieval_lookup_door", nRows, slices, "q103_chunk_retrieval",
        gate,
        (1 to reps).map(_ => door(Some(1))), (1 to reps).map(_ => door(None)),
        (1 to reps).map(_ => twin()),
        "percolation vs frozen query model, row-local scoring; twin additionally " +
          "ELECTS global top-k (the door alerts, the batch ranks) — stated asymmetry")
    }
    System.err.println(s"[doors] retrieval done")

    // ---- cell 3: stateful sessionize (flatMapGroupsWithState +
    // event-time timers — the stateful door), at 1× and 10× volume.
    // The ×10 arm MEASURES the amortization claim instead of arguing
    // it: per-batch machinery is fixed, so rows/s must rise toward the
    // kernel rate as arrival waves carry more rows (10 disjoint
    // user-id universes replicate the corpus without changing any
    // session's shape).
    def sessionizeCellAt(mult: Int, name: String): String = {
      val ev0 = Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      val ev = if (mult == 1) ev0 else (0 until mult).map(i => ev0
          .withColumn("event_id", col("event_id") + lit(i * 1000000000L))
          .withColumn("user_id", col("user_id") + lit(i * 1000000000L)))
        .reduce(_ unionByName _)
      val nRows = ev.count()
      // contiguous event-time waves so the watermark advances per batch
      // (the steady-state arrival shape for a time-ordered event log).
      // Heavily duplicated timestamps can collapse quantile bounds
      // (r17 advice): dedupe them and derive n_batches from the waves
      // that actually carried rows, so the per-batch amortization never
      // divides by empty batches; per-wave row counts land in the note.
      val withTs = ev.withColumn("ts_us", unix_micros(col("ts")))
      val qs = withTs.stat.approxQuantile("ts_us", Array(0.25, 0.5, 0.75), 0.001)
        .map(_.toLong)
      val dir = Scratch.dir("graft_doors_sess")
      val bounds = (Long.MinValue +: qs :+ Long.MaxValue).distinct.sorted.sliding(2).toSeq
      val waveRows = bounds.map { b =>
        val w = withTs.filter(col("ts_us") >= b(0) && col("ts_us") < b(1)).drop("ts_us")
        val n = w.count()
        if (n > 0) w.coalesce(1).write.mode("append").parquet(dir)
        n
      }.filter(_ > 0)
      val nBatches = waveRows.length
      def door(mfpt: Option[Int]) = doorRep { ckpt =>
        val stream = graft.streaming.EventStreams.readEventStream(spark, dir,
            maxFilesPerTrigger = mfpt)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          .as[graft.streaming.EventStreams.Ev]
        graft.streaming.EventStreams.statefulSessionize(stream)
          .toDF().writeStream.outputMode("update")
          .option("checkpointLocation", ckpt).foreachBatch(countSink)
      }
      // twin = the same batch operator over the SAME (replicated)
      // input; at mult=1 this is exactly the q51 plan
      def twin() = timeIt { () =>
        graft.operators.EventOps.sessionize(ev)
          .queryExecution.toRdd.count(); ()
      }
      val gate = quietGate(name)
      door(Some(1)); twin()
      cell(name, nRows, nBatches, s"EventOps.sessionize x$mult (q51's operator)",
        gate,
        (1 to reps).map(_ => door(Some(1))), (1 to reps).map(_ => door(None)),
        (1 to reps).map(_ => twin()),
        s"flatMapGroupsWithState + event-time eviction timers over $nBatches time-ordered " +
          s"waves (rows/wave ${waveRows.mkString("/")}); state = open sessions only" +
          (if (mult > 1) s"; x$mult disjoint user universes — same waves, ${mult}x rows per batch" else ""))
    }
    val sessionizeCell = sessionizeCellAt(1, "sessionize_door")
    System.err.println(s"[doors] sessionize done")
    val sessionizeCellX10 = sessionizeCellAt(10, "sessionize_door_x10")
    System.err.println(s"[doors] sessionize x10 done")

    // ---- cell 4: annotation push (the guarded writer door — diff +
    // keylog guard + real MERGE per batch), at 1x and 10x volume.
    // The x10 arm (r17 verdict item 3) replicates part+computed into
    // `mult` DISJOINT entity universes and stages ONE SLICE PER
    // UNIVERSE, so batch i's keylog guard re-reads i-1 universes of
    // already-pushed keys — the arm measures BOTH the door premium's
    // amortization under volume AND the guard's claimed cycle-keys-
    // sized per-batch cost as the keylog grows across batches.
    def annPushCellAt(mult: Int, name: String): String = {
      val shift = 1000000000L
      val part0 = Tables.part(spark, sfDir)
      val lineitem = Tables.lineitem(spark, sfDir)
      val computed0 = graft.operators.Curation.computedCompartmentAnnotations(lineitem)
      val part = if (mult == 1) part0 else (0 until mult).map(i =>
        part0.withColumn("p_partkey", col("p_partkey") + lit(i * shift)))
        .reduce(_ unionByName _)
      val computed = if (mult == 1) computed0 else (0 until mult).map(i =>
        computed0.withColumn("entity_id", col("entity_id") + lit(i * shift)))
        .reduce(_ unionByName _)
      val nRows = computed.count()
      val dir = Scratch.dir("graft_doors_annpush_src")
      // slices must be KEY-DISJOINT (the replay contract): hash slices
      // at 1x, one-universe-per-slice at x10 (so the keylog grows by a
      // whole universe per batch)
      val kSlices = if (mult == 1) 3 else mult
      var lastProg: Seq[(Long, Long)] = Nil
      (0 until kSlices).foreach { i =>
        val slice = if (mult == 1)
          computed.filter(pmod(hash(col("entity_id"), col("compartment")), lit(kSlices)) === i)
        else
          computed.filter(col("entity_id") >= i * shift && col("entity_id") < (i + 1) * shift)
        slice.coalesce(1).write.mode("append").parquet(dir)
      }
      def doorWithProgress(mfpt: Option[Int]): (Double, Seq[(Long, Long)]) = {
        // writer door mutates its store: fresh store + actions per rep
        val storeDir = Scratch.dir("graft_doors_annpush_store") + "/store"
        val actDir = Scratch.dir("graft_doors_annpush_act")
        graft.operators.Curation.annotationStoreSeed(part).write.parquet(storeDir)
        val ckpt = Scratch.dir("graft_doors_annpush_ckpt") + "/ckpt"
        var prog: Seq[(Long, Long)] = Nil
        val t = timeIt { () =>
          val rs = spark.readStream.schema(computed.schema)
          val q = graft.streaming.EventStreams.annotationPushSink(
            mfpt.fold(rs)(n => rs.option("maxFilesPerTrigger", n)).parquet(dir),
            part, storeDir, actDir, ckpt)
          try {
            q.processAllAvailable()
            prog = triggerProgress(q)
          } finally q.stop()
        }
        (t, prog)
      }
      def door(mfpt: Option[Int]): Double = doorWithProgress(mfpt)._1
      // twin = q140's own operator composition over the SAME
      // (replicated) input; at mult=1 this is exactly the q140 plan
      def twin() = timeIt { () =>
        graft.operators.Curation.annotationDiff(computed,
            graft.operators.Curation.existingAnnotations(part), part)
          .orderBy("entity_id", "compartment")
          .queryExecution.toRdd.count(); ()
      }
      val gate = quietGate(name)
      val (_, warmProg) = doorWithProgress(Some(1)); twin()
      // lazy + def: forced inside cell's body (after its pre_run_load1
      // stamp), not at the call site — the by-name discipline above
      lazy val doorTimes = (1 to reps).map { i =>
        if (i == reps) { val (t, p) = doorWithProgress(Some(1)); lastProg = p; t }
        else door(Some(1))
      }
      def progJson = (if (lastProg.nonEmpty) lastProg else warmProg)
        .map { case (id, ms) => s"[$id,$ms]" }.mkString("[", ",", "]")
      cell(name, nRows, kSlices, s"Curation.annotationDiff x$mult (q140's operator)",
        gate,
        doorTimes, (1 to reps).map(_ => door(None)),
        (1 to reps).map(_ => twin()),
        "guarded writer door: keylog disjointness check + diff + REAL copy-on-write MERGE " +
          s"per batch; twin is the diff only, so door-twin = $kSlices writer cycles + guard by construction" +
          (if (mult > 1) s"; x$mult disjoint entity universes, one universe per batch — " +
            "batch i's guard re-reads i-1 universes of keylog" else ""),
        extra = s""","batch_trigger_ms":$progJson""")
    }
    val annPushCell = annPushCellAt(1, "annotation_push_door")
    System.err.println(s"[doors] annotation push done")
    val annPushCellX10 = annPushCellAt(10, "annotation_push_door_x10")
    System.err.println(s"[doors] annotation push x10 done")

    // ---- cell 5: TRACE push (r18 verdict item 1 — the q142 door):
    // persisted-report rows arrive per micro-batch; each batch runs the
    // SHARED classify+gate+diff (TracePipeline.pushActions vs the
    // frozen base) and a REAL copy-on-write MERGE keyed on trace_id.
    // The report is built ONCE (the decode is the pipeline's stated
    // one-time cost, not the door's) and staged as 3 trace-hash slice
    // files — the door prices the arriving-trace steady state.
    val tracePushCell = {
      val docs = Tables.documents(spark, sfDir)
      val reportDir = Scratch.dir("graft_doors_trace") + "/report"
      graft.operators.Traces.traceReport(docs)
        .write.mode("overwrite").parquet(reportDir)
      val report = spark.read.parquet(reportDir)
      val nRows = report.count()
      val kSlices = 3
      val dir = Scratch.dir("graft_doors_trace_src")
      (0 until kSlices).foreach { i =>
        report.filter(pmod(hash(col("trace_id")), lit(kSlices)) === i)
          .coalesce(1).write.mode("append").parquet(dir)
      }
      var lastProg: Seq[(Long, Long)] = Nil
      def doorWithProgress(mfpt: Option[Int]): (Double, Seq[(Long, Long)]) = {
        // writer door mutates its store: fresh store per rep
        val storeDir = Scratch.dir("graft_doors_trace_store") + "/store"
        graft.operators.TracePipeline.existingStore(docs).write.parquet(storeDir)
        val actDir = Scratch.dir("graft_doors_trace_act")
        val ckpt = Scratch.dir("graft_doors_trace_ckpt") + "/ckpt"
        var prog: Seq[(Long, Long)] = Nil
        val t = timeIt { () =>
          val rs = spark.readStream.schema(report.schema)
          val q = graft.streaming.EventStreams.tracePushSink(
            mfpt.fold(rs)(n => rs.option("maxFilesPerTrigger", n)).parquet(dir),
            storeDir, actDir, ckpt)
          try {
            q.processAllAvailable()
            prog = triggerProgress(q)
          } finally q.stop()
        }
        (t, prog)
      }
      def door(mfpt: Option[Int]): Double = doorWithProgress(mfpt)._1
      // twin = the door's own per-batch compute over the FULL report in
      // one pass (classify + gate + diff, no writer) — door−twin =
      // kSlices writer cycles + guard, the annotation-cell convention
      def twin() = timeIt { () =>
        graft.operators.TracePipeline.pushActions(report,
            graft.operators.TracePipeline.existingStore(docs))
          .queryExecution.toRdd.count(); ()
      }
      val gate = quietGate("trace_push_door")
      val (_, warmProg) = doorWithProgress(Some(1)); twin()
      lazy val doorTimes = (1 to reps).map { i =>
        if (i == reps) { val (t, p) = doorWithProgress(Some(1)); lastProg = p; t }
        else door(Some(1))
      }
      def progJson = (if (lastProg.nonEmpty) lastProg else warmProg)
        .map { case (id, ms) => s"[$id,$ms]" }.mkString("[", ",", "]")
      cell("trace_push_door", nRows, kSlices,
        "TracePipeline.pushActions (q142's classify+gate+diff, writer excluded)",
        gate,
        doorTimes, (1 to reps).map(_ => door(None)),
        (1 to reps).map(_ => twin()),
        "guarded trace-grain writer door: keylog disjointness check + shared " +
          "classify/gate/diff vs frozen base + REAL copy-on-write MERGE per batch; " +
          s"input = PERSISTED report rows (decode excluded by design), so door-twin = $kSlices " +
          "writer cycles + guard by construction",
        extra = s""","batch_trigger_ms":$progJson""")
    }
    System.err.println(s"[doors] trace push done")

    val detail = s"""{"metric":"door_throughput","sf":"$sfDir","reps":$reps,""" +
      s""""loadavg":"${Bench.loadavg()}",""" +
      s""""note":"each door drained with Trigger.AvailableNow over maxFilesPerTrigger=1 slice files (real micro-batches); fresh checkpoint per rep; sink = per-batch toRdd.count (the Bench ruler at the door) except annotation_push whose sink IS the MERGE writer; twins run on the same session and input; door_1batch drains the SAME rows as ONE micro-batch, so (door-door_1batch)/(n_batches-1) = per-batch machinery cost, which amortizes at production arrival volumes — at this test scale the premium is batch-count, not per-row",""" +
      s"""$screenCell,$retrievalCell,$sessionizeCell,$sessionizeCellX10,$annPushCell,$annPushCellX10,$tracePushCell}"""
    println(detail)
    val requested = sys.env.get("SPARK_GRAFT_DOORS").getOrElse(
      sys.env.get("SPARK_GRAFT_ROUND")
        .map(r => s"DOORS_r$r.json").getOrElse("DOORS.json"))
    try {
      val target = Bench.writeNew(detail, requested)
      System.err.println(s"[doors] artifact persisted to $target")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[doors] could not persist $requested: $e") }
    spark.stop()
  }
}
