package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCALE-CURVE evidence for the most expensive operators: the 100 TB
  * arguments in SURVEY are design arguments verified at sf0.1, and the
  * q102c episode (an interpreted-HOF kernel invisible at the verify SF,
  * 57 s at the bench SF) proved superlinear constants hide below the
  * measured scale. The `scale_curve` split ([[curve]]) synthesizes 3×
  * and 10× corpora from the bench tables and times the heavy operators
  * at 1×/3×/10× so ≈linear growth is a MEASUREMENT, not prose.
  *
  * Synthesis contract (what makes the ratios meaningful):
  *   - replica 0 is the base corpus verbatim; replica k offsets ids by
  *     k·10¹⁰ and suffixes every whitespace token with a letters-only
  *     replica tag (see [[scaledDocuments]]), so each
  *     replica's INTERNAL structure (doc lengths, duplication rate,
  *     language mix, chunk shapes) matches the base exactly while
  *     cross-replica content overlap is zero — total work should be
  *     factor× the base, which is precisely the hypothesis under test.
  *     (Verbatim replication would instead make every doc a 10-way
  *     exact dup — a different, clone-degenerate workload.)
  *   - the benchmark/eval stand-in (id<1000 rule) stays FIXED-SIZE:
  *     replicas fall outside the id cap, exactly the fixed-eval-suite
  *     posture the decontamination family assumes at 100 TB.
  *   - embeddings replicate with offset vec_ids and verbatim vectors
  *     (a bigger corpus has denser cells; the models stay bounded).
  *   - dimension tables (nation, region) do not scale — copied bytes.
  *
  * Output: per query, the warm-min seconds at each factor and the
  * growth ratios r3 = t3/t1, r10 = t10/t1 (≈linear ⇒ r3 ≈ 3, r10 ≈ 10;
  * fixed per-run overhead pulls ratios BELOW the factor, so the
  * superlinearity flag is r10 ≫ 10).
  */
object BenchScaleCurve {

  /** the top-cost operators from the round-10 bench, per the judge's
    * list — each a different plan family (index write, segment
    * lifecycle, span union, decode scan, multi-pass screen, window
    * election, LM replay, champion-list retrieval). */
  val CurveQueries: Seq[String] = Seq(
    "q82_index_upsert", "q88b_compacted_search", "q118_combined_cut",
    "q98_leaf_regions", "q75_rarity_screen", "q107b_cut_spans",
    "q100_lm_perplexity", "q103b_retrieval_pruned",
    // r16: the composed curation pipeline joins the standing list —
    // the newest writer-shaped plan curves by default from now on
    "q141_curation_pipeline",
    // r18: the trace-side composed pipeline (q142) curves alongside its
    // morphology twin — decode-once report + classify + real MERGE
    "q142_trace_pipeline")

  val DocStride = 10000000000L
  val VecStride = 1000000000L

  /** replicate documents `factor`× with per-replica token suffixing —
    * one row-local projection per replica, unioned and written once.
    *
    * The suffix is LETTERS ONLY and merges into the word ("spark" →
    * "sparkqd" for replica 3): the corpus is single-space alphabetic
    * words, so the replica token count is IDENTICAL to the base under
    * BOTH engine tokenizers (whitespace split and the q102 regex).
    * The first cut suffixed "~k", and the scale curve itself caught
    * the artifact: under the regex tokenizer every word became three
    * tokens (word, '~', digit) — a degenerate tiny-vocab shingle
    * space where replica shingles contain '~'/digit tokens with
    * corpus-sized document frequencies, and q103b's candidate join
    * measured 27k pairs at 1× vs 21.3M at 3× (r3 = 17). That was the
    * synthesis degenerating, not the operator: the fixture must scale
    * the workload, not change its vocabulary statistics. */
  def scaledDocuments(spark: SparkSession, baseDir: String, factor: Int): DataFrame = {
    val base = Tables.documents(spark, baseDir)
    (0 until factor).map { k =>
      if (k == 0) base
      else {
        // replica tag in TWO base-26 letters: 3 → "qad", 27 → "qbb".
        // The r12 single-letter tag ("q" + (k%26)) COLLIDED for k ≥ 26:
        // at the 100× bucket replicas 27–99 carried the same suffix as
        // replicas 1–25, making their texts byte-identical — a
        // clone-degenerate corpus where every doc had ~4 exact copies.
        // q103b's candidate count read 154/query at 100× vs 46 at 30×
        // (cross-replica champion matches), and every r12 r100 row was
        // measured against that degenerate fixture. Two letters are
        // collision-free to 676 replicas; uniform width keeps token
        // statistics identical across replicas
        val tag = "q" + ('a' + (k / 26)).toChar + ('a' + (k % 26)).toChar
        val suffixed = array_join(transform(split(col("text"), " "),
          t => concat(t, lit(tag))), " ")
        base.select(
          (col("doc_id") + lit(k * DocStride)).as("doc_id"),
          suffixed.as("text"),
          col("lang"), col("source"),
          // declared n_chars shifts by the suffix growth, NOT a fresh
          // length(text): the base replica keeps its original values
          // and every replica inherits the base's deliberate declared-
          // vs-computed mismatches (the q46/q128 workload), so the
          // metadata-repair family sees the SAME mismatch density at
          // every scale factor instead of a silently clean corpus
          (col("n_chars") + (length(suffixed) - length(col("text"))))
            .cast("long").as("n_chars"))
      }
    }.reduce(_ unionByName _)
  }

  val EventStride = 100000000000L

  /** replicate events `factor`× with offset event/user ids and an
    * UNCHANGED timeline: replica k is an independent user population
    * living through the identical hours, so per-user chain structure
    * (funnel depths, cohort weeks, session gaps) and the per-hour rate
    * profile match the base exactly while total scan/combine work is
    * factor× — the linearity hypothesis for the event surface. q132's
    * burst verdicts are provably factor-invariant (every hour count and
    * total scale together, hours_observed fixed), so a changed report
    * at 3×/10× is itself a correctness alarm. */
  def scaledEvents(spark: SparkSession, baseDir: String, factor: Int): DataFrame = {
    val base = Tables.events(spark, baseDir)
    (0 until factor).map { k =>
      if (k == 0) base
      else base.select(
        (col("event_id") + lit(k * EventStride)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(k * EventStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
  }

  def scaledEmbeddings(spark: SparkSession, baseDir: String, factor: Int): DataFrame = {
    val base = Tables.embeddings(spark, baseDir)
    (0 until factor).map { k =>
      base.select((col("vec_id") + lit(k * VecStride)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionByName _)
  }

  /** the replica scheme, written into each bucket's [[Stamp]]: v3 =
    * the two-letter collision-free document tag (r13) and part +
    * per-replica l_partkey offsets (r14). Bump it whenever a replica
    * builder's content rules change, so buckets built under an older
    * scheme regenerate instead of being timed as if current. */
  private val Scheme = "v3"
  private val Stamp = "_CURVE_STAMP"

  /** what a bucket built from `baseDir` at `factor` under [[Scheme]]
    * holds in its stamp: the base is part of the key, so a bucket
    * built from another SF is rebuilt, not silently timed against this
    * base's ×1 */
  private def stampOf(baseDir: String, factor: Int): String =
    s"scheme=$Scheme base=${java.nio.file.Paths.get(baseDir).toAbsolutePath.normalize} " +
      s"factor=$factor"

  /** materialize the scaled bucket — documents, embeddings, events and
    * the relational tables synthesized, nation/region copied — unless
    * its stamp already matches. The stamp is removed first and written
    * only after every table, so a bucket is either whole or rebuilt. */
  def materialize(spark: SparkSession, baseDir: String, outDir: String,
                  factor: Int): Unit = {
    val stamp = java.nio.file.Paths.get(outDir, Stamp)
    val want = stampOf(baseDir, factor)
    if (java.nio.file.Files.exists(stamp) && java.nio.file.Files.readString(stamp) == want) return
    java.nio.file.Files.deleteIfExists(stamp)
    def write(df: DataFrame, table: String, parts: Int = 8): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    val wide = spark.sparkContext.defaultParallelism
    write(scaledDocuments(spark, baseDir, factor), "documents", wide)
    write(scaledEmbeddings(spark, baseDir, factor), "embeddings")
    write(scaledEvents(spark, baseDir, factor), "events", wide)
    write(scaledCustomer(spark, baseDir, factor), "customer")
    write(scaledOrders(spark, baseDir, factor), "orders")
    write(scaledLineitem(spark, baseDir, factor), "lineitem", wide)
    write(scaledPart(spark, baseDir, factor), "part")
    Seq("nation", "region").foreach { t =>
      Tables.load(spark, baseDir, t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    java.nio.file.Files.writeString(stamp, want)
  }

  val RelStride = 10000000000L

  /** relational star-schema scaling (r13 — so the privacy ladder and
    * the symmetric-link family curve-pin like every other newcomer):
    * customer/orders/lineitem replicate with consistent id offsets
    * (replica k's orders reference replica k's customers; lineitem
    * rides its orders), so per-replica join selectivity, class
    * populations and link topology match the base exactly while total
    * work is factor×. The closed-form id rules (o_orderkey % 5/13/3
    * etc.) land differently per replica — same rule DENSITY, which is
    * what a timing curve needs. */
  def scaledCustomer(spark: SparkSession, baseDir: String, factor: Int): DataFrame = {
    val base = Tables.customer(spark, baseDir)
    (0 until factor).map { k =>
      base.withColumn("c_custkey", col("c_custkey") + lit(k * RelStride))
    }.reduce(_ unionByName _)
  }

  def scaledOrders(spark: SparkSession, baseDir: String, factor: Int): DataFrame = {
    val base = Tables.orders(spark, baseDir)
    (0 until factor).map { k =>
      base
        .withColumn("o_orderkey", col("o_orderkey") + lit(k * RelStride))
        .withColumn("o_custkey", col("o_custkey") + lit(k * RelStride))
    }.reduce(_ unionByName _)
  }

  def scaledLineitem(spark: SparkSession, baseDir: String, factor: Int): DataFrame = {
    val base = Tables.lineitem(spark, baseDir)
    (0 until factor).map { k =>
      base
        .withColumn("l_orderkey", col("l_orderkey") + lit(k * RelStride))
        // l_partkey offsets WITH its replica (r14, scheme v2): replica
        // k's lineitems reference replica k's parts, so part-grain
        // aggregates (q140's computed annotation frame, q23's usage)
        // grow factor× like every other fixture — un-offset, 100
        // replicas would all hit the BASE part rows and the computed
        // frame would stay base-sized (denser, not bigger: a different
        // workload than the linearity hypothesis under test)
        .withColumn("l_partkey", col("l_partkey") + lit(k * RelStride))
    }.reduce(_ unionByName _)
  }

  def scaledPart(spark: SparkSession, baseDir: String, factor: Int): DataFrame = {
    val base = Tables.part(spark, baseDir)
    (0 until factor).map { k =>
      base.withColumn("p_partkey", col("p_partkey") + lit(k * RelStride))
    }.reduce(_ unionByName _)
  }

  /** the `scale_curve` split: the queries of `SPARK_GRAFT_SCALE_QUERIES`
    * (default [[CurveQueries]]) at each factor of
    * `SPARK_GRAFT_SCALE_FACTORS` (default 1,3,10), factor f reading the
    * bucket `$SPARK_GRAFT_SCALE_DIR/x$f` (default: the split's scratch,
    * deleted at exit — set the directory to keep replicas between
    * runs). A query that fails at a factor is recorded as `err<f>`. */
  def curve(r: BenchSplit.Run): Unit = {
    val workDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", r.path("scale"))
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,3,10")
      .split(',').map(_.trim.toInt).toSeq
    val queries = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(',').map(_.trim).toSeq).getOrElse(CurveQueries)
    r.putStr("metric", "scale_curve"); r.putStr("unit", "sec")
    r.put("factors", factors.mkString("[", ",", "]"))
    val dirs = factors.map { f =>
      if (f == 1) f -> r.sfDir
      else { val d = s"$workDir/x$f"; materialize(r.spark, r.sfDir, d, f); f -> d }
    }.toMap
    // q88b searches a compacted index by catalog name: drop the tables
    // the curve's queries register, so the split leaves the session's
    // catalog as it found it
    val tables = r.spark.catalog.listTables().collect().map(_.name).toSet
    try {
      // one untimed warmup (JVM/codegen/committer), the Bench discipline
      try BenchSplit.rows(SparkEntry.queries(queries.head)(r.spark, r.sfDir))
      catch { case NonFatal(_) => }
      r.nest("queries") { qs =>
        queries.foreach { name =>
          val byFactor = factors.map { f =>
            var err: Option[String] = None
            val (ts, _) = BenchSplit.warmTimes(r.reps) {
              try BenchSplit.rows(SparkEntry.queries(name)(r.spark, dirs(f)))
              catch { case NonFatal(e) => err = err.orElse(
                Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")) }
            }
            (f, ts.head, err) // warm-min: the load-insensitive floor
          }
          val t1 = byFactor.head._2
          qs.nest(name) { c =>
            byFactor.foreach { case (f, t, _) => c.put(s"t$f", Bench.fmt3(t)) }
            byFactor.tail.foreach { case (f, t, _) => c.put(s"r$f", Bench.fmt3(t / t1)) }
            byFactor.foreach { case (f, _, e) =>
              e.foreach(m => c.putStr(s"err$f", m.replace("\"", "'").replace("\n", " ")))
            }
          }
        }
      }
    } finally r.spark.catalog.listTables().collect().map(_.name).filterNot(tables)
      .foreach(t => r.spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
