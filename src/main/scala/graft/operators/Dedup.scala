package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for LLM-training corpora (SURVEY.md §2C):
  * MinHash+LSH banding, SimHash, and an exact n-gram-Jaccard verify
  * pass over candidate pairs.
  *
  * Scale design: no all-pairs comparison anywhere — candidates come
  * from equality joins on band keys (MinHash bands / SimHash chunks),
  * which shuffle on the band hash and scale linearly with corpus size.
  * Signatures are computed row-local with higher-order functions (no
  * explode, no shuffle); only the tiny (band_hash → doc) frame moves.
  */
object Dedup {

  val Mersenne61: Long = (1L << 61) - 1

  /** deterministic affine permutation params over Z_{2^61−1} — the SAME
    * literals are inlined into the DuckDB oracle SQL (SparkEntry), so
    * the signatures, band keys and therefore the candidate sets agree
    * exactly across engines. Full-range `a` keeps the permutations
    * min-wise independent (bounded `a` correlates them). */
  def affineParams(n: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(n)((1L + math.floorMod(rnd.nextLong(), Mersenne61 - 1),
      math.floorMod(rnd.nextLong(), Mersenne61)))
  }

  /** lowercased whitespace tokens. */
  def tokens(text: Column): Column = split(trim(lower(text)), " +")

  /** cross-engine 60-bit hash: value of the first 15 hex digits of
    * md5(s). DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT. */
  def md5_60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(org.apache.spark.sql.types.LongType)

  /** hashed k-word shingles: 60-bit md5 of the joined shingle string,
    * computed in one codegen pass (incremental digest, no explode, no
    * shuffle); a doc shorter than k words contributes one shingle over
    * all its tokens. */
  def shingleHashes(text: Column, k: Int): Column =
    graft.functions.HashExpressions.md5_shingle_hashes(tokens(text), k)

  /** distinct shingle hash set — for the exact Jaccard pass (long set
    * ops are ~an order of magnitude cheaper than string sets; the
    * 60-bit md5 makes collisions negligible at corpus scale). */
  def shingleSet(text: Column, k: Int): Column =
    array_distinct(shingleHashes(text, k))

  /** MinHash signature: numHashes affine-permuted minima over the
    * shingle hashes — one codegen loop, no explode, no shuffle. */
  def minhashSignature(text: Column, numHashes: Int, k: Int): Column =
    graft.functions.HashExpressions.affine_minhash(
      shingleHashes(text, k), affineParams(numHashes))

  /** (doc_id, band_idx, band_hash) — one row per band; equal band_hash
    * within a band ⇒ candidate duplicates. */
  def minhashBands(docs: DataFrame, numHashes: Int = 32, bands: Int = 8,
                   k: Int = 3): DataFrame = {
    val r = numHashes / bands
    val sigs = docs.select(col("doc_id"),
      minhashSignature(col("text"), numHashes, k).as("sig"))
    // 64-bit band key (Spark-internal join/group key only — the oracle
    // groups by the band VALUE list; 32-bit hash() would risk visible
    // collisions at corpus scale)
    val bandCols = (0 until bands).map(j =>
      xxhash64(lit(j), slice(col("sig"), j * r + 1, r)))
    sigs
      .select(col("doc_id"), posexplode(array(bandCols: _*)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
  }

  /** q31: per-doc MinHash profile — is the doc a banding candidate
    * duplicate, and how many band-mates does it have. Bucket sizes via
    * the q83 groupBy+join shape ([[Scale.keyAggJoin]]), not a
    * (band_idx, band_hash) window: a degenerate band value (every
    * near-empty doc hashing to one bucket) would drag the whole bucket
    * into ONE window task, while the groupBy count combines it
    * map-side and the join back is AQE-skew-splittable. Price: the
    * signature pipeline is computed for both branches — row-local
    * compute that scales linearly, unlike the one-task window. */
  def minhashProfile(docs: DataFrame): DataFrame = {
    Scale.keyAggJoin(minhashBands(docs), Seq("band_idx", "band_hash"),
        Seq(count(lit(1)).as("bucket_n")))
      .groupBy("doc_id")
      .agg(
        sum(col("bucket_n") - 1).as("n_band_mates"),
        max(col("bucket_n") > 1).as("is_candidate_dup"))
      .orderBy("doc_id")
  }

  /** candidate pairs (doc_a < doc_b) from MinHash band buckets — the
    * scale-safe alternative to all-pairs.
    *
    * ONE banding pass (r20, guide §2.4 "share one exchange"): the band
    * frame is shuffled once on its bucket key and BOTH sides of the
    * self-join project off that same exchange (ReusedExchange —
    * plan-pinned). The previous renamed-projection self-join computed
    * the full shingle→signature pipeline once PER SIDE: two corpus
    * scans and two signature passes for one logical banding, at every
    * call site (q33/q59/q57/q124b/q125/q133 all pay it).
    *
    * SKEW / AQE trade: the explicit repartition also fixes the join's
    * shuffle shape. A duplicate-heavy corpus puts a hot band bucket in
    * ONE partition, and because both sides read a user-specified
    * exchange, AQE can no longer turn the join into a broadcast when
    * the input is small. */
  def minhashCandidatePairs(docs: DataFrame): DataFrame = {
    val b = minhashBands(docs).repartition(col("band_idx"), col("band_hash"))
    val left = b.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
    val right = b.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b"))
    left.join(right, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** brute-force ALL-PAIRS exact-Jaccard reference for the banding
    * recall audit — audit-only, Ω(N²) by definition (q35's
    * stated-crossJoin contract; this cost is exactly why q31 bands).
    * Same k-word shingle sets as the q33 verify pass, so the audit
    * and the production screen agree on what "similarity" means. */
  private[graft] def jaccardAllPairs(docs: DataFrame, k: Int = 3): DataFrame = {
    val sets = docs.select(col("doc_id"), shingleSet(col("text"), k).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b")))
          .cast(org.apache.spark.sql.types.LongType).as("n_common"),
        size(array_union(col("sh_a"), col("sh_b")))
          .cast(org.apache.spark.sql.types.LongType).as("n_union"))
      .withColumn("jaccard_bp", expr("(10000 * n_common) DIV nullif(n_union, 0)"))
      .filter(col("jaccard_bp").isNotNull)
  }

  /** MINHASH BANDING RECALL AUDIT (r14 — the q110/q103b measured-recall
    * discipline applied to the THIRD approximate family): per Jaccard
    * threshold, what fraction of the TRUE pairs (exact all-pairs
    * Jaccard ≥ threshold, [[jaccardAllPairs]]) the q31 banding
    * ([[minhashCandidatePairs]], the production formulation — 32
    * hashes, 8 bands of 4) actually surfaces as candidates. The
    * published theory for (r=4, b=8) banding predicts the S-curve
    * P(candidate | s) = 1 − (1 − s⁴)⁸: ≈ 0.9998 at s = 0.9, 0.985 at
    * 0.8, 0.889 at 0.7, 0.404 at 0.5. MEASURED (RECALL_r14.json):
    * recall is 10000 bp at EVERY threshold and every SF — and the
    * n_true columns show why that is consistent with the curve rather
    * than better than it: the benchmark corpora's true-pair
    * population is BIMODAL (n_true at τ=0.5 equals n_true at τ=0.8 —
    * every pair above 0.5 is actually ≥ 0.8-similar, where the curve
    * reads ≥ 0.985), so the fixture exercises the high-similarity
    * regime a dedup pass exists for and catches all of it; for
    * mid-similarity pairs the fixture lacks, the formula IS the
    * stated recall. Precision is deliberately NOT scored here —
    * candidates are cheap and the exact q33/q59 verify pass exists
    * precisely to filter them. */
  def minhashBandingRecall(docs: DataFrame,
                           thresholdsBp: Seq[Long] = Seq(5000, 7000, 8000, 9000),
                           k: Int = 3): DataFrame = {
    require(thresholdsBp.nonEmpty, "the audit needs at least one threshold")
    val spark = docs.sparkSession
    import spark.implicits._
    val truePairs = jaccardAllPairs(docs, k)
      .select(col("doc_a"), col("doc_b"), col("jaccard_bp"))
    val cands = minhashCandidatePairs(docs).withColumn("__cand", lit(1))
    val counts = truePairs.join(cands, Seq("doc_a", "doc_b"), "left")
      .select(col("jaccard_bp"), col("__cand"),
        explode(array(thresholdsBp.map(lit): _*)).as("threshold_bp"))
      .filter(col("jaccard_bp") >= col("threshold_bp"))
      .groupBy("threshold_bp")
      .agg(count(lit(1)).as("n_true"), count(col("__cand")).as("n_caught"))
    // every REQUESTED threshold emits a row (r14 advice): the filter-
    // before-group form silently omitted a threshold with zero true
    // pairs, so the artifact read as coverage it didn't have and a
    // map lookup on it threw instead of asserting. n_true = 0 rows
    // carry recall_bp = null — vacuous recall is explicitly not-a-
    // number, never a fabricated 100%
    thresholdsBp.toDF("threshold_bp")
      .join(counts, Seq("threshold_bp"), "left")
      .select(col("threshold_bp"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_caught"), lit(0L)).as("n_caught"))
      .withColumn("recall_bp", expr("(10000 * n_caught) DIV nullif(n_true, 0)"))
      .orderBy("threshold_bp")
  }

  /** deterministic MID-SIMILARITY pair fixture for the banding recall
    * audit (r14 verdict item 4): RECALL_r14's n_true columns proved the
    * benchmark corpora's true-pair population is bimodal — no true pair
    * lands in J ∈ (0.5, 0.8), so the S-curve's KNEE (where banding
    * actually loses pairs) was formula-stated, not measured. This
    * synthesizes `pairsPerBand` document pairs per target similarity
    * with EXACT closed-form Jaccard: pair docs share an m-token prefix
    * and diverge into disjoint t-token tails, so the 3-shingle sets
    * intersect in exactly m−2 of m+2t−2 union shingles —
    * J = (m−2)/(m+2t−2) by construction, landing each band at exactly
    * 5000/6000/7000 bp. Tokens embed (band, pair, position), so
    * cross-pair similarity is 0 and each pair is an independent draw
    * of the banding experiment. Audit-only fixture (feeds
    * [[minhashMidBandRecall]]). */
  private[graft] def midBandFixture(spark: org.apache.spark.sql.SparkSession,
                                    pairsPerBand: Int = 400): DataFrame = {
    // (target bp, prefix m, tail t): J = (m−2)/(m+2t−2)
    val geometry = Seq((5000L, 42, 20), (6000L, 62, 20), (7000L, 72, 15))
    geometry.map { case (bp, m, t) =>
      val base = spark.range(pairsPerBand.toLong).select(col("id").as("pair"))
      def text(side: String) = concat_ws(" ",
        flatten(array(
          transform(sequence(lit(1), lit(m)),
            i => concat(lit(s"m${bp}p"), col("pair"), lit("x"), i)),
          transform(sequence(lit(1), lit(t)),
            i => concat(lit(s"m${bp}p"), col("pair"), lit(side), i)))))
      base.select((lit(bp * 1000000L) + col("pair") * 2).as("doc_id"),
          text("a").as("text"))
        .unionByName(base.select(
          (lit(bp * 1000000L) + col("pair") * 2 + 1).as("doc_id"),
          text("b").as("text")))
    }.reduce(_ unionByName _)
  }

  /** banding recall GROUPED BY THE TRUE SIMILARITY (the mid-band arm of
    * the audit): over a corpus whose true pairs sit at known exact
    * Jaccard values ([[midBandFixture]]), the fraction of each
    * similarity class the q31 banding surfaces, beside the published
    * (r=4, b=8) theory 1−(1−s⁴)⁸ quantized to bp. Unlike the
    * thresholded [[minhashBandingRecall]] (cumulative: a τ=0.5 row
    * mixes every pair above 0.5), grouping by the true value compares
    * each band to ITS OWN theory point — the S-curve knee measured,
    * not formula-stated. theory_bp uses double pow: it is a printed
    * reference line in a measurement artifact, never an oracle-checked
    * value. */
  def minhashMidBandRecall(docs: DataFrame, k: Int = 3): DataFrame =
    jaccardAllPairs(docs, k)
      .filter(col("jaccard_bp") > 0)
      .join(minhashCandidatePairs(docs).withColumn("__cand", lit(1)),
        Seq("doc_a", "doc_b"), "left")
      .groupBy("jaccard_bp")
      .agg(count(lit(1)).as("n_true"), count(col("__cand")).as("n_caught"))
      // same nullif idiom as minhashBandingRecall: groupBy can't emit an
      // empty group today, but the two audit paths must not diverge
      .withColumn("recall_bp", expr("(10000 * n_caught) DIV nullif(n_true, 0)"))
      .withColumn("theory_bp", expr(
        "CAST(round((1.0 - pow(1.0 - pow(jaccard_bp / 10000.0, 4), 8)) * 10000) AS BIGINT)"))
      .orderBy("jaccard_bp")

  /** control-sample rate (basis points) for the verify passes — a
    * HASH-sampled subset of adjacent-id pairs, so the calibration work
    * stays a fixed fraction of the corpus instead of one scored pair
    * per document (at 100 TB the control must not double the
    * shingle-set join load). Shared with the oracle SQL. */
  val CtrlSampleBp = 2000

  /** the control membership predicate: md5-thresholded on doc_a, pure
    * function of the id — reproducible across runs and engines. */
  private def inControl(id: Column): Column =
    md5_60(concat(lit("ctrl:"), id.cast("string"))) <
      Corpus.rateThreshold(CtrlSampleBp)

  /** candidate pairs for the verify passes: LSH band pairs ∪ a
    * deterministic hash-sampled control of adjacent-id pairs (so
    * calibration output is never empty on a dup-free corpus but stays
    * a bounded fraction of it), each joined to both sides' distinct
    * shingle sets. Shared by q33 (Jaccard) and q59 (containment) so
    * the two screens score the same pair universe. */
  private def scoredCandidatePairs(docs: DataFrame, k: Int): DataFrame = {
    val control = docs.filter(inControl(col("doc_id")))
      .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
      .join(docs.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
      .withColumn("pair_source", lit("control"))
    val cands = minhashCandidatePairs(docs).withColumn("pair_source", lit("lsh"))
    val pairs = cands.unionByName(control)
      .groupBy("doc_a", "doc_b").agg(min(col("pair_source")).as("pair_source"))
    val sets = docs.select(col("doc_id"), shingleSet(col("text"), k).as("sh"))
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
  }

  /** q33: exact word-shingle Jaccard on candidate pairs (the verify
    * pass after LSH). jaccard_bp is integer basis points —
    * hash-stable. */
  def jaccardVerify(docs: DataFrame, k: Int = 3, topN: Int = 200): DataFrame =
    scoredCandidatePairs(docs, k)
      .select(col("doc_a"), col("doc_b"), col("pair_source"),
        size(array_intersect(col("sh_a"), col("sh_b")))
          .cast(org.apache.spark.sql.types.LongType).as("n_common"),
        size(array_union(col("sh_a"), col("sh_b")))
          .cast(org.apache.spark.sql.types.LongType).as("n_union"))
      .withColumn("jaccard_bp", expr("(10000 * n_common) DIV nullif(n_union, 0)"))
      .orderBy(col("jaccard_bp").desc, col("doc_a"), col("doc_b"))
      .limit(topN)

  /** q59: asymmetric shingle CONTAINMENT on the same candidate pairs —
    * containment(A→B) = |A∩B| / |A|. Symmetric Jaccard dilutes a short
    * doc quoted inside a long one (small |A∩B| / big |A∪B|), which is
    * exactly the inclusion duplication a training corpus needs flagged;
    * containment scores it 1.0. Same scale discipline as q33: scored
    * only on banding candidates + the control sample, never all pairs. */
  def containmentVerify(docs: DataFrame, k: Int = 3, topN: Int = 200): DataFrame =
    scoredCandidatePairs(docs, k)
      .select(col("doc_a"), col("doc_b"), col("pair_source"),
        size(array_intersect(col("sh_a"), col("sh_b")))
          .cast(org.apache.spark.sql.types.LongType).as("n_common"),
        size(col("sh_a")).cast(org.apache.spark.sql.types.LongType).as("n_a"),
        size(col("sh_b")).cast(org.apache.spark.sql.types.LongType).as("n_b"))
      .withColumn("cont_a_bp", expr("(10000 * n_common) DIV nullif(n_a, 0)"))
      .withColumn("cont_b_bp", expr("(10000 * n_common) DIV nullif(n_b, 0)"))
      .withColumn("cont_max_bp", greatest(col("cont_a_bp"), col("cont_b_bp")))
      .orderBy(col("cont_max_bp").desc, col("doc_a"), col("doc_b"))
      .limit(topN)

  /** documents belonging to the stand-in "benchmark"/eval split — a
    * deterministic id rule standing in for an external eval table;
    * shared with the q58 oracle SQL. The id cap matters for the scale
    * posture: a real eval suite is FIXED-SIZE, so the stand-in must be
    * too — a pure modulus rule would grow the "benchmark" linearly with
    * the corpus and silently break the broadcast at 100 TB. */
  val BenchmarkMod = 20
  val BenchmarkMaxId = 1000L

  /** the benchmark membership predicate (one definition for operator,
    * oracle and specs). */
  private[operators] def isBenchmark(id: Column): Column =
    id % BenchmarkMod === 0 && id < BenchmarkMaxId

  /** q58: benchmark DECONTAMINATION — flag corpus documents sharing
    * k-gram shingles with the benchmark/eval set, the standard screen
    * before LLM training (test-set n-grams must not leak into training
    * data). Scale shape: the benchmark's distinct shingle set is
    * eval-suite-sized (fixed, small) and is BROADCAST; the corpus side
    * explodes its shingles row-locally and probes the broadcast, then
    * one partial-aggregated groupBy on doc_id. The corpus is never
    * shuffled on the shingle key, so cost is linear in corpus size
    * regardless of benchmark count. */
  def decontaminate(docs: DataFrame, k: Int = 3): DataFrame = {
    val bench = docs.filter(isBenchmark(col("doc_id")))
      .select(explode(shingleSet(col("text"), k)).as("h")).distinct()
    val corpus = docs.filter(!isBenchmark(col("doc_id")))
      .select(col("doc_id"), explode(shingleSet(col("text"), k)).as("h"))
    corpus
      .join(broadcast(bench.withColumn("__hit", lit(1L))), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("__hit")).as("n_shared"))
      .withColumn("contam_bp", expr("(10000 * n_shared) DIV nullif(n_shingles, 0)"))
      .withColumn("is_contaminated", col("n_shared") > 0)
      .orderBy("doc_id")
  }

  /** q84: BLOOM-PREFILTERED decontamination — the SAME logical spec as
    * [[decontaminate]] (and the same oracle SQL), under the physical
    * strategy a 100 TB corpus needs when the eval suite itself is too
    * big to broadcast as a raw hash set: the benchmark's distinct
    * shingles fold into a fixed-size Bloom filter (bitwise-OR merge —
    * order-independent, deterministic; Spark's own BloomFilterAggregate,
    * the engine's runtime-filter machinery), which rides the plan as a
    * byte-array literal. Every corpus shingle probes the filter
    * ROW-LOCALLY inside a higher-order filter; only the surviving
    * candidates — true overlaps plus the filter's false-positive dust —
    * are exploded and join the exact benchmark set for confirmation.
    *
    * Exactness: a Bloom filter has NO false negatives, so every true
    * overlap reaches the exact join; false positives are discarded
    * there. The output is therefore bit-identical to [[decontaminate]]
    * for every filter size (spec-asserted) — the bloom parameters tune
    * COST only. Scale: corpus cost is one row-local probe pass +
    * a candidate stream that is ~n_true_overlaps + fpp·n_shingles; the
    * exact join shuffles only that sliver (AQE broadcasts the
    * benchmark side when it fits — either way the full corpus shingle
    * stream never exchanges). The filter is sized by the FIXED
    * benchmark (n items at numBits), not the corpus, so collecting its
    * bytes driver-side follows the bounded-model discipline
    * (q75 vocabulary, PQ codebooks). */
  def decontaminateBloom(docs: DataFrame, k: Int = 3,
                         estItems: Long = 1L << 16,
                         numBits: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.Literal
    val bench = docs.filter(isBenchmark(col("doc_id")))
      .select(explode(shingleSet(col("text"), k)).as("h")).distinct()
    // the bounded model: benchmark-sized, built in one pass (partial
    // blooms OR-merge map-side), collected like any broadcast model
    val bloomAgg = ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col("h"))),
        Literal(estItems), Literal(numBits)).toAggregateExpression())
    val bloomBytes = bench.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    def mightContain(v: Column): Column = ColumnBridge.column(
      BloomFilterMightContain(
        Literal.create(bloomBytes,
          org.apache.spark.sql.types.BinaryType),
        ColumnBridge.expression(xxhash64(v))))
    val corpus = docs.filter(!isBenchmark(col("doc_id")))
      .select(col("doc_id"), shingleSet(col("text"), k).as("sh"))
      // match decontaminate's explode semantics exactly: a doc with a
      // null (or empty) shingle set produces zero exploded rows there,
      // so it must not survive here either — without this filter,
      // explode_outer would emit a spurious (n_shingles=null, n_shared=0)
      // row for null-text docs and break the bit-identity contract
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        size(col("sh")).cast(org.apache.spark.sql.types.LongType).as("n_shingles"),
        filter(col("sh"), h => mightContain(h)).as("cand"))
    // explode_outer keeps zero-candidate docs (h = null joins nothing)
    corpus
      .select(col("doc_id"), col("n_shingles"), explode_outer(col("cand")).as("h"))
      .join(bench.withColumn("__hit", lit(1L)), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(max(col("n_shingles")).as("n_shingles"), count(col("__hit")).as("n_shared"))
      .withColumn("contam_bp", expr("(10000 * n_shared) DIV nullif(n_shingles, 0)"))
      .withColumn("is_contaminated", col("n_shared") > 0)
      .select("doc_id", "n_shingles", "n_shared", "contam_bp", "is_contaminated")
      .orderBy("doc_id")
  }

  /** connected-component labels over an explicit edge list, iterated to
    * a VERIFIED fixpoint: each iteration runs one synchronous min-label
    * propagation step (label(v) ← min label over N(v) ∪ {v}) and one
    * pointer-jumping step (label ← label(label)), then checks whether
    * any label changed. Both steps are monotone non-increasing (every
    * label is a node id inside v's component, bounded below by the
    * component minimum), so the loop terminates; and an unchanged
    * iteration means the propagation step alone changed nothing, i.e.
    * labels are equal across every edge — constant per component — so
    * each label IS the component minimum. Exact connected components at
    * ANY diameter, with the minimum node self-labeled (the elected
    * canonical). Pointer jumping alone can never merge two self-labeled
    * local minima (a root maps to itself), so it serves only as an
    * accelerator here — the fixpoint check is the correctness argument.
    *
    * Each iteration is two linear shuffles (edge join + min-groupBy,
    * then the label self-join) plus one convergence count — the
    * standard large-graph CC discipline (no driver-side union-find,
    * nothing driver-sized collected). Labels are localCheckpoint'ed per
    * step so the plan stays flat across iterations. With jumping the
    * iteration count is O(log diameter); LSH dup components are
    * near-cliques (identical docs collide in every band), so real
    * corpora converge in 2–3 iterations. The fixpoint is unique and
    * algorithm-independent — the q57 oracle therefore checks the SPEC
    * (min reachable doc_id per node, via a recursive CTE) rather than
    * replaying these steps. */
  private[graft] def propagateLabels(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = pairs.unionByName(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))).cache()
    var lab = nodes.select(col("doc_id"), col("doc_id").as("label")).localCheckpoint()
    var converged = false
    var iters = 0
    while (!converged) {
      // safety valve, NOT a correctness bound: with pointer jumping the
      // fixpoint lands in O(log diameter) iterations (≤ ~40 even for a
      // path over every 64-bit id), so hitting 64 means the monotone
      // non-increase argument was broken by a regression (e.g. a
      // non-deterministic label source) — fail with diagnostics instead
      // of letting the driver loop spin forever.
      iters += 1
      if (iters > 64)
        throw new IllegalStateException(
          "propagateLabels did not converge after 64 iterations — " +
            "labels are not monotone; check that the pair source is " +
            "deterministic and doc ids are stable")
      val nbrMin = edges
        .join(lab.select(col("doc_id").as("doc_b"), col("label").as("nbr_label")), Seq("doc_b"))
        .groupBy(col("doc_a").as("doc_id")).agg(min(col("nbr_label")).as("nbr_min"))
      // the changed flag rides the prop projection itself, so detecting
      // convergence costs one filter scan of the checkpointed frame —
      // not an extra join against the previous labels
      val prop = lab.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"),
          (coalesce(col("nbr_min"), col("label")) < col("label")).as("changed"))
        .localCheckpoint()
      // the convergence test is on the PROPAGATION step alone — that is
      // the edge-stability condition the exactness proof needs — so the
      // final iteration never pays for a jump
      converged = prop.filter(col("changed")).isEmpty
      val labels = prop.drop("changed")
      lab =
        if (converged) labels
        else
          // label is always some node's doc_id, and every node has a
          // label row, so the jump self-join is total
          labels
            .join(labels.select(col("doc_id").as("label"), col("label").as("jump")), Seq("label"))
            .select(col("doc_id"), col("jump").as("label"))
            .localCheckpoint()
    }
    edges.unpersist(blocking = false)
    lab
  }

  /** q57: near-dup CLUSTERS from the banding candidates — the
    * connected-components step that turns pairwise candidates into
    * dedup groups with an elected canonical (min doc_id reachable).
    * Without it, a dup chain A~B, B~C keeps both A and B as "canonical"
    * under naive pair-wise dropping. Labels are exact for any component
    * shape (verified fixpoint, see [[propagateLabels]]). */
  def nearDupClusters(docs: DataFrame): DataFrame =
    propagateLabels(docs, minhashCandidatePairs(docs))
      .select(col("doc_id"), col("label").as("cluster_id"),
        (col("doc_id") === col("label")).as("is_canonical"))
      .orderBy("doc_id")

  /** q124: CROSS-SOURCE OVERLAP MATRIX — the provenance/licensing view
    * of exact duplication (q30/q40 ask "how duplicated is the corpus";
    * this asks "WHICH sources copy from each other" — the number a
    * curation team reads before trusting a source's licensing story or
    * deciding which of two mirroring crawls to keep): per ordered
    * source pair (src_a < src_b), the distinct normalized fingerprints
    * ([[TextAnalysis.fingerprintCol]] — THE q40/q42 definition, so
    * "shared" here means exactly what the dedup apply dedups) present
    * in BOTH sources, with the share in basis points relative to each
    * side's distinct-fingerprint count. The full upper-triangle matrix
    * ships (zero-overlap pairs included) — the report is source-pair
    * dimension-sized and a reader needs the zeros to trust them.
    *
    * Scale shape: ONE corpus exchange — the (fp → sorted source set)
    * aggregate combines map-side (each fingerprint's source set is
    * bounded by the source DIMENSION, so no value can grow with corpus
    * size); pair expansion is a row-local HOF over that bounded array;
    * both the pair rollup and the per-source fingerprint counts consume
    * the SAME fp-keyed exchange (ReusedExchange — the q91 discipline);
    * everything after runs on source-dimension-sized rows. Null
    * fingerprints (null text) and null sources drop before the
    * aggregate — a null key would otherwise bridge sources in one
    * engine and not the other. */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val byFp = docs
      .select(col("source"), TextAnalysis.fingerprintCol(col("text")).as("fp"))
      .filter(col("fp").isNotNull && col("source").isNotNull)
      .groupBy("fp")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
    val perSrc = byFp
      .select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n_fp"))
    val overlaps = byFp
      .filter(size(col("srcs")) >= 2)
      .select(explode(expr(
        "flatten(transform(srcs, (a, i) -> " +
          "transform(slice(srcs, i + 2, size(srcs)), " +
          "b -> struct(a AS src_a, b AS src_b))))")).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    val dims = perSrc.select(col("source").as("src_a"), col("n_fp").as("n_fp_a"))
      .join(perSrc.select(col("source").as("src_b"), col("n_fp").as("n_fp_b")),
        col("src_a") < col("src_b"))
    dims.join(overlaps, Seq("src_a", "src_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("share_a_bp", expr("(10000 * n_shared) DIV n_fp_a"))
      .withColumn("share_b_bp", expr("(10000 * n_shared) DIV n_fp_b"))
      .select("src_a", "src_b", "n_fp_a", "n_fp_b", "n_shared",
        "share_a_bp", "share_b_bp")
      .orderBy("src_a", "src_b")
  }

  /** the q124 inventory fixture: the raw synthetic corpus carries ZERO
    * exact-duplicate fingerprints (measured at sf0.001/0.01 — every
    * canonical text is unique), so the matrix over it is all zeros. The
    * inventory entry therefore runs over the corpus plus a
    * deterministic MIRROR view — every 11th doc re-hosted verbatim
    * under the next source (src(k) → src((k+1) mod 20), id offset
    * 2·10¹²) — the same injected-fixture discipline as q108's ingest
    * batch and q66's PII rows, mirrored literally in the oracle SQL.
    * The OPERATOR takes any (source, text) frame; a deployment feeds
    * real releases. */
  def sourceMirrorView(docs: DataFrame): DataFrame =
    docs.unionByName(docs
      .filter(col("doc_id") % 11 === 0)
      .withColumn("doc_id", col("doc_id") + lit(2000000000000L))
      .withColumn("source",
        concat(lit("src"),
          ((substring(col("source"), 4, 10).cast("int") + 1) % 20).cast("string"))))

  /** q124b: CROSS-SOURCE NEAR-DUP OVERLAP — q124's exact-fingerprint
    * matrix misses sources that mirror each other WITH light edits
    * (the common case: re-crawls differ in chrome/boilerplate); this
    * counts the MinHash banding candidate pairs (the q31 near-dup
    * evidence) per unordered source pair, diagonal included — the
    * within-source count is the baseline a reader compares the
    * cross-source cells against. Unlike q124, the raw corpus scores
    * nonzero here (near-dups exist without exact dups), so no fixture
    * view is needed. Full matrix with zeros (210 rows over 20
    * sources).
    *
    * Scale shape: candidates come from the banded equi-join (never all
    * pairs); the two source lookups are linear doc_id equi-joins; the
    * pair rollup combines map-side to source-pair-dimension output; the
    * zero-fill matrix is dimension×dimension. Null-source docs drop
    * (a null would poison least/greatest ordering). */
  def sourceNearOverlap(docs: DataFrame): DataFrame = {
    val src = docs.filter(col("source").isNotNull)
      .select(col("doc_id"), col("source"))
    val pairs = minhashCandidatePairs(docs)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_1")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_2")), Seq("doc_b"))
      .groupBy(least(col("src_1"), col("src_2")).as("src_a"),
        greatest(col("src_1"), col("src_2")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val srcs = src.select("source").distinct()
    val matrix = srcs.select(col("source").as("src_a"))
      .join(srcs.select(col("source").as("src_b")), col("src_a") <= col("src_b"))
    matrix.join(pairs, Seq("src_a", "src_b"), "left")
      .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
      .orderBy("src_a", "src_b")
  }

  /** q125: CLUSTER QUALITY AUDIT — the trust report for q57's
    * transitive closure. Connected components are deliberately
    * transitive (A~B and B~C cluster A,B,C even when A and C share
    * nothing), which is the right dedup semantics — but it means a
    * cluster is only as trustworthy as its WEAKEST edge: a long chain
    * glued by one borderline band collision silently merges unrelated
    * documents, and nothing in q57's output shows it. Per multi-member
    * cluster: member count, candidate-edge count, and the exact
    * word-shingle Jaccard (the q33 verify metric, in basis points) of
    * the weakest and the average edge. A curator reads min ≪ mean as
    * "this cluster chains" and audits before dropping members.
    *
    * Scale shape: edges are the banding candidates (never all pairs);
    * the shingle sets ride two linear equi-joins (the q33 shape); the
    * per-cluster rollup combines map-side to cluster-sized output.
    * Edges score within ONE cluster by construction (both endpoints
    * share the edge), so the cluster key rides the doc_a label join.
    * An unscorable edge (null Jaccard — degenerate empty shingle sets)
    * counts in n_edges but not in min/mean, same in both engines. */
  def clusterQualityAudit(docs: DataFrame, k: Int = 3): DataFrame = {
    // materialize the banded candidate edges ONCE (edge-sized): both
    // consumers — the exact-Jaccard scoring joins and the CC fixpoint —
    // otherwise re-run the full MinHash banding pass over the corpus
    val edges = minhashCandidatePairs(docs).localCheckpoint()
    val sets = docs.select(col("doc_id"), shingleSet(col("text"), k).as("sh"))
    val scored = edges
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"),
        expr("(10000 * CAST(size(array_intersect(sh_a, sh_b)) AS BIGINT)) DIV " +
          "nullif(CAST(size(array_union(sh_a, sh_b)) AS BIGINT), 0)")
          .as("jaccard_bp"))
    clusterQualityFromFrames(scored, propagateLabels(docs, edges))
  }

  /** the q125 rollup over PERSISTED scored-edge + label frames — the
    * deployment form (a pipeline persists the candidate scores and the
    * q57 labels when it computes them; the audit then pays only this
    * edge-sized rollup, not the re-derivation the self-contained
    * inventory entry prices — the q82/q88b/q118 split accounting).
    * `scored` = (doc_a, jaccard_bp) per candidate edge; `labels` = the
    * q57/q125b (doc_id, label) frame. ONE definition with
    * [[clusterQualityAudit]] so the two cannot drift. */
  def clusterQualityFromFrames(scored: DataFrame, labels: DataFrame): DataFrame = {
    val members = labels.groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
    scored
      .join(labels.select(col("doc_id").as("doc_a"), col("label").as("cluster_id")),
        Seq("doc_a"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_edges"),
        min(col("jaccard_bp")).as("min_edge_jaccard_bp"),
        expr("sum(jaccard_bp) DIV nullif(count(jaccard_bp), 0)")
          .as("mean_edge_jaccard_bp"))
      .join(members, Seq("cluster_id"))
      .select("cluster_id", "n_members", "n_edges",
        "min_edge_jaccard_bp", "mean_edge_jaccard_bp")
      .orderBy("cluster_id")
  }

  /** minimum exact Jaccard (bp) for a candidate edge to enter the
    * verified clustering — shared with the oracle SQL. */
  val VerifiedEdgeBp = 5000L

  /** q125b: VERIFIED CLUSTERS — the canonical three-step near-dup
    * pipeline (LSH proposes → exact Jaccard DECIDES → connected
    * components), the production refinement of q57: clustering raw
    * band candidates chains on every band collision (the failure q125
    * measures), while clustering only edges at ≥ [[VerifiedEdgeBp]]
    * exact word-shingle Jaccard bounds every link's quality BEFORE
    * transitivity amplifies it — the MinHashLSH-then-verify shape of
    * published dedup pipelines (SimDedup/RefinedWeb). Same columns as
    * q57 so downstream elections run unchanged. Refinement law
    * (spec-pinned): every verified cluster is contained in one q57
    * cluster — dropping edges can only SPLIT components, never merge.
    *
    * Scale shape: q33's candidate scoring (banded pairs + two linear
    * shingle-set joins, never all pairs) feeding q57's verified
    * fixpoint — both proven plans; the filter adds zero exchanges. */
  def verifiedClusters(docs: DataFrame, k: Int = 3,
                       minJaccardBp: Long = VerifiedEdgeBp): DataFrame =
    verifiedClustersFromEdges(docs, verifiedEdges(docs, k, minJaccardBp))

  /** the q125b clustering over a PERSISTED verified-edge frame — the
    * deployment form (the LSH+Jaccard scoring pass persists its edges;
    * re-clustering pays only the CC fixpoint). ONE definition with
    * [[verifiedClusters]] so the two cannot drift. */
  def verifiedClustersFromEdges(docs: DataFrame, edges: DataFrame): DataFrame =
    propagateLabels(docs, edges)
      .select(col("doc_id"), col("label").as("cluster_id"),
        (col("doc_id") === col("label")).as("is_canonical"))
      .orderBy("doc_id")

  /** the verified near-dup edge frame (LSH proposes, exact
    * word-shingle Jaccard ≥ minJaccardBp decides) — the ONE edge rule
    * q125b clusters and q133b repairs, so the repair cannot use a
    * different notion of "near-dup" than the clustering it trusts. */
  private[graft] def verifiedEdges(docs: DataFrame, k: Int = 3,
      minJaccardBp: Long = VerifiedEdgeBp): DataFrame = {
    val sets = docs.select(col("doc_id"), shingleSet(col("text"), k).as("sh"))
    minhashCandidatePairs(docs)
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .filter(expr("(10000 * CAST(size(array_intersect(sh_a, sh_b)) AS BIGINT)) DIV " +
        s"nullif(CAST(size(array_union(sh_a, sh_b)) AS BIGINT), 0) >= $minJaccardBp"))
      .select("doc_a", "doc_b")
  }

  /** the three split boundaries q133 audits, low-severity side first —
    * shared with the zero-fill and the oracle SQL. */
  val SplitBoundaries: Seq[(String, String)] =
    Seq(("train", "val"), ("train", "test"), ("val", "test"))

  /** q133: SPLIT-LEAKAGE AUDIT — the held-out-integrity check every
    * training-data release needs beside external decontamination
    * (q58/q113 screen against a PUBLISHED benchmark; this screens the
    * corpus against its OWN val/test splits): a near-duplicate pair
    * straddling a split boundary means the model effectively trains
    * on its eval set, and content-hash splitting (q70) only prevents
    * EXACT-dup leakage — near dups land on independent sides of the
    * boundary. Per boundary: LSH candidate pairs crossing it,
    * verified leaks (exact word-shingle Jaccard ≥ [[VerifiedEdgeBp]],
    * the q125b bar), distinct HELD-OUT docs compromised (the higher-
    * severity side: train < val < test — a train↔test leak
    * compromises the test doc), the held-out split size, and the
    * compromised share in bp. All three boundaries always ship
    * (zero-filled) — "no leakage" is a first-class verdict.
    *
    * Scale shape: split assignment is the q70 row-local hash rule
    * (never a stored side table); candidate pairs come banded (never
    * all pairs); splits and shingle sets ride four linear doc_id
    * equi-joins; the rollup combines map-side to a 3-row frame joined
    * against dimension-sized split counts. */
  def splitLeakage(docs: DataFrame, valBp: Int, testBp: Int, k: Int = 3,
                   minJaccardBp: Long = VerifiedEdgeBp): DataFrame = {
    val rank = (s: Column) => when(s === "test", 2).when(s === "val", 1).otherwise(0)
    val splits = graft.operators.Corpus.datasetSplit(docs, valBp, testBp)
      .select(col("doc_id"), col("split"))
    val sets = docs.select(col("doc_id"), shingleSet(col("text"), k).as("sh"))
    val crossPairs = minhashCandidatePairs(docs)
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
    val scored = crossPairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("leak", expr(
        "(10000 * CAST(size(array_intersect(sh_a, sh_b)) AS BIGINT)) DIV " +
          s"nullif(CAST(size(array_union(sh_a, sh_b)) AS BIGINT), 0) >= $minJaccardBp"))
      .select(
        when(rank(col("split_a")) < rank(col("split_b")), col("split_a"))
          .otherwise(col("split_b")).as("split_lo"),
        when(rank(col("split_a")) < rank(col("split_b")), col("split_b"))
          .otherwise(col("split_a")).as("split_hi"),
        when(rank(col("split_a")) < rank(col("split_b")), col("doc_b"))
          .otherwise(col("doc_a")).as("heldout_doc"),
        col("leak"))
    val agg = scored.groupBy("split_lo", "split_hi")
      .agg(count(lit(1)).as("n_cand_pairs"),
        sum(when(col("leak"), 1L).otherwise(0L)).as("n_leak_pairs"),
        countDistinct(when(col("leak"), col("heldout_doc"))).as("n_heldout_leaked"))
    val sizes = splits.groupBy(col("split").as("split_hi"))
      .agg(count(lit(1)).as("heldout_n"))
    val bounds = docs.sparkSession
      .createDataFrame(SplitBoundaries).toDF("split_lo", "split_hi")
    bounds
      .join(agg, Seq("split_lo", "split_hi"), "left")
      .join(sizes, Seq("split_hi"), "left")
      .select(col("split_lo"), col("split_hi"),
        coalesce(col("n_cand_pairs"), lit(0L)).as("n_cand_pairs"),
        coalesce(col("n_leak_pairs"), lit(0L)).as("n_leak_pairs"),
        coalesce(col("n_heldout_leaked"), lit(0L)).as("n_heldout_leaked"),
        coalesce(col("heldout_n"), lit(0L)).as("heldout_n"),
        expr("coalesce((10000 * coalesce(n_heldout_leaked, 0)) " +
          "DIV nullif(heldout_n, 0), 0)").as("leaked_bp"))
      .orderBy("split_lo", "split_hi")
  }

  /** q133b: SPLIT REPAIR — the APPLY step q133's audit plans (the
    * diagnose→apply discipline: q113→q114, q46→q128): the manifest of
    * held-out documents that cannot stay held-out, with the
    * deterministic repair action. The rule is COMPONENT-level over
    * q125b's verified clusters — per-pair repair is not closed (moving
    * one endpoint can manufacture a new cross-split edge with a third
    * near-dup); a verified connected component either touches train or
    * it doesn't, and that decides every member at once:
    *
    *   - component contains a train doc → every val/test member is
    *     `reassign_train` (its content is already effectively visible
    *     to training; as a train doc it is ordinary redundancy for the
    *     dedup passes, not leakage);
    *   - component spans val+test with NO train member → the test docs
    *     stay (test is the sacred side) and every val member is
    *     `quarantine` (reassigning it to train would hand its test
    *     twin's content to training — the repair must drop it).
    *
    * Closure law (spec-pinned): after applying the manifest
    * (quarantined docs removed, reassigned docs in train) NO verified
    * edge crosses a split boundary — one pass, no iteration, because
    * components are edge-closed by construction. Only changed docs
    * ship (the q128 mismatch-sized-output discipline).
    *
    * Scale shape: verified clusters and the q70 split hash are the
    * proven plans unchanged; the cluster split-set is ONE map-side
    * combined rollup on cluster_id; only LEAKING clusters (a verified-
    * dup-cluster-sized frame, tiny vs the corpus) join back to
    * members, linearly on cluster_id. */
  def splitRepair(docs: DataFrame, valBp: Int, testBp: Int, k: Int = 3,
                  minJaccardBp: Long = VerifiedEdgeBp): DataFrame = {
    // compose the UNORDERED clustering core and materialize the member
    // frame ONCE (3 narrow columns per doc): it feeds both the leaking-
    // cluster rollup and the member join-back, and the un-materialized
    // reuse re-ran the split assignment + the label sort per use
    val members = propagateLabels(docs, verifiedEdges(docs, k, minJaccardBp))
      .select(col("doc_id"), col("label").as("cluster_id"))
      .join(graft.operators.Corpus.datasetSplit(docs, valBp, testBp)
        .select(col("doc_id"), col("split")), Seq("doc_id"))
      .localCheckpoint()
    val leaking = members.groupBy("cluster_id")
      .agg(max(when(col("split") === "train", 1).otherwise(0)).as("has_train"),
        max(when(col("split") === "val", 1).otherwise(0)).as("has_val"),
        max(when(col("split") === "test", 1).otherwise(0)).as("has_test"))
      .filter(col("has_train") + col("has_val") + col("has_test") >= 2)
    members.join(leaking, Seq("cluster_id"))
      .filter((col("split").isin("val", "test") && col("has_train") === 1)
        || (col("split") === "val" && col("has_train") === 0
            && col("has_test") === 1))
      .select(col("doc_id"), col("cluster_id"),
        col("split").as("old_split"),
        when(col("has_train") === 1, "reassign_train")
          .otherwise("quarantine").as("action"))
      .orderBy("doc_id")
  }

  /** q127: PER-SOURCE DEDUP IMPACT — the redundancy BILL by source,
    * the number a curation team reads before renegotiating a data
    * source ("src5 is 9% mirrored content; dedup will cut it"): per
    * source, the docs that LOSE the q42 exact-fingerprint election
    * (exact_dupes + share) and the tokens the q107 span cut removes
    * (span_tokens_cut + share). Composes the two proven APPLY plans —
    * the per-source rollup is exactly what those cuts cost each
    * supplier, not a re-derivation that could drift. The inventory
    * entry runs over the q124 mirror view (the raw corpus has zero
    * exact dups); mirrored copies lose both screens to their original
    * — the bill lands on the ROTATED source exactly as a mirrored
    * crawl's would.
    *
    * Scale shape: the election and the span chain are the q42/q107
    * shapes unchanged; the extra cost is two linear doc_id equi-joins
    * and ONE map-side source rollup to dimension-sized output. Null
    * sources group as their own row (ordered first, pinned in the
    * oracle). */
  def dedupImpactBySource(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"))
      .join(TextAnalysis.dedupedCorpus(docs).select("doc_id", "keep"), Seq("doc_id"))
      .join(spanCut(docs).select("doc_id", "n_tokens", "tokens_cut"), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("exact_dupes"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("tokens_cut")).as("span_tokens_cut"))
      .withColumn("exact_dup_bp", expr("(10000 * exact_dupes) DIV n_docs"))
      .withColumn("span_cut_bp", expr(
        "coalesce((10000 * span_tokens_cut) DIV nullif(n_tokens, 0), 0)"))
      .select("source", "n_docs", "exact_dupes", "exact_dup_bp",
        "n_tokens", "span_tokens_cut", "span_cut_bp")
      .orderBy("source")

  /** q83 block width (tokens per block) — shared with the oracle SQL. */
  val BlockTokens = 8

  /** q83: BLOCK-LEVEL exact dedup — the line/paragraph dedup pass of
    * production corpus pipelines (C4 drops repeated lines, RefinedWeb
    * line-dedups before document dedup; the synthetic text is
    * newline-free, so fixed 8-token blocks stand in for lines, the rule
    * shared verbatim with the oracle). Unlike document-level dedup
    * (q30/q42), this removes duplicated SPANS — boilerplate, quoted
    * headers, license blocks — while keeping the host documents: each
    * distinct block survives only at its first occurrence (min
    * (doc_id, blk_idx) corpus-wide), and every document is reassembled
    * from its retained blocks in original order.
    *
    * Scale shape: block split is row-local (one HOF over the token
    * array, no shuffle); winner election is a groupBy on the 60-bit
    * block hash with map-side partial aggregation (a boilerplate block
    * repeated 10⁹ times combines to one row per map task BEFORE the
    * exchange — the reason this is a groupBy+join and not a window,
    * which would move every instance of the hot key into one task);
    * the winner join shuffles on the same hash key (AQE splits any
    * residual skew) and reassembly is one partial-aggregated groupBy
    * on doc_id. Two corpus scans (block stream feeds both the election
    * and the join probe), three linear exchanges, nothing all-pairs,
    * no driver-side state. */
  def blockDedup(docs: DataFrame, blockTokens: Int = BlockTokens): DataFrame = {
    val b = blockTokens
    require(b >= 1, s"blockTokens must be >= 1, got $b")
    // null text reads as '' so every document appears in the output
    // (split('') yields [""], i.e. one empty block per empty doc —
    // empty docs therefore dedup against each other like any block)
    val blocks = docs
      .select(col("doc_id"), tokens(coalesce(col("text"), lit(""))).as("tk"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(tk) + ${b - 1}) DIV $b - 1)," +
          s" i -> array_join(slice(tk, i * $b + 1, $b), ' '))")))
      .withColumnRenamed("pos", "blk_idx")
      .withColumnRenamed("col", "blk")
      .withColumn("h", md5_60(col("blk")))
    val winners = blocks
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("blk_idx"))).as("w"))
    blocks.join(winners, Seq("h"))
      .withColumn("kept",
        col("doc_id") === col("w.doc_id") && col("blk_idx") === col("w.blk_idx"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
        // when() without otherwise yields null for dropped blocks and
        // collect_list skips nulls; array_sort on (blk_idx, blk) structs
        // restores original order (blk_idx is unique per doc), making
        // the result partition-order-proof
        array_join(
          expr("transform(array_sort(collect_list(" +
            "CASE WHEN kept THEN struct(blk_idx, blk) END)), s -> s.blk)"),
          " ").as("retained_text"))
      .withColumn("drop_bp", expr("(10000 * n_dropped) DIV n_blocks"))
      .select("doc_id", "n_blocks", "n_dropped", "drop_bp", "retained_text")
      .orderBy("doc_id")
  }

  /** SimHash: 60-bit signature from per-token hash bit votes, computed
    * row-local with a codegen'd native expression (the nested
    * higher-order formulation evaluated interpreted, one 64-array per
    * token). Token hashes are the cross-engine 60-bit md5, so the
    * signature value is oracle-checkable (bits 60..63 never vote in). */
  def simhash(text: Column): Column =
    graft.functions.HashExpressions.simhash64(
      transform(tokens(text), t => md5_60(t)))

  /** q91: SPAN-LEVEL duplication diagnostic — the sliding-window form
    * of exact substring dedup (the granularity of Lee et al. 2022's
    * suffix-array pass, between q30's whole-doc and q83's fixed
    * blocks): a w-token window at EVERY offset is duplicated iff its
    * content occurs in ≥ 2 DISTINCT documents (within-doc repetition
    * is q54's screen); per doc the report carries window counts, the
    * duplicated share, and the longest duplicated RUN — r consecutive
    * duplicated windows certify a verbatim cross-doc span of
    * r + w − 1 tokens, the number a curation team acts on.
    *
    * Scale shape: the window stream (≈ token stream sized) pays the
    * one window-keyed exchange of [[electedWindows]] and one doc-keyed
    * exchange. The max-run is computed row-locally from the collected
    * duplicated positions (bounded by doc length) inside the one
    * doc-keyed aggregate — never a second per-doc window pass. Short
    * docs (< w tokens) produce no windows and re-enter with zeros via
    * the doc-side left join. */
  def spanDedup(docs: DataFrame, windowTokens: Int = 8): DataFrame = {
    val w = windowTokens
    val flagged = electedWindows(docs, w)
      .select(col("doc_id"), col("pos"), coalesce(col("nd") >= 2, lit(false)).as("isdup"))
    val perDoc = flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("isdup"), 1L).otherwise(0L)).as("n_dup_windows"),
        // longest run of consecutive duplicated positions, folded
        // row-locally over the sorted position list (collect_list
        // skips the nulls of non-dup windows)
        expr("""aggregate(
          array_sort(collect_list(CASE WHEN isdup THEN pos END)),
          struct(CAST(-2 AS INT) AS prev, CAST(0 AS BIGINT) AS cur, CAST(0 AS BIGINT) AS best),
          (a, p) -> struct(p AS prev,
            CASE WHEN p = a.prev + 1 THEN a.cur + 1 ELSE CAST(1 AS BIGINT) END AS cur,
            greatest(a.best, CASE WHEN p = a.prev + 1 THEN a.cur + 1 ELSE CAST(1 AS BIGINT) END) AS best),
          a -> a.best)""").as("max_dup_run"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("max_dup_run"), lit(0L)).as("max_dup_run"))
      .withColumn("dup_bp", expr(
        "CASE WHEN n_windows > 0 THEN (10000 * n_dup_windows) DIV n_windows ELSE CAST(0 AS BIGINT) END"))
      .withColumn("max_span_tokens", expr(
        s"CASE WHEN max_dup_run > 0 THEN max_dup_run + ${w - 1} ELSE CAST(0 AS BIGINT) END"))
      .select("doc_id", "n_windows", "n_dup_windows", "dup_bp",
        "max_dup_run", "max_span_tokens")
      .orderBy("doc_id")
  }

  /** (doc_id, tk, pos, h): the ONE w-token window stream — per 0-based
    * offset the token array and the window's 60-bit `md5_shingle_hashes`
    * hash. The kernel emits one short shingle for an array shorter than
    * w, where the span family has no window, hence the size guard. */
  private def windowStream(docs: DataFrame, w: Int): DataFrame =
    docs
      .select(col("doc_id"), tokens(coalesce(col("text"), lit(""))).as("tk"))
      .select(col("doc_id"), col("tk"), posexplode(when(size(col("tk")) >= w,
        graft.functions.HashExpressions.md5_shingle_hashes(col("tk"), w))).as(Seq("pos", "h")))

  /** (doc_id, pos, h): [[windowStream]] without the token array. Shared
    * by the span election, the contamination-span screen and q115. */
  private[graft] def windowHashes(docs: DataFrame, w: Int): DataFrame =
    windowStream(docs, w).select("doc_id", "pos", "h")

  /** the ONE owner election of the span family (q91, q107, q107b): each
    * window row (doc_id, pos, h) with its content's distinct-doc count
    * `nd` and smallest holder `owner`, both null unless the content
    * occurs in ≥ 2 distinct documents. The window stream is
    * hash-partitioned on h ONCE and that exchange feeds BOTH the
    * election and the flag-back join (plan-pinned ReusedExchange). */
  private def electedWindows(docs: DataFrame, w: Int): DataFrame = {
    require(w >= 1, s"windowTokens must be >= 1, got $w")
    val byH = windowHashes(docs, w)
      // the joins push isnotnull(doc_id) / isnotnull(h) into ONE
      // consumer's subtree each; both are no-ops on this data (the
      // kernel's hashes are never null) — stating them here keeps the
      // two subtrees canonically equal so the exchange below is planned
      // once (see the __prune_guard note)
      .filter(col("doc_id").isNotNull && col("h").isNotNull)
      .repartition(col("h"))
    // the throwaway max(pos) keeps the election's column set identical
    // to the flag join's — column pruning would otherwise make the two
    // exchange subtrees canonicalize UNEQUAL and Spark would scan and
    // shuffle the window stream twice instead of reusing it
    val elected = byH.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"), min("doc_id").as("owner"),
        max("pos").as("__prune_guard"))
      // the >= 0 conjunct is vacuous (posexplode positions start at 0)
      // but the optimizer cannot prove it, so the guard aggregate — and
      // with it the pos column — survives pruning in this branch
      .filter(col("nd") >= 2 && col("__prune_guard") >= 0)
      .select(col("h"), col("nd"), col("owner"))
    byH.join(elected, Seq("h"), "left")
  }

  /** explode a (doc_id, spans) frame into the ordered interval list. */
  private def spanList(perDoc: DataFrame): DataFrame =
    explodeSpans(perDoc, "spans").orderBy("doc_id", "start_pos")

  /** per-doc merged CUT INTERVALS for the span-cut pair (q107/q107b):
    * (doc_id, spans) where spans is the sorted array of maximal
    * half-open token ranges [s, e) covering every duplicated window
    * this doc must remove. The removal rule is the Lee et al. 2022
    * APPLY step made deterministic: a w-token window whose content
    * occurs in ≥2 distinct docs is OWNED by the smallest doc_id
    * containing it; every other doc cuts every occurrence (within-doc
    * repetition inside the owner stays q54's screen, the q91 scoping).
    *
    * Scale shape: identical to [[spanDedup]] — the one
    * [[electedWindows]] exchange feeds both the owner election and the
    * cut join. The collected [pos, pos + w) windows merge row-locally
    * in the `merge_spans` kernel (bounded by doc length) inside the one
    * doc-keyed aggregate — gaps-and-islands without a per-doc window
    * pass. */
  private def spanCutPerDoc(docs: DataFrame, w: Int): DataFrame =
    electedWindows(docs, w)
      .filter(col("nd") >= 2 && col("doc_id") =!= col("owner"))
      .groupBy("doc_id")
      .agg(mergeSpansCol(col("pos"), col("pos") + w).as("spans"))

  /** the merged intervals of a group's collected [start, end) pairs. */
  private def mergeSpansCol(start: Column, end: Column): Column =
    graft.functions.TextKernels.merge_spans(
      collect_list(struct(start.cast("int").as("s"), end.cast("int").as("e"))))

  /** q107: SPAN-CUT summary — the APPLY step of exact substring dedup
    * (Lee et al. 2022: remove every repeated-substring occurrence but
    * one) as a per-doc audit card: how many merged cut intervals, how
    * many tokens they remove, the duplicated share in basis points and
    * what remains. q91 DIAGNOSES span duplication; this prices the
    * actual cut under the deterministic min-doc-id ownership rule, the
    * number a curation team signs off before rewriting a corpus.
    * Every doc re-enters with zeros via the doc-side left join. */
  def spanCut(docs: DataFrame, windowTokens: Int = 8): DataFrame = {
    val perDoc = spanCutPerDoc(docs, windowTokens)
      .select(col("doc_id"),
        size(col("spans")).cast("long").as("n_cut_spans"),
        spanTokensSumCol("spans").as("tokens_cut"))
    docs.select(col("doc_id"),
        size(tokens(coalesce(col("text"), lit("")))).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_cut_spans"), lit(0L)).as("n_cut_spans"),
        coalesce(col("tokens_cut"), lit(0L)).as("tokens_cut"))
      .withColumn("cut_bp", expr(
        "CASE WHEN n_tokens > 0 THEN (10000 * tokens_cut) DIV n_tokens ELSE CAST(0 AS BIGINT) END"))
      .withColumn("tokens_left", col("n_tokens") - col("tokens_cut"))
      .select("doc_id", "n_tokens", "n_cut_spans", "tokens_cut", "cut_bp", "tokens_left")
      .orderBy("doc_id")
  }

  /** q107b: the cut-span LIST — one row per merged interval, the
    * machine-readable rewrite plan ([s, e) token ranges per doc,
    * 0-based, span_idx dense by start). Docs with nothing to cut
    * contribute no rows, exactly like the oracle. */
  def spanCutSpans(docs: DataFrame, windowTokens: Int = 8): DataFrame =
    spanList(spanCutPerDoc(docs, windowTokens))

  /** q113: CONTAMINATION SPANS — span-level decontamination, the
    * modern cut-don't-drop refinement of q58 (whole-doc dropping
    * throws away a long document over one quoted benchmark line; the
    * published exact-substring decontamination removes just the
    * leaked spans): every corpus position whose w-token window occurs
    * verbatim in the benchmark/eval split is contaminated; merged
    * maximal [s, e) intervals per doc are the rewrite plan (same
    * columns as q107b — the two cut lists compose downstream).
    *
    * Scale shape: STRONGER than q107 — the benchmark window set is
    * eval-suite-sized and collects into a FROZEN sorted set
    * ([[benchmarkWindowHashes]], guarded), so the corpus pays ONE
    * row-local scan: window hashes, set probe and the interval merge
    * in the one `window_spans` kernel per document, then the span
    * explode — no join, no broadcast, and the only exchange is the
    * output sort. The q114 apply, the stream door and the report view
    * score through the same kernel. */
  def contaminationSpans(docs: DataFrame, windowTokens: Int = 8): DataFrame =
    contamSpansView(withContamSpans(docs, benchmarkWindowHashes(docs, windowTokens), windowTokens))
      .orderBy("doc_id", "start_pos")

  /** the q113 span rows of the CORPUS documents of a frame carrying
    * `contam_spans` (benchmark rows excluded: their self-matching spans
    * are vacuous by definition), unordered — the one output projection
    * of batch q113 (which sorts it) and the report view. */
  private[graft] def contamSpansView(scored: DataFrame): DataFrame =
    explodeSpans(scored.filter(!isBenchmark(col("doc_id"))), "contam_spans")

  /** q118: the COMBINED CUT — the one rewrite plan a curation run
    * actually hands the rewriter: exact-substring duplication cuts
    * (q107b) and benchmark contamination cuts (q113) unioned per doc
    * and re-merged into maximal [s, e) intervals (the two screens
    * overlap precisely when boilerplate quotes the benchmark — cutting
    * them independently would double-cut shared ranges). Same columns
    * as both inputs, so anything that composed with either composes
    * with this.
    *
    * Scale shape: both inputs are cut-sized (≪ corpus) by
    * construction, so the union, the doc-keyed aggregate and the
    * row-local `merge_spans` kernel all run on span rows; the
    * corpus-sized work is exactly the two upstream scans, each already
    * plan-disciplined. The two inputs compose UNORDERED (the merge
    * takes spans in any order), so the output sort is the plan's one
    * global sort. */
  def combinedCutSpans(docs: DataFrame, windowTokens: Int = 8): DataFrame =
    spanList(combinedCutPerDoc(docs, windowTokens))

  /** the q118 plan as a per-doc (doc_id, spans) frame — shared by the
    * span-list surface and [[combinedCutApply]] so the two cannot
    * disagree about what gets cut; the same union-and-merge core as the
    * persisted-list form [[combineCutLists]]. */
  private def combinedCutPerDoc(docs: DataFrame, windowTokens: Int): DataFrame =
    combineCutListsPerDoc(explodeSpans(spanCutPerDoc(docs, windowTokens), "spans"),
      contamSpansView(withContamSpans(docs, benchmarkWindowHashes(docs, windowTokens),
        windowTokens)))

  /** the COMPOSE form of q118 — the union+fold alone, over two already
    * materialized cut-list frames (q107b and q113 columns). This is
    * what a deployment runs: the two upstream scans happen once when
    * each screen's list is persisted; combining costs only cut-sized
    * rows (`BenchSplit cut` prices the split, the q82/q88b accounting
    * discipline). The inventory q118 entry stays self-contained — its
    * bench figure honestly prices both upstream scans per rep. */
  def combineCutLists(dupSpans: DataFrame, contamSpans: DataFrame): DataFrame =
    spanList(combineCutListsPerDoc(dupSpans, contamSpans))

  private def combineCutListsPerDoc(dupSpans: DataFrame,
                                    contamSpans: DataFrame): DataFrame = {
    val u = dupSpans.select(col("doc_id"), col("start_pos"), col("end_pos"))
      .unionByName(contamSpans.select(col("doc_id"), col("start_pos"), col("end_pos")))
    u.groupBy("doc_id").agg(mergeSpansCol(col("start_pos"), col("end_pos")).as("spans"))
  }

  /** q118b: the COMBINED CUT APPLIED — the rewrite q118 plans,
    * executed with the q114 discipline: every unioned-and-merged
    * [s, e) range (duplication cuts ∪ contamination cuts) is removed
    * from its document and the CLEANED content re-counted and
    * re-fingerprinted. This is the manifest the release actually
    * ships once a curation run signs off BOTH screens — q114 alone
    * applies only the contamination half and leaves q107b's
    * duplication cuts as an un-executed plan. Every doc appears
    * (docs with nothing to cut pass through whole, with their full
    * hash); benchmark docs receive only duplication cuts, exactly as
    * in q118's plan. Conservation law, spec-pinned:
    * clean_n_tokens = n_tokens − tokens_cut, with tokens_cut equal
    * per-doc to Σ q118 span_tokens — and the clean hash composes
    * downstream with q30 exact dedup and q63 packing exactly like
    * q114's.
    *
    * Scale shape: the plan frame is cut-sized (≪ corpus) by
    * construction, so the doc-side LEFT equi-join is one linear
    * exchange (AQE broadcasts it when small); the cut, recount and
    * re-hash run row-locally over the one tokenization via the SAME
    * [[cutCol]] rule as q114 — the two applies cannot drift. */
  def combinedCutApply(docs: DataFrame, windowTokens: Int = 8): DataFrame =
    docs
      .select(col("doc_id"), tokens(coalesce(col("text"), lit(""))).as("__tk"))
      .join(combinedCutPerDoc(docs, windowTokens), Seq("doc_id"), "left")
      .withColumn("cut_spans", coalesce(col("spans"),
        expr("CAST(array() AS ARRAY<STRUCT<s:INT,e:INT>>)")))
      .withColumn("__cl", cutCol(col("__tk"), col("cut_spans")))
      .select(col("doc_id"),
        size(col("__tk")).cast("long").as("n_tokens"),
        size(col("cut_spans")).cast("long").as("n_cut_spans"),
        spanTokensSumCol("cut_spans").as("tokens_cut"),
        col("__cl.clean_n_tokens"),
        col("__cl.clean_hash"))
      .orderBy("doc_id")

  /** ceiling on the distinct benchmark windows [[benchmarkWindowHashes]]
    * collects. The set rides inside the `window_spans` kernel of every
    * task that scores documents against it (q113, q114, q118, q122 and
    * the stream doors), so it is serialized into each task: 2¹⁶ longs
    * are 512 KB per task. A real eval suite is fixed-size, far below
    * this (the sf0.1 stand-in has under 3,000 windows); a larger
    * benchmark side needs a broadcast variable, not a wider literal. */
  val MaxBenchmarkWindows: Int = 1 << 16

  /** the benchmark window-hash set COLLECTED — eval-suite-sized by
    * construction (the bounded-model discipline: q75 vocabulary, bloom
    * bytes, PQ codebooks), guarded at [[MaxBenchmarkWindows]]. Train
    * batch-side on the released benchmark, freeze, probe at ingest
    * with [[contaminationSpansRowLocal]]. */
  def benchmarkWindowHashes(docs: DataFrame, windowTokens: Int = 8): Seq[Long] = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    Scale.bounded(windowHashes(docs.filter(isBenchmark(col("doc_id"))), windowTokens)
        .select("h").distinct(), MaxBenchmarkWindows, "Dedup.benchmarkWindowHashes")
      .map(_.getLong(0)).toSeq
  }

  /** row-local q113 against a FROZEN collected benchmark set — the
    * ingest-door form ([[graft.streaming.DocStreams.contaminationLookup]]):
    * window hashes, set probe and the interval merge all evaluate in
    * one kernel over the token array — no join, no state, no shuffle.
    * Batch q113 is the same kernel and explode over the corpus
    * documents ([[contamSpansView]]), sorted. This form emits the q113
    * columns unordered (streams don't sort); docs with nothing
    * contaminated emit no rows. */
  def contaminationSpansRowLocal(docs: DataFrame, benchHashes: Seq[Long],
                                 windowTokens: Int = 8): DataFrame =
    explodeSpans(withContamSpans(docs, benchHashes, windowTokens), "contam_spans")

  /** appends the nested `contam_spans` array<struct<s,e>> column — the
    * docReport-frame form of q113: one pure row-local projection
    * (window hashes, literal-set probe, the shared interval-merge
    * fold), no join, no exchange. All other columns ride through. */
  def withContamSpans(docs: DataFrame, benchHashes: Seq[Long],
                      windowTokens: Int = 8): DataFrame =
    docs.select(col("*"), contamSpansCol(tokens(coalesce(col("text"), lit(""))),
      benchHashes, windowTokens).as("contam_spans"))

  /** the merged contamination intervals of a whitespace token array —
    * window hashes, sorted-set probe and the interval merge in one
    * kernel ([[graft.functions.TextKernels.WindowSpans]]), which merges
    * by the same rule as `merge_spans`: a window merges into the open
    * interval while it starts at or before the interval's end. */
  private def contamSpansCol(wsToks: Column, benchHashes: Seq[Long], w: Int): Column =
    graft.functions.TextKernels.window_spans(wsToks, benchHashes, w)

  /** the q114 apply as a column list over a whitespace token array
    * (`tokens(coalesce(text, ''))`): `contam_spans`, the cut manifest
    * columns `contam_n_tokens`, `clean_n_tokens`, `clean_hash` — so the
    * persisted report carries the cleaned fingerprint without ever
    * re-reading text. `contam_n_tokens` keeps q114's raw token count
    * (an empty text is the one-token [""] stream, exactly like the
    * span index space); the gopher `n_words` column keeps its own
    * zero-for-empty convention — they differ by design. The list both
    * [[withContamApplyCols]] and [[TextAnalysis.docReport]] select. */
  def contamApplyCols(wsToks: Column, benchHashes: Seq[Long],
                      windowTokens: Int = 8): Seq[Column] = {
    val spans = contamSpansCol(wsToks, benchHashes, windowTokens)
    val cut = cutCol(wsToks, spans)
    Seq(spans.as("contam_spans"), size(wsToks).cast("long").as("contam_n_tokens"),
      cut.getField("clean_n_tokens").as("clean_n_tokens"),
      cut.getField("clean_hash").as("clean_hash"))
  }

  /** the frame form of the q114 APPLY — appends [[contamApplyCols]] in
    * one row-local pass (tokenized once; all other columns ride). */
  def withContamApplyCols(docs: DataFrame, benchHashes: Seq[Long],
                          windowTokens: Int = 8): DataFrame =
    docs.select(col("*"), tokens(coalesce(col("text"), lit(""))).as("__tk"))
      .select(col("*") +: contamApplyCols(col("__tk"), benchHashes, windowTokens): _*)
      .drop("__tk")

  /** the ONE cut rule: a token survives iff no merged interval covers
    * its index; struct(clean_n_tokens, clean_hash) with the hash the
    * 60-bit md5 of the survivors joined by one space — shared by the
    * apply operators (q114, q118b), the stream door and the frame pass
    * so none of them can drift ([[graft.functions.TextKernels.CutTokens]]). */
  private def cutCol(toks: Column, spans: Column): Column =
    graft.functions.TextKernels.cut_tokens(toks, spans)

  /** Σ(e − s) over the merged spans — the tokens a cut removes. */
  private[graft] def spanTokensSumCol(spansCol: String): Column =
    expr(s"aggregate($spansCol, CAST(0 AS BIGINT), (acc, sp) -> acc + (sp.e - sp.s))")

  /** the ONE span-explode projection (doc_id, span_idx, start_pos,
    * end_pos, span_tokens), unordered — callers sort if they're a
    * batch surface. */
  private[graft] def explodeSpans(df: DataFrame, spansCol: String): DataFrame =
    df.select(col("doc_id"), posexplode(col(spansCol)))
      .select(col("doc_id"),
        col("pos").cast("long").as("span_idx"),
        col("col.s").cast("long").as("start_pos"),
        col("col.e").cast("long").as("end_pos"),
        (col("col.e") - col("col.s")).cast("long").as("span_tokens"))

  /** q114: DECONTAMINATION APPLY — the rewrite q113 plans: every
    * contaminated [s, e) token range is cut from the corpus document
    * and the CLEANED content is re-fingerprinted. The emitted manifest
    * (per corpus doc: token counts before/after, spans cut, the 60-bit
    * hash of the cleaned token stream) is what the release actually
    * ships — downstream exact dedup (q30), chunking (q102) and packing
    * (q63) consume the clean hash/counts, so decontamination composes
    * with the rest of the pipeline instead of dangling as a report.
    *
    * Scale shape: the benchmark window set is eval-suite-sized and
    * collects into a FROZEN literal (the q84 bloom / q75 vocabulary
    * bounded-model discipline) — the corpus then pays ONE row-local
    * scan (tokenize once; probe, interval-fold and cut all index the
    * same token array) with zero joins and zero exchanges beyond the
    * output sort. A fully-contaminated doc legally cleans to the empty
    * token stream (hash of ""). */
  def decontamApply(docs: DataFrame, windowTokens: Int = 8): DataFrame =
    decontamApplyRowLocal(docs, benchmarkWindowHashes(docs, windowTokens),
        windowTokens)
      .orderBy("doc_id")

  /** the frozen-set form of q114 (unordered — the ingest-door twin
    * [[graft.streaming.DocStreams.decontamLookup]] runs THIS function
    * on a stream): benchmark rows are excluded (cutting the benchmark
    * against itself is vacuous by definition, exactly as in q113). */
  def decontamApplyRowLocal(docs: DataFrame, benchHashes: Seq[Long],
                            windowTokens: Int = 8): DataFrame =
    decontamView(withContamApplyCols(docs, benchHashes, windowTokens))

  /** the q114 manifest columns of the CORPUS documents of a frame
    * carrying the [[contamApplyCols]], unordered — the one output
    * projection of q114 (which sorts it), its door and the report view. */
  private[graft] def decontamView(scored: DataFrame): DataFrame =
    scored.filter(!isBenchmark(col("doc_id")))
      .select(col("doc_id"),
        col("contam_n_tokens").as("n_tokens"),
        size(col("contam_spans")).cast("long").as("n_cut_spans"),
        spanTokensSumCol("contam_spans").as("tokens_cut"),
        col("clean_n_tokens"), col("clean_hash"))

  /** q122: DECONTAMINATION REPORT — what the q114 cut costs the
    * release, per language (the sign-off card beside q107's span-cut
    * audit: a curation owner approves "0.3% of de tokens cut across
    * 2% of documents", not a per-doc manifest): documents touched,
    * tokens before/cut/after, the cut share in bp. Same frozen-set
    * row-local scan as q114 with `lang` riding through; ONE map-side
    * language rollup ends the plan. */
  def decontamReport(docs: DataFrame, windowTokens: Int = 8): DataFrame =
    // The rollup needs only COUNTS, so it skips the token cut entirely:
    // tokens_cut = Σ(e − s) over the merged disjoint spans — identical
    // to counting the filtered-out tokens (q114's conservation law,
    // spec-pinned) — and tokens_after = before − cut falls out POST-
    // aggregate. spanTokensSumCol's fold takes the span array as its
    // one whole-array input, so the span kernel evaluates once per row
    // however CollapseProject inlines it.
    docs.filter(!isBenchmark(col("doc_id")))
      .select(col("lang"), tokens(coalesce(col("text"), lit(""))).as("__tk"))
      .select(col("lang"), col("__tk"), contamSpansCol(col("__tk"),
        benchmarkWindowHashes(docs, windowTokens), windowTokens).as("contam_spans"))
      .select(col("lang"),
        size(col("__tk")).cast("long").as("contam_n_tokens"),
        spanTokensSumCol("contam_spans").as("__cut"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__cut") > 0, 1L).otherwise(0L)).as("n_docs_cut"),
        sum("contam_n_tokens").as("tokens_before"),
        sum("__cut").as("tokens_cut"))
      .withColumn("tokens_after", col("tokens_before") - col("tokens_cut"))
      .withColumn("cut_bp", expr(
        "coalesce((10000 * tokens_cut) DIV nullif(tokens_before, 0), CAST(0 AS BIGINT))"))
      .select("lang", "n_docs", "n_docs_cut", "tokens_before", "tokens_cut",
        "tokens_after", "cut_bp")
      .orderBy("lang")

  /** q115: BENCHMARK LEAK ATTRIBUTION — q113 read from the OTHER side:
    * per benchmark document, how much of it leaked into the corpus and
    * how widely (the report an eval owner reads to decide which split
    * is burned: a benchmark doc quoted by one scraped page is noise; a
    * doc whose windows sit in thousands of corpus docs is compromised).
    * Per benchmark doc: its distinct w-token windows, how many occur
    * verbatim in the corpus, that share in basis points, the distinct
    * corpus docs touched and total corpus occurrences. Every benchmark
    * doc emits a row — zero-leak (and window-less short) docs report 0.
    *
    * Scale shape: the benchmark side is eval-suite-sized, so its
    * window set BROADCASTS twice (semi-restriction, then attribution
    * join) and every aggregate past the restriction runs on
    * leak-sized rows; the corpus pays ONE row-local window scan and
    * never exchanges on the window key (the q113 discipline — the
    * restriction happens BEFORE anything corpus-sized moves).
    *
    * NOTE (r19 semantics): CONSTRUCTION executes Spark jobs — the
    * benchmark-side window set is localCheckpoint'ed when the frame is
    * BUILT (so even `explain` or a plan audit runs the benchmark
    * tokenize+window+distinct pass), and the frame reads that
    * lineage-free snapshot of source state as of the build. */
  def leakAttribution(docs: DataFrame, windowTokens: Int = 8): DataFrame = {
    val w = windowTokens
    require(w >= 1, s"windowTokens must be >= 1, got $w")
    // materialized ONCE (r20): the eval-suite-sized window set feeds
    // both the broadcast attribution join and the totals rollup —
    // un-materialized, each consumer re-ran the benchmark-side
    // tokenize+window+distinct pass (2 scans / 2 window passes)
    val benchWins = windowHashes(docs.filter(isBenchmark(col("doc_id"))), w)
      .select(col("doc_id").as("bench_doc_id"), col("h")).distinct()
      .localCheckpoint()
    // ONE broadcast inner join restricts AND attributes: an equi-join
    // already keeps only matching windows, so a semi-join prefix would
    // just probe the same hash set twice per corpus window
    val att = windowHashes(docs.filter(!isBenchmark(col("doc_id"))), w)
      .join(broadcast(benchWins), Seq("h"))
      .groupBy("bench_doc_id")
      .agg(countDistinct("h").as("n_leaked_windows"),
        countDistinct("doc_id").as("n_corpus_docs"),
        count(lit(1)).as("n_occurrences"))
    val totals = benchWins.groupBy("bench_doc_id")
      .agg(count(lit(1)).as("n_windows"))
    docs.filter(isBenchmark(col("doc_id")))
      .select(col("doc_id").as("bench_doc_id"))
      .join(totals, Seq("bench_doc_id"), "left")
      .join(att, Seq("bench_doc_id"), "left")
      .select(col("bench_doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_leaked_windows"), lit(0L)).as("n_leaked_windows"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"),
        coalesce(col("n_occurrences"), lit(0L)).as("n_occurrences"))
      .withColumn("leak_bp", expr(
        "CASE WHEN n_windows > 0 THEN (10000 * n_leaked_windows) DIV n_windows ELSE CAST(0 AS BIGINT) END"))
      .select("bench_doc_id", "n_windows", "n_leaked_windows", "leak_bp",
        "n_corpus_docs", "n_occurrences")
      .orderBy("bench_doc_id")
  }

  /** q112: BOILERPLATE LEADERBOARD — the most-duplicated w-token spans
    * across the corpus, the report a curation team reads BEFORE
    * writing cut rules (license blocks, headers, navigation chrome —
    * the q107 cut is the generic remedy; this names the offenders):
    * per duplicated window content (≥2 distinct docs), the distinct-doc
    * count, total occurrences, and the span text itself, top-K by
    * (n_docs desc, n_occ desc, window asc).
    *
    * Scale shape: ONE scan of the span family's [[windowStream]],
    * each row's span text cut from its token array; the (hash →
    * stats+text) aggregate combines map-side (min(text) carries the
    * span's one spelling — all rows in a hash group share it), so the
    * exchange moves ≤1 row per distinct window content; the election
    * is a K-bounded TakeOrdered, never a global sort of the span
    * domain, and the rank window reads its ≤ K rows (spec-pinned). */
  def boilerplateTopK(docs: DataFrame, windowTokens: Int = 8, k: Int = 32): DataFrame = {
    val w = windowTokens
    require(w >= 1 && k >= 1,
      s"Dedup.boilerplateTopK needs windowTokens >= 1 and k >= 1, got w = $w, k = $k")
    val top = windowStream(docs, w)
      .select(col("doc_id"), col("h"),
        array_join(slice(col("tk"), col("pos") + 1, lit(w)), " ").as("span_text"))
      .groupBy("h")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_occ"),
        min("span_text").as("span_text"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("span_text").asc)
      .limit(k)
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_docs").desc, col("n_occ").desc, col("span_text").asc)).cast("long"))
      .select("rank", "span_text", "n_docs", "n_occ")
      .orderBy("rank")
  }

  /** deterministic stand-in INGEST BATCH for q108 — a mix every
    * dedup-at-the-door deployment sees, by pure id rules mirrored
    * literally in the oracle SQL: verbatim re-uploads (%5=0),
    * re-uploads under trivial reformatting that the q40 normalization
    * must see through (%5=4, uppercased), lightly-edited near-dups
    * (%5=1 suffix, %5=2 prefix), and genuinely new content (%5=3, an
    * md5 hex string that shares nothing). Ids offset far above the
    * store's id range (and q64's clone offset) so they never collide. */
  def ingestView(docs: DataFrame): DataFrame =
    docs.select(
      (col("doc_id") + lit(2000000000000L)).as("doc_id"),
      expr("""CASE WHEN doc_id % 5 = 0 THEN text
        WHEN doc_id % 5 = 1 THEN text || ' trailing audit note'
        WHEN doc_id % 5 = 2 THEN 'prefix note ' || text
        WHEN doc_id % 5 = 3 THEN md5('new:' || CAST(doc_id AS STRING))
        ELSE upper(text) END""").as("text"),
      col("lang"), col("source"))

  /** q108: RELEASE DEDUP AT THE DOOR — the production incremental form
    * of q30+q31: a batch of INCOMING documents is deduplicated against
    * a FROZEN corpus store without ever re-scanning pairs. Per incoming
    * doc the verdict: `exact` (q40-normalized content fingerprint
    * already in the store; dup_of = smallest holder), `near` (shares a
    * MinHash band bucket with the store — the q31 banding; dup_of =
    * smallest bucket holder), else `new`; n_bands_matched counts the
    * doc's bands (of 8) that landed in an occupied store bucket.
    *
    * Scale shape — the reason this beats re-running corpus dedup on
    * store ∪ batch: the store collapses ONCE to one row per
    * fingerprint and one row per band bucket (map-side-combined
    * min-id aggregates — build once per release, reusable across
    * batches), so the probe is two linear LEFT equi-joins keyed by
    * fingerprint / (band_idx, band_hash) with exactly one store row
    * per key — no bucket can go quadratic, no window, no pair join.
    * At 100 TB the store frames are corpus-fingerprint-sized but the
    * per-batch cost is batch-sized. */
  def releaseDedup(store: DataFrame, incoming: DataFrame): DataFrame = {
    val (fpStore, bandStore) = releaseStores(store)
    releaseDedupWithStores(fpStore, bandStore, incoming)
  }

  /** the two COLLAPSED store frames the door probes — (fingerprint →
    * smallest holder, band bucket → smallest holder). Build once per
    * release (map-side-combined min aggregates), persist, reuse across
    * every ingest batch; [[releaseDedupWithStores]] /
    * [[graft.streaming.DocStreams.releaseDedupSink]] take them frozen. */
  def releaseStores(store: DataFrame): (DataFrame, DataFrame) = {
    val fpStore = store
      .select(TextAnalysis.fingerprintCol(col("text")).as("fp"), col("doc_id"))
      .filter(col("fp").isNotNull)
      .groupBy("fp").agg(min("doc_id").as("fp_min"))
    val bandStore = minhashBands(store)
      .groupBy("band_idx", "band_hash").agg(min("doc_id").as("band_min"))
    (fpStore, bandStore)
  }

  /** the probe half of [[releaseDedup]] against pre-collapsed frozen
    * stores — what a deployment actually pays per batch. */
  def releaseDedupWithStores(fpStore: DataFrame, bandStore: DataFrame,
                             incoming: DataFrame): DataFrame =
    releaseVerdictsUnordered(fpStore, bandStore, incoming).orderBy("doc_id")

  /** the unordered verdict core of [[releaseDedupWithStores]] — q108b
    * materializes this once and re-sorts at the end, so the confirm
    * pass never re-derives the store collapse. */
  private def releaseVerdictsUnordered(fpStore: DataFrame, bandStore: DataFrame,
                                       incoming: DataFrame): DataFrame = {
    val incFp = incoming
      .select(col("doc_id"), col("lang"),
        TextAnalysis.fingerprintCol(col("text")).as("fp"))
      .join(fpStore, Seq("fp"), "left")
      .select(col("doc_id"), col("lang"), col("fp_min"))
    val incNear = minhashBands(incoming)
      .join(bandStore, Seq("band_idx", "band_hash"), "left")
      .groupBy("doc_id")
      .agg(min("band_min").as("near_min"),
        count(col("band_min")).as("n_bands_matched"))
    incFp.join(incNear, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("fp_min").isNotNull, lit("exact"))
          .when(col("near_min").isNotNull, lit("near"))
          .otherwise(lit("new")).as("verdict"),
        when(col("fp_min").isNotNull, col("fp_min"))
          .otherwise(col("near_min")).as("dup_of"),
        coalesce(col("n_bands_matched"), lit(0L)).as("n_bands_matched"))
  }

  /** minimum exact 3-gram Jaccard (basis points) for a band-proposed
    * `near` to survive the q108b confirm — the same "LSH proposes,
    * exact Jaccard decides" bar as the q31→q33 batch discipline. */
  val ConfirmJaccardBp = 5000L

  /** q108b: the door verdict with the PRECISION PASS — q108's `near`
    * trusts one shared MinHash band, which at corpus scale admits
    * band-collision false positives (8 bands of 4 minima collide
    * eventually on boilerplate-heavy signatures); the q31→q33 batch
    * discipline says LSH PROPOSES and exact Jaccard DECIDES, so the
    * door gets the same verify step: each band-near candidate pair
    * (incoming doc, its elected store holder) is scored with the exact
    * k-gram shingle Jaccard, and an unconfirmed near (score below
    * [[ConfirmJaccardBp]], or unscorable) is DEMOTED to `new` with the
    * measured score kept as the audit trail. `exact` verdicts skip the
    * confirm — fingerprint equality already is exact.
    *
    * Scale shape: the candidate frame is batch-sized (≤1 store holder
    * per incoming doc, elected in q108's probe), so the confirm pays
    * batch-sized shingle work on the incoming side plus ONE
    * candidate-restricted fetch of store text (a left-semi on the
    * elected holder ids — against the catalog store table bucketed by
    * doc_id this prunes instead of scanning; see
    * [[graft.sources.IndexCatalog.registerReleaseStores]]). No pair
    * join ever exceeds one row per incoming doc. */
  def releaseDedupConfirmed(store: DataFrame, incoming: DataFrame,
                            k: Int = 3): DataFrame = {
    // materialize the batch-sized q108 verdict frame ONCE: the confirm
    // reuses it four ways (candidate election, both text semi-joins,
    // the final verdict join), and an un-materialized reuse re-derives
    // the full store collapse per use (the before-plan held 4 copies of
    // the q108 subtree: 32 exchanges / 18 scans)
    val (fpStore, bandStore) = releaseStores(store)
    val verdicts =
      releaseVerdictsUnordered(fpStore, bandStore, incoming).localCheckpoint()
    val cand = verdicts.filter(col("verdict") === "near")
      .select(col("doc_id"), col("dup_of"))
    val incSh = incoming
      .join(cand.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingleSet(col("text"), k).as("sh_i"))
    val storeSh = store
      .join(cand.select(col("dup_of").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("dup_of"), shingleSet(col("text"), k).as("sh_s"))
    val scored = cand
      .join(incSh, Seq("doc_id"))
      .join(storeSh, Seq("dup_of"))
      .select(col("doc_id"),
        // sizes widened to int64 BEFORE the 10000× (a 250k-shingle doc
        // would overflow int32 — the q33 cast discipline)
        expr("""(10000 * CAST(size(array_intersect(sh_i, sh_s)) AS BIGINT))
                 DIV nullif(CAST(size(array_union(sh_i, sh_s)) AS BIGINT), 0)""")
          .as("jaccard_bp"))
    verdicts.join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("verdict") === "near" &&
            (col("jaccard_bp").isNull || col("jaccard_bp") < ConfirmJaccardBp),
          lit("new")).otherwise(col("verdict")).as("verdict"),
        when(col("verdict") === "near" &&
            (col("jaccard_bp").isNull || col("jaccard_bp") < ConfirmJaccardBp),
          lit(null).cast("long")).otherwise(col("dup_of")).as("dup_of"),
        col("n_bands_matched"), col("jaccard_bp"))
      .orderBy("doc_id")
  }

  /** q32: per-doc SimHash profile with 15-bit chunk banding — docs
    * sharing any of the 4 chunks are hamming-near candidates. Bucket
    * sizes via the q83 groupBy+join shape ([[Scale.keyAggJoin]]), same
    * hot-chunk rationale as [[minhashProfile]] (a 15-bit chunk of
    * boilerplate-heavy signatures is GUARANTEED hot at corpus scale). */
  def simhashProfile(docs: DataFrame): DataFrame = {
    val withSig = docs.select(col("doc_id"), simhash(col("text")).as("simhash"))
    val chunkCols = (0 until 4).map(j =>
      struct(lit(j).as("band_idx"),
        shiftright(col("simhash"), 15 * j).bitwiseAND(lit(0x7FFFL)).as("band_hash")))
    val bandsDf = withSig
      .select(col("doc_id"), col("simhash"), explode(array(chunkCols: _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band_idx"), col("b.band_hash"))
    Scale.keyAggJoin(bandsDf, Seq("band_idx", "band_hash"),
        Seq(count(lit(1)).as("bucket_n")))
      .groupBy("doc_id")
      .agg(max(col("simhash")).as("simhash"),
        sum(col("bucket_n") - 1).as("n_band_mates"))
      .orderBy("doc_id")
  }
}
