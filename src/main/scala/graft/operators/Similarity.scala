package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity over an embedding column (SURVEY.md §2C):
  * embedding-cosine near-dup pairs, brute-force cosine top-k, and a
  * random-hyperplane-LSH bucketed variant (the 100 TB path: equality
  * join on bucket id instead of a cartesian product).
  *
  * Dot products are the `vec_dot` kernel over the array column
  * ([[graft.functions.VectorExpressions.ArrayDotProduct]]), evaluated
  * row-local. Vectors are L2-normalized once up front so every pair
  * comparison is a plain dot product.
  */
object Similarity {

  /** the `vec_dot` kernel (custom Catalyst expression, float-native —
    * the HOF zip_with/aggregate form evaluates interpreted and is ~10×
    * slower on the all-pairs hot path). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vec_dot(a, b)

  /** `least`/`greatest` demand ≥2 arguments, but a degenerate model
    * (single-vector corpus → one centroid/one code) is still valid —
    * pad the argmin/argmax instead of failing analysis. */
  private def leastOf(cols: Seq[Column]): Column =
    if (cols.size == 1) cols.head else least(cols: _*)
  /** the 4-bit packing bound every PQ entry point must enforce — an
    * unguarded k>16 would silently overflow codes into the next
    * nibble and corrupt every downstream lookup. */
  private def requirePackable(m: Int, k: Int): Unit = {
    require(k >= 2 && k <= 16, s"4-bit packing holds at most 16 codes, got k=$k")
    require(m * 4 <= 63, s"packed code must fit one BIGINT, got m=$m")
  }

  /** embeddings + scalar L2 norm. cosine(a,b) = dot(a,b)/(‖a‖·‖b‖) —
    * carrying a norm scalar instead of materializing normalized copies
    * of every vector keeps the pair stage free of array allocations. */
  def withNorm(embeddings: DataFrame): DataFrame =
    embeddings.withColumn("norm",
      sqrt(graft.functions.VectorExpressions.vec_norm_sq(col("embedding"))))

  /** seeded hyperplanes for the banded (multi-table) LSH screen, values
    * rounded to 6 decimals: the SAME decimal literals are inlined into
    * the DuckDB oracle SQL (SparkEntry), and both engines parse a 6-dp
    * decimal string to the identical nearest double — so bucket signs,
    * and therefore the candidate set, agree bit-for-bit across engines. */
  def bandedPlanes(nTables: Int, nPlanes: Int, dim: Int): Seq[Seq[Seq[Double]]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(nTables, nPlanes, dim)(math.rint(rnd.nextGaussian() * 1e6) / 1e6)
  }

  /** (table → sign-bucket) for every LSH table in one codegen
    * expression — the plane matrix is a reference object, not
    * tables×planes×dim literal tree nodes (which made analysis+codegen
    * the dominant cost of every LSH-family query). */
  private def tableBucketsCol(embedding: Column, planes: Seq[Seq[Seq[Double]]]): Column =
    graft.functions.VectorExpressions.lsh_buckets(embedding, planes)

  /** q34: near-dup pairs above a cosine threshold, candidates from
    * multi-table hyperplane LSH — pairs colliding in ≥1 table's exact
    * bucket. Linear shuffles on small int keys; the embedding arrays
    * are joined back only for the (small) candidate set, so no vector
    * data rides the per-table exchanges. Recall is governed by
    * (nTables, nPlanes) — more planes = fewer false candidates per
    * bucket (pick ~log2(n) planes so bucket occupancy stays bounded as
    * the corpus grows), more tables = higher recall. */
  def nearDupPairsBanded(embeddings: DataFrame, nTables: Int = 6, nPlanes: Int = 4,
                         dim: Int = 64, minCosine: Double = 0.45): DataFrame = {
    val e = withNorm(embeddings).select(col("vec_id"), col("embedding"), col("norm"))
    // one row per (vector, table) with that table's bucket — computed in a
    // single projection pass, so the candidate join is ONE shuffle on the
    // composite (table, bucket) key instead of nTables separate joins.
    // The repartition makes the self-join's two sides project off the
    // SAME exchange (ReusedExchange, r20 guide §2.4): the renamed
    // projections alone re-computed the lsh_buckets pass per side —
    // two embedding scans and two plane-matrix passes per banding.
    // Skew/AQE trade: the repartition fixes the shuffle shape, so a hot
    // (table, bucket) lands in one partition and AQE can no longer
    // broadcast a small input.
    val b = e.select(col("vec_id"),
      posexplode(tableBucketsCol(col("embedding"), bandedPlanes(nTables, nPlanes, dim))))
      .withColumnRenamed("pos", "table")
      .withColumnRenamed("col", "bucket")
      .repartition(col("table"), col("bucket"))
    val candidates = b.select(col("vec_id").as("id_a"), col("table"), col("bucket"))
      .join(b.select(col("vec_id").as("id_b"), col("table"), col("bucket")),
        Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val ea = e.select(col("vec_id").as("id_a"), col("embedding").as("e_a"), col("norm").as("n_a"))
    val eb = e.select(col("vec_id").as("id_b"), col("embedding").as("e_b"), col("norm").as("n_b"))
    candidates.join(ea, Seq("id_a")).join(eb, Seq("id_b"))
      .withColumn("cosine", dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), cosBp(col("cosine")))
      .orderBy("id_a", "id_b")
  }

  /** cosine → integer basis points: the only float-derived form that
    * hash-compares exactly across engines (both round half-away-from-
    * zero on identical doubles). */
  private def cosBp(cosine: Column): Column =
    round(cosine * 10000).cast(org.apache.spark.sql.types.LongType).as("cos_bp")

  /** rank the ≤k survivors of the custom TopKPerKey operator — the
    * bounded-heap physical plan replaces a full per-key sort of every
    * candidate (see graft.plans.TopKPerKey); the residual window only
    * ever sees k rows per query. Ranking uses the exact double cosine
    * (ties broken by neighbor_id); the emitted score is basis points. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val top = graft.plans.TopKPerKey(scored,
      Seq(col("query_id")), Seq(col("cosine").desc, col("neighbor_id")), k)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    top.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("neighbor_id"), cosBp(col("cosine")),
        col("rank").cast(org.apache.spark.sql.types.LongType).as("rank"))
      .orderBy("query_id", "rank")
  }

  /** q35: brute-force cosine top-k neighbors for a query set — the
    * exact baseline the ANN variants are judged against. */
  def knnBruteForce(embeddings: DataFrame, nQueries: Int = 20, k: Int = 10): DataFrame = {
    val e = withNorm(embeddings).select(col("vec_id"), col("embedding"), col("norm"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("e_q"), col("norm").as("n_q"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("e_c"), col("norm").as("n_c"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c"))).as("cosine"))
    rankTopK(scored, k)
  }

  /** q110: ANN RECALL AUDIT — the index-quality report every vector
    * deployment runs before trusting an approximate index (the
    * recall@k card an IVF/nProbe or LSH parameter sweep reads): per
    * query, how many of the exact top-k ([[knnBruteForce]]) the IVF
    * index ([[knnIvf]]) returned, and the recall in basis points.
    * Both sides are the PUBLISHED inventory operators — the audit
    * composes their result sets, so the number it reports is exactly
    * the production index's, not a re-derivation that could drift.
    *
    * Scale shape: the exact side is the documented recall-oracle
    * crossJoin (benchmark-query-sized, q35's contract); the audit
    * itself adds one benchmark-sized left-semi join and two
    * map-side-combined per-query counts — nothing corpus-sized moves
    * beyond what the two published operators already do. */
  def annRecallAudit(embeddings: DataFrame, nQueries: Int = 20, k: Int = 10): DataFrame = {
    val exact = knnBruteForce(embeddings, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = knnIvf(embeddings, nQueries = nQueries, k = k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_bp", expr("(10000 * n_hits) DIV n_exact"))
      .orderBy("query_id")
  }

  /** q110b: the nProbe PARAMETER SWEEP — the recall-vs-cost curve an
    * IVF deployment reads to pick its operating point (q110 audits ONE
    * setting; this prices the knob): per nProbe arm, the macro mean of
    * per-query recall@k in basis points and the micro (pooled) recall,
    * all against the same exact baseline.
    *
    * Scale shape: the model trains ONCE and the corpus is
    * cell-assigned ONCE; each query's probe list is computed once up
    * to max(nProbes) with its probe rank, so every arm is a FILTER on
    * one shared candidate frame (probe_rank ≤ p) — arms add zero
    * corpus scans. Candidate scoring is the q36b equality join on the
    * cell id; the per-(arm, query) rank window sees only that query's
    * candidates. Equality with q110 at the audited setting is
    * spec-pinned. */
  def annRecallSweep(embeddings: DataFrame,
                     nProbes: Seq[Int] = Seq(1, 2, 4, 8, 16),
                     nCells: Int = 16, nQueries: Int = 20, k: Int = 10): DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(p => p >= 1 && p <= nCells),
      s"every arm must probe between 1 and $nCells cells: $nProbes")
    val spark = embeddings.sparkSession
    val exact = knnBruteForce(embeddings, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val cents = ivfCentroids(embeddings, nCells)
    if (cents.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_probe", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_queries", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("mean_recall_bp", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("micro_recall_bp", org.apache.spark.sql.types.LongType))))
    val (e, scores, best) = withCellScores(withNorm(embeddings), cents)
    val c = e.withColumn("cell", best.getField("cell"))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("e_c"),
        col("norm").as("n_c"), col("cell"))
    val probeStructs = slice(reverse(array_sort(array(scores: _*))), 1, nProbes.max)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("e_q"),
        col("norm").as("n_q"), posexplode(probeStructs.getField("cell")))
      .select(col("query_id"), col("e_q"), col("n_q"),
        col("col").as("cell"), (col("pos") + 1).as("probe_rank"))
    val arms = spark.createDataset(nProbes.sorted.map(_.toLong))(
      org.apache.spark.sql.Encoders.scalaLong).toDF("n_probe")
    val cand = q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .crossJoin(broadcast(arms))
      .filter(col("probe_rank") <= col("n_probe"))
      .select(col("n_probe"), col("query_id"), col("neighbor_id"),
        (dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c"))).as("cosine"))
    val topk = cand.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("n_probe", "query_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("n_probe", "query_id", "neighbor_id")
    val hits = topk.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("n_probe", "query_id").agg(count(lit(1)).as("n_hits"))
    val perQ = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(arms))
      .join(hits, Seq("n_probe", "query_id"), "left")
      .select(col("n_probe"), col("query_id"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    perQ.groupBy("n_probe").agg(
        count(lit(1)).as("n_queries"),
        expr("CAST(sum((10000 * n_hits) DIV n_exact) DIV count(1) AS BIGINT)")
          .as("mean_recall_bp"),
        expr("CAST((10000 * sum(n_hits)) DIV sum(n_exact) AS BIGINT)")
          .as("micro_recall_bp"))
      .withColumn("n_probe", col("n_probe").cast("long"))
      .select("n_probe", "n_queries", "mean_recall_bp", "micro_recall_bp")
      .orderBy("n_probe")
  }

  /** appends `__dots` (all centroid dot products, ONE codegen
    * expression over the reference-object matrix — evaluated once per
    * row, no per-cell literal subtrees) and returns the (score, cell)
    * struct columns over it for query-side multi-cell probing, plus the
    * nearest cell as struct(score, cell) from ONE kernel over the same
    * `__dots` ([[graft.functions.VectorExpressions.NearestCell]],
    * greatest's order over those structs without building them). The centroid
    * norm is a per-cell constant factor, divided out of the argmax/sort. */
  private def withCellScores(df: DataFrame, centroids: Seq[Seq[Double]])
      : (DataFrame, Seq[Column], Column) = {
    val withDots = df.withColumn("__dots",
      graft.functions.VectorExpressions.vec_cell_dots(col("embedding"), centroids))
    val cellNorms = centroids.map(c => math.sqrt(c.map(x => x * x).sum))
    val cols = cellNorms.toIndexedSeq.zipWithIndex.map { case (cn, i) =>
      struct((element_at(col("__dots"), i + 1) / (col("norm") * cn)).as("score"),
        lit(i).as("cell"))
    }
    (withDots, cols,
      graft.functions.VectorExpressions.nearest_cell(col("__dots"), col("norm"), cellNorms))
  }

  /** Spark's `CAST(round(col * 1000000) AS BIGINT)` replicated for the
    * driver-side Lloyd passes: `round` on doubles is BigDecimal
    * HALF_UP, the cast truncates. The oracle replays this exact
    * arithmetic, so both engines and the driver land on the same
    * scaled longs. */
  private[graft] def roundScaled(x: Double): Long =
    java.math.BigDecimal.valueOf(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  /** sequential-fold dot — [[graft.functions.VectorExpressions]]'s
    * fold order (index 0 upward, floats widened per element), the one
    * every engine in the three-way check agrees on. */
  private def seqDot(x: Array[Double], c: Array[Double]): Double = {
    val n = math.min(x.length, c.length)
    var s = 0.0; var i = 0
    while (i < n) { s += x(i) * c(i); i += 1 }
    s
  }

  /** one Lloyd iteration over the COLLECTED training sample, on the
    * driver: assign every sample vector to its nearest centroid (the
    * cosine argmax of [[withCellScores]], with `greatest`-struct
    * semantics: NaN ranks greatest, score ties go to the larger cell
    * index), recompute each cell's centroid as the per-dimension mean.
    * Cells that lost all members keep their previous centroid.
    *
    * The sample is bounded by design (`trainSample` rows — the model
    * would not be broadcast-sized otherwise), so the refinement is a
    * few million flops; running it as Spark jobs paid per-iteration
    * scheduling plus a fresh whole-stage-codegen compile for every new
    * centroid literal matrix, which `BenchSplit pq` measured as the
    * dominant cost of every PQ/IVF query (train 1.7s vs 0.15s scan).
    *
    * Means are computed in QUANTIZED fixed-point: per-dimension sums of
    * round(x·10⁶) as longs, divided integrally by the member count, and
    * the centroid component is that ratio /10⁶. Long sums are exact and
    * order-independent, so the refined model is bit-identical to the
    * distributed form — spec-pinned against a Spark-side replica in
    * LloydEquivalenceSpec and replayed by every PQ/IVF oracle. */
  private[graft] def lloydStepLocal(rows: Array[(Array[Double], Double)],
                                        centroids: Seq[Seq[Double]]): Seq[Seq[Double]] = {
    val cs = centroids.map(_.toArray).toIndexedSeq
    val cn = cs.map(c => math.sqrt(c.map(x => x * x).sum))
    val maxLen = cs.map(_.length).max max rows.iterator.map(_._1.length).maxOption.getOrElse(0)
    if (maxLen == 0) return centroids // degenerate: every vector empty
    val sums = Array.ofDim[Long](cs.length, maxLen)
    val counts = Array.ofDim[Long](cs.length, maxLen)
    rows.foreach { case (x, norm) =>
      var best = 0; var bestScore = 0.0; var ci = 0
      while (ci < cs.length) {
        val s = seqDot(x, cs(ci)) / (norm * cn(ci))
        if (ci == 0 || java.lang.Double.compare(s, bestScore) >= 0) {
          best = ci; bestScore = s
        }
        ci += 1
      }
      var i = 0
      while (i < x.length) {
        sums(best)(i) += roundScaled(x(i)); counts(best)(i) += 1L; i += 1
      }
    }
    centroids.zipWithIndex.map { case (old, i) =>
      if (counts(i)(0) == 0L) old
      else (0 until maxLen).takeWhile(counts(i)(_) > 0L)
        .map(p => (sums(i)(p) / counts(i)(p)) / 1e6)
    }
  }

  /** IVF centroid model: seeded hash-order sample refined by `iters`
    * Lloyd iterations. The sample is a one-pass TakeOrderedAndProject
    * (an nCells-sized heap per partition — no count() scan to derive a
    * stride first, which at 100 TB would be a full extra read); each
    * refinement is one scan + a C×dim-sized aggregate. Driver-side by
    * design: C×dim doubles is a legitimate broadcast-sized model, the
    * standard IVF shape. The hash order uses the cross-engine 60-bit
    * md5 so the seed pick (and with the quantized Lloyd means, the
    * whole model) is reproducible outside Spark. */
  def ivfCentroids(embeddings: DataFrame, nCells: Int, iters: Int = 2,
                   trainSample: Int = 4096): Seq[Seq[Double]] = {
    // the quantizer trains on a BOUNDED hash-ordered sample (the
    // standard IVF practice): at 100 TB the corpus pays exactly ONE
    // TakeOrdered selection scan (an nCells-sized heap per partition —
    // no count() pass), and the Lloyd refinements run on the driver
    // over the collected sample ([[lloydStepLocal]]) — bit-identical
    // math, none of the per-iteration job + codegen-compile overhead.
    // The sample is deterministic (same md5-60 order as the seed
    // pick), so the model stays reproducible; the seed is the sample's
    // first nCells rows. Collected payload ≤ trainSample × dim doubles
    // (2 MB at the defaults) — a bounded model input, not a corpus
    // collect.
    val rows = withNorm(embeddings)
      .select(col("vec_id"), col("embedding"), col("norm"),
        Dedup.md5_60(concat(lit("ivf:"), col("vec_id").cast("string"))).as("__h"))
      .orderBy(col("__h"), col("vec_id"))
      .limit(trainSample)
      .select(col("embedding"), col("norm"))
      .collect()
      // Number-boxed: float32 corpus vectors widen losslessly
      .map(r => (r.getSeq[Number](0).map(_.doubleValue()).toArray, r.getDouble(1)))
    val seed = rows.take(nCells).map(_._1.toSeq).toSeq
    if (seed.isEmpty) seed // empty corpus: no model, no Lloyd passes
    else (1 to iters).foldLeft(seed)((c, _) => lloydStepLocal(rows, c))
  }

  /** appends `__pqdots$mi` (all code-centroid dot products for ONE
    * subspace, one codegen expression over the reference-object
    * matrix) and returns the (d2, code) struct columns over it, where
    * d2 = ‖c‖² − 2·x_m·c — the squared-L2 argmin objective with the
    * row-constant ‖x_m‖² dropped (it cannot change the argmin). Tie →
    * smaller code, via `least` struct ordering. */
  private def withPqScores(df: DataFrame, mi: Int, sub: Column,
                           cents: Seq[Seq[Double]]): (DataFrame, Seq[Column]) = {
    val dotsCol = s"__pqdots$mi"
    val withDots = df.withColumn(dotsCol,
      graft.functions.VectorExpressions.vec_cell_dots(sub, cents))
    val cols = cents.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      val cn2 = c.map(x => x * x).sum
      struct((lit(cn2) - lit(2.0) * element_at(col(dotsCol), i + 1)).as("d2"),
        lit(i).as("code"))
    }
    (withDots, cols)
  }

  /** one squared-L2 Lloyd iteration over ALL m subspaces, on the
    * driver over the collected training sample — the [[lloydStepLocal]]
    * discipline (quantized fixed-point integer means, exact and
    * order-independent) with L2 assignment and min-code tie-break
    * (`least`-struct semantics: NaN ranks greatest so real distances
    * always win, d2 ties go to the smaller code), per subspace.
    * Subspaces never interact. Bit-identical to the distributed form —
    * spec-pinned against a Spark-side replica in LloydEquivalenceSpec —
    * so the oracle replay is untouched. */
  private[graft] def lloydIterAllLocal(rows: Array[Array[Double]],
                                           books: Seq[Seq[Seq[Double]]],
                                           m: Int, d: Int): Seq[Seq[Seq[Double]]] = {
    (0 until m).map { mi =>
      val cs = books(mi).map(_.toArray).toIndexedSeq
      val cn2 = cs.map(c => c.map(x => x * x).sum)
      val sums = Array.ofDim[Long](cs.length, d)
      val counts = Array.ofDim[Long](cs.length, d)
      rows.foreach { x =>
        // slice(embedding, mi*d+1, d): empty past the row's end
        val subLen = math.max(0, math.min(d, x.length - mi * d))
        val sub = new Array[Double](subLen)
        var i = 0
        while (i < subLen) { sub(i) = x(mi * d + i); i += 1 }
        var best = 0; var bestD2 = 0.0; var ci = 0
        while (ci < cs.length) {
          val d2 = cn2(ci) - 2.0 * seqDot(sub, cs(ci))
          if (ci == 0 || java.lang.Double.compare(d2, bestD2) < 0) {
            best = ci; bestD2 = d2
          }
          ci += 1
        }
        i = 0
        while (i < subLen) {
          sums(best)(i) += roundScaled(sub(i)); counts(best)(i) += 1L; i += 1
        }
      }
      books(mi).zipWithIndex.map { case (old, ci) =>
        if (d == 0 || counts(ci)(0) == 0L) old
        else (0 until d).takeWhile(counts(ci)(_) > 0L)
          .map(p => (sums(ci)(p) / counts(ci)(p)) / 1e6)
      }
    }
  }

  /** q76 PQ codebook MODEL: `m` per-subspace centroid matrices
    * (k × dim/m), trained with the [[ivfCentroids]] discipline — one
    * bounded md5-60-hash-ordered sample ("pq:" salt; the SAME rows
    * seed every subspace), `iters` quantized-integer Lloyd steps per
    * subspace under squared-L2 assignment. m·k·(dim/m) doubles —
    * broadcast-sized, bit-reproducible, replayed by the oracle. */
  def pqCodebooks(embeddings: DataFrame, m: Int = 8, dim: Int = 64, k: Int = 16,
                  iters: Int = 2, trainSample: Int = 4096): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split into $m subspaces")
    val d = dim / m
    // ONE TakeOrdered selection scan; Lloyd refinement on the driver
    // over the collected sample ([[lloydIterAllLocal]]) — see
    // [[ivfCentroids]] for why (bounded model input, bit-identical
    // math, no per-iteration job/codegen overhead).
    val rows = embeddings
      .select(col("vec_id"), col("embedding"),
        Dedup.md5_60(concat(lit("pq:"), col("vec_id").cast("string"))).as("__h"))
      .orderBy(col("__h"), col("vec_id"))
      .limit(trainSample)
      .select(col("embedding"))
      .collect()
      // Number-boxed: the frame may carry float32 corpus vectors OR
      // double residuals (q81 trains codebooks on x − centroid)
      .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    val seedRows = rows.take(k).map(_.toIndexedSeq).toSeq
    val seeds: Seq[Seq[Seq[Double]]] = (0 until m).map { mi =>
      seedRows.map(v => v.slice(mi * d, mi * d + d).toSeq): Seq[Seq[Double]]
    }
    if (seedRows.isEmpty) seeds
    else (1 to iters).foldLeft(seeds)((b, _) => lloydIterAllLocal(rows, b, m, d))
  }

  /** q76: PRODUCT-QUANTIZATION encode — every vector compressed to m
    * 4-bit codes packed into ONE BIGINT (m=8, k=16: 4 bytes standing in
    * for 256 bytes of float32 — the 100 TB embedding-store compression
    * path; ADC search scans codes against a k×m lookup table instead
    * of raw vectors). Encoding is row-local against the broadcast
    * codebook model: one scan, zero hash exchanges (plan-pinned).
    * `err_bp` is the squared reconstruction error as basis points of
    * ‖x‖² (floor; clamped at 0 against fold round-off) — the fidelity
    * column a compression report needs. Zero vectors get err_bp 0 by
    * definition. Exactly oracle-checked: the model replay plus these
    * double formulas land on identical bits in DuckDB. */
  def pqEncode(embeddings: DataFrame, m: Int = 8, dim: Int = 64, k: Int = 16): DataFrame = {
    requirePackable(m, k)
    val books = pqCodebooks(embeddings, m, dim, k)
    if (books.headOption.forall(_.isEmpty)) {
      import org.apache.spark.sql.types._
      return embeddings.sparkSession.createDataFrame(
        embeddings.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("vec_id", LongType),
          StructField("pq_code", LongType), StructField("err_bp", LongType))))
    }
    encodeWithBooks(embeddings.select(col("vec_id"), col("embedding")),
      books, m, dim / m).orderBy("vec_id")
  }

  /** model-driven PQ encode for a PRE-TRAINED codebook — the shape a
    * deployment uses once the model is frozen (and the only shape a
    * STREAM can use: no training scan, no sort — stateless row-local
    * expressions against the broadcast model, so it runs unchanged on
    * a readStream frame; see graft.streaming.VecStreams). */
  def pqEncodeWithModel(embeddings: DataFrame, books: Seq[Seq[Seq[Double]]],
                        m: Int = 8, dim: Int = 64): DataFrame = {
    require(books.size == m && dim % m == 0, s"need $m codebooks for dim $dim")
    require(books.forall(_.nonEmpty), "empty codebook: train on a non-empty corpus")
    requirePackable(m, books.map(_.size).max.max(2))
    encodeWithBooks(embeddings.select(col("vec_id"), col("embedding")),
      books, m, dim / m)
  }

  /** `base` must carry `embedding` plus whatever `keep` references —
    * letting callers compute sibling row-local columns (e.g. the IVF
    * cell) in the SAME scan instead of a corpus self-join. `errRef`
    * overrides the denominator of err_bp: q81 encodes RESIDUALS but
    * reports error relative to the ORIGINAL vector's norm², so its
    * fidelity column is directly comparable with q76's. */
  private def encodeWithBooks(base: DataFrame, books: Seq[Seq[Seq[Double]]],
                              m: Int, d: Int,
                              keep: Seq[Column] = Seq(col("vec_id")),
                              errRef: Option[Column] = None): DataFrame = {
    var df = base
    val bests = (0 until m).map { mi =>
      val (withDots, scores) = withPqScores(df, mi,
        slice(col("embedding"), mi * d + 1, d), books(mi))
      df = withDots.withColumn(s"__best$mi", leastOf(scores))
      col(s"__best$mi")
    }
    val packed = (0 until m).map { mi =>
      bests(mi).getField("code").cast("long") * lit(1L << (4 * mi))
    }.reduce(_ + _)
    // err² = Σ_m (‖x_m‖² + d2_m); ‖x_m‖² restores the term the argmin
    // objective dropped. Sum order is fixed 0..m-1 in both engines.
    val err2 = (0 until m).map { mi =>
      graft.functions.VectorExpressions.vec_norm_sq(
        slice(col("embedding"), mi * d + 1, d)) + bests(mi).getField("d2")
    }.reduce(_ + _)
    val x2 = errRef.getOrElse(
      graft.functions.VectorExpressions.vec_norm_sq(col("embedding")))
    df.select(keep :+ packed.as("pq_code") :+
        when(x2 > 0.0,
          floor(lit(10000.0) * greatest(err2, lit(0.0)) / x2).cast("long"))
          .otherwise(0L).as("err_bp"): _*)
  }

  /** q76b: ADC (asymmetric distance computation) kNN over the PQ
    * codes — the search half of product quantization: the corpus side
    * is ONLY the packed 4-bit codes (4 B/vector), never raw vectors;
    * each query builds its per-subspace lookup table row-locally
    * (16 exact per-subspace squared-L2 distances per table, from the
    * same broadcast codebooks), and a candidate's distance is eight
    * array lookups keyed by nibble — at 100 TB this scans a table two
    * orders of magnitude smaller than the float32 store. Queries are
    * dimension-sized and broadcast; ranking is the TopKPerKey bounded
    * heap. `adc_d2_micro` = floor(10⁶·Σ_m ‖q_m − c_{m,code}‖²) — the
    * identical double in both engines, so the whole compressed-search
    * path is exactly oracle-checked. */
  def pqAdcSearch(embeddings: DataFrame, m: Int = 8, dim: Int = 64, k: Int = 16,
                  nQueries: Int = 20, topK: Int = 10): DataFrame = {
    requirePackable(m, k)
    val books = pqCodebooks(embeddings, m, dim, k)
    if (books.headOption.forall(_.isEmpty)) return emptyAdc(embeddings)
    val d = dim / m
    // the repartition is a deliberate stage barrier, not a data move:
    // fused into one stage with the join, the encode expressions fall
    // out of workable codegen and the stage runs 4× slower (measured);
    // in production the codes ARE a persisted table, so this models
    // exactly that scan boundary — the shuffled payload is 12 B/row
    val codes = encodeWithBooks(
        embeddings.select(col("vec_id"), col("embedding")), books, m, d,
        keep = Seq(col("vec_id").as("neighbor_id")))
      .select("neighbor_id", "pq_code")
      .repartition(embeddings.sparkSession.sessionState.conf.numShufflePartitions)
    val q = withAdcLuts(embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding")), books, m, d)
    val scored = broadcast(q.drop("embedding")).crossJoin(codes)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        floor(lit(1000000.0) * adcPairD2(books, m)).cast("long").as("adc_d2_micro"))
    rankAscending(scored, "adc_d2_micro", topK)
  }

  /** attach the per-subspace ADC LUT columns: `__dots$mi` (all 16
    * query·centroid dot products, ONE codegen batch expression) and
    * `__qn$mi` (the query subvector's norm²). The full LUT entry
    * ‖q_m‖² + (‖c‖² − 2·q_m·c) is assembled at LOOKUP time from these
    * plus a 16-double ‖c‖² literal array — two small expression nodes
    * per subspace instead of a 16-entry array of sums, which made
    * per-run analysis+codegen (not the data) the dominant ADC cost. */
  private def withAdcLuts(q0: DataFrame, books: Seq[Seq[Seq[Double]]],
                          m: Int, d: Int): DataFrame = {
    var q = q0
    (0 until m).foreach { mi =>
      val sub = slice(col("embedding"), mi * d + 1, d)
      q = q.withColumn(s"__dots$mi",
          graft.functions.VectorExpressions.vec_cell_dots(sub, books(mi)))
        .withColumn(s"__qn$mi",
          graft.functions.VectorExpressions.vec_norm_sq(sub))
    }
    q
  }

  /** per-subspace column names [[withAdcLuts]] attaches. */
  private def adcLutCols(m: Int): Seq[Column] =
    (0 until m).flatMap(mi => Seq(col(s"__dots$mi"), col(s"__qn$mi")))

  /** candidate ADC distance: m nibble-keyed lookups — same term tree
    * as before (‖q_m‖² + (‖c‖² − 2·q_m·c), summed 0..m-1), so the
    * oracle replay is untouched. */
  private def adcPairD2(books: Seq[Seq[Seq[Double]]], m: Int): Column =
    (0 until m).map { mi =>
      val cn2 = books(mi).map(c => c.map(x => x * x).sum)
      val idx = expr(s"CAST((pq_code DIV ${1L << (4 * mi)}) % 16 AS INT)") + 1
      col(s"__qn$mi") +
        (element_at(typedlit(cn2), idx) -
          lit(2.0) * element_at(col(s"__dots$mi"), idx))
    }.reduce(_ + _)

  /** bounded-heap top-k ascending on `distCol` (tie → neighbor_id),
    * with the rank column and deterministic output order. */
  private def rankAscending(scored: DataFrame, distCol: String, topK: Int): DataFrame =
    graft.plans.TopKPerKey(scored, Seq(col("query_id")),
      Seq(col(distCol).asc, col("neighbor_id").asc), topK)
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col(distCol).asc, col("neighbor_id").asc))
        .cast(org.apache.spark.sql.types.LongType))
      .select("query_id", "neighbor_id", distCol, "rank")
      .orderBy("query_id", "rank")

  /** q77: the full production PQ search — ADC candidate generation
    * over the compressed codes ([[pqAdcSearch]], top-`candidates` per
    * query) followed by an EXACT re-rank: only the candidate rows
    * fetch their raw vectors back (hash join on id — linear in
    * queries×candidates, not the corpus), exact squared-L2, top-k.
    * This is why 4-bit codes suffice at 100 TB: the coarse scan reads
    * 4 B/vector and the expensive float reads touch ~candidates rows
    * per query. Recall@10 ≈ 0.8 at candidates=100 on random vectors
    * (spec-asserted ≥ 0.65 vs exact L2 — random data is quantization's
    * worst case; structured embeddings do better). */
  def pqSearchReranked(embeddings: DataFrame, m: Int = 8, dim: Int = 64,
                       k: Int = 16, nQueries: Int = 20,
                       candidates: Int = 100, topK: Int = 10): DataFrame = {
    val cand = pqAdcSearch(embeddings, m, dim, k, nQueries, candidates)
      .select("query_id", "neighbor_id")
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val vq = graft.functions.VectorExpressions.vec_norm_sq(col("e_q"))
    val vc = graft.functions.VectorExpressions.vec_norm_sq(col("e_c"))
    val scored = cand
      .join(e.select(col("vec_id").as("query_id"), col("embedding").as("e_q")), Seq("query_id"))
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("e_c")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        floor(lit(1000000.0) * (vq + (vc - lit(2.0) * dot(col("e_q"), col("e_c")))))
          .cast("long").as("d2_micro"))
    rankAscending(scored, "d2_micro", topK)
  }

  /** q78: IVF-PQ — the canonical web-scale ANN index, composed from
    * the two models this engine already trains reproducibly: the IVF
    * coarse quantizer restricts candidates to each query's `nProbe`
    * nearest cells (equality join on the cell id — never a full code
    * scan), and the PQ codes give the candidate distances via the ADC
    * LUTs. The corpus-side index is (cell, 4-bit codes) per vector —
    * at 100 TB it is persisted partitioned by cell so a probe reads
    * only its cells' files; raw vectors are touched by NOTHING in this
    * query (re-rank composes on top exactly as in q77). Output ranks
    * by the floored ADC micro distance; both models and the whole
    * probe/score path replay exactly in the oracle. */
  /** The persistable IVF-PQ INDEX: one (vec_id, cell, pq_code) row per
    * vector, from ONE corpus scan (cell assignment and codes are both
    * row-local against the broadcast models). Deployments write this
    * `partitionBy("cell")` — a q78-style probe then reads only its
    * probed cells' files (partition pruning, spec-proven) and the
    * float32 store is never touched at search time. */
  def buildIvfPqIndex(embeddings: DataFrame, nCells: Int = 16,
                      m: Int = 8, dim: Int = 64, k: Int = 16): DataFrame = {
    requirePackable(m, k)
    val cents = ivfCentroids(embeddings, nCells)
    val books = pqCodebooks(embeddings, m, dim, k)
    if (cents.isEmpty || books.headOption.forall(_.isEmpty)) {
      import org.apache.spark.sql.types._
      return embeddings.sparkSession.createDataFrame(
        embeddings.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("vec_id", LongType),
          StructField("cell", IntegerType), StructField("pq_code", LongType))))
    }
    ivfPqIndexFor(embeddings, cents, books, m, dim / m)
  }

  private def ivfPqIndexFor(embeddings: DataFrame, cents: Seq[Seq[Double]],
                            books: Seq[Seq[Seq[Double]]], m: Int, d: Int): DataFrame = {
    val (eScored, _, best) = withCellScores(withNorm(embeddings), cents)
    encodeWithBooks(
        eScored.withColumn("cell", best.getField("cell")),
        books, m, d, keep = Seq(col("vec_id"), col("cell")))
      .select("vec_id", "cell", "pq_code")
  }

  def knnIvfPq(embeddings: DataFrame, nCells: Int = 16, nProbe: Int = 6,
               m: Int = 8, dim: Int = 64, k: Int = 16,
               nQueries: Int = 20, topK: Int = 10): DataFrame = {
    requirePackable(m, k)
    val cents = ivfCentroids(embeddings, nCells)
    val books = pqCodebooks(embeddings, m, dim, k)
    if (cents.isEmpty || books.headOption.forall(_.isEmpty)) return emptyAdc(embeddings)
    val d = dim / m
    val (eScored, scores, _) = withCellScores(withNorm(embeddings), cents)
    // the index shape is [[buildIvfPqIndex]] (same models, one scan).
    // The repartition is the same stage barrier as in [[pqAdcSearch]]:
    // it keeps the cell/encode expressions out of the probe join's
    // codegen stage and models the persisted-index scan boundary
    val index = ivfPqIndexFor(embeddings, cents, books, m, d)
      .withColumnRenamed("vec_id", "neighbor_id")
      .repartition(embeddings.sparkSession.sessionState.conf.numShufflePartitions)
    // query side: LUTs first (once per query), then the probe fan-out
    val probeCells = slice(reverse(array_sort(array(scores: _*))), 1, nProbe)
      .getField("cell")
    val probes = withAdcLuts(
        eScored.filter(col("vec_id") < nQueries), books, m, d)
      .select(col("vec_id").as("query_id") +:
        adcLutCols(m) :+
        explode(probeCells).as("cell"): _*)
    val scored = broadcast(probes).join(index, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        floor(lit(1000000.0) * adcPairD2(books, m)).cast("long").as("adc_d2_micro"))
    rankAscending(scored, "adc_d2_micro", topK)
  }

  /** residual frame: per vector, its IVF cell and the DOUBLE residual
    * x − centroid(cell) standing in the `embedding` column, plus the
    * ORIGINAL ‖x‖² (`__x2`) for fidelity reporting. Row-local against
    * the broadcast centroid matrix — one scan, zero exchanges. The
    * float→double subtraction is exact (float widens losslessly), so
    * the DuckDB replay lands on identical residual doubles. */
  private def residualFrame(embeddings: DataFrame, cents: Seq[Seq[Double]]): DataFrame = {
    val (eScored, _, best) = withCellScores(withNorm(embeddings), cents)
    val centLit = typedlit(cents.map(_.toIndexedSeq).toIndexedSeq)
    eScored
      .withColumn("cell", best.getField("cell"))
      .withColumn("__x2",
        graft.functions.VectorExpressions.vec_norm_sq(col("embedding")))
      // centroid TRUNCATED to the row's length: zip_with pads the
      // shorter side with null, and a null-padded residual would feed
      // nulls into the primitive-getter vector kernels downstream — a
      // short row must keep the flat family's defined short-row
      // semantics (residual over the components that exist), matching
      // the oracle's positional rebuild
      .withColumn("embedding",
        zip_with(col("embedding"),
          slice(element_at(centLit, col("cell") + 1), lit(1), size(col("embedding"))),
          (x, c) => x - c))
      .select("vec_id", "cell", "embedding", "__x2")
  }

  /** q81: RESIDUAL product quantization under the IVF layout (the
    * IVFADC composition of Jégou et al.): each vector is assigned its
    * coarse cell, and PQ encodes the residual x − centroid(cell)
    * instead of x itself. Residual energy ≪ vector energy once the
    * coarse quantizer has soaked up the cell mean, so the SAME 4-bit
    * budget (one BIGINT per vector) spends its codes on a tighter
    * distribution — err_bp (still relative to the ORIGINAL ‖x‖², so
    * directly comparable with q76's column) drops accordingly; the
    * measured comparison lives in SURVEY §7. Output is the persistable
    * residual index (vec_id, cell, pq_code, err_bp): partitionBy(cell)
    * gives the q78 pruning layout with residual-grade fidelity. Both
    * models train on bounded hash-ordered samples with quantized-
    * integer Lloyd means, so the whole pipeline — cell, residual,
    * codebooks, codes, error — replays bit-exactly in the oracle. */
  def pqResidualEncode(embeddings: DataFrame, nCells: Int = 16, m: Int = 8,
                       dim: Int = 64, k: Int = 16): DataFrame = {
    requirePackable(m, k)
    val cents = ivfCentroids(embeddings, nCells)
    if (cents.isEmpty) return emptyResidualIndex(embeddings.sparkSession)
    val (_, books) = rpqModels(embeddings, cents, m, dim, k)
    pqResidualEncodeWithModel(embeddings, cents, books, m, dim).orderBy("vec_id")
  }

  /** the q81 model pair for a trained coarse quantizer: residual
    * codebooks are trained ON THE RESIDUALS (that is the whole point —
    * the code budget adapts to the post-coarse distribution). Exposed
    * so deployments/streams can freeze and reuse the pair. */
  def rpqModels(embeddings: DataFrame, cents: Seq[Seq[Double]], m: Int = 8,
                dim: Int = 64, k: Int = 16): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) =
    (cents, pqCodebooks(residualFrame(embeddings, cents), m, dim, k))

  /** model-driven residual encode for PRE-TRAINED models — the frozen
    * shape a deployment (and the only shape a STREAM) uses: cell
    * assignment, residual subtraction and code assignment are all
    * stateless row-local expressions against the broadcast models, so
    * this runs unchanged on a readStream frame (graft.streaming
    * .VecStreams.rpqEncodeStream, spec-equal to the batch q81). */
  def pqResidualEncodeWithModel(embeddings: DataFrame, cents: Seq[Seq[Double]],
                                books: Seq[Seq[Seq[Double]]],
                                m: Int = 8, dim: Int = 64): DataFrame = {
    require(cents.nonEmpty, "empty centroid model: train on a non-empty corpus")
    require(books.size == m && dim % m == 0, s"need $m codebooks for dim $dim")
    require(books.forall(_.nonEmpty), "empty codebook: train on a non-empty corpus")
    requirePackable(m, books.map(_.size).max.max(2))
    encodeWithBooks(residualFrame(embeddings, cents), books, m, dim / m,
      keep = Seq(col("vec_id"), col("cell").cast("long").as("cell")),
      errRef = Some(col("__x2")))
  }

  /** q81b: IVF search over the RESIDUAL codes — the full IVFADC query
    * path: each (query, probed cell) pair builds its ADC LUTs on the
    * query's OWN residual against that cell (q − centroid(cell)), so a
    * candidate's ADC distance approximates ‖q − (centroid + r̂)‖² — the
    * true distance to the candidate's reconstruction. Same probe
    * fan-out, stage barrier, broadcast and bounded-heap shape as q78;
    * only the geometry the codes live in changed. */
  def knnIvfRpq(embeddings: DataFrame, nCells: Int = 16, nProbe: Int = 6,
                m: Int = 8, dim: Int = 64, k: Int = 16,
                nQueries: Int = 20, topK: Int = 10): DataFrame = {
    requirePackable(m, k)
    val cents = ivfCentroids(embeddings, nCells)
    if (cents.isEmpty) return emptyAdc(embeddings)
    val d = dim / m
    val res = residualFrame(embeddings, cents)
    val books = pqCodebooks(res, m, dim, k)
    if (books.headOption.forall(_.isEmpty)) return emptyAdc(embeddings)
    val index = encodeWithBooks(res, books, m, d,
        keep = Seq(col("vec_id").as("neighbor_id"), col("cell")))
      .select("neighbor_id", "cell", "pq_code")
      .repartition(embeddings.sparkSession.sessionState.conf.numShufflePartitions)
    val (eScored, scores, _) = withCellScores(withNorm(embeddings), cents)
    val probeCells = slice(reverse(array_sort(array(scores: _*))), 1, nProbe)
      .getField("cell")
    val centLit = typedlit(cents.map(_.toIndexedSeq).toIndexedSeq)
    // per (query, probed cell): the query's residual in THAT cell's
    // frame, then the standard LUT columns over it
    val qres = eScored.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding"),
        explode(probeCells).as("cell"))
      .withColumn("embedding",
        zip_with(col("embedding"), element_at(centLit, col("cell") + 1),
          (x, c) => x - c))
    val probes = withAdcLuts(qres, books, m, d)
      .select(col("query_id") +: col("cell") +: adcLutCols(m): _*)
    val scored = broadcast(probes).join(index, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        floor(lit(1000000.0) * adcPairD2(books, m)).cast("long").as("adc_d2_micro"))
    rankAscending(scored, "adc_d2_micro", topK)
  }

  /** q82: INDEX MAINTENANCE — the apply step that keeps a persisted
    * IVFADC index alive as the corpus grows, completing the lifecycle
    * (build q81 → search q81b → persist/catalog → MAINTAIN). New
    * arrivals are encoded with the FROZEN model pair (the deployment
    * invariant: retraining would silently re-key every existing code,
    * so codebooks only change on an explicit rebuild) and merged into
    * the cell-partitioned index through the partition-scoped writer —
    * dynamic partition overwrite rewrites ONLY the cells the batch
    * lands in and leaves every other cell's files physically untouched
    * (spec-proven). At 100 TB that is the difference between an index
    * you can update nightly and one you rebuild: the rewrite is
    * O(touched cells), the encode is one row-local scan of the BATCH.
    *
    * The batch here is derived deterministically so the oracle can
    * replay it (new ids at `idOffset`, reversed vectors — reversal
    * preserves none of the subspace structure, so the new vectors
    * exercise real re-encoding, while list_reverse replays it
    * exactly in SQL). Inserts only, by contract: a re-embedded
    * EXISTING key may change coarse cell, which the partitioned
    * merge's stable-partition precondition forbids — a cell move is a
    * delete+insert pair (two merges), exactly as in any partitioned
    * MERGE. The streaming twin of the encode half is
    * [[graft.streaming.VecStreams.rpqEncodeStream]]; this is the batch
    * apply of that feed.
    *
    * Reference analogue: the register-or-update push-back loops
    * (/root/reference/src/neuron_morphology/morphology_registration.py)
    * — arrivals merged into a persisted store keyed by id — applied to
    * the ANN index artifact. */
  def indexUpsertApply(spark: org.apache.spark.sql.SparkSession, embeddings: DataFrame,
                       nCells: Int = 16, m: Int = 8, dim: Int = 64, k: Int = 16,
                       deltaCount: Int = 500, idOffset: Long = 1000000L): DataFrame = {
    requirePackable(m, k)
    val cents = ivfCentroids(embeddings, nCells)
    if (cents.isEmpty) return emptyResidualIndex(spark)
    val (_, books) = rpqModels(embeddings, cents, m, dim, k)
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_upsert_").toString + "/index"
    pqResidualEncodeWithModel(embeddings, cents, books, m, dim)
      .hint("rebalance", "cell") // ≈1 file per cell, not tasks × cells
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val delta = embeddings.filter(col("vec_id") < deltaCount)
      .select((col("vec_id") + idOffset).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
    MergeWriter.applyToPartitioned(spark, dir,
      pqResidualEncodeWithModel(delta, cents, books, m, dim), "vec_id", "cell")
    graft.Tables.read(spark, dir)
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("pq_code"), col("err_bp"))
      .orderBy("vec_id")
  }

  /** empty (vec_id, cell, pq_code, err_bp) frame — the defined
    * residual-index state over an empty corpus (no model to train);
    * shared by q81 and q82 so their empty schemas cannot drift. */
  private def emptyResidualIndex(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("cell", LongType), StructField("pq_code", LongType),
        StructField("err_bp", LongType))))
  }

  /** empty (query_id, neighbor_id, adc_d2_micro, rank) frame — the
    * defined ADC-family result over an empty corpus (no model). */
  private def emptyAdc(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    embeddings.sparkSession.createDataFrame(
      embeddings.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("query_id", LongType),
        StructField("neighbor_id", LongType),
        StructField("adc_d2_micro", LongType), StructField("rank", LongType))))
  }

  /** empty (query_id, neighbor_id, cos_bp, rank) frame — the defined
    * ANN result over an empty corpus (no centroids → no candidates). */
  private def emptyKnn(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("query_id", LongType), StructField("neighbor_id", LongType),
        StructField("cos_bp", LongType), StructField("rank", LongType))))
  }

  /** q36b: ANN via IVF. Corpus vectors live in their nearest cell;
    * each query probes its `nProbe` nearest cells (sorted centroid
    * scores, query-side-only fan-out), so recall degrades gracefully
    * instead of cliff-dropping when a true neighbor sits just across a
    * cell boundary. Candidates still come from an equality join on the
    * cell id — the linear shape that replaces the quadratic cross join
    * at scale. */
  def knnIvf(embeddings: DataFrame, nCells: Int = 16,
             nQueries: Int = 20, k: Int = 10, nProbe: Int = 6): DataFrame = {
    val cents = ivfCentroids(embeddings, nCells)
    if (cents.isEmpty) return emptyKnn(embeddings.sparkSession)
    val (e, scores, best) = withCellScores(withNorm(embeddings), cents)
    val c = e.withColumn("cell", best.getField("cell"))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("e_c"),
        col("norm").as("n_c"), col("cell"))
    // top-nProbe cells: sort the (score, cell) structs descending by
    // score and take the head slice — array builtins, row-local.
    val probeCells = slice(reverse(array_sort(array(scores: _*))), 1, nProbe)
      .getField("cell")
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("e_q"),
        col("norm").as("n_q"), explode(probeCells).as("cell"))
    val scored = q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c"))).as("cosine"))
    rankTopK(scored, k)
  }

  /** q36c: METADATA-FILTERED ANN — the filtered serving shape every
    * vector deployment actually runs ("nearest docs IN MY LANGUAGE"):
    * q36b's cell-pruned search with a metadata predicate — the
    * neighbor's `lang` must equal the query's — applied POST-probe,
    * inside the probed cells (the standard filtered-ANN trade: a
    * pre-filter would need a per-language index; post-filter reuses
    * the one index and may return < k when the filter is selective —
    * stated, spec-pinned).
    *
    * Scale shape: metadata joins are linear equi-joins on the id —
    * the corpus side picks up `lang` ONCE beside its cell assignment,
    * the query side beside its probe list; candidates are still the
    * cell equality join; the filter drops rows BEFORE the bounded-heap
    * top-k election. Nothing quadratic, nothing new shuffles. */
  def knnIvfFiltered(embeddings: DataFrame, docs: DataFrame, nCells: Int = 16,
                     nQueries: Int = 20, k: Int = 10, nProbe: Int = 6): DataFrame = {
    val cents = ivfCentroids(embeddings, nCells)
    if (cents.isEmpty) return emptyKnn(embeddings.sparkSession)
      .withColumn("lang", lit(null).cast("string"))
      .select("query_id", "lang", "neighbor_id", "cos_bp", "rank")
    val meta = docs.select(col("doc_id"), col("lang"))
    val (e, scores, best) = withCellScores(withNorm(embeddings), cents)
    val c = e.withColumn("cell", best.getField("cell"))
      .join(meta, col("vec_id") === col("doc_id"))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("e_c"),
        col("norm").as("n_c"), col("cell"), col("lang").as("lang_c"))
    val probeCells = slice(reverse(array_sort(array(scores: _*))), 1, nProbe)
      .getField("cell")
    val q = e.filter(col("vec_id") < nQueries)
      .join(meta, col("vec_id") === col("doc_id"))
      .select(col("vec_id").as("query_id"), col("embedding").as("e_q"),
        col("norm").as("n_q"), col("lang"), explode(probeCells).as("cell"))
    val scored = q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id")
        && col("lang") === col("lang_c"))
      .select(col("query_id"), col("lang"), col("neighbor_id"),
        (dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c"))).as("cosine"))
    val top = graft.plans.TopKPerKey(scored,
      Seq(col("query_id")), Seq(col("cosine").desc, col("neighbor_id")), k)
    top.withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .select(col("query_id"), col("lang"), col("neighbor_id"),
        cosBp(col("cosine")),
        col("rank").cast(org.apache.spark.sql.types.LongType).as("rank"))
      .orderBy("query_id", "rank")
  }

  /** q61: SEMANTIC dedup report — the banded embedding near-dup pairs
    * (q34's candidate discipline: LSH buckets, never all-pairs) joined
    * back to document metadata on both sides. This is the screen the
    * lexical family cannot do: paraphrases share no n-grams but sit
    * close in embedding space, and a pair with different `lang` values
    * is a translation candidate. `lexical_dup` flags which semantic
    * pairs the fingerprint dedup would ALSO have caught — the report's
    * value is precisely the rows where it is false. Two metadata joins
    * on doc id over the (small) pair frame; linear at any corpus size. */
  def semanticDedupReport(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    val meta = docs.select(col("doc_id"), col("lang"),
      TextAnalysis.fingerprintCol(col("text")).as("fp"))
    nearDupPairsBanded(embeddings)
      .join(meta.select(col("doc_id").as("id_a"), col("lang").as("lang_a"),
        col("fp").as("fp_a")), Seq("id_a"))
      .join(meta.select(col("doc_id").as("id_b"), col("lang").as("lang_b"),
        col("fp").as("fp_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("cos_bp"),
        col("lang_a"), col("lang_b"),
        (col("lang_a") =!= col("lang_b")).as("cross_lang"),
        (col("fp_a") === col("fp_b")).as("lexical_dup"))
      .orderBy("id_a", "id_b")
  }

  /** q69: SEMANTIC OUTLIERS per label group — the k vectors farthest
    * (lowest cosine) from their own group's centroid: mislabeled /
    * off-topic / garbage embeddings, the vector-space twin of the
    * q53 Tukey-fence screen.
    *
    * The centroid is built EXACTLY so the report hash-compares across
    * engines: components are floor-quantized to 10⁻⁶ (floor, not
    * round — identical in Java and DuckDB for every sign) and summed
    * as BIGINTs (associative — no float-order dependence), via
    * posexplode + a map-side-combined (label, pos) aggregate whose
    * output is dimension-sized (|labels| × dim). Cosine is
    * scale-invariant, so the UNNORMALIZED component-sum serves as the
    * centroid directly — no division, no floor-vs-truncate parity
    * risk. The per-row cosine then runs on the codegen vec kernels
    * against the broadcast centroid (sequential double folds — bitwise
    * equal in both engines, the q34/q35 discipline), and the bottom-k
    * election is the TopKPerKey bounded heap, never a full sort.
    * Output score in floor'd basis points; ties broken by vec_id. */
  def labelCentroidOutliers(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val sums = embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("q", floor(col("v").cast("double") * lit(1000000.0)).cast("long"))
      .groupBy("label", "pos").agg(sum(col("q")).as("s"))
    val cents = sums.groupBy("label")
      // dimension-sized frame: the interpreted HOF here touches
      // |labels| rows, not data-scale rows
      .agg(expr("transform(array_sort(collect_list(struct(pos, s))), x -> CAST(x.s AS DOUBLE))")
        .as("centroid"))
    val vn = graft.functions.VectorExpressions.vec_norm_sq(col("embedding"))
    val cn = graft.functions.VectorExpressions.vec_norm_sq(col("centroid"))
    val scored = embeddings.join(broadcast(cents), Seq("label"))
      .filter(vn > 0.0 && cn > 0.0)
      .withColumn("cos_bp",
        floor(lit(10000.0) * dot(col("embedding"), col("centroid"))
          / sqrt(vn * cn)).cast("long"))
    graft.plans.TopKPerKey(scored, Seq(col("label")),
      Seq(col("cos_bp").asc, col("vec_id").asc), k)
      .select(col("vec_id"), col("label").cast("long").as("label"), col("cos_bp"))
      .orderBy("label", "vec_id")
  }

  /** all XOR masks of hamming weight ≤ radius — the multi-probe set. */
  private def probeMasks(nPlanes: Int, radius: Int): Seq[Int] =
    (0 until (1 << nPlanes)).filter(Integer.bitCount(_) <= radius)

  /** q36: ANN top-k via random-hyperplane LSH — candidates come from an
    * equality join on the bucket id (shuffle on a small int key; at
    * 100 TB this replaces the quadratic cross join).
    *
    * Recall comes from two knobs working together: `nTables`
    * independent plane sets, and multi-probe — each query probes every
    * bucket within `probeRadius` sign flips of its own, so a query in a
    * singleton bucket still sees nearby candidates instead of silently
    * returning nothing. Only the query side fans out
    * (×nTables×Σ C(nPlanes,≤r)); the candidate side stays nTables rows
    * per corpus vector, so the join input grows with queries, not the
    * corpus. A pair found by several tables is deduped on its identical
    * exact-double cosine before ranking. */
  def knnLsh(embeddings: DataFrame, nPlanes: Int = 8, dim: Int = 64,
             nQueries: Int = 20, k: Int = 10,
             nTables: Int = 8, probeRadius: Int = 2): DataFrame = {
    val e = withNorm(embeddings).select(col("vec_id"), col("embedding"), col("norm"))
    val masks = probeMasks(nPlanes, probeRadius)
    // per-table buckets in one projection; the candidate join is ONE
    // shuffle on the composite (table, bucket) key across all tables.
    val b = e.select(col("vec_id"), col("embedding"), col("norm"),
      posexplode(tableBucketsCol(col("embedding"), bandedPlanes(nTables, nPlanes, dim))))
      .withColumnRenamed("pos", "table")
      .withColumnRenamed("col", "bucket")
    val probed = b.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("e_q"),
        col("norm").as("n_q"), col("table"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val c = b.select(col("vec_id").as("neighbor_id"), col("embedding").as("e_c"),
      col("norm").as("n_c"), col("table"), col("bucket"))
    val scored = probed.join(c, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c"))).as("cosine"))
      .distinct()
    rankTopK(scored, k)
  }

  /** cluster assignment under the frozen bit-reproducible k-means
    * model ([[ivfCentroids]]: md5-ordered bounded sample, driver-side
    * Lloyd) — the q36b nearest-cell argmax with the SCORE kept: every
    * vector gets its cell plus the exact basis-point cosine to that
    * centroid. One row-local scan against the broadcast centroid
    * matrix; ties follow `greatest`-struct semantics (score tie → the
    * larger cell index), identical to the corpus assignment every
    * IVF oracle replays. */
  def clusterAssign(embeddings: DataFrame, nCells: Int = 16): DataFrame =
    clusterAssignWithModel(embeddings, ivfCentroids(embeddings, nCells))

  /** the WithModel empty-model contract: an empty frozen model is
    * legal ONLY for an empty corpus (the train-in-place compositions
    * hit this when there was nothing to train on); for a non-empty
    * corpus it means a missing/corrupt model artifact — fail with the
    * cause instead of silently fabricating cell-0 labels. */
  private def emptyModelFrame(embeddings: DataFrame, fn: String,
                              empty: => DataFrame): DataFrame = {
    require(embeddings.isEmpty, s"$fn: empty model for a non-empty " +
      "corpus — train with ivfCentroids/pqCodebooks on release data")
    empty
  }

  /** the assignment half under an externally-frozen model — row-local
    * expressions only, so the SAME function serves the batch operators
    * and the ingest-time stream twin (VecStreams.clusterAssignStream)
    * and the two cannot drift. */
  def clusterAssignWithModel(embeddings: DataFrame,
                             cents: Seq[Seq[Double]]): DataFrame = {
    val e = withNorm(embeddings)
    if (cents.isEmpty)
      return emptyModelFrame(embeddings, "clusterAssignWithModel",
        e.select(col("vec_id"), lit(0L).as("cell"), lit(0L).as("cos_bp")))
    val (withDots, _, best) = withCellScores(e, cents)
    withDots.select(col("vec_id"),
      best.getField("cell").cast("long").as("cell"),
      cosBp(best.getField("score")))
  }

  /** q104: CLUSTER CARDS — the corpus-composition audit of
    * cluster-based curation (the SemDeDup / DCLM shape: bucket the
    * corpus by embedding k-means, then prune, balance or reweight per
    * cluster; the reference's dashboards slice corpora the same way
    * by curated metadata). Per cluster: doc count, language spread
    * and modal language (deterministic election — count desc, lang
    * asc), total chars, and mean centroid-cosine coherence in basis
    * points (integer sum of per-row cos_bp, truncating division — no
    * float-order dependence, the q69 centroid discipline).
    *
    * Scale shape: the model is driver-trained on the bounded sample
    * and rides broadcast; assignment is ONE row-local corpus scan;
    * the metadata join is a doc-keyed equi-join (AQE-splittable);
    * both rollups combine map-side and the output is nCells-sized. */
  def clusterCards(docs: DataFrame, embeddings: DataFrame,
                   nCells: Int = 16): DataFrame =
    clusterCardsWithModel(docs, embeddings, ivfCentroids(embeddings, nCells))

  /** q104 under an externally-frozen model (the deployment shape: one
    * training per release, many card refreshes). */
  def clusterCardsWithModel(docs: DataFrame, embeddings: DataFrame,
                            cents: Seq[Seq[Double]]): DataFrame = {
    val a = clusterAssignWithModel(embeddings, cents)
    val d = docs.select(col("doc_id"), col("lang"), col("n_chars"))
    val perLang = a.join(d, a("vec_id") === d("doc_id"))
      .groupBy(col("cell"), col("lang"))
      .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("chars"),
        sum(col("cos_bp")).as("cos_sum"))
    perLang.groupBy(col("cell"))
      .agg(sum(col("cnt")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        min(struct((-col("cnt")).as("nc"), col("lang").as("lang")))
          .getField("lang").as("top_lang"),
        sum(col("chars")).as("total_chars"),
        expr("sum(cos_sum) div sum(cnt)").as("coherence_bp"))
      .orderBy("cell")
  }

  /** q104c: SEMANTIC DEDUP WITHIN CELLS — the SemDeDup shape (Abbas
    * et al. 2023: k-means the embedding space, then compare pairs ONLY
    * within a cluster and drop all but one of each near-identical
    * group): doc i is dropped iff a smaller-id doc j in the SAME cell
    * has cosine ≥ τ; the report carries every doc's verdict with the
    * smallest such j (`dup_of`) and the strongest in-cell match.
    * The min-id rule makes the kept set deterministic and
    * prefix-stable (the smallest id of every duplicate chain is always
    * kept); like q36-vs-q35, the cell restriction is the stated recall
    * trade — a near-dup pair split across cells is not dropped (q61's
    * banded LSH is the cross-cell screen).
    *
    * Scale shape: the in-cell pair join is quadratic per cell, so a
    * broadcast-back cell-size guard (the q67 block discipline) fails
    * fast when a cell exceeds `maxCell` — raise nCells (finer
    * partition of the space), don't remove the guard. The pair join is
    * a cell-keyed equi-join (never a cartesian); the verdict join-back
    * is id-keyed and AQE-splittable. */
  def semanticDedupCells(embeddings: DataFrame, nCells: Int = 16,
                         tauBp: Long = 4500L, maxCell: Int = 10000): DataFrame =
    semanticDedupCellsWithModel(embeddings,
      ivfCentroids(embeddings, nCells), tauBp, maxCell)

  /** q104c under an externally-frozen model. */
  def semanticDedupCellsWithModel(embeddings: DataFrame,
                                  cents: Seq[Seq[Double]],
                                  tauBp: Long = 4500L,
                                  maxCell: Int = 10000): DataFrame = {
    require(maxCell >= 1, s"maxCell must be >= 1, got $maxCell")
    val e0 = withNorm(embeddings)
    if (cents.isEmpty)
      return emptyModelFrame(embeddings, "semanticDedupCellsWithModel",
        e0.select(col("vec_id"), lit(0L).as("cell"), lit(true).as("keep"),
          lit(null).cast("long").as("dup_of"), lit(null).cast("long").as("max_cos_bp")))
    val (withDots, _, best) = withCellScores(e0, cents)
    val e = withDots.select(col("vec_id"), col("embedding"), col("norm"),
      best.getField("cell").cast("long").as("cell"))
    // dimension-sized (one row per cell); assert_true throws on the
    // first oversized cell — in-cell cost is quadratic by design
    val sizes = e.groupBy("cell").agg(count(lit(1)).as("__cn"))
    val guarded = e.join(broadcast(sizes), Seq("cell"))
      .filter(assert_true(col("__cn") <= maxCell,
        concat(lit(s"semanticDedupCells: a cell exceeds maxCell=$maxCell ("),
          col("__cn"),
          lit(" vectors share one cell); in-cell cost is quadratic — " +
            "raise nCells for a finer partition, or raise maxCell"))).isNull)
    val a = guarded.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("e_a"), col("norm").as("n_a"))
    val b = e.select(col("cell").as("cell_b"), col("vec_id").as("id_b"),
      col("embedding").as("e_b"), col("norm").as("n_b"))
    // LEFT join keeps every corpus row (a cell-minimum vector has no
    // smaller in-cell partner), so the verdict falls out of the SAME
    // pair aggregation via null-skipping conditional min/max — no
    // corpus-sized verdict join-back, no extra assignment scan
    a.join(b, a("cell") === b("cell_b") && col("id_b") < col("id_a"), "left")
      .withColumn("__cos",
        cosBp(dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b"))))
      .groupBy(col("id_a"), col("cell"))
      .agg(min(when(col("__cos") >= tauBp, col("id_b"))).as("dup_of"),
        max(when(col("__cos") >= tauBp, col("__cos"))).as("max_cos_bp"))
      .select(col("id_a").as("vec_id"), col("cell"),
        col("dup_of").isNull.as("keep"), col("dup_of"), col("max_cos_bp"))
      .orderBy("vec_id")
  }

  /** q104b: CLUSTER-BALANCED SAMPLE — the per-cluster cap that turns
    * the q104 composition into a balanced subset (the pruning step of
    * cluster-based curation: a mega-cluster of boilerplate must not
    * dominate the training mix): per cell the `perCell` vectors
    * smallest under the cross-engine md5-60 draw order — a
    * deterministic uniform draw both engines replay. Election is the
    * bounded-heap TopKPerKey (map-side partial — the mega-cluster
    * never serializes through one task); the residual rank window
    * sees ≤ perCell rows per cell. */
  def clusterSample(embeddings: DataFrame, nCells: Int = 16,
                    perCell: Int = 20): DataFrame =
    sampleFromAssign(clusterAssign(embeddings, nCells), perCell)

  /** q104b under an externally-frozen model. */
  def clusterSampleWithModel(embeddings: DataFrame, cents: Seq[Seq[Double]],
                             perCell: Int = 20): DataFrame =
    sampleFromAssign(clusterAssignWithModel(embeddings, cents), perCell)

  /** the q104b election over any frame carrying (vec_id, cell,
    * cos_bp) — ONE definition serves the standalone operator and the
    * vecReport view, so the two cannot drift. */
  private def sampleFromAssign(a: DataFrame, perCell: Int): DataFrame = {
    val drawn = a.select(col("vec_id"), col("cell"), col("cos_bp"))
      .withColumn("draw",
        Dedup.md5_60(concat(lit("csample:"), col("vec_id").cast("string"))))
    val top = graft.plans.TopKPerKey(drawn, Seq(col("cell")),
      Seq(col("draw").asc, col("vec_id").asc), perCell)
    val w = Window.partitionBy("cell").orderBy(col("draw"), col("vec_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("cell"), col("rank"), col("vec_id"), col("cos_bp"))
      .orderBy("cell", "rank")
  }

  /** the synthetic "next release" of the embedding store (the vector
    * twin of Curation.releaseView, shared with the q106 oracle):
    * every 13th vector is removed, every 7th surviving vector's
    * embedding is reversed (norm-preserving, so coherence drift is
    * purely directional). Deterministic and exactly replayable. */
  def vecReleaseView(embeddings: DataFrame): DataFrame =
    embeddings.filter(pmod(col("vec_id"), lit(13)) =!= 0)
      .withColumn("embedding",
        when(pmod(col("vec_id"), lit(7)) === 0, reverse(col("embedding")))
          .otherwise(col("embedding")))

  /** the q129 inventory fixture: the synthetic store is perfectly
    * healthy, so the audit over it is all-pass — this deterministic
    * CORRUPTION view (vec_id % 101 → zeroed vector, % 103 → NaN in
    * position 0, % 107 → truncated to 4 dims; first matching rule
    * wins) gives every failure column real mass, the q108/q66/q124
    * injected-fixture discipline, mirrored literally in the oracle.
    * The operator takes any (label, embedding) frame. */
  def vecCorruptView(embeddings: DataFrame): DataFrame =
    embeddings.withColumn("embedding",
      when(pmod(col("vec_id"), lit(101)) === 0,
          expr("transform(embedding, x -> CAST(0.0 AS FLOAT))"))
        .when(pmod(col("vec_id"), lit(103)) === 0,
          expr("transform(embedding, (x, i) -> " +
            "CASE WHEN i = 0 THEN CAST('NaN' AS FLOAT) ELSE x END)"))
        .when(pmod(col("vec_id"), lit(107)) === 0, expr("slice(embedding, 1, 4)"))
        .otherwise(col("embedding")))

  /** the q129 per-vector verdicts in append-free projection form —
    * shared by the label rollup and the ingest-door gate
    * ([[graft.streaming.VecStreams.vectorHealthLookup]]), so the two
    * cannot drift. Pure row-local. */
  private[graft] def withHealthCols(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("*"),
        col("embedding").isNull.as("is_null"),
        // NULL-guarded: with ANSI off, size(NULL) is the legacy −1
        // sentinel, which would leak into min_dim as a fake dimension
        // and diverge from the oracle's NULL-skipping MIN — exactly
        // the input class this health card exists to catch
        when(col("embedding").isNull, lit(null))
          .otherwise(size(col("embedding"))).cast("long").as("dim"),
        expr("coalesce(exists(embedding, x -> isnan(x) OR abs(x) = CAST('Infinity' AS FLOAT)), false)")
          .as("has_nonfinite"),
        expr("coalesce(NOT exists(embedding, x -> x <> CAST(0.0 AS FLOAT) OR isnan(x)), false)")
          .as("is_zero"))

  /** q129: VECTOR STORE HEALTH — the validation card a deployment runs
    * before trusting an embedding store (the vector twin of q21's
    * schema validation): per label, the vectors that would poison
    * downstream similarity math — NULL embeddings, all-zero vectors
    * (cosine undefined: zero norm), non-finite components (NaN/Inf
    * propagate through every dot product), and dimension drift
    * (min/max observed dims — a truncated vector silently breaks
    * ADC/codebook indexing long before it errors). Every verdict is an
    * integer count, exact in both engines; the norm itself (a float)
    * never ships.
    *
    * Scale shape: pure row-local predicates over one scan + one
    * map-side-combined label rollup to dimension-sized output — no
    * join, no window. NaN compares under both engines' total float
    * order (NaN ≠ 0 holds in each), so the zero/NaN verdicts agree
    * exactly. */
  def vectorHealth(embeddings: DataFrame): DataFrame =
    withHealthCols(embeddings)
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("is_null"), 1L).otherwise(0L)).as("n_null"),
        sum(when(col("is_zero"), 1L).otherwise(0L)).as("n_zero"),
        sum(when(col("has_nonfinite"), 1L).otherwise(0L)).as("n_nonfinite"),
        min(col("dim")).as("min_dim"), max(col("dim")).as("max_dim"))
      .withColumn("healthy",
        col("n_null") + col("n_zero") + col("n_nonfinite") === 0L
          && col("min_dim") === col("max_dim"))
      .orderBy("label")

  /** q106: CLUSTER DRIFT between corpus releases — the release-audit
    * the q64 doc diff cannot see (a re-embedded doc with unchanged
    * text moves in vector space): per cell of ONE frozen model (drift
    * is only well-defined when both releases are assigned under the
    * SAME centroids — the frozen-model discipline), the A/B member
    * counts, how many A members departed (removed or moved cells),
    * how many B members arrived (new or moved in), and both releases'
    * integer mean coherence. A cell whose count collapses or whose
    * coherence drops is where the new release's embedding or corpus
    * change concentrated.
    *
    * Scale shape: two frozen-model row-local assignment scans, one
    * vec_id-keyed full-outer join (AQE-splittable), two map-side
    * rollups, one nCells-sized join. */
  def clusterDrift(embA: DataFrame, embB: DataFrame,
                   cents: Seq[Seq[Double]]): DataFrame = {
    val a = clusterAssignWithModel(embA, cents)
      .select(col("vec_id"), col("cell").as("cell_a"), col("cos_bp").as("cos_a"))
    val b = clusterAssignWithModel(embB, cents)
      .select(col("vec_id"), col("cell").as("cell_b"), col("cos_bp").as("cos_b"))
    // materialize the assignment join ONCE (5 narrow columns per
    // vector): both per-cell rollups consume it, and the
    // un-materialized reuse re-ran both assignment scans + the
    // full-outer join per side (the r19 re-derivation finding).
    // CAVEAT at deployment scale: localCheckpoint pins this
    // entity-sized frame in executor storage with NO lineage to
    // recompute on executor loss — an executor failure mid-query fails
    // the query (retry = re-run), unlike reliable checkpointing. The
    // trade is deliberate for a report query: it is cheap to re-run,
    // and the alternative (re-deriving both assignment scans per
    // rollup) doubles the steady-state cost to buy recovery of a
    // frame that only this one query ever reads.
    val j = a.join(b, Seq("vec_id"), "full_outer").localCheckpoint()
    val ga = j.filter(col("cell_a").isNotNull).groupBy(col("cell_a"))
      .agg(count(lit(1)).as("n_a"), sum(col("cos_a")).as("sa"),
        sum(when(col("cell_b").isNull || col("cell_b") =!= col("cell_a"), 1L)
          .otherwise(0L)).as("n_departed"))
      .withColumnRenamed("cell_a", "cell")
    val gb = j.filter(col("cell_b").isNotNull).groupBy(col("cell_b"))
      .agg(count(lit(1)).as("n_b"), sum(col("cos_b")).as("sb"),
        sum(when(col("cell_a").isNull || col("cell_a") =!= col("cell_b"), 1L)
          .otherwise(0L)).as("n_arrived"))
      .withColumnRenamed("cell_b", "cell")
    ga.join(gb, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("n_departed"), lit(0L)).as("n_departed"),
        coalesce(col("n_arrived"), lit(0L)).as("n_arrived"),
        expr("sa div n_a").as("coherence_a_bp"),
        expr("sb div n_b").as("coherence_b_bp"))
      .orderBy("cell")
  }

  /** vecReport: the decode-once 100 TB shape of the VECTOR family
    * (the morphReport/traceReport/docReport/mediaReport discipline
    * applied to embeddings): ONE scan of the raw float store computes
    * every frozen-model row-local field — cell assignment + centroid
    * cosine ([[clusterAssignWithModel]]'s expressions) and the packed
    * PQ code + reconstruction error ([[pqEncodeWithModel]]'s) — and
    * the persisted narrow frame (6 columns, no embedding) serves the
    * cluster cards/sample and the compressed-index views without ever
    * re-reading the 256 B/vector payload. Views are spec-proven equal
    * to the standalone operators. All-row-local ⇒ the same function
    * runs unchanged on a readStream frame
    * (VecStreams.vecReportStream). */
  def vecReportWithModels(embeddings: DataFrame, cents: Seq[Seq[Double]],
                          books: Seq[Seq[Seq[Double]]],
                          m: Int = 8, dim: Int = 64): DataFrame = {
    val e = withNorm(embeddings)
    if (cents.isEmpty || books.isEmpty)
      return emptyModelFrame(embeddings, "vecReportWithModels",
        e.select(col("vec_id"), col("label"), lit(0L).as("cell"),
          lit(0L).as("cos_bp"), lit(0L).as("pq_code"), lit(0L).as("err_bp")))
    // the pqEncodeWithModel shape contract — a mismatched frozen model
    // must fail with the cause, not an IndexOutOfBounds mid-plan
    require(books.size == m && dim % m == 0, s"need $m codebooks for dim $dim")
    require(books.forall(_.nonEmpty), "empty codebook: train on a non-empty corpus")
    requirePackable(m, books.map(_.size).max.max(2))
    val (withDots, _, best) = withCellScores(e, cents)
    val base = withDots
      .withColumn("cell", best.getField("cell").cast("long"))
      .withColumn("cos_bp", cosBp(best.getField("score")))
      .select(col("vec_id"), col("label"), col("embedding"),
        col("cell"), col("cos_bp"))
    encodeWithBooks(base, books, m, dim / m,
      keep = Seq(col("vec_id"), col("label"), col("cell"), col("cos_bp")))
  }

  /** vecReport with models trained in place (the batch entry point —
    * a deployment trains once per release and freezes). */
  def vecReport(embeddings: DataFrame, nCells: Int = 16,
                m: Int = 8, dim: Int = 64): DataFrame =
    vecReportWithModels(embeddings, ivfCentroids(embeddings, nCells),
      pqCodebooks(embeddings, m, dim), m, dim)

  // Views over the (persisted) vecReport frame — each must reproduce
  // its standalone operator exactly (spec-proven).

  /** q104b over the frame. */
  def reportClusterSample(report: DataFrame, perCell: Int = 20): DataFrame =
    sampleFromAssign(report, perCell)

  /** q76 over the frame. */
  def reportPqCodes(report: DataFrame): DataFrame =
    report.select("vec_id", "pq_code", "err_bp").orderBy("vec_id")
}
