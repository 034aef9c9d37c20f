package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** Scale tooling: the join-shape utilities a 100 TB deployment leans on
  * when AQE alone isn't enough — key salting for pathological skew and
  * bucketed (pre-shuffled) table layout for repeated co-located joins.
  *
  * Construction rule for wide row-local frames: one or two `select`s,
  * not a chain of `withColumn`s — every `withColumn` re-analyses the
  * whole plan, so a frame of n derived columns pays n analyses at
  * build time ([[TextAnalysis.docReport]] is the worked example).
  */
object Scale {

  /** Collect a MODEL-sized frame (bounded by a vocabulary/model/
    * dimension constant, never by the data) and re-enter it as a local
    * relation. A lazy model frame re-executes its full lineage once
    * per consuming broadcast/exchange — the r19 plan-collapse finding
    * (q100's before-plan held 15 corpus scans of the LM training
    * subtree). Still computed from the source tables on every
    * invocation; nothing persists across runs. */
  def localized(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Collect a frame that must hold at most `maxRows` rows: reads
    * `limit(maxRows + 1)` and fails, naming `op` and the count it saw,
    * when the frame is larger — the runtime guard behind a "this is
    * dimension-sized" claim about input from outside the program. */
  def bounded(df: DataFrame, maxRows: Int, op: String): Array[Row] = {
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"$op: expected at most $maxRows rows to collect, saw ${rows.length} (limit ${maxRows + 1})")
    rows
  }

  /** [[localized]] with a ceiling: collects through [[bounded]], so a
    * frame whose size depends on the data (a per-source or per-language
    * rollup) fails naming `op` and the row count instead of flooding
    * the driver. */
  def localized(df: DataFrame, maxRows: Int, op: String): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(bounded(df, maxRows, op): _*), df.schema)

  /** Hash-spread a payload frame on `key` over the session's
    * `spark.sql.shuffle.partitions` before a per-row decode stage, so a
    * few oversized payloads in one input split cannot serialize a task.
    * The count is stated rather than left to AQE, which coalesces only
    * unnumbered repartitions: the decode keeps the full width. */
  def decodeSpread[T](ds: Dataset[T], key: String): Dataset[T] =
    ds.repartition(ds.sparkSession.sessionState.conf.numShufflePartitions, col(key))

  /** Inner join with the left side's hot keys spread over `salts`
    * sub-keys and the right side replicated once per salt. Result
    * multiplicity is identical to a plain inner join: each left row
    * carries exactly one deterministic salt, and each right row exists
    * under every salt. Use when one key holds a partition-breaking
    * share of the rows and AQE's skew split can't help (e.g. a
    * broadcast-too-big dimension with one hot entry).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salts: Int): DataFrame = {
    val saltedLeft = left.withColumn("__salt",
      pmod(hash(left.columns.map(col).toSeq: _*), lit(salts)))
    val saltedRight = right
      .withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
    saltedLeft.join(saltedRight, Seq(key, "__salt")).drop("__salt")
  }

  /** Hot join keys decided from the data itself: the Misra-Gries
    * sketch surfaces candidates without shuffling the key domain, the
    * exact verify pass keeps only keys above `hotShareBp` basis points
    * of the rows (same two-pass shape as
    * [[Frequency.exactHeavyHitters]]). Works for ANY key type — urls,
    * tokens, ids — by sketching over xxhash64(key); a hash collision
    * only inflates the candidate superset, the per-key verify count
    * stays exact. The result is a bounded, broadcast-sized model
    * (≤ capacity keys) — the "column statistics" a static planner
    * would read from a catalog, computed in one cheap pass when there
    * is no catalog. */
  def hotKeys(df: DataFrame, key: String, hotShareBp: Int = 100,
              capacity: Int = 1024): Seq[Any] = {
    require((capacity + 1).toLong * hotShareBp >= 10000L,
      s"capacity $capacity too small for share=$hotShareBp bp")
    val keyed = df.select(col(key).as("k"), xxhash64(col(key)).as("kh"))
      .filter(col("k").isNotNull)
    val cands = keyed
      .agg(graft.functions.MgSketch.mg_sketch(col("kh"), capacity).as("c"),
        count(lit(1)).as("n_total"))
      .select(explode(col("c")).as("kh"), col("n_total"))
    keyed.join(broadcast(cands), Seq("kh"))
      .groupBy("k", "n_total").agg(count(lit(1)).as("n"))
      .filter(col("n") * 10000L > col("n_total") * hotShareBp)
      .select("k").collect().map(_.get(0)).toSeq
  }

  /** Stats-driven skew join: only rows carrying a HOT key (share >
    * `hotShareBp` bp, measured, not guessed) take the salted path —
    * the right side is replicated `salts`× for the handful of hot keys
    * only, while the cold majority joins plain. Equivalent to an inner
    * join on `key` for non-null keys. Use when one key holds a
    * partition-breaking share AND the right side is too big to
    * broadcast; AQE's skew split handles the sort-merge case, but this
    * also covers repeated hash joins and gives the planner no chance to
    * regress. */
  def skewAwareJoin(left: DataFrame, right: DataFrame, key: String,
                    salts: Int, hotShareBp: Int = 100): DataFrame = {
    val hot = hotKeys(left, key, hotShareBp)
    if (hot.isEmpty) left.join(right, Seq(key))
    else {
      val lh = left.filter(col(key).isin(hot: _*))
        .withColumn("__salt", pmod(hash(left.columns.map(col).toSeq: _*), lit(salts)))
      val rh = right.filter(col(key).isin(hot: _*))
        .withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
      val hotJoined = lh.join(rh, Seq(key, "__salt")).drop("__salt")
      val cold = left.filter(!col(key).isin(hot: _*))
        .join(right.filter(!col(key).isin(hot: _*)), Seq(key))
      hotJoined.unionByName(cold)
    }
  }

  /** Ordered running sum WITHOUT the one-task-per-group window.
    *
    * `Window.partitionBy(group).orderBy(orderCol)` puts every row of a
    * group into ONE task — correct, but a 100 TB corpus with five
    * languages becomes five tasks. This is the classic two-level
    * parallel prefix sum instead: rows are binned by a monotone
    * function of the order key (`orderCol DIV bucketSpan`), per-bucket
    * partial sums form a tiny frame whose own running sum gives each
    * bucket its global offset, and the full-data window then runs per
    * (group, bucket) — parallelism scales with data volume, not with
    * the number of groups. Exactly equal to the naive window when
    * (`groupCol`, `orderCol`) is a unique key (spec-proven).
    *
    * Plan cost: one map-side-combined aggregate over (group, bucket)
    * (dimension-sized output), a broadcast join of the offsets, and
    * one shuffle keyed by (group, bucket) for the intra-bucket window
    * — same shuffle count as the naive form, but no partition is ever
    * larger than a bucket. `orderCol` must be numeric (negative keys
    * are fine: bucketing uses floor division, which is monotone over
    * the whole integer range — truncating DIV would fold -span+1..-1
    * into bucket 0 with 0..span-1 and silently break the monotone
    * precondition); `bucketSpan` sizes the bucket in ORDER-KEY units.
    *
    * Sizing `bucketSpan` is a two-sided constraint: a bucket must fit
    * a task (≲ a few million rows), AND the offsets frame —
    * |groups| × (key range ÷ span) rows — must stay broadcast-sized.
    * For dense ids both hold across many orders of magnitude (e.g.
    * span 10⁶ at 10¹¹ rows: 10⁶-row buckets, 10⁵ offset rows); a span
    * so small that offsets approach the data size defeats the design.
    * Degenerate case: if the bucket key has too few distinct values
    * (everything in one bucket), the plan silently reduces to the
    * naive one-task window — bucket on a finer key instead.
    */
  def bucketedRunningSum(df: DataFrame, groupCol: String, orderCol: String,
                         valueCol: String, outCol: String,
                         bucketSpan: Long): DataFrame = {
    require(bucketSpan > 0, s"bucketSpan must be positive, got $bucketSpan")
    // floor division, not DIV: (x - pmod(x, s)) DIV s is exact integer
    // floor(x/s) for every BIGINT except Long.MinValue (where the
    // subtraction would underflow and ANSI mode fails loud, which is
    // the right outcome for a sentinel key). For x >= 0 it equals DIV,
    // so non-negative callers see identical buckets.
    bucketedRunningSum(df, groupCol,
      expr(s"(CAST($orderCol AS BIGINT) - pmod(CAST($orderCol AS BIGINT), $bucketSpan)) DIV $bucketSpan"),
      Seq(col(orderCol)), col(valueCol), outCol)
  }

  /** General form: `bucketCol` is ANY expression that is monotone
    * non-decreasing along `orderCols` within a group (rows tying on
    * the bucket-driving key must map to the same bucket — a pure
    * function of that key guarantees it), e.g. a quality rank bucketed
    * descending for a best-first packing order. `valueCol` may be
    * conditional (`when(...)`) — the partials aggregate it identically.
    */
  def bucketedRunningSum(df: DataFrame, groupCol: String, bucketCol: Column,
                         orderCols: Seq[Column], valueCol: Column,
                         outCol: String): DataFrame = {
    val bucketed = df.withColumn("__bucket", bucketCol)
    val offsets = bucketed.groupBy(col(groupCol), col("__bucket"))
      .agg(sum(valueCol).as("__bsum"))
      .withColumn("__offset", coalesce(
        sum(col("__bsum")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
            .orderBy("__bucket")
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col(groupCol).as("__og"), col("__bucket").as("__ob"), col("__offset"))
    val intra = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("__bucket")).orderBy(orderCols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // null-SAFE join: a null group (or a null bucket value from a null
    // order key) is a valid window partition in the naive form, so it
    // must keep its offset row here too — a plain equi-join would
    // silently drop those rows
    bucketed.join(broadcast(offsets),
        col(groupCol) <=> col("__og") && col("__bucket") <=> col("__ob"))
      .withColumn(outCol, col("__offset") + sum(valueCol).over(intra))
      .drop("__bucket", "__offset", "__og", "__ob")
  }

  /** Append per-key aggregates via groupBy + null-safe join back — the
    * q83 election shape (`Dedup.blockDedup`) as a reusable primitive,
    * replacing `agg(...) OVER (PARTITION BY key)` windows.
    *
    * Why not a window: a window moves EVERY row of a key into one task
    * — at 100 TB a boilerplate fingerprint class duplicated 10⁵–10⁶×
    * (the C4/RefinedWeb finding) serializes through a single task, and
    * AQE can split skewed joins but NOT window partitions. Here the
    * hot key partial-aggregates map-side (combining to one row per map
    * task BEFORE the exchange) and the join back is an equality join
    * AQE can skew-split. Price: the input subtree is computed twice
    * (election + probe, the documented q83 trade); both passes are
    * row-local compute that scales linearly, unlike the one-task
    * window. The join is null-safe (`<=>`) because a null key is a
    * valid window partition in the form this replaces — a plain
    * equi-join would silently drop those rows.
    *
    * Left column order is preserved; the aggregate columns append on
    * the right, so callers read like the `withColumn` they replace. */
  /** TEST-ONLY MUTANT HOOK (r15 verdict item 5 — permanent mutation
    * pins): when flipped by MutationPinSpec, [[keyAggJoin]] regresses
    * to the one-task-per-hot-key WINDOW election this helper exists to
    * ban, so the repo's no-hot-key-window plan fences re-prove every
    * `sbt test` run that they actually catch the regression they pin
    * (the r15 round mutation-tested this by hand and reverted; the
    * hook makes the proof permanent). Never set outside tests. */
  @volatile private[graft] var mutantWindowElection = false

  def keyAggJoin(df: DataFrame, keys: Seq[String], aggCols: Seq[Column]): DataFrame = {
    require(keys.nonEmpty && aggCols.nonEmpty, "keys and aggCols must be non-empty")
    if (mutantWindowElection) {
      // the banned shape, kept ONLY as the mutation target: every agg
      // evaluated over a per-key window — one task per hot key
      val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
      return aggCols.foldLeft(df) { (acc, c) =>
        org.apache.spark.sql.graft.ColumnBridge.expression(c) match {
          case a: org.apache.spark.sql.catalyst.expressions.Alias =>
            acc.withColumn(a.name,
              org.apache.spark.sql.graft.ColumnBridge.column(a.child).over(w))
          case other =>
            acc.withColumn(other.sql,
              org.apache.spark.sql.graft.ColumnBridge.column(other).over(w))
        }
      }
    }
    val agg = df.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
    val renamed = keys.foldLeft(agg)((a, k) => a.withColumnRenamed(k, "__k_" + k))
    val cond = keys.map(k => col(k) <=> col("__k_" + k)).reduce(_ && _)
    df.join(renamed, cond).drop(keys.map("__k_" + _): _*)
  }

  /** Write a frame bucketed+sorted by `key` as a managed table —
    * repeated joins/aggregations on `key` then read pre-shuffled
    * (no Exchange under the join). */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)
}
