package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed loaders for the driver-generated star schema (TESTDATA.md).
  *
  * Mirrors the reference's "bucket" concept (a project holding resource
  * frames — cf. reference src/helpers.py:109 `allocate_by_deployment`):
  * a directory of parquet tables is one bucket. All loads go through
  * here so filter pushdown + column pruning reach the parquet scan.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** Read a parquet table graft wrote (or was handed) without a Spark
    * job. Plain `spark.read.parquet` infers the schema with a one-task
    * job per call (about 75 ms against 12 ms with the schema given, on
    * a 4-core box); here the file that inference would pick — the first
    * visible data file in path order — has its footer read on the
    * driver with Spark's own reader and converter under the session's
    * SQLConf, and that schema is handed to the reader. Partition
    * columns are still inferred from the directory names.
    *
    * Falls back to plain `spark.read.parquet`, so summary handling and
    * error messages stay Spark's own, when: a `_metadata` or
    * `_common_metadata` summary is present, no visible data file
    * exists, the footer cannot be read or converted, schema merging is
    * on, or the directory layout is not a plain or `k=v`-partitioned
    * table. */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  private val summaryFiles = Set("_metadata", "_common_metadata")

  /** hidden per Spark's file index: `_x` (not `_k=v`), `.x`, `x._COPYING_` */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def footerSchema(spark: SparkSession, path: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
    import org.apache.spark.sql.graft.ParquetFooterBridge
    // data files under `dir`, or None when the layout needs Spark's own
    // handling (a summary file, or a subdirectory that is not `k=v`)
    def dataFiles(fs: FileSystem, dir: Path): Option[Seq[FileStatus]] = {
      val (dirs, files) = fs.listStatus(dir).toSeq.partition(_.isDirectory)
      val visibleDirs = dirs.filterNot(d => hidden(d.getPath.getName))
      if (files.exists(f => summaryFiles(f.getPath.getName)) ||
          visibleDirs.exists(!_.getPath.getName.contains("="))) None
      else {
        val here = files.filterNot(f => hidden(f.getPath.getName))
        val nested = visibleDirs.map(d => dataFiles(fs, d.getPath))
        // data files both here and in partition dirs: a conflicting
        // layout, Spark reports it
        if (nested.contains(None) || (here.nonEmpty && nested.exists(_.get.nonEmpty))) None
        else Some(here ++ nested.flatMap(_.get))
      }
    }
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean) None
    else try {
      val conf = ParquetFooterBridge.hadoopConf(spark)
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      val status = fs.getFileStatus(root)
      val files = if (status.isDirectory) dataFiles(fs, root) else Some(Seq(status))
      // schema inference reads the first data file in path order
      files.filter(_.nonEmpty).map(_.minBy(_.getPath.toString))
        .map(ParquetFooterBridge.footerSchema(spark, conf, _))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** Normalize events.ts to TimestampType regardless of how the
    * generator's parquet writer encoded it. Observed encodings across
    * driver testdata generations: TIMESTAMP(NANOS) (Spark reads it as
    * nanos-long under `nanosAsLong`; the data is µs-precision so the
    * DIV 1000 is lossless) and TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * (Spark reads TIMESTAMP_NTZ; the generator writes naive UTC wall
    * clocks and the session timezone is UTC, so the cast re-labels the
    * same instant). Dispatching on the actual read schema keeps both
    * generations loadable with identical downstream values.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      // the int64 branch GUARDS its nanos assumption: a generation
      // writing plain int64 MICROS (no logical type) would otherwise be
      // silently divided by 1000, shifting every timestamp 1000×. Any
      // plausible event time is ≥ 1e17 as nanos (≈ 1973) while micros
      // magnitudes sit ≈ 1e15 — reject, never guess. Row-local codegen
      // comparison; no extra job at load time.
      case LongType => df.withColumn("ts", expr(
        "timestamp_micros(CASE WHEN ts IS NULL OR ts >= 100000000000000000 " +
          "THEN ts DIV 1000 ELSE raise_error(concat('events.ts: int64 value ', " +
          "CAST(ts AS STRING), ' is too small to be nanos-since-epoch — refusing " +
          "to guess the encoding (plain int64 micros must be rejected, not " +
          "divided)')) END)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalArgumentException(
        s"events.ts: unsupported parquet encoding $other")
    }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(load(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
