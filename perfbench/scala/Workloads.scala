package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.{BenchScaleCurve, SparkEntry, Tables}
import graft.operators._
import graft.streaming.DocStreams

/** What an operation's output is checked against, once per run. */
sealed trait Ref
object Ref {
  /** `SparkEntry.oracleSql(query)` run by DuckDB over the tables in `dir` */
  final case class Oracle(query: String, dir: String) extends Ref
  /** the DuckDB fold of the staged upsert batches 0..`batch` */
  final case class Fold(batch: Int) extends Ref
  /** a reference frame graft computes another way, in the same run */
  final case class Frame(ref: () => DataFrame) extends Ref
  /** no output of its own; checked through the named operations that
    * consume it (none: the output is not checked) */
  final case class Through(ops: Seq[String]) extends Ref
}

/** One operation of a pass. `run` makes the call into graft (the build
  * span); when it returns a DataFrame the benchmark also plans and
  * executes it. `output` reads back what a side-effecting call wrote, for
  * the check. `upsertBytes` marks a MERGE call and carries the parquet size
  * of its upsert batch, the base of `write_amp`. */
final case class Op(name: String, layer: String, run: () => Option[DataFrame],
                    ref: Ref, output: Option[() => DataFrame] = None,
                    upsertBytes: Long = 0L)

/** A workload: its inputs are staged once per run, and `ops(pass)` is
  * the fixed operation list of one pass (in the seeded order). */
trait Workload {
  def stage(): Unit
  /** untimed, before every pass */
  def beforePass(): Unit = ()
  def ops(pass: Int): Seq[Op]
  /** table directories walked after each pass for live files and bytes */
  def liveRoots: Seq[String] = Nil
  /** micro-batch progress of the ingest door since the last call */
  def takeDoorProgress(): Seq[StreamingQueryProgress] = Nil
}

object Workloads {
  val Names: Seq[String] = Seq("integration_reports", "writeback", "release_pipeline")

  def apply(name: String, spark: SparkSession, fixture: String, inputs: String,
            root: String, seed: Long): Workload = name match {
    case "integration_reports" => new IntegrationReports(spark, fixture, root, seed)
    case "writeback" => new Writeback(spark, fixture, inputs, root)
    case "release_pipeline" => new ReleasePipeline(spark, fixture, inputs, root)
    case "selftest" => new SelfTestWorkload(spark)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${Names.mkString(", ")}")
  }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target)
    } finally walk.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally walk.close()
    }

  /** stage the fixture tables into a directory of this run's own */
  def stageTables(fixture: String, root: String): String = {
    val dir = Paths.get(root, "tables")
    copyTree(Paths.get(fixture), dir)
    dir.toString
  }

  def query(name: String, spark: SparkSession, dir: String): Op =
    Op(name, "operators", () => Some(SparkEntry.queries(name)(spark, dir)), Ref.Oracle(name, dir))
}

/** Read-only reports over the star schema: join, window top-1, link
  * check, validation, registration dedup, ontology closure, check matrix
  * and funnel shapes. Nothing is written and no model is built, so
  * execution and Catalyst carry the time. The seed shuffles the order of
  * every pass. */
final class IntegrationReports(spark: SparkSession, fixture: String, root: String, seed: Long)
    extends Workload {
  private var tables: String = _
  def stage(): Unit = tables = Workloads.stageTables(fixture, root)
  def ops(pass: Int): Seq[Op] = {
    val rnd = new scala.util.Random(seed * 1000003L + pass)
    rnd.shuffle(IntegrationReports.Queries).map(Workloads.query(_, spark, tables))
  }
}

object IntegrationReports {
  val Queries: Seq[String] = Seq(
    "q03_join_revenue", "q05_window_rank", "q20_link_check", "q21_schema_validation",
    "q26_registration_dedup", "q29_ontology_closure", "q96_check_matrix", "q130_funnel")
}

/** MERGE write-back beside reads: the staged seeded upsert batches are
  * applied in turn through the flat copy-on-write writer and the
  * partition-scoped writer, each followed by a read-back, then the
  * writer-shaped composed queries run. Both tables are reset, untimed,
  * to the same staged state before every pass. */
final class Writeback(spark: SparkSession, fixture: String, inputs: String, root: String)
    extends Workload {
  private var tables: String = _
  private val flat = s"$root/merge/flat"
  private val part = s"$root/merge/part"
  private val batches: Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val listing = Files.list(Paths.get(inputs, "writeback"))
    try listing.iterator().asScala.filter(_.getFileName.toString.startsWith("batch-"))
      .toSeq.sortBy(_.getFileName.toString)
    finally listing.close()
  }

  def stage(): Unit = {
    tables = Workloads.stageTables(fixture, root)
    val target = spark.read.parquet(s"$inputs/writeback/target.parquet")
    target.write.parquet(s"$flat.init")
    target.hint("rebalance", "segment").write.partitionBy("segment").parquet(s"$part.init")
  }

  override def beforePass(): Unit = Seq(flat, part).foreach { t =>
    Workloads.deleteTree(Paths.get(t))
    Workloads.copyTree(Paths.get(s"$t.init"), Paths.get(t))
  }

  override def liveRoots: Seq[String] = Seq(flat, part)

  def ops(pass: Int): Seq[Op] = {
    val merges = batches.zipWithIndex.flatMap { case (b, i) =>
      val bytes = Files.size(b)
      def batch = spark.read.parquet(b.toString)
      Seq(
        Op(s"merge_flat_$i", "operators", () => {
          MergeWriter.applyTo(spark, flat, batch, "c_custkey", Some("is_deleted")); None
        }, Ref.Through(Seq(s"read_flat_$i")), upsertBytes = bytes),
        Op(s"read_flat_$i", "operators", () => Some(spark.read.parquet(flat)), Ref.Fold(i)),
        Op(s"merge_part_$i", "operators", () => {
          MergeWriter.applyToPartitioned(spark, part, batch, "c_custkey", "segment",
            Some("is_deleted")); None
        }, Ref.Through(Seq(s"read_part_$i")), upsertBytes = bytes),
        Op(s"read_part_$i", "operators", () => Some(spark.read.parquet(part)
          .select("c_custkey", "segment", "acctbal_cents")), Ref.Fold(i)))
    }
    merges ++ Writeback.Composed.map(Workloads.query(_, spark, tables))
  }
}

object Writeback {
  val Composed: Seq[String] = Seq("q43_upsert_apply", "q141_curation_pipeline")
}

/** The training-data release flow as one pipeline over a synthetic
  * replica of the documents and embeddings: the model builds, the
  * docReport write and two views derived from it, the frozen dedup
  * stores, one drain of the release-dedup ingest door over the staged
  * seeded slices (one micro-batch per slice), and the vector step. */
final class ReleasePipeline(spark: SparkSession, fixture: String, inputs: String, root: String)
    extends Workload {
  import ReleasePipeline._
  private val replica = s"$root/replica"
  private val slices = s"$root/slices"
  private val report = s"$root/release/report"
  private val fpDir = s"$root/release/fp_store"
  private val bandDir = s"$root/release/band_store"
  private val doorRoot = s"$root/release/door"
  private var drains = 0
  private val progress = scala.collection.mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private var rarity: (Map[String, Long], Long) = _
  private var lm: LmScreen.LmModel = _
  private var dsir: Dsir.DsirModel = _
  private var cents: Seq[Seq[Double]] = _

  def stage(): Unit = {
    val tables = Workloads.stageTables(fixture, root)
    BenchScaleCurve.scaledDocuments(spark, tables, Factor)
      .write.parquet(s"$replica/documents.parquet")
    BenchScaleCurve.scaledEmbeddings(spark, tables, Factor)
      .write.parquet(s"$replica/embeddings.parquet")
    Workloads.copyTree(Paths.get(inputs, "release", "slices"), Paths.get(slices))
  }

  override def beforePass(): Unit = Workloads.deleteTree(Paths.get(doorRoot))

  override def liveRoots: Seq[String] = Seq(report, fpDir, bandDir, doorRoot)

  override def takeDoorProgress(): Seq[StreamingQueryProgress] = {
    val p = progress.toSeq
    progress.clear()
    p
  }

  private def docs = Tables.documents(spark, replica)
  private def emb = Tables.embeddings(spark, replica)
  private def frame = spark.read.parquet(report)
  private def stores = (spark.read.parquet(fpDir), spark.read.parquet(bandDir))
  private def doorOut = s"$doorRoot/out-$drains"

  private def model(name: String)(body: => Unit): Op =
    Op(name, "models", () => { body; None }, Ref.Through(ModelConsumers(name)))

  private def drainDoor(): Option[DataFrame] = {
    drains += 1
    val (fp, band) = stores
    // one micro-batch per staged slice file
    val arriving = spark.readStream.schema(DocStreams.docsSchema)
      .option("maxFilesPerTrigger", "1").parquet(slices)
    val q = DocStreams.releaseDedupSink(arriving, fp, band, doorOut, s"$doorRoot/ckpt-$drains")
    try q.awaitTermination() finally q.stop()
    progress ++= q.recentProgress.filter(_.numInputRows > 0)
    None
  }

  def ops(pass: Int): Seq[Op] = Seq(
    model("rarity_model") { rarity = Frequency.rarityModel(docs) },
    model("lm_model") { lm = LmScreen.lmModel(docs) },
    model("dsir_model") { dsir = Dsir.dsirModel(docs) },
    Op("doc_report_write", "operators", () => {
      TextAnalysis.docReport(docs, rarity, lm, dsir).write.mode("overwrite").parquet(report)
      None
    }, Ref.Through(Seq("view_q70_dataset_split", "view_q101b_dsir_resample"))),
    Op("view_q70_dataset_split", "operators", () => Some(
      TextAnalysis.reportDatasetSplit(frame, 500, 500)),
      Ref.Oracle("q70_dataset_split", replica)),
    Op("view_q101b_dsir_resample", "operators", () => Some(
      Dsir.resampleFromWeights(TextAnalysis.reportDsir(frame))),
      Ref.Oracle("q101b_dsir_resample", replica)),
    Op("release_stores", "operators", () => {
      val (fp, band) = Dedup.releaseStores(docs)
      fp.write.mode("overwrite").parquet(fpDir)
      band.write.mode("overwrite").parquet(bandDir)
      None
    }, Ref.Through(Seq("ingest_door"))),
    Op("ingest_door", "streaming", () => drainDoor(), Ref.Frame(() => {
      val (fp, band) = stores
      Dedup.releaseDedupWithStores(fp, band, spark.read.parquet(slices))
    }), output = Some(() => spark.read.parquet(doorOut).drop("batch"))),
    model("ivf_centroids") { cents = Similarity.ivfCentroids(emb, Cells) },
    Op("view_q104c_semdedup", "operators", () => Some(
      Similarity.semanticDedupCellsWithModel(emb, cents)),
      Ref.Oracle("q104c_semdedup", replica)))
}

object ReleasePipeline {
  /** replica factor over the fixture corpus */
  val Factor = 1
  val Cells = 16
  val ModelConsumers: Map[String, Seq[String]] = Map(
    // the rarity and LM scores feed only views this pass does not run
    "rarity_model" -> Nil,
    "lm_model" -> Nil,
    "dsir_model" -> Seq("view_q101b_dsir_resample"),
    "ivf_centroids" -> Seq("view_q104c_semdedup"))
}
