package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Ontology/hierarchy traversal — the Spark form of the reference's
  * SPARQL transitive-closure queries (reference
  * src/trace/stimulus_type_ontology_querying.py:22 `subClassOf+`:
  * all subclasses of a root stimulus type, via the triple store).
  *
  * ONE closure, [[closure]], runs on the driver over a collected edge
  * list and re-enters the plan as a local relation (the
  * [[Atlas.voxelGrid]] discipline): ontologies are dimension-sized
  * (≤ [[MaxEdges]] edges, a runtime guard) and shallow, so frontier
  * expansion over an in-memory parent map is a small driver loop, and
  * the consumers' broadcasts read a literal frame with zero scans,
  * joins or exchanges below it. A deep fixpoint over an entity-sized
  * edge set is the one case to move to checkpointed iteration in the
  * plan.
  */
object Ontology {

  /** depth bound on every closure: paths longer than this are not
    * followed, so cyclic input terminates. Real ontologies are a few
    * levels deep (the geo hierarchy 2, the stimulus ontology 2). */
  val MaxDepth = 10

  /** the most rows a closure collects to the driver from one input
    * frame — edges, or one geo dimension table. Above it the input is
    * not dimension-sized and the collect fails instead of running. */
  val MaxEdges = 10000

  /** All (node, ancestor, depth) paths following child→parent edges,
    * depth 1 to [[MaxDepth]]. UNION ALL semantics: a DAG node reachable
    * two ways appears twice, exactly like SPARQL path counting. The
    * frontier expands level by level until it is empty or the depth
    * bound is reached; null keys never match, as in an equi-join. */
  def closure[A](edges: Seq[(A, A)]): Seq[(A, A, Int)] = {
    val parentsOf = edges.filter(_._1 != null).groupMap(_._1)(_._2)
    Iterator.iterate(edges.map { case (c, p) => (c, p, 1) }) { frontier =>
      frontier.flatMap { case (n, a, d) =>
        parentsOf.getOrElse(a, Nil).map(p => (n, p, d + 1)) }
    }.takeWhile(_.nonEmpty).take(MaxDepth).flatten.toSeq
  }

  /** closure paths as a local relation (node, ancestor, depth INT). */
  private[operators] def pathFrame(spark: SparkSession, paths: Seq[(Any, Any, Int)],
                                   nodeType: DataType = StringType,
                                   ancestorType: DataType = StringType): DataFrame =
    spark.createDataFrame(
      paths.map { case (n, a, d) => Row(n, a, d) }.asJava,
      StructType(Seq(StructField("node", nodeType), StructField("ancestor", ancestorType),
        StructField("depth", IntegerType))))

  /** [[closure]] over an edge frame (child, parent): the edges are
    * collected once (≤ [[MaxEdges]]) and the paths keep the edge
    * columns' types. */
  def transitiveClosure(edges: DataFrame): DataFrame = {
    val e = edges.select(col("child"), col("parent"))
    val pairs = Scale.bounded(e, MaxEdges, "Ontology.transitiveClosure")
      .map(r => (r.get(0), r.get(1))).toSeq
    pathFrame(e.sparkSession, closure(pairs),
      e.schema("child").dataType, e.schema("parent").dataType)
  }

  /** the geography dimensions, collected once per call (25 + 5 rows at
    * every scale): the one read behind both the q29 edge rule and the
    * atlas volume ([[Atlas.voxelGrid]]). `nations` holds (nationkey,
    * name, regionkey); `regions` holds (regionkey, name). */
  final case class Geo(nations: Seq[(Long, String, Long)], regions: Seq[(Long, String)]) {
    /** the q29 edge rule, child → parent: each nation to its region
      * (inner: a nation whose region is missing has no edge), every
      * region to WORLD. */
    def edges: Seq[(String, String)] =
      nations.flatMap { case (_, n, rk) => regions.collect { case (`rk`, r) => n -> r } } ++
        regions.map { case (_, r) => r -> "WORLD" }
  }

  def geo(nation: DataFrame, region: DataFrame): Geo = Geo(
    Scale.bounded(nation.select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long")), MaxEdges, "Ontology.geo(nation)")
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq,
    Scale.bounded(region.select(col("r_regionkey").cast("long"), col("r_name")),
        MaxEdges, "Ontology.geo(region)")
      .map(r => (r.getLong(0), r.getString(1))).toSeq)

  /** q29: geography ontology closure — nation→region→WORLD edges, all
    * ancestor paths (the subclass-of-root query shape). */
  def geoClosure(region: DataFrame, nation: DataFrame): DataFrame =
    pathFrame(region.sparkSession, closure(geo(nation, region).edges))
      .orderBy("node", "ancestor", "depth")
}
