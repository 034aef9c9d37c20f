package graft.operators

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Per-entity morphology TREE-WALK kernels (SURVEY §2B, q79) — the
  * reference's signature computation: walking a neuron reconstruction
  * tree and screening its structure. Reference analogues:
  *   - heterogeneous-neurite detection and the radical-diameter-change
  *     screen (|Δr|/(r0+r1) per µm over a threshold):
  *     /root/reference/src/neuron_morphology/validation/custom_validation.py:32-95
  *     (has_no_heterogeneous_neurites, has_no_radical_diameter_changes,
  *     has_no_single_child, has_no_multifurcation)
  *   - SWC header/column parsing discipline ('r' synonym for 'radius',
  *     'n'/'index' ignored, header found among leading comments):
  *     /root/reference/src/neuron_morphology/validation/check_swc_on_resource.py:20-44
  *   - per-neurite accumulation feeding annotation frames:
  *     /root/reference/src/neuron_morphology/feature_annotations/morph_metrics.py
  *
  * Same method as [[Multimodal]] (q41): the container ships no
  * morphology library, so the PAYLOAD is an engine-synthesized SWC-like
  * text format whose tree structure is a closed form of the entity id —
  * but the PARSER and TREE WALK are real and fully generic: header
  * discipline, field-order-aware row parse, single-root/reachability
  * validation, section decomposition, section-graph BFS, per-segment
  * geometry. The DuckDB oracle replays the closed form (never the
  * bytes), so every tree-walk output is hash-checked end-to-end.
  *
  * Semantics (engine-defined, documented here):
  *   - a SECTION is a maximal chain of nodes broken at (a) children of
  *     the soma, (b) children of branch points (≥2 children), and
  *     (c) type changes — so a type-changing unifurcation starts a new
  *     section, which is exactly what the single-child screen flags.
  *   - branch order of a section = number of ancestor sections (root
  *     sections at the soma have order 0).
  *   - total length includes the soma→stem segments; the radical
  *     diameter screen EXCLUDES soma-adjacent segments (the soma is not
  *     part of any neurite — mirrors neurom's iter_sections scope).
  *   - the radical screen is evaluated in exact integer form:
  *     |Δr|/(r0+r1)/len > max%/100  ⟺  (100·Δr)² > (max·(r0+r1))²·len²,
  *     so the two engines can never disagree on a boundary case.
  *
  * At 100 TB: payloads are opaque blobs in a binary column; the decode +
  * walk is row-local (zero exchanges — one repartition evens payload
  * skew exactly like q41's decode stage), and per-entity metrics are a
  * few longs — the classic heavy-blob→narrow-row reduction that makes
  * downstream joins cheap. A real deployment swaps [[synthSwc]] for its
  * stored SWC files and keeps parser, walk and screens unchanged.
  */
object Morphology {

  final case class MorphRow(morph_id: Long, swc: Array[Byte])

  final case class SwcNode(id: Long, typ: Int, x: Double, y: Double, z: Double,
                           radius: Double, parent: Long)

  final case class MorphMetrics(
      morph_id: Long, n_neurites: Long, n_points: Long, n_sections: Long,
      max_branch_order: Long, total_len_um: Long, n_radical: Long,
      n_single_child: Long, n_multifurc: Long, n_hetero_neurites: Long)

  /** radical-diameter threshold: max % of radius variation per µm
    * (custom_validation.py:41 uses max_change=10 per um). */
  val MaxChangePct = 10

  // --------------------------------------------------------- header parse

  val ExpectedCols: Set[String] = Set("type", "x", "y", "z", "radius", "parent")
  private val Synonyms = Map("r" -> "radius")
  private val Ignored = Set("n", "index")

  /** Find the column line among the leading comment lines: tokens are
    * lowercased, '#' markers and 'n'/'index' dropped, 'r' mapped to
    * 'radius'; the first line containing all expected columns wins —
    * the reference's parse_header_and_comments discipline
    * (check_swc_on_resource.py:25-44). Fails loud if none matches. */
  def parseHeader(lines: Seq[String], maxScan: Int = 10): Seq[String] =
    lines.take(maxScan).iterator.map { line =>
      line.trim.split("\\s+").toSeq
        .map(_.toLowerCase(java.util.Locale.ROOT))
        .filterNot(t => t.startsWith("#") || Ignored.contains(t))
        .map(t => Synonyms.getOrElse(t, t))
    }.find(toks => ExpectedCols.subsetOf(toks.toSet))
      .getOrElse(throw new IllegalArgumentException(
        s"could not parse SWC columns in the first $maxScan lines"))

  /** REAL SWC parse: header discipline above, then field-order-aware
    * row parse (the header dictates which column is which — a permuted
    * header reorders every row's fields). */
  def parseSwc(bytes: Array[Byte]): Seq[SwcNode] = {
    val lines = new String(bytes, US_ASCII).split("\n").toSeq
    val cols = parseHeader(lines)
    val idx = cols.zipWithIndex.toMap
    lines.iterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { line =>
        val toks = line.split("\\s+")
        require(toks.length == cols.length + 1,
          s"SWC row has ${toks.length} fields, expected ${cols.length + 1}: '$line'")
        def f(name: String): String = toks(idx(name) + 1)
        try SwcNode(toks(0).toLong, f("type").toInt, f("x").toDouble,
          f("y").toDouble, f("z").toDouble, f("radius").toDouble, f("parent").toLong)
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(s"non-numeric SWC field in '$line'")
        }
      }.toVector
  }

  // ------------------------------------------------------------ tree walk

  /** Validated section decomposition — the shared walk state q79's
    * metrics and q98's region attribution both build on (one
    * decomposition, two consumers: they cannot disagree on what a
    * section is). `sectionOf` maps every non-soma node to its section
    * start id; `sectionEnd` maps each section start to its LAST node
    * (the chain end — the "leaf point" of a terminal section);
    * `childSections` is the section graph. */
  private[operators] final case class Decomp(
      byId: Map[Long, SwcNode], soma: SwcNode,
      children: Map[Long, Vector[SwcNode]],
      starts: Seq[SwcNode],
      sectionOf: scala.collection.Map[Long, Long],
      sectionEnd: scala.collection.Map[Long, Long],
      childSections: Map[Long, Seq[Long]]) {
    def kids(id: Long): Vector[SwcNode] = children.getOrElse(id, Vector.empty)
    /** sections with no child sections — the projection/leaf sections. */
    def leafSections: Seq[SwcNode] =
      starts.filter(st => childSections.getOrElse(st.id, Nil).isEmpty)
  }

  /** Validate the tree (one soma root, no dangling parents, everything
    * reachable) and decompose it into sections: breaks at soma
    * children, branch-point children, and type changes. */
  private[operators] def decompose(nodes: Seq[SwcNode]): Decomp = {
    require(nodes.nonEmpty, "empty morphology")
    val byId = nodes.map(n => n.id -> n).toMap
    require(byId.size == nodes.size, "duplicate node ids")
    val roots = nodes.filter(_.parent == -1L)
    require(roots.length == 1, s"expected exactly one root, got ${roots.length}")
    val soma = roots.head
    require(soma.typ == 1, s"root must be a soma (type 1), got type ${soma.typ}")
    nodes.foreach(n => require(n.parent == -1L || byId.contains(n.parent),
      s"node ${n.id} references missing parent ${n.parent}"))
    val children: Map[Long, Vector[SwcNode]] =
      nodes.filter(_.parent != -1L).groupBy(_.parent)
        .map { case (p, ns) => p -> ns.sortBy(_.id).toVector }
    def kids(id: Long): Vector[SwcNode] = children.getOrElse(id, Vector.empty)

    // reachability: every node hangs off the soma — a cycle or orphan
    // subtree is a malformed reconstruction, not a metric of 0
    var reached = 0
    var stack = List(soma.id)
    while (stack.nonEmpty) {
      val h = stack.head; stack = stack.tail; reached += 1
      kids(h).foreach(c => stack = c.id :: stack)
    }
    require(reached == nodes.length,
      s"${nodes.length - reached} nodes unreachable from the soma")

    // section decomposition: break at soma children, branch-point
    // children, and type changes
    def isStart(n: SwcNode): Boolean =
      n.parent == soma.id || kids(n.parent).length != 1 ||
        byId(n.parent).typ != n.typ
    val starts = nodes.filter(n => n.parent != -1L && isStart(n))
    val sectionOf = scala.collection.mutable.LongMap.empty[Long]
    val sectionEnd = scala.collection.mutable.LongMap.empty[Long]
    starts.foreach { st =>
      var cur = st
      sectionOf(cur.id) = st.id
      var cont = true
      while (cont) {
        val ks = kids(cur.id)
        if (ks.length == 1 && !isStart(ks.head)) {
          cur = ks.head; sectionOf(cur.id) = st.id
        } else cont = false
      }
      sectionEnd(st.id) = cur.id
    }
    // section graph: child sections hang off the node their start's
    // parent lives in
    val childSections: Map[Long, Seq[Long]] =
      starts.filter(_.parent != soma.id).groupBy(st => sectionOf(st.parent))
        .map { case (sec, sts) => sec -> sts.map(_.id) }
    Decomp(byId, soma, children, starts, sectionOf, sectionEnd, childSections)
  }

  /** branch order per section = BFS depth from the root sections —
    * shared by q79's max and q98c's per-type distribution. */
  private[operators] def sectionDepths(dec: Decomp): scala.collection.Map[Long, Long] = {
    val depth = scala.collection.mutable.LongMap.empty[Long]
    var frontier = dec.starts.filter(_.parent == dec.soma.id).map(_.id).toList
    frontier.foreach(depth(_) = 0L)
    while (frontier.nonEmpty)
      frontier = frontier.flatMap(s =>
        dec.childSections.getOrElse(s, Nil).map { c => depth(c) = depth(s) + 1; c })
    depth
  }

  /** The REAL tree walk: validates + decomposes via [[decompose]],
    * walks the section graph for branch orders, and runs the
    * per-segment screens. Generic over any parsed SWC content. */
  def treeMetrics(morphId: Long, nodes: Seq[SwcNode]): MorphMetrics =
    treeMetrics(morphId, nodes, decompose(nodes))

  private[operators] def treeMetrics(morphId: Long, nodes: Seq[SwcNode],
                                     dec: Decomp): MorphMetrics = {
    val byId = dec.byId
    val soma = dec.soma
    def kids(id: Long): Vector[SwcNode] = dec.kids(id)

    val stems = kids(soma.id)

    // heterogeneous neurites: >1 distinct node type within a stem subtree
    var nHetero = 0L
    stems.foreach { st =>
      val types = scala.collection.mutable.Set.empty[Int]
      var s2 = List(st)
      while (s2.nonEmpty) {
        val h = s2.head; s2 = s2.tail
        types += h.typ
        kids(h.id).foreach(c => s2 = c :: s2)
      }
      if (types.size > 1) nHetero += 1
    }

    val starts = dec.starts
    val childSections = dec.childSections
    val depth = sectionDepths(dec)
    val maxOrder = if (depth.isEmpty) 0L else depth.values.max
    val nSingleChild =
      starts.count(st => childSections.getOrElse(st.id, Nil).length == 1).toLong
    val nMultifurc =
      nodes.count(n => n.id != soma.id && kids(n.id).length > 2).toLong

    // per-segment screens: total euclidean length; radical diameter
    // changes in the exact squared-integer form (soma segments excluded)
    var totalLen = 0.0
    var nRadical = 0L
    nodes.foreach { n =>
      if (n.parent != -1L) {
        val p = byId(n.parent)
        val dx = n.x - p.x; val dy = n.y - p.y; val dz = n.z - p.z
        val d2 = dx * dx + dy * dy + dz * dz
        totalLen += math.sqrt(d2)
        if (p.id != soma.id) {
          val dr = 100.0 * (n.radius - p.radius)
          val rs = MaxChangePct * (n.radius + p.radius)
          if (dr * dr > rs * rs * d2) nRadical += 1
        }
      }
    }

    MorphMetrics(morphId, stems.length.toLong, nodes.length.toLong,
      starts.length.toLong, maxOrder, math.round(totalLen), nRadical,
      nSingleChild, nMultifurc, nHetero)
  }

  // -------------------------------------------------------------- fixture

  /** Synthetic SWC FIXTURE: the tree shape is a closed form of the
    * entity id — T = 1 + id%3 stems, each a complete binary tree of
    * sections with depth D = 1 + id%4 (secs = 2^(D+1) − 1 sections),
    * S = 2 + id%5 points per section. Node ids are dense (soma = 1);
    * every non-soma node i sits at axis (i%3), offset 1 + (i%3) from
    * its parent (so each segment's length is an exact small integer),
    * radius 5 except spikes of 50 at i%13 == 0 (soma 10). Deterministic
    * defects exercise each screen:
    *   - id%5 == 0: neurite 0's last section flips to type 3 →
    *     heterogeneous neurite
    *   - id%7 == 0: a type-4 chain extends neurite 0's deepest leaf →
    *     type-change section break → a single-child section, +1 branch
    *     order, and another heterogeneous flag
    *   - id%11 == 0: a third child under neurite 0's root-section end →
    *     multifurcation
    * The DuckDB oracle (SparkEntry) replays exactly this closed form;
    * the parser/walk above never sees it. */
  def synthSwc(id: Long): Array[Byte] = {
    val t0 = (1 + id % 3).toInt
    val d = (1 + id % 4).toInt
    val sp = (2 + id % 5).toInt
    val secs = (1 << (d + 1)) - 1
    val e7 = id % 7 == 0
    val e11 = id % 11 == 0

    val rows = scala.collection.mutable.ArrayBuffer.empty[SwcNode]
    val pos = scala.collection.mutable.LongMap.empty[(Long, Long, Long)]
    rows += SwcNode(1L, 1, 0, 0, 0, 10, -1L)
    pos(1L) = (0L, 0L, 0L)
    def add(i: Long, par: Long, typ: Int): Unit = {
      val (px, py, pz) = pos(par)
      val l = 1L + (i % 3)
      val p2 = (i % 3) match {
        case 0 => (px + l, py, pz)
        case 1 => (px, py + l, pz)
        case _ => (px, py, pz + l)
      }
      pos(i) = p2
      val r = if (i % 13 == 0) 50.0 else 5.0
      rows += SwcNode(i, typ, p2._1.toDouble, p2._2.toDouble, p2._3.toDouble, r, par)
    }
    for (t <- 0 until t0; s <- 0 until secs; k <- 0 until sp) {
      val i = 2L + t.toLong * secs * sp + s.toLong * sp + k
      val par =
        if (k > 0) i - 1
        else if (s == 0) 1L
        else 2L + t.toLong * secs * sp + ((s - 1) / 2).toLong * sp + sp - 1
      val typ = if (id % 5 == 0 && t == 0 && s == secs - 1) 3 else 2 + t % 3
      add(i, par, typ)
    }
    val eBase = 2L + t0.toLong * secs * sp
    if (e7) for (k <- 0 until sp)
      add(eBase + k, if (k > 0) eBase + k - 1 else 1L + secs.toLong * sp, 4)
    val fBase = eBase + (if (e7) sp else 0)
    if (e11) for (k <- 0 until sp)
      add(fBase + k, if (k > 0) fBase + k - 1 else sp + 1L, 2)

    // header variant by id: synonym 'r', canonical, or a PERMUTED column
    // order (radius before the coordinates) — the parser must honor the
    // header, not assume a layout
    val (hdr, order) = (id % 3) match {
      case 0 => ("# n type x y z r parent", Seq("type", "x", "y", "z", "radius", "parent"))
      case 1 => ("# n type x y z radius parent", Seq("type", "x", "y", "z", "radius", "parent"))
      case _ => ("# n type radius x y z parent", Seq("type", "radius", "x", "y", "z", "parent"))
    }
    val sb = new StringBuilder
    sb.append("# synthetic morphology ").append(id).append('\n')
    sb.append(hdr).append('\n')
    rows.foreach { n =>
      val byName = Map(
        "type" -> n.typ.toString,
        "x" -> n.x.toLong.toString, "y" -> n.y.toLong.toString, "z" -> n.z.toLong.toString,
        "radius" -> n.radius.toLong.toString,
        "parent" -> n.parent.toString)
      sb.append(n.id).append(' ').append(order.map(byName).mkString(" ")).append('\n')
    }
    sb.toString.getBytes(US_ASCII)
  }

  /** Morphology frame over the documents table: one SWC payload per
    * entity — the opaque-binary-column shape a real ingest carries. */
  def morphFrame(documents: DataFrame): Dataset[MorphRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].map(id => MorphRow(id, synthSwc(id)))
  }

  /** the decode stage alone: parse + tree-walk per partition. */
  private def decodeStage(rows: Dataset[MorphRow]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.mapPartitions(_.map(r => treeMetrics(r.morph_id, parseSwc(r.swc)))).toDF()
  }

  /** q79: parse + tree-walk every payload (row-local, per-partition),
    * one metrics row per entity. The repartition evens payload skew
    * before the decode stage, same as q41's extractFeatures. */
  def morphMetrics(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    decodeStage(Scale.decodeSpread(morphFrame(documents), "morph_id")
        .as[MorphRow])
      .orderBy("morph_id")
  }

  /** stream-safe decode: the same parser and tree walk, stateless and
    * row-local (no repartition, no sort) — runs unchanged on a
    * readStream documents frame (graft.streaming.DocStreams
    * .morphMetricsStream, spec-equal to the batch q79). */
  def morphMetricsRowLocal(documents: DataFrame): DataFrame =
    decodeStage(morphFrame(documents))
}
