package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Atlas, Ontology}

class OntologySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("transitive closure finds all ancestor paths with depths") {
    val edges = Seq(
      ("leaf1", "mid"), ("leaf2", "mid"), ("mid", "root")
    ).toDF("child", "parent")
    val out = Ontology.transitiveClosure(edges).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(out == Set(
      ("leaf1", "mid", 1), ("leaf2", "mid", 1), ("mid", "root", 1),
      ("leaf1", "root", 2), ("leaf2", "root", 2)))
  }

  private def paths(df: DataFrame): Seq[(String, String, Int)] =
    df.select("node", "ancestor", "depth").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq.sorted

  test("a cycle stops at the depth bound") {
    val out = paths(Ontology.transitiveClosure(
      Seq(("a", "b"), ("b", "a")).toDF("child", "parent")))
    // one path per start node per depth; odd depths reach the other
    // node, even depths come back to the start
    assert(out == (1 to Ontology.MaxDepth).flatMap { d =>
      Seq(("a", if (d % 2 == 1) "b" else "a", d), ("b", if (d % 2 == 1) "a" else "b", d))
    }.sorted)
  }

  test("a DAG node reachable two ways appears twice") {
    val out = paths(Ontology.transitiveClosure(
      Seq(("d", "b"), ("d", "c"), ("b", "a"), ("c", "a")).toDF("child", "parent")))
    assert(out == Seq(("b", "a", 1), ("c", "a", 1), ("d", "a", 2), ("d", "a", 2),
      ("d", "b", 1), ("d", "c", 1)))
  }

  test("an empty edge list gives an empty closure with the path schema") {
    val out = Ontology.transitiveClosure(Seq.empty[(String, String)].toDF("child", "parent"))
    assert(out.collect().isEmpty)
    assert(out.schema.map(f => f.name -> f.dataType) ==
      Seq("node" -> StringType, "ancestor" -> StringType, "depth" -> IntegerType))
  }

  test("an edge list above the ceiling fails, naming the operator and the count") {
    val n = Ontology.MaxEdges + 1
    val edges = spark.range(n)
      .select(col("id").cast("string").as("child"), lit("root").as("parent"))
    val e = intercept[IllegalArgumentException](Ontology.transitiveClosure(edges))
    assert(e.getMessage.contains("Ontology.transitiveClosure") &&
      e.getMessage.contains(s"saw $n"), e.getMessage)
  }

  test("geoClosure rows are exactly the geoAncestors rows at depth >= 1") {
    val (r, n) = (Tables.region(spark, sf), Tables.nation(spark, sf))
    val closure = paths(Ontology.geoClosure(r, n))
    assert(closure.nonEmpty)
    assert(closure == paths(Atlas.geoAncestors(r, n).filter(col("depth") >= 1)))
  }

  test("vec_dot is available via SQL through GraftExtensions-style registration") {
    graft.functions.Kernels.registerSql(spark)
    val r = spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").collect()
    assert(r.head.getDouble(0) == 11.0)
    val n = spark.sql("SELECT vec_norm_sq(array(3.0d, 4.0d)) AS n").collect()
    assert(n.head.getDouble(0) == 25.0)
    // the integer siblings: exact int64 dot/norm over array<bigint>
    val ld = spark.sql("SELECT lvec_dot(array(1L, 2L), array(3L, 4L)) AS d").collect()
    assert(ld.head.getLong(0) == 11L)
    val ln = spark.sql("SELECT lvec_norm_sq(array(3L, 4L)) AS n").collect()
    assert(ln.head.getLong(0) == 25L)
  }

  test("log2mb is available via SQL registration") {
    graft.functions.Kernels.registerSql(spark)
    val r = spark.sql(
      "SELECT log2mb(1L, 1024L) AS a, log2mb(7L, 7L) AS b, log2mb(3L, 7L) AS c")
      .collect().head
    assert(r.getLong(0) == 10L * 1024 && r.getLong(1) == 0L)
    // floor semantics: log2(7/3) ≈ 1.2224 bits → 1251.xx mb, floored
    val truth = math.log(7.0 / 3) / math.log(2.0) * 1024.0
    assert(r.getLong(2) <= truth && r.getLong(2) >= truth - 2.0)
  }

  test("hash-sketch expressions are available via SQL registration") {
    graft.functions.Kernels.registerSql(spark)
    // simhash of one token hash = that hash's set bits
    val s = spark.sql("SELECT simhash64(array(5L)) AS s").collect()
    assert(s.head.getLong(0) == 5L)
    // shingle hashes: 3 tokens, k=2 → 2 shingles, each a 60-bit value
    val sh = spark.sql(
      "SELECT md5_shingle_hashes(array('a','b','c'), 2) AS sh").collect()
      .head.getSeq[Long](0)
    assert(sh.length == 2 && sh.forall(h => h >= 0 && h < (1L << 60)))
    // minhash over those shingles: 4 permuted minima below the modulus
    val mh = spark.sql(
      "SELECT affine_minhash(md5_shingle_hashes(array('a','b','c'), 2), 4) AS mh").collect()
      .head.getSeq[Long](0)
    assert(mh.length == 4 && mh.forall(v => v >= 0 && v < graft.operators.Dedup.Mersenne61))
    // saturated hashed counts: 3 copies of one token land in one
    // bucket; the clamp caps the count; non-literal params rejected
    val bc = spark.sql(
      "SELECT bucket_count_vec(array('x','x','x','y'), 'ret:', 8, 2) AS v").collect()
      .head.getSeq[Long](0)
    // 3 x's clamp to 2; y adds 1 (to its own bucket, or to x's if the
    // two hashes collide mod 8 — then the shared bucket stays clamped)
    assert(bc.length == 8 && bc.max == 2L && (bc.sum == 3L || bc.sum == 2L),
      s"clamped counts expected, got $bc")
  }

  test("GraftExtensions injects every function of the one SQL table, and only those") {
    // one call per table entry, each evaluated in a session built with
    // the extension (not through registerSql)
    val calls = Map(
      "simhash64" -> "simhash64(array(5L))",
      "array_freq_stats" -> "array_freq_stats(array(1L, 1L, 2L))",
      "md5_shingle_hashes" -> "md5_shingle_hashes(array('a', 'b', 'c'), 2)",
      "affine_minhash" -> "affine_minhash(array(1L, 2L), 4)",
      "bucket_count_vec" -> "bucket_count_vec(array('x', 'y'), 'ret:', 8, 2)",
      "cdc_chunks" -> "cdc_chunks(array('a', 'b', 'c'), 2, 4)",
      "vec_dot" -> "vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))",
      "vec_norm_sq" -> "vec_norm_sq(array(3.0d, 4.0d))",
      "lvec_dot" -> "lvec_dot(array(1L, 2L), array(3L, 4L))",
      "lvec_norm_sq" -> "lvec_norm_sq(array(3L, 4L))",
      "log2mb" -> "log2mb(1L, 1024L)")
    val names = graft.functions.Kernels.sqlBuilders.map(_._1)
    assert(names.distinct.length == names.length && names.toSet == calls.keySet, names)
    // a new session over the running SparkContext
    val ext = org.apache.spark.sql.classic.SparkSession.builder()
      .withExtensions(new GraftExtensions).create()
    try {
      // only those: against a plain session over the same context, the
      // extension adds exactly the table's names
      def functions(s: org.apache.spark.sql.SparkSession) =
        s.catalog.listFunctions().collect().map(_.name).toSet
      assert(functions(ext) -- functions(spark.newSession()) == names.toSet)
      calls.foreach { case (name, call) =>
        assert(ext.catalog.functionExists(name), name)
        assert(ext.sql(s"SELECT $call AS v").collect().head.get(0) != null, call)
      }
      assert(ext.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))").head().getDouble(0) == 11.0)
      assert(ext.sql("SELECT log2mb(1L, 1024L)").head().getLong(0) == 10L * 1024)
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    }
  }
}
