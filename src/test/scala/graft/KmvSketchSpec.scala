package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.KmvSketch

class KmvSketchSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("kmv sketch is exact below k") {
    val df = (1 to 100).map(i => s"val$i").toDF("s")
    val sketch = df.agg(KmvSketch.kmv_sketch(xxhash64(col("s")), k = 256))
      .collect().head.getSeq[Long](0)
    assert(sketch.size == 100)
    assert(KmvSketch.estimate(sketch, 256) == 100.0)
  }

  test("kmv sketch estimates large distinct counts within 15%") {
    val df = (1 to 50000).map(i => s"item$i").toDF("s")
      .repartition(8) // force partial buffers + merge
    val sketch = df.agg(KmvSketch.kmv_sketch(xxhash64(col("s")), k = 256))
      .collect().head.getSeq[Long](0)
    assert(sketch.size == 256)
    val est = KmvSketch.estimate(sketch, 256)
    assert(math.abs(est - 50000) / 50000 < 0.15, s"estimate $est")
  }

  test("the q23 KMV swap is exact at the fixture's below-k cardinalities") {
    // the KMV_r18 q23_swap cell's accuracy claim as a standing fence:
    // per-part supplier distincts sit below k=64, so the sketch holds
    // every hash and n_suppliers_est must EQUAL q23's exact column row
    // for row — the wire collapse (the expand removal) costs nothing
    // here; the estimate error is only ever paid above k (the cell
    // below and high_card_swap price that regime)
    val part = Tables.part(spark, sf)
    val lineitem = Tables.lineitem(spark, sf)
    val exact = graft.operators.Curation.featureAnnotations(part, lineitem)
      .select(col("p_partkey"), col("n_suppliers"))
    val est = graft.operators.Curation.featureAnnotationsKmv(part, lineitem)
      .select(col("p_partkey"), col("n_suppliers_est").as("n_suppliers"))
    assert(exact.exceptAll(est).count() == 0 && est.exceptAll(exact).count() == 0,
      "below k the sketch estimate must equal the exact distinct count")
  }

  test("kmv sketch works per group") {
    val docs = Tables.documents(spark, sf)
    val out = docs.groupBy("lang")
      .agg(KmvSketch.kmv_sketch(xxhash64(col("text")), k = 64).as("sk"),
        countDistinct(col("text")).as("exact"))
      .collect()
    out.foreach { r =>
      val est = KmvSketch.estimate(r.getSeq[Long](r.fieldIndex("sk")), 64)
      val exact = r.getLong(r.fieldIndex("exact"))
      assert(math.abs(est - exact) / math.max(exact, 1) < 0.35,
        s"lang ${r.getString(0)}: est $est vs exact $exact")
    }
  }
}
