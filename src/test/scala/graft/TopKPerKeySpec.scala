package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TopKPerKey

class TopKPerKeySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // 50 keys × 200 values, deterministic pseudo-random scores
  private val rows = (0 until 10000).map { i =>
    (i % 50L, i.toLong, ((i * 2654435761L) % 1000003L).toDouble)
  }
  private lazy val data = rows.toDF("key", "id", "score")

  test("topKPerKey equals the window row_number formulation") {
    val viaOp = TopKPerKey(data, Seq(col("key")), Seq(col("score").desc, col("id")), 5)
      .select("key", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = Window.partitionBy("key").orderBy(col("score").desc, col("id"))
    val viaWindow = data.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("key", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaOp == viaWindow)
    assert(viaOp.size == 250)
  }

  test("plan shows the two-phase custom exec with an exchange between") {
    val df = TopKPerKey(data, Seq(col("key")), Seq(col("score").asc), 3)
    val plan = df.queryExecution.executedPlan.toString()
    assert("TopKPerKey \\[".r.findAllIn(plan).length == 2,
      s"expected partial+final phases:\n$plan")
    assert(plan.contains("Exchange hashpartitioning"),
      "expected a clustering exchange between phases")
  }

  test("RewriteWindowTopK collapses the row_number idiom into the custom operator") {
    // the route users take: a session built with GraftExtensions; the
    // shared session is left as it was, so no later suite inherits it
    val before = spark.experimental.extraOptimizations
    val w = Window.partitionBy("key").orderBy(col("score").desc, col("id"))
    def idiom(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
    def topRows(df: org.apache.spark.sql.DataFrame) = df.select("key", "id", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ext = org.apache.spark.sql.classic.SparkSession.builder()
      .withExtensions(new GraftExtensions).create()
    try {
      val q = idiom(ext.createDataFrame(rows).toDF("key", "id", "score"))
      val plan = q.queryExecution.executedPlan.toString()
      assert("TopKPerKey \\[".r.findAllIn(plan).length == 2,
        s"rewrite did not fire:\n$plan")
      // results identical to the un-rewritten window (rn column included)
      val baseline = idiom(data)
      assert(!baseline.queryExecution.executedPlan.toString().contains("TopKPerKey"),
        "the shared session must not rewrite")
      assert(topRows(q) == topRows(baseline))
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    }
    assert(spark.experimental.extraOptimizations == before,
      "the shared session's optimizer rules must be unchanged")
  }

  test("ascending ordering keeps the smallest k") {
    val small = Seq((1L, 1L, 5.0), (1L, 2L, 1.0), (1L, 3L, 3.0), (2L, 4L, 9.0))
      .toDF("key", "id", "score")
    val out = TopKPerKey(small, Seq(col("key")), Seq(col("score").asc), 2)
      .select("key", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L), (1L, 3L), (2L, 4L)))
  }
}
