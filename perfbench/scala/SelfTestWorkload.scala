package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's own positive control, run by perfbench/test_perfbench.py
  * and by no benchmark workload. Per pass:
  *  - `build_job` starts one 7-task job while building and returns a
  *    1-partition frame, so the listener must book 1 job and 7 tasks to the
  *    build span and 1 job and 1 task to the execute span;
  *  - `throws` fails while building;
  *  - `corrupted` returns the right row count with the wrong content. */
final class SelfTestWorkload(spark: SparkSession) extends Workload {
  def stage(): Unit = ()
  def ops(pass: Int): Seq[Op] = Seq(
    Op("build_job", "operators", () => {
      spark.sparkContext.parallelize(1 to 70, 7).count()
      Some(spark.range(0, 10, 1, 1).toDF())
    }, Ref.Frame(() => spark.range(0, 10, 1, 1).toDF())),
    Op("throws", "operators", () => throw new IllegalStateException("deliberate failure"),
      Ref.Frame(() => spark.range(1).toDF())),
    Op("corrupted", "operators", () => Some(spark.range(0, 5, 1, 1).selectExpr("id + 1 AS id")),
      Ref.Frame(() => spark.range(0, 5, 1, 1).toDF())))
}
