package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.read` hands the reader the schema that Spark's own inference
  * would derive, read from one footer on the driver. Pinned here: the
  * schema is identical to `spark.read.parquet`'s on every fixture table,
  * on a partitioned table and on a nanos-timestamp file under either
  * `nanosAsLong` setting; summary files and empty directories take
  * Spark's own path; and the read launches no Spark job (with a positive
  * control that plain inference does launch one, so the fence can fire).
  */
class TablesReadSpec extends AnyFunSuite {
  import TestSpark._

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Spark jobs started on this thread while `body` runs */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft.tables.read.fence"
    val id = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) == id) n.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, id)
    try {
      body
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
      n.get
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** an events-shaped file with ts as int64 TIMESTAMP(NANOS), written
    * without Spark's schema metadata so the converter decides its type */
  private def nanosFile(dir: String): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { optional int64 event_id; " +
        "optional int64 ts (TIMESTAMP(NANOS,false)); optional binary event_type (UTF8); }")
    val file = new org.apache.hadoop.fs.Path(s"$dir/part-00000.parquet")
    val writer = ExampleParquetWriter.builder(file).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try {
      val groups = new SimpleGroupFactory(schema)
      Seq(1L -> "view", 2L -> "click").foreach { case (id, t) =>
        writer.write(groups.newGroup().append("event_id", id)
          .append("ts", 1700000000000000000L + id).append("event_type", t))
      }
    } finally writer.close()
    dir
  }

  private def sameError(a: => Any, b: => Any): Unit = {
    val ea = intercept[Throwable](a)
    val eb = intercept[Throwable](b)
    def condition(e: Throwable) = e match {
      case s: org.apache.spark.SparkThrowable => Option(s.getCondition)
      case _ => None
    }
    assert(ea.getClass == eb.getClass && condition(ea) == condition(eb),
      s"Tables.read raised ${ea.getClass.getName}(${condition(ea)}), " +
        s"spark.read.parquet ${eb.getClass.getName}(${condition(eb)})")
  }

  /** the schema `Tables.read` gives `p`, asserting it came from the
    * footer (no inference job), so an equality check cannot pass by way
    * of the fallback */
  private def footerRead(p: String): org.apache.spark.sql.types.StructType = {
    var schema: org.apache.spark.sql.types.StructType = null
    assert(jobsDuring { schema = Tables.read(spark, p).schema } == 0, s"$p fell back")
    schema
  }

  test("every fixture table: the footer schema equals inference") {
    Tables.all.foreach { name =>
      val p = s"$sf/$name.parquet"
      withConf(nanosKey, (name == "events").toString) {
        assert(footerRead(p) == spark.read.parquet(p).schema, name)
      }
    }
  }

  test("a segment-partitioned table: data schema from the footer, partition column inferred") {
    val p = tmp("graft_tables_part_") + "/state"
    Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"), col("c_acctbal"))
      .write.partitionBy("segment").parquet(p)
    val got = footerRead(p)
    assert(got == spark.read.parquet(p).schema)
    assert(got.fieldNames.last == "segment")
    assert(Tables.read(spark, p).count() == Tables.customer(spark, sf).count())
  }

  test("events with nanos timestamps: nanosAsLong decides, exactly as inference") {
    val p = nanosFile(tmp("graft_tables_nanos_"))
    withConf(nanosKey, "true") {
      assert(footerRead(p) == spark.read.parquet(p).schema)
      val got = Tables.read(spark, p)
      assert(got.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      assert(got.select("ts").collect().map(_.getLong(0)).toSet ==
        Set(1700000000000000001L, 1700000000000000002L))
    }
    withConf(nanosKey, "false") {
      sameError(Tables.read(spark, p), spark.read.parquet(p))
    }
  }

  test("a _common_metadata summary takes Spark's own inference") {
    // the summary carries one more column than the data files, so the
    // schema shows which path was taken: inference prefers the summary
    val p = tmp("graft_tables_summary_") + "/t"
    val other = tmp("graft_tables_summary_src_") + "/t"
    val rows = Tables.region(spark, sf)
    rows.write.parquet(p)
    rows.withColumn("extra", lit(1L)).coalesce(1).write.parquet(other)
    val summarySource = Files.list(Paths.get(other)).filter(
      _.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.copy(summarySource, Paths.get(p, "_common_metadata"), StandardCopyOption.REPLACE_EXISTING)
    val inferred = spark.read.parquet(p).schema
    assert(inferred.fieldNames.contains("extra"), "precondition: inference reads the summary")
    var got: org.apache.spark.sql.types.StructType = null
    assert(jobsDuring { got = Tables.read(spark, p).schema } >= 1,
      "the summary must send the read down Spark's own inference")
    assert(got == inferred)
  }

  test("an empty directory raises the same error as spark.read.parquet") {
    val p = tmp("graft_tables_empty_")
    sameError(Tables.read(spark, p), spark.read.parquet(p))
    sameError(Tables.read(spark, p + "/missing"), spark.read.parquet(p + "/missing"))
  }

  test("fence: the footer read launches no Spark job; plain inference launches one") {
    val p = tmp("graft_tables_fence_") + "/t"
    Tables.nation(spark, sf).write.partitionBy("n_regionkey").parquet(p)
    assert(jobsDuring(spark.read.parquet(p)) == 1,
      "positive control: schema inference is a Spark job")
    assert(jobsDuring(Tables.read(spark, p)) == 0)
    assert(jobsDuring(Tables.orders(spark, sf)) == 0)
  }
}
