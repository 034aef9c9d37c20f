package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.LogExpressions.log2mb
import graft.operators.{Corpus, Dedup, Dsir, Frequency, LmScreen, Scale, TextModels}

/** The release's three frozen text models ([[TextModels]]): their
  * values are bit-equal to the all-Spark derivation they replace (kept
  * here as the reference: the MG sketch + verify join for rarity, the
  * vocabulary election + mapped-bigram frames + `log2mb` projections
  * for the LM, the bucket rollup + `log2mb` projection for DSIR), the
  * three builders of one release read the corpus twice in a handful of
  * jobs, and every collect they add is bounded. */
class TextModelsSpec extends AnyFunSuite {
  import TestSpark._

  private def tokCol: Column = split(trim(lower(coalesce(col("text"), lit("")))), " +")
  private val regexToks = "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)"

  private def refRarity(docs: DataFrame, phiBp: Int = 10,
                        capacity: Int = 1024): (Map[String, Long], Long) = {
    val keyed = docs.select(col("doc_id"), explode(expr(regexToks)).as("tok"))
      .withColumn("h", Dedup.md5_60(col("tok")))
    val cands = keyed
      .agg(graft.functions.MgSketch.mg_sketch(col("h"), capacity).as("c"),
        count(lit(1)).as("n_total"))
      .select(explode_outer(col("c")).as("h"), col("n_total"))
    val vocab = keyed.join(broadcast(cands.filter(col("h").isNotNull)), Seq("h"))
      .groupBy("tok", "n_total").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 10000L > col("n_total") * phiBp)
      .select("tok", "cnt")
    val total = cands.groupBy().agg(max(col("n_total")).as("n_total"))
    (vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      total.collect().headOption.map(_.getLong(0)).getOrElse(0L))
  }

  private def refLm(docs: DataFrame): LmScreen.LmModel = {
    val train = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
    val vocab = Scale.localized(train.select(explode(tokCol).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(LmScreen.VocabK).select("tok"))
    val vs = vocab.collect().map(_.getString(0)).toSeq
    def m(c: Column) = if (vs.isEmpty) lit(LmScreen.UnkTok)
      else when(c.isin(vs: _*), c).otherwise(lit(LmScreen.UnkTok))
    val pairs = train.select(tokCol.as("tk"))
      .select(explode(expr("transform(slice(sequence(0, size(tk)), 1, greatest(size(tk) - 1, 0)), " +
        "i -> struct(tk[i] AS t1, tk[i + 1] AS t2))")).as("bg"))
      .select(m(col("bg.t1")).as("m1"), m(col("bg.t2")).as("m2"))
      .groupBy("m1", "m2").agg(count(lit(1)).as("c2"))
    val ctx = pairs.groupBy("m1").agg(sum("c2").as("c1"))
    val vd = vocab.agg((count(lit(1)) + lit(1L)).as("vd"))
    val pm = pairs.join(ctx, "m1").crossJoin(vd)
      .select(col("m1"), col("m2"), log2mb(col("c2") + 1L, col("c1") + col("vd")).as("mb"))
    val cm = ctx.crossJoin(vd).select(col("m1"), log2mb(lit(1L), col("c1") + col("vd")))
    LmScreen.LmModel(vs.toSet,
      pm.collect().map(r => s"${r.getString(0)} ${r.getString(1)}" -> r.getLong(2)).toMap,
      cm.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      vd.select(log2mb(lit(1L), col("vd"))).collect().head.getLong(0))
  }

  private def refDsir(docs: DataFrame): Map[Long, Long] = {
    val b = Dsir.Buckets.toLong
    val feat = docs.select(col("doc_id"), explode(tokCol).as("t"))
      .select(col("doc_id"),
        pmod(Dedup.md5_60(concat(lit(Dsir.FeatPrefix), col("t"))), lit(b)).as("f"))
    val cnts = feat.groupBy("f").agg(count(lit(1)).as("r_f"),
      sum(when(pmod(col("doc_id"), lit(5L)) === 0, 1L).otherwise(0L)).as("t_f"))
    val full = spark.range(b).select(col("id").as("f")).join(cnts, Seq("f"), "left")
      .select(col("f"), coalesce(col("r_f"), lit(0L)).as("r_f"), coalesce(col("t_f"), lit(0L)).as("t_f"))
    val tot = full.agg(sum("r_f").as("rt"), sum("t_f").as("tt"))
    full.crossJoin(tot).select(col("f"),
        log2mb(col("r_f") + 1L, col("rt") + b) - log2mb(col("t_f") + 1L, col("tt") + b))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def assertBitEqual(docs: => DataFrame, what: String): Unit = {
    val t = TextModels.train(docs, TextModels.AllParts)
    assert(t.rarity.get == refRarity(docs), s"$what: rarity model")
    assert(t.lm.get == refLm(docs), s"$what: LM model")
    assert(t.dsir.get.delta == refDsir(docs), s"$what: DSIR model")
    assert(t.rarity.get._1.nonEmpty && t.lm.get.pairMb.nonEmpty, s"$what: vacuous models")
  }

  test("the three models are bit-equal to the all-Spark derivation at sf0.001") {
    assertBitEqual(Tables.documents(spark, sf), "sf0.001")
  }

  test("the three models are bit-equal to the all-Spark derivation on the x10 replica") {
    val replica = BenchScaleCurve.scaledDocuments(spark, sf, 10)
    assertBitEqual(replica, "x10")
  }

  test("edge corpora: null and empty texts, no train document, an empty corpus") {
    import spark.implicits._
    val odd = Seq((1L, null: String), (2L, ""), (3L, "  a  b a "), (6L, "x y x y z"))
      .toDF("doc_id", "text")
    assertEqualOrEmpty(odd)
    assertEqualOrEmpty(odd.filter(col("doc_id") < 0))
  }

  private def assertEqualOrEmpty(docs: DataFrame): Unit = {
    val t = TextModels.train(docs, TextModels.AllParts)
    assert(t.rarity.get == refRarity(docs))
    assert(t.lm.get == refLm(docs))
    assert(t.dsir.get.delta == refDsir(docs))
  }

  /** jobs started and corpus records read on this thread during `body` */
  private def cost(body: => Unit): (Long, Long) = {
    val sc = spark.sparkContext
    val tag = "graft.textmodels.cost"
    val id = java.util.UUID.randomUUID().toString
    val jobs = new AtomicLong
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) == id) {
          jobs.incrementAndGet()
          e.stageIds.foreach(s => stages.add(s))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, id)
    try {
      body
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
      (jobs.get, records.get)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("one release's three builders read the corpus twice in at most 10 jobs") {
    val n = Tables.documents(spark, sf).count()
    // each builder gets its own frame over the same files, as a release
    // script (and the benchmark) builds them
    val (jobs, records) = cost {
      Frequency.rarityModel(Tables.documents(spark, sf))
      LmScreen.lmModel(Tables.documents(spark, sf))
      Dsir.dsirModel(Tables.documents(spark, sf))
    }
    assert(records == 2 * n, s"expected exactly 2 corpus reads ($n docs each), read $records records")
    assert(jobs <= 10, s"expected at most 10 jobs, ran $jobs")
    // a parked model is handed out once: the next release trains again
    val (again, reread) = cost(LmScreen.lmModel(Tables.documents(spark, sf)))
    assert(again > 0 && reread == 2 * n, s"a second release must retrain ($again jobs, $reread records)")
    assert(LmScreen.lmModel(Tables.documents(spark, sf)) == refLm(Tables.documents(spark, sf)))
  }

  test("a parked model is not handed to a different input") {
    val docs = Tables.documents(spark, sf)
    Frequency.rarityModel(docs)
    val other = docs.filter(col("doc_id") % 2 === 0)
    val (jobs, _) = cost(assert(Dsir.dsirModel(other).delta == refDsir(other)))
    assert(jobs > 0, "a different plan must train its own model")
  }

  test("an input whose leaf carries no snapshot retrains on every call, only the part asked for") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // an RDD leaf that reads the file afresh on each computation: no
    // file index, no length or modification time the key could compare
    val file = java.nio.file.Files.createTempFile("graft_textmodels_", ".tsv")
    val path = file.toString
    def write(train: String): Unit = java.nio.file.Files.write(file, java.util.Arrays.asList(
      (0L until 20L).map(i => s"$i\t${if (i % 5 == 0) train else "x y z"}"): _*))
    val reads = spark.sparkContext.longAccumulator("corpus reads")
    val rdd = spark.sparkContext.parallelize(Seq(0), 1).flatMap { _ =>
      reads.add(1)
      val src = scala.io.Source.fromFile(path)
      try src.getLines().map { l =>
        val Array(i, t) = l.split("\t", 2); Row(i.toLong, t) }.toList
      finally src.close()
    }
    val docs = spark.createDataFrame(rdd,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    try {
      write("a b a b a")
      val before = TextModels.train(docs, TextModels.AllParts)
      reads.reset()
      Frequency.rarityModel(docs)
      assert(reads.value == 2, s"rarity alone is two corpus reads, saw ${reads.value}")
      write("c d c d c")
      reads.reset()
      val lm = LmScreen.lmModel(docs)
      assert(reads.value == 2, s"the LM alone is two corpus reads, saw ${reads.value}")
      assert(lm != before.lm.get && lm == refLm(docs), "the LM must be trained on the data as it is now")
      reads.reset()
      val ds = Dsir.dsirModel(docs)
      assert(reads.value == 1, s"DSIR alone is one corpus read, saw ${reads.value}")
      assert(ds.delta == refDsir(docs))
    } finally java.nio.file.Files.delete(file)
  }

  test("the model collects fail naming the site and the size they saw") {
    val docs = Tables.documents(spark, sf)
    val e = intercept[IllegalArgumentException](Scale.bounded(
      TextModels.secondRead(docs, Nil, Seq("the"), TextModels.LmOnly),
      3, "TextModels.secondRead"))
    assert(e.getMessage.contains("TextModels.secondRead") && e.getMessage.contains("saw 4"), e.getMessage)
  }

  test("per-source and per-language stats collects are bounded (positive controls)") {
    import spark.implicits._
    val manyLangs = (0 until Corpus.MaxLanguages + 1)
      .map(i => (i.toLong, s"l$i", "s", 5L, "a b c")).toDF("doc_id", "lang", "source", "n_chars", "text")
    val e1 = intercept[IllegalArgumentException](Corpus.temperatureMix(manyLangs))
    assert(e1.getMessage.contains("Corpus.temperatureMix") &&
      e1.getMessage.contains(s"saw ${Corpus.MaxLanguages + 1}"), e1.getMessage)
    val manySources = (0 until Corpus.MaxSources + 1)
      .map(i => (i.toLong, "en", s"s$i", 5L, "a b c")).toDF("doc_id", "lang", "source", "n_chars", "text")
    val e2 = intercept[IllegalArgumentException](Corpus.mixtureBalance(manySources, Nil, 100))
    assert(e2.getMessage.contains("Corpus.mixtureBalance") &&
      e2.getMessage.contains(s"saw ${Corpus.MaxSources + 1}"), e2.getMessage)
    // and at the ceiling both build
    Corpus.temperatureMix(manyLangs.filter(col("doc_id") < Corpus.MaxLanguages))
  }
}
