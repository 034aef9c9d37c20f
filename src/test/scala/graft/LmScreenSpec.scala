package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LmScreen

/** q100 — bigram LM perplexity screen. The load-bearing claim is the
  * fixed-point log2 kernel: pure int64 floor arithmetic, so the DuckDB
  * oracle replays it digit-for-digit. The spec checks the kernel
  * against StrictMath on a wide (a, b) sweep, pins its floor/boundary
  * behavior, and then checks the operator-level bookkeeping. */
class LmScreenSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** run the kernel on literal (a, b) pairs. */
  private def kernel(pairs: Seq[(Long, Long)]): Map[(Long, Long), Long] = {
    val df = pairs.toDF("a", "b")
    df.withColumn("mb", graft.functions.LogExpressions.log2mb(col("a"), col("b")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
  }

  test("kernel is exact at powers of two and zero at ratio 1") {
    val pairs = (0 to 61).map(e => (1L, 1L << e)) :+ ((7L, 7L))
    val got = kernel(pairs)
    (0 to 61).foreach { e =>
      assert(got((1L, 1L << e)) === e.toLong * 1024, s"log2(2^$e)")
    }
    assert(got((7L, 7L)) === 0L)
  }

  test("kernel tracks StrictMath log2 within 2/1024 bit, always from below") {
    val as = Seq(1L, 2L, 3L, 7L, 17L, 100L, 999L, 12345L)
    val bs = Seq(1L, 3L, 10L, 63L, 64L, 65L, 1000L, 99999L, 1234567L, Int.MaxValue.toLong)
    val pairs = for (a <- as; b <- bs if b >= a) yield (a, b)
    val got = kernel(pairs)
    pairs.foreach { case (a, b) =>
      val truth = StrictMath.log(b.toDouble / a) / StrictMath.log(2.0) * 1024.0
      val mb = got((a, b))
      assert(mb <= truth + 1e-6, s"floor semantics: mb=$mb > truth=$truth for ($a,$b)")
      assert(mb >= truth - 2.0, s"precision: mb=$mb < truth-2=$truth for ($a,$b)")
    }
  }

  test("kernel stays exact across the full 2^62 count domain") {
    // the restoring division never forms b·2^30, so nothing special
    // happens at 2^31 or 2^33 — spot the fences and the far end
    val pairs = Seq((1L, (1L << 31) - 1), (1L, 1L << 31), (3L, (1L << 31) + 7),
      (1000L, 1L << 45), (123456789L, 987654321012L),
      (1L, (1L << 62) - 1), ((1L << 40) + 17, (1L << 61) + 3))
    val got = kernel(pairs)
    pairs.foreach { case (a, b) =>
      val truth = StrictMath.log(b.toDouble / a) / StrictMath.log(2.0) * 1024.0
      val mb = got((a, b))
      assert(mb <= truth + 1e-6 && mb >= truth - 2.0,
        s"($a,$b): $mb vs $truth")
    }
  }

  test("kernel is monotone in b/a on a dense local sweep") {
    val pairs = (100L to 300L).map(b => (100L, b))
    val got = kernel(pairs)
    (101L to 300L).foreach { b =>
      assert(got((100L, b)) >= got((100L, b - 1)), s"monotonicity at b=$b")
    }
  }

  private def docs(rows: Seq[(Long, String)]): DataFrame =
    rows.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("bigram bookkeeping: n_bigrams = max(0, tokens - 1); short docs never keep") {
    val d = docs(Seq(
      (0L, "a b a b a"), // train doc (id % 5 == 0), 4 bigrams
      (1L, "a b"), // 1 bigram
      (2L, "a"), // 0 bigrams
      (3L, ""), // one empty token → 0 bigrams
      (5L, "a b a b"), // train doc, 3 bigrams
      (7L, "x y z q")))
    val out = LmScreen.lmScreen(d).collect().map(r =>
      r.getLong(0) -> ((r.getLong(2), r.isNullAt(3), r.isNullAt(4), r.getBoolean(5)))).toMap
    assert(out(0L)._1 === 4L)
    assert(out(1L)._1 === 1L)
    assert(out(2L) === ((0L, true, true, false)), "1-token doc: null totals, keep=false")
    assert(out(3L) === ((0L, true, true, false)), "empty text: null totals, keep=false")
    assert(out(5L)._1 === 3L)
    assert(out(7L)._1 === 3L)
  }

  test("in-distribution text scores below out-of-distribution text") {
    // train slice (ids 0,5,...,45) establishes 'a b' as the dominant
    // bigram; a doc of pure OOV tokens must cost strictly more per
    // bigram than a doc repeating the trained pattern
    val train = (0L until 50L by 5L).map(id => (id, "a b a b a b a b"))
    val inDist = Seq((11L, "a b a b a b"))
    val ood = Seq((12L, "zz qq ww rr tt yy"))
    val out = LmScreen.lmScreen(docs(train ++ inDist ++ ood))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(out(11L) < out(12L),
      s"in-dist ${out(11L)} must beat OOV ${out(12L)}")
  }

  test("scoring covers every document exactly once and keep matches the fence") {
    val d = Tables.documents(spark, sf)
    val out = LmScreen.lmScreen(d)
    assert(out.count() === d.count())
    assert(out.select("doc_id").distinct().count() === d.count())
    val bad = out.filter(
      (col("n_bigrams") > 0 && col("avg_mb") <= LmScreen.KeepMaxMb) =!= col("keep"))
    assert(bad.isEmpty, "keep must equal the fence predicate")
    // the fence must PARTITION the corpus — a screen that keeps (or
    // cuts) everything is mis-tuned
    val kept = out.filter(col("keep")).count()
    assert(kept > 0 && kept < out.count(), s"fence partitions: kept=$kept")
  }

  /** q100/q100b replayed in plain Scala, independent of the kernels:
    * the train slice, the top-K election under (count desc, token asc),
    * the Laplace surprisals from the reference log2mbKernel and the
    * per-document sums. `byLang`: one model per non-null language; a
    * null or untrained language costs 0 per bigram. Values: (n_bigrams,
    * total_mb, avg_mb, keep). */
  private def replay(rows: Seq[(Long, String, String)], byLang: Boolean)
      : Map[Long, (Long, Option[Long], Option[Long], Boolean)] = {
    import graft.functions.LogExpressions.log2mbKernel
    def toks(t: String): Seq[String] = Option(t).getOrElse("").toLowerCase.trim.split(" +", -1).toSeq
    def group(lang: String): Option[String] = if (byLang) Option(lang) else Some("")
    def bigrams(ts: Seq[String]): Seq[(String, String)] = ts.zip(ts.drop(1))
    val models: Map[String, (String, String) => Long] =
      rows.filter(_._1 % LmScreen.TrainMod == 0).groupBy(r => group(r._3)).collect {
        case (Some(g), train) =>
          val counts = train.flatMap(r => toks(r._2)).groupBy(identity).view.mapValues(_.size.toLong)
          val vocab = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(LmScreen.VocabK).map(_._1).toSet
          def cls(t: String) = if (vocab(t)) t else LmScreen.UnkTok
          val pairs = train.flatMap(r => bigrams(toks(r._2).map(cls)))
            .groupBy(identity).view.mapValues(_.size.toLong).toMap
          val ctx = pairs.toSeq.groupMapReduce(_._1._1)(_._2)(_ + _)
          val vd = vocab.size + 1L
          g -> ((a: String, b: String) => {
            val p = (cls(a), cls(b))
            log2mbKernel(pairs.getOrElse(p, 0L) + 1L, ctx.getOrElse(p._1, 0L) + vd)
          })
      }
    rows.map { case (id, text, lang) =>
      val bs = bigrams(toks(text))
      if (bs.isEmpty) id -> ((0L, None, None, false))
      else {
        val cost = group(lang).flatMap(models.get)
        val total = bs.map { case (a, b) => cost.fold(0L)(_(a, b)) }.sum
        val avg = total / bs.size
        id -> ((bs.size.toLong, Some(total), Some(avg), avg <= LmScreen.KeepMaxMb))
      }
    }.toMap
  }

  test("q100 and q100b equal a Scala replay of the surprisals, null and untrained languages included") {
    val rows = Seq[(Long, String, String)](
      (0L, "the cat sat on the mat the cat ran", "en"),
      (5L, "a dog and a cat and the dog sat", "en"),
      (10L, "der hund und die katze und der hund", "de"),
      (15L, "the end of the story is the end", "en"),
      (20L, "null lang train text and the cat", null),   // trains no per-language model
      (25L, "die katze sitzt auf der matte", "de"),
      (30L, null, "en"),
      (35L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu", "en"),
      (1L, "the cat sat on the mat", "en"),
      (2L, "der hund sitzt", "de"),
      (3L, "the quick brown fox and the cat", null),    // null language
      (4L, "un deux trois quatre", "fr"),               // untrained language
      (6L, "word", "en"),
      (7L, "", "en"),
      (8L, "the the the the", "en"),
      (9L, "and the cat and the dog", "de"),
      (11L, "  Spaced    OUT words  ", "en"),
      (12L, null, null))
    val d = rows.map { case (id, t, l) => (id, t, l, "s0", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def got(df: DataFrame) = df.collect().map(r => r.getLong(0) -> ((r.getLong(2),
      Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.get(4)).map(_.asInstanceOf[Long]),
      r.getBoolean(5)))).toMap
    val global = replay(rows, byLang = false)
    val perLang = replay(rows, byLang = true)
    assert(got(LmScreen.lmScreen(d)) === global)
    assert(got(LmScreen.lmScreenPerLang(d)) === perLang)
    // the fixture exercises what it claims: an unk class in the global
    // vocabulary, zero-cost null and untrained languages, and a
    // per-language score that differs from the global one
    assert(rows.filter(_._1 % 5 == 0).flatMap(r => Option(r._2).toSeq.flatMap(_.split(" +")))
      .distinct.size > LmScreen.VocabK)
    assert(perLang(3L)._2 === Some(0L) && perLang(4L)._2 === Some(0L))
    assert(global(3L)._2.exists(_ > 0L) && global(4L)._2.exists(_ > 0L))
    assert(perLang(1L) != global(1L))
  }

  test("per-language models are independent: one language's train text cannot move another's scores") {
    def corpus(deText: String) = (
      (0L until 40L by 5L).map(id => (id, "a b a b a b", "en", "s0", 11L)) ++
        Seq((10L, deText, "de", "s0", deText.length.toLong)) ++ // train doc, de
        Seq((11L, "a b a b", "en", "s0", 7L), (12L, "p q p q", "de", "s0", 7L))
      ).toDF("doc_id", "text", "lang", "source", "n_chars")
    def enScores(deText: String) =
      LmScreen.lmScreenPerLang(corpus(deText)).filter(col("lang") === "en")
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(enScores("p q p q p q") === enScores("x y z w v u"),
      "en scores must not depend on the de train slice")
  }

  test("a language absent from the train slice scores zero surprisal and keeps") {
    // no train doc (id % 5 == 0) has lang 'xx' — its model is empty, so
    // by definition nothing is surprising; the doc passes with avg 0
    val d = Seq(
      (0L, "a b a b", "en", "s0", 7L),
      (13L, "q r s t", "xx", "s0", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = LmScreen.lmScreenPerLang(d)
      .filter(col("lang") === "xx").collect()
    assert(out.length === 1)
    assert(out.head.getLong(3) === 0L, "total_mb = 0 for an untrained language")
    assert(out.head.getBoolean(5), "keep = true at zero surprisal")
  }

  test("per-language screen covers every doc once and partitions within every language") {
    val d = Tables.documents(spark, sf)
    val out = LmScreen.lmScreenPerLang(d)
    assert(out.count() === d.count())
    val byLang = out.groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    byLang.foreach { case (lang, (n, kept)) =>
      assert(kept > 0 && kept < n, s"$lang: fence must partition, kept=$kept/$n")
    }
  }

  test("empty corpus yields an empty screen") {
    val empty = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(LmScreen.lmScreen(empty).isEmpty)
    assert(LmScreen.lmScreenPerLang(empty).isEmpty)
  }

  test("screen is invariant under repartitioning") {
    val d = Tables.documents(spark, sf)
    val a = LmScreen.lmScreen(d).collect().toSeq
    val b = LmScreen.lmScreen(d.repartition(13)).collect().toSeq
    assert(a === b)
  }
}
