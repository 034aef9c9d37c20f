package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal
import graft.operators.Multimodal.{FrameSample, MediaRow, decodeMedia, encodeAudio, encodeImage, encodeVideo}

/** Unit specs for the REAL media codecs (q41): header parse, payload
  * validation, content-based dispatch, nearest-neighbour resize and
  * video frame sampling — all byte-level, no Spark involved, because
  * the decoders are plain functions the partition map runs. */
class MultimodalSpec extends AnyFunSuite {

  private def img(w: Int, h: Int, px: Int => Int): MediaRow =
    MediaRow(1L, Multimodal.ImageMime,
      encodeImage(w, h, Array.tabulate(w * h * 3)(i => px(i).toByte)))

  /** the frame-sample stage with no decode spread and no sort: the
    * reference q41c's manifest and the media report's frame samples
    * must each reproduce. */
  private def sampleFrames(docs: DataFrame): Dataset[FrameSample] = {
    import docs.sparkSession.implicits._
    Multimodal.mediaFrame(docs).as[MediaRow]
      .mapPartitions(_.flatMap(Multimodal.sampleFrameStats(_)))
  }

  test("image decode recovers header geometry and exact pixel sums") {
    val f = decodeMedia(img(3, 2, i => i)) // bytes 0..17
    assert(f.width == 3 && f.height == 2 && f.n_frames == 1)
    assert(f.sum_pix == (0 until 18).sum)
    assert(f.n_samples == 0 && f.sum_amp == 0)
    assert(f.n_bytes == "P6 3 2 255\n".length + 18)
  }

  test("audio decode recovers sample count and unsigned sums (bytes > 127 included)") {
    val samples = Array[Int](0, 127, 128, 255, 200).map(_.toByte)
    val f = decodeMedia(MediaRow(2L, Multimodal.AudioMime, encodeAudio(samples)))
    assert(f.n_samples == 5)
    assert(f.sum_amp == 0 + 127 + 128 + 255 + 200, "bytes must aggregate unsigned")
    assert(f.width == 0 && f.sum_pix == 0)
  }

  test("video decode reads frame count; frame sums partition the total pixel sum") {
    val w = 2; val h = 2; val frames = 3
    val px = Array.tabulate(frames * w * h * 3)(i => (i * 11).toByte)
    val row = MediaRow(3L, Multimodal.VideoMime, encodeVideo(frames, w, h, px))
    val f = decodeMedia(row)
    assert(f.n_frames == 3 && f.width == 2 && f.height == 2)
    val all = Multimodal.sampleFrameStats(row, stride = 1).toSeq
    assert(all.map(_.frame_idx) == Seq(0, 1, 2))
    assert(all.map(_.frame_sum).sum == f.sum_pix,
      "per-frame sums must partition the decoded total")
    val strided = Multimodal.sampleFrameStats(row, stride = 2).toSeq
    assert(strided.map(_.frame_idx) == Seq(0, 2))
    assert(strided.map(_.frame_sum) == Seq(all(0).frame_sum, all(2).frame_sum))
  }

  test("decode dispatches on content magic, not the mime column") {
    val mislabeled = MediaRow(4L, Multimodal.AudioMime,
      encodeImage(2, 2, new Array[Byte](12)))
    val f = decodeMedia(mislabeled)
    assert(f.width == 2 && f.height == 2 && f.n_samples == 0,
      "a P6 payload decodes as an image whatever the metadata claims")
  }

  test("corrupt payloads fail loud, never return garbage features") {
    intercept[IllegalArgumentException] {
      decodeMedia(MediaRow(5L, "x", "GIF87a trailing\n".getBytes("US-ASCII")))
    }
    // truncated pixel buffer: header promises 2x2x3=12 bytes, has 7
    val truncated = "P6 2 2 255\n".getBytes("US-ASCII") ++ new Array[Byte](7)
    intercept[IllegalArgumentException] {
      decodeMedia(MediaRow(6L, "x", truncated))
    }
    intercept[IllegalArgumentException] {
      decodeMedia(MediaRow(7L, "x", Array[Byte]())) // no header line at all
    }
    // malformed headers: missing fields, non-numeric fields — the
    // IllegalArgumentException contract, not AIOOBE/NumberFormat
    intercept[IllegalArgumentException] {
      decodeMedia(MediaRow(8L, "x", "P6\n".getBytes("US-ASCII")))
    }
    intercept[IllegalArgumentException] {
      decodeMedia(MediaRow(9L, "x", "AU8\n".getBytes("US-ASCII")))
    }
    intercept[IllegalArgumentException] {
      decodeMedia(MediaRow(10L, "x", "P6 a b 255\nxxx".getBytes("US-ASCII")))
    }
    // adversarial dims whose w*h*3 overflows Int: the Long-math length
    // check must reject, not wrap around into a false match
    intercept[IllegalArgumentException] {
      decodeMedia(MediaRow(11L, "x", "P6 100000 100000 255\n".getBytes("US-ASCII")))
    }
    // a truncated VID must fail loud from the frame sampler too
    val shortVid = "VID 2 2 2 255\n".getBytes("US-ASCII") ++ new Array[Byte](13)
    intercept[IllegalArgumentException] {
      Multimodal.sampleFrameStats(MediaRow(12L, "x", shortVid), stride = 1).toSeq
    }
    // ZERO-dim header: every frame is 0 bytes, so any frame count
    // "validates" against an empty payload — must reject the geometry,
    // not iterate two billion empty frames
    val zeroDim = "VID 2147483647 0 0 255\n".getBytes("US-ASCII")
    intercept[IllegalArgumentException] {
      Multimodal.sampleFrameStats(MediaRow(13L, "x", zeroDim), stride = 1).toSeq
    }
    intercept[IllegalArgumentException] {
      decodeMedia(MediaRow(13L, "x", zeroDim))
    }
    intercept[IllegalArgumentException] {
      decodeMedia(MediaRow(14L, "x", "P6 0 0 255\n".getBytes("US-ASCII")))
    }
    // LONG-overflowing dims: w*h*3 wrapping back to a small value must
    // not "equal" a tiny payload (6148914691236517206 * 1 * 3 == 2 in
    // wrapped Long arithmetic)
    val wrap = "P6 6148914691236517206 1 255\n".getBytes("US-ASCII") ++ new Array[Byte](2)
    intercept[IllegalArgumentException] {
      decodeMedia(MediaRow(15L, "x", wrap))
    }
  }

  test("resize is a real nearest-neighbour kernel: identity at same dims, sampled otherwise") {
    val original = img(4, 4, i => i * 3)
    assert(Multimodal.resizeImage(original, 4, 4).content
      .sameElements(original.content), "same-dims resize must be the identity")
    val down = Multimodal.resizeImage(original, 2, 2)
    val f = decodeMedia(down)
    assert(f.width == 2 && f.height == 2)
    // 4x4 -> 2x2 nearest neighbour picks source pixels (0,0),(2,0),(0,2),(2,2)
    val src = original.content.drop("P6 4 4 255\n".length)
    val want = Seq(0, 2, 8, 10).flatMap(p => src.slice(p * 3, p * 3 + 3))
    assert(down.content.drop("P6 2 2 255\n".length).toSeq == want)
    // audio passes through untouched
    val au = MediaRow(8L, Multimodal.AudioMime, encodeAudio(new Array[Byte](4)))
    assert(Multimodal.resizeImage(au, 2, 2) eq au)
  }

  test("synth -> decode agrees with the closed form for arbitrary doc ids") {
    // property-style sweep: the fixture generator and the real decoder
    // must agree on geometry and exact byte sums for ANY id, not just
    // the spot-checked handful — this is the contract the oracle's
    // closed-form replay rests on
    val rnd = new scala.util.Random(11)
    (Seq(0L, 1L) ++ Seq.fill(60)(math.abs(rnd.nextLong()) % 10000000L)).foreach { id =>
      val f = decodeMedia(MediaRow(id, Multimodal.ImageMime,
        Multimodal.synthMedia(id, Multimodal.ImageMime)))
      val n = (f.width * f.height * 3).toInt
      assert(f.width == 4 + id % 13 && f.height == 4 + id % 11)
      assert(f.sum_pix == (0 until n).map(i => (id * 31 + i * 7) % 256).sum)
      val a = decodeMedia(MediaRow(id, Multimodal.AudioMime,
        Multimodal.synthMedia(id, Multimodal.AudioMime)))
      assert(a.n_samples == 64 + (id % 50) * 4)
      assert(a.sum_amp == (0L until a.n_samples).map(i => (id * 17 + i * 5) % 256).sum)
      val v = decodeMedia(MediaRow(id, Multimodal.VideoMime,
        Multimodal.synthMedia(id, Multimodal.VideoMime)))
      assert(v.n_frames == 2 + id % 4 && v.width == 4 + id % 7 && v.height == 4 + id % 5)
    }
  }

  test("fixture payloads are valid media: synth -> decode agrees with the closed form") {
    Seq(0L, 1L, 7L, 123L, 9999L).foreach { id =>
      val im = decodeMedia(MediaRow(id, Multimodal.ImageMime,
        Multimodal.synthMedia(id, Multimodal.ImageMime)))
      assert(im.width == 4 + id % 13 && im.height == 4 + id % 11)
      val n = (im.width * im.height * 3).toInt
      assert(im.sum_pix == (0 until n).map(i => (id * 31 + i * 7) % 256).sum)
      val au = decodeMedia(MediaRow(id, Multimodal.AudioMime,
        Multimodal.synthMedia(id, Multimodal.AudioMime)))
      assert(au.n_samples == 64 + (id % 50) * 4)
      val vd = decodeMedia(MediaRow(id, Multimodal.VideoMime,
        Multimodal.synthMedia(id, Multimodal.VideoMime)))
      assert(vd.n_frames == 2 + id % 4)
    }
  }

  test("scaled fixture payloads decode to scaled geometry (the media_scale split knob)") {
    // synthMedia(id, mime, s) must emit VALID containers whose dims are
    // exactly s x the base geometry — the payload-size decade's knob is
    // only meaningful if the scaled payloads exercise the same real
    // decode path; scale = 1 must stay byte-identical to the
    // historical fixture (the oracle-checked inventory form)
    Seq(0L, 7L, 123L).foreach { id =>
      assert(java.util.Arrays.equals(
        Multimodal.synthMedia(id, Multimodal.ImageMime),
        Multimodal.synthMedia(id, Multimodal.ImageMime, 1)))
      val im = decodeMedia(MediaRow(id, Multimodal.ImageMime,
        Multimodal.synthMedia(id, Multimodal.ImageMime, 4)))
      assert(im.width == (4 + id % 13) * 4 && im.height == (4 + id % 11) * 4)
      val au = decodeMedia(MediaRow(id, Multimodal.AudioMime,
        Multimodal.synthMedia(id, Multimodal.AudioMime, 4)))
      assert(au.n_samples == (64 + (id % 50) * 4) * 4)
      val vd = decodeMedia(MediaRow(id, Multimodal.VideoMime,
        Multimodal.synthMedia(id, Multimodal.VideoMime, 4)))
      assert(vd.n_frames == 2 + id % 4 &&
        vd.width == (4 + id % 7) * 4 && vd.height == (4 + id % 5) * 4)
    }
  }

  test("decode-once media report: both views derive exactly from the persisted frame") {
    val spark = TestSpark.spark
    val docs = Tables.documents(spark, TestSpark.sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_mediareport").toString
    Multimodal.mediaReport(docs).write.mode("overwrite").parquet(dir)
    val frame = spark.read.parquet(dir)
    assert(!frame.schema.fieldNames.contains("content"),
      "the frame must not persist payload bytes")
    val wantF = Multimodal.extractFeatures(docs).collect().map(_.toSeq).toSet
    val gotF = Multimodal.reportFeatures(frame).collect().map(_.toSeq).toSet
    assert(gotF == wantF, "q41 features must derive from the frame")
    val wantS = sampleFrames(docs).collect()
      .map(s => (s.doc_id, s.frame_idx, s.frame_sum)).toSet
    val gotS = Multimodal.reportFrameSamples(frame).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(gotS == wantS, "frame samples must derive from the frame")
  }

  test("q41c/q41d inventory forms equal their stage outputs; resize geometry lands exactly") {
    val spark = TestSpark.spark
    val docs = Tables.documents(spark, TestSpark.sf)
    // q41c is exactly the frame-sample stage, total-ordered
    val frames = Multimodal.frameSampleManifest(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val want = sampleFrames(docs).collect()
      .sortBy(f => (f.doc_id, f.frame_idx))
      .map(f => (f.doc_id, f.frame_idx, f.frame_sum)).toSeq
    assert(frames == want && frames.nonEmpty)
    // q41d: every image lands at exactly 8x6 with the re-encoded byte
    // budget; non-image modalities pass through IDENTICAL to q41
    val rf = Multimodal.resizedFeatures(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    val img41d = rf(Multimodal.ImageMime)
    val n = img41d.getAs[Long]("n_media")
    assert(n > 0 && img41d.getAs[Long]("sum_width") == 8 * n &&
      img41d.getAs[Long]("sum_height") == 6 * n &&
      img41d.getAs[Long]("total_bytes") == 155 * n)
    val base = Multimodal.extractFeatures(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    for (m <- Seq(Multimodal.AudioMime, Multimodal.VideoMime))
      assert(rf(m).toSeq == base(m).toSeq, s"$m must pass through untouched")
  }

  test("q41d derives from the decode-once report frame (r15 deployment path)") {
    val spark = TestSpark.spark
    val docs = Tables.documents(spark, TestSpark.sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_mediareport_rs").toString
    Multimodal.mediaReport(docs).write.mode("overwrite").parquet(dir)
    val frame = spark.read.parquet(dir)
    val want = Multimodal.resizedFeatures(docs).collect().map(_.toSeq).toSet
    val got = Multimodal.reportResizedFeatures(frame).collect().map(_.toSeq).toSet
    assert(got == want, "q41d must derive exactly from the persisted frame")
  }

  test("exactly ONE payload-sized exchange per q41-family plan (r14 verdict item 6)") {
    // the structural form of the 'zero extra exchanges' claim: the
    // skew-evening repartition is the ONLY exchange whose rows carry
    // the binary content column — every post-decode exchange (the
    // per-mime aggregate, the output sort) moves narrow feature rows.
    // A second blob-carrying exchange is the 100 TB regression this
    // pin exists to catch (payload bytes dominate I/O there).
    val spark = TestSpark.spark
    val docs = Tables.documents(spark, TestSpark.sf)
    // the SHARED fence predicate (PlanFences) — MutationPinSpec
    // mutation-tests exactly this definition, so a walker blind spot
    // cannot rot here unnoticed
    Seq(
      "q41" -> Multimodal.extractFeatures(docs),
      "q41c" -> Multimodal.frameSampleManifest(docs),
      "q41d" -> Multimodal.resizedFeatures(docs)
    ).foreach { case (name, df) =>
      val nBlob = PlanFences.blobExchanges(df)
      assert(nBlob == 1,
        s"$name must have exactly ONE blob-carrying exchange (the skew-evening " +
          s"repartition), got $nBlob")
    }
  }
}
