package graft.operators

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (SURVEY.md §2C q41): media payloads as
  * opaque binary columns + typed metadata, with decode/feature-extract
  * as a partition-mapped stage.
  *
  * The container ships no image/audio codec libraries, so the engine
  * defines MINIMAL UNCOMPRESSED formats — PPM's P6 shape for images
  * ("P6 <w> <h> 255\n" + w·h·3 raw RGB bytes), an 8-bit-PCM shape for
  * audio ("AU8 <n>\n" + n unsigned samples), and a concatenated-frame
  * container for video ("VID <frames> <w> <h> 255\n" + frames P6 pixel
  * buffers) — and the decoders are REAL: they sniff the magic, parse
  * the ASCII header and aggregate the raw payload, the same work a
  * codec's metadata/stats path does, with zero external dependencies.
  * The decoders never see anything but bytes; only the test FIXTURE
  * ([[synthMedia]]) synthesizes payloads from doc_id by a closed form
  * shared with the DuckDB oracle, which is what makes every decoded
  * value exactly checkable end-to-end. Reference analogue: the
  * thumbnail/stimulus-image content checks
  * (src/trace/thumbnail.py:25, src/trace/fix/check_image_stimulus_match.py).
  *
  * At 100 TB: binary payloads dominate I/O, so the media frame is
  * repartitioned before the decode stage to even out payload skew, and
  * features are computed per-partition (amortizing any decoder
  * initialization cost exactly like a Pandas-UDF batch would). A real
  * deployment swaps [[mediaFrame]] for its own binary table and
  * [[decodeMedia]] for its codec — every other line stays.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, mime: String, content: Array[Byte])

  /** modality-generic decoded features: unused fields are 0 for a
    * given modality (image: frames=1, samples/amp=0; audio: dims/pix=0;
    * video: samples/amp=0). Sums, not means — exact integers, no
    * division parity risk between engines. */
  final case class MediaFeatures(
      doc_id: Long, mime: String, n_bytes: Long,
      width: Long, height: Long, n_frames: Long, n_samples: Long,
      sum_pix: Long, sum_amp: Long)

  final case class FrameSample(doc_id: Long, frame_idx: Int, frame_sum: Long)

  val ImageMime = "image/x-raw-rgb"
  val AudioMime = "audio/x-raw-u8"
  val VideoMime = "video/x-raw-rgb"

  // ------------------------------------------------------------ codecs

  /** encode a P6 image: ASCII header + w·h·3 raw RGB bytes. */
  def encodeImage(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == w * h * 3,
      s"pixel buffer ${pixels.length} != $w x $h x 3")
    s"P6 $w $h 255\n".getBytes(US_ASCII) ++ pixels
  }

  /** encode unsigned-8-bit PCM audio: ASCII header + raw samples. */
  def encodeAudio(samples: Array[Byte]): Array[Byte] =
    s"AU8 ${samples.length}\n".getBytes(US_ASCII) ++ samples

  /** encode a video container: header + `frames` concatenated P6 pixel
    * buffers (no per-frame headers — fixed geometry). */
  def encodeVideo(frames: Int, w: Int, h: Int, pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == frames * w * h * 3,
      s"pixel buffer ${pixels.length} != $frames x $w x $h x 3")
    s"VID $frames $w $h 255\n".getBytes(US_ASCII) ++ pixels
  }

  private def headerEnd(bytes: Array[Byte]): Int = {
    val nl = bytes.indexOf('\n'.toByte)
    require(nl > 0, "media payload has no header line")
    nl
  }

  private def sumFrom(bytes: Array[Byte], from: Int, len: Int): Long = {
    var s = 0L
    var i = from
    val end = from + len
    while (i < end) { s += bytes(i) & 0xFF; i += 1 }
    s
  }

  /** overflow-checked Long product: adversarial header dims must fail
    * the length check, never wrap it — w*h*3 wrapping Long back to a
    * small value could otherwise EQUAL a tiny payload and smuggle a
    * nonsense geometry through as valid. */
  private def mulExact(a: Long, b: Long): Long =
    try Math.multiplyExact(a, b) catch {
      case _: ArithmeticException =>
        throw new IllegalArgumentException(s"header dims overflow: $a * $b")
    }

  /** image/video dims must be strictly positive: a zero-dim header
    * makes every frame zero bytes, so ANY frame count "validates"
    * against an empty payload — "VID 2147483647 0 0 255" would pass
    * the length check and emit two billion empty frames. */
  private def requirePositive(dims: Long*): Unit =
    dims.foreach(d => require(d >= 1, s"non-positive dimension $d"))

  /** header fields after the magic, validated: exactly `n` of them,
    * all nonnegative integers — so a malformed header ("P6\n", junk
    * fields, adversarial dims) fails with the same
    * IllegalArgumentException contract as every other corrupt payload,
    * never a raw ArrayIndexOutOfBounds/NumberFormatException. */
  private def headerFields(header: Array[String], n: Int): Array[Long] = {
    require(header.length == n + 1,
      s"malformed ${header.headOption.getOrElse("?")} header: expected $n fields, got ${header.length - 1}")
    header.drop(1).map { f =>
      val v = try f.toLong catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"non-numeric header field '$f'")
      }
      require(v >= 0, s"negative header field $v")
      v
    }
  }

  /** REAL decode: sniff the magic, parse the ASCII header, validate the
    * payload length, aggregate the raw bytes. Dispatches on CONTENT,
    * not on the mime column — a mislabeled payload decodes as what it
    * is, and an unknown magic fails loud. Expected-size math is done in
    * Long: adversarial Int dims (e.g. "P6 100000 100000 255") must fail
    * the length check, not wrap it. */
  def decodeMedia(row: MediaRow): MediaFeatures = {
    val bytes = row.content
    val nl = headerEnd(bytes)
    val header = new String(bytes, 0, nl, US_ASCII).split(" ")
    val payload = (bytes.length - nl - 1).toLong
    header(0) match {
      case "P6" =>
        val Array(w, h, maxval) = headerFields(header, 3)
        require(maxval == 255L, s"unsupported maxval $maxval")
        requirePositive(w, h)
        val expected = mulExact(mulExact(w, h), 3L)
        require(payload == expected, s"truncated image: $payload != $expected")
        MediaFeatures(row.doc_id, row.mime, bytes.length.toLong,
          w, h, 1L, 0L, sumFrom(bytes, nl + 1, payload.toInt), 0L)
      case "AU8" =>
        val Array(n) = headerFields(header, 1)
        require(payload == n, s"truncated audio: $payload != $n")
        MediaFeatures(row.doc_id, row.mime, bytes.length.toLong,
          0L, 0L, 0L, n, 0L, sumFrom(bytes, nl + 1, payload.toInt))
      case "VID" =>
        val Array(f, w, h, maxval) = headerFields(header, 4)
        require(maxval == 255L, s"unsupported maxval $maxval")
        requirePositive(f, w, h)
        val expected = mulExact(mulExact(mulExact(f, w), h), 3L)
        require(payload == expected, s"truncated video: $payload != $expected")
        MediaFeatures(row.doc_id, row.mime, bytes.length.toLong,
          w, h, f, 0L, sumFrom(bytes, nl + 1, payload.toInt), 0L)
      case m =>
        throw new IllegalArgumentException(s"unknown media magic '$m'")
    }
  }

  /** REAL nearest-neighbour resize for P6 payloads: parse the header,
    * sample source pixels at the scaled grid, re-encode a valid P6
    * (so decode∘resize works). Non-image payloads pass through — a
    * real pipeline resizes only its images. */
  def resizeImage(row: MediaRow, newW: Int, newH: Int): MediaRow = {
    require(newW >= 1 && newH >= 1, s"target dims must be positive, got ${newW}x$newH")
    val bytes = row.content
    val nl = headerEnd(bytes)
    val header = new String(bytes, 0, nl, US_ASCII).split(" ")
    if (header(0) != "P6") row
    else {
      val Array(wL, hL, maxval) = headerFields(header, 3)
      require(maxval == 255L, s"unsupported maxval $maxval")
      requirePositive(wL, hL)
      // same validation as decodeMedia: a truncated payload must fail
      // loud here too, not throw AIOOBE from inside the pixel loop
      val expected = mulExact(mulExact(wL, hL), 3L)
      require((bytes.length - nl - 1).toLong == expected,
        s"truncated image: ${bytes.length - nl - 1} != $expected")
      val w = wL.toInt; val h = hL.toInt
      val out = new Array[Byte](newW * newH * 3)
      var y = 0
      while (y < newH) {
        val sy = y * h / newH
        var x = 0
        while (x < newW) {
          val src = nl + 1 + (sy * w + x * w / newW) * 3
          val dst = (y * newW + x) * 3
          out(dst) = bytes(src); out(dst + 1) = bytes(src + 1); out(dst + 2) = bytes(src + 2)
          x += 1
        }
        y += 1
      }
      row.copy(content = encodeImage(newW, newH, out))
    }
  }

  /** REAL frame sampling: parse the VID container, emit every
    * `stride`-th frame's pixel sum — the 1→N explode shape of a video
    * frame sampler. Non-video payloads yield no frames. */
  def sampleFrameStats(row: MediaRow, stride: Int = 2): Iterator[FrameSample] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val bytes = row.content
    val nl = headerEnd(bytes)
    val header = new String(bytes, 0, nl, US_ASCII).split(" ")
    if (header(0) != "VID") Iterator.empty
    else {
      val Array(fL, wL, hL, maxval) = headerFields(header, 4)
      require(maxval == 255L, s"unsupported maxval $maxval")
      requirePositive(fL, wL, hL)
      // same fail-loud length validation as decodeMedia: a truncated
      // VID must raise here, not AIOOBE from inside sumFrom
      val expected = mulExact(mulExact(mulExact(fL, wL), hL), 3L)
      require((bytes.length - nl - 1).toLong == expected,
        s"truncated video: ${bytes.length - nl - 1} != $expected")
      val f = fL.toInt
      val frameLen = (wL * hL * 3).toInt
      (0 until f by stride).iterator.map { i =>
        FrameSample(row.doc_id, i, sumFrom(bytes, nl + 1 + i * frameLen, frameLen))
      }
    }
  }

  // ----------------------------------------------------------- fixture

  /** Synthetic payload FIXTURE: geometry and bytes are closed-form
    * functions of doc_id — the SAME closed form feeds the DuckDB
    * oracle (SparkEntry), so the real decoders above are value-checked
    * end-to-end with no codec in the container. pixel(i) =
    * (doc_id·31 + i·7) mod 256; sample(i) = (doc_id·17 + i·5) mod 256. */
  def synthMedia(docId: Long, mime: String): Array[Byte] = synthMedia(docId, mime, 1)

  /** the fixture at a payload-size multiplier: image/video dims and
    * audio sample counts scale by `scale` (image/video payload BYTES
    * scale ≈ scale²) — the `BenchSplit media_scale` knob that sweeps payload
    * size at fixed row count, because the 100 TB multimodal question
    * is byte-dominated I/O, not row count (the sf0.1 fixture's ~700 B
    * payloads leave even a 100× row decade overhead-dominated —
    * measured FLAT in SCALE_CURVE_r15). scale=1 is the oracle-checked
    * inventory fixture, byte-identical to the historical form. */
  def synthMedia(docId: Long, mime: String, scale: Int): Array[Byte] = mime match {
    case ImageMime =>
      val w = (4 + (docId % 13).toInt) * scale; val h = (4 + (docId % 11).toInt) * scale
      encodeImage(w, h, bytesOf(docId, w * h * 3, 31, 7))
    case AudioMime =>
      encodeAudio(bytesOf(docId, (64 + (docId % 50).toInt * 4) * scale, 17, 5))
    case VideoMime =>
      val f = 2 + (docId % 4).toInt
      val w = (4 + (docId % 7).toInt) * scale; val h = (4 + (docId % 5).toInt) * scale
      encodeVideo(f, w, h, bytesOf(docId, f * w * h * 3, 31, 7))
    case m => throw new IllegalArgumentException(s"no synthesizer for mime '$m'")
  }

  private def bytesOf(docId: Long, n: Int, a: Long, b: Long): Array[Byte] = {
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = ((docId * a + i.toLong * b) % 256L).toByte; i += 1 }
    out
  }

  /** Media frame over the documents table: one payload per doc, the
    * modality assigned by source (the typed metadata column a real
    * ingest carries), content from [[synthMedia]]. A deployment swaps
    * this for its own (id, mime, binary) table. */
  def mediaFrame(documents: DataFrame): DataFrame = mediaFrame(documents, 1)

  /** [[mediaFrame]] at a payload-size multiplier (see the scaled
    * [[synthMedia]]); scale = 1 is the inventory fixture. */
  def mediaFrame(documents: DataFrame, scale: Int): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"),
        when(col("source").isin("src0", "src1"), ImageMime)
          .when(col("source").isin("src2", "src3"), AudioMime)
          .otherwise(VideoMime).as("mime"))
      .as[(Long, String)]
      .map { case (id, mime) => MediaRow(id, mime, synthMedia(id, mime, scale)) }
      .toDF()
  }

  // ---------------------------------------------------------- operators

  /** q41b: media manifest over the metadata layer only — mime, payload
    * byte counts, id range per media type. No decode involved: it
    * proves the binary-column schema and byte accounting against
    * DuckDB exactly. */
  def mediaManifest(documents: DataFrame): DataFrame =
    mediaFrame(documents)
      .select(col("doc_id"), col("mime"), length(col("content")).cast(LongType).as("n_bytes"))
      .groupBy("mime")
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("mime")

  /** TEST-ONLY MUTANT HOOK (r15 verdict item 5): when flipped by
    * MutationPinSpec, the repartitioning [[featuresRollup]] (q41's
    * path) routes the media frame through a SECOND payload-sized
    * exchange (behind a typed-map barrier so CollapseRepartition
    * cannot fold it away) — the exact
    * regression the one-blob-exchange plan pin exists to catch. The
    * spec flips it, asserts the pin's predicate now reads 2, restores
    * it — so every `sbt test` run re-proves the fence bites (the r15
    * round did this mutation by hand and reverted; the hook makes the
    * proof permanent). Never set outside tests. */
  @volatile private[graft] var mutantExtraBlobExchange = false

  /** q41: decode/feature-extract — typed per-partition map running the
    * REAL [[decodeMedia]] over every payload, then a per-mime summary
    * of the decoded geometry and payload statistics. Every aggregate is
    * an exact integer the oracle reproduces from the fixture's closed
    * form — so the whole decode path (header parse, length validation,
    * byte aggregation) is hash-checked per round. */
  def extractFeatures(documents: DataFrame): DataFrame =
    featuresRollup(mediaFrame(documents), repartition = true)

  /** the shared decode→per-mime rollup over a given media frame
    * (doc_id, mime, content): q41 runs it over the fixture frame, q41d
    * over the resized one, and the `media*` cost splits
    * ([[graft.BenchSplit]]) over scaled and hot-blob frames.
    * `repartition` routes the payloads through the skew-evening doc_id
    * exchange first — the ONE payload-sized exchange in the engine.
    * Without it the decode runs on the scan's own partitioning: same
    * result (the rollup is commutative), only the exchange placement
    * differs. The public operators pay the exchange, because at 100 TB
    * a few oversized payloads in one input split would serialize a
    * whole task; the splits price both forms. `decodeReps` > 1 repeats
    * the real decoder to emulate a production codec's cost ratio (a
    * JPEG/video decode is ~10× its read; the engine's decoders are
    * single-pass byte sums ≈ the scan cost). */
  private[graft] def featuresRollup(media: DataFrame, repartition: Boolean,
                                    decodeReps: Int = 1): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val routed = if (!repartition) media.as[MediaRow] else {
      val r = Scale.decodeSpread(media, "doc_id").as[MediaRow]
      if (mutantExtraBlobExchange) Scale.decodeSpread(r.mapPartitions(identity), "mime")
      else r
    }
    featuresAgg(spark, routed.mapPartitions(_.map { r =>
      var f = decodeMedia(r)
      var i = 1
      while (i < decodeReps) { f = decodeMedia(r); i += 1 }
      f
    }).toDF())
  }

  private def featuresAgg(spark: org.apache.spark.sql.SparkSession,
                          feats: DataFrame): DataFrame =
    feats
      .groupBy("mime")
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("width")).as("sum_width"),
        sum(col("height")).as("sum_height"),
        sum(col("n_frames")).as("sum_frames"),
        sum(col("n_samples")).as("sum_samples"),
        sum(col("sum_pix")).as("sum_pix"),
        sum(col("sum_amp")).as("sum_amp"))
      .orderBy("mime")

  /** q41c: the FRAME-SAMPLE manifest — [[sampleFrameStats]] as a checked
    * inventory entry: one row per sampled frame (every `stride`-th
    * frame of each video payload), carrying the frame's exact pixel
    * sum. The 1→N flatMap shape of a production frame sampler (a real
    * pipeline emits the frame tensor; the sum is the checkable stand-in
    * for it, same posture as the q41 decode stats). Row-local behind
    * the one skew-evening repartition; output is frame-grain, bounded
    * by Σ frames/stride. */
  def frameSampleManifest(documents: DataFrame, stride: Int = 2): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    Scale.decodeSpread(mediaFrame(documents), "doc_id")
      .as[MediaRow]
      .mapPartitions(_.flatMap(sampleFrameStats(_, stride)))
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  /** q41d: DECODE∘RESIZE — the resize stage as a checked inventory
    * entry: every image nearest-neighbour-resampled to (newW, newH) by
    * the REAL [[resizeImage]] kernel (audio/video pass through), then
    * re-decoded through the SAME real decoder and rolled up per mime —
    * so the entry proves, per round, that resize emits VALID
    * containers whose geometry and resampled pixel statistics the
    * oracle reproduces from the fixture's closed form (the image row
    * reads exactly n·newW / n·newH and the nearest-neighbour source
    * index arithmetic is replayed byte-for-byte in SQL). Two chained
    * row-local per-partition maps behind one repartition — the
    * multimodal pipeline shape (decode → transform → re-encode →
    * feature-extract) with zero extra exchanges. */
  def resizedFeatures(documents: DataFrame, newW: Int = 8, newH: Int = 6): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    featuresRollup(Scale.decodeSpread(mediaFrame(documents), "doc_id")
      .as[MediaRow]
      .mapPartitions(_.map(resizeImage(_, newW, newH)))
      .toDF(), repartition = false)
  }

  // ------------------------------------- decode-once combined report

  /** the full per-media record ALL THREE standalone views derive from —
    * the payload is read ONCE per entity. `resized` is the decoded
    * form of the resize stage's output at the report's geometry
    * (images land at newW×newH; other modalities equal `features`). */
  final case class MediaReport(features: MediaFeatures,
                               resized: MediaFeatures,
                               frame_samples: Seq[FrameSample])

  /** DECODE-ONCE media report frame — the morphReport/traceReport/
    * docReport discipline on the binary-media family: at 100 TB the
    * payload bytes dominate I/O, and q41 (feature extraction), the
    * resize stage (q41d) and the frame-sample stage (q41c) each
    * re-read every payload; this reads each payload once, runs ALL
    * THREE kernels on the in-memory row (the SAME [[decodeMedia]] /
    * [[resizeImage]] / [[sampleFrameStats]] objects the standalone
    * operators run — no drift possible) and emits the narrow nested
    * record WITHOUT the content bytes. Persist it and the three views
    * become column reads / explodes ([[reportFeatures]],
    * [[reportResizedFeatures]], [[reportFrameSamples]] — spec-proven
    * equal; `BenchSplit media` prices standalone-vs-report).
    *
    * SCHEMA MIGRATION (r15): the record gained `resized` — a frame
    * persisted by an older build lacks the column and
    * [[reportResizedFeatures]] fails loudly on it (missing-column
    * analysis error, never silent nulls); re-build the frame, which is
    * a derived artifact, not a checkpointed store. */
  def mediaReport(documents: DataFrame, stride: Int = 2,
                  newW: Int = 8, newH: Int = 6): Dataset[MediaReport] = {
    val spark = documents.sparkSession
    import spark.implicits._
    Scale.decodeSpread(mediaFrame(documents), "doc_id")
      .as[MediaRow]
      .mapPartitions(_.map(r =>
        MediaReport(decodeMedia(r), decodeMedia(resizeImage(r, newW, newH)),
          sampleFrameStats(r, stride).toSeq)))
  }

  /** q41 over the (persisted) report frame — the SAME [[featuresAgg]]
    * rollup the standalone operator runs, so the report view cannot
    * drift from q41 when the rollup changes. */
  def reportFeatures(report: DataFrame): DataFrame =
    featuresAgg(report.sparkSession, report.select(col("features.*")))

  /** the frame-sample stage over the (persisted) report frame. */
  def reportFrameSamples(report: DataFrame): DataFrame =
    report.select(explode(col("frame_samples")).as("fs"))
      .select(col("fs.*"))

  /** q41d over the (persisted) report frame: the resize stage's
    * per-mime rollup from the pre-decoded `resized` record — no
    * payload read, no resize kernel, one narrow column scan. Shares
    * [[featuresAgg]] with the standalone q41d so the report-derived
    * rollup cannot drift from it. */
  def reportResizedFeatures(report: DataFrame): DataFrame =
    featuresAgg(report.sparkSession, report.select(col("resized.*")))
}
