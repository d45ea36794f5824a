package graft.pipeline

import java.io.ByteArrayInputStream
import javax.imageio.ImageIO
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("media table synthesizes deterministically; image payloads are real PNGs") {
    val m1 = Multimodal.synthesize(spark, 30).collect().sortBy(_.media_ref)
    val m2 = Multimodal.synthesize(spark, 30).collect().sortBy(_.media_ref)
    assert(m1.length == 30)
    assert(m1.map(_.pixelKey) sameElements m2.map(_.pixelKey))
    assert(m1.map(_.mime).toSet == Set("image/png", "audio/wav", "video/avi"))
    // every image payload is a decodable PNG whose dims match the metadata
    m1.filter(_.mime == "image/png").foreach { m =>
      val img = ImageIO.read(new ByteArrayInputStream(m.bytes))
      assert(img != null, m.media_ref)
      assert(img.getWidth == m.width && img.getHeight == m.height, m.media_ref)
    }
  }

  implicit class RowKey(m: Multimodal.MediaRow) {
    def pixelKey: (String, Int, Long) =
      (m.media_ref, m.bytes.length, m.bytes.foldLeft(1L)((a, b) => 31 * a + b))
  }

  test("real image decode: ImageIO dims + deterministic raster hashes, images only") {
    val media = Multimodal.synthesize(spark, 30)
    val decoded = Multimodal.decodeImages(media).collect()
    assert(decoded.length == 10) // ids % 3 == 0
    assert(decoded.forall(_.channels == 3)) // all decodes succeed on real PNGs
    val byRef = Multimodal.synthesize(spark, 30).collect()
      .filter(_.mime == "image/png").map(m => m.media_ref -> m).toMap
    decoded.foreach { d =>
      assert(d.width == byRef(d.media_ref).width && d.height == byRef(d.media_ref).height)
    }
    val again = Multimodal.decodeImages(Multimodal.synthesize(spark, 30)).collect()
    assert(decoded.sortBy(_.media_ref).map(_.pixel_hash)
      sameElements again.sortBy(_.media_ref).map(_.pixel_hash))
    // corrupted payload → failure row, not a task failure
    import spark.implicits._
    val bad = Seq(Multimodal.MediaRow("s3://media/bad", "image/png",
      Array[Byte](1, 2, 3, 4), 0, 0, 0)).toDS()
    val badOut = Multimodal.decodeImages(bad).collect()
    assert(badOut.length == 1 && badOut.head.channels == 0)
  }

  test("real resize: aspect-preserving nearest-neighbor, deterministic, round-trippable") {
    val media = Multimodal.synthesize(spark, 30)
    val resized = Multimodal.resizeImages(media, maxDim = 10).collect()
    assert(resized.length == 10)
    val srcByRef = media.collect().filter(_.mime == "image/png").map(m => m.media_ref -> m).toMap
    resized.foreach { r =>
      val src = srcByRef(r.media_ref)
      assert(math.max(r.width, r.height) <= 10 ||
        math.max(src.width, src.height) <= 10, r.media_ref) // fits, unless source already smaller
      assert(r.width >= 1 && r.height >= 1)
      // output is itself a decodable PNG with the claimed dims
      val back = ImageIO.read(new ByteArrayInputStream(r.png))
      assert(back.getWidth == r.width && back.getHeight == r.height)
      // corners are exact source samples (nearest-neighbor at index 0 maps to source 0)
      val srcImg = ImageIO.read(new ByteArrayInputStream(src.bytes))
      assert((back.getRGB(0, 0) & 0xFFFFFF) == (srcImg.getRGB(0, 0) & 0xFFFFFF))
    }
    val again = Multimodal.resizeImages(Multimodal.synthesize(spark, 30), maxDim = 10).collect()
    assert(resized.sortBy(_.media_ref).map(_.pixel_hash)
      sameElements again.sortBy(_.media_ref).map(_.pixel_hash))
  }

  test("real frame sampling: AVI walk + MJPEG decode, grid timing, deterministic hashes") {
    val media = Multimodal.synthesize(spark, 30)
    val srcByRef = media.collect().filter(_.mime == "video/avi").map(m => m.media_ref -> m).toMap
    val frames = Multimodal.sampleFrames(media, everyMs = 250).collect()
    assert(frames.nonEmpty)
    frames.foreach { r =>
      val (ref, ts, idx, w, h, hash) = (r.getString(0), r.getInt(1), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getLong(6))
      val src = srcByRef(ref)
      assert(idx >= 0, s"$ref parsed") // every synthetic AVI parses
      assert(ts == idx * 250) // 4 fps container → grid index = frame index
      assert(w == src.width && h == src.height, ref)
      assert(hash != 0L)
    }
    // one frame per 250 ms of duration
    val perRef = frames.groupBy(_.getString(0)).view.mapValues(_.length)
    perRef.foreach { case (ref, n) => assert(n == srcByRef(ref).duration_ms / 250, ref) }
    // deterministic across re-synthesis
    val again = Multimodal.sampleFrames(Multimodal.synthesize(spark, 30), everyMs = 250).collect()
    assert(frames.map(_.getLong(6)).sorted sameElements again.map(_.getLong(6)).sorted)
    // malformed container → single failure row, not an exception
    import spark.implicits._
    val bad = Seq(Multimodal.MediaRow("s3://media/badavi", "video/avi",
      Array[Byte](82, 73, 70, 70, 9, 9), 0, 0, 0)).toDS()
    val badOut = Multimodal.sampleFrames(bad, everyMs = 250).collect()
    assert(badOut.length == 1 && badOut.head.getInt(3) == -1)
  }

  test("real WAV decode: header stats match synthesis, corrupt payload is a failure row") {
    val media = Multimodal.synthesize(spark, 30)
    val byRef = media.collect().filter(_.mime == "audio/wav")
      .map(m => m.media_ref -> m).toMap
    val decoded = Multimodal.decodeAudio(media).collect()
    assert(decoded.length == 10) // ids % 3 == 1
    decoded.foreach { d =>
      val src = byRef(d.media_ref)
      assert(d.sample_rate == 8000 && d.channels == 1, d.media_ref)
      assert(d.duration_ms == src.duration_ms, d.media_ref)
      assert(d.peak > 0 && d.zero_crossings > 0 && d.rms_x100 > 0)
    }
    val again = Multimodal.decodeAudio(Multimodal.synthesize(spark, 30)).collect()
    assert(decoded.sortBy(_.media_ref).map(_.rms_x100)
      sameElements again.sortBy(_.media_ref).map(_.rms_x100))
    import spark.implicits._
    val bad = Seq(Multimodal.MediaRow("s3://media/badwav", "audio/wav",
      Array[Byte](82, 73, 70, 70, 1, 2), 0, 0, 0)).toDS()
    val badOut = Multimodal.decodeAudio(bad).collect()
    assert(badOut.length == 1 && badOut.head.channels == 0)
  }

  test("feature extraction: real pixel/PCM/first-frame statistics per modality") {
    val rows = Multimodal.synthesize(spark, 12).collect().map(m => m.media_ref -> m.mime).toMap
    val f = Multimodal.extractFeatures(Multimodal.synthesize(spark, 12)).collect()
    assert(f.length == 12)
    assert(f.forall(_.feature.length == 8))
    f.foreach { mf =>
      rows(mf.media_ref) match {
        case "image/png" | "video/avi" =>
          // [w, h, meanR, meanG, meanB, grad, hashBucket, nPixels] — video
          // runs the same pixel statistics over its decoded first frame
          assert(mf.feature(0) >= 8 && mf.feature(1) >= 8)
          assert(mf.feature(2) >= 0 && mf.feature(2) <= 255)
          assert(mf.feature(7) == mf.feature(0) * mf.feature(1))
        case "audio/wav" =>
          // [rate, channels, nSamples, rms, zcRate, peak, durMs, 1]
          assert(mf.feature(0) == 8000f && mf.feature(1) == 1f)
          assert(mf.feature(3) > 0 && mf.feature(5) > 0)
          assert(mf.feature(7) == 1f)
      }
    }
    // deterministic
    val f2 = Multimodal.extractFeatures(Multimodal.synthesize(spark, 12)).collect()
    assert(f.sortBy(_.media_ref).map(_.feature.toSeq) sameElements f2.sortBy(_.media_ref).map(_.feature.toSeq))
  }

  test("bit-flipped and truncated media payloads yield failure rows, never throw") {
    // corpus-scale contract: a fixed fraction of binary payloads is always
    // corrupt; every per-row kernel must emit its failure shape (channels=0
    // image/audio rows, unparseable frame row, resize None) — task-killing
    // exceptions are forbidden
    val rnd = new scala.util.Random(1357)
    for (id <- 0L until 30L) {
      val orig = Multimodal.synthRow(id)
      for (trial <- 0 until 20) {
        val m = orig.bytes.clone()
        for (_ <- 0 to rnd.nextInt(8)) {
          val i = rnd.nextInt(m.length) // flip in place: read and write the SAME index
          m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
        }
        val row = orig.copy(bytes = m)
        if (row.mime.startsWith("image/")) {
          assert(Multimodal.decodeImageRow(row) != null)
          Multimodal.resizeImageRow(row, maxDim = 12) // Option — may be None
        } else if (row.mime.startsWith("audio/")) {
          assert(Multimodal.decodeAudioRow(row) != null)
        } else {
          assert(Multimodal.sampleFrameRows(row, everyMs = 1000).size >= 1)
        }
      }
      for (len <- Seq(1, 8, orig.bytes.length / 2, orig.bytes.length - 3)) {
        val row = orig.copy(bytes = java.util.Arrays.copyOf(orig.bytes, math.max(len, 1)))
        if (row.mime.startsWith("image/")) assert(Multimodal.decodeImageRow(row) != null)
        else if (row.mime.startsWith("audio/")) assert(Multimodal.decodeAudioRow(row) != null)
        else assert(Multimodal.sampleFrameRows(row, everyMs = 1000).size >= 1)
      }
    }
  }

  test("O2 round-trip: PDF-embedded raster → extractor media span → pdfMediaRows → decodeImages golden pixel_hash") {
    import graft.core.pdf.PdfBuilder
    import spark.implicits._
    val (w, h) = (4, 3)
    val samples = Array.tabulate(w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
    val pdf = PdfBuilder.build(Seq(Seq(PdfBuilder.Line("kurz", 50, 700))),
      rgbImage = Some((w, h, samples)))
    val b64 = java.util.Base64.getEncoder.encodeToString(pdf)
    val doc = Doc("d9", Seq(Span("pdf", b64, "", 0)))

    // the extraction kernel surfaces the raster as a per-image media span
    val r = graft.core.Extractor.extract("d9",
      Seq(Span("pdf", b64, "", 0)))
    val refs = r.spans.filter(_.kind == "media").map(_.media_ref)
    assert(refs == Vector("pdf:d9/page1/ImRGB.png"))

    // the media stage materializes bytes under the SAME refs
    val media = Multimodal.pdfMediaRows(Seq(doc).toDS())
    val rows = media.collect()
    assert(rows.map(_.media_ref).toVector == Vector("pdf:d9/page1/ImRGB.png"))
    assert(rows.head.mime == "image/png")

    // decode → golden pixel hash computed straight from the source samples
    // (PNG is lossless end to end)
    val decoded = Multimodal.decodeImages(media).collect()
    assert(decoded.length == 1)
    assert(decoded.head.width == w && decoded.head.height == h && decoded.head.channels == 3)
    var expected = 1125899906842597L
    for (y <- 0 until h; x <- 0 until w) {
      val base = (y * w + x) * 3
      expected = 31 * expected + (0xFF000000 |
        ((samples(base) & 0xFF) << 16) |
        ((samples(base + 1) & 0xFF) << 8) |
        (samples(base + 2) & 0xFF))
    }
    assert(decoded.head.pixel_hash == expected)
  }
}
