package graft.core

import java.util.Base64
import graft.pipeline.Span
import org.scalatest.funsuite.AnyFunSuite

/** Dispatch additions of round 2: image MIME sniffing (docfactory.go:201-203
  * + imageparser/image.go) and the encrypted-PDF failure code (parity with
  * word.go:53-55 / ppt.go:461-463 semantics).
  */
class DispatchSpec extends AnyFunSuite {

  private def b64(b: Array[Byte]) = Base64.getEncoder.encodeToString(b)
  private def binDoc(payload: Array[Byte]) =
    Extractor.extract("d1", Seq(Span("bin", b64(payload), "", 0)))

  private val pngMagic = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
  private val images: Seq[(String, Array[Byte])] = Seq(
    "png" -> (pngMagic ++ "x".getBytes),
    "jpg" -> (Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte) ++ "x".getBytes),
    "gif" -> ("GIF89a".getBytes("US-ASCII") ++ "x".getBytes),
    "gif" -> ("GIF87a".getBytes("US-ASCII") ++ "x".getBytes),
    "tiff" -> Array[Byte]('I', 'I', 0x2A, 0, 1, 2, 3),
    "tiff" -> Array[Byte]('M', 'M', 0, 0x2A, 1, 2, 3),
    "webp" -> ("RIFF1234WEBP".getBytes("US-ASCII") ++ "x".getBytes),
    "bmp" -> ("BM".getBytes("US-ASCII") ++ Array.fill[Byte](30)(1)))

  test("image magics sniff to img:<ext>") {
    images.foreach { case (ext, bytes) =>
      assert(Extractor.sniff(bytes) == s"img:$ext", ext)
    }
    // non-image leaders stay unknown / other formats
    assert(Extractor.sniff("BM".getBytes) == "") // too short for BMP
    assert(Extractor.sniff("RIFF1234WAVE".getBytes) == "") // wav ≠ webp
    assert(Extractor.sniff("%PDF-1.4".getBytes) == "pdf")
  }

  test("image documents become OCR-routed media spans with x-doctype") {
    images.foreach { case (ext, bytes) =>
      val r = binDoc(bytes)
      assert(r.failure == "", ext)
      assert(r.spans.map(_.kind) == Vector("media"), ext)
      assert(r.spans.head.media_ref == s"image:d1/span0.$ext", ext)
      assert(r.metadata.get("x-doctype").contains(ext), ext)
    }
  }

  test("image document without OCR has no parser (reference: tesswrap gate)") {
    val r = Extractor.extract("d1",
      Seq(Span("bin", b64(pngMagic ++ "x".getBytes), "", 0)),
      Extractor.Config(ocrEnabled = false))
    assert(r.failure == "unknown_format")
  }

  test("encrypted PDF yields the 'encrypted' failure code") {
    val pdf = graft.core.pdf.PdfBuilder.build(
      Seq(Seq(graft.core.pdf.PdfBuilder.Line("geheim", 50, 700))), title = "t")
    val enc = new String(pdf, "ISO-8859-1")
      .replace("/Root 1 0 R", "/Encrypt 9 0 R /Root 1 0 R")
      .getBytes("ISO-8859-1")
    val r = Extractor.extract("d1", Seq(Span("pdf", b64(enc), "", 0)))
    assert(r.failure == "encrypted")
    // the unmodified build still extracts
    val ok = Extractor.extract("d1", Seq(Span("pdf", b64(pdf), "", 0)))
    assert(ok.failure == "" && ok.spans.nonEmpty)
  }
}
