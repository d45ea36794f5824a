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

  /** The standalone walk that told a `bin` zip's office kind before the
    * kind came from the parse's own walk: the reference for that walk.
    */
  private def refZipExt(data: Array[Byte]): String = {
    var hasWordDoc = false
    var hasSlides = false
    var mimetype = ""
    val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(data))
    try {
      var e = zin.getNextEntry
      while (e != null) {
        val n = e.getName
        if (n == "word/document.xml") hasWordDoc = true
        else if (n.startsWith("ppt/slides/")) hasSlides = true
        else if (n == "mimetype") {
          val buf = new Array[Byte](128)
          val k = zin.read(buf)
          if (k > 0) mimetype = new String(buf, 0, k, "US-ASCII").trim
        }
        zin.closeEntry()
        e = zin.getNextEntry
      }
    } catch { case _: Exception => } finally zin.close()
    if (hasWordDoc) "docx"
    else if (hasSlides) "pptx"
    else if (mimetype.contains("opendocument.presentation")) "odp"
    else if (mimetype.contains("opendocument.text")) "odt"
    else "odt"
  }

  private def zip(entries: (String, String)*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(content.getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  test("a bin zip's x-doctype, spans and failure code match the standalone kind walk") {
    val odf = "content.xml" ->
      "<office:document-content><office:body><text:p>Inhalt hier</text:p></office:body></office:document-content>"
    // SynthCorpus docx/odt (classes 11-13), pptx/odp (14-16) re-tagged as
    // bin, and the failure class 18
    val synth = (0L until 120L).filter(id => Set(11, 12, 13, 14, 15, 16, 18)((id % 20).toInt))
      .flatMap(id => graft.pipeline.SynthCorpus.mkDoc(id, 42L).spans)
      .map(s => Base64.getDecoder.decode(s.text))
    val made = Seq(
      zip("ppt/slides/" -> "", odf), // the only slides entry is the directory
      zip(odf, "ppt/slides/x.bin" -> "\u0001"),
      zip("mimetype" -> "application/vnd.oasis.opendocument.presentation", odf),
      zip("mimetype" -> "application/vnd.oasis.opendocument.text", odf),
      zip("mimetype" -> "application/zip", odf),
      zip("mimetype" -> "", odf))
    val docx = synth.find(b => refZipExt(b) == "docx").get
    val truncated = Seq(10, 40, docx.length / 2, docx.length - 30, docx.length - 1)
      .map(java.util.Arrays.copyOf(docx, _))
    val seen = (synth ++ made ++ truncated).map { payload =>
      val got = binDoc(payload)
      val kind = Extractor.sniff(payload)
      val ref =
        if (kind == "zip") Extractor.extract("d1", Seq(Span(refZipExt(payload), b64(payload), "", 0)))
        else got // not a zip: the kind walk never ran
      assert((got.failure, got.metadata, got.spans) == (ref.failure, ref.metadata, ref.spans))
      (got.metadata.getOrElse("x-doctype", ""), got.failure)
    }.toSet
    // every kind and the zip failure codes were reached
    Seq("docx", "pptx", "odt", "odp").foreach(k => assert(seen.contains((k, "")), k))
    Seq("content_not_found", "parse_error").foreach(f => assert(seen.exists(_._2 == f), f))
  }
}
