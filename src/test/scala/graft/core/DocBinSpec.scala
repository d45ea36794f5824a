package graft.core

import graft.pipeline.Span
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Golden tests for the CFB/DOC/PPT kernel against the reference's own
  * fixtures (doocparser_test.go:10-87).
  */
class DocBinSpec extends AnyFunSuite {

  private val beginning =
    "text-extraction-service\nTES is a simple Go service for extracting and storing textual content from PDF, RTF and legacy MS Word (.doc) documents."
  private val lastLine =
    "Nevertheless, if you intend to fork this project and remove the GPL-related code in favor of PDFium only, feel free to put it under Apache-2 license.\n"
  private val title = "README of github.com/johbar/text-extraction-service"

  private def fixture(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(s"/root/reference/pkg/docparser/testdata/$name"))

  test("readme.doc text matches reference goldens (TestDocParser)") {
    val ds = DocBin.openStreams(fixture("readme.doc"))
    assert(ds.wordDocument.isDefined && ds.table.isDefined)
    val txt = DocBin.wordText(ds.wordDocument.get, ds.table.get)
    assert(txt.startsWith(beginning), s"starts: ${txt.take(170)}")
    assert(txt.endsWith(lastLine), s"ends: ...${txt.takeRight(170)}")
  }

  test("readme.doc OLE metadata title (TestDocParser)") {
    val ds = DocBin.openStreams(fixture("readme.doc"))
    val m = OleProps.parse(ds.siRaw, ds.dsiRaw)
    assert(m.title == title, s"title=${m.title}")
    assert(m.toMap("x-document-title") == title)
  }

  test("readme.ppt slides match reference goldens (TestPptParser)") {
    val ds = DocBin.openStreams(fixture("readme.ppt"))
    assert(ds.pptDoc.isDefined && ds.currentUser.isDefined)
    val slides = DocBin.pptSlides(ds.pptDoc.get, ds.currentUser.get)
    assert(slides.nonEmpty)
    val txt = slides.mkString // StreamText concatenates slide texts (docparser.go:124-128)
    assert(txt.startsWith(beginning), s"starts: ${txt.take(170)}")
    assert(txt.endsWith(lastLine), s"ends: ...${txt.takeRight(170)}")
  }

  test("readme.ppt OLE metadata title (TestPptParser)") {
    val ds = DocBin.openStreams(fixture("readme.ppt"))
    val m = OleProps.parse(ds.siRaw, ds.dsiRaw)
    assert(m.title == title, s"title=${m.title}")
  }

  test("non-CFB bytes rejected") {
    intercept[Cfb.CfbException] { DocBin.openStreams("not a cfb file at all".getBytes ++ new Array[Byte](600)) }
  }

  test("encrypted doc raises EncryptedException (word.go:53-55)") {
    // flip the fEncrypted bit (bit 8 of flags word at offset 10) in a copy
    val data = fixture("readme.doc")
    val ds = DocBin.openStreams(data)
    val wd = ds.wordDocument.get.clone()
    wd(11) = (wd(11) | 0x01).toByte // byte 11 = high byte of flags word; bit 8 overall
    intercept[Extractor.EncryptedException] { DocBin.wordText(wd, ds.table.get) }
  }

  test("filterRune table (word.go:355-373)") {
    assert(DocBin.filterRune(0x04) == '\n')
    assert(DocBin.filterRune(0x07) == '\t')
    assert(DocBin.filterRune(0x09) == '\t')
    assert(DocBin.filterRune(0x14) == ' ')
    Seq(0x0A, 0x0B, 0x0C, 0x0D).foreach(r => assert(DocBin.filterRune(r) == '\n'))
    Seq(0x00, 0x01, 0x02, 0x03, 0x05, 0x06, 0x08, 0x13, 0x15).foreach(r =>
      assert(DocBin.filterRune(r) == 0))
    assert(DocBin.filterRune('A') == 'A')
  }
}

/** Extractor dispatch integration: OLE payloads sniffed from magic bytes. */
class DocBinDispatchSpec extends AnyFunSuite {
  test("bin payload sniffs to OLE and extracts doc text via Extractor") {
    val data = Files.readAllBytes(Paths.get("/root/reference/pkg/docparser/testdata/readme.doc"))
    val b64 = java.util.Base64.getEncoder.encodeToString(data)
    val r = Extractor.extract("d1", Seq(Span("bin", b64, "", 0)),
      Extractor.Config(removeNewlines = false))
    assert(r.failure == "")
    assert(r.spans.nonEmpty)
    assert(r.spans.head.text.startsWith("text-extraction-service"))
    assert(r.metadata("x-document-title") == "README of github.com/johbar/text-extraction-service")
  }

  test("ppt payload extracts one span per slide via Extractor") {
    val data = Files.readAllBytes(Paths.get("/root/reference/pkg/docparser/testdata/readme.ppt"))
    val b64 = java.util.Base64.getEncoder.encodeToString(data)
    val r = Extractor.extract("p1", Seq(Span("ppt", b64, "", 0)),
      Extractor.Config(removeNewlines = false))
    assert(r.failure == "")
    assert(r.spans.length > 1)
    assert(r.spans.head.text.startsWith("text-extraction-service"))
  }
}

/** Size-reject rules (S4, docfactory.go:28-29 / config.go:34). */
class SizeRejectSpec extends AnyFunSuite {
  test("payload over maxFileBytes rejects as too_large") {
    val big = java.util.Base64.getEncoder.encodeToString(new Array[Byte](2048))
    val r = Extractor.extract("d", Seq(Span("rtf", big, "", 0)),
      Extractor.Config(maxFileBytes = 1024))
    assert(r.failure == "too_large")
    assert(r.spans.isEmpty)
  }

  test("empty payload rejects as zero_size") {
    val r = Extractor.extract("d", Seq(Span("rtf", "", "", 0)))
    assert(r.failure == "zero_size")
  }

  test("empty span list rejects as zero_size") {
    assert(Extractor.extract("d", Seq.empty).failure == "zero_size")
  }
}
