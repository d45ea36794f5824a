package graft.core

import graft.pipeline.Span
import org.scalatest.funsuite.AnyFunSuite

/** Garbage-tolerance: at corpus scale every format parser sees truncated,
  * corrupt, and adversarial bytes. The Extractor must classify, never
  * throw. Deterministic fuzz via seeded RNG.
  */
class RobustnessSpec extends AnyFunSuite {

  private val magics: Seq[Array[Byte]] = Seq(
    "%PDF-1.4\n".getBytes("ISO-8859-1"),
    "{\\rtf1\\ansi ".getBytes("ISO-8859-1"),
    Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte),
    Array('P'.toByte, 'K'.toByte, 3.toByte, 4.toByte),
    "<!doctype html><html>".getBytes("ISO-8859-1"),
    Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte), // image magic → media span
    Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte),
    Array.emptyByteArray)

  test("random bytes after every magic prefix never escape as exceptions") {
    val rnd = new scala.util.Random(1234)
    for (trial <- 0 until 300) {
      val magic = magics(trial % magics.length)
      val junk = new Array[Byte](rnd.nextInt(2000))
      rnd.nextBytes(junk)
      val payload = java.util.Base64.getEncoder.encodeToString(magic ++ junk)
      val r = Extractor.extract(s"fuzz$trial",
        Seq(Span("bin", payload, "", 0)))
      // must return a Result — any failure code (or even success on
      // byte salads that happen to parse) is acceptable; throwing is not
      assert(r != null)
      if (r.failure.nonEmpty)
        assert(Set("zero_size", "too_large", "unknown_format", "parse_error",
          "content_not_found", "encrypted", "limit_exceeded").contains(r.failure), r.failure)
    }
  }

  test("truncations of a valid PDF never throw") {
    val pdf = graft.core.pdf.PdfBuilder.build(
      Seq(Seq(graft.core.pdf.PdfBuilder.Line("truncate me please now", 50, 700))))
    for (len <- Seq(1, 8, 64, pdf.length / 4, pdf.length / 2, pdf.length - 10)) {
      val cut = java.util.Arrays.copyOf(pdf, len)
      val r = Extractor.extract("t",
        Seq(Span("pdf", java.util.Base64.getEncoder.encodeToString(cut), "", 0)))
      assert(r != null)
    }
  }

  test("truncations of a valid docx zip never throw") {
    val docx = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      z.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
      z.write("<w:document><w:body><w:p><w:t>text here</w:t></w:p></w:body></w:document>".getBytes)
      z.closeEntry(); z.close()
      bos.toByteArray
    }
    for (len <- Seq(4, 30, docx.length / 2, docx.length - 5)) {
      val cut = java.util.Arrays.copyOf(docx, len)
      val r = Extractor.extract("t",
        Seq(Span("docx", java.util.Base64.getEncoder.encodeToString(cut), "", 0)))
      assert(r != null)
    }
  }

  test("dehyphenator chunk-state invariance: any line-boundary split == whole") {
    // generalizes dehyphen_test.go:26-49 to the chunked-page API
    val rnd = new scala.util.Random(99)
    val words = Array("wort", "Wort", "EU", "E", "stra", "ße", "Mail", "-", "")
    for (_ <- 0 until 300) {
      val lines = Seq.fill(rnd.nextInt(10) + 1)(
        Seq.fill(rnd.nextInt(4) + 1)(words(rnd.nextInt(words.length))).mkString(" ") +
          Seq("", "-", "‐")(rnd.nextInt(3)) + "\n")
      val text = lines.mkString
      val whole = Dehyphenator.dehyphenate(text, removeNewlines = false)
      // random chunking at line boundaries
      var pend = 0
      val sb = new StringBuilder
      var i = 0
      while (i < lines.length) {
        val take = 1 + rnd.nextInt(3)
        val chunk = lines.slice(i, i + take).mkString
        val (out, p) = Dehyphenator.dehyphenateChunk(chunk, removeNewlines = false, pend)
        sb.append(out); pend = p
        i += take
      }
      assert(sb.toString == whole, s"input=${text.replace("\n", "\\n")}")
    }
  }

  private def assertNeverThrows(id: String, payload: Array[Byte]): Unit = {
    val r = Extractor.extract(id,
      Seq(Span("pdf", java.util.Base64.getEncoder.encodeToString(payload), "", 0)))
    assert(r != null)
    if (r.failure.nonEmpty)
      assert(Set("zero_size", "too_large", "unknown_format", "parse_error",
        "content_not_found", "encrypted", "limit_exceeded").contains(r.failure), r.failure)
  }

  test("bit-flipped xref-TABLE PDFs classify, never throw (tail-biased flips)") {
    // a corrupt shard at corpus scale must yield failure rows, not task
    // aborts; half the flips land in the last 200 bytes, where the xref
    // table, trailer, and startxref live
    val pdf = graft.core.pdf.PdfBuilder.build(
      (0 until 3).map(p => (0 until 4).map(i =>
        graft.core.pdf.PdfBuilder.Line(s"page $p line $i with content", 50, 700 - i * 20))),
      title = "fuzz target", withImagePage = true)
    val rnd = new scala.util.Random(4321)
    for (trial <- 0 until 200) {
      val m = pdf.clone()
      for (_ <- 0 to rnd.nextInt(8)) {
        val pos =
          if (rnd.nextBoolean()) m.length - 1 - rnd.nextInt(math.min(200, m.length))
          else rnd.nextInt(m.length)
        m(pos) = (m(pos) ^ (1 << rnd.nextInt(8))).toByte
      }
      assertNeverThrows(s"flip$trial", m)
    }
  }

  test("bit-flipped xref-STREAM PDFs classify, never throw") {
    // the compressed-xref path: predictor decode, ObjStm indirection
    val pdf = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      "/root/reference/pkg/pdflibwrappers/testdata/2000001.pdf"))
    val rnd = new scala.util.Random(8765)
    for (trial <- 0 until 120) {
      val m = pdf.clone()
      for (_ <- 0 to rnd.nextInt(6)) {
        val pos =
          if (rnd.nextBoolean()) m.length - 1 - rnd.nextInt(math.min(400, m.length))
          else rnd.nextInt(m.length)
        m(pos) = (m(pos) ^ (1 << rnd.nextInt(8))).toByte
      }
      assertNeverThrows(s"xs$trial", m)
    }
    // truncations of the xref-stream fixture
    for (len <- Seq(16, 200, pdf.length / 3, pdf.length / 2, pdf.length - 7))
      assertNeverThrows(s"xt$len", java.util.Arrays.copyOf(pdf, len))
  }

  private def assertNeverThrowsKind(id: String, kind: String, payload: Array[Byte]): Unit = {
    val r = Extractor.extract(id,
      Seq(Span(kind, java.util.Base64.getEncoder.encodeToString(payload), "", 0)))
    assert(r != null)
    if (r.failure.nonEmpty)
      assert(Set("zero_size", "too_large", "unknown_format", "parse_error",
        "content_not_found", "encrypted", "limit_exceeded").contains(r.failure), r.failure)
  }

  test("bit-flipped RTF / CFB (doc, ppt) / OOXML fixtures classify, never throw") {
    val fixtures = Seq(
      "rtf" -> "/root/reference/pkg/rtfparser/testdata/readme.rtf",
      "bin" -> "/root/reference/pkg/docparser/testdata/readme.doc",
      "bin" -> "/root/reference/pkg/docparser/testdata/readme.ppt",
      "bin" -> "/root/reference/pkg/officexmlparser/testdata/readme.docx")
    val rnd = new scala.util.Random(2468)
    for ((kind, path) <- fixtures) {
      val orig = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      for (trial <- 0 until 60) {
        val m = orig.clone()
        for (_ <- 0 to rnd.nextInt(6)) {
          val i = rnd.nextInt(m.length) // flip in place: read and write the SAME index
          m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
        }
        assertNeverThrowsKind(s"$path#$trial", kind, m)
      }
      for (len <- Seq(4, 64, orig.length / 3, orig.length - 3))
        assertNeverThrowsKind(s"$path#t$len", kind, java.util.Arrays.copyOf(orig, len))
    }
  }

  test("targeted zip-structure corruption (headers, sizes, deflate, EOCD) classifies, never throws") {
    // a multi-entry pptx-shaped container so the walker crosses several
    // local headers, the central directory, and the EOCD record
    val zipBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      def add(name: String, body: String): Unit = {
        z.putNextEntry(new java.util.zip.ZipEntry(name))
        z.write(body.getBytes("UTF-8")); z.closeEntry()
      }
      add("docProps/core.xml", "<cp:coreProperties><dc:title>T</dc:title></cp:coreProperties>")
      add("docProps/app.xml", "<Properties><Application>X</Application></Properties>")
      add("ppt/slides/slide2.xml", "<p:sld><p:cSld><a:t>second slide body text</a:t></p:cSld></p:sld>")
      add("ppt/slides/slide1.xml", "<p:sld><p:cSld><a:t>first slide body text</a:t></p:cSld></p:sld>")
      z.close()
      bos.toByteArray
    }
    // every PK signature in the file: local headers (PK\3\4), central
    // directory entries (PK\1\2), EOCD (PK\5\6)
    val sigOffsets = zipBytes.indices.filter(i =>
      i + 1 < zipBytes.length && zipBytes(i) == 'P'.toByte && zipBytes(i + 1) == 'K'.toByte)
    assert(sigOffsets.size >= 9, s"expected ≥9 PK records, got ${sigOffsets.size}")
    // 1) corrupt each signature (and each of its following 28 header bytes —
    //    version/flags/method/sizes/CRC/name-length fields)
    for (off <- sigOffsets; d <- 0 until 28; if off + d < zipBytes.length) {
      val m = zipBytes.clone()
      m(off + d) = (m(off + d) ^ 0xFF).toByte
      assertNeverThrowsKind(s"zip-hdr$off+$d", "pptx", m)
    }
    // 2) truncate at every signature boundary and just inside each record
    for (off <- sigOffsets; cut <- Seq(off, off + 2, off + 17); if cut < zipBytes.length)
      assertNeverThrowsKind(s"zip-cut$cut", "pptx",
        java.util.Arrays.copyOf(zipBytes, cut))
    // 3) shear off the EOCD/central directory tail entirely (stream walkers
    //    must cope with a file that ends mid-central-directory)
    for (tail <- Seq(1, 10, 21, 22, 40, 60); if zipBytes.length > tail)
      assertNeverThrowsKind(s"zip-tail$tail", "pptx",
        java.util.Arrays.copyOf(zipBytes, zipBytes.length - tail))
    // 4) random deflate-payload corruption between the first two headers
    val rnd = new scala.util.Random(97531)
    if (sigOffsets.size >= 2) {
      val (a, b) = (sigOffsets(0) + 30, sigOffsets(1))
      for (trial <- 0 until 40; if b > a) {
        val m = zipBytes.clone()
        val i = a + rnd.nextInt(b - a)
        m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
        assertNeverThrowsKind(s"zip-deflate$trial", "pptx", m)
      }
    }
  }

  test("a doc of 100k empty spans passed as a List extracts within 2 s, as from a Vector") {
    // the encoders decode `Seq[Span]` as a List; the offsets run backwards
    val spans = List.tabulate(100000)(i => Span("text", "", "", 100000 - i))
    val t0 = System.nanoTime()
    val r = Extractor.extract("many", spans)
    val s = (System.nanoTime() - t0) / 1e9
    assert(s < 2.0, f"took $s%.2f s")
    assert(r == Extractor.extract("many", spans.toVector))
    assert(r.spans.length == 100000 && r.failure.isEmpty)
  }

  test("deeply nested PDF arrays fail as parse_error, not StackOverflow") {
    val deep = ("%PDF-1.4\n1 0 obj\n" + "[" * 100000 + "]" * 100000 +
      "\nendobj\ntrailer\n<< /Root 1 0 R >>\nstartxref\n9\n%%EOF").getBytes("ISO-8859-1")
    val r = Extractor.extract("deep",
      Seq(Span("pdf", java.util.Base64.getEncoder.encodeToString(deep), "", 0)))
    assert(r != null)
    assert(r.failure.isEmpty || r.failure == "parse_error")
  }
}
