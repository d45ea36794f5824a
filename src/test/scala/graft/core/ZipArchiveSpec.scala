package graft.core

import graft.pipeline.Span
import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.scalatest.funsuite.AnyFunSuite

class ZipArchiveSpec extends AnyFunSuite {

  private def zipWith(name: String, size: Int, fill: Byte): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    z.putNextEntry(new ZipEntry(name))
    val chunk = Array.fill[Byte](1 << 16)(fill)
    var written = 0
    while (written < size) {
      val n = math.min(chunk.length, size - written)
      z.write(chunk, 0, n)
      written += n
    }
    z.closeEntry()
    z.close()
    bos.toByteArray
  }

  test("entries between 32 MiB and the 50 MiB cap are accepted in full") {
    // regression: the scratch doubling from 32 MiB jumps to 64 MiB, which an
    // early guard falsely rejected as limit_exceeded — the reference accepts
    // entries up to exactly 50 MiB
    val size = 40 * 1024 * 1024
    val out = ZipArchive.read(zipWith("big.xml", size, 'x'.toByte), _ => true).entries
    assert(out.size == 1)
    assert(out.head.data.length == size)
    assert(out.head.data(0) == 'x'.toByte && out.head.data(size - 1) == 'x'.toByte)
  }

  test("entries over the 50 MiB cap are rejected") {
    val size = ZipArchive.MaxEntryBytes + 1024
    assertThrows[ZipArchive.EntryTooBigException] {
      ZipArchive.read(zipWith("huge.xml", size, 'y'.toByte), _ => true).entries
    }
  }

  /** A pptx of `slides` slides, each `<a:t>slide i</a:t>` padded with
    * spaces to `slideBytes` bytes.
    */
  private def paddedPptx(slides: Int, slideBytes: Int): String = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    val pad = Array.fill[Byte](1 << 16)(' '.toByte)
    for (i <- 1 to slides) {
      val head = s"<p:sld><p:cSld><a:t>slide $i</a:t></p:cSld>".getBytes("UTF-8")
      val tail = "</p:sld>".getBytes("UTF-8")
      z.putNextEntry(new ZipEntry(s"ppt/slides/slide$i.xml"))
      z.write(head)
      var written = head.length + tail.length
      while (written < slideBytes) {
        val n = math.min(pad.length, slideBytes - written)
        z.write(pad, 0, n)
        written += n
      }
      z.write(tail)
      z.closeEntry()
    }
    z.close()
    java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
  }

  test("the selected entries of one archive share the 50 MiB cap") {
    val slide = 20 * 1024 * 1024
    val three = Extractor.extract("d3", Seq(Span("pptx", paddedPptx(3, slide), "", 0)))
    assert(three.failure == "limit_exceeded")
    val two = Extractor.extract("d2", Seq(Span("pptx", paddedPptx(2, slide), "", 0)))
    assert(two.failure == "")
    val text = two.spans.map(_.text).mkString
    assert(text.contains("slide 1") && text.contains("slide 2"), text.take(200))
  }

  test("small entries still read correctly after a near-cap entry on the same thread") {
    // the per-thread scratch shrinks back after oversized reads; a
    // subsequent normal read must be unaffected
    val big = zipWith("big.xml", 33 * 1024 * 1024, 'a'.toByte)
    ZipArchive.read(big, _ => true).entries
    val small = ZipArchive.read(zipWith("s.xml", 1234, 'b'.toByte), _ => true).entries
    assert(small.head.data.length == 1234)
    assert(small.head.data.forall(_ == 'b'.toByte))
  }
}
