package graft.core

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
