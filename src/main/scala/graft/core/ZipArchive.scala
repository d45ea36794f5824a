package graft.core

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream

/** Minimal in-memory zip reader for office containers (reference:
  * pkg/officexmlparser/office_parser.go:60-131). Uses the JDK inflater;
  * enforces the reference's 50 MiB per-entry cap (office_parser.go:125-127)
  * on the selected entries' sum, so an archive hands the parser at most
  * 50 MiB however many entries it selects.
  */
object ZipArchive {

  final case class Entry(name: String, data: Array[Byte])

  val MaxEntryBytes: Int = 50 * 1024 * 1024

  final class EntryTooBigException(name: String)
    extends RuntimeException(s"zip entries up to '$name' exceed 50 MiB")

  /** One walk over an archive: the entries `select` picked, in stream
    * (local header) order; the name of every entry, directories included;
    * and the first read (at most 128 bytes) of the last non-empty
    * `mimetype` entry, which is never selected. An entry that is not
    * selected is skipped (`closeEntry` still inflates it to find the next).
    */
  final case class Archive(entries: Vector[Entry], names: Vector[String], mimetype: String)

  def read(data: Array[Byte], select: String => Boolean): Archive = {
    val zin = new ZipInputStream(new ByteArrayInputStream(data))
    val out = Vector.newBuilder[Entry]
    val names = Vector.newBuilder[String]
    var mimetype = ""
    var selected = 0
    try {
      var e = zin.getNextEntry
      while (e != null) {
        val n = e.getName
        names += n
        if (n == "mimetype") {
          val buf = new Array[Byte](128)
          val k = zin.read(buf)
          if (k > 0) mimetype = new String(buf, 0, k, java.nio.charset.StandardCharsets.US_ASCII)
        } else if (!e.isDirectory && select(n)) {
          val entry = Entry(n, readCapped(zin, n, MaxEntryBytes - selected))
          selected += entry.data.length
          out += entry
        }
        zin.closeEntry()
        e = zin.getNextEntry
      }
    } finally zin.close()
    Archive(out.result(), names.result(), mimetype)
  }

  // Per-thread reusable read buffer + growable scratch: the 8 KB chunk and
  // ByteArrayOutputStream previously allocated PER ENTRY dominated the
  // OOXML kernel's bytes/doc (measured round 3: ~16 KB per entry for
  // sub-1 KB XML payloads). Entries are read sequentially per thread.
  private final class Scratch {
    val chunk = new Array[Byte](8192)
    var acc = new Array[Byte](16384)
  }
  private val scratchTL: ThreadLocal[Scratch] =
    ThreadLocal.withInitial(() => new Scratch)

  /** The current entry's bytes; throws once they pass `cap`. */
  private def readCapped(zin: ZipInputStream, name: String, cap: Int): Array[Byte] = {
    val s = scratchTL.get()
    try {
      var len = 0
      var n = zin.read(s.chunk)
      while (n >= 0) {
        if (len + n > s.acc.length) {
          // clamp growth to the cap instead of rejecting the doubled size:
          // doubling from 32 MiB jumps straight past 50 MiB, which would
          // falsely reject valid 32-50 MiB entries the cap is meant to allow
          val grown = math.min(
            math.max(s.acc.length * 2L, len + n.toLong), cap + 8192L)
          if (len + n.toLong > grown) throw new EntryTooBigException(name)
          s.acc = java.util.Arrays.copyOf(s.acc, grown.toInt)
        }
        System.arraycopy(s.chunk, 0, s.acc, len, n)
        len += n
        if (len > cap) throw new EntryTooBigException(name)
        n = zin.read(s.chunk)
      }
      java.util.Arrays.copyOf(s.acc, len)
    } finally {
      // bound per-thread retention: one near-cap entry would otherwise pin
      // its ~50 MiB scratch per task thread for the life of the executor.
      // Worst case (ADVICE r5): 8 MiB here + 8 MiB PdfFile inflate scratch
      // per task thread — ~0.5 GiB idle retention on a 32-thread executor;
      // size executor memory (or lower these caps) accordingly on small
      // (2-4 GiB) executors.
      // Shrink only above 8 MiB, and to 1 MiB rather than the initial
      // 16 KB — a corpus rich in multi-MiB entries keeps reusing the
      // scratch (the whole point of the ThreadLocal) instead of
      // re-growing it on every entry, while near-cap buffers still die.
      if (s.acc.length > (8 << 20)) s.acc = new Array[Byte](1 << 20)
    }
  }
}
