package graft.core.pdf

import java.util.zip.Inflater
import scala.collection.mutable

/** PDF file reader: xref tables AND xref streams (with /Prev chains and
  * hybrid /XRefStm), object streams (/Type /ObjStm), FlateDecode with PNG
  * predictors, page-tree walk with attribute inheritance. The minimal
  * equivalent of the pdfcpu read path the reference relies on
  * (native_pdf.go:30-58, tagged_content_parser.go:79 consolidateRes).
  */
final class PdfFile(data: Array[Byte]) {

  final class PdfReadException(msg: String) extends RuntimeException(msg)

  /** objnum → either (offset in file) or (objstm num, index). */
  private sealed trait XrefEntry
  private final case class InFile(offset: Long) extends XrefEntry
  private final case class InStream(streamNum: Int, idx: Int) extends XrefEntry

  private val xref = mutable.HashMap[Int, XrefEntry]()
  private var trailer: PdfDict = PdfDict(Map.empty)
  private val objCache = mutable.HashMap[Int, PdfObj]()
  private val objStmCache = mutable.HashMap[Int, Array[(Int, PdfObj)]]()

  /** Per-resources-dict font/XObject maps: pages of one document usually
    * share a resources dict, and rebuilding the maps per page dominated the
    * PDF kernel's allocation (252 KB/doc measured round 2 — fonts re-parse
    * ToUnicode CMaps and width arrays every page). Keyed structurally
    * (PdfDict is a case class), so distinct per-page resources still build
    * their own maps.
    */
  private[pdf] val resourceMapCache =
    mutable.HashMap[PdfDict, (PdfText.FontLookup, Map[String, PdfExtract.XObj])]()

  /** Per-file font cache keyed by the font's reference object: fonts are
    * parsed lazily on first Tf lookup ([[PdfText.fontForRef]]) and refs
    * are stable across pages/XObjects, so each referenced font parses
    * once per document no matter how many resource dicts name it. A null
    * value records an unresolvable ref (not re-chased).
    */
  private[pdf] val fontCache = mutable.HashMap[PdfObj, PdfText.PdfFont]()

  val headerVersion: String = {
    val head = new String(data, 0, math.min(16, data.length), "ISO-8859-1")
    if (head.startsWith("%PDF-")) head.drop(5).takeWhile(c => c.isDigit || c == '.') else "1.4"
  }

  locate()

  // ── xref parsing ───────────────────────────────────────────────────────────

  private def locate(): Unit = {
    val tailStart = math.max(0, data.length - 1024)
    val tail = new String(data, tailStart, data.length - tailStart, "ISO-8859-1")
    val m = "startxref".r.findAllMatchIn(tail).toSeq.lastOption
      .getOrElse(throw new PdfReadException("no startxref"))
    var i = tailStart + m.end
    while (i < data.length && (data(i) == ' ' || data(i) == '\r' || data(i) == '\n')) i += 1
    val numStart = i
    while (i < data.length && data(i) >= '0' && data(i) <= '9') i += 1
    val start = new String(data, numStart, i - numStart, "US-ASCII").toLong
    val seen = mutable.HashSet[Long]()
    var next = start
    var first = true
    while (next >= 0 && !seen.contains(next)) {
      seen += next
      next = parseXrefSection(next.toInt, isFirst = first)
      first = false
    }
  }

  /** Parse one xref section (table or stream) at `off`; returns /Prev or -1. */
  private def parseXrefSection(off: Int, isFirst: Boolean): Long = {
    val lex = new PdfLexer(data, off)
    lex.skipWs()
    if (lex.pos + 4 <= data.length &&
      new String(data, lex.pos, 4, "US-ASCII") == "xref") {
      // classic table
      lex.pos += 4
      var done = false
      while (!done) {
        lex.skipWs()
        if (lex.pos + 7 <= data.length &&
          new String(data, lex.pos, 7, "US-ASCII") == "trailer") {
          lex.pos += 7
          done = true
        } else {
          // subsection: start count
          val a = lex.parseObj(); val b = lex.parseObj()
          (a, b) match {
            case (PdfNum(s0), PdfNum(cnt)) =>
              var k = 0
              while (k < cnt.toInt) {
                // lexer-based entry parse tolerates 19/20-byte lines
                val offV = lex.parseObj()
                lex.parseObj() // gen
                lex.skipWs()
                val typ = if (lex.pos < data.length) data(lex.pos) else 'f'
                if (typ == 'n' || typ == 'f') lex.pos += 1
                val objNum = s0.toInt + k
                (offV, typ) match {
                  case (PdfNum(o), 'n') if !xref.contains(objNum) =>
                    xref(objNum) = InFile(o.toLong)
                  case _ =>
                }
                k += 1
              }
            case _ => done = true
          }
        }
      }
      val t = lex.parseObj() match {
        case d: PdfDict => d
        case _ => PdfDict(Map.empty)
      }
      if (isFirst || trailer.entries.isEmpty) trailer = mergeTrailer(trailer, t)
      // hybrid-reference file: also load the XRefStm
      t.get("XRefStm").foreach {
        case PdfNum(x) => parseXrefSection(x.toInt, isFirst = false)
        case _ =>
      }
      t.get("Prev") match {
        case Some(PdfNum(p)) => p.toLong
        case _ => -1L
      }
    } else {
      // xref stream: "num gen obj <<...>> stream"
      val obj = parseIndirectAt(off)
      obj match {
        case s: PdfStreamObj =>
          val dict = s.dict
          val content = decodeStream(s)
          loadXrefStream(dict, content)
          if (isFirst || trailer.entries.isEmpty) trailer = mergeTrailer(trailer, dict)
          dict.get("Prev") match {
            case Some(PdfNum(p)) => p.toLong
            case _ => -1L
          }
        case _ => throw new PdfReadException(s"no xref at offset $off")
      }
    }
  }

  private def mergeTrailer(base: PdfDict, extra: PdfDict): PdfDict =
    PdfDict(extra.entries ++ base.entries) // earlier (newer) entries win

  private def loadXrefStream(dict: PdfDict, content: Array[Byte]): Unit = {
    val w = dict.get("W") match {
      case Some(PdfArr(items)) => items.collect { case PdfNum(v) => v.toInt }
      case _ => throw new PdfReadException("xref stream missing /W")
    }
    if (w.length < 3) throw new PdfReadException("bad /W")
    val size = dict.get("Size") match {
      case Some(PdfNum(v)) => v.toInt
      case _ => 0
    }
    val index: Vector[(Int, Int)] = dict.get("Index") match {
      case Some(PdfArr(items)) =>
        items.collect { case PdfNum(v) => v.toInt }.grouped(2)
          .collect { case Vector(a, b) => (a, b) }.toVector
      case _ => Vector((0, size))
    }
    val rowLen = w.sum
    var pos = 0
    index.foreach { case (start, count) =>
      var k = 0
      while (k < count && pos + rowLen <= content.length) {
        def field(fi: Int): Long = {
          var v = 0L
          val base = pos + w.take(fi).sum
          var j = 0
          while (j < w(fi)) { v = (v << 8) | (content(base + j) & 0xFF); j += 1 }
          v
        }
        val typ = if (w(0) == 0) 1L else field(0)
        val f2 = field(1)
        val f3 = field(2)
        val objNum = start + k
        if (!xref.contains(objNum)) {
          typ match {
            case 1 => xref(objNum) = InFile(f2)
            case 2 => xref(objNum) = InStream(f2.toInt, f3.toInt)
            case _ => // free
          }
        }
        pos += rowLen
        k += 1
      }
    }
  }

  // ── object access ──────────────────────────────────────────────────────────

  private def parseIndirectAt(off: Int): PdfObj = {
    val lex = new PdfLexer(data, off)
    lex.skipWs()
    // num gen obj
    lex.parseObj() // num (or the object itself for malformed files)
    lex.parseObj() // gen
    lex.skipWs()
    if (lex.pos + 3 <= data.length && new String(data, lex.pos, 3, "US-ASCII") == "obj")
      lex.pos += 3
    val body = lex.parseObj()
    body match {
      case s: PdfStreamObj =>
        // resolve indirect /Length and re-slice if the scan-based slice differs
        s.dict.get("Length") match {
          case Some(r: PdfRef) =>
            resolve(r) match {
              case PdfNum(len) if len.toInt >= 0 && len.toInt != s.rawLen =>
                // trim to exactly len bytes — a re-slice of the recorded
                // span, no copy (padding past the scan end is not possible)
                if (len.toInt < s.rawLen) s.trimmed(len.toInt)
                else body
              case _ => body
            }
          case _ => body
        }
      case o => o
    }
  }

  def fetch(num: Int): PdfObj = objCache.get(num) match {
    case Some(o) => o
    case None =>
      // no getOrElseUpdate: fetch re-enters itself via loadObjStm
      val o = xref.get(num) match {
        case Some(InFile(off)) if off >= 0 && off < data.length =>
          try parseIndirectAt(off.toInt) catch { case _: Exception => PdfNull }
        case Some(InStream(stmNum, idx)) =>
          val members = objStmCache.get(stmNum) match {
            case Some(m) => m
            case None =>
              val m = try loadObjStm(stmNum) catch { case _: Exception => Array.empty[(Int, PdfObj)] }
              objStmCache(stmNum) = m
              m
          }
          if (idx < members.length && members(idx)._1 == num) members(idx)._2
          else members.find(_._1 == num).map(_._2).getOrElse(PdfNull)
        case _ => PdfNull
      }
      objCache(num) = o
      o
  }

  private def loadObjStm(num: Int): Array[(Int, PdfObj)] = {
    fetch(num) match {
      case s: PdfStreamObj =>
        val dict = s.dict
        val content = decodeStream(s)
        val n = dict.get("N") match { case Some(PdfNum(v)) => v.toInt; case _ => 0 }
        val first = dict.get("First") match { case Some(PdfNum(v)) => v.toInt; case _ => 0 }
        val hdr = new PdfLexer(content, 0)
        val pairs = (0 until n).map { _ =>
          val a = hdr.parseObj(); val b = hdr.parseObj()
          (a, b) match {
            case (PdfNum(on), PdfNum(off)) => (on.toInt, off.toInt)
            case _ => (0, 0)
          }
        }
        pairs.map { case (objNum, off) =>
          val lex = new PdfLexer(content, first + off)
          (objNum, try lex.parseObj() catch { case _: Exception => PdfNull })
        }.toArray
      case _ => Array.empty
    }
  }

  @annotation.tailrec
  def resolve(o: PdfObj, depth: Int = 0): PdfObj = o match {
    case PdfRef(num, _) if depth < 32 => resolve(fetch(num), depth + 1)
    case PdfRef(_, _) => PdfNull
    case other => other
  }

  def dict(o: PdfObj): Option[PdfDict] = resolve(o) match {
    case d: PdfDict => Some(d)
    case s: PdfStreamObj => Some(s.dict)
    case _ => None
  }

  def array(o: PdfObj): Option[PdfArr] = resolve(o) match {
    case a: PdfArr => Some(a)
    case _ => None
  }

  def num(o: PdfObj): Option[Double] = resolve(o) match {
    case PdfNum(v) => Some(v)
    case _ => None
  }

  def name(o: PdfObj): Option[String] = resolve(o) match {
    case PdfName(n) => Some(n)
    case _ => None
  }

  def str(o: PdfObj): Option[Array[Byte]] = resolve(o) match {
    case PdfStr(b) => Some(b)
    case _ => None
  }

  def stream(o: PdfObj): Option[PdfStreamObj] = resolve(o) match {
    case s: PdfStreamObj => Some(s)
    case _ => None
  }

  // ── stream decoding ────────────────────────────────────────────────────────

  def decodeStream(s: PdfStreamObj): Array[Byte] = {
    val filters: Vector[String] = s.dict.get("Filter") match {
      case Some(PdfName(n)) => Vector(n)
      case Some(a: PdfArr) => a.items.flatMap(name(_)).toVector
      case Some(r: PdfRef) => resolve(r) match {
        case PdfName(n) => Vector(n)
        case PdfArr(items) => items.flatMap(name(_)).toVector
        case _ => Vector.empty
      }
      case _ => Vector.empty
    }
    val parms: Vector[Option[PdfDict]] = s.dict.get("DecodeParms").orElse(s.dict.get("DP")) match {
      case Some(d: PdfDict) => Vector(Some(d))
      case Some(a: PdfArr) => a.items.map(i => dict(i)).toVector
      case Some(r: PdfRef) => Vector(dict(r))
      case _ => Vector.empty
    }
    // `out == null` means "still the un-materialized raw slice": the first
    // FlateDecode inflates directly from (src, start, len), so the common
    // single-Flate stream never copies its encoded bytes at all
    var out: Array[Byte] = null
    filters.zipWithIndex.foreach { case (f, i) =>
      val p = if (i < parms.length) parms(i) else None
      f match {
        case "FlateDecode" | "Fl" =>
          val inflated =
            if (out == null) inflateRange(s.src0, s.start0, s.rawLen)
            else inflate(out)
          out = predictor(inflated, p)
        case "ASCIIHexDecode" | "AHx" =>
          val in = if (out == null) s.raw else out
          val buf = new java.io.ByteArrayOutputStream()
          var hi = -1
          in.foreach { b =>
            if (b != '>') {
              val d = Character.digit(b, 16)
              if (d >= 0) { if (hi < 0) hi = d else { buf.write((hi << 4) | d); hi = -1 } }
            }
          }
          if (hi >= 0) buf.write(hi << 4)
          out = buf.toByteArray
        case _ => // DCTDecode etc: leave raw (images aren't text sources)
      }
    }
    if (out == null) s.raw else out
  }

  private def inflate(in: Array[Byte]): Array[Byte] = inflateRange(in, 0, in.length)

  /** Per-thread Inflater + growable output scratch: the previous
    * new-Inflater + 16 KB chunk + oversized ByteArrayOutputStream +
    * toByteArray sequence cost three allocations and two full copies per
    * stream (content streams, fonts, CMaps, ObjStm, xref streams — the
    * hottest non-text allocations in the PDF kernel). Retention is bounded
    * the same way as ZipArchive's scratch.
    */
  private def inflateRange(src: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val s = PdfFile.inflateScratchTL.get()
    val inf = s.inf
    inf.reset()
    inf.setInput(src, off, len)
    var n = 0
    try {
      var done = false
      while (!done && !inf.finished()) {
        if (n == s.acc.length)
          s.acc = java.util.Arrays.copyOf(s.acc, s.acc.length * 2)
        val k =
          try inf.inflate(s.acc, n, s.acc.length - n)
          catch { case _: java.util.zip.DataFormatException => done = true; 0 }
        if (k > 0) n += k
        else if (!done && (inf.needsInput() || inf.needsDictionary())) done = true
      }
      java.util.Arrays.copyOf(s.acc, n)
    } finally {
      // drop the setInput reference too (ADVICE r5): without this reset the
      // thread-local Inflater pins the whole source document array between
      // calls — up to one full PDF buffer per pooled task thread
      inf.reset()
      if (s.acc.length > (8 << 20)) s.acc = new Array[Byte](1 << 20)
    }
  }

  /** PNG predictors (Predictor >= 10) and TIFF predictor 2 over decoded data. */
  private def predictor(in: Array[Byte], parms: Option[PdfDict]): Array[Byte] = {
    val p = parms.flatMap(_.get("Predictor")).flatMap(num).getOrElse(1.0).toInt
    if (p <= 1) return in
    val columns = parms.flatMap(_.get("Columns")).flatMap(num).getOrElse(1.0).toInt
    val colors = parms.flatMap(_.get("Colors")).flatMap(num).getOrElse(1.0).toInt
    val bpc = parms.flatMap(_.get("BitsPerComponent")).flatMap(num).getOrElse(8.0).toInt
    val bpp = math.max(1, colors * bpc / 8)
    val rowLen = (columns * colors * bpc + 7) / 8
    if (p == 2) { // TIFF
      val out = in.clone()
      var r = 0
      while (r * rowLen < out.length) {
        var i = bpp
        while (i < rowLen && r * rowLen + i < out.length) {
          out(r * rowLen + i) = (out(r * rowLen + i) + out(r * rowLen + i - bpp)).toByte
          i += 1
        }
        r += 1
      }
      return out
    }
    // PNG predictors: each row prefixed with a filter-type byte
    val nRows = in.length / (rowLen + 1)
    val out = new Array[Byte](nRows * rowLen)
    var r = 0
    while (r < nRows) {
      val ft = in(r * (rowLen + 1)) & 0xFF
      val src = r * (rowLen + 1) + 1
      val dst = r * rowLen
      var i = 0
      while (i < rowLen) {
        val raw = in(src + i) & 0xFF
        val left = if (i >= bpp) out(dst + i - bpp) & 0xFF else 0
        val up = if (r > 0) out(dst - rowLen + i) & 0xFF else 0
        val upLeft = if (r > 0 && i >= bpp) out(dst - rowLen + i - bpp) & 0xFF else 0
        val v = ft match {
          case 0 => raw
          case 1 => raw + left
          case 2 => raw + up
          case 3 => raw + (left + up) / 2
          case 4 =>
            val pa = math.abs(up - upLeft)
            val pb = math.abs(left - upLeft)
            val pc = math.abs(left + up - 2 * upLeft)
            val pred = if (pa <= pb && pa <= pc) left else if (pb <= pc) up else upLeft
            raw + pred
          case _ => raw
        }
        out(dst + i) = v.toByte
        i += 1
      }
      r += 1
    }
    out
  }

  // ── document structure ─────────────────────────────────────────────────────

  /** /Encrypt in the trailer ⇒ content streams are RC4/AES-encrypted.
    * Surfaced as a distinct state so the pipeline can map it to the
    * `encrypted` failure code (parity with the reference's typed errors for
    * protected DOC/PPT, word.go:53-55 / ppt.go:461-463; its PDF reader
    * (pdfcpu) likewise fails encrypted files distinctly).
    */
  def isEncrypted: Boolean = trailer.get("Encrypt").isDefined

  def catalog: PdfDict =
    trailer.get("Root").flatMap(dict).getOrElse(PdfDict(Map.empty))

  def infoDict: Option[PdfDict] = trailer.get("Info").flatMap(dict)

  /** true when the catalog declares tagged structure (MarkInfo/Marked). */
  def tagged: Boolean =
    catalog.get("MarkInfo").flatMap(dict)
      .flatMap(_.get("Marked")).map(resolve(_)) match {
      case Some(PdfBool(b)) => b
      case _ => false
    }

  def version: String =
    catalog.get("Version").flatMap(name).getOrElse(headerVersion)

  /** One entry per page, in document order: (pageDict, inherited+own
    * Resources — the consolidateRes behavior the reference depends on).
    */
  lazy val pages: Vector[(PdfDict, PdfDict)] = {
    val out = Vector.newBuilder[(PdfDict, PdfDict)]
    def walk(nodeObj: PdfObj, inheritedRes: PdfDict, depth: Int): Unit = {
      if (depth > 64) return
      dict(nodeObj).foreach { node =>
        val res = node.get("Resources").flatMap(dict) match {
          case Some(own) => PdfDict(inheritedRes.entries ++ own.entries)
          case None => inheritedRes
        }
        node.get("Type").flatMap(n => name(n)) match {
          case Some("Pages") =>
            node.get("Kids").flatMap(array).foreach(_.items.foreach(k => walk(k, res, depth + 1)))
          case Some("Page") => out += ((node, res))
          case _ =>
            // missing /Type: treat nodes with /Kids as Pages, else Page
            if (node.get("Kids").isDefined)
              node.get("Kids").flatMap(array).foreach(_.items.foreach(k => walk(k, res, depth + 1)))
            else if (node.get("Contents").isDefined) out += ((node, res))
        }
      }
    }
    catalog.get("Pages").foreach(p => walk(p, PdfDict(Map.empty), 0))
    out.result()
  }

  def pageCount: Int = pages.length

  /** Decoded page content (multiple streams concatenated with '\n'). */
  def pageContent(page: PdfDict): Array[Byte] = {
    page.get("Contents") match {
      case Some(c) =>
        resolve(c) match {
          case s: PdfStreamObj => decodeStream(s)
          case PdfArr(items) =>
            val bufs = items.flatMap(stream(_)).map(decodeStream)
            if (bufs.isEmpty) Array.emptyByteArray
            else bufs.reduce((a, b) => a ++ Array('\n'.toByte) ++ b)
          case _ => Array.emptyByteArray
        }
      case None => Array.emptyByteArray
    }
  }
}

object PdfFile {
  /** See [[PdfFile.inflateRange]]: one Inflater + output scratch per task
    * thread; `reset()` between streams. The Inflater's native window lives
    * for the thread — bounded, and far cheaper than end()/new per stream.
    */
  private final class InflateScratch {
    val inf = new Inflater()
    var acc = new Array[Byte](16384)
  }
  private val inflateScratchTL: ThreadLocal[InflateScratch] =
    ThreadLocal.withInitial(() => new InflateScratch)
}
