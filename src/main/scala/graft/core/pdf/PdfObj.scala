package graft.core.pdf

/** PDF object model + structural lexer/parser for file-level objects
  * (indirect objects, dicts, arrays, xref material). Built from the public
  * PDF 1.7 spec (ISO 32000-1 §7.3); the reference delegates this layer to
  * pdfcpu (native_pdf.go:30-58), so this is a from-scratch minimal reader.
  */
sealed trait PdfObj
case object PdfNull extends PdfObj
final case class PdfBool(value: Boolean) extends PdfObj
final case class PdfNum(value: Double) extends PdfObj {
  def toInt: Int = value.toInt
  def toLong: Long = value.toLong
}
final case class PdfStr(bytes: Array[Byte]) extends PdfObj
final case class PdfName(name: String) extends PdfObj
final case class PdfArr(items: Vector[PdfObj]) extends PdfObj
final case class PdfDict(entries: Map[String, PdfObj]) extends PdfObj {
  def get(key: String): Option[PdfObj] = entries.get(key)
}
final case class PdfRef(num: Int, gen: Int) extends PdfObj
/** Stream object whose raw (still-encoded) bytes materialize lazily from a
  * recorded (src, start, end) slice of the file buffer: resolving a stream
  * to inspect only its dict — the OCR rule's XObject /Subtype check, image
  * classification, the indirect-/Length fixup — no longer copies payload
  * bytes. For image XObjects that eager copy was the dominant hidden cost
  * of pageHasImages on raster-bearing pages.
  */
final class PdfStreamObj private (val dict: PdfDict, src: Array[Byte],
    start: Int, end: Int) extends PdfObj {
  /** READ-ONLY contract (ADVICE r5): when the slice spans the whole array,
    * `raw` returns the underlying file buffer itself and the memoized array
    * is shared across callers — mutating the returned bytes would corrupt
    * the file buffer / sibling consumers. Every current caller only reads;
    * a future caller that must mutate (e.g. in-place image transcode) must
    * clone() first.
    */
  lazy val raw: Array[Byte] =
    if (start == 0 && end == src.length) src
    else java.util.Arrays.copyOfRange(src, start, end)
  def rawLen: Int = end - start
  private[pdf] def src0: Array[Byte] = src
  private[pdf] def start0: Int = start
  /** Same slice trimmed to `newLen` bytes (indirect-/Length fixup) — a
    * re-slice, not a copy.
    */
  def trimmed(newLen: Int): PdfStreamObj =
    new PdfStreamObj(dict, src, start, math.min(end, start + math.max(newLen, 0)))
}
object PdfStreamObj {
  def apply(dict: PdfDict, raw: Array[Byte]): PdfStreamObj =
    new PdfStreamObj(dict, raw, 0, raw.length)
  def sliced(dict: PdfDict, src: Array[Byte], start: Int, end: Int): PdfStreamObj =
    new PdfStreamObj(dict, src, math.max(0, start), math.max(math.max(0, start), end))
}

/** Structural parser over the whole file buffer. Position-based; reused for
  * trailer dicts, indirect objects, and object-stream members.
  */
final class PdfLexer(val data: Array[Byte], var pos: Int) {

  final class ParseException(msg: String) extends RuntimeException(msg)

  /** recursion guard: crafted deep nesting ([[[[… or <<<<…) must fail as a
    * parse error, not a StackOverflowError the row-level catch can't see
    */
  private var depth = 0
  private val MaxDepth = 128

  @inline private def ws(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0
  @inline private def delim(b: Byte): Boolean =
    b == '(' || b == ')' || b == '<' || b == '>' || b == '[' || b == ']' ||
      b == '{' || b == '}' || b == '/' || b == '%'

  def skipWs(): Unit = {
    var go = true
    while (go && pos < data.length) {
      if (ws(data(pos))) pos += 1
      else if (data(pos) == '%') { // comment to EOL
        while (pos < data.length && data(pos) != '\n' && data(pos) != '\r') pos += 1
      } else go = false
    }
  }

  /** Parse one object at pos (after skipWs). */
  def parseObj(): PdfObj = {
    skipWs()
    if (pos >= data.length) throw new ParseException("EOF")
    if (depth > MaxDepth) throw new ParseException("nesting too deep")
    depth += 1
    try (data(pos): @annotation.switch) match {
      case '/' => parseName()
      case '(' => parseLiteralString()
      case '[' => parseArray()
      case '<' =>
        if (pos + 1 < data.length && data(pos + 1) == '<') parseDictOrStream()
        else parseHexString()
      case _ => parseNumberKeywordOrRef()
    } finally depth -= 1
  }

  def parseName(): PdfName = {
    pos += 1 // '/'
    val sb = new java.lang.StringBuilder(16)
    while (pos < data.length && !ws(data(pos)) && !delim(data(pos))) {
      val b = data(pos)
      if (b == '#' && pos + 2 < data.length) {
        val h = Character.digit(data(pos + 1), 16)
        val l = Character.digit(data(pos + 2), 16)
        if (h >= 0 && l >= 0) { sb.append(((h << 4) | l).toChar); pos += 3 }
        else { sb.append(b.toChar); pos += 1 }
      } else { sb.append((b & 0xFF).toChar); pos += 1 }
    }
    PdfName(sb.toString)
  }

  def parseLiteralString(): PdfStr = {
    pos += 1 // '('
    val out = new java.io.ByteArrayOutputStream()
    var depth = 0
    var done = false
    while (!done && pos < data.length) {
      val b = data(pos)
      if (b == '\\' && pos + 1 < data.length) {
        pos += 1
        data(pos) match {
          case 'n' => out.write('\n'); pos += 1
          case 'r' => out.write('\r'); pos += 1
          case 't' => out.write('\t'); pos += 1
          case 'b' => out.write('\b'); pos += 1
          case 'f' => out.write('\f'); pos += 1
          case '(' => out.write('('); pos += 1
          case ')' => out.write(')'); pos += 1
          case '\\' => out.write('\\'); pos += 1
          case '\r' =>
            pos += 1
            if (pos < data.length && data(pos) == '\n') pos += 1
          case '\n' => pos += 1
          case c if c >= '0' && c <= '7' =>
            var v = 0
            var k = 0
            while (k < 3 && pos < data.length && data(pos) >= '0' && data(pos) <= '7') {
              v = v * 8 + (data(pos) - '0'); pos += 1; k += 1
            }
            out.write(v & 0xFF)
          case c => out.write(c); pos += 1
        }
      } else if (b == '(') { depth += 1; out.write(b); pos += 1 }
      else if (b == ')') {
        if (depth == 0) { pos += 1; done = true }
        else { depth -= 1; out.write(b); pos += 1 }
      } else { out.write(b); pos += 1 }
    }
    PdfStr(out.toByteArray)
  }

  def parseHexString(): PdfStr = {
    pos += 1 // '<'
    val out = new java.io.ByteArrayOutputStream()
    var hi = -1
    var done = false
    while (!done && pos < data.length) {
      val b = data(pos)
      if (b == '>') { pos += 1; done = true }
      else {
        val d = Character.digit(b, 16)
        if (d >= 0) {
          if (hi < 0) hi = d
          else { out.write((hi << 4) | d); hi = -1 }
        }
        pos += 1
      }
    }
    if (hi >= 0) out.write(hi << 4)
    PdfStr(out.toByteArray)
  }

  def parseArray(): PdfArr = {
    pos += 1 // '['
    val items = Vector.newBuilder[PdfObj]
    var done = false
    while (!done) {
      skipWs()
      if (pos >= data.length) done = true
      else if (data(pos) == ']') { pos += 1; done = true }
      else items += parseObj()
    }
    PdfArr(items.result())
  }

  def parseDictOrStream(): PdfObj = {
    pos += 2 // '<<'
    val entries = Map.newBuilder[String, PdfObj]
    var done = false
    while (!done) {
      skipWs()
      if (pos >= data.length) done = true
      else if (data(pos) == '>' && pos + 1 < data.length && data(pos + 1) == '>') {
        pos += 2; done = true
      } else if (data(pos) == '/') {
        val k = parseName().name
        val v = parseObj()
        entries += k -> v
      } else {
        // malformed entry — skip a byte to avoid stalling
        pos += 1
      }
    }
    val dict = PdfDict(entries.result())
    // stream keyword?
    val save = pos
    skipWs()
    if (pos + 6 <= data.length &&
      data(pos) == 's' && data(pos + 1) == 't' && data(pos + 2) == 'r' &&
      data(pos + 3) == 'e' && data(pos + 4) == 'a' && data(pos + 5) == 'm') {
      pos += 6
      if (pos < data.length && data(pos) == '\r') pos += 1
      if (pos < data.length && data(pos) == '\n') pos += 1
      val start = pos
      // Length may be an indirect ref — resolved by the caller (PdfFile);
      // here we record start and let the caller slice. Mark with raw = null
      // sentinel replaced below when Length is a direct number.
      dict.get("Length") match {
        case Some(PdfNum(len)) =>
          val end = math.min(data.length, start + len.toLong).toInt
          pos = end
          skipKeyword("endstream")
          PdfStreamObj.sliced(dict, data, start, end)
        case _ =>
          // scan for "endstream" (Length indirect or missing)
          val idx = indexOf(data, "endstream".getBytes, start)
          val end = if (idx < 0) data.length else idx
          // trim a single trailing EOL
          var e = end
          if (e > start && data(e - 1) == '\n') e -= 1
          if (e > start && data(e - 1) == '\r') e -= 1
          pos = if (idx < 0) data.length else idx + 9
          PdfStreamObj.sliced(dict, data, start, e)
      }
    } else {
      pos = save
      dict
    }
  }

  private def skipKeyword(kw: String): Unit = {
    skipWs()
    if (pos + kw.length <= data.length &&
      new String(data, pos, kw.length, "US-ASCII") == kw) pos += kw.length
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = from
    val limit = hay.length - needle.length
    while (i <= limit) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  @inline private def tokenIs(start: Int, end: Int, kw: String): Boolean = {
    if (end - start != kw.length) return false
    var i = 0
    while (i < kw.length) {
      if (data(start + i) != kw.charAt(i)) return false
      i += 1
    }
    true
  }

  /** Digits [start,end) as a non-negative long, −1 on overflow/too long. */
  @inline private def digitsToLong(start: Int, end: Int): Long = {
    if (end - start > 18) return -1L
    var v = 0L
    var i = start
    while (i < end) { v = v * 10 + (data(i) - '0'); i += 1 }
    v
  }

  def parseNumberKeywordOrRef(): PdfObj = {
    // number tokens are BY FAR the most frequent object in real files
    // (width arrays, xref material, coordinates) — this path allocates
    // nothing for them (the String-per-token it replaced was the largest
    // single slice of the per-doc PDF open cost, measured round 3)
    val start = pos
    while (pos < data.length && !ws(data(pos)) && !delim(data(pos))) pos += 1
    val end = pos
    if (end == start) {
      // stray delimiter in object position (')', '>', '{', '}' — seen in
      // corrupt files): consume it and move on. Without the consume this
      // returned a zero-width token, and enclosing array/dict loops made no
      // progress — an infinite append that OOMed the task on fuzzed input.
      pos += 1
      return PdfNull
    }
    if (tokenIs(start, end, "true")) return PdfBool(true)
    if (tokenIs(start, end, "false")) return PdfBool(false)
    if (tokenIs(start, end, "null")) return PdfNull
    var allDigits = end > start
    var i = start
    while (i < end && allDigits) {
      if (data(i) < '0' || data(i) > '9') allDigits = false
      i += 1
    }
    if (allDigits) {
      val num = digitsToLong(start, end)
      if (num >= 0 && num <= Int.MaxValue) {
        // "num gen R" reference lookahead
        val save = pos
        skipWs()
        val s2 = pos
        while (pos < data.length && data(pos) >= '0' && data(pos) <= '9') pos += 1
        if (pos > s2) {
          val gen = digitsToLong(s2, pos)
          skipWs()
          if (gen >= 0 && gen <= Int.MaxValue && pos < data.length && data(pos) == 'R' &&
            (pos + 1 >= data.length || ws(data(pos + 1)) || delim(data(pos + 1)))) {
            pos += 1
            return PdfRef(num.toInt, gen.toInt)
          }
        }
        pos = save
        return PdfNum(num.toDouble)
      }
    }
    val v = PdfText.parseOperand(data, start, end)
    if (!java.lang.Double.isNaN(v)) PdfNum(v)
    else PdfName(new String(data, start, end - start, "US-ASCII")) // bare keyword
  }
}
