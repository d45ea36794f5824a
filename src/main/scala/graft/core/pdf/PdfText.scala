package graft.core.pdf

import scala.collection.mutable

/** PDF text extraction engine — the Scala re-expression of the reference's
  * native engine (pkg/pdflibwrappers/pdftextextractor/text_extract.go +
  * tagged_content_parser.go). Every numeric threshold is the reference's:
  * lineThreshold = fontSize×0.5 (min 1), spaceThreshold = fontSize×0.2
  * (min 1), TJ kern < −150 ⇒ pending space, Tc > 0.2 ⇒ inter-char spaces,
  * span-join |Δy| > 1 ⇒ '\n' else gap > 1 ⇒ ' '.
  */
object PdfText {

  // ── glyph name → rune (text_extract.go:23-103, subset of the Adobe Glyph List) ──

  private val glyphNames: Map[String, Int] = {
    val m = Map.newBuilder[String, Int]
    // ASCII names
    val asciiPairs = Seq(
      "space" -> ' ', "exclam" -> '!', "quotedbl" -> '"', "numbersign" -> '#',
      "dollar" -> '$', "percent" -> '%', "ampersand" -> '&', "quotesingle" -> '\'',
      "parenleft" -> '(', "parenright" -> ')', "asterisk" -> '*', "plus" -> '+',
      "comma" -> ',', "hyphen" -> '-', "period" -> '.', "slash" -> '/',
      "zero" -> '0', "one" -> '1', "two" -> '2', "three" -> '3', "four" -> '4',
      "five" -> '5', "six" -> '6', "seven" -> '7', "eight" -> '8', "nine" -> '9',
      "colon" -> ':', "semicolon" -> ';', "less" -> '<', "equal" -> '=',
      "greater" -> '>', "question" -> '?', "at" -> '@',
      "bracketleft" -> '[', "backslash" -> '\\', "bracketright" -> ']',
      "asciicircum" -> '^', "underscore" -> '_', "grave" -> '`',
      "braceleft" -> '{', "bar" -> '|', "braceright" -> '}', "asciitilde" -> '~')
    asciiPairs.foreach { case (k, v) => m += k -> v.toInt }
    ('A' to 'Z').foreach(c => m += c.toString -> c.toInt)
    ('a' to 'z').foreach(c => m += c.toString -> c.toInt)
    val extras = Seq(
      "endash" -> 0x2013, "emdash" -> 0x2014,
      "quoteleft" -> 0x2018, "quoteright" -> 0x2019,
      "quotedblleft" -> 0x201C, "quotedblright" -> 0x201D,
      "bullet" -> 0x2022, "ellipsis" -> 0x2026,
      "trademark" -> 0x2122, "copyright" -> 0x00A9, "registered" -> 0x00AE,
      "fi" -> 0xFB01, "fl" -> 0xFB02,
      "AE" -> 0x00C6, "ae" -> 0x00E6, "OE" -> 0x0152, "oe" -> 0x0153,
      "Oslash" -> 0x00D8, "oslash" -> 0x00F8,
      "Aacute" -> 0x00C1, "aacute" -> 0x00E1, "Agrave" -> 0x00C0, "agrave" -> 0x00E0,
      "Acircumflex" -> 0x00C2, "acircumflex" -> 0x00E2, "Atilde" -> 0x00C3, "atilde" -> 0x00E3,
      "Adieresis" -> 0x00C4, "adieresis" -> 0x00E4,
      "Eacute" -> 0x00C9, "eacute" -> 0x00E9, "Egrave" -> 0x00C8, "egrave" -> 0x00E8,
      "Ecircumflex" -> 0x00CA, "ecircumflex" -> 0x00EA, "Edieresis" -> 0x00CB, "edieresis" -> 0x00EB,
      "Iacute" -> 0x00CD, "iacute" -> 0x00ED, "Igrave" -> 0x00CC, "igrave" -> 0x00EC,
      "Icircumflex" -> 0x00CE, "icircumflex" -> 0x00EE, "Idieresis" -> 0x00CF, "idieresis" -> 0x00EF,
      "Oacute" -> 0x00D3, "oacute" -> 0x00F3, "Ograve" -> 0x00D2, "ograve" -> 0x00F2,
      "Ocircumflex" -> 0x00D4, "ocircumflex" -> 0x00F4, "Otilde" -> 0x00D5, "otilde" -> 0x00F5,
      "Odieresis" -> 0x00D6, "odieresis" -> 0x00F6,
      "Uacute" -> 0x00DA, "uacute" -> 0x00FA, "Ugrave" -> 0x00D9, "ugrave" -> 0x00F9,
      "Ucircumflex" -> 0x00DB, "ucircumflex" -> 0x00FB, "Udieresis" -> 0x00DC, "udieresis" -> 0x00FC,
      "Ntilde" -> 0x00D1, "ntilde" -> 0x00F1, "Ccedilla" -> 0x00C7, "ccedilla" -> 0x00E7,
      "Yacute" -> 0x00DD, "yacute" -> 0x00FD, "Ydieresis" -> 0x0178, "ydieresis" -> 0x00FF,
      "germandbls" -> 0x00DF, "degree" -> 0x00B0, "multiply" -> 0x00D7, "divide" -> 0x00F7,
      "minus" -> '-'.toInt, "plusminus" -> 0x00B1,
      "onehalf" -> 0x00BD, "onequarter" -> 0x00BC, "threequarters" -> 0x00BE,
      "sterling" -> 0x00A3, "yen" -> 0x00A5, "Euro" -> 0x20AC, "cent" -> 0x00A2,
      "guillemotleft" -> 0x00AB, "guillemotright" -> 0x00BB,
      "guilsinglleft" -> 0x2039, "guilsinglright" -> 0x203A,
      "dagger" -> 0x2020, "daggerdbl" -> 0x2021, "section" -> 0x00A7, "paragraph" -> 0x00B6,
      "acute" -> 0x00B4, "dieresis" -> 0x00A8, "circumflex" -> 0x02C6, "tilde" -> 0x02DC,
      "cedilla" -> 0x00B8, "macron" -> 0x00AF, "breve" -> 0x02D8, "dotaccent" -> 0x02D9,
      "ring" -> 0x02DA, "hungarumlaut" -> 0x02DD, "ogonek" -> 0x02DB, "caron" -> 0x02C7,
      "dotlessi" -> 0x0131, "fraction" -> 0x2044, "perthousand" -> 0x2030,
      "mu" -> 0x00B5, "periodcentered" -> 0x00B7, "ordmasculine" -> 0x00BA,
      "ordfeminine" -> 0x00AA, "questiondown" -> 0x00BF, "exclamdown" -> 0x00A1,
      "notsign" -> 0x00AC, "softhyphen" -> 0x00AD,
      "nonbreakingspace" -> ' '.toInt, // deliberate NBSP→space (text_extract.go:100-101)
      "florin" -> 0x0192, "lozenge" -> 0x25CA)
    extras.foreach { case (k, v) => m += k -> v }
    m.result()
  }

  def glyphToRune(name: String): Option[Int] = {
    glyphNames.get(name).orElse {
      if (name.length == 1) Some(name.charAt(0).toInt)
      else if (name.startsWith("uni")) {
        try Some(Integer.parseInt(name.substring(3), 16))
        catch { case _: NumberFormatException => None }
      } else None
    }
  }

  // ── standard encodings (text_extract.go:105-132, 1603-1653) ──

  /** StandardEncoding subset: printable ASCII + common Adobe extras;
    * NB 0xA0 maps to ' ' (text_extract.go:125-126).
    */
  val standardEnc: Map[Int, Int] = {
    val m = Map.newBuilder[Int, Int]
    (0x20 to 0x7A).foreach(b => m += b -> b)
    m += 0x91 -> 0x2018; m += 0x92 -> 0x2019; m += 0x93 -> 0x201C; m += 0x94 -> 0x201D
    m += 0x96 -> 0x2013; m += 0x97 -> 0x2014
    m += 0xA0 -> ' '.toInt
    m += 0xAD -> 0x00AD; m += 0xC6 -> 0x00C6; m += 0xE6 -> 0x00E6
    m.result()
  }

  val winAnsiEnc: Map[Int, Int] = {
    val m = mutable.HashMap[Int, Int]()
    (0x20 until 0x7F).foreach(b => m(b) = b)
    (0xA0 until 0x100).foreach(b => m(b) = b)
    val extras = Seq(
      0x80 -> 0x20AC, 0x82 -> 0x201A, 0x83 -> 0x0192, 0x84 -> 0x201E,
      0x85 -> 0x2026, 0x86 -> 0x2020, 0x87 -> 0x2021, 0x88 -> 0x02C6,
      0x89 -> 0x2030, 0x8A -> 0x0160, 0x8B -> 0x2039, 0x8C -> 0x0152,
      0x8E -> 0x017D, 0x91 -> 0x2018, 0x92 -> 0x2019, 0x93 -> 0x201C,
      0x94 -> 0x201D, 0x95 -> 0x2022, 0x96 -> 0x2013, 0x97 -> 0x2014,
      0x98 -> 0x02DC, 0x99 -> 0x2122, 0x9A -> 0x0161, 0x9B -> 0x203A,
      0x9C -> 0x0153, 0x9E -> 0x017E, 0x9F -> 0x0178)
    extras.foreach { case (k, v) => m(k) = v }
    m.toMap
  }

  val macRomanEnc: Map[Int, Int] = {
    val m = mutable.HashMap[Int, Int]()
    (0x20 until 0x7F).foreach(b => m(b) = b)
    val high = Array(
      0x00C4, 0x00C5, 0x00C7, 0x00C9, 0x00D1, 0x00D6, 0x00DC, 0x00E1,
      0x00E0, 0x00E2, 0x00E4, 0x00E5, 0x00E7, 0x00E9, 0x00E8, 0x00EA,
      0x00EB, 0x00ED, 0x00EC, 0x00EE, 0x00EF, 0x00F1, 0x00F3, 0x00F2,
      0x00F4, 0x00F6, 0x00FA, 0x00F9, 0x00FB, 0x00FC, 0x2020, 0x00B0,
      0x00A2, 0x00A3, 0x00A7, 0x2022, 0x00B6, 0x00DF, 0x00AE, 0x00A9,
      0x2122, 0x00B4, 0x00A8, 0x2260, 0x00C6, 0x00D8, 0x221E, 0x00B1,
      0x2264, 0x2265, 0x00A5, 0x00B5, 0x2202, 0x2211, 0x220F, 0x03C0,
      0x222B, 0x00AA, 0x00BA, 0x03A9, 0x00E6, 0x00F8, 0x00BF, 0x00A1,
      0x00AC, 0x221A, 0x0192, 0x2248, 0x2206, 0x00AB, 0x00BB, 0x2026,
      ' '.toInt, // NBSP→space (text_extract.go:1639-1640)
      0x00C0, 0x00C3, 0x00D5, 0x0152, 0x0153, 0x2013, 0x2014,
      0x201C, 0x201D, 0x2018, 0x2019, 0x00F7, 0x25CA, 0x00FF, 0x0178,
      0x2044, 0x20AC, 0x2039, 0x203A, 0xFB01, 0xFB02, 0x2021, 0x00B7,
      0x201A, 0x201E, 0x2030, 0x00C2, 0x00CA, 0x00C1, 0x00CB, 0x00C8,
      0x00CD, 0x00CE, 0x00CF, 0x00CC, 0x00D3, 0x00D4, 0xF8FF, 0x00D2,
      0x00DA, 0x00DB, 0x00D9, 0x0131, 0x02C6, 0x02DC, 0x00AF, 0x02D8,
      0x02D9, 0x02DA, 0x00B8, 0x02DD, 0x02DB, 0x02C7)
    high.zipWithIndex.foreach { case (r, i) => m(0x80 + i) = r }
    m.toMap
  }

  // compiled forms of the shared named encodings — every simple font using
  // an unmodified named encoding reuses these instead of re-walking the Map
  // into a fresh array per document
  private def compileEnc(m: Map[Int, Int]): Array[Int] = {
    val a = new Array[Int](256)
    java.util.Arrays.fill(a, -1)
    m.foreach { case (k, v) => if (k >= 0 && k < 256) a(k) = v }
    a
  }
  private lazy val winAnsiArr = compileEnc(winAnsiEnc)
  private lazy val standardArr = compileEnc(standardEnc)
  private lazy val macRomanArr = compileEnc(macRomanEnc)
  private def sharedEncArr(m: Map[Int, Int]): Array[Int] =
    if (m eq winAnsiEnc) winAnsiArr
    else if (m eq standardEnc) standardArr
    else if (m eq macRomanEnc) macRomanArr
    else null

  // ── font model (text_extract.go:141-237) ──

  final class PdfFont(
      var encoding: Map[Int, Int], // byte → rune; null = Latin-1 fallback
      var toUnicode: Map[Int, String], // uint16 code → string
      var widths: Map[Int, Double], // code → glyph-space width
      var defaultWidth: Double,
      var isComposite: Boolean) {

    // ── compiled primitive tables ──
    // The per-glyph hot loops (advance + decode) run once per shown byte of
    // every PDF in the corpus; Map[Int, _].get there costs an Option + key
    // box PER GLYPH, which round 3's allocation profile measured as a large
    // slice of the whole extraction kernel's bytes/doc (the bandwidth wall
    // that caps multi-thread scaling). One-byte codes compile into dense
    // 256-slot arrays on first use; composite 2-byte lookups stay Map-based
    // (sparse 16-bit key space). Fonts are built then used single-threaded
    // per document — mutation after first decode is not supported.
    private var compiled = false
    private var encArr: Array[Int] = _ // rune per byte code, -1 = absent
    private var toUniLow: Array[String] = _ // 1-byte ToUnicode, null = absent
    private[pdf] var widthsArr: Array[Double] = _ // simple-font widths, NaN = absent

    @inline private def ensureCompiled(): Unit = if (!compiled) compileTables()

    private def compileTables(): Unit = {
      if (encoding != null && encArr == null) {
        encArr = sharedEncArr(encoding)
        if (encArr == null) {
          val a = new Array[Int](256)
          java.util.Arrays.fill(a, -1)
          encoding.foreach { case (k, v) => if (k >= 0 && k < 256) a(k) = v }
          encArr = a
        }
      }
      if (toUnicode != null && toUniLow == null) {
        val a = new Array[String](256)
        toUnicode.foreach { case (k, v) => if (k >= 0 && k < 256) a(k) = v }
        toUniLow = a
      }
      if (!isComposite && widthsArr == null && widths != null) {
        val a = new Array[Double](256)
        java.util.Arrays.fill(a, Double.NaN)
        widths.foreach { case (k, v) => if (k >= 0 && k < 256) a(k) = v }
        widthsArr = a
      }
      compiled = true
    }

    /** 1-byte ToUnicode mapping or null (allocation-free). */
    @inline private[pdf] def toUni1(code: Int): String = {
      ensureCompiled()
      if (toUniLow == null) null else toUniLow(code)
    }

    /** Encoding rune for a byte code, −1 when absent (allocation-free). */
    @inline private[pdf] def encRune(code: Int): Int = {
      ensureCompiled()
      if (encArr == null) -1 else encArr(code)
    }

    /** Bytes consumed by the last [[glyphWidth]] call (1 or 2). */
    private[pdf] var lastLen: Int = 1

    /** glyphAdvance width, consumed length in [[lastLen]] — the
      * allocation-free form of [[glyphAdvance]] for the per-glyph loops.
      */
    def glyphWidth(b: Array[Byte], i: Int): Double = {
      ensureCompiled()
      val dw = if (defaultWidth == 0) 500.0 else defaultWidth
      lastLen = 1
      if (isComposite) {
        if (widths == null) return dw
        if (i + 1 < b.length) {
          val code = ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
          val w = widths.get(code)
          if (w.isDefined) { lastLen = 2; return w.get }
        }
        widths.get(b(i) & 0xFF) match {
          case Some(w) => w
          case None => dw
        }
      } else {
        if (widthsArr == null) return dw
        val w = widthsArr(b(i) & 0xFF)
        if (java.lang.Double.isNaN(w)) dw else w
      }
    }

    /** glyphAdvance (text_extract.go:169-188): (width, bytesConsumed). */
    def glyphAdvance(b: Array[Byte], i: Int): (Double, Int) = {
      val w = glyphWidth(b, i)
      (w, lastLen)
    }

    def rawStringWidth(b: Array[Byte]): Double = {
      var total = 0.0
      var i = 0
      while (i < b.length) {
        total += glyphWidth(b, i)
        i += lastLen
      }
      total
    }

    /** decodeBytes (text_extract.go:207-237). */
    def decodeBytes(b: Array[Byte], dst: java.lang.StringBuilder): Unit = {
      ensureCompiled()
      var i = 0
      while (i < b.length) {
        var consumed = false
        if (toUnicode != null && isComposite && i + 1 < b.length) {
          val code = ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
          toUnicode.get(code) match {
            case Some(s) => dst.append(s); i += 2; consumed = true
            case None =>
          }
        }
        if (!consumed && toUniLow != null) {
          val s = toUniLow(b(i) & 0xFF)
          if (s != null) { dst.append(s); i += 1; consumed = true }
        }
        if (!consumed && encArr != null) {
          val r = encArr(b(i) & 0xFF)
          if (r >= 0) { dst.appendCodePoint(r); i += 1; consumed = true }
        }
        if (!consumed) {
          val r = b(i) & 0xFF
          if (r >= 0x20 && r != 0x7F) dst.appendCodePoint(r)
          i += 1
        }
      }
    }
  }

  // ── font map construction (text_extract.go:239-307) ──

  /** Parse one font dict (ToUnicode CMap, encoding, widths, MissingWidth)
    * — the per-font unit of work behind both the eager [[buildFontMap]]
    * and the lazy production path ([[fontForRef]]).
    */
  def buildFont(f: PdfFile, fd: PdfDict): PdfFont = {
    val font = new PdfFont(null, null, null, 500.0, isComposite = false)
    fd.get("ToUnicode").flatMap(f.stream).foreach { sd =>
      try font.toUnicode = parseToUnicodeCMap(f.decodeStream(sd))
      catch { case _: Exception => }
    }
    fd.get("Encoding").foreach(e => font.encoding = parseEncoding(f, e))
    val subtype = fd.get("Subtype").flatMap(n => f.name(n))
    if (subtype.contains("Type0")) {
      font.isComposite = true
      font.widths = parseCIDFontWidths(f, fd)
    } else {
      // dense array straight from FirstChar/Widths — skips the boxed
      // Map a simple font would only compile away again per doc
      font.widthsArr = parseSimpleFontWidths(f, fd)
    }
    fd.get("FontDescriptor").flatMap(f.dict).foreach { fdd =>
      fdd.get("MissingWidth").flatMap(f.num).foreach(font.defaultWidth = _)
    }
    font
  }

  /** Resolve + parse a font by its reference object, cached per FILE (refs
    * are stable across pages and XObjects, so a font referenced by many
    * resource dicts parses once). Null when the ref doesn't resolve to a
    * dict — cached too, so broken refs aren't re-chased.
    */
  def fontForRef(f: PdfFile, ref: PdfObj): PdfFont =
    f.fontCache.getOrElseUpdate(ref, f.dict(ref).map(buildFont(f, _)).orNull)

  def buildFontMap(f: PdfFile, resources: PdfDict): Map[String, PdfFont] = {
    val out = Map.newBuilder[String, PdfFont]
    val fontDict = resources.get("Font").flatMap(f.dict).getOrElse(return Map.empty)
    fontDict.entries.foreach { case (name, ref) =>
      f.dict(ref).foreach { fd => out += name -> buildFont(f, fd) }
    }
    out.result()
  }

  /** Font resolution for the content-stream interpreter. The production
    * path is LAZY: the reference parses every font in a page's resource
    * dict up front (text_extract.go:239-307), but most corpus pages
    * reference a subset of their inherited resource dict's fonts from
    * content — the eager build was the PDF kernel's largest remaining
    * allocation (~13 KB/doc, round-4 measurement). Parsing only on first Tf
    * lookup is observationally identical: an unreferenced font influences
    * nothing but allocation.
    */
  sealed trait FontLookup {
    /** The font for a Tf operand, or null (reference: Fonts[name] miss
      * keeps the previous font selected — caller's getOrElse(null)).
      */
    def lookup(name: String): PdfFont
    def isEmpty: Boolean
  }
  object FontLookup {
    val empty: FontLookup = new FontLookup {
      def lookup(name: String): PdfFont = null
      def isEmpty = true
    }
    /** Adapter for explicit maps (specs, synthetic harnesses). */
    def ofMap(m: Map[String, PdfFont]): FontLookup = new FontLookup {
      def lookup(name: String): PdfFont = m.getOrElse(name, null)
      def isEmpty: Boolean = m.isEmpty
    }
  }
  /** Lazy view of one resource dict's /Font table. */
  final class LazyFontMap(f: PdfFile, resources: PdfDict) extends FontLookup {
    private val fontDict: PdfDict = resources.get("Font").flatMap(f.dict).orNull
    def lookup(name: String): PdfFont =
      if (fontDict == null) null
      else fontDict.entries.get(name) match {
        case Some(ref) => fontForRef(f, ref)
        case None => null
      }
    def isEmpty: Boolean = fontDict == null || fontDict.entries.isEmpty
  }
  /** XObject shadowing: the child's own fonts win, the caller's show
    * through — `fontMap ++ xobj.fontMap` of the eager design, including
    * the subtlety that a child name whose ref does NOT resolve falls back
    * to the parent (the eager map simply never contained it).
    */
  final class ChainFontLookup(own: FontLookup, parent: FontLookup) extends FontLookup {
    def lookup(name: String): PdfFont = {
      val x = own.lookup(name)
      if (x != null) x else parent.lookup(name)
    }
    def isEmpty: Boolean = own.isEmpty && parent.isEmpty
  }

  /** Simple-font widths as a dense 256-slot array (codes are single bytes),
    * NaN = absent — the per-glyph advance reads it allocation-free.
    */
  private def parseSimpleFontWidths(f: PdfFile, fd: PdfDict): Array[Double] = {
    val fc = fd.get("FirstChar").flatMap(f.num).getOrElse(return null).toInt
    val arr = fd.get("Widths").flatMap(f.array).getOrElse(return null)
    if (arr.items.isEmpty) return null
    val out = new Array[Double](256)
    java.util.Arrays.fill(out, Double.NaN)
    var idx = 0
    arr.items.foreach { e =>
      f.num(e).foreach { w =>
        val c = fc + idx
        if (c >= 0 && c < 256) out(c) = w
      }
      idx += 1
    }
    out
  }

  private def parseCIDFontWidths(f: PdfFile, type0fd: PdfDict): Map[Int, Double] = {
    val dfArr = type0fd.get("DescendantFonts").flatMap(f.array).getOrElse(return null)
    if (dfArr.items.isEmpty) return null
    val cidfd = f.dict(dfArr.items.head).getOrElse(return null)
    val wArr = cidfd.get("W").flatMap(f.array).getOrElse(return null)
    val items = wArr.items.map(f.resolve(_))
    val m = mutable.HashMap[Int, Double]()
    var i = 0
    while (i < items.length) {
      items(i) match {
        case PdfNum(cD) =>
          val c = cD.toInt
          i += 1
          if (i < items.length) {
            items(i) match {
              case PdfArr(ws) =>
                ws.zipWithIndex.foreach { case (wE, j) =>
                  f.num(wE).foreach(w => m((c + j) & 0xFFFF) = w)
                }
                i += 1
              case PdfNum(c2D) =>
                val c2 = c2D.toInt
                i += 1
                if (i < items.length) {
                  val w = f.num(items(i)).getOrElse(0.0)
                  var code = c
                  while (code <= c2) { m(code & 0xFFFF) = w; code += 1 }
                  i += 1
                }
              case _ => i += 1
            }
          }
        case _ => i += 1
      }
    }
    if (m.isEmpty) null else m.toMap
  }

  def parseEncoding(f: PdfFile, obj: PdfObj): Map[Int, Int] = {
    f.resolve(obj) match {
      case PdfName(n) => namedEncoding(n)
      case d: PdfDict =>
        var base = d.get("BaseEncoding").flatMap(b => f.name(b)).map(namedEncoding).orNull
        if (base == null) base = standardEnc
        d.get("Differences").flatMap(f.array) match {
          case Some(arr) => applyDifferences(base, arr.items.map(f.resolve(_)))
          case None => base
        }
      case _ => null
    }
  }

  private def applyDifferences(enc: Map[Int, Int], diffs: Seq[PdfObj]): Map[Int, Int] = {
    var m = enc
    var code = 0
    diffs.foreach {
      case PdfNum(v) => code = v.toInt
      case PdfName(n) =>
        glyphToRune(n).foreach(r => m = m.updated(code & 0xFF, r))
        code += 1
      case _ =>
    }
    m
  }

  def namedEncoding(name: String): Map[Int, Int] = name match {
    case "MacRomanEncoding" => macRomanEnc
    case "WinAnsiEncoding" => winAnsiEnc
    case _ => standardEnc
  }

  // ── ToUnicode CMap (text_extract.go:1194-1365) ──

  def parseToUnicodeCMap(content: Array[Byte]): Map[Int, String] = {
    val text = new String(content, "ISO-8859-1")
    val m = mutable.HashMap[Int, String]()
    var t = text
    var idx = t.indexOf("beginbfchar")
    while (idx >= 0) {
      val end = t.indexOf("endbfchar", idx)
      if (end < 0) idx = -1
      else {
        parseBfChar(t.substring(idx + "beginbfchar".length, end), m)
        t = t.substring(end + "endbfchar".length)
        idx = t.indexOf("beginbfchar")
      }
    }
    t = text
    idx = t.indexOf("beginbfrange")
    while (idx >= 0) {
      val end = t.indexOf("endbfrange", idx)
      if (end < 0) idx = -1
      else {
        parseBfRange(t.substring(idx + "beginbfrange".length, end), m)
        t = t.substring(end + "endbfrange".length)
        idx = t.indexOf("beginbfrange")
      }
    }
    m.toMap
  }

  private def scanHexTokens(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var rest = s
    var start = rest.indexOf('<')
    while (start >= 0) {
      val end = rest.indexOf('>', start)
      if (end < 0) start = -1
      else {
        out += rest.substring(start, end + 1)
        rest = rest.substring(end + 1)
        start = rest.indexOf('<')
      }
    }
    out.result()
  }

  private def cleanHex(s: String): String =
    s.filterNot(c => c == '<' || c == '>' || c == ' ' || c == '\t' || c == '\r' || c == '\n')

  private def parseHexToken(s: String): Option[Int] = {
    val h = cleanHex(s)
    try {
      val v = java.lang.Long.parseLong(h, 16)
      Some((v & 0xFFFF).toInt) // Go: ParseUint(...,16,32) then uint16 truncation
    } catch { case _: NumberFormatException => None }
  }

  private def parseUnicodeHexToken(s: String): Option[String] = {
    val h = cleanHex(s)
    if (h.length % 2 != 0 && h.nonEmpty) {
      // odd digit count: hex.DecodeString errors in Go → skipped entry
      return None
    }
    try {
      val b = new Array[Byte](h.length / 2)
      var i = 0
      while (i < b.length) {
        b(i) = Integer.parseInt(h.substring(i * 2, i * 2 + 2), 16).toByte
        i += 1
      }
      if (b.isEmpty) Some("")
      else if (b.length % 2 == 0 && b.length >= 2) {
        val sb = new java.lang.StringBuilder(b.length / 2)
        var j = 0
        while (j < b.length) {
          sb.append((((b(j) & 0xFF) << 8) | (b(j + 1) & 0xFF)).toChar)
          j += 2
        }
        Some(sb.toString)
      } else Some(new String(Character.toChars(b(0) & 0xFF)))
    } catch { case _: NumberFormatException => None }
  }

  private def parseBfChar(block: String, m: mutable.HashMap[Int, String]): Unit =
    block.split('\n').foreach { line =>
      val toks = scanHexTokens(line)
      if (toks.length >= 2) {
        for {
          src <- parseHexToken(toks(0))
          dst <- parseUnicodeHexToken(toks(1))
        } m(src) = dst
      }
    }

  private def parseBfRange(block: String, m: mutable.HashMap[Int, String]): Unit =
    block.split('\n').foreach { line =>
      val toks = scanHexTokens(line)
      if (line.contains("[")) {
        if (toks.length >= 2) {
          (parseHexToken(toks(0)), parseHexToken(toks(1))) match {
            case (Some(lo), Some(hi)) =>
              val start = line.indexOf('[')
              val end = line.lastIndexOf(']')
              if (start >= 0 && end > start) {
                val arrToks = scanHexTokens(line.substring(start + 1, end))
                var code = lo
                var break = false
                arrToks.foreach { tok =>
                  if (!break) {
                    parseUnicodeHexToken(tok).foreach(dst => m(code) = dst)
                    if (code == hi) break = true
                    code += 1
                  }
                }
              }
            case _ =>
          }
        }
      } else if (toks.length >= 3) {
        (parseHexToken(toks(0)), parseHexToken(toks(1)), parseUnicodeHexToken(toks(2))) match {
          case (Some(lo), Some(hi), Some(base)) if base.nonEmpty =>
            val baseCp = base.codePointAt(0)
            var code = lo
            var break = false
            while (!break) {
              m(code) = new String(Character.toChars(baseCp + (code - lo)))
              if (code == hi) break = true
              code += 1
            }
          case _ =>
        }
      }
    }

  // ── matrices (text_extract.go:581-614) ──

  final case class Matrix3(a: Double, b: Double, c: Double, d: Double, e: Double, f: Double) {
    def multiply(n: Matrix3): Matrix3 = Matrix3(
      a * n.a + b * n.c,
      a * n.b + b * n.d,
      c * n.a + d * n.c,
      c * n.b + d * n.d,
      e * n.a + f * n.c + n.e,
      e * n.b + f * n.d + n.f)
    def transformPoint(x: Double, y: Double): (Double, Double) =
      (a * x + c * y + e, b * x + d * y + f)
    def scaleX: Double =
      if (b == 0) math.abs(a) else math.sqrt(a * a + b * b)
  }
  val Identity: Matrix3 = Matrix3(1, 0, 0, 1, 0, 0)

  // ── tokenizer (text_extract.go:1381-1597) ──

  @inline def isWhitespaceByte(b: Byte): Boolean = {
    val v = b & 0xFF
    v == ' ' || v == '\t' || v == '\n' || v == '\r' || v == '\f' || v == 0 || v == 0xA0
  }
  @inline def isDelimiter(b: Byte): Boolean =
    b == '(' || b == ')' || b == '<' || b == '>' || b == '[' || b == ']' ||
      b == '{' || b == '}' || b == '/' || b == '%'

  /** Token = (start, end) slice bounds over the content buffer.
    *
    * Inline images (BI … ID <raw bytes> EI) are skipped as opaque byte runs:
    * neither this tokenizer's reference (`text_extract.go:1381-1565` has no
    * BI/ID/EI cases — verified) nor ours can lex raw sample bytes, and
    * without the skip a raster whose bytes happen to contain `(`/`<`/
    * operator sequences desyncs the lexer into garbage spans for the rest
    * of the stream. This EXCEEDS reference parity deliberately: at corpus
    * scale inline-image PDFs are a when-not-if input, and the correct
    * degradation is clean text with the image bytes ignored. Per the spec,
    * the data follows `ID` after one whitespace byte and ends at an `EI`
    * keyword delimited by whitespace.
    */
  def tokenize(content: Array[Byte])(yieldTok: (Int, Int) => Unit): Unit = {
    var i = 0
    var inBI = false
    val n = content.length
    while (i < n) {
      while (i < n && isWhitespaceByte(content(i))) i += 1
      if (i >= n) return
      (content(i): @annotation.switch) match {
        case '%' =>
          while (i < n && content(i) != '\n' && content(i) != '\r') i += 1
        case '(' =>
          val start = i
          var depth = 0
          i += 1
          var done = false
          while (!done && i < n) {
            if (content(i) == '\\') i += 2
            else if (content(i) == '(') { depth += 1; i += 1 }
            else if (content(i) == ')') {
              if (depth == 0) { i += 1; done = true } else { depth -= 1; i += 1 }
            } else i += 1
          }
          yieldTok(start, math.min(i, n))
        case '<' =>
          if (i + 1 < n && content(i + 1) == '<') {
            val start = i
            i += 2
            var depth = 1
            while (i < n && depth > 0) {
              content(i) match {
                case '<' =>
                  if (i + 1 < n && content(i + 1) == '<') { depth += 1; i += 2 }
                  else {
                    i += 1
                    while (i < n && content(i) != '>') i += 1
                    if (i < n) i += 1
                  }
                case '>' =>
                  if (i + 1 < n && content(i + 1) == '>') { depth -= 1; i += 2 }
                  else i += 1
                case '(' =>
                  i += 1
                  var pd = 0
                  var pdone = false
                  while (!pdone && i < n) {
                    if (content(i) == '\\') i += 2
                    else if (content(i) == '(') { pd += 1; i += 1 }
                    else if (content(i) == ')') {
                      if (pd == 0) { i += 1; pdone = true } else { pd -= 1; i += 1 }
                    } else i += 1
                  }
                case _ => i += 1
              }
            }
            yieldTok(start, math.min(i, n))
          } else {
            val start = i
            i += 1
            while (i < n && content(i) != '>') i += 1
            if (i < n) i += 1
            yieldTok(start, math.min(i, n))
          }
        case '[' =>
          val start = i
          var depth = 0
          i += 1
          var done = false
          while (!done && i < n) {
            if (content(i) == '(') {
              i += 1
              var id = 0
              var pdone = false
              while (!pdone && i < n) {
                if (content(i) == '\\') i += 2
                else if (content(i) == '(') { id += 1; i += 1 }
                else if (content(i) == ')') {
                  if (id == 0) { i += 1; pdone = true } else { id -= 1; i += 1 }
                } else i += 1
              }
            } else if (content(i) == '[') { depth += 1; i += 1 }
            else if (content(i) == ']') {
              if (depth == 0) { i += 1; done = true } else { depth -= 1; i += 1 }
            } else i += 1
          }
          yieldTok(start, math.min(i, n))
        case '/' =>
          val start = i
          i += 1
          while (i < n && !isWhitespaceByte(content(i)) && !isDelimiter(content(i))) i += 1
          yieldTok(start, i)
        case _ =>
          val start = i
          while (i < n && !isWhitespaceByte(content(i)) && !isDelimiter(content(i))) i += 1
          if (i > start) {
            val isBI = i - start == 2 && content(start) == 'B' && content(start + 1) == 'I'
            val isID = i - start == 2 && content(start) == 'I' && content(start + 1) == 'D'
            if (isBI) { inBI = true; yieldTok(start, i) }
            else if (inBI && isID) {
              // swallow ID + raw sample bytes + the terminating EI; none of
              // it reaches the operator machine
              inBI = false
              if (i < n) i += 1 // the single whitespace byte after ID
              var found = false
              while (!found && i < n) {
                if (content(i) == 'E' && i + 1 < n && content(i + 1) == 'I' &&
                  isWhitespaceByte(content(i - 1)) &&
                  (i + 2 >= n || isWhitespaceByte(content(i + 2)) || isDelimiter(content(i + 2)))) {
                  i += 2
                  found = true
                } else i += 1
              }
            } else yieldTok(start, i)
          }
          else i += 1 // lone delimiter like { } — skip to avoid stalling
      }
    }
  }

  // ── numeric operand parsing ──

  private val Pow10: Array[Double] = Array.tabulate(16)(k => math.pow(10, k))

  /** Parse a PDF numeric operand slice to Double, NaN when not a number —
    * equivalent to `Double.parseDouble(new String(slice))` for every form a
    * PDF operand takes (sign, digits, one dot), without the String/Option
    * allocation the interpreter paid per token. Fast path: ≤ 15 digits →
    * exact long mantissa / exact power of ten = one correctly-rounded
    * division, bit-identical to parseDouble; anything longer or stranger
    * falls back to parseDouble itself.
    */
  def parseOperand(buf: Array[Byte], s: Int, e: Int): Double = {
    if (e <= s) return Double.NaN
    var i = s
    var neg = false
    val c0 = buf(i)
    if (c0 == '+' || c0 == '-') { neg = c0 == '-'; i += 1 }
    var mant = 0L
    var digits = 0 // significant digits accumulated into mant
    var frac = 0 // digits after the dot (incl. leading fractional zeros)
    var sawZero = false
    var seenDot = false
    var simple = true
    while (i < e && simple) {
      val c = buf(i)
      if (c >= '0' && c <= '9') {
        if (digits == 0 && c == '0') {
          // redundant leading zero (mant stays 0); fractional position counts
          if (seenDot) frac += 1
          sawZero = true
          i += 1
        } else if (digits < 15) {
          mant = mant * 10 + (c - '0')
          digits += 1
          if (seenDot) frac += 1
          i += 1
        } else simple = false
      } else if (c == '.' && !seenDot) { seenDot = true; i += 1 }
      else simple = false
    }
    if (simple && i == e && (digits > 0 || sawZero) && frac < Pow10.length) {
      if (digits == 0) { if (neg) -0.0 else 0.0 } // all zeros
      else {
        val v = mant / Pow10(frac)
        if (neg) -v else v
      }
    } else slowParse(buf, s, e)
  }

  private def slowParse(buf: Array[Byte], s: Int, e: Int): Double =
    try java.lang.Double.parseDouble(new String(buf, s, e - s, "US-ASCII"))
    catch { case _: NumberFormatException => Double.NaN }

  // ── string parsing helpers (text_extract.go:1091-1188) ──

  /** parsePDFString: literal or hex form; returns null when not a string. */
  def parsePdfString(buf: Array[Byte], start0: Int, end0: Int): Array[Byte] = {
    var start = start0
    var end = end0
    while (start < end && isWhitespaceByte(buf(start))) start += 1
    while (end > start && isWhitespaceByte(buf(end - 1))) end -= 1
    if (end - start == 0) return null
    if (buf(start) == '(' && buf(end - 1) == ')')
      return unescapeLiteral(buf, start + 1, end - 1)
    if (buf(start) == '<' && buf(end - 1) == '>') {
      val out = new java.io.ByteArrayOutputStream(((end - start) / 2) + 1)
      var hi = -1
      var i = start + 1
      while (i < end - 1) {
        val b = buf(i)
        if (b != ' ' && b != '\t' && b != '\n' && b != '\r' && b != '\f') {
          val d = Character.digit(b, 16)
          if (d < 0) return null
          if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 }
        }
        i += 1
      }
      if (hi >= 0) out.write(hi << 4)
      return out.toByteArray
    }
    null
  }

  private def unescapeLiteral(buf: Array[Byte], start: Int, end: Int): Array[Byte] = {
    // fast path: no backslash
    var hasEsc = false
    var k = start
    while (k < end && !hasEsc) { if (buf(k) == '\\') hasEsc = true; k += 1 }
    if (!hasEsc) return java.util.Arrays.copyOfRange(buf, start, end)
    val out = new java.io.ByteArrayOutputStream(end - start)
    var i = start
    while (i < end) {
      if (buf(i) == '\\' && i + 1 < end) {
        i += 1
        buf(i) match {
          case '\n' | '\r' => // line continuation
          case 'n' => out.write('\n')
          case 'r' => out.write('\r')
          case 't' => out.write('\t')
          case 'b' => out.write('\b')
          case 'f' => out.write('\f')
          case '(' | ')' | '\\' => out.write(buf(i))
          case c if c >= '0' && c <= '7' =>
            var v = c - '0'
            if (i + 1 < end && buf(i + 1) >= '0' && buf(i + 1) <= '7') {
              i += 1; v = v * 8 + (buf(i) - '0')
              if (i + 1 < end && buf(i + 1) >= '0' && buf(i + 1) <= '7') {
                i += 1; v = v * 8 + (buf(i) - '0')
              }
            }
            out.write(v & 0xFF)
          case c => out.write(c)
        }
      } else out.write(buf(i))
      i += 1
    }
    out.toByteArray
  }

  def decodeLatin1(b: Array[Byte], dst: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < b.length) {
      val r = b(i) & 0xFF
      if (r >= 0x20 && r != 0x7F) dst.appendCodePoint(r)
      i += 1
    }
  }

  def decodeRaw(raw: Array[Byte], f: PdfFont, dst: java.lang.StringBuilder): Unit =
    if (f == null) decodeLatin1(raw, dst) else f.decodeBytes(raw, dst)

  /** PDF text string (Info dict values): UTF-16BE with BOM, else Latin-1. */
  def decodePdfTextString(b: Array[Byte]): String = {
    if (b.length >= 2 && (b(0) & 0xFF) == 0xFE && (b(1) & 0xFF) == 0xFF) {
      val sb = new java.lang.StringBuilder((b.length - 2) / 2)
      var i = 2
      while (i + 1 < b.length) {
        sb.append((((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)).toChar)
        i += 2
      }
      sb.toString
    } else new String(b, "ISO-8859-1")
  }
}
