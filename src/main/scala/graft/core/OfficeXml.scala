package graft.core

import java.io.ByteArrayInputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.collection.mutable

/** OOXML / ODF (docx, pptx, odt, odp) text + metadata extraction.
  *
  * Reference semantics:
  *   - content discovery: pkg/officexmlparser/office_parser.go:60-117 —
  *     `content.xml` / `word/document.xml`, plus every xml under ppt/slides/
  *     (numerically sorted, body tag switches to `cSld`);
  *   - XML→text: pkg/officexmlparser/xmltotext.go:15-81 — skip until body
  *     tag, collapse ASCII `\s{2,}` runs to one space, drop whitespace-only
  *     char data unless the original was a single byte, `</p> </h> </br>`
  *     emit '\n', `</text:s>` emits ' ', `<tableStyleId>` swallows the next
  *     token (pptx style UUID);
  *   - metadata: office_parser.go:133-226 — Dublin Core + stats mapped to
  *     `x-document-*` keys (NB `Publisher` → x-document-author).
  */
object OfficeXml {

  final case class OfficeDoc(
      contentTexts: Vector[String], // one per content file (pptx: per slide)
      metadata: Map[String, String],
      isSlides: Boolean) {
    /** StreamText equivalent (office_parser.go:228-242). */
    def fullText: String = contentTexts.mkString
    /** Pages() (office_parser.go:244-252): pptx slide count, else -1. */
    def pages: Int = if (contentTexts.length > 1) contentTexts.length else -1
  }

  final class ContentNotFoundException
    extends RuntimeException("content file not found in ZIP file")

  private val ContentFileNames = Set("content.xml", "word/document.xml")
  private val Breaks = Set("p", "h", "br") // office_parser.go:33
  private val SlideRe = "ppt/slides/slide([0-9]+)\\.xml".r

  /** XMLInputFactory.newInstance does a synchronized service-loader lookup —
    * calling it per document serializes all executor threads. One factory
    * per thread (factories are not guaranteed thread-safe).
    */
  private val factoryTL: ThreadLocal[XMLInputFactory] =
    ThreadLocal.withInitial { () =>
      val f = XMLInputFactory.newInstance()
      f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, java.lang.Boolean.FALSE)
      f.setProperty(XMLInputFactory.IS_COALESCING, java.lang.Boolean.FALSE)
      f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
      // the JDK's SJSXP recycles one reader (and its internal char/symbol
      // buffers) per factory instead of allocating ~tens of KB per
      // createXMLStreamReader call — a large slice of the OOXML kernel's
      // bytes/doc. Safe here: one factory per thread, readers are consumed
      // sequentially, never nested. Unknown on other impls → best-effort.
      try f.setProperty("reuse-instance", java.lang.Boolean.TRUE)
      catch { case _: IllegalArgumentException => }
      f
    }

  /** Parses a docx, pptx, odt or odp archive; `ext` is its kind, or "bin"
    * for a zip sniffed from a `bin` span, whose kind [[kindOf]] tells from
    * the same walk.
    */
  def parse(data: Array[Byte], ext: String): OfficeDoc = {
    val wanted = (n: String) =>
      ContentFileNames.contains(n) ||
        (n.startsWith("ppt/slides/") && n.endsWith(".xml")) ||
        n == "meta.xml" || n == "docProps/app.xml" || n == "docProps/core.xml"
    val archive = ZipArchive.read(data, wanted)

    val md = mutable.LinkedHashMap[String, String](
      "x-parsed-by" -> "text-extraction-service",
      "x-doctype" -> (if (ext == "bin") kindOf(archive) else ext))

    var bodyTag = "body"
    val content = Vector.newBuilder[(Int, Int, ZipArchive.Entry)] // (sortNum, idx, e)
    var idx = 0
    archive.entries.foreach { e =>
      e.name match {
        case n if ContentFileNames.contains(n) =>
          content += ((0, idx, e)); idx += 1
        case n if n.startsWith("ppt/slides/") && n.endsWith(".xml") =>
          bodyTag = "cSld"
          val num = n match { case SlideRe(d) => d.toInt; case _ => 0 }
          content += ((num, idx, e)); idx += 1
        case "meta.xml" => mapOpenDocumentMetadata(md, e.data)
        case "docProps/app.xml" => mapMsOfficeStats(md, e.data)
        case "docProps/core.xml" => mapMsOfficeCoreMetadata(md, e.data)
        case _ =>
      }
    }
    val files = content.result()
    if (files.isEmpty) throw new ContentNotFoundException
    // numeric slide sort (office_parser.go:103-115); stable on non-slides
    val sorted =
      if (files.length > 1) files.sortBy { case (num, i, _) => (num, i) }
      else files
    val texts = sorted.map { case (_, _, e) => xmlToText(e.data, bodyTag) }
    OfficeDoc(texts, md.toMap, isSlides = bodyTag == "cSld")
  }

  /** docx/pptx/odp/odt by member names, then by mimetype. */
  private def kindOf(a: ZipArchive.Archive): String =
    if (a.names.contains("word/document.xml")) "docx"
    else if (a.names.exists(_.startsWith("ppt/slides/"))) "pptx"
    else if (a.mimetype.contains("opendocument.presentation")) "odp"
    else "odt" // opendocument.text, or a zip with content.xml: ODF text

  /** Go regexp `\s` is ASCII [\t\n\f\r ] — match it exactly, not Java \s. */
  private def isAsciiWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  /** The reference's per-text-node transform (`\s{2,}` runs → one space;
    * drop the node if it collapsed to nothing but a single space, unless
    * the original WAS a single char — xmltotext.go:46-56), restated as one
    * char loop over the StAX parser's internal buffer: the former
    * `getText` + `Regex.replaceAllIn` pair allocated a String, a Matcher
    * and a StringBuffer per text event, a top-3 slice of the OOXML
    * kernel's bytes/doc.
    */
  private def appendCollapsed(sb: java.lang.StringBuilder,
      chars: Array[Char], off: Int, len: Int): Unit = {
    if (len >= 2) {
      var i = off
      val end = off + len
      while (i < end && isAsciiWs(chars(i))) i += 1
      if (i == end) return // whole node is one ws run of length ≥ 2 → ""
    }
    var j = off
    val end = off + len
    while (j < end) {
      val c = chars(j)
      if (isAsciiWs(c)) {
        var k = j + 1
        while (k < end && isAsciiWs(chars(k))) k += 1
        sb.append(if (k - j >= 2) ' ' else c)
        j = k
      } else { sb.append(c); j += 1 }
    }
  }

  /** XmlToText (xmltotext.go:15-81). */
  def xmlToText(xml: Array[Byte], startWith: String): String = {
    val sb = new java.lang.StringBuilder
    val r = factoryTL.get().createXMLStreamReader(new ByteArrayInputStream(xml))
    try {
      // skip until the body tag (xmltotext.go:21-34)
      var inBody = false
      while (!inBody && r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
          localName(r) == startWith) inBody = true
      }
      if (!inBody) return ""

      var skipNextText = false
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (skipNextText) skipNextText = false
            else appendCollapsed(sb, r.getTextCharacters, r.getTextStart,
              r.getTextLength)
          case XMLStreamConstants.START_ELEMENT =>
            skipNextText = false
            if (localName(r) == "tableStyleId") skipNextText = true
          case XMLStreamConstants.END_ELEMENT =>
            skipNextText = false
            val (prefix, local) = prefixLocal(r)
            if (Breaks.contains(local)) sb.append('\n')
            if (prefix == "text" && local == "s") sb.append(' ')
          case _ =>
        }
      }
      sb.toString
    } finally r.close()
  }

  private def localName(r: XMLStreamReader): String = prefixLocal(r)._2

  /** With IS_NAMESPACE_AWARE=false the JDK parser reports `prefix:local`
    * through getLocalName and an empty prefix — split manually to mirror
    * Go RawToken's Name.Space/Name.Local.
    */
  private def prefixLocal(r: XMLStreamReader): (String, String) = {
    val raw = r.getLocalName
    val i = raw.indexOf(':')
    if (i < 0) ("", raw) else (raw.substring(0, i), raw.substring(i + 1))
  }

  // ── metadata mapping ──────────────────────────────────────────────────────

  /** Targeted metadata scan: records text only for the handful of element
    * names a mapper actually reads (last occurrence wins, matching Go
    * xml.Unmarshal), every occurrence of `collectAllOf` (ODF keywords),
    * and the attributes of `attrsOf` (ODF document-statistic). The
    * previous general scan built a StringBuilder + map entries for EVERY
    * element of the three metadata files — a measured ~7 KB/doc of the
    * OOXML kernel's allocation. Text for a wanted element is only what
    * sits directly inside it (all wanted names are leaves in these
    * schemas; nested elements suspend collection like the stack-based
    * scan did).
    */
  private final class MetaScan(xml: Array[Byte], wantText: Set[String],
      collectAllOf: String = "", attrsOf: String = "") {
    private val text = mutable.HashMap[String, String]()
    val all = mutable.ArrayBuffer[String]()
    var attrs: Map[String, String] = null
    try {
      val r = factoryTL.get().createXMLStreamReader(new ByteArrayInputStream(xml))
      val sb = new java.lang.StringBuilder
      var collecting: String = null
      var nested = 0 // depth below the collecting element
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            val raw = r.getLocalName
            val local = { val i = raw.indexOf(':'); if (i < 0) raw else raw.substring(i + 1) }
            if (attrsOf == local && r.getAttributeCount > 0) {
              attrs = (0 until r.getAttributeCount).map { i =>
                val an = r.getAttributeLocalName(i)
                val aLocal = { val j = an.indexOf(':'); if (j < 0) an else an.substring(j + 1) }
                aLocal -> r.getAttributeValue(i)
              }.toMap
            }
            if (collecting != null) nested += 1
            else if (wantText.contains(local) || (collectAllOf.nonEmpty && collectAllOf == local)) {
              collecting = local; nested = 0; sb.setLength(0)
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (collecting != null && nested == 0)
              sb.append(r.getTextCharacters, r.getTextStart, r.getTextLength)
          case XMLStreamConstants.END_ELEMENT =>
            if (collecting != null) {
              if (nested > 0) nested -= 1
              else {
                val s = sb.toString
                if (collectAllOf == collecting) all += s else text(collecting) = s
                collecting = null
              }
            }
          case _ =>
        }
      }
      r.close()
    } catch { case _: Exception => /* unparseable metadata is skipped, like Go */ }
    def get(name: String): String = text.getOrElse(name, "")
  }

  private def put(md: mutable.Map[String, String], key: String, v: String): Unit =
    if (v.nonEmpty) md(key) = v

  /** office_parser.go:183-226. */
  def mapOpenDocumentMetadata(md: mutable.Map[String, String], data: Array[Byte]): Unit = {
    val s = new MetaScan(data,
      wantText = Set("creation-date", "generator", "creator", "title",
        "publisher", "subject", "date"),
      collectAllOf = "keyword", attrsOf = "document-statistic")
    put(md, "x-document-created", s.get("creation-date"))
    put(md, "x-document-producer", s.get("generator"))
    put(md, "x-document-creator", s.get("creator"))
    put(md, "x-document-title", s.get("title"))
    put(md, "x-document-author", s.get("publisher"))
    put(md, "x-document-subject", s.get("subject"))
    put(md, "x-document-modified", s.get("date"))
    if (s.all.nonEmpty) md("x-document-keywords") = s.all.mkString(" ")
    Option(s.attrs).foreach { a =>
      put(md, "x-document-pages", a.getOrElse("page-count", ""))
      put(md, "x-document-words", a.getOrElse("word-count", ""))
      put(md, "x-document-chars", a.getOrElse("character-count", ""))
      put(md, "x-document-paragraphs", a.getOrElse("paragraph-count", ""))
    }
  }

  /** office_parser.go:133-160. */
  def mapMsOfficeCoreMetadata(md: mutable.Map[String, String], data: Array[Byte]): Unit = {
    val s = new MetaScan(data, wantText = Set("creator", "publisher",
      "title", "subject", "keywords", "created", "modified"))
    put(md, "x-document-creator", s.get("creator"))
    put(md, "x-document-author", s.get("publisher"))
    put(md, "x-document-title", s.get("title"))
    put(md, "x-document-subject", s.get("subject"))
    put(md, "x-document-keywords", s.get("keywords"))
    put(md, "x-document-created", s.get("created"))
    put(md, "x-document-modified", s.get("modified"))
  }

  /** office_parser.go:162-181. */
  def mapMsOfficeStats(md: mutable.Map[String, String], data: Array[Byte]): Unit = {
    val s = new MetaScan(data, wantText = Set("Application", "Pages",
      "Words", "CharactersWithSpaces", "Paragraphs"))
    put(md, "x-document-producer", s.get("Application"))
    put(md, "x-document-pages", s.get("Pages"))
    put(md, "x-document-words", s.get("Words"))
    put(md, "x-document-chars", s.get("CharactersWithSpaces"))
    put(md, "x-document-paragraphs", s.get("Paragraphs"))
  }
}
