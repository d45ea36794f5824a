package graft.core

/** Per-document extraction kernel: input span sequence → ordered output
  * span sequence + metadata + failure code. Pure Scala, zero Spark deps —
  * the Spark stage wraps this in one mapPartitions (SURVEY §3.1 restatement).
  *
  * Input span kinds:
  *   - `text`  — already-decoded text payload (dehyphenate + pass through)
  *   - `media` — opaque media ref; `text` may carry a recorded OCR
  *     transcript (used by the <200-char OCR-trigger rule, misc.go:32-77)
  *   - a format tag (`rtf`, `docx`, `odt`, `pptx`, `odp`, `doc`, `ppt`,
  *     `pdf`) — binary payload, base64 in `text`
  *   - `bin`   — binary payload, format sniffed from magic bytes
  *     (docfactory.go:180-206)
  *
  * Input and output spans are the pipeline's row type
  * [[graft.pipeline.Span]], so a Spark row's spans go into the kernel and
  * its result goes into an output row without a copy.
  *
  * Output spans: `text` spans (one per page/slide for paged formats, one
  * per document otherwise; every page's text ends with '\n' per
  * misc.go:71-74) interleaved with passed-through `media` spans, offsets
  * renumbered 0..n-1.
  *
  * Failure codes mirror the reference error paths: `zero_size`/`too_large`
  * (docfactory.go:28-29), `unknown_format` (docfactory.go:205),
  * `content_not_found` (office_parser.go:29), `encrypted` (word.go:53-55,
  * ppt.go:461-463), `parse_error`.
  */
object Extractor {

  // `Extractor.Span` is named only by perfbench's Gate and Ledger.
  type Span = graft.pipeline.Span
  val Span = graft.pipeline.Span

  /** `pendingHyphenOut` is the hyphen the dehyphenator stripped at the end
    * of the input and still holds, the one boundary state the output spans
    * cannot show; the salted merge (pipeline.ExtractPipeline.mergeChunks)
    * carries it into the next chunk of a mega-document.
    */
  final case class Result(
      spans: Vector[Span],
      metadata: Map[String, String],
      failure: String, // "" = ok
      pendingHyphenOut: Int = 0)

  final case class Config(
      removeNewlines: Boolean = true, // TES_REMOVE_NEWLINES default (config.go:60)
      maxFileBytes: Long = 300L * 1024 * 1024, // config.go:34
      ocrEnabled: Boolean = true)

  val Default: Config = Config()

  /** Page text shorter than this triggers OCR of the page's media (misc.go:38). */
  private val OcrTriggerChars = 200

  /** MIME sniff by magic bytes — the dispatch analog of
    * docfactory.go:180-206 (mimetype lib there; same formats here).
    */
  def sniff(data: Array[Byte]): String = {
    def at(i: Int): Int = if (i < data.length) data(i) & 0xFF else -1
    if (data.length >= 5 && data(0) == '%' && data(1) == 'P' && data(2) == 'D' &&
      data(3) == 'F' && data(4) == '-') "pdf"
    else if (data.length >= 5 && data(0) == '{' && data(1) == '\\' &&
      data(2) == 'r' && data(3) == 't' && data(4) == 'f') "rtf"
    else if (at(0) == 0xD0 && at(1) == 0xCF && at(2) == 0x11 && at(3) == 0xE0) "ole" // CFB: doc/ppt
    else if (at(0) == 'P' && at(1) == 'K' && (at(2) == 3 || at(2) == 5 || at(2) == 7)) "zip" // docx/odt/pptx/odp
    // image magics (docfactory.go:201-203 routes image/* to the OCR parser;
    // imageparser/image.go:29-82 tags x-doctype=<ext>)
    else if (at(0) == 0x89 && at(1) == 'P' && at(2) == 'N' && at(3) == 'G' &&
      at(4) == 0x0D && at(5) == 0x0A && at(6) == 0x1A && at(7) == 0x0A) "img:png"
    else if (at(0) == 0xFF && at(1) == 0xD8 && at(2) == 0xFF) "img:jpg"
    else if (at(0) == 'G' && at(1) == 'I' && at(2) == 'F' && at(3) == '8' &&
      (at(4) == '7' || at(4) == '9') && at(5) == 'a') "img:gif"
    else if ((at(0) == 'I' && at(1) == 'I' && at(2) == 0x2A && at(3) == 0) ||
      (at(0) == 'M' && at(1) == 'M' && at(2) == 0 && at(3) == 0x2A)) "img:tiff"
    else if (at(0) == 'R' && at(1) == 'I' && at(2) == 'F' && at(3) == 'F' &&
      at(8) == 'W' && at(9) == 'E' && at(10) == 'B' && at(11) == 'P') "img:webp"
    else if (at(0) == 'B' && at(1) == 'M' && data.length > 26) "img:bmp"
    else {
      val head = new String(data, 0, math.min(256, data.length), "ISO-8859-1")
        .toLowerCase.dropWhile(_.isWhitespace)
      if (head.startsWith("<!doctype html") || head.startsWith("<html")) "html"
      else ""
    }
  }

  def extract(docId: String, spans: Seq[Span], cfg: Config = Default): Result = {
    try extractUnsafe(docId, spans, cfg)
    catch {
      case _: OfficeXml.ContentNotFoundException =>
        Result(Vector.empty, Map.empty, "content_not_found")
      case _: ZipArchive.EntryTooBigException =>
        Result(Vector.empty, Map.empty, "limit_exceeded")
      case _: EncryptedException =>
        Result(Vector.empty, Map.empty, "encrypted")
      case _: Exception =>
        Result(Vector.empty, Map.empty, "parse_error")
    }
  }

  final class EncryptedException extends RuntimeException("encrypted document")

  private def extractUnsafe(docId: String, spans: Seq[Span], cfg: Config): Result = {
    if (spans.isEmpty) return Result(Vector.empty, Map.empty, "zero_size")

    val out = Vector.newBuilder[Span]
    var metadata = Map.empty[String, String]
    var offset = 0
    var pendingHyphen = 0 // dehyphenator state threaded across page spans
    var failure = ""

    def emitText(t: String): Unit = {
      out += Span("text", t, "", offset); offset += 1
    }

    /** Emit page texts through the stream-threaded dehyphenator; each page
      * gets its '\n' separator before dehyphenation (misc.go:71-74), so the
      * output matches the reference's single-writer stream exactly.
      */
    def emitPages(pages: Seq[String]): Unit = pages.foreach(p => emitWhole(p + "\n"))

    /** Pageless formats: whole stream through the dehyphenator, one span. */
    def emitWhole(text: String): Unit = {
      val (t, pend) = Dehyphenator.dehyphenateChunk(text, cfg.removeNewlines, pendingHyphen)
      pendingHyphen = pend
      emitText(t)
    }

    // OCR rule (misc.go:38-40): pending media transcripts emitted before the
    // page text when the page text is short.
    var pendingOcr: List[String] = Nil

    val arr = inOffsetOrder(spans)
    var i = 0
    while (i < arr.length && failure.isEmpty) {
      val s = arr(i)
      s.kind match {
        case "media" =>
          out += Span("media", "", s.media_ref, offset); offset += 1
          if (cfg.ocrEnabled && s.text.nonEmpty) pendingOcr ::= s.text
        case "text" =>
          // raw text span: OCR trigger checks the page text length
          if (pendingOcr.nonEmpty && s.text.length < OcrTriggerChars) {
            pendingOcr.reverse.foreach(t => emitWhole(t))
          }
          pendingOcr = Nil
          emitWhole(s.text)
        case fmt =>
          val payload = decodePayload(s.text)
          if (payload.length == 0) failure = "zero_size"
          else if (payload.length > cfg.maxFileBytes) failure = "too_large"
          else {
            val kind = fmt match {
              case "bin" =>
                sniff(payload) match {
                  case "" => ""
                  case "zip" => "bin" // an office zip; OfficeXml.parse names its kind
                  case "ole" => "doc" // refined by CFB streams later
                  case k => k
                }
              case k => k
            }
            kind match {
              case img if img.startsWith("img:") =>
                // whole-image document (docfactory.go:201-203): with OCR
                // enabled it becomes a media span routed to downstream OCR
                // (transcripts are out of process scope, like the PDF image
                // pages); without OCR the reference has no parser for it.
                if (!cfg.ocrEnabled) failure = "unknown_format"
                else {
                  val ext = img.drop(4)
                  metadata ++= Map("x-doctype" -> ext) // imageparser/image.go:70-82
                  out += Span("media", "", s"image:$docId/span${s.offset}.$ext", offset)
                  offset += 1
                }
              case "docx" | "odt" | "pptx" | "odp" | "bin" =>
                val d = OfficeXml.parse(payload, kind)
                metadata ++= d.metadata
                if (d.pages > 0) emitPages(d.contentTexts)
                else emitWhole(d.fullText)
              case "html" =>
                // north-star additive path: boilerplate-stripped main content
                metadata ++= Map("x-parsed-by" -> "text-extraction-service", "x-doctype" -> "html")
                emitWhole(Boilerplate.extractContent(
                  new String(payload, java.nio.charset.StandardCharsets.UTF_8)))
              case "rtf" =>
                val meta = RtfMetadata.extract(payload)
                metadata ++= meta.toMap
                metadata ++= Map("x-parsed-by" -> "text-extraction-service", "x-doctype" -> "rtf")
                emitWhole(RtfText.convert(payload))
              case "pdf" =>
                val pf = new graft.core.pdf.PdfFile(payload)
                if (pf.isEncrypted) throw new EncryptedException
                metadata ++= graft.core.pdf.PdfExtract.metadata(pf)
                var page = 0
                val n = pf.pageCount
                while (page < n) {
                  val txtOpt = graft.core.pdf.PdfExtract.pageText(pf, page)
                  val txt = txtOpt.getOrElse("")
                  // short-circuit: the XObject walk only matters when the
                  // short-text OCR trigger can actually fire for this page
                  def hasImages = graft.core.pdf.PdfExtract.pageHasImages(pf, page)
                  // OCR decision rule (misc.go:38-40): short page with images →
                  // surface the page's images as media spans before the text,
                  // one span per decodable raster (pdf_images.go:30-67 —
                  // thumbnails excluded by construction; see PdfImages). The
                  // refs are dict-only enumeration — bytes materialize in the
                  // downstream media stage, never in the text kernel. Pages
                  // whose images are all unsupported keep the opaque page ref
                  // so the OCR trigger is still visible downstream.
                  if (txt.length < OcrTriggerChars && hasImages && cfg.ocrEnabled) {
                    val imgs = graft.core.pdf.PdfImages.pageImageRefs(pf, page)
                    if (imgs.isEmpty) {
                      out += Span("media", "", s"pdf:$docId/page$page/images", offset)
                      offset += 1
                    } else imgs.foreach { im =>
                      out += Span("media", "", s"pdf:$docId/page$page/${im.name}.${im.ext}", offset)
                      offset += 1
                    }
                  }
                  // page text + '\n' separator (native_pdf.go:112-113); pages with
                  // no content contribute nothing (StreamText skips them)
                  if (txtOpt.isDefined) emitPages(Seq(txt))
                  page += 1
                }
              case "doc" | "ppt" | "ole" =>
                val ds = DocBin.openStreams(payload)
                metadata ++= OleProps.parse(ds.siRaw, ds.dsiRaw).toMap
                if (ds.wordDocument.isDefined)
                  emitWhole(DocBin.wordText(ds.wordDocument.get, ds.table.get))
                else {
                  // ppt slides: one span per slide (StreamText concatenation
                  // order, docparser.go:124-128; slide text already ends with
                  // '\n' per text run so no extra separator)
                  DocBin.pptSlides(ds.pptDoc.get, ds.currentUser.get).foreach(emitWhole)
                }
              case _ =>
                failure = "unknown_format"
            }
          }
      }
      i += 1
    }

    if (failure.nonEmpty) Result(Vector.empty, Map.empty, failure)
    else Result(out.result(), metadata, "", pendingHyphen)
  }

  private val ByOffset: java.util.Comparator[Span] = (a, b) => Integer.compare(a.offset, b.offset)

  /** `spans` stably sorted by offset, indexed: one array, sorted in place.
    * `Seq.sortBy` keeps a `List` a `List` (the encoders decode `Seq[Span]`
    * as one), and indexing that in a loop over the spans is quadratic.
    */
  private[graft] def inOffsetOrder(spans: Seq[Span]): IndexedSeq[Span] = {
    val arr = new Array[Span](spans.length)
    spans.copyToArray(arr)
    java.util.Arrays.sort(arr, ByOffset)
    scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
  }

  private[graft] def decodePayload(text: String): Array[Byte] =
    try decodeBase64(text)
    catch { case _: IllegalArgumentException => text.getBytes("ISO-8859-1") }

  private val B64Table: Array[Int] = {
    val t = Array.fill(128)(-1)
    var i = 0
    while (i < 26) { t('A' + i) = i; t('a' + i) = 26 + i; i += 1 }
    i = 0
    while (i < 10) { t('0' + i) = 52 + i; i += 1 }
    t('+') = 62; t('/') = 63; t('=') = -2
    t
  }

  /** java.util.Base64 basic-decoder semantics restated over the String's
    * chars directly: `Base64.getDecoder.decode(String)` first copies the
    * whole string via getBytes(ISO_8859_1) — for a 50 KB payload that is
    * ~70 KB of per-document garbage on the kernel's hottest path (every
    * binary span decodes through here). Byte- and exception-compatible
    * with the JDK decoder (chars ≥ 0x80 are illegal exactly as the JDK's
    * ISO-8859-1 pre-copy made them): the raw-text fallback in
    * [[decodePayload]] depends on the IllegalArgumentException cases.
    * Differentially tested against the JDK decoder in ExtractorSpec.
    */
  private[graft] def decodeBase64(s: String): Array[Byte] = {
    val len = s.length
    if (len == 0) return Array.emptyByteArray
    if (len < 2)
      throw new IllegalArgumentException(
        "Input byte[] should at least have 2 bytes for base64 bytes")
    var pads = 0
    if (s.charAt(len - 1) == '=') {
      pads += 1; if (s.charAt(len - 2) == '=') pads += 1
    }
    val dstLen = 3 * ((len + 3) / 4) -
      (if (pads == 0 && (len & 3) != 0) 4 - (len & 3) else pads)
    val dst = new Array[Byte](dstLen)
    var dp = 0
    var bits = 0
    var shiftto = 18
    var sp = 0
    var brk = false
    while (sp < len && !brk) {
      val c = s.charAt(sp); sp += 1
      val b = if (c < 128) B64Table(c) else -1
      if (b >= 0) {
        bits |= b << shiftto
        shiftto -= 6
        if (shiftto < 0) {
          dst(dp) = (bits >> 16).toByte
          dst(dp + 1) = (bits >> 8).toByte
          dst(dp + 2) = bits.toByte
          dp += 3; shiftto = 18; bits = 0
        }
      } else if (b == -2) {
        // '=' legality mirrors the JDK: xx= needs a second '=' (consumed),
        // bare '=' in a fresh unit is garbage; x= falls through to the
        // not-enough-bits check below
        if ((shiftto == 6 && {
              val bad = sp == len || s.charAt(sp) != '='
              sp += (if (sp == len) 0 else 1)
              bad
            }) || shiftto == 18)
          throw new IllegalArgumentException(
            "Input byte array has wrong 4-byte ending unit")
        brk = true
      } else
        throw new IllegalArgumentException(
          "Illegal base64 character " + Integer.toString(c, 16))
    }
    if (shiftto == 6) { dst(dp) = (bits >> 16).toByte; dp += 1 }
    else if (shiftto == 0) {
      dst(dp) = (bits >> 16).toByte
      dst(dp + 1) = (bits >> 8).toByte
      dp += 2
    } else if (shiftto == 12)
      throw new IllegalArgumentException(
        "Last unit does not have enough valid bits")
    if (sp < len)
      throw new IllegalArgumentException(
        "Input byte array has incorrect ending byte at " + sp)
    if (dp == dstLen) dst else java.util.Arrays.copyOf(dst, dp)
  }

}
