package graft.pipeline

import graft.core.Extractor
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

/** The salted branch's split → per-chunk kernel → merge must rebuild the
  * unsalted kernel's output span for span. The split and the per-chunk
  * kernel run as the row path runs them ([[SaltedRows]]), on span arrays
  * of Catalyst rows, and the row splitter must cut where
  * [[ExtractPipeline.splitChunks]] does. The generators aim at the
  * dehyphenator's cross-chunk state: lines that leave a hyphen pending,
  * spans with no content line (blank, whitespace-only, hyphen-only) between
  * it and the line that decides it, and media spans with OCR transcripts.
  */
object SaltingProps extends Properties("Salting") {

  // a hyphen put on the wrong span shows in ~2.6% of these docs, so 2,000
  // cases all miss it with odds below 1e-20
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(2000)

  private val lineGen: Gen[String] = Gen.oneOf(
    "", "  ", "\t  ", // blank and whitespace-only
    "-", " ‐ ", // hyphen-only
    "eine Zeile wei-", "stra‐", // hyphen after lowercase: stripped, pending
    "E-", "EU-", "Über-", // hyphen after uppercase, and after lowercase
    "Institution folgt", "Überall", "ter", "und so weiter")

  private val textGen: Gen[String] = for {
    lines <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, lineGen))
    end <- Gen.oneOf("\n", "")
  } yield lines.mkString("\n") + end

  private val spanGen: Gen[Span] = Gen.frequency(
    12 -> textGen.map(Span("text", _, "", 0)),
    2 -> Gen.const(Span("media", "", "s3://m/a.png", 0)),
    2 -> textGen.map(Span("media", _, "s3://m/b.png", 0)), // recorded OCR transcript
    1 -> Gen.const(Span("bin", "not a document", "", 0))) // unknown_format

  private val docGen: Gen[Doc] = for {
    n <- Gen.choose(2, 11)
    spans <- Gen.listOfN(n, spanGen)
  } yield Doc("d", spans.zipWithIndex.map { case (s, i) => s.copy(offset = i) })

  // spans out of offset order, with ties: both splitters sort stably
  private val unorderedDocGen: Gen[Doc] = for {
    n <- Gen.choose(2, 11)
    spans <- Gen.listOfN(n, spanGen)
    offsets <- Gen.listOfN(n, Gen.choose(0, 4))
  } yield Doc("d", spans.zip(offsets).map { case (s, o) => s.copy(offset = o) })

  private def utf8(s: String) = UTF8String.fromString(s)

  /** `spans` as the span array a scan hands the row kernels. */
  private def spanArray(spans: Seq[Span]): ArrayData = new GenericArrayData(spans.map[Any](s =>
    InternalRow(utf8(s.kind), utf8(s.text), utf8(s.media_ref), s.offset)))

  private def spansOf(a: ArrayData): Seq[Span] = (0 until a.numElements()).map { i =>
    val s = a.getStruct(i, 4)
    Span(s.getUTF8String(0).toString, s.getUTF8String(1).toString, s.getUTF8String(2).toString, s.getInt(3))
  }

  /** The row splitter's chunks of `doc`: (salt, span array). */
  private def rowChunks(doc: Doc, cfg: ExtractPipeline.PipelineConfig): Seq[(Int, ArrayData)] = {
    val chunks = SaltedRows.spanChunks(spanArray(doc.spans), cfg.megaDocBytes)
    (0 until chunks.numElements()).map { k =>
      val c = chunks.getStruct(k, 2)
      (c.getInt(0), c.getArray(1))
    }
  }

  private val chunkResult = ExpressionEncoder[ExtractPipeline.ChunkResult]()
    .resolveAndBind().createDeserializer()

  property("salted merge ≡ unsalted, span for span") =
    Prop.forAll(docGen, Gen.oneOf(true, false), Gen.choose(1, 12)) { (doc, removeNewlines, megaBytes) =>
      val cfg = ExtractPipeline.PipelineConfig(Extractor.Config(removeNewlines = removeNewlines),
        megaDocBytes = megaBytes.toLong)
      val x = cfg.extractor
      val whole = Extractor.extract(doc.doc_id, doc.spans, x)
      val merged = ExtractPipeline.mergeChunks(doc.doc_id, rowChunks(doc, cfg).map { case (salt, spans) =>
        chunkResult(SaltedRows.extractChunk(utf8(doc.doc_id), salt, spans, x.removeNewlines, x.maxFileBytes, x.ocrEnabled))
      })
      def keys(spans: Seq[Span]) = spans.map(s => (s.kind, s.text, s.media_ref, s.offset))
      (keys(merged.spans) == keys(whole.spans) && merged.failure == whole.failure) :|
        s"salted ${keys(merged.spans)} ${merged.failure} vs unsalted ${keys(whole.spans)} ${whole.failure}"
    }

  property("row splitter ≡ splitChunks, span for span") =
    Prop.forAll(unorderedDocGen, Gen.choose(1, 12)) { (doc, megaBytes) =>
      val cfg = ExtractPipeline.PipelineConfig(megaDocBytes = megaBytes.toLong)
      val rows = rowChunks(doc, cfg).map { case (salt, spans) => (salt, spansOf(spans)) }
      val typed = ExtractPipeline.splitChunks(doc, cfg).map(c => (c.salt, c.spans))
      (rows == typed) :| s"rows $rows vs typed $typed"
    }
}
