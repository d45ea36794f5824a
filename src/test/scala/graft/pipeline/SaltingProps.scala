package graft.pipeline

import graft.core.Extractor
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

/** The salted branch's split → per-chunk kernel → merge must rebuild the
  * unsalted kernel's output span for span. The generators aim at the
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

  property("salted merge ≡ unsalted, span for span") =
    Prop.forAll(docGen, Gen.oneOf(true, false), Gen.choose(1, 12)) { (doc, removeNewlines, megaBytes) =>
      val cfg = ExtractPipeline.PipelineConfig(Extractor.Config(removeNewlines = removeNewlines),
        megaDocBytes = megaBytes.toLong)
      val whole = Extractor.extract(doc.doc_id, doc.spans, cfg.extractor)
      val merged = ExtractPipeline.mergeChunks(doc.doc_id,
        ExtractPipeline.splitChunks(doc, cfg).map(ExtractPipeline.extractChunk(_, cfg)))
      def keys(spans: Seq[Span]) = spans.map(s => (s.kind, s.text, s.media_ref, s.offset))
      (keys(merged.spans) == keys(whole.spans) && merged.failure == whole.failure) :|
        s"salted ${keys(merged.spans)} ${merged.failure} vs unsalted ${keys(whole.spans)} ${whole.failure}"
    }
}
