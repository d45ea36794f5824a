package graft.core

import graft.pipeline.Span
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck property suites over the pure kernels (SURVEY §5.3). sbt runs
  * these through the native ScalaCheck framework.
  */
object DehyphenatorProps extends Properties("Dehyphenator") {

  private val wordGen = Gen.oneOf("wort", "Wort", "EU", "E", "stra", "ße",
    "Mail", "Institution", "über", "x", "-", "", "  ")
  private val lineGen = for {
    ws <- Gen.nonEmptyListOf(wordGen)
    tail <- Gen.oneOf("", "-", "‐", "­") // incl. U+2010, soft hyphen
  } yield ws.mkString(" ") + tail
  private val docGen = Gen.listOf(lineGen).map(_.map(_ + "\n").mkString)

  property("chunk-state composition equals whole-stream") =
    Prop.forAll(docGen, Gen.chooseNum(1, 5)) { (doc: String, k: Int) =>
      val whole = Dehyphenator.dehyphenate(doc, removeNewlines = false)
      val lines = doc.split("(?<=\n)").toSeq.filter(_.nonEmpty)
      var pend = 0
      val sb = new StringBuilder
      lines.grouped(k).foreach { chunk =>
        val (out, p) = Dehyphenator.dehyphenateChunk(chunk.mkString, removeNewlines = false, pend)
        sb.append(out); pend = p
      }
      sb.toString == whole
    }

  property("idempotent on hyphen-free text") =
    Prop.forAll(Gen.listOf(Gen.alphaNumStr)) { lines =>
      val once = Dehyphenator.dehyphenate(lines.mkString("\n"), removeNewlines = false)
      Dehyphenator.dehyphenate(once, removeNewlines = false) == once
    }

  property("removeNewlines output contains no newlines") =
    Prop.forAll(docGen) { doc =>
      !Dehyphenator.dehyphenate(doc, removeNewlines = true).contains('\n')
    }
}

object ExtractorProps extends Properties("Extractor") {

  private val spanGen: Gen[Span] = for {
    kind <- Gen.oneOf("text", "media", "bin", "rtf")
    text <- Gen.oneOf(Gen.alphaStr,
      Gen.const("""e1xydGYxXGFuc2kgaGVsbG99"""), // b64 of {\rtf1\ansi hello}
      Gen.const(""))
    ref <- Gen.oneOf("", "s3://m/x.png")
  } yield Span(kind, text, if (kind == "media") ref else "", 0)

  private val docGen: Gen[Seq[Span]] =
    Gen.listOf(spanGen).map(_.zipWithIndex.map { case (s, i) => s.copy(offset = i) })

  property("never throws; failure codes from the closed set") =
    Prop.forAll(docGen) { spans =>
      val r = Extractor.extract("p", spans)
      r.failure.isEmpty || Set("zero_size", "too_large", "unknown_format",
        "parse_error", "content_not_found", "encrypted", "limit_exceeded")
        .contains(r.failure)
    }

  property("output offsets are 0..n-1 in order") =
    Prop.forAll(docGen) { spans =>
      val r = Extractor.extract("p", spans)
      r.spans.map(_.offset) == r.spans.indices
    }

  property("media refs preserved in input order") =
    Prop.forAll(docGen) { spans =>
      val r = Extractor.extract("p", spans)
      r.failure.nonEmpty ||
        r.spans.filter(_.kind == "media").map(_.media_ref) ==
          spans.sortBy(_.offset).filter(_.kind == "media").map(_.media_ref)
    }
}

/** The hand-rolled PDF numeric-operand parser must be bit-identical to
  * Double.parseDouble on every operand shape (the fast path's mantissa /
  * power-of-ten division is correctly rounded only under the documented
  * digit bounds — this property is the guard).
  */
object ParseOperandProps extends org.scalacheck.Properties("PdfParseOperand") {
  import org.scalacheck.{Gen, Prop}
  import graft.core.pdf.PdfText.parseOperand

  private def ref(s: String): Double =
    try java.lang.Double.parseDouble(s)
    catch { case _: NumberFormatException => Double.NaN }

  private def same(s: String): Boolean = {
    val b = s.getBytes("ISO-8859-1")
    val got = parseOperand(b, 0, b.length)
    val want = ref(s)
    (java.lang.Double.isNaN(got) && java.lang.Double.isNaN(want)) ||
      java.lang.Double.doubleToRawLongBits(got) == java.lang.Double.doubleToRawLongBits(want)
  }

  private val operandGen: Gen[String] = for {
    sign <- Gen.oneOf("", "-", "+")
    intDigits <- Gen.chooseNum(0, 20)
    fracDigits <- Gen.chooseNum(0, 20)
    intPart <- Gen.stringOfN(intDigits, Gen.numChar)
    fracPart <- Gen.stringOfN(fracDigits, Gen.numChar)
    dot <- Gen.oneOf(true, false)
  } yield sign + intPart + (if (dot) "." + fracPart else "")

  property("matches Double.parseDouble on operand shapes") =
    Prop.forAll(operandGen)(same)

  property("matches on doubles round-tripped through toString") =
    Prop.forAll(Gen.chooseNum(-1e9, 1e9))((d: Double) => same(d.toString))

  property("typical PDF coordinates") = Prop.forAll(
    Gen.chooseNum(-100000, 100000), Gen.chooseNum(0, 99)) { (a: Int, b: Int) =>
    same(s"$a.$b") && same(a.toString)
  }

  property("garbage is NaN both ways") = Prop.forAll(
    Gen.oneOf("", ".", "-", "+", "--1", "1.2.3", "12a", "a12", "1 2", "0x10")) { s =>
    same(s)
  }
}
