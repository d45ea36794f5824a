package graft.functions

import graft.core.Dehyphenator
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{ArrayType, BooleanType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The extraction kernels that are useful directly in DataFrame/SQL land,
  * as [[NativeFn]]s (SURVEY §4: "UDF-free where possible" — a static call
  * from generated code needs no closure serialization and takes part in
  * whole-stage codegen). Each kernel below is a static entry point; the
  * functions at the end name them for SQL and the Column API.
  */
object SpanExpressions {

  def dehyphenateUTF8(s: UTF8String, removeNewlines: Boolean): UTF8String =
    UTF8String.fromString(Dehyphenator.dehyphenate(s.toString, removeNewlines))

  def stripBoilerplateUTF8(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.core.Boilerplate.extractContent(s.toString))

  /** Payload byte cost of a span array (drives mega-doc salting). Static
    * entry point for generated code. Sums UTF-8 numBytes of text+media_ref —
    * O(1) per span, vs the interpreted `aggregate(spans, ..., length(...))`
    * HOF this replaces, which cost more than the whole extraction kernel
    * (~10 s per 200k docs per branch at local[32], measured round 2).
    */
  def spanByteCost(spans: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    var total = 0L
    var i = 0
    val n = spans.numElements()
    while (i < n) {
      val row = spans.getStruct(i, 4)
      if (!row.isNullAt(1)) total += row.getUTF8String(1).numBytes()
      if (!row.isNullAt(2)) total += row.getUTF8String(2).numBytes()
      i += 1
    }
    total
  }

  /** UTF-16 code-unit count of a UTF8String — exactly Java `String.length`
    * (code points + one extra unit per supplementary char), computed from
    * the UTF-8 bytes without materializing a String: non-continuation bytes
    * count 1, 4-byte leads count 2.
    */
  def utf16Len(s: UTF8String): Long = {
    val n = s.numBytes()
    var i = 0
    var len = 0L
    while (i < n) {
      val b = s.getByte(i) & 0xFF
      if (b < 0x80) { len += 1; i += 1 }
      else if (b < 0xE0) { len += 1; i += 2 }
      else if (b < 0xF0) { len += 1; i += 3 }
      else { len += 2; i += 4 }
    }
    len
  }

  /** (n_spans, Σ UTF-16 length of text, media-span count) over a span
    * array, one pass — static entry point for generated code. Matches the
    * typed `d.spans.size / map(_.text.length).sum / count(_.kind=="media")`
    * fold it replaces without deserializing a single Span object.
    */
  private val MediaKind = UTF8String.fromString("media")

  def spanStats(spans: org.apache.spark.sql.catalyst.util.ArrayData): InternalRow = {
    var nChars = 0L
    var nMedia = 0
    var i = 0
    val n = spans.numElements()
    while (i < n) {
      val row = spans.getStruct(i, 4)
      if (!row.isNullAt(1)) nChars += utf16Len(row.getUTF8String(1))
      if (!row.isNullAt(0) && row.getUTF8String(0).equals(MediaKind)) nMedia += 1
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, nChars, nMedia))
  }

  // ------------------------------------------------------------ functions

  /** A Doc's `spans` column ([[graft.pipeline.Span]]). The span kernels
    * read fields by ordinal, so a span array of any other shape must be an
    * analysis error, not a garbage read on UnsafeArrayData.
    */
  private[graft] val SpanArray =
    ArrayType(StructType.fromDDL("kind string, text string, media_ref string, offset int"))

  /** dehyphenate(text, removeNewlines) — the T1/T2 kernel as a SQL scalar. */
  val Dehyphenate = NativeFn("dehyphenate", getClass, "dehyphenateUTF8",
    StringType, StringType, BooleanType)
  /** strip_boilerplate(html) — the north-star block classifier as a scalar. */
  val StripBoilerplate = NativeFn("strip_boilerplate", getClass, "stripBoilerplateUTF8",
    StringType, StringType)
  /** span_byte_cost(spans) → bigint */
  val SpanByteCost = NativeFn("span_byte_cost", getClass, "spanByteCost",
    LongType, SpanArray)
  /** span_stats(spans) → struct<n_spans:int, n_chars:bigint, n_media:int> —
    * the extract_pipeline envelope fold (the typed Dataset.map it replaces
    * deserialized every span, payload text included, into JVM objects just
    * to count them).
    */
  val SpanStats = NativeFn("span_stats", getClass, "spanStats", new StructType()
    .add("n_spans", IntegerType, nullable = false)
    .add("n_chars", LongType, nullable = false)
    .add("n_media", IntegerType, nullable = false), SpanArray)

  val functions: Seq[NativeFn] = Seq(Dehyphenate, StripBoilerplate, SpanByteCost, SpanStats)

  def dehyphenate(text: Column, removeNewlines: Column): Column = Dehyphenate(text, removeNewlines)
  def strip_boilerplate(html: Column): Column = StripBoilerplate(html)
  def span_byte_cost(spans: Column): Column = SpanByteCost(spans)
  def span_stats(spans: Column): Column = SpanStats(spans)
}
