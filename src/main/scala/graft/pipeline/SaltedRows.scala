package graft.pipeline

import graft.core.Extractor
import graft.functions.{NativeFn, SpanExpressions}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.immutable.ArraySeq

/** The salted branch's per-span work ([[ExtractPipeline.salted]]) as two
  * [[NativeFn]] kernels over Catalyst rows: generated code calls each once
  * per doc or chunk, and the loops over spans run here. Internal to the
  * pipeline: neither is registered as a SQL function.
  */
private[pipeline] object SaltedRows {

  private val TextKind = UTF8String.fromString("text")
  private val MediaKind = UTF8String.fromString("media")

  /** UTF-16 length of a span string field, as [[ExtractPipeline.docBytes]]
    * counts it; a null counts 0, as in `span_byte_cost`.
    */
  private def bytes(span: InternalRow, field: Int): Long =
    if (span.isNullAt(field)) 0L else SpanExpressions.utf16Len(span.getUTF8String(field))

  private def kindIs(span: InternalRow, kind: UTF8String): Boolean =
    !span.isNullAt(0) && span.getUTF8String(0) == kind

  /** A doc's span array (as scanned) split as [[ExtractPipeline.splitChunks]]
    * splits its spans, by the same rule ([[ExtractPipeline.chunkEnds]]): one
    * (salt, spans) struct per chunk, whose spans are the input's span structs
    * in offset order, not copied.
    */
  def spanChunks(spans: ArrayData, megaDocBytes: Long): ArrayData = {
    val n = spans.numElements()
    // (offset, index) packed in a long sort stably by offset with no boxing
    val keys = new Array[Long](n)
    var i = 0
    while (i < n) {
      keys(i) = (spans.getStruct(i, 4).getInt(3).toLong << 32) | i
      i += 1
    }
    java.util.Arrays.sort(keys)
    val sorted = new Array[Any](n)
    val costs = new Array[Long](n)
    var total = 0L
    i = 0
    while (i < n) {
      val s = spans.getStruct(keys(i).toInt, 4)
      sorted(i) = s
      costs(i) = bytes(s, 1) + bytes(s, 2)
      total += costs(i)
      i += 1
    }
    def span(i: Int) = sorted(i).asInstanceOf[InternalRow]
    val ends = ExtractPipeline.chunkEnds(n, total, megaDocBytes)(
      costs(_), i => kindIs(span(i), MediaKind) && bytes(span(i), 1) > 0, i => kindIs(span(i), TextKind))
    val chunks = new Array[Any](ends.length)
    var k = 0
    while (k < ends.length) {
      val from = if (k == 0) 0 else ends(k - 1)
      chunks(k) = new GenericInternalRow(Array[Any](k, new GenericArrayData(sorted.slice(from, ends(k)))))
      k += 1
    }
    new GenericArrayData(chunks)
  }

  private def string(row: InternalRow, field: Int): String =
    if (row.isNullAt(field)) null else row.getUTF8String(field).toString

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** [[ExtractPipeline.extractChunk]] over one chunk's span structs, its
    * [[ExtractPipeline.ChunkResult]] as a row. The kernel's config comes in
    * field by field, as literals of the plan.
    */
  def extractChunk(docId: UTF8String, salt: Int, spans: ArrayData,
      removeNewlines: Boolean, maxFileBytes: Long, ocrEnabled: Boolean): InternalRow = {
    val n = spans.numElements()
    val in = new Array[Span](n)
    var i = 0
    while (i < n) {
      val s = spans.getStruct(i, 4)
      in(i) = Span(string(s, 0), string(s, 1), string(s, 2), s.getInt(3))
      i += 1
    }
    val cfg = ExtractPipeline.PipelineConfig(Extractor.Config(removeNewlines, maxFileBytes, ocrEnabled))
    // extractChunk reads no chunk count
    val r = ExtractPipeline.extractChunk(
      ExtractPipeline.Chunk(docId.toString, salt, 0, ArraySeq.unsafeWrapArray(in)), cfg)
    val out = r.spans.iterator.map[Any] { s =>
      new GenericInternalRow(Array[Any](utf8(s.kind), utf8(s.text), utf8(s.media_ref), s.offset))
    }.toArray
    val (keys, values) = r.metadata.toArray.unzip
    new GenericInternalRow(Array[Any](utf8(r.doc_id), r.salt, new GenericArrayData(out),
      ArrayBasedMapData(keys.map(utf8), values.map(utf8)), utf8(r.failure), r.bytes, r.pendingOut))
  }

  /** span_chunks(spans, megaDocBytes) → array<struct<salt, spans>> */
  val SpanChunks = NativeFn("span_chunks", getClass, "spanChunks",
    ArrayType(new StructType().add("salt", IntegerType, nullable = false).add("spans", SpanExpressions.SpanArray),
      containsNull = false),
    SpanExpressions.SpanArray, LongType)

  /** extract_chunk(doc_id, salt, spans, removeNewlines, maxFileBytes,
    * ocrEnabled) → struct of [[ExtractPipeline.ChunkResult]]'s fields
    */
  val ExtractChunk = NativeFn("extract_chunk", getClass, "extractChunk",
    Encoders.product[ExtractPipeline.ChunkResult].schema,
    StringType, IntegerType, SpanExpressions.SpanArray, BooleanType, LongType, BooleanType)
}
