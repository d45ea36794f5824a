package perfbench

import graft.core.Extractor
import graft.pipeline.{Doc, ExtractedDoc, Span}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.{Encoders, SparkSession}

/** The output gate. The reference runs the kernel once per whole doc, spans
  * sorted by offset, with no routing, salting or lineage; a pass is correct
  * when its committed output holds exactly the expected docs, each hashing
  * like its reference.
  */
object Gate {

  /** Per-doc digest over (doc_id, spans (kind, text, media_ref, offset),
    * metadata sorted by key, failure). A failed doc carries no spans or
    * metadata, as `ExtractPipeline.mergeChunks` commits it.
    */
  def digest(docId: String, spans: Seq[Span], metadata: Map[String, String], failure: String): Long = {
    val md = MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = {
      val b = s.getBytes(UTF_8)
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    put(docId); put(failure)
    if (failure.isEmpty) {
      spans.foreach { s => put(s.kind); put(s.text); put(s.media_ref); put(s.offset.toString) }
      metadata.toSeq.sorted.foreach { case (k, v) => put(k); put(v) }
    }
    java.nio.ByteBuffer.wrap(md.digest()).getLong
  }

  final case class Row(doc_id: String, digest: Long, failed: Boolean)

  def reference(d: Doc): Row = {
    val r = Extractor.extract(d.doc_id,
      d.spans.sortBy(_.offset).map(s => Extractor.Span(s.kind, s.text, s.media_ref, s.offset)))
    val spans = r.spans.map(s => Span(s.kind, s.text, s.mediaRef, s.offset))
    Row(d.doc_id, digest(d.doc_id, spans, r.metadata, r.failure), r.failure.nonEmpty)
  }

  def referenceRows(spark: SparkSession, input: String): Map[String, Row] = {
    implicit val enc = Encoders.product[Row]
    Run.readDocs(spark, input).map(reference _).collect().map(r => r.doc_id -> r).toMap
  }

  def committedRows(spark: SparkSession, outputDir: String): Array[Row] = {
    implicit val enc = Encoders.product[Row]
    spark.read.parquet(outputDir).as[ExtractedDoc](Encoders.product[ExtractedDoc])
      .map(d => Row(d.doc_id, digest(d.doc_id, d.spans, d.metadata, d.failure), d.failure.nonEmpty))
      .collect()
  }

  /** Problems with one pass's committed output, empty when it is correct. */
  def check(expected: Map[String, Row], got: Array[Row]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val byId = got.groupBy(_.doc_id)
    val dup = byId.collect { case (id, rs) if rs.length > 1 => id }
    if (dup.nonEmpty) problems += s"${dup.size} docs committed more than once, e.g. ${dup.head}"
    val missing = expected.keySet -- byId.keySet
    if (missing.nonEmpty) problems += s"${missing.size} docs missing, e.g. ${missing.head}"
    val extra = byId.keySet -- expected.keySet
    if (extra.nonEmpty) problems += s"${extra.size} unexpected docs, e.g. ${extra.head}"
    val wrong = got.filter(r => expected.get(r.doc_id).exists(_.digest != r.digest))
    if (wrong.nonEmpty) problems += s"${wrong.length} docs differ from the reference, e.g. ${wrong.head.doc_id}"
    problems.result()
  }

  /** Every doc the reference extracts cleanly must sit in exactly one
    * committed manifest, and no failed doc in any.
    */
  def checkManifests(spark: SparkSession, reference: Map[String, Row], manifestDirs: Seq[String]): Seq[String] = {
    val ids = spark.read.parquet(manifestDirs: _*).select("doc_id").as[String](Encoders.STRING).collect()
    val counts = ids.groupBy(identity).view.mapValues(_.length).toMap
    val ok = reference.values.filterNot(_.failed).map(_.doc_id).toSet
    val problems = Seq.newBuilder[String]
    val notOnce = ok.filter(id => counts.getOrElse(id, 0) != 1)
    if (notOnce.nonEmpty) problems += s"${notOnce.size} ok docs not in exactly one manifest, e.g. ${notOnce.head}"
    val stray = counts.keySet -- ok
    if (stray.nonEmpty) problems += s"${stray.size} manifest entries for failed or unknown docs, e.g. ${stray.head}"
    problems.result()
  }
}
