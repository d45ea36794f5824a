package graft.pipeline

import graft.core.{Dehyphenator, Extractor}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
import scala.collection.mutable

/** The extraction stage (SURVEY §3.1 Spark restatement):
  *
  *   input Dataset[Doc]
  *     → resume anti-join against the committed manifest   (S2/S6 analog)
  *     → salting: mega-docs split into contiguous span chunks by bytes  (S9 analog)
  *     → repartition(hash(doc_id, salt))                    (one shuffle)
  *     → map(extract)                                       (fused narrow stage)
  *     → regroup salted chunks, replaying cross-chunk dehyphenator state
  *     → ExtractedDoc
  *
  * When no doc is mega, the salted branch costs one routing scan: in a
  * session with `spark.sql.extensions=graft.functions.GraftExtensions`
  * (`RunPipeline`'s), the AQE rule
  * [[graft.functions.PruneEmptyUnionChildren]] sees the spread shuffle come
  * back empty and drops the chunk kernel, the regroup and the merge from
  * the plan. Sessions without the extension run the whole branch.
  *
  * A commit ([[ParquetSnapshotStore.commitRun]]) writes the result in one
  * pass and folds the run's per-partition metrics rows ([[foldMetrics]]) as
  * the rows stream into that write.
  *
  * The whole per-document kernel ([[graft.core.Extractor]]) runs inside a
  * single typed transform — spans never explode into per-span rows, so the
  * only wide operations are the anti-join, the salting shuffle, and the
  * mega-doc regroup (which touches only the salted minority).
  */
object ExtractPipeline {

  final case class PipelineConfig(
      extractor: Extractor.Config = Extractor.Default,
      numPartitions: Int = 32,
      /** docs whose summed span bytes exceed this are split across tasks */
      megaDocBytes: Long = 512 * 1024)

  /** Most chunks one mega-doc is split into. */
  val SaltBuckets = 8

  /** Salted unit of work: one doc, or one contiguous chunk of a mega-doc's
    * spans.
    */
  final case class Chunk(doc_id: String, salt: Int, nChunks: Int, spans: Seq[Span])

  final case class ChunkResult(
      doc_id: String, salt: Int, nChunks: Int,
      spans: Seq[Span], metadata: Map[String, String], failure: String,
      bytes: Long, pendingOut: Int, sawContent: Boolean, firstCp: Int)

  def docBytes(spans: Seq[Span]): Long =
    spans.iterator.map(s => s.text.length.toLong + s.media_ref.length).sum

  /** Split a mega-doc's spans into ≤ [[SaltBuckets]] contiguous chunks of
    * roughly equal byte cost. Only multi-span docs split (a single binary
    * payload parses atomically); chunk boundaries fall between spans, and
    * never while an OCR transcript is pending (a media span with a recorded
    * transcript must stay in the same chunk as the text span that decides
    * the <200-char trigger, misc.go:38-40), so each chunk is a valid
    * sub-document and merge reproduces the unsalted output exactly.
    */
  def splitChunks(doc: Doc, cfg: PipelineConfig): Seq[Chunk] = {
    val bytes = docBytes(doc.spans)
    val sorted = doc.spans.sortBy(_.offset)
    if (bytes <= cfg.megaDocBytes || sorted.length < 2)
      return Seq(Chunk(doc.doc_id, 0, 1, sorted))
    val n = math.min(SaltBuckets, sorted.length)
    val target = math.max(1L, bytes / n)
    val chunks = Vector.newBuilder[Seq[Span]]
    var cur = Vector.newBuilder[Span]
    var curBytes = 0L
    var emitted = 0
    var ocrPending = false
    sorted.foreach { s =>
      cur += s
      curBytes += s.text.length.toLong + s.media_ref.length
      if (s.kind == "media") { if (s.text.nonEmpty) ocrPending = true }
      else if (s.kind == "text") ocrPending = false
      if (curBytes >= target && emitted < n - 1 && !ocrPending) {
        chunks += cur.result(); cur = Vector.newBuilder[Span]
        curBytes = 0L; emitted += 1
      }
    }
    val last = cur.result()
    if (last.nonEmpty) chunks += last
    val all = chunks.result()
    all.zipWithIndex.map { case (ss, i) => Chunk(doc.doc_id, i, all.length, ss) }
  }

  /** Merge extracted chunks of one doc back into the exact unsalted result:
    * offsets renumbered, and the dehyphenator's cross-chunk pending-hyphen
    * rule replayed (a hyphen stripped at the end of chunk i is restored at
    * the start of chunk i+1's first content line iff it starts uppercase —
    * dehyphen.go:144-150 across the chunk boundary).
    */
  def mergeChunks(docId: String, chunks: Seq[ChunkResult]): ExtractedDoc = {
    val ordered = chunks.sortBy(_.salt)
    val failure = ordered.iterator.map(_.failure).find(_.nonEmpty).getOrElse("")
    val bytes = ordered.iterator.map(_.bytes).sum
    if (failure.nonEmpty)
      return ExtractedDoc(docId, Seq.empty, Map.empty, failure, bytes)
    val out = Vector.newBuilder[Span]
    var offset = 0
    var pend = 0
    ordered.foreach { c =>
      var spans = c.spans
      if (pend != 0 && c.sawContent && Dehyphenator.isUpper(c.firstCp)) {
        // restore the pending hyphen at the head of this chunk's first text span
        val idx = spans.indexWhere(_.kind == "text")
        if (idx >= 0) {
          val s = spans(idx)
          spans = spans.updated(idx,
            s.copy(text = new String(Character.toChars(pend)) + s.text))
        }
      }
      if (c.sawContent) pend = c.pendingOut
      spans.foreach { s => out += s.copy(offset = offset); offset += 1 }
    }
    val metadata = ordered.foldLeft(Map.empty[String, String])(_ ++ _.metadata)
    ExtractedDoc(docId, out.result(), metadata, "", bytes)
  }

  /** Resume: drop docs already committed in the manifest (left-anti on
    * doc_id — the cache-hit path, extract.go:124-153). The manifest side is
    * a small projection; Catalyst broadcasts it when under the threshold.
    */
  def resume(input: Dataset[Doc], committedDocIds: Dataset[String]): Dataset[Doc] = {
    val spark = input.sparkSession
    import spark.implicits._
    val manifest = committedDocIds.toDF("doc_id")
    input.join(manifest, Seq("doc_id"), "left_anti").as[Doc]
  }

  private def extractChunk(c: Chunk, cfg: PipelineConfig): ChunkResult = {
    val r = Extractor.extract(c.doc_id,
      c.spans.map(s => Extractor.Span(s.kind, s.text, s.media_ref, s.offset)),
      cfg.extractor)
    ChunkResult(c.doc_id, c.salt, c.nChunks,
      r.spans.map(s => Span(s.kind, s.text, s.mediaRef, s.offset)),
      r.metadata, r.failure, docBytes(c.spans),
      r.pendingHyphenOut, r.sawContent, r.firstContentCp)
  }

  /** Byte cost as a Catalyst column expression — evaluated on columnar scan
    * batches, so the mega/small routing decision never deserializes a row.
    * Codegen'd native expression: the interpreted `aggregate(..., length)`
    * HOF it replaces dominated the whole extraction stage (it runs on every
    * row of BOTH branch scans). UTF-8 byte count vs [[docBytes]]'s UTF-16
    * char count only shifts WHICH side of the salting threshold a borderline
    * doc lands on — both paths produce identical merged output (salting
    * byte-identity property test), so the routing basis is pure policy.
    */
  private def docBytesCol = graft.functions.SpanExpressions.span_byte_cost(col("spans"))

  def extract(input: Dataset[Doc], cfg: PipelineConfig = PipelineConfig()): Dataset[ExtractedDoc] = {
    val spark = input.sparkSession
    import spark.implicits._

    // Routing happens on a COLUMN expression before any deserialization, and
    // before the expensive kernel — each branch extracts only its own rows.
    // Single-span docs can't split regardless of size (binary payloads parse
    // atomically), so they stay on the fast path too.
    //
    // ADR — two branch scans, deliberately: the mega/single split reads the
    // input twice (the routing predicate runs on columnar batches in both).
    // The alternatives are worse at this corpus shape: caching the
    // scan pins the whole corpus in executor memory; salting EVERYTHING
    // funnels 100% of bytes through one shuffle to save a second read of
    // the (usually page-cached / cheap columnar) scan, and the unsalted
    // majority would lose its shuffle-free fused stage. The second scan
    // costs ~¼ of one kernel pass (allocation: scan 5.5 KB/doc vs kernel
    // 15). BASELINE.md rounds 4-5 measured salting everything 11% faster
    // with an in-JVM shuffle but 18% slower with one executor JVM, and it
    // shuffles every doc twice, which the runtime pruning below cannot
    // drop. If the mega fraction is known to be tiny at the source,
    // partition the table by a size class at write time and this split
    // becomes partition pruning instead of a second scan. With no mega-doc,
    // that second (routing) scan is all the salted branch costs in a
    // GraftExtensions session (see the header); the branch must stay
    // row-level (map, not mapPartitions) for the extension's AQE rule to
    // drop it.
    val isMega = docBytesCol > cfg.megaDocBytes && size(col("spans")) > 1

    // 1a. unsalted majority: ONE fused stage (deserialize → whole kernel →
    //     serialize) straight over the scan placement. No intermediate Chunk
    //     row.
    val single = input.where(!isMega).mapPartitions(it => it.map { d =>
      mergeChunks(d.doc_id, Seq(extractChunk(
        Chunk(d.doc_id, 0, 1, d.spans.sortBy(_.offset)), cfg)))
    })

    // 1b. salted minority: split into contiguous span chunks, spread by
    //     (doc_id, salt) so one mega-doc fans across tasks, extract, then
    //     regroup + exact merge (cross-chunk dehyphenator replay).
    val salted = input.where(isMega)
      .flatMap(d => splitChunks(d, cfg))
      .repartition(cfg.numPartitions, col("doc_id"), col("salt"))
      .as[Chunk]
      .map(c => extractChunk(c, cfg))
      .groupByKey(_.doc_id)
      .mapGroups((id, it) => mergeChunks(id, it.toSeq))

    single.union(salted)
  }

  /** The metrics row of one partition: docs, bytes, spans and one failure
    * count per distinct code, keyed by the task's partition id. An empty
    * partition has no row.
    */
  private final class PartitionFold(runId: String) {
    private var docs, bytes, spans = 0L
    private val failures = mutable.HashMap.empty[String, Long]

    def add(failure: String, b: Long, n: Int): Unit = {
      docs += 1; bytes += b; spans += n
      if (failure.nonEmpty) failures(failure) = failures.getOrElse(failure, 0L) + 1
    }

    def row: Option[PartitionMetrics] =
      if (docs == 0) None
      else Some(PartitionMetrics(runId, TaskContext.getPartitionId(), docs, bytes, spans, failures.toMap))
  }

  /** Per-partition metrics (lineage rows): one narrow `mapPartitions` over
    * the projected `failure`, `bytes` and `size(spans)` columns folds each
    * partition locally. The grouping key is the partition itself, so no
    * exchange is needed.
    */
  def metrics(result: Dataset[ExtractedDoc], runId: String): Dataset[PartitionMetrics] = {
    val spark = result.sparkSession
    import spark.implicits._
    result
      .select(col("failure"), col("bytes"), size(col("spans")))
      .as[(String, Long, Int)]
      .mapPartitions { rows =>
        val tally = new PartitionFold(runId)
        rows.foreach { case (failure, b, n) => tally.add(failure, b, n) }
        tally.row.iterator
      }
  }

  /** `result` unchanged, folding each partition's [[metrics]] row as its
    * rows pass through. The row goes to `rows` once, when the partition's
    * iterator is exhausted, so whatever consumes the returned Dataset
    * (the commit's output write) computes the metrics with no second pass.
    */
  private[pipeline] def foldMetrics(result: Dataset[ExtractedDoc], runId: String,
      rows: CollectionAccumulator[PartitionMetrics]): Dataset[ExtractedDoc] = {
    val spark = result.sparkSession
    import spark.implicits._
    result.mapPartitions { docs =>
      val tally = new PartitionFold(runId)
      var done = false
      new Iterator[ExtractedDoc] {
        def hasNext: Boolean = {
          val more = docs.hasNext
          if (!more && !done) { done = true; tally.row.foreach(rows.add(_)) }
          more
        }
        def next(): ExtractedDoc = {
          val d = docs.next()
          tally.add(d.failure, d.bytes, d.spans.size)
          d
        }
      }
    }
  }
}
