package graft.pipeline

import graft.core.{Dehyphenator, Extractor}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The extraction stage (SURVEY §3.1 Spark restatement):
  *
  *   input Dataset[Doc]
  *     → resume anti-join against the committed manifest   (S2/S6 analog)
  *     → cost-aware salting: mega-docs split into contiguous span chunks  (S9 analog)
  *     → repartition(hash(doc_id, salt))                    (one shuffle)
  *     → mapPartitions(extract)                             (fused narrow stage)
  *     → regroup salted chunks, replaying cross-chunk dehyphenator state
  *     → ExtractedDoc + per-partition metrics
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
      saltBuckets: Int = 8,
      /** docs whose summed span bytes exceed this are split across tasks */
      megaDocBytes: Long = 512 * 1024,
      /** Shuffle the unsalted majority by hash(doc_id) before extraction.
        * Off by default: a parquet scan already splits by bytes
        * (maxPartitionBytes), so re-shuffling the whole corpus only pays
        * when the input layout is skewed in a way the scan can't fix
        * (e.g. one giant row group of mega docs). The salted minority
        * always shuffles — that's the point of salting.
        */
      repartitionSingles: Boolean = false,
      /** Route EVERY doc through the salt shuffle in one input scan instead
        * of the default two-branch plan (unsalted majority fused over the
        * scan + salted minority through the shuffle). Trade measured at
        * bench scale (see BASELINE.md): single-scan reads the input once
        * but pays two full-corpus shuffles (chunk spread + regroup);
        * dual-branch reads twice but shuffles only the mega minority.
        */
      singleScan: Boolean = false)

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

  /** Split a mega-doc's spans into ≤ saltBuckets contiguous chunks of
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
    val n = math.min(cfg.saltBuckets, sorted.length)
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

    // Single-scan variant: chunk everything (singles become their own
    // 1-chunk unit), spread by (doc_id, salt), extract, regroup. One input
    // scan, but 100% of corpus bytes cross the chunk-spread shuffle and
    // every doc pays the regroup. MEASURED (DevSaltCompare, BASELINE.md r4):
    // ~11% FASTER than dual-branch at local[32] on the bench corpus —
    // in-process shuffle is nearly free, so the saved second scan wins.
    // Dual-branch stays the default anyway because the decision variable at
    // real scale is network topology, not local CPU: single-scan moves
    // ~2× corpus bytes through shuffle (network + shuffle-file disk) while
    // dual re-reads a columnar, pushdown-pruned scan from a
    // throughput-optimized store and shuffles only the mega minority.
    // Flip cfg.singleScan per source: one-pass wins when the input is
    // per-GET-expensive or the cluster fabric outruns the store.
    if (cfg.singleScan) {
      return input
        .flatMap(d => splitChunks(d, cfg))
        .repartition(cfg.numPartitions, col("doc_id"), col("salt"))
        .as[Chunk]
        .mapPartitions(it => it.map(c => extractChunk(c, cfg)))
        .groupByKey(_.doc_id)
        .mapGroups((id, it) => mergeChunks(id, it.toSeq))
    }

    // Routing happens on a COLUMN expression before any deserialization, and
    // before the expensive kernel — each branch extracts only its own rows.
    // Single-span docs can't split regardless of size (binary payloads parse
    // atomically), so they stay on the fast path too.
    //
    // ADR — two branch scans, deliberately: the mega/single split reads the
    // input twice (the routing predicate runs on columnar batches in both).
    // The alternatives are strictly worse at this corpus shape: caching the
    // scan pins the whole corpus in executor memory; salting EVERYTHING
    // funnels 100% of bytes through one shuffle to save a second read of
    // the (usually page-cached / cheap columnar) scan, and the unsalted
    // majority would lose its shuffle-free fused stage. The second scan
    // costs ~¼ of one kernel pass (Probe: scan 5.5 KB/doc vs kernel 15);
    // if the mega fraction is known to be tiny at the source, partition the
    // table by a size class at write time and this split becomes partition
    // pruning instead of a second scan.
    val isMega = docBytesCol > cfg.megaDocBytes && size(col("spans")) > 1

    // 1a. unsalted majority: ONE fused stage (deserialize → whole kernel →
    //     serialize) straight over the scan placement (optional re-hash via
    //     cfg.repartitionSingles). No intermediate Chunk row.
    val singles0 = input.where(!isMega)
    val singles =
      if (cfg.repartitionSingles) singles0.repartition(cfg.numPartitions, col("doc_id"))
      else singles0
    val single = singles.as[Doc].mapPartitions(it => it.map { d =>
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
      .mapPartitions(it => it.map(c => extractChunk(c, cfg)))
      .groupByKey(_.doc_id)
      .mapGroups((id, it) => mergeChunks(id, it.toSeq))

    single.union(salted)
  }

  /** Per-partition metrics (lineage rows): one narrow `mapPartitions` over
    * the projected `failure`, `bytes` and `size(spans)` columns folds each
    * partition locally and keys its row by the task's partition id. The
    * grouping key is the partition itself, so no exchange is needed; the
    * failure map holds one entry per distinct code, and an empty partition
    * emits no row.
    */
  def metrics(result: Dataset[ExtractedDoc], runId: String): Dataset[PartitionMetrics] = {
    val spark = result.sparkSession
    import spark.implicits._
    result
      .select(col("failure"), col("bytes"), size(col("spans")))
      .as[(String, Long, Int)]
      .mapPartitions { rows =>
        if (!rows.hasNext) Iterator.empty
        else {
          var docs, bytes, spans = 0L
          val failures = mutable.HashMap.empty[String, Long]
          rows.foreach { case (failure, b, n) =>
            docs += 1; bytes += b; spans += n
            if (failure.nonEmpty) failures(failure) = failures.getOrElse(failure, 0L) + 1
          }
          Iterator.single(PartitionMetrics(runId, TaskContext.getPartitionId(),
            docs, bytes, spans, failures.toMap))
        }
      }
  }
}
