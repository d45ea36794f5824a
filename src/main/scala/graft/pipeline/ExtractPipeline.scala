package graft.pipeline

import graft.core.{Dehyphenator, Extractor}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}
import scala.collection.mutable

/** The extraction stage (SURVEY §3.1 Spark restatement):
  *
  *   input Dataset[Doc]
  *     → resume anti-join against the committed manifest   (S2/S6 analog)
  *     → small docs: kernel → ExtractedDoc                  (fused narrow stage, objects)
  *     → mega-docs, on rows up to the merge:
  *         → span_chunks: contiguous span chunks by bytes   (S9 analog; explode)
  *         → repartition(hash(doc_id, salt))                (spread shuffle)
  *         → extract_chunk: the kernel per chunk
  *         → repartition(hash(doc_id)), sorted by doc_id    (regroup shuffle)
  *         → objects: merge, replaying cross-chunk dehyphenator state
  *         → ExtractedDoc
  *
  * Typed rows and the kernel share one span type ([[Span]]): a small doc's
  * spans go into [[graft.core.Extractor.extract]] and its result spans
  * into the output row without a copy. The salted branch's kernels
  * ([[SaltedRows]]) read and write span structs, so a mega-doc's chunks are
  * decoded into objects once, after the regroup.
  *
  * [[extract]] is the stage as one Dataset, the union of both branches,
  * each over its own scan of the input. A commit ([[Lineage.run]]) runs
  * the branches as up to two jobs instead: [[routed]] scans the input once,
  * extracts the small docs and only collects the mega-docs' ids; when it
  * collected any, [[salted]] reads just those docs again and appends their
  * rows. A run with no mega-doc therefore scans its input once and never
  * plans the salted branch.
  *
  * Both jobs pass each output row through the commit's [[MetricsFold]]
  * where the row is made (the unsalted kernel and the salted merge), so the
  * output write serializes each row once and the run's per-partition
  * metrics rows and clean doc ids come back to the driver with the writes.
  *
  * The whole per-document kernel ([[graft.core.Extractor]]) runs once per
  * doc or chunk — spans never explode into per-span rows, so the only wide
  * operations are the anti-join and the salted branch's two shuffles
  * (spread and regroup), which touch only the mega-doc minority.
  */
object ExtractPipeline {

  final case class PipelineConfig(
      extractor: Extractor.Config = Extractor.Default,
      /** Read by nothing in the pipeline: the salted spread starts at the
        * session's `spark.sql.shuffle.partitions` and AQE coalesces it.
        * Kept because `graft.Bench` and perfbench construct it.
        */
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
      doc_id: String, salt: Int,
      spans: Seq[Span], metadata: Map[String, String], failure: String,
      bytes: Long, pendingOut: Int)

  def docBytes(spans: Seq[Span]): Long = spans.iterator.map(spanBytes).sum

  private def spanBytes(s: Span): Long = s.text.length.toLong + s.media_ref.length

  /** Split a mega-doc's spans into ≤ [[SaltBuckets]] contiguous chunks of
    * roughly equal byte cost ([[chunkEnds]]). The row path splits with the
    * same rule ([[SaltedRows.spanChunks]]).
    */
  def splitChunks(doc: Doc, cfg: PipelineConfig): Seq[Chunk] = {
    val sorted = Extractor.inOffsetOrder(doc.spans)
    val ends = chunkEnds(sorted.length, docBytes(sorted), cfg.megaDocBytes)(i => spanBytes(sorted(i)),
      i => sorted(i).kind == "media" && sorted(i).text.nonEmpty, i => sorted(i).kind == "text")
    ends.indices.map { k =>
      Chunk(doc.doc_id, k, ends.length, sorted.slice(if (k == 0) 0 else ends(k - 1), ends(k)))
    }
  }

  /** The chunk boundaries of a doc's `n` spans in offset order, `bytes` in
    * all: the end (exclusive) of each chunk, the last one `n`. Only a
    * multi-span doc over `megaDocBytes` splits (a single binary payload
    * parses atomically), into ≤ [[SaltBuckets]] chunks of roughly equal
    * byte cost. A chunk ends after the span that reaches the byte target,
    * but never while an OCR transcript is pending: a media span with a
    * recorded transcript (`setsOcr`) must stay in the same chunk as the
    * text span (`isText`) that decides the <200-char trigger
    * (misc.go:38-40). So each chunk is a valid sub-document and merge
    * reproduces the unsalted output exactly.
    */
  private[pipeline] def chunkEnds(n: Int, bytes: Long, megaDocBytes: Long)(
      cost: Int => Long, setsOcr: Int => Boolean, isText: Int => Boolean): Array[Int] = {
    if (bytes <= megaDocBytes || n < 2) return Array(n)
    val most = math.min(SaltBuckets, n)
    val target = math.max(1L, bytes / most)
    val ends = new Array[Int](most)
    var k = 0
    var curBytes = 0L
    var ocrPending = false
    var i = 0
    while (i < n) {
      curBytes += cost(i)
      if (setsOcr(i)) ocrPending = true
      else if (isText(i)) ocrPending = false
      if (curBytes >= target && k < most - 1 && !ocrPending) {
        ends(k) = i + 1; k += 1; curBytes = 0L
      }
      i += 1
    }
    if (k == 0 || ends(k - 1) < n) { ends(k) = n; k += 1 }
    java.util.Arrays.copyOf(ends, k)
  }

  /** Merge extracted chunks of one doc back into the exact unsalted result:
    * offsets renumbered, and the dehyphenator's cross-chunk pending-hyphen
    * rule replayed (a hyphen stripped at the end of chunk i is restored at
    * the start of the next content line iff it starts uppercase —
    * dehyphen.go:144-150 across the chunk boundary). The dehyphenator emits
    * nothing for blank and hyphen-only lines, so a chunk's first content
    * line heads its first text span with text; a chunk without one passes
    * the pending hyphen on.
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
      val idx = spans.indexWhere(s => s.kind == "text" && s.text.nonEmpty)
      if (idx >= 0) {
        val s = spans(idx)
        if (pend != 0 && Dehyphenator.isUpper(s.text.codePointAt(0)))
          spans = spans.updated(idx, s.copy(text = new String(Character.toChars(pend)) + s.text))
        pend = c.pendingOut
      }
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

  private[pipeline] def extractChunk(c: Chunk, cfg: PipelineConfig): ChunkResult = {
    val r = Extractor.extract(c.doc_id, c.spans, cfg.extractor)
    ChunkResult(c.doc_id, c.salt, r.spans, r.metadata, r.failure, docBytes(c.spans), r.pendingHyphenOut)
  }

  /** Byte cost as a Catalyst column expression — evaluated on columnar scan
    * batches, so the mega/small routing decision never deserializes a row.
    * A static kernel call from generated code, on the `spans` column as
    * read (no cast): the interpreted `aggregate(..., length)` HOF it
    * replaces dominated the whole extraction stage (it runs on every input
    * row: once in a commit's routed scan, in both branch scans of
    * [[extract]]). UTF-8 byte count vs [[docBytes]]'s UTF-16
    * char count only shifts WHICH side of the salting threshold a borderline
    * doc lands on — both paths produce identical merged output (salting
    * byte-identity property test), so the routing basis is pure policy.
    */
  private def docBytesCol = graft.functions.SpanExpressions.span_byte_cost(col("spans"))

  /** Whether a doc takes the salted branch, as a column over the input.
    * Single-span docs can't split regardless of size (binary payloads parse
    * atomically), so they stay on the fast path too.
    */
  private[pipeline] def isMega(cfg: PipelineConfig): Column =
    docBytesCol > cfg.megaDocBytes && size(col("spans")) > 1

  /** The whole kernel over one unsalted doc. The kernel sorts the spans and
    * numbers its output 0..n-1, and a failed doc comes back without spans or
    * metadata, so its result is the output row as is.
    */
  private def extractDoc(docId: String, spans: Seq[Span], cfg: PipelineConfig): ExtractedDoc = {
    val r = Extractor.extract(docId, spans, cfg.extractor)
    ExtractedDoc(docId, r.spans, r.metadata, r.failure, docBytes(spans))
  }

  /** The whole stage as one Dataset: the union of the unsalted branch, ONE
    * fused stage (deserialize → whole kernel → serialize) straight over the
    * scan placement, and [[salted]]. Each branch scans the input with its
    * side of [[isMega]].
    */
  def extract(input: Dataset[Doc], cfg: PipelineConfig = PipelineConfig()): Dataset[ExtractedDoc] = {
    val spark = input.sparkSession
    import spark.implicits._
    val single = input.where(!isMega(cfg)).mapPartitions(_.map(d => extractDoc(d.doc_id, d.spans, cfg)))
    single.union(salted(input.where(isMega(cfg)), cfg, identity))
  }

  /** The first job of a commit: ONE scan of `todo` that routes as it goes.
    * Each row carries its [[isMega]] flag, and a mega-doc's spans are
    * projected as null, so it is never deserialized. Each small doc is
    * extracted and passed through `fold`; each mega-doc only adds its id to
    * `megaIds`, and each task adds 1 to `tasks`. Both are exact once the
    * write whose result stage runs this kernel has finished.
    */
  private[pipeline] def routed(todo: Dataset[Doc], cfg: PipelineConfig, fold: ExtractedDoc => ExtractedDoc,
      megaIds: CollectionAccumulator[String], tasks: LongAccumulator): Dataset[ExtractedDoc] = {
    val spark = todo.sparkSession
    import spark.implicits._
    val mega = isMega(cfg)
    todo.select(col("doc_id"), when(!mega, col("spans")), mega)
      .as[(String, Seq[Span], Boolean)]
      .mapPartitions { rows =>
        tasks.add(1)
        rows.flatMap {
          case (id, _, true) => megaIds.add(id); None
          case (id, spans, false) => Some(fold(extractDoc(id, spans, cfg)))
        }
      }
  }

  /** The salted branch over `mega`, docs routed to it, on Catalyst rows
    * up to the merge. [[SaltedRows.spanChunks]] splits each doc's span
    * array as scanned into contiguous chunks; the chunks are spread by
    * (doc_id, salt) so one mega-doc fans across tasks, and
    * [[SaltedRows.extractChunk]] runs the kernel on each. The results are
    * regrouped by doc_id and sorted within each partition, so one doc's
    * chunks arrive together; only there are they decoded into
    * [[ChunkResult]]s, for the exact merge (cross-chunk dehyphenator
    * replay), whose rows pass through `fold`. Neither shuffle names a
    * partition count: each starts at the session's
    * `spark.sql.shuffle.partitions`, and AQE coalesces it to the bytes and
    * cores at hand (a `repartition(n, ...)` it would leave at n).
    */
  private[pipeline] def salted(mega: Dataset[Doc], cfg: PipelineConfig,
      fold: ExtractedDoc => ExtractedDoc): Dataset[ExtractedDoc] = {
    val spark = mega.sparkSession
    import spark.implicits._
    val x = cfg.extractor
    mega.select(col("doc_id"), explode(SaltedRows.SpanChunks(col("spans"), lit(cfg.megaDocBytes))).as("c"))
      .select(col("doc_id"), col("c.salt").as("salt"), col("c.spans").as("spans"))
      .repartition(col("doc_id"), col("salt"))
      .select(SaltedRows.ExtractChunk(col("doc_id"), col("salt"), col("spans"),
        lit(x.removeNewlines), lit(x.maxFileBytes), lit(x.ocrEnabled)).as("r"))
      .select("r.*")
      .repartition(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .as[ChunkResult]
      .mapPartitions { rows =>
        val chunks = rows.buffered
        Iterator.continually(chunks).takeWhile(_.hasNext).map { it =>
          val id = it.head.doc_id
          val doc = Vector.newBuilder[ChunkResult]
          while (it.hasNext && it.head.doc_id == id) doc += it.next()
          fold(mergeChunks(id, doc.result()))
        }
      }
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
        val tally = new PartitionFold(runId, TaskContext.getPartitionId())
        rows.foreach { case (failure, b, n) => tally.add(failure, b, n) }
        tally.row.iterator
      }
  }
}

/** The metrics row of one partition: docs, bytes, spans and one failure
  * count per distinct code. An empty partition has no row.
  */
private[pipeline] final class PartitionFold(runId: String, partitionId: Int) {
  private var docs, bytes, spans = 0L
  private val failures = mutable.HashMap.empty[String, Long]

  def add(failure: String, b: Long, n: Int): Unit = {
    docs += 1; bytes += b; spans += n
    if (failure.nonEmpty) failures(failure) = failures.getOrElse(failure, 0L) + 1
  }

  def row: Option[PartitionMetrics] =
    if (docs == 0) None
    else Some(PartitionMetrics(runId, partitionId, docs, bytes, spans, failures.toMap))
}

/** Tallies the rows passed through it into one [[PartitionMetrics]] row per
  * task, keyed by the task's partition id (moved up by [[after]]), and adds
  * that row, with the ids of the task's clean docs (`failure == ""`), to
  * `rows` when the task completes. A task that passes no row adds none.
  *
  * Each task deserializes its own copy of the fold, so `open` is task-local;
  * it is made on the task's first row. Exact when the fold runs in the
  * result stage of the action that evaluates it (as in a commit's output
  * write): Spark applies a result task's accumulator updates once per
  * partition, and a `CollectionAccumulator` drops the values of failed
  * attempts. (`Dataset.observe` would give one global aggregate; the
  * metrics table has a row per partition.)
  */
final class MetricsFold private[pipeline] (runId: String,
    rows: CollectionAccumulator[(PartitionMetrics, Array[String])],
    firstPartition: Int = 0) extends (ExtractedDoc => ExtractedDoc) with Serializable {
  @transient private var open: PartitionFold = _
  @transient private var clean: mutable.ArrayBuilder[String] = _

  def apply(d: ExtractedDoc): ExtractedDoc = {
    if (open == null) {
      val task = TaskContext.get()
      val (tally, ids) = (new PartitionFold(runId, firstPartition + task.partitionId()), Array.newBuilder[String])
      task.addTaskCompletionListener[Unit](_ => tally.row.foreach(r => rows.add((r, ids.result()))))
      open = tally; clean = ids
    }
    open.add(d.failure, d.bytes, d.spans.size)
    if (d.failure.isEmpty) clean += d.doc_id
    d
  }

  /** This fold with each task's partition id moved up by `n`: for a second
    * write into the same run, after a first write of `n` partitions, so that
    * the two writes' rows keep distinct partition ids, numbered as in the
    * union of the two.
    */
  def after(n: Int): MetricsFold = new MetricsFold(runId, rows, firstPartition + n)
}
