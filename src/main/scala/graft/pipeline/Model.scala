package graft.pipeline

/** The interleaved text+media document model (BASELINE.json input_hint):
  * input table (doc_id: string,
  *              spans: array<struct<kind, text, media_ref, offset:int>>).
  * Field names match the parquet schema exactly. The extraction kernel
  * ([[graft.core.Extractor]]) reads and writes this type too.
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int) {
  // Read only by perfbench's Gate; a method, so not an encoder field.
  def mediaRef: String = media_ref
}

final case class Doc(doc_id: String, spans: Seq[Span])

/** Extraction output row: ordered span array + metadata + failure code
  * ("" = ok); `bytes` is the input payload cost (drives salting + metrics).
  */
final case class ExtractedDoc(
    doc_id: String,
    spans: Seq[Span],
    metadata: Map[String, String],
    failure: String,
    bytes: Long)

/** One row per (task partition) in the lineage/metrics table (SURVEY §7,
  * reference analog: the async cache write-behind + counters,
  * extract.go:61-86).
  */
final case class PartitionMetrics(
    run_id: String,
    partition_id: Int,
    docs: Long,
    bytes: Long,
    spans: Long,
    failures: Map[String, Long])
