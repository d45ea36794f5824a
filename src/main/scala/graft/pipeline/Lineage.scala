package graft.pipeline

import org.apache.spark.sql.{Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.CollectionAccumulator
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Lineage / manifest table with snapshot-commit semantics over parquet
  * (SURVEY §7: no Iceberg jar in this sandbox; the write API is a small
  * trait so a real Iceberg catalog slots in unchanged via
  * spark.sql.catalog.*).
  *
  * Layout under `root`:
  *   output/run=<runId>/        extracted docs parquet (written first)
  *   metrics/run=<runId>/       per-partition metrics parquet
  *   manifest/run=<runId>/      committed doc_ids parquet
  *   _commits/<runId>           zero-byte marker, atomically moved last
  *
  * A run is visible iff its commit marker exists — a crashed run leaves no
  * marker and is invisible to readers, so re-running resumes from the last
  * committed snapshot (reference analog: the NATS object-store cache,
  * cache_nats_obj.go:79-110, consulted via conditional GET).
  *
  * A commit evaluates the result once, in the output write, and caches
  * nothing: the [[MetricsFold]] the commit hands the extraction tallies
  * each row where the kernel or the salted merge makes it, so each
  * partition's metrics row reaches the driver with the output write. The
  * manifest is read back from the committed output. A committed run is
  * never rewritten. The commit returns the metrics rows it wrote, so the
  * run summary `RunPipeline` prints needs no further job;
  * [[SnapshotStore.runMetrics]] reads them back for later readers.
  */
trait SnapshotStore {
  /** Commits `result` as run `runId` and returns the metrics rows the
    * commit wrote, sorted by partition id. Folds `result` with the same
    * [[MetricsFold]] that [[commit]] hands an extraction.
    */
  def commitRun(runId: String, result: Dataset[ExtractedDoc]): Seq[PartitionMetrics] =
    commit(runId)(fold => result.map(fold)(Encoders.product[ExtractedDoc]))
  /** Commits the Dataset `build` makes as run `runId` and returns the
    * metrics rows the commit wrote, sorted by partition id. `build` gets the
    * commit's [[MetricsFold]] and must pass each row it yields through it
    * once, in the stage that feeds the write, as
    * [[ExtractPipeline.extract]]`(input, cfg, fold)` does.
    */
  def commit(runId: String)(build: MetricsFold => Dataset[ExtractedDoc]): Seq[PartitionMetrics]
  /** The doc ids of every committed run's manifest, for the resume
    * anti-join. An id may appear more than once.
    */
  def committedDocIds(spark: SparkSession): Dataset[String]
  def committedRuns: Seq[String]
  /** The per-partition metrics a committed run wrote. */
  def runMetrics(spark: SparkSession, runId: String): Dataset[PartitionMetrics]
}

final class ParquetSnapshotStore(root: String) extends SnapshotStore {

  private def p(parts: String*): Path = Paths.get(root, parts: _*)

  override def commit(runId: String)(build: MetricsFold => Dataset[ExtractedDoc]): Seq[PartitionMetrics] = {
    // committedRuns skips dot-names, and a separator would nest the marker
    require(runId.nonEmpty && !runId.startsWith(".") && !runId.exists(c => c == '/' || c == '\\'),
      s"run id '$runId' must be non-empty, not start with '.', and hold no path separator")
    require(!Files.exists(p("_commits", runId)), s"run $runId is already committed")
    val rows = new CollectionAccumulator[PartitionMetrics]
    val result = build(new MetricsFold(runId, rows))
    val spark = result.sparkSession
    spark.sparkContext.register(rows, s"metrics run=$runId")
    val output = p("output", s"run=$runId").toString
    result.write.mode(SaveMode.Overwrite).parquet(output)
    val metrics = rows.value.asScala.toSeq.sortBy(_.partition_id)
    spark.createDataset(metrics)(Encoders.product[PartitionMetrics])
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(p("metrics", s"run=$runId").toString)
    spark.read.schema("doc_id STRING, failure STRING").parquet(output)
      .where(col("failure") === "").select("doc_id")
      .write.mode(SaveMode.Overwrite).parquet(p("manifest", s"run=$runId").toString)
    // atomic visibility flip: marker write + move
    Files.createDirectories(p("_commits"))
    val tmp = p("_commits", s".$runId.tmp")
    Files.write(tmp, Array.emptyByteArray)
    Files.move(tmp, p("_commits", runId), StandardCopyOption.ATOMIC_MOVE)
    metrics
  }

  override def committedRuns: Seq[String] = {
    val dir = p("_commits")
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toVector.sorted
      finally s.close()
    }
  }

  /** Every committed manifest, read with its known schema (no footer job to
    * infer it) and without a `distinct`: the resume anti-join only asks
    * whether an id matches, so a duplicate id changes nothing, and leaving
    * out the distinct leaves the manifest side a scan plus broadcast, with
    * no exchange.
    */
  override def committedDocIds(spark: SparkSession): Dataset[String] = {
    import spark.implicits._
    val runs = committedRuns
    if (runs.isEmpty) spark.emptyDataset[String]
    else {
      val paths = runs.map(r => p("manifest", s"run=$r").toString)
      spark.read.schema("doc_id STRING").parquet(paths: _*).as[String]
    }
  }

  override def runMetrics(spark: SparkSession, runId: String): Dataset[PartitionMetrics] = {
    require(Files.exists(p("_commits", runId)), s"run $runId is not committed")
    // the known schema spares a footer-reading job for schema inference
    val enc = Encoders.product[PartitionMetrics]
    spark.read.schema(enc.schema).parquet(p("metrics", s"run=$runId").toString).as(enc)
  }
}

object Lineage {
  /** Full resumable run: read committed manifest → anti-join → extract →
    * commit snapshot. Returns the metrics rows the commit wrote (what
    * [[SnapshotStore.runMetrics]] reads back); the committed docs are in
    * the `output/run=<runId>` table.
    */
  def run(input: Dataset[Doc], store: SnapshotStore, runId: String,
      cfg: ExtractPipeline.PipelineConfig = ExtractPipeline.PipelineConfig()): Seq[PartitionMetrics] = {
    val todo = ExtractPipeline.resume(input, store.committedDocIds(input.sparkSession))
    store.commit(runId)(fold => ExtractPipeline.extract(todo, cfg, fold))
  }
}
