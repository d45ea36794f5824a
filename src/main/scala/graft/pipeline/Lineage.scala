package graft.pipeline

import org.apache.spark.sql.{Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
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
  * A commit extracts once: the result is cached for the three writes and
  * unpersisted after them. Reports about a committed run (the run summary
  * `RunPipeline` prints) read its metrics table through [[SnapshotStore.runMetrics]]
  * instead of evaluating the result again.
  */
trait SnapshotStore {
  def commitRun(runId: String, result: Dataset[ExtractedDoc]): Unit
  def committedDocIds(spark: SparkSession): Dataset[String]
  def committedRuns: Seq[String]
  /** The per-partition metrics a committed run wrote. */
  def runMetrics(spark: SparkSession, runId: String): Dataset[PartitionMetrics]
}

final class ParquetSnapshotStore(root: String) extends SnapshotStore {

  private def p(parts: String*): Path = Paths.get(root, parts: _*)

  override def commitRun(runId: String, result: Dataset[ExtractedDoc]): Unit = {
    val cached = result.persist()
    try {
      cached.write.mode(SaveMode.Overwrite).parquet(p("output", s"run=$runId").toString)
      ExtractPipeline.metrics(cached, runId)
        .write.mode(SaveMode.Overwrite).parquet(p("metrics", s"run=$runId").toString)
      cached.where(col("failure") === "").select("doc_id")
        .write.mode(SaveMode.Overwrite).parquet(p("manifest", s"run=$runId").toString)
      // atomic visibility flip: marker write + move
      Files.createDirectories(p("_commits"))
      val tmp = p("_commits", s".$runId.tmp")
      Files.write(tmp, Array.emptyByteArray)
      Files.move(tmp, p("_commits", runId), StandardCopyOption.ATOMIC_MOVE)
    } finally cached.unpersist()
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

  override def committedDocIds(spark: SparkSession): Dataset[String] = {
    import spark.implicits._
    val runs = committedRuns
    if (runs.isEmpty) spark.emptyDataset[String]
    else {
      val paths = runs.map(r => p("manifest", s"run=$r").toString)
      spark.read.parquet(paths: _*).select("doc_id").as[String].distinct()
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
    * commit snapshot. Returns the extraction result, which the commit has
    * already unpersisted: evaluating it runs the kernel again. Read what
    * the run committed through the store instead (`runMetrics`, or the
    * `output/run=<runId>` table).
    */
  def run(input: Dataset[Doc], store: SnapshotStore, runId: String,
      cfg: ExtractPipeline.PipelineConfig = ExtractPipeline.PipelineConfig()): Dataset[ExtractedDoc] = {
    val spark = input.sparkSession
    val todo = ExtractPipeline.resume(input, store.committedDocIds(spark))
    val result = ExtractPipeline.extract(todo, cfg)
    store.commitRun(runId, result)
    result
  }
}
