package graft.pipeline

import org.apache.commons.io.FileUtils
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.CollectionAccumulator
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Lineage / manifest table with snapshot-commit semantics over parquet
  * (SURVEY §7: no Iceberg jar in this sandbox).
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
  * A commit = output write(s), two driver-written tables, marker. Its one
  * body writes the output in one or more appends (a [[Lineage.run]] makes
  * one, or two when some doc is mega) and caches nothing: the
  * [[MetricsFold]] the commit hands the body tallies each row where the
  * kernel or the salted merge makes it, so each partition's metrics row
  * and clean doc ids reach the driver with the output writes. The driver
  * then writes the metrics and the manifest itself, one parquet file each
  * with the schema Spark would give them, with no Spark job; last comes
  * the marker. The driver thus holds each run's clean ids once (~5,700
  * strings in a 6,000-doc run), as it holds its metrics rows. A committed
  * run is never rewritten. The commit returns the metrics rows it wrote,
  * so the run summary `RunPipeline` prints needs no further job;
  * [[ParquetSnapshotStore.runMetrics]] reads them back for later readers.
  */
final class ParquetSnapshotStore(root: String) {

  private def p(parts: String*): Path = Paths.get(root, parts: _*)

  /** Commits `result` as run `runId` and returns the metrics rows the
    * commit wrote, sorted by partition id. Folds `result` with the same
    * [[MetricsFold]] that [[commit]] hands a body.
    */
  def commitRun(runId: String, result: Dataset[ExtractedDoc]): Seq[PartitionMetrics] =
    commit(result.sparkSession, runId)((fold, append) => append(result.map(fold)(Encoders.product[ExtractedDoc])))

  /** Commits what `body` writes as run `runId` and returns the metrics rows
    * the commit wrote, sorted by partition id. `body` gets the commit's
    * [[MetricsFold]] and `append`, which writes a Dataset into
    * `output/run=<runId>`; its first call replaces what a crashed commit
    * left there. `body` must append at least once, and must pass each row
    * it appends through the fold once, in the stage that feeds the write;
    * rows of a later append go through `fold.after(n)`, `n` the partitions
    * written before. If `body` throws, the run stays uncommitted.
    */
  def commit(spark: SparkSession, runId: String)(
      body: (MetricsFold, Dataset[ExtractedDoc] => Unit) => Unit): Seq[PartitionMetrics] = {
    // committedRuns skips dot-names, and a separator would nest the marker
    require(runId.nonEmpty && !runId.startsWith(".") && !runId.exists(c => c == '/' || c == '\\'),
      s"run id '$runId' must be non-empty, not start with '.', and hold no path separator")
    require(!Files.exists(p("_commits", runId)), s"run $runId is already committed")
    val rows = new CollectionAccumulator[(PartitionMetrics, Array[String])]
    spark.sparkContext.register(rows, s"metrics run=$runId")
    val output = p("output", s"run=$runId").toString
    var mode = SaveMode.Overwrite
    body(new MetricsFold(runId, rows), ds => { ds.write.mode(mode).parquet(output); mode = SaveMode.Append })
    val tasks = rows.value.asScala.toSeq.sortBy(_._1.partition_id)
    val metrics = tasks.map(_._1)
    writeTable(p("metrics", s"run=$runId"), MetricsSchema, metrics.iterator) { (g, m) =>
      g.append("run_id", m.run_id).append("partition_id", m.partition_id)
        .append("docs", m.docs).append("bytes", m.bytes).append("spans", m.spans)
      val failures = g.addGroup("failures")
      m.failures.foreach { case (code, n) => failures.addGroup("key_value").append("key", code).append("value", n) }
    }
    writeTable(p("manifest", s"run=$runId"), "message spark_schema { optional binary doc_id (STRING); }",
      tasks.iterator.flatMap(_._2))((g, id) => g.add("doc_id", id))
    // atomic visibility flip: marker write + move
    Files.createDirectories(p("_commits"))
    val tmp = p("_commits", s".$runId.tmp")
    Files.write(tmp, Array.emptyByteArray)
    Files.move(tmp, p("_commits", runId), StandardCopyOption.ATOMIC_MOVE)
    metrics
  }

  /** `PartitionMetrics` as Spark writes it: an empty map is an empty group. */
  private val MetricsSchema = """message spark_schema {
    optional binary run_id (STRING); required int32 partition_id;
    required int64 docs; required int64 bytes; required int64 spans;
    optional group failures (MAP) {
      repeated group key_value { required binary key (STRING); required int64 value; }
    }
  }"""

  /** Replaces whatever `dir` holds (a crashed commit's files) with one
    * parquet file of `rows`, written on the driver: no Spark job, and no
    * Hadoop configuration to carry the schema.
    */
  private def writeTable[A](dir: Path, schema: String, rows: Iterator[A])(fill: (Group, A) => Unit): Unit = {
    FileUtils.deleteDirectory(dir.toFile)
    Files.createDirectories(dir)
    val tpe = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(dir.resolve("part-00000.parquet")))
      .withConf(new PlainParquetConfiguration).withType(tpe).build()
    try rows.foreach { r => val g = new SimpleGroup(tpe); fill(g, r); w.write(g) }
    finally w.close()
  }

  def committedRuns: Seq[String] = {
    val dir = p("_commits")
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toVector.sorted
      finally s.close()
    }
  }

  /** The doc ids of every committed run's manifest, for the resume
    * anti-join, read with their known schema (no footer job to infer it)
    * and without a `distinct`: an id may appear more than once. The
    * anti-join only asks whether an id matches, so a duplicate changes
    * nothing, and leaving out the distinct leaves the manifest side a scan
    * plus broadcast, with no exchange.
    */
  def committedDocIds(spark: SparkSession): Dataset[String] = {
    import spark.implicits._
    val runs = committedRuns
    if (runs.isEmpty) spark.emptyDataset[String]
    else {
      val paths = runs.map(r => p("manifest", s"run=$r").toString)
      spark.read.schema("doc_id STRING").parquet(paths: _*).as[String]
    }
  }

  /** The per-partition metrics a committed run wrote. */
  def runMetrics(spark: SparkSession, runId: String): Dataset[PartitionMetrics] = {
    require(Files.exists(p("_commits", runId)), s"run $runId is not committed")
    // the known schema spares a footer-reading job for schema inference
    val enc = Encoders.product[PartitionMetrics]
    spark.read.schema(enc.schema).parquet(p("metrics", s"run=$runId").toString).as(enc)
  }
}

object Lineage {
  /** Full resumable run: read the committed manifests → anti-join →
    * extract → commit snapshot, in one commit body of one or two jobs:
    *   1. [[ExtractPipeline.routed]] writes `todo` through one scan: it
    *      extracts and folds each small doc, and collects each mega-doc's id;
    *   2. only when ids came back, [[ExtractPipeline.salted]] appends the
    *      salted extraction of those docs, read again from `input`.
    * Returns the metrics rows the commit wrote (what
    * [[ParquetSnapshotStore.runMetrics]] reads back); the committed docs are
    * in the `output/run=<runId>` table.
    */
  def run(input: Dataset[Doc], store: ParquetSnapshotStore, runId: String,
      cfg: ExtractPipeline.PipelineConfig = ExtractPipeline.PipelineConfig()): Seq[PartitionMetrics] = {
    val spark = input.sparkSession
    val todo = ExtractPipeline.resume(input, store.committedDocIds(spark))
    store.commit(spark, runId) { (fold, append) =>
      val megaIds = spark.sparkContext.collectionAccumulator[String](s"mega docs run=$runId")
      val tasks = spark.sparkContext.longAccumulator(s"routed tasks run=$runId")
      append(ExtractPipeline.routed(todo, cfg, fold, megaIds, tasks))
      val ids = megaIds.value.asScala.toSeq
      // The resume anti-join is by doc_id, so these rows are exactly
      // todo.where(isMega), read with no manifest scan or broadcast.
      if (ids.nonEmpty)
        append(ExtractPipeline.salted(input.where(ExtractPipeline.isMega(cfg) && col("doc_id").isin(ids: _*)),
          cfg, fold.after(tasks.value.toInt)))
    }
  }
}
