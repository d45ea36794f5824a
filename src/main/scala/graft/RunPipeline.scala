package graft

import graft.pipeline._
import org.apache.spark.sql.{Encoders, SparkSession}

/** spark-submit entry point for the production pipeline:
  *
  *   spark-submit --class graft.RunPipeline app.jar \
  *     <inputParquet|synth:N> <lineageRoot> <runId> [numPartitions]
  *
  * Reads the interleaved-span table (BASELINE.json input_hint schema),
  * resumes from the lineage root's last committed snapshot, extracts, and
  * commits output/metrics/manifest atomically. When the input is
  * "synth:<n>" a deterministic corpus of n docs is generated instead (no
  * external data). The one-line JSON run summary is read back from the
  * metrics table the commit wrote, so the extraction runs once per run.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: RunPipeline <inputParquet|synth:N> <lineageRoot> <runId> [numPartitions]")
    val Array(input, lineageRoot, runId) = args.take(3)
    val numPartitions = if (args.length > 3) args(3).toInt else 32

    val builder = SparkSession.builder()
      .appName(s"graft-extract-$runId")
      .config("spark.sql.shuffle.partitions", numPartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    // spark-submit supplies the master on a cluster; fall back for local runs
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[*]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs =
      if (input.startsWith("synth:"))
        SynthCorpus.generate(spark, input.drop(6).toLong, partitions = numPartitions)
      else spark.read.parquet(input).as[Doc](Encoders.product[Doc])

    val store = new ParquetSnapshotStore(lineageRoot)
    val cfg = ExtractPipeline.PipelineConfig(numPartitions = numPartitions)
    Lineage.run(docs, store, runId, cfg)

    val m = store.runMetrics(spark, runId).collect()
    val docsN = m.map(_.docs).sum
    val spans = m.map(_.spans).sum
    val fails = m.flatMap(_.failures.toSeq).groupBy(_._1)
      .map { case (k, v) => s"$k=${v.map(_._2).sum}" }.mkString(",")
    println(s"""{"run":"$runId","docs":$docsN,"spans":$spans,"failures":"$fails","committed_runs":${store.committedRuns.size}}""")
    spark.stop()
  }
}
