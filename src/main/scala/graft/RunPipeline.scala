package graft

import graft.pipeline._
import org.apache.spark.sql.{Encoders, SparkSession}

/** spark-submit entry point for the production pipeline:
  *
  *   spark-submit --class graft.RunPipeline app.jar \
  *     <inputParquet> <lineageRoot> <runId> [numPartitions]
  *
  * Reads the interleaved-span table (BASELINE.json input_hint schema),
  * resumes from the lineage root's last committed snapshot, extracts, and
  * commits atomically. A commit ([[Lineage.run]]) = output write(s), two
  * driver-written tables, marker: one job scans the input once, a salted
  * job follows only when some doc is mega, and the driver writes the
  * metrics and manifest tables from what those jobs folded, with no
  * further job. The session is a plain one: nothing on this path resolves
  * a SQL function by name, so it installs no extension. `numPartitions`
  * (default 32) sets `spark.sql.shuffle.partitions`: the starting width of
  * the salted spread shuffle, which AQE coalesces. The one-line JSON run
  * summary ([[summaryLine]]) is made from the metrics rows the commit
  * returns, so a run adds no job after its commit and the extraction runs
  * once.
  *
  * Right after the session starts, [[HadoopConf.slim]] clears the per-key
  * source arrays of its Hadoop configuration (same keys, same values), so
  * each write task decodes a ~68 KB conf instead of a ~113 KB one whose
  * gzip'd arrays cost ~5 MB of allocation per decode. It runs after the
  * FileSystem services load: in a cold JVM that load registers HDFS's
  * default resources, which reloads every conf and would bring the arrays
  * back.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: RunPipeline <inputParquet> <lineageRoot> <runId> [numPartitions]")
    val Array(input, lineageRoot, runId) = args.take(3)
    val numPartitions = if (args.length > 3) args(3).toInt else 32

    val builder = SparkSession.builder()
      .appName(s"graft-extract-$runId")
      .config("spark.sql.shuffle.partitions", numPartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    // spark-submit supplies the master on a cluster; fall back for local runs
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[*]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    HadoopConf.slim(spark)

    val docs = spark.read.parquet(input).as[Doc](Encoders.product[Doc])

    val store = new ParquetSnapshotStore(lineageRoot)
    val rows = Lineage.run(docs, store, runId)
    println(summaryLine(runId, rows, store.committedRuns.size))
    spark.stop()
  }

  /** The run summary: one JSON line with the run's docs, spans and
    * `code=count` failures (codes sorted), and how many runs the store has
    * committed.
    */
  def summaryLine(runId: String, rows: Seq[PartitionMetrics], committedRuns: Int): String = {
    val fails = rows.flatMap(_.failures).groupMapReduce(_._1)(_._2)(_ + _)
      .toSeq.sorted.map { case (k, n) => s"$k=$n" }.mkString(",")
    s"""{"run":"$runId","docs":${rows.map(_.docs).sum},"spans":${rows.map(_.spans).sum},""" +
      s""""failures":"$fails","committed_runs":$committedRuns}"""
  }
}
