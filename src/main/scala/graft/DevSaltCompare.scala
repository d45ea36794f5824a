package graft

import graft.pipeline.{Doc, ExtractPipeline}
import org.apache.spark.sql.SparkSession

/** Measured comparison of the two salting plans (PipelineConfig.singleScan
  * ADR): dual-branch (two scans, only the mega minority shuffles) vs
  * single-scan (one scan, 100% of bytes through the chunk-spread shuffle +
  * regroup). Median-of-N alternating runs over the bench corpus.
  *
  * Usage: runMain graft.DevSaltCompare [nDocs] [cores] [repeats] [mode]
  *   mode `cluster` runs under local-cluster[cores/2, 2, 2048] — real
  *   executor JVMs with wire shuffle, the topology the ADR's deciding
  *   variable actually lives in (in-JVM local[N] shuffle is nearly free,
  *   so the earlier local-only comparison favored single-scan).
  */
object DevSaltCompare {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 200000L
    val cores = if (args.length > 1) args(1).toInt else 32
    val repeats = if (args.length > 2) args(2).toInt else 3
    val clusterMode = args.length > 3 && args(3) == "cluster"
    val workers = math.max(cores / 2, 1)
    val memMb = sys.env.getOrElse("GRAFT_CLUSTER_MEM_MB", "4096").toInt
    val b = SparkSession.builder()
      .master(if (clusterMode) s"local-cluster[$workers,2,$memMb]" else s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    if (clusterMode) b
      // real executor heap, not the 1g default (see ClusterPairChild)
      .config("spark.executor.memory", s"${memMb}m")
      .config("spark.executor.extraClassPath", ClusterBench.executorClassPath)
      .config("spark.scheduler.minRegisteredResourcesRatio", "1.0")
      .config("spark.scheduler.maxRegisteredResourcesWaitingTime", "60s")
      // match ClusterPairChild's executor sizing (cgroup-model thread pools)
      .config("spark.executor.extraJavaOptions", "-XX:ActiveProcessorCount=2")
    val spark = Bench.withTmpfsLocalDir(b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val corpusPath = s"${sys.props("java.io.tmpdir")}/graft-bench-corpus-$nDocs"
    Bench.extractionBench(spark, nDocs, cores) // materialize + warm both JITs
    val corpus = spark.read.parquet(corpusPath)
      .as[Doc](org.apache.spark.sql.Encoders.product[Doc])
    def run(singleScan: Boolean): Double = {
      val cfg = ExtractPipeline.PipelineConfig(
        numPartitions = cores * 4, megaDocBytes = 16 * 1024, singleScan = singleScan)
      val t0 = System.nanoTime()
      Bench.evaluate(ExtractPipeline.extract(corpus, cfg).toDF())
      (System.nanoTime() - t0) / 1e9
    }
    run(singleScan = true) // warm the single-scan plan too
    // alternate within the same window so both plans share neighbor load
    val pairs = (1 to repeats).map(_ => (run(singleScan = false), run(singleScan = true)))
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    val dual = median(pairs.map(_._1))
    val single = median(pairs.map(_._2))
    val mode = if (clusterMode) s"cluster[$workers,2]" else s"local[$cores]"
    println(f"""{"bench":"salt_compare","mode":"$mode","docs":$nDocs,"cores":$cores,"dual_sec":$dual%.2f,"single_sec":$single%.2f,"dual_docs_per_sec":${nDocs / dual}%.0f,"single_docs_per_sec":${nDocs / single}%.0f,"single_over_dual":${single / dual}%.2f,"pairs":${pairs.map { case (d, s) => f"[$d%.2f,$s%.2f]" }.mkString("[", ",", "]")}}""")
    spark.stop()
  }
}
