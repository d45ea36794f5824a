package graft

import org.apache.spark.sql.SparkSession

/** Diagnostic: reproduce the Bench-context cluster degradation — run N
  * local[k] session cycles (mimicking Bench phases 0-1), then the same
  * local-cluster pair Bench.clusterRun executes, logging how many
  * executors actually register and the per-run throughput.
  *
  * Usage: runMain graft.DevCluster [nLocalCycles] [nDocs]
  */
object DevCluster {

  private def localSession(cores: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def clusterSession(workers: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local-cluster[$workers,2,2048]")
      // real executor heap, not the 1g default (see ClusterPairChild)
      .config("spark.executor.memory", "2048m")
      .config("spark.executor.extraClassPath", ClusterBench.executorClassPath)
      .config("spark.scheduler.minRegisteredResourcesRatio", "1.0")
      .config("spark.scheduler.maxRegisteredResourcesWaitingTime", "60s")
      .config("spark.sql.shuffle.partitions", (workers * 2).toString)
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val cycles = if (args.length > 0) args(0).toInt else 4
    val nDocs = if (args.length > 1) args(1).toLong else 200000L

    // mimic Bench phases: several local sessions doing real extraction work
    for (i <- 0 until cycles) {
      val cores = Seq(32, 2, 8, 32)(i % 4)
      val s = localSession(cores)
      Bench.extractionBench(s, math.max(nDocs / 8, 100), cores)
      s.stop()
      System.err.println(s"[devcluster] local cycle $i (cores=$cores) done")
    }

    for (workers <- Seq(1, 4, 1, 4)) {
      val s = clusterSession(workers)
      try {
        Bench.extractionBench(s, math.max(nDocs / 8, 100), workers * 2) // warm
        val execs0 = s.sparkContext.statusTracker.getExecutorInfos.length - 1
        val t0 = System.nanoTime()
        val sec = Bench.extractionBench(s, nDocs, workers * 2)._1
        val execs1 = s.sparkContext.statusTracker.getExecutorInfos.length - 1
        System.err.println(f"[devcluster] workers=$workers execs=$execs0/$execs1 " +
          f"thr=${nDocs / sec}%.0f docs/s wall=${(System.nanoTime() - t0) / 1e9}%.1f")
      } finally s.stop()
    }
  }
}
