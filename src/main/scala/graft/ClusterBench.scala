package graft

import org.apache.spark.sql.SparkSession

/** Multi-executor scaling bench: `local-cluster[workers, coresPerWorker,
  * memMb]` spawns REAL separate executor JVMs through the bundled Spark
  * standalone machinery — the closest this sandbox gets to the north
  * rule's "spark-submit at N and 4N executors" (separate heaps, separate
  * GC, real task serialization over the wire; only the socket is shared).
  *
  * Usage: runMain graft.ClusterBench [nDocs] [coresPerWorker] [workersA] [workersB]
  *   — measures the same extraction job with workersA and workersB
  *   executors and prints throughput at both plus efficiency.
  */
object ClusterBench {

  /** Executor class path: `java.class.path`, plus the jar or classes
    * directory this class was loaded from when that is missing from it.
    * Under spark-submit the app jar comes in through a child class loader,
    * not the JVM class path, so `java.class.path` alone leaves executors
    * without the app's classes (same rule as `Bench.spawnClusterPair`).
    */
  def executorClassPath: String = {
    val base = System.getProperty("java.class.path")
    val self = try {
      new java.io.File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI).getAbsolutePath
    } catch { case _: Exception => "" }
    if (self.isEmpty || base.split(java.io.File.pathSeparator).contains(self)) base
    else base + java.io.File.pathSeparator + self
  }

  private def session(workers: Int, coresPer: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local-cluster[$workers,$coresPer,2048]")
      // real executor heap, not the 1g default (see ClusterPairChild)
      .config("spark.executor.memory", "2048m")
      .config("spark.executor.extraClassPath", executorClassPath)
      .config("spark.sql.shuffle.partitions", (workers * coresPer).toString)
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
    val nDocs = if (args.length > 0) args(0).toLong else 200000L
    val coresPer = if (args.length > 1) args(1).toInt else 4
    val wA = if (args.length > 2) args(2).toInt else 1
    val wB = if (args.length > 3) args(3).toInt else 4

    def runAt(workers: Int): Double = {
      val spark = session(workers, coresPer)
      try {
        val cores = workers * coresPer
        Bench.extractionBench(spark, math.max(nDocs / 4, 100), cores) // warm
        val sec = Bench.extractionBench(spark, nDocs, cores)._1
        nDocs / sec
      } finally spark.stop()
    }

    runAt(wA) // JVM/codegen warm on the driver side
    val pairs = (1 to 2).map(_ => (runAt(wA), runAt(wB)))
    val thrA = pairs.map(_._1).max
    val thrB = pairs.map(_._2).max
    val eff = thrB / ((wB.toDouble / wA) * thrA)
    val pe = pairs.map { case (a, b) => b / ((wB.toDouble / wA) * a) }
    println(s"""{"bench":"cluster","docs":$nDocs,"cores_per_worker":$coresPer,"workers_n":$wA,"workers_4n":$wB,"docs_per_sec_n":$thrA,"docs_per_sec_4n":$thrB,"efficiency":$eff,"pair_effs":${pe.mkString("[", ",", "]")}}""")
  }
}
