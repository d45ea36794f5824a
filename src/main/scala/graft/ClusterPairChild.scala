package graft

import org.apache.spark.sql.SparkSession

/** One N→4N cluster scaling pair, measured in a FRESH JVM forked by
  * [[Bench]] (`java -cp … graft.ClusterPairChild <nDocs> <repeats>`).
  *
  * Why a separate process: rounds 3-4 repeatedly saw the in-bench
  * local-cluster section measure a 4-worker level that could not even use
  * its own core budget (~5.9 of ~9.5 busy cores → eff 0.1-0.32), while the
  * IDENTICAL measurement in a standalone JVM never reproduced it. The
  * suspects are all driver-JVM-state: heap/GC pressure accumulated by
  * earlier bench sections, stale shuffle/broadcast state, executor-launch
  * throttling against a busy parent. A fresh child per pair removes every one of
  * them — and is the closer model of the north rule's "spark-submit at N
  * and 4N executors" anyway (fresh driver per submission).
  *
  * The child also measures what the parent cannot: executors are separate
  * processes, so own-footprint CPU must be summed over this JVM plus all
  * /proc descendants (reaped children fold into cutime/cstime). Reporting
  * own vs total machine busy per level lets the parent tell a STALL (own
  * busy ≪ budget — measurement failure, reject) from a STORM (ambient =
  * total − own too high — dirty window, reject) instead of conflating
  * them (round-4 driver artifact published 0.32 from exactly such a
  * stall).
  *
  * Prints exactly one line starting with `CLUSTERPAIR` followed by flat
  * JSON; everything else goes to stderr.
  */
object ClusterPairChild {

  /** utime+stime+cutime+cstime of `pid` in jiffies, or 0 if unreadable. */
  private def procJiffies(pid: Long): Long =
    try {
      val stat = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"/proc/$pid/stat")))
      // comm "(...)" may contain spaces/parens — split after the LAST ')'
      val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
      // post-comm indices: state=0 … utime=11 stime=12 cutime=13 cstime=14
      rest(11).toLong + rest(12).toLong + rest(13).toLong + rest(14).toLong
    } catch { case _: Exception => 0L }

  private def procPpid(pid: Long): Long =
    try {
      val stat = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"/proc/$pid/stat")))
      stat.substring(stat.lastIndexOf(')') + 2).split(" ")(1).toLong
    } catch { case _: Exception => -1L }

  /** CPU jiffies burned by this JVM and every live descendant process
    * (executor JVMs, their pipes). −1 when /proc is unavailable.
    */
  def ownJiffies(): Long =
    try {
      val self = ProcessHandle.current().pid()
      val all = new java.io.File("/proc").listFiles()
        .iterator.map(_.getName).filter(_.forall(Character.isDigit))
        .map(_.toLong).toVector
      val ppid = all.iterator.map(p => p -> procPpid(p)).toMap
      val mine = scala.collection.mutable.Set(self)
      var grew = true
      while (grew) {
        grew = false
        for (p <- all if !mine.contains(p) && mine.contains(ppid.getOrElse(p, -1L))) {
          mine += p; grew = true
        }
      }
      mine.iterator.map(procJiffies).sum
    } catch { case _: Exception => -1L }

  /** Whole-machine busy jiffies (all cpus, idle+iowait excluded); −1 when
    * /proc/stat is unreadable.
    */
  def totalBusyJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        f.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
      } finally src.close()
    } catch { case _: Exception => -1L }

  def clusterSession(workers: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // 2 GB/executor (the r3-r4 value) young-GCs every few seconds under the
    // kernel's ~13 KB/doc allocation; real clusters grant 2-4 GB/core
    val memMb = sys.env.getOrElse("GRAFT_CLUSTER_MEM_MB", "4096").toInt
    val b = SparkSession.builder()
      .master(s"local-cluster[$workers,2,$memMb]")
      // the local-cluster master's third field is only the WORKER's
      // offerable memory; the executor JVM heap comes from
      // spark.executor.memory (default 1g) — without this line the
      // "$memMb MB executors" were really 1 GiB heaps (r5 verdict #2)
      .config("spark.executor.memory", s"${memMb}m")
      // executors need the app classes; the parent spawned this child with
      // the full classpath, so pass it through instead of hardcoding a
      // checkout path (r5 verdict #7)
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      // wait for EVERY executor before the first job — registration is
      // asynchronous and a job otherwise lands on whichever subset exists
      .config("spark.scheduler.minRegisteredResourcesRatio", "1.0")
      .config("spark.scheduler.maxRegisteredResourcesWaitingTime", "60s")
      .config("spark.sql.shuffle.partitions", (workers * 2).toString)
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    // Size each executor JVM's internal thread pools (GC, JIT, common FJ
    // pool) to its 2-core grant instead of the 32 visible host cores — on
    // a real cluster the container's cgroup does this; local-cluster
    // executors otherwise each spawn ~32-core-sized GC/JIT crews, and 4 of
    // them oversubscribe the 4N level far more than the N level (opt-out
    // via GRAFT_EXEC_APC=0).
    if (!sys.env.get("GRAFT_EXEC_APC").contains("0"))
      b.config("spark.executor.extraJavaOptions", "-XX:ActiveProcessorCount=2")
    val s = Bench.withTmpfsLocalDir(b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 200000L
    val repeats = if (args.length > 1) args(1).toInt else 3

    /** (median throughput of `repeats` timed runs, registered executors,
      * own busy cores, total machine busy cores) at one worker count.
      * Median-of-N inside one session: single timed runs let one lucky or
      * unlucky window dominate the cross-pair conservative estimator.
      */
    def levelRun(workers: Int): (Double, Int, Double, Double) = {
      val s = clusterSession(workers)
      try {
        // warm scales with worker count so each executor JVM sees the same
        // per-process JIT warmup regardless of level (untimed)
        Bench.extractionBench(s, math.max(nDocs / 8, 100) * workers, workers * 2)
        val execs = s.sparkContext.statusTracker.getExecutorInfos.length - 1
        val o0 = ownJiffies(); val b0 = totalBusyJiffies()
        val t0 = System.nanoTime()
        val secs = (1 to repeats)
          .map(_ => Bench.extractionBench(s, nDocs, workers * 2)._1).sorted
        val wall = (System.nanoTime() - t0) / 1e9
        val o1 = ownJiffies(); val b1 = totalBusyJiffies()
        val own = if (o0 >= 0 && o1 >= 0) (o1 - o0) / 100.0 / wall else -1.0
        val tot = if (b0 >= 0 && b1 >= 0) (b1 - b0) / 100.0 / wall else -1.0
        System.err.println(f"[child] workers=$workers execs=$execs " +
          f"thr=${nDocs / secs(secs.length / 2)}%.0f own=$own%.1f total=$tot%.1f")
        (nDocs / secs(secs.length / 2), execs, own, tot)
      } finally s.stop()
    }

    val (thrN, execsN, ownN, totN) = levelRun(1)
    val (thr4, execs4, own4, tot4) = levelRun(4)
    println(f"""CLUSTERPAIR{"thr_n":$thrN%.1f,"thr_4n":$thr4%.1f,"execs_n":$execsN,"execs_4n":$execs4,"own_n":$ownN%.2f,"own_4n":$own4%.2f,"total_n":$totN%.2f,"total_4n":$tot4%.2f}""")
  }
}
