package perfbench

import graft.RunPipeline
import graft.pipeline.Doc
import java.io.{ByteArrayOutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import scala.jdk.CollectionConverters._

/** JVM-wide meters, read before and after each measured step. */
object Meter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  final case class Snap(wallNs: Long, cpuNs: Long, allocB: Long, gcMs: Long, host: (Long, Long)) {
    def until(end: Snap): Cost = Cost(
      (end.wallNs - wallNs) / 1e9, (end.cpuNs - cpuNs) / 1e9,
      end.allocB - allocB, (end.gcMs - gcMs) / 1e3,
      (end.host._1 - host._1).toDouble / math.max(1L, end.host._2 - host._2))
  }

  /** `stealFrac` is the share of the machine's CPU time the hypervisor gave
    * to other guests while the step ran; `unstolenS` is the wall time less
    * that share, the time the step had the machine's CPUs.
    */
  final case class Cost(wallS: Double, cpuS: Double, allocB: Long, gcS: Double, stealFrac: Double) {
    def unstolenS: Double = wallS * (1 - stealFrac)
  }

  /** Allocation counts every thread the JVM ran, ended ones included. */
  def snap(): Snap = Snap(System.nanoTime(), os.getProcessCpuTime,
    threads.getTotalThreadAllocatedBytes,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum, hostCpu())

  /** (steal, total) CPU time of the machine in clock ticks, from the `cpu`
    * line of /proc/stat; (0, 0) where there is none.
    */
  def hostCpu(): (Long, Long) = {
    val stat = Paths.get("/proc/stat")
    if (!Files.isReadable(stat)) (0L, 0L)
    else {
      val f = Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    }
  }

  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()

  /** A `System.nanoTime` reading as epoch milliseconds, the clock Spark's
    * listener events use.
    */
  def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  def measure[T](body: => T): (T, Cost) = {
    val s = snap()
    val r = body
    (r, s.until(snap()))
  }

  /** Heap the JVM holds live, in MiB: heap in use after a full collection.
    * Non-heap memory (code cache, metaspace outside the class-data sharing
    * archive) is left out: its size follows the JIT's progress more than
    * the program. It is logged beside each reading.
    */
  def liveMb(): Double = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    val heap = m.getHeapMemoryUsage.getUsed / 1048576.0
    System.err.println(f"perfbench: live heap $heap%.1f MiB, non-heap ${m.getNonHeapMemoryUsage.getUsed / 1048576.0}%.1f MiB")
    heap
  }

  /** Peak resident set of this process, from /proc. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
}

/** Samples [[Meter.liveMb]] at the end of each SQL execution of a pass
  * (while the commit's cached result is held, during the commit's writes).
  */
final class LiveMemoryProbe extends SparkListener {
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionEnd => LiveMemoryProbe.samples.add(Meter.liveMb())
    case _ =>
  }
}

object LiveMemoryProbe {
  val samples = new ConcurrentLinkedQueue[Double]()
}

/** Sessions and passes, shaped after `graft.RunPipeline`. */
object Run {

  /** A session with the configuration `RunPipeline` sets, so the
    * benchmark's own jobs (generation, reference, checks, layer prefixes)
    * plan the same way the program does.
    */
  def session(app: String): SparkSession = {
    val b = SparkSession.builder()
      .appName(app)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    val s = (if (sys.props.contains("spark.master")) b else b.master("local[*]")).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def withSession[T](app: String)(body: SparkSession => T): T = {
    val s = session(app)
    try body(s) finally s.stop()
  }

  def readDocs(spark: SparkSession, input: String): Dataset[Doc] =
    spark.read.parquet(input).as[Doc](Encoders.product[Doc])

  /** A timed pass; `startMs` and `endMs` are epoch milliseconds. */
  final case class Pass(label: String, runId: String, store: Path, cost: Meter.Cost, summary: String,
      startMs: Double, endMs: Double)

  /** One call of the shipped entry point, timed whole: session start,
    * parquet read, `Lineage.run`, the run summary and session stop.
    */
  def pass(label: String, input: Path, store: Path, runId: String): Pass = {
    val out = new ByteArrayOutputStream()
    val start = Meter.snap()
    Console.withOut(new PrintStream(out, true, "UTF-8")) {
      RunPipeline.main(Array(input.toString, store.toString, runId))
    }
    val end = Meter.snap()
    val cost = start.until(end)
    val summary = out.toString("UTF-8").linesIterator.filter(_.startsWith("{\"run\"")).toSeq.lastOption
      .getOrElse(throw new IllegalStateException(s"pass $label printed no run summary"))
    System.err.println(f"perfbench: pass $label%s ${cost.wallS}%.3f s wall, ${cost.cpuS}%.3f s cpu, ${cost.allocB / 1e6}%.0f MB alloc, ${cost.gcS}%.3f s gc, " +
      f"${ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3}%.1f s JIT compile since start, " +
      f"${cost.stealFrac * 100}%.1f%% host steal")
    Pass(label, runId, store, cost, summary, Meter.epochMs(start.wallNs), Meter.epochMs(end.wallNs))
  }

  /** The `"docs":N` field of a run summary line. */
  def summaryDocs(summary: String): Long =
    "\"docs\":(\\d+)".r.findFirstMatchIn(summary).map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(s"no docs count in $summary"))

  /** Runs `body` with `listener` attached to the sessions it builds, through
    * the `spark.extraListeners` property.
    */
  def withListener[T](listener: Class[_ <: SparkListener])(body: => T): T = {
    sys.props("spark.extraListeners") = listener.getName
    try body finally sys.props.remove("spark.extraListeners")
  }

  /** Runs `body` with the `spark.master` property `RunPipeline` honours. */
  def withMaster[T](master: String)(body: => T): T = {
    sys.props("spark.master") = master
    try body finally sys.props.remove("spark.master")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector.reverse.foreach(Files.delete) finally s.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }

  /** Moves a committed run out of `store` into `dest`, leaving the store as
    * it was before the run.
    */
  def detachRun(store: Path, runId: String, dest: Path): Unit = {
    for (t <- Seq("output", "metrics", "manifest")) {
      val src = store.resolve(t).resolve(s"run=$runId")
      Files.createDirectories(dest.resolve(t))
      Files.move(src, dest.resolve(t).resolve(s"run=$runId"))
    }
    Files.createDirectories(dest.resolve("_commits"))
    Files.move(store.resolve("_commits").resolve(runId), dest.resolve("_commits").resolve(runId))
  }
}
