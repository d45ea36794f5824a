package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark JVM entry point; `perfbench/run.py` builds and launches it.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1|train> --out <result.json>
  *
  * Runs in (and writes only below) its working directory. The result file
  * holds the final JSON line plus each metric's sample count. `--trace
  * train` runs [[Bench.train]].
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val bench = new Bench(Workload.byName(opt("workload")), opt("seed").toLong,
      opt("seconds").toInt, Paths.get("").toAbsolutePath)
    // Spark leaves non-daemon threads behind that would hold the JVM open,
    // so the JVM exits explicitly, also on failure.
    try {
      val result = opt("trace") match {
        case "0" => bench.untraced()
        case "1" => bench.traced()
        case "train" => bench.train()
        case t => throw new IllegalArgumentException(s"unknown --trace $t")
      }
      Files.write(Paths.get(opt("out")), result.json.getBytes(UTF_8))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }
}

/** One pass's output-gate verdict. */
final case class Checked(attempted: Long, failedDocs: Long, problems: Seq[String])

final case class Metric(name: String, value: Double, unit: String, samples: Int)

final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[Metric], problems: Seq[String]) {
  def json: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val ms = metrics.map(m => s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}")
    val ss = metrics.map(m => s"${str(m.name)}: ${m.samples}")
    s"""{"result": {"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}, """ +
      s""""samples": {${ss.mkString(", ")}}, "problems": [${problems.map(str).mkString(", ")}]}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** One benchmark run of one workload at one seed. */
final class Bench(w: Workload, seed: Long, seconds: Int, work: Path) {
  /** Set-up rounds; each generates and writes the inputs, and the
    * workload may commit into the store (`resume_mega` does in round 0).
    */
  val SetupRounds = 3
  /** Fewest timed passes, however long they take. */
  val MinPasses = 3
  /** Traced passes in a traced run, each paired with an untraced one. */
  val TracedPasses = 2

  private val jvmStartNs = System.nanoTime() -
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
  /** The meters at JVM start, as near as they can be read. */
  private val jvmStart = Meter.snap().copy(wallNs = jvmStartNs)

  private def note(phase: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - jvmStartNs) / 1e9}%.1f s since JVM start: $phase")

  private val input = work.resolve("input")
  private val store = work.resolve("store")
  private val passes = ArrayBuffer.empty[Run.Pass]
  private var passCount = 0

  /** One pass over the prepared input and store. Its committed run is then
    * moved out of the store into its own directory, for the output gate,
    * so every pass starts from the same store. `run` makes the pass from
    * (input, store, run id); the default calls the shipped entry point.
    */
  private def pass(label: String)(
      run: (Path, Path, String) => Run.Pass = Run.pass(label, _, _, _)): Run.Pass = {
    val runId = s"bench$passCount"
    val dir = work.resolve(s"pass$passCount")
    passCount += 1
    val p = run(input, store, runId).copy(store = dir)
    Run.detachRun(store, runId, dir)
    passes += p
    p
  }

  /** Returns the median round time in unstolen seconds; round 0 counts from
    * JVM start.
    */
  private def setup(): (Double, Int) = {
    val times = (0 until SetupRounds).map { i =>
      val s0 = if (i == 0) jvmStart else Meter.snap()
      val in = work.resolve(s"input$i")
      Run.withSession("perfbench-setup") { spark =>
        w.generate(spark, seed).write.parquet(in.toString)
        note(s"setup round $i input written")
        w.prepareStore(spark, in.toString, store.toString, seed, i)
      }
      val t = s0.until(Meter.snap()).unstolenS
      note(f"setup round $i done, $t%.3f unstolen s")
      if (i == SetupRounds - 1) Files.move(in, input) else Run.deleteTree(in)
      t
    }
    (Stats.median(times), times.length)
  }

  /** One untimed pass between set-up and the timed passes, which takes the
    * first (cold) run of the program out of the timings. It has
    * [[LiveMemoryProbe]] attached, so the memory the probe sees does not
    * depend on how many passes fit the timed seconds. Returns the probe's
    * samples.
    */
  private def warmUp(): Seq[Double] = {
    LiveMemoryProbe.samples.clear()
    Run.withListener(classOf[LiveMemoryProbe])(pass("memory")())
    LiveMemoryProbe.samples.asScala.toSeq
  }

  /** Timed passes until they add up to `seconds`. */
  private def timedPasses(): Seq[Run.Pass] = {
    val timed = ArrayBuffer.empty[Run.Pass]
    while (timed.map(_.cost.wallS).sum < seconds || timed.length < MinPasses)
      timed += pass(s"timed${timed.length}")()
    timed.toSeq
  }

  /** `docs_per_unstolen_s` at `local[4N]` over 4 × that at `local[N]`,
    * N = nproc/4; the timed passes stand for `local[4N]` when that is
    * `local[nproc]`.
    */
  private def scalingEff(timedRate: Double): Metric = {
    val cores = Runtime.getRuntime.availableProcessors
    val n = math.max(1, cores / 4)
    def rate(c: Int) = w.inputDocs / Run.withMaster(s"local[$c]")(pass(s"scale$c")()).cost.unstolenS
    val wide = if (4 * n == cores) timedRate else rate(4 * n)
    Metric("scaling_eff", wide / (4 * rate(n)), "ratio", 1)
  }

  /** The output gate over every kept pass; runs after all timing. */
  private def checkPasses(): Map[String, Checked] = Run.withSession("perfbench-gate") { spark =>
    val reference = Gate.referenceRows(spark, input.toString)
    val expected = reference.filter { case (id, r) => w.pending(id, seed) || r.failed }
    val priorManifests = new graft.pipeline.ParquetSnapshotStore(store.toString).committedRuns
      .map(r => store.resolve("manifest").resolve(s"run=$r").toString)
    passes.map { p =>
      val got = Gate.committedRows(spark, p.store.resolve("output").resolve(s"run=${p.runId}").toString)
      val problems = Gate.check(expected, got) ++
        Gate.checkManifests(spark, reference,
          priorManifests :+ p.store.resolve("manifest").resolve(s"run=${p.runId}").toString) ++
        (if (Run.summaryDocs(p.summary) == expected.size) Nil
         else Seq(s"run summary reports ${Run.summaryDocs(p.summary)} docs, expected ${expected.size}"))
      p.label -> Checked(got.length, got.count(_.failed), problems.map(m => s"${w.name} ${p.label}: $m"))
    }.toMap
  }

  def untraced(): Result = {
    val (setupS, rounds) = setup()
    val live = warmUp()
    note("set up and warmed up")
    val timed = timedPasses()
    val peakRss = Meter.peakRssMb()
    note("timed passes done")
    val n = timed.length
    def perPass(f: Run.Pass => Double) = Stats.median(timed.map(f))
    val rate = perPass(p => w.inputDocs / p.cost.unstolenS)
    val checked = checkPasses()
    note("output gate done")
    val metrics = Seq(
      Metric("docs_per_unstolen_s", rate, "docs/s", n),
      Metric("core_s_per_kdoc", perPass(p => p.cost.cpuS / (w.inputDocs / 1000.0)), "s", n),
      Metric("alloc_kb_per_doc", perPass(p => p.cost.allocB / 1024.0 / w.inputDocs), "KiB", n),
      Metric("peak_rss_mb", peakRss, "MiB", 1),
      Metric("peak_live_mb", live.max, "MiB", live.length),
      Metric("docs_failed_frac", perPass { p =>
        val c = checked(p.label); c.failedDocs.toDouble / c.attempted }, "ratio", n),
      Metric("setup_s", setupS, "s", rounds))
    finish(metrics, checked)
  }

  /** Untraced and traced passes alternate, so both see the same JIT state. */
  def traced(): Result = {
    setup()
    warmUp()
    val ledger = new Ledger(w, work, input, store)
    val (untracedRuns, tracedRuns) = (0 until TracedPasses).map { i =>
      (pass(s"timed$i")(), pass(s"traced$i")(ledger.tracedPass(s"traced$i", _, _, _)))
    }.unzip
    val untracedRate = Stats.median(untracedRuns.map(p => w.inputDocs / p.cost.unstolenS))
    val scaling = scalingEff(untracedRate)
    val last = tracedRuns.last
    val layers = ledger.layers(last.store.resolve("output").resolve(s"run=${last.runId}"))
    val checked = checkPasses()
    val tracedRate = Stats.median(tracedRuns.map(p => w.inputDocs / p.cost.unstolenS))
    val all = untracedRuns ++ tracedRuns
    val metrics = ledger.rollup(tracedRuns) ++ layers :+ scaling :+
      Metric("trace_overhead_frac", 1 - tracedRate / untracedRate, "ratio", tracedRuns.length) :+
      Metric("host.steal_frac", Stats.median(all.map(_.cost.stealFrac)), "ratio", all.length)
    ledger.write(work.getParent.resolveSibling(s"ledger-${w.name}-$seed.json"), metrics)
    finish(metrics, checked)
  }

  /** Loads the classes a run loads, for the class-data sharing archive
    * (see `run.py`): set-up, the warm-up pass and the output gate, with
    * nothing reported.
    */
  def train(): Result = {
    setup()
    warmUp()
    finish(Nil, checkPasses())
  }

  private def finish(metrics: Seq[Metric], checked: Map[String, Checked]): Result = {
    val problems = checked.values.flatMap(_.problems).toSeq.sorted
    Result(problems.isEmpty, checked.size.toLong, checked.values.count(_.problems.nonEmpty).toLong,
      metrics, problems)
  }
}
