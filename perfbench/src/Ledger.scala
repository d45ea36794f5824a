package perfbench

import graft.core.Extractor
import graft.functions.SpanExpressions.span_byte_cost
import graft.pipeline._
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spark's view of a traced pass. Attached to the session `RunPipeline`
  * builds through `spark.extraListeners`; the records land in
  * [[StageLedger]], since Spark constructs the listener itself.
  */
final class StageListener extends SparkListener {
  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    StageLedger.sessionUpMs = System.currentTimeMillis()

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    StageLedger.stopMs = e.time

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      StageLedger.execs.add(StageLedger.Exec(s.executionId, StageLedger.writeTarget(s.physicalPlanDescription), s.time))
      StageLedger.addPlan(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => StageLedger.addPlan(u.sparkPlanInfo)
    case x: SparkListenerSQLExecutionEnd => StageLedger.execEnds.put(x.executionId, x.time)
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    j.stageIds.foreach(s => StageLedger.jobs.add(StageLedger.JobStage(s, exec)))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    StageLedger.tasks.add(StageLedger.Task(t.stageId, t.stageAttemptId,
      t.reason == Success && t.taskInfo.attemptNumber == 0,
      if (m == null) 0L else m.executorRunTime, if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.inputMetrics.recordsRead,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    StageLedger.stages.add(StageLedger.Stage(i.stageId, i.attemptNumber(),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.rddInfos.flatMap(_.scope.map(_.name)).distinct.sorted.mkString("|"),
      i.accumulables.keySet.toSet))
  }
}

object StageLedger {
  /** A SQL execution: the path it writes to (None if it writes nothing), its start. */
  final case class Exec(id: Long, target: Option[String], startMs: Long)
  final case class JobStage(stageId: Int, execId: Long)
  final case class Task(stageId: Int, attempt: Int, firstTry: Boolean, runMs: Long, gcMs: Long,
      records: Long, shuffleReadB: Long, shuffleWriteB: Long)
  /** A completed stage, with the operators its RDDs were built by and the
    * accumulators (task and SQL metrics) its tasks updated.
    */
  final case class Stage(stageId: Int, attempt: Int, startMs: Long, endMs: Long, ops: String, accums: Set[Long])

  val execs = new ConcurrentLinkedQueue[Exec]()
  val execEnds = new ConcurrentHashMap[Long, Long]()
  val jobs = new ConcurrentLinkedQueue[JobStage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  /** Accumulator ids of the SQL metrics of every plan node seen, and of the
    * nodes that read nothing but committed manifests.
    */
  val planAccums = ConcurrentHashMap.newKeySet[Long]()
  val manifestAccums = ConcurrentHashMap.newKeySet[Long]()
  /** When the session's application started (as the listener saw it) and stopped. */
  @volatile var sessionUpMs = 0L
  @volatile var stopMs = 0L

  def clear(): Unit = {
    execs.clear(); execEnds.clear(); jobs.clear(); tasks.clear(); stages.clear()
    planAccums.clear(); manifestAccums.clear(); sessionUpMs = 0L; stopMs = 0L
  }

  def addPlan(p: SparkPlanInfo): Unit = sources(p)

  /** What a plan node's subtree reads: `manifest` for a file scan of a
    * committed run's manifest, `data` for any other leaf. Records the
    * node's metrics on the way.
    */
  private def sources(p: SparkPlanInfo): Set[String] = {
    val below =
      if (p.children.nonEmpty) p.children.flatMap(sources).toSet
      else if (p.nodeName.startsWith("Scan") && p.metadata.get("Location").exists(_.contains("/manifest/run="))) Set("manifest")
      else Set("data")
    p.metrics.foreach { m =>
      planAccums.add(m.accumulatorId)
      if (below == Set("manifest")) manifestAccums.add(m.accumulatorId)
    }
    below
  }

  /** The stage kinds the ledger reports, in pipeline order. The unsalted
    * docs' kernel and the merge of regrouped salted chunks run fused in one
    * stage (`kernel`); the salted chunks' own kernel runs in the stage that
    * feeds the regroup shuffle (`salted_kernel`). `other` holds the stages
    * of a SQL execution that match no kind; it should stay near zero.
    */
  val Kinds = Seq("manifest_read", "salt_spread", "salted_kernel", "kernel",
    "write_output", "write_metrics", "write_manifest", "summary", "other")

  /** A stage's kind, from the SQL execution that ran it (which write, or
    * the summary) and the plan nodes and operators it ran. Stages outside
    * any SQL execution (parquet footer reads) are `outside_sql`.
    */
  def kind(exec: Option[Exec], summary: Set[Long], s: Stage): String = exec match {
    case None => "outside_sql"
    case Some(e) if summary(e.id) => "summary"
    case Some(Exec(_, Some(t), _)) if writeKind(t) != "write_output" => writeKind(t)
    case _ =>
      val sql = s.accums.filter(planAccums.contains)
      if (sql.nonEmpty && sql.forall(manifestAccums.contains)) "manifest_read"
      else if (s.ops.contains("WriteFiles")) "write_output"
      else if (s.ops.contains("Union")) "kernel"
      else if (s.ops.contains("AppendColumnsWithObject")) "salted_kernel"
      else if (s.ops.contains("DeserializeToObject")) "salt_spread"
      else "other"
  }

  /** The path a write plan writes to, or None for a plan that writes
    * nothing. The formatted plan lists the write command's details last,
    * with the path as the first of its arguments.
    */
  def writeTarget(plan: String): Option[String] = {
    val at = plan.lastIndexOf("InsertIntoHadoopFsRelationCommand")
    val args = if (at < 0) -1 else plan.indexOf("Arguments: ", at)
    if (args < 0) None else Some(plan.substring(args + "Arguments: ".length).takeWhile(_ != ','))
  }

  def execEnd(e: Exec): Long = Option(execEnds.get(e.id))
    .getOrElse(throw new IllegalStateException(s"SQL execution ${e.id} never ended"))

  /** Which of a commit's writes (output, metrics, manifest) writes to `target`. */
  def writeKind(target: String): String =
    if (target.contains("/metrics/run=")) "write_metrics"
    else if (target.contains("/manifest/run=")) "write_manifest"
    else "write_output"

  final case class Rollup(kind: String, runS: Double, gcS: Double, shuffleMb: Double,
      taskSkew: Double, idleCoreS: Double)

  /** Input records read and task attempts beyond the first, over all stages. */
  def totals(): (Long, Long) =
    (tasks.asScala.map(_.records).sum, tasks.asScala.count(!_.firstTry).toLong)

  private def kinds(summary: Set[Long]): Seq[(String, Stage)] = {
    val byId = execs.asScala.map(e => e.id -> e).toMap
    val execOf = jobs.asScala.map(j => j.stageId -> j.execId).toMap
    stages.asScala.toSeq.sortBy(_.stageId).map(s => kind(execOf.get(s.stageId).flatMap(byId.get), summary, s) -> s)
  }

  /** Per-kind rollup of everything recorded since the last [[clear]];
    * `summary` holds the ids of the summary's SQL executions.
    */
  def rollup(cores: Int, summary: Set[Long]): Seq[Rollup] = {
    val byStage = tasks.asScala.toSeq.groupBy(t => (t.stageId, t.attempt))
    val ofKind = kinds(summary).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    Kinds.map { k =>
      val ss = ofKind.getOrElse(k, Nil)
      val ts = ss.flatMap(s => byStage.getOrElse((s.stageId, s.attempt), Nil))
      val runMs = ts.map(_.runMs).sum
      val wallMs = ss.map(s => s.endMs - s.startMs).sum
      val skews = ss.map { s =>
        val d = byStage.getOrElse((s.stageId, s.attempt), Nil).map(_.runMs.toDouble)
        if (d.isEmpty || Stats.median(d) <= 0) 1.0 else d.max / Stats.median(d)
      }
      Rollup(k, wallMs / 1e3, ts.map(_.gcMs).sum / 1e3,
        ts.map(t => t.shuffleReadB + t.shuffleWriteB).sum / 1e6,
        if (skews.isEmpty) 0.0 else skews.max,
        (cores * wallMs - runMs) / 1e3)
    }
  }

  def dump(summary: Set[Long]): String = {
    val execOf = jobs.asScala.map(j => j.stageId -> j.execId).toMap
    execs.asScala.toSeq.sortBy(_.id).map(e => s"exec ${e.id} writes ${e.target.getOrElse("nothing")}").mkString("\n") + "\n" +
    kinds(summary).map { case (k, s) =>
      s"stage ${s.stageId} exec ${execOf.getOrElse(s.stageId, -1L)} ${s.endMs - s.startMs} ms kind $k ops ${s.ops}"
    }.mkString("\n")
  }
}

/** The per-layer ledger of a traced run: spans of the traced passes, taken
  * from the stage listener's events, spans the benchmark records around its
  * calls into each layer's public functions, and Spark's stage rollups.
  */
final class Ledger(w: Workload, work: Path, input: Path, store: Path) {
  /** A span in epoch milliseconds; `parent` names the enclosing span of the same pass. */
  final case class SpanRec(name: String, startMs: Double, endMs: Double, parent: String, pass: String) {
    def seconds: Double = (endMs - startMs) / 1e3
  }

  private val spans = ArrayBuffer.empty[SpanRec]
  private var open = List.empty[String]
  private val cores = Runtime.getRuntime.availableProcessors
  private val perStage = ArrayBuffer.empty[(Seq[StageLedger.Rollup], (Long, Long))]
  private val cfg = ExtractPipeline.PipelineConfig(numPartitions = 32)

  def span[T](pass: String, name: String)(body: => T): T = {
    val parent = open.headOption.getOrElse("")
    open = name :: open
    val s = System.nanoTime()
    try body
    finally {
      val e = System.nanoTime()
      open = open.tail
      spans += SpanRec(name, Meter.epochMs(s), Meter.epochMs(e), parent, pass)
    }
  }

  private def seconds(pass: String, name: String): Double =
    spans.filter(s => s.pass == pass && s.name == name).map(_.seconds).sum

  /** Span duration minus the time its child spans cover. */
  private def selfSeconds(s: SpanRec): Double =
    s.seconds - spans.filter(c => c.pass == s.pass && c.parent == s.name).map(_.seconds).sum

  /** A call of the shipped entry point with the stage listener attached.
    * Its phases come from the listener's events: `run.session` ends when
    * the application has started, `run.lineage` when the commit's last
    * write ends, `run.summary` (the summary's SQL execution, the summary
    * line) when the application begins to stop, and `run.stop` when
    * `RunPipeline.main` returns. SQL executions are child spans
    * (`exec.<kind>`), so a phase's self time is its driver-side time.
    */
  def tracedPass(label: String, in: Path, st: Path, runId: String): Run.Pass = {
    StageLedger.clear()
    val p = Run.withListener(classOf[StageListener])(Run.pass(label, in, st, runId))
    val execs = StageLedger.execs.asScala.toSeq.sortBy(_.startMs)
    val writes = execs.filter(_.target.isDefined)
    val (up, down) = (StageLedger.sessionUpMs.toDouble, StageLedger.stopMs.toDouble)
    if (writes.isEmpty || up == 0 || down == 0)
      throw new IllegalStateException(s"pass $label: the listener saw no application start, commit write or stop")
    val lineageEnd = writes.map(StageLedger.execEnd).max.toDouble
    val summary = execs.filter(e => e.target.isEmpty && e.startMs >= lineageEnd).map(_.id).toSet
    def add(name: String, parent: String, s: Double, e: Double): Unit = spans += SpanRec(name, s, e, parent, label)
    add("run", "", p.startMs, p.endMs)
    add("run.session", "run", p.startMs, up)
    add("run.lineage", "run", up, lineageEnd)
    add("run.summary", "run", lineageEnd, down)
    add("run.stop", "run", down, p.endMs)
    execs.foreach { e =>
      val (name, parent) = e.target match {
        case Some(t) => (s"exec.${StageLedger.writeKind(t)}", "run.lineage")
        case None if summary(e.id) => ("exec.summary", "run.summary")
        case None => ("exec.other", "run.lineage")
      }
      add(name, parent, e.startMs, StageLedger.execEnd(e))
    }
    val rollup = StageLedger.rollup(cores, summary)
    perStage += ((rollup, StageLedger.totals()))
    System.err.println(s"perfbench: stages of $label\n${StageLedger.dump(summary)}")
    if (rollup.exists(r => r.kind == "other" && r.runS > 0))
      System.err.println(s"perfbench: WARNING stages of $label match no stage kind (see kind other above)")
    p
  }

  /** Medians over the traced passes of the run spans and stage rollups. */
  def rollup(passes: Seq[Run.Pass]): Seq[Metric] = {
    val n = passes.length
    def med(f: Run.Pass => Double) = Stats.median(passes.map(f))
    def self(pass: String, name: String) = spans.filter(s => s.pass == pass && s.name == name).map(selfSeconds).sum
    val run = Seq("run" -> "run.pass_s", "run.session" -> "run.session_s", "run.lineage" -> "run.lineage_s",
      "run.summary" -> "run.summary_s", "run.stop" -> "run.stop_s").map { case (name, metric) =>
      Metric(metric, med(p => seconds(p.label, name)), "s", n)
    } ++ Seq("run.lineage" -> "run.lineage_self_s", "run.summary" -> "run.summary_self_s").map { case (name, metric) =>
      Metric(metric, med(p => self(p.label, name)), "s", n)
    }
    val stage = StageLedger.Kinds.flatMap { k =>
      def m(f: StageLedger.Rollup => Double) = Stats.median(perStage.toSeq.map(r => f(r._1.find(_.kind == k).get)))
      if (k == "other") Seq(Metric(s"stage.$k.run_s", m(_.runS), "s", n))
      else Seq(
        Metric(s"stage.$k.run_s", m(_.runS), "s", n),
        Metric(s"stage.$k.gc_s", m(_.gcS), "s", n),
        Metric(s"stage.$k.shuffle_mb", m(_.shuffleMb), "MB", n),
        Metric(s"stage.$k.task_skew", m(_.taskSkew), "ratio", n),
        Metric(s"stage.$k.idle_core_s", m(_.idleCoreS), "s", n))
    }
    run ++ stage ++ Seq(
      Metric("spark.records_read_per_doc", Stats.median(perStage.toSeq.map(_._2._1.toDouble / w.inputDocs)), "ratio", n),
      Metric("spark.task_retries", Stats.median(perStage.toSeq.map(_._2._2.toDouble)), "count", n),
      Metric("jvm.gc_s", med(_.cost.gcS), "s", n),
      Metric("jvm.cpu_util_cores", med(p => p.cost.cpuS / p.cost.wallS), "cores", n))
  }

  /** Times `body` once under a span; returns the wall seconds, the bytes
    * allocated and the result.
    */
  private def prefix[T](name: String)(body: => T): (Double, Double, T) = {
    val (r, c) = Meter.measure(span("layers", name)(body))
    (c.wallS, c.allocB.toDouble, r)
  }

  /** Each layer timed alone, as a prefix of the pipeline ending in a sink
    * that discards rows, or (commit, metrics) over a materialized result.
    */
  def layers(committedOutput: Path): Seq[Metric] = Run.withSession("perfbench-layers") { spark =>
    import spark.implicits._
    val n = w.inputDocs.toDouble
    val st = new ParquetSnapshotStore(store.toString)
    def docs = Run.readDocs(spark, input.toString)
    def committed = spark.read.parquet(committedOutput.toString).as[ExtractedDoc](Encoders.product[ExtractedDoc])
    def todo = ExtractPipeline.resume(docs, st.committedDocIds(spark))
    val isMega = span_byte_cost(col("spans")) > cfg.megaDocBytes && size(col("spans")) > 1
    val out = ArrayBuffer.empty[Metric]
    def add(name: String, v: Double, unit: String, samples: Int = 1) = out += Metric(name, v, unit, samples)

    val (decodeS, decodeB, _) = prefix("pipeline.decode")(docs.foreachPartition(Ledger.noop[Doc] _))
    add("pipeline.decode_s", decodeS, "s")
    add("pipeline.decode_alloc_kb_per_doc", decodeB / 1024 / n, "KiB")

    val (routeS, _, routed) = prefix("pipeline.route") {
      docs.toDF().select(isMega.as("mega"), span_byte_cost(col("spans")).as("b"))
        .agg(sum(when(col("mega"), 1L).otherwise(0L)), sum(when(col("mega"), col("b")).otherwise(0L)), sum(col("b")))
        .as[(Long, Long, Long)].head()
    }
    add("pipeline.route_s", routeS, "s")
    System.err.println(f"perfbench: input ${w.inputDocs} docs, ${routed._3 / 1e6}%.2f MB of span bytes, " +
      f"${Run.treeBytes(input) / 1e6}%.2f MB of parquet")
    add("pipeline.mega_docs", routed._1.toDouble, "count")
    add("pipeline.mega_bytes_frac", routed._2.toDouble / math.max(1L, routed._3), "ratio")

    val (_, _, chunkBytes) = prefix("pipeline.chunks") {
      val c = cfg
      docs.where(isMega).as[Doc].flatMap(d => ExtractPipeline.splitChunks(d, c).map(ch => ExtractPipeline.docBytes(ch.spans)))
        .collect().toSeq.map(_.toDouble)
    }
    add("pipeline.chunks", chunkBytes.length.toDouble, "count")
    add("pipeline.chunk_kb_p50", if (chunkBytes.isEmpty) 0 else Stats.median(chunkBytes) / 1024, "KiB")
    add("pipeline.chunk_kb_max", if (chunkBytes.isEmpty) 0 else chunkBytes.max / 1024, "KiB")

    val (extractS, extractB, _) = prefix("pipeline.extract") {
      ExtractPipeline.extract(todo, cfg).write.format("noop").mode("overwrite").save()
    }
    add("pipeline.extract_s", extractS, "s")
    add("pipeline.extract_alloc_kb_per_doc", extractB / 1024 / n, "KiB")

    val (metricsS, _, _) = prefix("pipeline.metrics")(ExtractPipeline.metrics(committed, "layers").collect())
    add("pipeline.metrics_s", metricsS, "s")

    val (manifestS, _, _) = prefix("lineage.manifest_read")(st.committedDocIds(spark).foreachPartition(Ledger.noop[String] _))
    add("lineage.manifest_read_s", manifestS, "s")
    add("lineage.committed_runs", st.committedRuns.size.toDouble, "count")
    val (resumeS, _, _) = prefix("lineage.resume")(todo.foreachPartition(Ledger.noop[Doc] _))
    add("lineage.resume_s", resumeS, "s")

    val scratch = work.resolve("commit-layer")
    val (commitS, _, written) = prefix("lineage.commit") {
      Run.deleteTree(scratch)
      new ParquetSnapshotStore(scratch.toString).commitRun("layers", committed)
      Run.treeBytes(scratch)
    }
    Run.deleteTree(scratch)
    add("lineage.commit_s", commitS, "s")
    add("lineage.written_mb_per_input_mb", written.toDouble / Run.treeBytes(input), "ratio")

    // Docs this run extracts that an earlier committed run already attempted.
    val attempted = st.committedRuns.map(r => store.resolve("output").resolve(s"run=$r").toString)
    val redo = if (attempted.isEmpty) 0.0 else {
      val again = todo.select("doc_id").intersect(spark.read.parquet(attempted: _*).select("doc_id")).count()
      again.toDouble / todo.count()
    }
    add("lineage.redo_docs_frac", redo, "ratio")

    out.toSeq ++ core(spark)
  }

  /** `Extractor.extract` timed per call, by the doc's payload format. */
  private def core(spark: SparkSession): Seq[Metric] = {
    import spark.implicits._
    val calls = span("layers", "core") {
      Run.readDocs(spark, input.toString).mapPartitions { it =>
        val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
        it.map { d =>
          val spans = d.spans.sortBy(_.offset).map(s => Extractor.Span(s.kind, s.text, s.media_ref, s.offset))
          val a0 = threads.getCurrentThreadAllocatedBytes
          val t0 = System.nanoTime()
          Extractor.extract(d.doc_id, spans)
          val t1 = System.nanoTime()
          (Ledger.format(d), t1 - t0, threads.getCurrentThreadAllocatedBytes - a0)
        }
      }.collect().toSeq
    }
    val n = calls.length
    Seq(
      Metric("core.busy_s", calls.map(_._2).sum / 1e9, "s", n),
      Metric("core.alloc_kb_per_doc", calls.map(_._3).sum / 1024.0 / math.max(1, n), "KiB", n)) ++
      Ledger.Formats.flatMap { f =>
        val cs = calls.filter(_._1 == f)
        val us = cs.map(_._2 / 1e3)
        Seq(
          Metric(s"core.$f.docs", cs.length.toDouble, "count", cs.length),
          Metric(s"core.$f.us_p50", if (us.isEmpty) 0 else Stats.quantile(us, 0.5), "us", cs.length),
          Metric(s"core.$f.us_p99", if (us.isEmpty) 0 else Stats.quantile(us, 0.99), "us", cs.length),
          Metric(s"core.$f.alloc_kb", if (cs.isEmpty) 0 else cs.map(_._3).sum / 1024.0 / cs.length, "KiB", cs.length))
      }
  }

  /** Writes the spans and the reported metrics as JSON. */
  def write(path: Path, metrics: Seq[Metric]): Unit = {
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val ss = spans.map { s =>
      s"""{"name": ${str(s.name)}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "parent": ${str(s.parent)}, """ +
        s""""pass": ${str(s.pass)}, "self_s": ${selfSeconds(s)}}"""
    }
    val ms = metrics.map(m => s"""${str(m.name)}: {"value": ${m.value}, "unit": ${str(m.unit)}, "samples": ${m.samples}}""")
    Files.write(path, s"""{"workload": ${str(w.name)}, "metrics": {${ms.mkString(",\n  ")}},\n"spans": [${ss.mkString(",\n  ")}]}\n"""
      .getBytes(UTF_8))
  }
}

object Ledger {
  def noop[T](it: Iterator[T]): Unit = it.foreach(_ => ())

  /** Payload kinds the kernel dispatches on; `bin` payloads are sniffed. */
  val Formats = Seq("text", "media", "html", "rtf", "pdf", "zip", "pptx", "odp", "img", "other")

  def format(d: Doc): String =
    d.spans.find(s => s.kind != "text" && s.kind != "media") match {
      case None => if (d.spans.exists(_.kind == "text")) "text" else "media"
      case Some(s) if s.kind == "bin" =>
        val bytes = try java.util.Base64.getDecoder.decode(s.text) catch { case _: IllegalArgumentException => Array.emptyByteArray }
        Extractor.sniff(bytes) match {
          case "zip" => "zip"
          case k if k.startsWith("img:") => "img"
          case _ => "other"
        }
      case Some(s) if Formats.contains(s.kind) => s.kind
      case _ => "other"
    }
}
