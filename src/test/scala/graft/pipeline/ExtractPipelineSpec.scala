package graft.pipeline

import graft.core.Extractor
import graft.functions.{NativeCall, SpanExpressions}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{DeserializeToObjectExec, FileSourceScanExec, InputAdapter, QueryExecution, SerializeFromObjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, ExchangeQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{Exchange, REPARTITION_BY_COL}
import org.apache.spark.sql.types.{DataType, MapType, StringType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

class ExtractPipelineSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def extractWhole(doc: Doc): ExtractedDoc = {
    val r = Extractor.extract(doc.doc_id, doc.spans)
    ExtractedDoc(doc.doc_id, r.spans, r.metadata, r.failure, ExtractPipeline.docBytes(doc.spans))
  }

  /** `doc` split, extracted chunk by chunk and merged, as the salted branch does. */
  private def extractSalted(doc: Doc, cfg: ExtractPipeline.PipelineConfig): ExtractedDoc =
    ExtractPipeline.mergeChunks(doc.doc_id,
      ExtractPipeline.splitChunks(doc, cfg).map(ExtractPipeline.extractChunk(_, cfg)))

  private def spanKeys(d: ExtractedDoc): Seq[(String, String, String, Int)] =
    d.spans.map(s => (s.kind, s.text, s.media_ref, s.offset))

  test("salting invariance: chunked+merged mega-doc equals unsalted extraction") {
    // force tiny mega threshold so every multi-span doc splits
    val cfg = ExtractPipeline.PipelineConfig(megaDocBytes = 64)
    var split = 0
    for (id <- 0L until 400L) {
      val doc = SynthCorpus.mkDoc(id, seed = 7L)
      if (ExtractPipeline.splitChunks(doc, cfg).length > 1) split += 1
      val merged = extractSalted(doc, cfg)
      val whole = extractWhole(doc)
      assert(spanKeys(merged) == spanKeys(whole), s"doc $id spans diverged")
      assert(merged.failure == whole.failure, s"doc $id failure diverged")
      assert(merged.bytes == whole.bytes, s"doc $id bytes diverged")
    }
    assert(split > 0, "no doc splits at 64 bytes")
  }

  test("cross-chunk pending hyphen: restored before uppercase, dropped before lowercase") {
    // chunk boundary between the hyphenated line and its continuation
    val mk = (cont: String) => Doc("d", Seq(
      Span("text", "eine Zeile wei-\n", "", 0),
      Span("text", cont + "\n", "", 1)))
    val cfg = ExtractPipeline.PipelineConfig(Extractor.Config(removeNewlines = false), megaDocBytes = 4)
    def runSplit(doc: Doc): String = {
      assert(ExtractPipeline.splitChunks(doc, cfg).length == 2, "expected the doc to split")
      extractSalted(doc, cfg).spans.map(_.text).mkString
    }
    assert(runSplit(mk("ter")) == "eine Zeile weiter\n")
    assert(runSplit(mk("Institution")) == "eine Zeile wei-Institution\n")
  }

  test("cross-chunk pending hyphen: restored on the chunk's first span with text, past a blank span") {
    val doc = Doc("d", Seq(
      Span("text", "eine Zeile wei-\n", "", 0),
      Span("text", "\n", "", 1),
      Span("text", "Institution folgt\n", "", 2)))
    val cfg = ExtractPipeline.PipelineConfig(megaDocBytes = 4)
    assert(ExtractPipeline.splitChunks(doc, cfg).map(_.spans.length) == Seq(1, 2))
    val whole = extractWhole(doc)
    assert(whole.spans.map(_.text) == Seq("eine Zeile wei", "", "-Institution folgt "))
    assert(spanKeys(extractSalted(doc, cfg)) == spanKeys(whole))
  }

  test("row splitter: a null span array gives null, and a null text or media_ref costs 0 bytes") {
    val nullSpans = Literal(null, SpanExpressions.SpanArray)
    for ((fn, args) <- Seq(
        SaltedRows.SpanChunks -> Seq(nullSpans, Literal(4L)),
        SaltedRows.ExtractChunk -> Seq(Literal("d"), Literal(0), nullSpans, Literal(true), Literal(1L), Literal(true))))
      assert(NativeCall(fn, args).replacement.eval(InternalRow.empty) == null, fn.name)
    def span(text: String, ref: String, offset: Int) =
      InternalRow(UTF8String.fromString("text"), UTF8String.fromString(text), UTF8String.fromString(ref), offset)
    val spans = new GenericArrayData(Seq[Any](span("aaaa", null, 0), span(null, null, 1), span("bbbb", "", 2)))
    assert(SpanExpressions.spanByteCost(spans) == 8)
    val chunks = SaltedRows.spanChunks(spans, 4L)
    val sizes = (0 until chunks.numElements()).map(k => chunks.getStruct(k, 2).getArray(1).numElements())
    assert(sizes == Seq(1, 2))
    val typed = Doc("d", Seq(Span("text", "aaaa", "", 0), Span("text", "", "", 1), Span("text", "bbbb", "", 2)))
    assert(ExtractPipeline.splitChunks(typed, ExtractPipeline.PipelineConfig(megaDocBytes = 4L)).map(_.spans.length) == sizes)
  }

  test("end-to-end Spark extraction on the synthetic corpus") {
    val n = 200L
    val corpus = SynthCorpus.generate(spark, n, seed = 42L, partitions = 4)
    // the default threshold salts nothing; 16 KiB salts the larger docs
    val salting = ExtractPipeline.PipelineConfig(megaDocBytes = 16 * 1024)
    assert((0L until n).exists(id => ExtractPipeline.splitChunks(SynthCorpus.mkDoc(id, 42L), salting).length > 1),
      "no doc splits at 16 KiB")
    for (cfg <- Seq(ExtractPipeline.PipelineConfig(), salting)) {
      val result = ExtractPipeline.extract(corpus, cfg).collect()
      assert(result.length == n)
      // distributed result must equal per-doc local extraction exactly
      val byId = result.map(d => d.doc_id -> d).toMap
      for (id <- 0L until n) {
        val local = extractWhole(SynthCorpus.mkDoc(id, 42L))
        val dist = byId(s"doc$id")
        assert(dist.failure == local.failure, s"doc$id failure")
        assert(dist.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)) ==
          local.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)), s"doc$id spans")
      }
      // failure classes present as designed (doc_id % 20 == 18)
      assert(result.count(_.failure.nonEmpty) == 10)
      assert(result.filter(_.failure.nonEmpty).map(_.failure).toSet
        .subsetOf(Set("zero_size", "unknown_format", "content_not_found")))
    }
  }

  test("OCR trigger: recorded transcript emitted before short page text (misc.go:32-77)") {
    val doc = Doc("ocr1", Seq(
      Span("media", "recorded ocr transcript", "s3://m/1.png", 0),
      Span("text", "kurz", "", 1)))
    val r = extractWhole(doc)
    assert(r.spans.map(_.kind) == Seq("media", "text", "text"))
    assert(r.spans(0).media_ref == "s3://m/1.png")
    assert(r.spans(1).text.startsWith("recorded ocr transcript"))
    assert(r.spans(2).text.startsWith("kurz"))
    // long page text does NOT trigger OCR
    val longDoc = Doc("ocr2", Seq(
      Span("media", "transcript", "s3://m/2.png", 0),
      Span("text", "x" * 300, "", 1)))
    val r2 = extractWhole(longDoc)
    assert(r2.spans.map(_.kind) == Seq("media", "text"))
  }

  test("resume: committed docs are skipped, second run extracts the rest") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("lineage").toString
    val store = new ParquetSnapshotStore(tmp)
    // the run's metrics table agrees with its committed output
    def checkRunMetrics(runId: String): Unit = {
      val out = spark.read.parquet(s"$tmp/output/run=$runId").as[ExtractedDoc].collect()
      val m = store.runMetrics(spark, runId).collect()
      assert(m.forall(_.run_id == runId))
      assert(m.map(_.docs).sum == out.length)
      assert(m.map(_.bytes).sum == out.map(_.bytes).sum)
      assert(m.map(_.spans).sum == out.map(_.spans.size.toLong).sum)
      val fails = m.flatMap(_.failures.toSeq).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val outFails = out.filter(_.failure.nonEmpty).groupBy(_.failure).view.mapValues(_.length.toLong).toMap
      assert(fails == outFails)
    }
    val corpus = SynthCorpus.generate(spark, 100L, seed = 42L, partitions = 4)
    val firstHalf = corpus.filter(d => d.doc_id.drop(3).toLong < 50)
    Lineage.run(firstHalf, store, runId = "r1")
    assert(store.committedRuns == Seq("r1"))
    checkRunMetrics("r1")
    val committed = store.committedDocIds(spark).collect().toSet
    assert(committed.size == 48) // docs 18 and 38 fail, so 48 of the first 50 commit
    Lineage.run(corpus, store, runId = "r2")
    checkRunMetrics("r2")
    val secondIds = spark.read.parquet(s"$tmp/output/run=r2").select("doc_id").as[String].collect().toSet
    // r2 re-extracts only uncommitted docs (failures retry + the second half)
    assert(secondIds.size == 100 - committed.size)
    assert(committed.intersect(secondIds).isEmpty)
    assert(store.committedRuns == Seq("r1", "r2"))
    intercept[IllegalArgumentException](store.runMetrics(spark, "r3"))
  }

  test("metrics rows aggregate docs/bytes/spans/failures") {
    import spark.implicits._
    val corpus = SynthCorpus.generate(spark, 100L, seed = 42L, partitions = 4)
    val result = ExtractPipeline.extract(corpus)
    val m = ExtractPipeline.metrics(result, "t1").collect()
    assert(m.map(_.docs).sum == 100)
    assert(m.map(_.spans).sum > 0)
    val fails = m.flatMap(_.failures.toSeq).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(fails.values.sum == 5) // ids 18,38,58,78,98
  }

  // 40 docs over more input partitions than docs, which leaves some empty;
  // a small threshold salts the larger multi-span docs into the union's
  // trailing partitions. The result is persisted, so every use of it sees
  // the same partitions.
  private val inputPartitions = 48

  private val mixedCfg = ExtractPipeline.PipelineConfig(megaDocBytes = 2048)
  private def mixedCorpus = SynthCorpus.generate(spark, 40L, seed = 42L, partitions = inputPartitions)

  private def withMixedPartitions(body: org.apache.spark.sql.Dataset[ExtractedDoc] => Unit): Unit = {
    val result = ExtractPipeline.extract(mixedCorpus, mixedCfg).persist()
    try body(result) finally result.unpersist()
  }

  test("partition-local metrics equal the two-aggregate formula row for row") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    withMixedPartitions { result =>
      // reference: (partition, failure) counts, rolled up per partition
      val reference = result
        .withColumn("partition_id", spark_partition_id())
        .groupBy(col("partition_id"), col("failure"))
        .agg(
          count(lit(1)).as("docs"),
          sum(col("bytes")).as("bytes"),
          sum(size(col("spans"))).as("spans"))
        .groupBy(col("partition_id"))
        .agg(
          sum(col("docs")).as("docs"),
          sum(col("bytes")).as("bytes"),
          sum(col("spans")).as("spans"),
          map_from_entries(sort_array(collect_list(
            when(col("failure") =!= "", struct(col("failure"), col("docs")))
          ))).as("failures"))
        .as[(Int, Long, Long, Long, Map[String, Long])]
        .collect().sortBy(_._1).toSeq
      val local = ExtractPipeline.metrics(result, "t1").collect().sortBy(_.partition_id).toSeq
      assert(local.forall(_.run_id == "t1"))
      assert(local.map(m => (m.partition_id, m.docs, m.bytes, m.spans, m.failures)) == reference)
      // the cases the comparison must cover all occur
      assert(reference.exists(_._1 >= inputPartitions), "no salted partition")
      assert(reference.exists(r => r._1 < inputPartitions && r._5.isEmpty), "no all-ok partition")
      assert(reference.exists(_._5.nonEmpty), "no partition with failures")
      assert(reference.length < result.rdd.getNumPartitions, "no empty partition")
      assert(reference.map(_._2).sum == 40)
    }
  }

  test("one-pass commit: metrics table equals metrics(result), manifest equals the clean output") {
    import spark.implicits._
    withMixedPartitions { result =>
      val tmp = java.nio.file.Files.createTempDirectory("lineage").toString
      val store = new ParquetSnapshotStore(tmp)
      store.commitRun("c1", result)
      def key(ms: Seq[PartitionMetrics]) =
        ms.map(m => (m.partition_id, m.docs, m.bytes, m.spans, m.failures)).sortBy(_._1)
      val committed = store.runMetrics(spark, "c1").collect().toSeq
      assert(committed.forall(_.run_id == "c1"))
      assert(key(committed) == key(ExtractPipeline.metrics(result, "c1").collect().toSeq))
      val out = spark.read.parquet(s"$tmp/output/run=c1").as[ExtractedDoc].collect()
      assert(out.length == 40)
      assert(out.exists(_.failure.nonEmpty), "no failed doc to keep out of the manifest")
      val manifest = spark.read.parquet(s"$tmp/manifest/run=c1").as[String].collect()
      assert(manifest.sorted.toSeq == out.filter(_.failure.isEmpty).map(_.doc_id).sorted.toSeq)
    }
  }

  test("Lineage.run folds the metrics of the plan it commits and returns the rows it wrote") {
    val tmp = java.nio.file.Files.createTempDirectory("lineage").toString
    val store = new ParquetSnapshotStore(tmp)
    // the plan Lineage.run commits, evaluated without the commit's fold
    val plan = ExtractPipeline.extract(ExtractPipeline.resume(mixedCorpus, store.committedDocIds(spark)), mixedCfg)
    val reference = ExtractPipeline.metrics(plan, "f1").collect().sortBy(_.partition_id).toSeq
    val returned = Lineage.run(mixedCorpus, store, "f1", mixedCfg)
    val committed = store.runMetrics(spark, "f1").collect().sortBy(_.partition_id).toSeq
    assert(returned == committed)
    assert(committed == reference)
    // the cases the comparison must cover all occur
    assert(reference.exists(_.partition_id >= inputPartitions), "no salted partition")
    assert(reference.exists(m => m.partition_id < inputPartitions && m.failures.isEmpty), "no all-ok partition")
    assert(reference.exists(_.failures.nonEmpty), "no partition with failures")
    assert(reference.length < plan.rdd.getNumPartitions, "no empty partition")
    assert(reference.map(_.docs).sum == 40)
  }

  test("empty commit: rerunning a fully committed input commits empty tables") {
    val tmp = java.nio.file.Files.createTempDirectory("lineage").toString
    val store = new ParquetSnapshotStore(tmp)
    // without the failing docs (doc_id % 20 == 18) the first run commits every doc
    val clean = SynthCorpus.generate(spark, 40L, seed = 42L, partitions = 4)
      .filter(d => d.doc_id.drop(3).toLong % 20 != 18)
    Lineage.run(clean, store, "r1")
    assert(store.committedDocIds(spark).count() == 38)
    Lineage.run(clean, store, "r2")
    assert(store.committedRuns == Seq("r1", "r2"))
    assert(spark.read.parquet(s"$tmp/output/run=r2").count() == 0)
    assert(spark.read.parquet(s"$tmp/manifest/run=r2").count() == 0)
    assert(store.runMetrics(spark, "r2").count() == 0)
  }

  /** `t` with every field and map value nullable. */
  private def nullable(t: DataType): DataType = t match {
    case st: StructType => StructType(st.fields.map(f => StructField(f.name, nullable(f.dataType))))
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  test("driver-written tables read as Spark-written ones: inferred schemas, and beside a Spark-written run") {
    import spark.implicits._
    val root = Files.createTempDirectory("lineage")
    val store = new ParquetSnapshotStore(root.toString)
    // run r0 written the way earlier commits wrote it: Spark's parquet writer
    val oldIds = (0L until 10L).map(i => s"doc$i")
    val oldMetrics = Seq(PartitionMetrics("r0", 0, 6L, 600L, 12L, Map.empty),
      PartitionMetrics("r0", 1, 4L, 400L, 8L, Map("parse_error" -> 1L)))
    spark.createDataset(oldMetrics).coalesce(1).write.parquet(s"$root/metrics/run=r0")
    oldIds.toDF("doc_id").write.parquet(s"$root/manifest/run=r0")
    Files.createDirectories(root.resolve("_commits"))
    Files.createFile(root.resolve("_commits").resolve("r0"))

    val returned = Lineage.run(mixedCorpus, store, "r1", mixedCfg)
    // the gate's way: no schema given
    assert(spark.read.parquet(s"$root/manifest/run=r1").schema == StructType(Seq(StructField("doc_id", StringType))))
    assert(nullable(spark.read.parquet(s"$root/metrics/run=r1").schema) ==
      nullable(Encoders.product[PartitionMetrics].schema))
    val out = spark.read.parquet(s"$root/output/run=r1").as[ExtractedDoc].collect()
    assert(out.map(_.doc_id).intersect(oldIds).isEmpty, "r1 extracted a doc r0 committed")
    val clean = out.filter(_.failure.isEmpty).map(_.doc_id).toSeq
    assert(out.exists(_.failure.nonEmpty) && clean.nonEmpty)
    val ids = store.committedDocIds(spark)
    assert(collect(ids.queryExecution.executedPlan) { case s: FileSourceScanExec => s }.length == 1)
    assert(ids.collect().sorted.toSeq == (oldIds ++ clean).sorted)
    val both = Seq("r0", "r1").map(r => s"$root/manifest/run=$r")
    assert(spark.read.parquet(both: _*).select("doc_id").as[String].collect().sorted.toSeq == (oldIds ++ clean).sorted)
    assert(store.runMetrics(spark, "r0").collect().sortBy(_.partition_id).toSeq == oldMetrics)
    assert(store.runMetrics(spark, "r1").collect().sortBy(_.partition_id).toSeq == returned)
    assert(returned.exists(_.failures.isEmpty) && returned.exists(_.failures.nonEmpty))
  }

  test("a recommit replaces what a crashed commit left in the metrics and manifest tables") {
    import spark.implicits._
    val root = Files.createTempDirectory("lineage")
    val store = new ParquetSnapshotStore(root.toString)
    val corpus = SynthCorpus.generate(spark, 40L, seed = 42L, partitions = 4)
    Lineage.run(corpus.filter(d => d.doc_id.drop(3).toLong < 10), store, "r1", mixedCfg)
    // a crash after the tail writes and before the marker: a manifest file
    // holding a foreign id, and a stray metrics file
    def plant(ds: org.apache.spark.sql.Dataset[_], table: String): Unit = {
      val written = Files.createTempDirectory("planted").resolve("t")
      ds.coalesce(1).write.parquet(written.toString)
      val part = Files.list(written).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      val dir = Files.createDirectories(root.resolve(table).resolve("run=r2"))
      Files.move(part, dir.resolve("part-99999.parquet"))
    }
    plant(Seq("foreign").toDF("doc_id"), "manifest")
    plant(spark.createDataset(Seq(PartitionMetrics("r2", 99, 1L, 1L, 1L, Map.empty))), "metrics")
    assert(store.committedRuns == Seq("r1"))

    val returned = Lineage.run(corpus, store, "r2", mixedCfg)
    val out = spark.read.parquet(s"$root/output/run=r2").as[ExtractedDoc].collect()
    val manifest = spark.read.parquet(s"$root/manifest/run=r2").as[String].collect().sorted.toSeq
    assert(manifest == out.filter(_.failure.isEmpty).map(_.doc_id).sorted.toSeq)
    assert(store.runMetrics(spark, "r2").collect().sortBy(_.partition_id).toSeq == returned)
    assert(returned.map(_.docs).sum == out.length)
    assert(!store.committedDocIds(spark).collect().contains("foreign"))
  }

  test("commitRun refuses a committed run id and still commits a crashed one") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("lineage").toString
    val store = new ParquetSnapshotStore(tmp)
    val corpus = SynthCorpus.generate(spark, 20L, seed = 42L, partitions = 2)
    def output(runId: String) = spark.read.parquet(s"$tmp/output/run=$runId").as[ExtractedDoc]
      .collect().map(d => (d.doc_id, d.failure, d.bytes, d.spans.size)).sortBy(_._1).toSeq
    store.commitRun("r1", ExtractPipeline.extract(corpus.filter(d => d.doc_id.drop(3).toLong < 10)))
    val before = output("r1")
    assert(before.length == 10)
    intercept[IllegalArgumentException](store.commitRun("r1", ExtractPipeline.extract(corpus)))
    assert(output("r1") == before)
    assert(store.committedRuns == Seq("r1"))
    // a crashed run left a partial output and no marker: committing it again works
    spark.range(3).write.parquet(s"$tmp/output/run=r2")
    store.commitRun("r2", ExtractPipeline.extract(corpus))
    assert(output("r2").length == 20)
    assert(store.committedRuns == Seq("r1", "r2"))
  }

  test("commitRun refuses a run id resume could not see or the marker could not name") {
    val tmp = java.nio.file.Files.createTempDirectory("lineage")
    val store = new ParquetSnapshotStore(tmp.toString)
    val result = ExtractPipeline.extract(SynthCorpus.generate(spark, 4L, seed = 42L, partitions = 1))
    for (runId <- Seq(".r1", "a/b", ""))
      intercept[IllegalArgumentException](store.commitRun(runId, result))
    assert(!java.nio.file.Files.exists(tmp.resolve("output")))
    assert(store.committedRuns.isEmpty)
  }

  private def has(plan: SparkPlan)(p: SparkPlan => Boolean): Boolean = find(plan)(p).isDefined

  /** Whether `p` splits docs into salted chunks (calls `span_chunks`). */
  private def saltedChain(p: SparkPlan): Boolean = p.expressions.exists(_.exists {
    case s: StaticInvoke => s.functionName == "spanChunks"
    case _ => false
  })

  /** The shuffles in `write` that repartition by exactly the columns `keys`. */
  private def shufflesBy(write: SparkPlan, keys: String*): Seq[ShuffleQueryStageExec] = collect(write) {
    case q: ShuffleQueryStageExec if q.shuffle.shuffleOrigin == REPARTITION_BY_COL &&
      (q.shuffle.outputPartitioning match {
        case h: HashPartitioning => h.expressions.map { case a: AttributeReference => a.name; case e => e.sql } == keys
        case _ => false
      }) => q
  }

  /** Whether `p` writes a run's `table` (`output`, `manifest`...) in the
    * store at `root`.
    */
  private def writesTo(root: String, table: String)(p: SparkPlan): Boolean = has(p) {
    case w: DataWritingCommandExec => w.cmd match {
      case i: InsertIntoHadoopFsRelationCommand =>
        i.outputPath.getParent.getName == table && i.outputPath.toString.contains(root)
      case _ => false
    }
    case _ => false
  }

  /** The file scans in `p` that read the table at `path`. */
  private def scansOf(path: String)(p: SparkPlan): Int =
    collect(p) { case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains(path)) => s }.length

  /** Commits the extraction of `n` synthetic docs through `Lineage.run` as
    * run `r1` of a fresh store, reading them from parquet as a production
    * run does. Returns the input path, the store root and the final plan of
    * every SQL execution the run made, in order.
    */
  private def commitAndPlans(n: Long, cfg: ExtractPipeline.PipelineConfig): (String, String, Seq[SparkPlan]) = {
    val input = Files.createTempDirectory("docs").resolve("t").toString
    SynthCorpus.generate(spark, n, seed = 42L, partitions = 8).write.parquet(input)
    val root = Files.createTempDirectory("lineage").toString
    val executions = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = executions.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (begin, end) = (spark.range(1), spark.range(1))
    try {
      // listeners hear of executions asynchronously, in order, so the input
      // write can still reach this one: the commit's executions are the
      // ones heard between a run just before it and one just after it
      begin.collect()
      val corpus = spark.read.parquet(input).as[Doc](Encoders.product[Doc])
      Lineage.run(corpus, new ParquetSnapshotStore(root), "r1", cfg)
      end.collect()
      eventually(timeout(30.seconds)) { assert(executions.asScala.exists(_ eq end.queryExecution)) }
    } finally spark.listenerManager.unregister(listener)
    val heard = executions.asScala.toSeq
    (input, root, heard.drop(heard.indexWhere(_ eq begin.queryExecution) + 1)
      .takeWhile(_ ne end.queryExecution).map(_.executedPlan))
  }

  /** A commit is its output write(s): no SQL execution of the commit
    * writes the metrics or the manifest table.
    */
  private def assertOnlyOutputWrites(root: String, plans: Seq[SparkPlan], writes: Int): Unit = {
    assert(plans.length == writes, s"expected $writes SQL executions, got ${plans.length}")
    assert(plans.count(writesTo(root, "output")) == writes)
    assert(!plans.exists(writesTo(root, "metrics")), "a plan writes the metrics table")
    assert(!plans.exists(writesTo(root, "manifest")), "a plan writes the manifest table")
  }

  /** Each output row is serialized once: the result stage of an output
    * write holds one object serializer.
    */
  private def assertOneSerializer(write: SparkPlan): Unit = {
    def resultStage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: ExchangeQueryStageExec | _: Exchange => Nil
      case _ => p +: allChildren(p).flatMap(resultStage)
    }
    val ops = resultStage(write)
    assert(ops.count(_.isInstanceOf[SerializeFromObjectExec]) == 1, s"serializers: ${ops.map(_.nodeName)}")
  }

  /** The routed scan in `write` calls the byte-cost kernel from generated
    * code on the parquet `spans` column as read: a Cast over `spans` would
    * copy every span array of every row.
    */
  private def assertRoutedInCodegen(write: SparkPlan): Unit = {
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(stage)
    }
    val args = collect(write) { case w: WholeStageCodegenExec => w }
      .flatMap(w => stage(w.child)).flatMap(_.expressions)
      .flatMap(_.collect { case s: StaticInvoke if s.functionName == "spanByteCost" => s.arguments })
    assert(args.nonEmpty, "spanByteCost is not called from generated code")
    assert(args.flatten.forall { case a: AttributeReference => a.name == "spans"; case _ => false },
      s"spanByteCost arguments: $args")
    val casts = collect(write) { case p => p.expressions }.flatten.flatMap(_.collect {
      case c: Cast if c.child.references.exists(_.name == "spans") => c
    })
    assert(casts.isEmpty, s"casts over spans: $casts")
  }

  /** `d` has the failure, spans and bytes of its synthetic doc's per-doc
    * extraction.
    */
  private def assertReference(d: ExtractedDoc): Unit = {
    val r = extractWhole(SynthCorpus.mkDoc(d.doc_id.drop(3).toLong, 42L))
    assert((d.failure, d.spans, d.bytes) == (r.failure, r.spans, r.bytes), d.doc_id)
  }

  /** Run `r1` under `root` committed every one of the `n` synthetic docs as
    * the per-doc reference extracts it, its metrics count them all, and its
    * manifest holds the clean ones.
    */
  private def assertCommittedReference(root: String, n: Long): Unit = {
    import spark.implicits._
    val output = spark.read.parquet(s"$root/output/run=r1").as[ExtractedDoc].collect().sortBy(_.doc_id).toSeq
    assert(output.map(_.doc_id) == (0L until n).map(i => s"doc$i").sorted)
    output.foreach(assertReference)
    assert(new ParquetSnapshotStore(root).runMetrics(spark, "r1").collect().map(_.docs).sum == n)
    val manifest = spark.read.parquet(s"$root/manifest/run=r1").as[String].collect().sorted.toSeq
    assert(manifest == output.filter(_.failure.isEmpty).map(_.doc_id))
  }

  test("no mega-doc: the run reads its input once, in one output write without the salted chain") {
    val (input, root, plans) = commitAndPlans(60L, ExtractPipeline.PipelineConfig())
    assertOnlyOutputWrites(root, plans, 1)
    val writes = plans.filter(writesTo(root, "output"))
    assert(plans.map(scansOf(input)).sum == 1, "the input is scanned more than once")
    assert(!has(writes.head)(saltedChain), "salted chain in the plan")
    assertOneSerializer(writes.head)
    assertRoutedInCodegen(writes.head)
    assertCommittedReference(root, 60L)
  }

  test("mega-docs: a second output write salts them, and the output equals the per-doc reference") {
    val (_, root, plans) = commitAndPlans(40L, ExtractPipeline.PipelineConfig(megaDocBytes = 2048))
    assertOnlyOutputWrites(root, plans, 2)
    val writes = plans.filter(writesTo(root, "output"))
    writes.foreach(assertOneSerializer)
    assert(!has(writes.head)(saltedChain), "salted chain in the unsalted write")
    assert(has(writes(1))(saltedChain), "no salted chain in the salted write")
    // the spread is sized by AQE: a repartition by columns, read coalesced
    val spread = shufflesBy(writes(1), "doc_id", "salt")
    assert(spread.length == 1, "no salted spread by (doc_id, salt)")
    assert(collect(writes(1)) { case r: AQEShuffleReadExec => r.child }.contains(spread.head),
      "salted spread not read through AQE")
    // chunks stay rows up to the regroup: only the merge decodes objects
    val regroup = shufflesBy(writes(1), "doc_id")
    assert(regroup.length == 1, "no salted regroup by doc_id")
    def decoders(p: SparkPlan) = collect(p) { case d: DeserializeToObjectExec => d }
    assert(decoders(regroup.head).isEmpty, s"objects decoded below the regroup: ${decoders(regroup.head)}")
    assert(decoders(writes(1)).length == 1, s"decoders in the salted write: ${decoders(writes(1))}")
    assertCommittedReference(root, 40L)
  }

  test("a crash between a commit's two output writes commits nothing, and the run id then commits whole") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("lineage")
    val store = new ParquetSnapshotStore(tmp.toString)
    val corpus = SynthCorpus.generate(spark, 40L, seed = 42L, partitions = 4)
    Lineage.run(corpus.filter(d => d.doc_id.drop(3).toLong < 10), store, "r1", mixedCfg)
    val committed = store.committedDocIds(spark).collect().sorted.toSeq
    intercept[IllegalStateException] {
      store.commit(spark, "r2") { (fold, append) =>
        append(ExtractPipeline.extract(corpus, mixedCfg).map(fold))
        throw new IllegalStateException("crash before the second write")
      }
    }
    assert(Files.exists(tmp.resolve("output").resolve("run=r2")), "the first write did not run")
    assert(!Files.exists(tmp.resolve("_commits").resolve("r2")))
    assert(!Files.exists(tmp.resolve("manifest").resolve("run=r2")))
    assert(store.committedRuns == Seq("r1"))
    assert(store.committedDocIds(spark).collect().sorted.toSeq == committed)
    Lineage.run(corpus, store, "r2", mixedCfg)
    val out = spark.read.parquet(s"$tmp/output/run=r2").as[ExtractedDoc].collect().sortBy(_.doc_id).toSeq
    val todo = (0L until 40L).map(i => s"doc$i").filterNot(committed.contains).sorted
    assert(out.map(_.doc_id) == todo)
    out.foreach(assertReference)
    assert(out.exists(d => ExtractPipeline.splitChunks(SynthCorpus.mkDoc(d.doc_id.drop(3).toLong, 42L), mixedCfg).length > 1),
      "no salted doc in the recommitted run")
    assert(store.committedRuns == Seq("r1", "r2"))
  }
}
