package graft.pipeline

import graft.core.Extractor
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ExtractPipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def extractWhole(doc: Doc): ExtractedDoc = {
    val r = Extractor.extract(doc.doc_id,
      doc.spans.map(s => Extractor.Span(s.kind, s.text, s.media_ref, s.offset)))
    ExtractedDoc(doc.doc_id,
      r.spans.map(s => Span(s.kind, s.text, s.mediaRef, s.offset)),
      r.metadata, r.failure, ExtractPipeline.docBytes(doc.spans))
  }

  test("salting invariance: chunked+merged mega-doc equals unsalted extraction") {
    // force tiny mega threshold so every multi-span doc splits
    val cfg = ExtractPipeline.PipelineConfig(megaDocBytes = 64)
    for (id <- 0L until 400L) {
      val doc = SynthCorpus.mkDoc(id, seed = 7L)
      val chunks = ExtractPipeline.splitChunks(doc, cfg)
      val results = chunks.map { c =>
        val r = Extractor.extract(c.doc_id,
          c.spans.map(s => Extractor.Span(s.kind, s.text, s.media_ref, s.offset)))
        ExtractPipeline.ChunkResult(c.doc_id, c.salt, c.nChunks,
          r.spans.map(s => Span(s.kind, s.text, s.mediaRef, s.offset)),
          r.metadata, r.failure, ExtractPipeline.docBytes(c.spans),
          r.pendingHyphenOut, r.sawContent, r.firstContentCp)
      }
      val merged = ExtractPipeline.mergeChunks(doc.doc_id, results)
      val whole = extractWhole(doc)
      val mergedText = merged.spans.filter(_.kind == "text").map(_.text).mkString
      val wholeText = whole.spans.filter(_.kind == "text").map(_.text).mkString
      assert(mergedText == wholeText, s"doc $id (${chunks.length} chunks) text diverged")
      assert(merged.spans.map(s => (s.kind, s.media_ref)) ==
        whole.spans.map(s => (s.kind, s.media_ref)), s"doc $id span structure diverged")
      assert(merged.spans.map(_.offset) == merged.spans.indices, s"doc $id offsets not renumbered")
      assert(merged.failure == whole.failure)
    }
  }

  test("cross-chunk pending hyphen: restored before uppercase, dropped before lowercase") {
    // chunk boundary between the hyphenated line and its continuation
    val mk = (cont: String) => Doc("d", Seq(
      Span("text", "eine Zeile wei-\n", "", 0),
      Span("text", cont + "\n", "", 1)))
    val cfg = ExtractPipeline.PipelineConfig(megaDocBytes = 4)
    def runSplit(doc: Doc): String = {
      val chunks = ExtractPipeline.splitChunks(doc, cfg)
      assert(chunks.length == 2, "expected the doc to split")
      val results = chunks.map { c =>
        val r = Extractor.extract(c.doc_id,
          c.spans.map(s => Extractor.Span(s.kind, s.text, s.media_ref, s.offset)),
          Extractor.Config(removeNewlines = false))
        ExtractPipeline.ChunkResult(c.doc_id, c.salt, c.nChunks,
          r.spans.map(s => Span(s.kind, s.text, s.mediaRef, s.offset)),
          r.metadata, r.failure, 0L, r.pendingHyphenOut, r.sawContent, r.firstContentCp)
      }
      ExtractPipeline.mergeChunks(doc.doc_id, results)
        .spans.map(_.text).mkString
    }
    assert(runSplit(mk("ter")) == "eine Zeile weiter\n")
    assert(runSplit(mk("Institution")) == "eine Zeile wei-Institution\n")
  }

  test("end-to-end Spark extraction on the synthetic corpus") {
    val n = 200L
    val corpus = SynthCorpus.generate(spark, n, seed = 42L, partitions = 4)
    // the default threshold salts nothing; 16 KiB salts the larger docs
    val salting = ExtractPipeline.PipelineConfig(numPartitions = 4, megaDocBytes = 16 * 1024)
    assert((0L until n).exists(id => ExtractPipeline.splitChunks(SynthCorpus.mkDoc(id, 42L), salting).length > 1),
      "no doc splits at 16 KiB")
    for (cfg <- Seq(ExtractPipeline.PipelineConfig(numPartitions = 4), salting)) {
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
    Lineage.run(firstHalf, store, runId = "r1",
      ExtractPipeline.PipelineConfig(numPartitions = 4))
    assert(store.committedRuns == Seq("r1"))
    checkRunMetrics("r1")
    val committed = store.committedDocIds(spark).collect().toSet
    assert(committed.size == 48) // docs 18 and 38 fail, so 48 of the first 50 commit
    val second = Lineage.run(corpus, store, runId = "r2",
      ExtractPipeline.PipelineConfig(numPartitions = 4))
    checkRunMetrics("r2")
    val secondIds = second.map(_.doc_id).collect().toSet
    // r2 re-extracts only uncommitted docs (failures retry + the second half)
    assert(secondIds.size == 100 - committed.size)
    assert(committed.intersect(secondIds).isEmpty)
    assert(store.committedRuns == Seq("r1", "r2"))
    intercept[IllegalArgumentException](store.runMetrics(spark, "r3"))
  }

  test("metrics rows aggregate docs/bytes/spans/failures") {
    import spark.implicits._
    val corpus = SynthCorpus.generate(spark, 100L, seed = 42L, partitions = 4)
    val result = ExtractPipeline.extract(corpus, ExtractPipeline.PipelineConfig(numPartitions = 4))
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

  private def withMixedPartitions(body: org.apache.spark.sql.Dataset[ExtractedDoc] => Unit): Unit = {
    val cfg = ExtractPipeline.PipelineConfig(numPartitions = 4, megaDocBytes = 2048)
    val corpus = SynthCorpus.generate(spark, 40L, seed = 42L, partitions = inputPartitions)
    val result = ExtractPipeline.extract(corpus, cfg).persist()
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

  test("empty commit: rerunning a fully committed input commits empty tables") {
    val tmp = java.nio.file.Files.createTempDirectory("lineage").toString
    val store = new ParquetSnapshotStore(tmp)
    val cfg = ExtractPipeline.PipelineConfig(numPartitions = 4)
    // without the failing docs (doc_id % 20 == 18) the first run commits every doc
    val clean = SynthCorpus.generate(spark, 40L, seed = 42L, partitions = 4)
      .filter(d => d.doc_id.drop(3).toLong % 20 != 18)
    Lineage.run(clean, store, "r1", cfg)
    assert(store.committedDocIds(spark).count() == 38)
    Lineage.run(clean, store, "r2", cfg)
    assert(store.committedRuns == Seq("r1", "r2"))
    assert(spark.read.parquet(s"$tmp/output/run=r2").count() == 0)
    assert(spark.read.parquet(s"$tmp/manifest/run=r2").count() == 0)
    assert(store.runMetrics(spark, "r2").count() == 0)
  }

  test("commitRun refuses a committed run id and still commits a crashed one") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("lineage").toString
    val store = new ParquetSnapshotStore(tmp)
    val cfg = ExtractPipeline.PipelineConfig(numPartitions = 2)
    val corpus = SynthCorpus.generate(spark, 20L, seed = 42L, partitions = 2)
    def output(runId: String) = spark.read.parquet(s"$tmp/output/run=$runId").as[ExtractedDoc]
      .collect().map(d => (d.doc_id, d.failure, d.bytes, d.spans.size)).sortBy(_._1).toSeq
    store.commitRun("r1", ExtractPipeline.extract(corpus.filter(d => d.doc_id.drop(3).toLong < 10), cfg))
    val before = output("r1")
    assert(before.length == 10)
    intercept[IllegalArgumentException](store.commitRun("r1", ExtractPipeline.extract(corpus, cfg)))
    assert(output("r1") == before)
    assert(store.committedRuns == Seq("r1"))
    // a crashed run left a partial output and no marker: committing it again works
    spark.range(3).write.parquet(s"$tmp/output/run=r2")
    store.commitRun("r2", ExtractPipeline.extract(corpus, cfg))
    assert(output("r2").length == 20)
    assert(store.committedRuns == Seq("r1", "r2"))
  }

  test("commitRun refuses a run id resume could not see or the marker could not name") {
    val tmp = java.nio.file.Files.createTempDirectory("lineage")
    val store = new ParquetSnapshotStore(tmp.toString)
    val result = ExtractPipeline.extract(SynthCorpus.generate(spark, 4L, seed = 42L, partitions = 1),
      ExtractPipeline.PipelineConfig(numPartitions = 1))
    for (runId <- Seq(".r1", "a/b", ""))
      intercept[IllegalArgumentException](store.commitRun(runId, result))
    assert(!java.nio.file.Files.exists(tmp.resolve("output")))
    assert(store.committedRuns.isEmpty)
  }
}
