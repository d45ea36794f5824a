package graft.queries

import graft.pipeline.{Doc, ExtractPipeline, Span, SynthCorpus}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wide per-media-row expectation record (sequential driver-side kernels;
  * nulls for non-applicable modalities) — top level because Catalyst's
  * encoder codegen can't reach object-nested private classes.
  */
case class MediaExpect(
    media_ref: String, mime: String,
    img_width: Option[Int], img_height: Option[Int],
    img_channels: Option[Int], img_pixel_hash: Option[Long],
    rz_width: Option[Int], rz_height: Option[Int], rz_pixel_hash: Option[Long],
    au_sample_rate: Option[Int], au_channels: Option[Int],
    au_n_samples: Option[Int], au_duration_ms: Option[Int],
    au_rms_x100: Option[Long], au_zero_crossings: Option[Int], au_peak: Option[Int],
    vid_n_frames: Option[Long])

/** The extraction pipeline itself, surfaced through the driver contract.
  * The interleaved-span input table (BASELINE.json input_hint) is
  * synthesized deterministically (seed 42) at a size scaled to the sf dir —
  * the extraction kernels aren't SQL-expressible, so these register either
  * rows-only checks or DuckDB oracles over the *relational envelope*
  * (counts / failure codes / span statistics with deterministic values).
  */
object Extraction {

  /** Corpus size per sf dir: correctness gate (sf0.01) runs 2000 docs. */
  def corpusSize(dir: String): Long =
    if (dir.contains("0.1")) 20000L else if (dir.contains("0.01")) 2000L else 200L

  /** Salting threshold scaled down to the demo corpus (mega-docs here are
    * ~50-100 KB; production default is 512 KB+).
    */
  val DemoCfg: ExtractPipeline.PipelineConfig =
    ExtractPipeline.PipelineConfig(megaDocBytes = 16 * 1024)

  /** The interleaved corpus as a PARQUET TABLE (materialized once per
    * size, deterministic): the production shape is scan → kernel, and the
    * dual-branch extract plan scans its input twice — re-deriving the
    * corpus through the generator in every subtree timed generation (a
    * test-fixture detail), not the pipeline.
    */
  private def corpus(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[Doc] = {
    val n = corpusSize(dir)
    val path = s"${sys.props("java.io.tmpdir")}/graft-corpus-$ExpectationVersion-$n"
    synchronized {
      if (!new java.io.File(path, "_SUCCESS").exists())
        SynthCorpus.generate(spark, n, seed = 42L)
          .write.mode("overwrite").parquet(path)
    }
    spark.read.parquet(path)
      .as[Doc](org.apache.spark.sql.Encoders.product[Doc])
  }

  /** Pre-materialize the contract corpus parquet (Bench phase-0 hook: on a
    * host with a scrubbed /tmp the first timed extract_* query would
    * otherwise be billed the corpus generate+write).
    */
  def ensureCorpus(spark: SparkSession, dir: String): Unit = { corpus(spark, dir); () }

  private def extracted(spark: SparkSession, dir: String) =
    ExtractPipeline.extract(corpus(spark, dir), DemoCfg)

  // ── extraction-envelope oracle ────────────────────────────────────────────
  // The interleaved corpus never materializes as one of the sf parquet
  // tables, so the DuckDB oracle can't recompute the envelope from a view.
  // Instead the generator writes a per-doc EXPECTATION table to a
  // deterministic tmp path: each row is the single-doc, unsalted kernel run
  // (graft.core.Extractor — golden-tested against the reference's own
  // constants under `sbt -batch test`). The oracle SQL reads that parquet
  // directly, so the DuckDB compare verifies the DISTRIBUTED pipeline
  // (salting, chunk merge, shuffle, regroup) against the sequential kernel —
  // exactly the layer the rows-only check couldn't see. Bump the version
  // token whenever generator or kernel semantics change (stale /tmp files).
  private val ExpectationVersion = "r4"

  private def expectedPathForSize(n: Long): String =
    s"${sys.props("java.io.tmpdir")}/graft-expected-$ExpectationVersion-$n"

  private def mediaExpectedPathForSize(n: Long): String =
    s"${sys.props("java.io.tmpdir")}/graft-media-expected-$ExpectationVersion-$n"

  /** One MD5 hex digest (matches Spark's and DuckDB's `md5`). */
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** Sequential mirror of the curate derivation over one extracted text
    * (TextAnalysis.withQualityCols / withPredictedLang column formulas,
    * restated as plain integer Scala): (md5, chars, predicted_lang,
    * quality_decile). The distributed query recomputes these through
    * Catalyst HOFs; the DuckDB oracle replays dedup + rollup over THESE
    * per-doc values — any drift in either layer breaks the hash compare.
    * THREE-LAYER CONTRACT with `TextAnalysis.withQualityCols` /
    * `withPredictedLang` and the `extract_curate` oracle SQL below: edit
    * the formulas in all three places together.
    */
  private def seqCurate(text: String): (String, Long, String, Long) = {
    val words = text.split(" ").filter(_.nonEmpty)
    val nWords = math.max(words.length, 1).toLong
    val nChars = text.codePointCount(0, text.length).toLong
    val stripped = text.replaceAll("[A-Za-z0-9 ]", "")
    val punct = stripped.codePointCount(0, stripped.length) * 10000L / math.max(nChars, 1L)
    val stops = Set("the", "and", "of", "to", "a", "in", "is", "der", "die",
      "das", "und", "el", "la", "de")
    val stop = words.count(stops) * 10000L / nWords
    val uniq = words.distinct.length * 10000L / nWords
    val quality = (stop * 3 + uniq * 2 + (10000 - punct) * 5) / 10
    val decile = math.min(math.max(quality / 1000, 0L), 9L)
    val en = Set("the", "and", "of", "to", "a", "in", "is", "for", "on", "with")
    val de = Set("der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein")
    val es = Set("el", "la", "de", "que", "y", "en", "los", "se", "del", "un")
    val fr = Set("le", "la", "les", "et", "des", "un", "une", "du", "dans", "est")
    val (sEn, sDe, sEs, sFr) = (words.count(en), words.count(de), words.count(es), words.count(fr))
    val lang =
      if (sEn >= math.max(sDe, math.max(sEs, sFr))) "en"
      else if (sDe >= math.max(sEs, sFr)) "de"
      else if (sEs >= sFr) "es"
      else "fr"
    (md5hex(text), nChars, lang, decile)
  }

  /** Sequential mirror of the OCR-queue join for one doc: (matched image
    * count, total PNG bytes) — kernel media refs resolved against a
    * sequentially-materialized ref→bytes map (same per-payload
    * [[graft.core.pdf.PdfImages.extractAll]] kernel the distributed
    * pipeline runs; the distribution — semi-join, byte stage, equi-join —
    * is what the oracle then actually checks).
    */
  private def seqOcr(doc: Doc, kernelRefs: Seq[String]): (Long, Long) = {
    val pdfRefs = kernelRefs.filter(_.startsWith("pdf:"))
    if (pdfRefs.isEmpty) return (0L, 0L)
    val byteMap = scala.collection.mutable.HashMap.empty[String, Long]
    doc.spans.filter(s => s.kind == "pdf" || s.kind == "bin").foreach { s =>
      val payload = graft.core.Extractor.decodePayload(s.text)
      if (graft.core.Extractor.sniff(payload) == "pdf") {
        try graft.core.pdf.PdfImages.extractAll(payload).foreach {
          case (p, name, ext, _, bytes) =>
            byteMap(s"pdf:${doc.doc_id}/page$p/$name.$ext") = bytes.length.toLong
        } catch { case _: Exception => }
      }
    }
    val matched = pdfRefs.filter(byteMap.contains)
    (matched.size.toLong, matched.map(byteMap).sum)
  }

  /** Write the expectation parquet for this sf dir if absent (idempotent;
    * Bench calls it untimed so contract-query timings stay pure). One row
    * per doc = the single-doc, unsalted kernel run plus the sequential
    * curate/OCR/salting mirrors — every extract_* oracle reads this table.
    */
  def ensureExpectation(spark: SparkSession, dir: String): String = synchronized {
    val path = expectedPathForSize(corpusSize(dir))
    if (!new java.io.File(path, "_SUCCESS").exists()) {
      import spark.implicits._
      SynthCorpus.generate(spark, corpusSize(dir), seed = 42L)
        .map { d =>
          val sorted = d.spans.sortBy(_.offset)
          val r = graft.core.Extractor.extract(d.doc_id, sorted, DemoCfg.extractor)
          val nChunks = ExtractPipeline.splitChunks(d, DemoCfg).length
          val curate: Option[(String, Long, String, Long)] =
            if (r.failure.nonEmpty) None
            else Some(seqCurate(r.spans.iterator.filter(_.kind == "text").map(_.text).mkString("\n")))
          val (ocrImages, ocrBytes) =
            if (r.failure.nonEmpty) (0L, 0L)
            else seqOcr(d, r.spans.collect { case s if s.kind == "media" => s.media_ref })
          (d.doc_id, r.spans.size.toLong,
            r.spans.iterator.map(_.text.length.toLong).sum,
            r.spans.count(_.kind == "media").toLong,
            r.failure,
            sorted.filter(_.kind == "media").map(_.media_ref).mkString("|"),
            r.spans.filter(_.kind == "media").map(_.media_ref).mkString("|"),
            nChunks,
            curate.map(_._1), curate.map(_._2), curate.map(_._3), curate.map(_._4),
            ocrImages, ocrBytes)
        }
        .toDF("doc_id", "n_spans", "n_chars", "n_media", "failure", "in_refs",
          "out_refs", "n_chunks", "text_md5", "curate_chars", "predicted_lang",
          "quality_decile", "ocr_n_images", "ocr_png_bytes")
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** Sequential media expectation: a DRIVER-SIDE loop over the same
    * deterministic media rows, running the same per-row kernels the
    * distributed media queries run via mapPartitions — the oracle then
    * verifies the Spark plumbing (partitioned synth, per-partition decode,
    * aggregation) against a plain single-threaded execution.
    */
  def ensureMediaExpectation(spark: SparkSession, dir: String): String = synchronized {
    val n = corpusSize(dir) / 2
    val path = mediaExpectedPathForSize(n)
    if (!new java.io.File(path, "_SUCCESS").exists()) {
      import spark.implicits._
      import graft.pipeline.Multimodal
      val rows = (0L until n).map { id =>
        val m = Multimodal.synthRow(id)
        val base = MediaExpect(m.media_ref, m.mime,
          None, None, None, None, None, None, None,
          None, None, None, None, None, None, None, None)
        if (m.mime.startsWith("image/")) {
          val di = Multimodal.decodeImageRow(m)
          val rz = Multimodal.resizeImageRow(m, maxDim = 12)
          base.copy(
            img_width = Some(di.width), img_height = Some(di.height),
            img_channels = Some(di.channels), img_pixel_hash = Some(di.pixel_hash),
            rz_width = rz.map(_.width), rz_height = rz.map(_.height),
            rz_pixel_hash = rz.map(_.pixel_hash))
        } else if (m.mime.startsWith("audio/")) {
          val da = Multimodal.decodeAudioRow(m)
          base.copy(
            au_sample_rate = Some(da.sample_rate), au_channels = Some(da.channels),
            au_n_samples = Some(da.n_samples), au_duration_ms = Some(da.duration_ms),
            au_rms_x100 = Some(da.rms_x100), au_zero_crossings = Some(da.zero_crossings),
            au_peak = Some(da.peak))
        } else
          base.copy(vid_n_frames =
            Some(Multimodal.sampleFrameRows(m, everyMs = 10000).size.toLong))
      }
      spark.createDataset(rows).coalesce(1).write.mode("overwrite").parquet(path)
    }
    path
  }

  /** Flagship: full extraction, one summary row per doc, deterministic
    * values (span counts, char counts, failure codes). Rows-only check from
    * the driver; span-level equality runs under `sbt -batch test`.
    */
  def extractPipeline(spark: SparkSession, dir: String): DataFrame = {
    ensureExpectation(spark, dir)
    // columnar envelope fold (round 6): the typed .map this replaces
    // deserialized every ExtractedDoc — payload span texts included — into
    // JVM objects just to count spans/chars; span_stats computes the same
    // three values in one codegen'd pass over the serialized span array
    // (UTF-16 length semantics identical to String.length)
    val st = graft.functions.SpanExpressions.span_stats(col("spans"))
    extracted(spark, dir).toDF()
      .select(col("doc_id"),
        st.getField("n_spans").as("n_spans"),
        st.getField("n_chars").as("n_chars"),
        st.getField("n_media").as("n_media"),
        col("failure"))
      .orderBy(substring(col("doc_id"), 4, 12).cast("long"))
  }

  /** Failure-code distribution over the synthetic corpus — deterministic
    * (doc_id mod 20 == 18 rows are the failure class; the sub-kind cycles
    * by seeded rng). Rows-only check (values asserted in ScalaTest).
    */
  def extractFailureCodes(spark: SparkSession, dir: String): DataFrame = {
    ensureExpectation(spark, dir)
    // column expression instead of a typed map: only `failure` is read, so
    // Catalyst prunes the span payloads out of the post-kernel projection
    // entirely (the map deserialized them all); sum-of-ones ≡ count
    extracted(spark, dir).toDF()
      .select(when(col("failure") === "", "ok").otherwise(col("failure")).as("code"))
      .groupBy(col("code")).agg(count(lit(1)).as("docs"))
      .orderBy(col("code"))
  }

  /** Media passthrough invariant, SQL-checkable: every media span of every
    * non-failed doc survives extraction with its media_ref intact, in
    * order. Output: (doc_id, media_refs concatenated) — compared against
    * the same derivation computed directly from the deterministic
    * generator via a second Spark path (input side), NOT DuckDB (the
    * corpus never materializes as parquet). Registered rows-only.
    */
  /** Media-ref concatenation as a column expression: filter media spans
    * FIRST (the payload texts never enter the sort), order the small
    * media-only array by offset, then join the refs. Equivalent to the
    * typed `sortBy(_.offset).filter(_.kind=="media").map(_.media_ref)`
    * fold it replaces — offsets are unique per doc, and filtering commutes
    * with a sort on a key the filter doesn't touch.
    */
  private def joinedMediaRefs: org.apache.spark.sql.Column =
    expr("""array_join(
             transform(
               array_sort(
                 filter(spans, s -> s.kind = 'media'),
                 (l, r) -> case when l.offset < r.offset then -1
                                when l.offset > r.offset then 1 else 0 end),
               s -> s.media_ref), '|')""")

  def extractMediaPassthrough(spark: SparkSession, dir: String): DataFrame = {
    ensureExpectation(spark, dir)
    val inputRefs = corpus(spark, dir).toDF()
      .select(col("doc_id"), joinedMediaRefs.as("in_refs"))
    val outRefs = extracted(spark, dir).toDF()
      .where(col("failure") === "")
      .select(col("doc_id"), joinedMediaRefs.as("out_refs"))
    inputRefs.join(outRefs, Seq("doc_id"))
      .select(col("doc_id"),
        (col("in_refs") === col("out_refs")).as("refs_preserved"))
      .groupBy(col("refs_preserved")).agg(count(lit(1)).as("docs"))
      .orderBy(col("refs_preserved"))
  }

  /** Salting distribution over the real pipeline: how mega-docs spread into
    * chunks. Deterministic; rows-only.
    */
  def extractSaltSpread(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ensureExpectation(spark, dir)
    corpus(spark, dir).flatMap(d => ExtractPipeline.splitChunks(d, DemoCfg))
      .map(c => (c.nChunks > 1, c.salt))
      .toDF("is_mega", "salt")
      .groupBy(col("is_mega"), col("salt"))
      .agg(count(lit(1)).as("chunks"))
      .orderBy(col("is_mega"), col("salt"))
  }

  /** End-to-end curation composition — the "switch to this library" user
    * story in one plan: extract the interleaved corpus → keep ok docs →
    * concat text spans → EXACT dedup (first doc per content hash) →
    * quality score + language ID on the extracted text → summary per
    * (predicted language, quality decile). Deterministic (rows-only check;
    * every stage it composes is individually oracled or golden-tested).
    * Scale shape: one kernel stage, one dedup shuffle on md5(text), one
    * final tiny aggregate.
    */
  def extractCurate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    ensureExpectation(spark, dir)
    // text-span concat as a column expression (filter + transform preserve
    // span order; kernel output spans are already offset-ordered) — the
    // typed map deserialized every extracted doc
    val texts = extracted(spark, dir).toDF()
      .where(col("failure") === "")
      .select(col("doc_id"),
        expr("array_join(transform(filter(spans, s -> s.kind = 'text'), s -> s.text), '\n')").as("text"))
      .where(length(col("text")) > 0)
    // Score FIRST, dedup SECOND (round 6, guide §2.3/§8: shuffle metadata,
    // not payloads): quality/langid/decile/length are per-row pure, so
    // computing them before the md5 window means the dedup exchange carries
    // ~40 bytes per doc instead of the full extracted text. Identical
    // result — rn=1 picks the same rows, and the survivors' metrics don't
    // depend on which side of the shuffle computed them.
    val scored = TextAnalysis.withPredictedLang(TextAnalysis.withQualityCols(
        texts.withColumn("words", expr("filter(split(text, ' '), w -> w <> '')"))))
      .withColumn("quality_decile", expr("least(greatest(quality_x10k div 1000, 0L), 9L)"))
      .select(col("doc_id"), md5(col("text")).as("h"),
        length(col("text")).as("len"), col("predicted_lang"), col("quality_decile"))
    val firstPerHash = Window.partitionBy(col("h"))
      .orderBy(expr("cast(substring(doc_id, 4, 12) as bigint)").asc)
    scored
      .withColumn("rn", row_number().over(firstPerHash))
      .where(col("rn") === 1)
      .groupBy(col("predicted_lang"), col("quality_decile"))
      .agg(count(lit(1)).as("docs"),
        sum(col("len")).as("chars"))
      .orderBy(col("predicted_lang"), col("quality_decile"))
  }

  /** The OCR feed, end to end (O2): extract → collect OCR-triggered PDF
    * media refs → semi-join the corpus down to just those documents →
    * materialize their embedded rasters ([[graft.pipeline.Multimodal.pdfMediaRows]])
    * → equi-join bytes back to refs → per-doc queue summary. This is the
    * scale-correct order: only OCR-triggered documents ever pay image
    * decode, and the ref join is an equi-join on media_ref (shuffle on the
    * ref key, broadcastable while the triggered minority is small).
    * Deterministic (PNG re-encode is within-JVM stable); rows-only check —
    * pixel-level correctness is pinned by PdfImagesSpec/MultimodalSpec
    * goldens.
    */
  def extractOcrQueue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ensureExpectation(spark, dir)
    // lazily checkpoint the ref list: it feeds BOTH the semi-join key set
    // and the final per-doc join — without the checkpoint the full
    // extraction kernel subtree appeared twice in the plan and ran twice
    // (round-6 plan audit: two identical Union(extract) subtrees)
    val refs = ExtractPipeline.extract(corpus(spark, dir), DemoCfg)
      .filter(_.failure == "")
      .flatMap(d => d.spans.iterator
        .filter(s => s.kind == "media" && s.media_ref.startsWith("pdf:"))
        .map(s => (d.doc_id, s.media_ref)))
      .toDF("doc_id", "media_ref")
      .localCheckpoint(eager = false)
    // broadcast the (tiny) triggered-doc key set: the semi-join otherwise
    // planned sort-merge and shuffled the WHOLE corpus payload on doc_id —
    // exactly the heavy-bytes shuffle the guide's §8 rule forbids; the
    // checkpointed key set is |triggered docs| rows and stays broadcastable
    // while the OCR-triggered minority is small (the scale assumption this
    // query documents)
    val queuedDocs = corpus(spark, dir)
      .join(broadcast(refs.select(col("doc_id")).distinct()), Seq("doc_id"), "left_semi")
      .as[Doc]
    val media = graft.pipeline.Multimodal.pdfMediaRows(queuedDocs)
      .toDF().select(col("media_ref"), col("mime"), octet_length(col("bytes")).as("png_bytes"))
    refs.join(broadcast(media), Seq("media_ref"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_images"), sum(col("png_bytes")).as("bytes"))
      .orderBy(substring(col("doc_id"), 4, 12).cast("long"))
  }

  /** Multimodal pipeline surfaced through the contract (rows-only: image
    * decode is REAL — JDK ImageIO over real PNG payloads, deterministic
    * because PNG is lossless — but not SQL-expressible in DuckDB).
    */
  def mediaDecode(spark: SparkSession, dir: String): DataFrame = {
    ensureMediaExpectation(spark, dir)
    val media = graft.pipeline.Multimodal.synthesizeClass(spark, corpusSize(dir) / 2, "image")
    graft.pipeline.Multimodal.decodeImages(media)
      .toDF().orderBy(col("media_ref"))
  }

  /** Real WAV decode over the synthetic media table (rows-only: PCM
    * statistics are not DuckDB-expressible over binary payloads).
    */
  def mediaAudio(spark: SparkSession, dir: String): DataFrame = {
    ensureMediaExpectation(spark, dir)
    val media = graft.pipeline.Multimodal.synthesizeClass(spark, corpusSize(dir) / 2, "audio")
    graft.pipeline.Multimodal.decodeAudio(media)
      .toDF().orderBy(col("media_ref"))
  }

  /** Real nearest-neighbor resize over the media table (rows-only). */
  def mediaResize(spark: SparkSession, dir: String): DataFrame = {
    ensureMediaExpectation(spark, dir)
    val media = graft.pipeline.Multimodal.synthesizeClass(spark, corpusSize(dir) / 2, "image")
    graft.pipeline.Multimodal.resizeImages(media, maxDim = 12)
      .toDF().select(col("media_ref"), col("width"), col("height"), col("pixel_hash"))
      .orderBy(col("media_ref"))
  }

  def mediaFrames(spark: SparkSession, dir: String): DataFrame = {
    ensureMediaExpectation(spark, dir)
    val media = graft.pipeline.Multimodal.synthesizeClass(spark, corpusSize(dir) / 2, "video")
    graft.pipeline.Multimodal.sampleFrames(media, everyMs = 10000)
      .groupBy(col("media_ref")).agg(count(lit(1)).as("n_frames"))
      .orderBy(col("media_ref"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "extract_pipeline" -> (extractPipeline _),
    "extract_failure_codes" -> (extractFailureCodes _),
    "extract_media_passthrough" -> (extractMediaPassthrough _),
    "extract_salt_spread" -> (extractSaltSpread _),
    "extract_curate" -> (extractCurate _),
    "extract_ocr_queue" -> (extractOcrQueue _),
    "media_decode" -> (mediaDecode _),
    "media_audio_decode" -> (mediaAudio _),
    "media_resize" -> (mediaResize _),
    "media_frame_sample" -> (mediaFrames _)
  )

  // Every extraction/media query is oracled against the expectation
  // parquets (sequential kernels / driver-side loops) — the DuckDB compare
  // then verifies the DISTRIBUTED layer: salting, chunk merge, semi-joins,
  // per-partition decode, aggregation. The paths are a PURE function of
  // the sf dir (no mutable gate state — a partial run, a second caller, or
  // a per-query invocation all derive the same paths the queries do).
  def oracle(dir: String): Map[String, String] = {
    val exp = s"'${expectedPathForSize(corpusSize(dir))}/*.parquet'"
    val mexp = s"'${mediaExpectedPathForSize(corpusSize(dir) / 2)}/*.parquet'"
    Map(
      "extract_pipeline" ->
        s"""SELECT doc_id, n_spans, n_chars, n_media, failure
            FROM $exp ORDER BY CAST(substring(doc_id, 4, 12) AS BIGINT)""",
      "extract_failure_codes" ->
        s"""SELECT CASE WHEN failure = '' THEN 'ok' ELSE failure END AS code,
              COUNT(*) AS docs
            FROM $exp GROUP BY 1 ORDER BY code""",
      "extract_media_passthrough" ->
        s"""SELECT (in_refs = out_refs) AS refs_preserved, COUNT(*) AS docs
            FROM $exp WHERE failure = '' GROUP BY 1 ORDER BY 1""",
      // salting replay: a doc split into k chunks occupies salts 0..k−1
      "extract_salt_spread" ->
        s"""SELECT n_chunks > 1 AS is_mega, CAST(salt AS INT) AS salt,
              COUNT(*) AS chunks
            FROM (SELECT n_chunks, unnest(range(n_chunks)) AS salt FROM $exp)
            GROUP BY 1, 2 ORDER BY 1, 2""",
      // dedup + rollup replayed in SQL over the sequential per-doc fields
      "extract_curate" ->
        s"""SELECT predicted_lang, quality_decile, COUNT(*) AS docs,
              CAST(SUM(curate_chars) AS BIGINT) AS chars
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY text_md5
                    ORDER BY CAST(substring(doc_id, 4, 12) AS BIGINT)) AS rn
                  FROM $exp WHERE failure = '' AND curate_chars > 0)
            WHERE rn = 1
            GROUP BY 1, 2 ORDER BY 1, 2""",
      "extract_ocr_queue" ->
        s"""SELECT doc_id, ocr_n_images AS n_images, ocr_png_bytes AS bytes
            FROM $exp WHERE ocr_n_images > 0
            ORDER BY CAST(substring(doc_id, 4, 12) AS BIGINT)""",
      "media_decode" ->
        s"""SELECT media_ref, img_width AS width, img_height AS height,
              img_channels AS channels, img_pixel_hash AS pixel_hash
            FROM $mexp WHERE mime LIKE 'image/%' ORDER BY media_ref""",
      "media_resize" ->
        s"""SELECT media_ref, rz_width AS width, rz_height AS height,
              rz_pixel_hash AS pixel_hash
            FROM $mexp WHERE mime LIKE 'image/%' AND rz_width IS NOT NULL
            ORDER BY media_ref""",
      "media_audio_decode" ->
        s"""SELECT media_ref, au_sample_rate AS sample_rate,
              au_channels AS channels, au_n_samples AS n_samples,
              au_duration_ms AS duration_ms, au_rms_x100 AS rms_x100,
              au_zero_crossings AS zero_crossings, au_peak AS peak
            FROM $mexp WHERE mime LIKE 'audio/%' ORDER BY media_ref""",
      "media_frame_sample" ->
        s"""SELECT media_ref, vid_n_frames AS n_frames
            FROM $mexp WHERE mime LIKE 'video/%' ORDER BY media_ref"""
    )
  }
}
