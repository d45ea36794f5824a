package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline, over the
  * `documents` table. Everything is computed with higher-order functions on
  * the words array — per-row, codegen'd, no explode, no UDFs — so the plan
  * is a single narrow projection over the parquet scan at any scale.
  *
  * Determinism discipline: all ratios are exact integers (x10000 fixed
  * point via integer div); hashes derive from md5 (identical in Spark and
  * DuckDB); folds use explicit zero values (DuckDB list_reduce gets the
  * zero via list_prepend).
  */
object TextAnalysis {

  /** words = whitespace split minus empties — identical in both engines. */
  private val WordsExpr = "filter(split(text, ' '), w -> w <> '')"

  /** Token counting: whitespace tokens + BPE-ish regex tokens (letter runs,
    * digit runs, single punctuation) + char count.
    */
  def textTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, dir, "documents", "doc_id")
      .select(col("doc_id"),
        expr(s"size($WordsExpr)").as("ws_tokens"),
        expr("size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0))").as("re_tokens"),
        length(col("text")).as("n_chars"))
      .orderBy(col("doc_id"))

  /** Quality metric columns over (text, words) — shared by [[textQuality]]
    * and the end-to-end curation pipeline (`Extraction.extractCurate`).
    *
    * THREE-LAYER CONTRACT: these formulas are restated in plain Scala in
    * `Extraction.seqCurate` (the sequential expectation mirror) and in
    * DuckDB SQL in the `text_quality` / `extract_curate` oracles — edit
    * all three together or the hash compare breaks with a cross-layer diff.
    */
  private[queries] def withQualityCols(df: DataFrame): DataFrame = {
    // round 6: the raw tallies (word count, Σ word length, punct chars,
    // stopword hits, distinct words) come from ONE codegen'd pass
    // (text_stats) instead of six interpreted HOF folds over the words
    // array; the x10k fixed-point FORMULAS are unchanged and still live
    // here in SQL form — same values, same types, same three-layer
    // contract with seqCurate and the DuckDB oracles.
    df.withColumn("q_ts", graft.functions.VectorExpressions.text_stats(col("text")))
      .withColumn("n_words", expr("q_ts.n_words"))
      .withColumn("mean_wlen_x10k",
        expr("q_ts.sum_wlen * 10000L div greatest(n_words, 1)"))
      .withColumn("punct_x10k",
        expr("q_ts.n_punct * 10000L div greatest(q_ts.n_cp, 1L)"))
      .withColumn("stop_x10k",
        expr("q_ts.n_stop * 10000L div greatest(n_words, 1)"))
      .withColumn("uniq_x10k",
        expr("q_ts.n_uniq * 10000L div greatest(n_words, 1)"))
      .withColumn("quality_x10k",
        expr("(stop_x10k * 3 + uniq_x10k * 2 + (10000 - punct_x10k) * 5) div 10"))
      .drop("q_ts")
  }

  /** Stopword-hit language scores + prediction over a `words` column —
    * shared by [[textLangId]] and the curation pipeline. Mirrored in
    * `Extraction.seqCurate` and the `text_langid` oracle SQL — keep the
    * three in lockstep (see [[withQualityCols]]).
    */
  private[queries] def withPredictedLang(df: DataFrame): DataFrame = {
    // language-set hit counts from the same one-pass text_stats kernel
    // (word lists live in VectorExpressions.WordMask — three-layer
    // contract with seqCurate and the oracle SQL); the priority-tiebreak
    // CASE is unchanged
    df.withColumn("l_ts", graft.functions.VectorExpressions.text_stats(col("text")))
      .withColumn("s_en", expr("l_ts.s_en"))
      .withColumn("s_de", expr("l_ts.s_de"))
      .withColumn("s_es", expr("l_ts.s_es"))
      .withColumn("s_fr", expr("l_ts.s_fr"))
      .withColumn("predicted_lang",
        expr("""case when s_en >= greatest(s_de, s_es, s_fr) then 'en'
                     when s_de >= greatest(s_es, s_fr) then 'de'
                     when s_es >= s_fr then 'es'
                     else 'fr' end"""))
      .drop("l_ts")
  }

  /** Quality scoring: punctuation / stopword / unique-word ratios and mean
    * word length in exact x10000 fixed point, combined into a score.
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    withQualityCols(Tables.spread(spark, dir, "documents", "doc_id").withColumn("words", expr(WordsExpr)))
      .select(col("doc_id"),
        length(col("text")).as("n_chars"),
        col("n_words"), col("mean_wlen_x10k"), col("punct_x10k"),
        col("stop_x10k"), col("uniq_x10k"), col("quality_x10k"))
      .orderBy(col("doc_id"))

  /** Language ID by stopword-set hits (n-gram-free heuristic; deterministic
    * priority tiebreak en > de > es > fr).
    */
  def textLangId(spark: SparkSession, dir: String): DataFrame =
    withPredictedLang(Tables.spread(spark, dir, "documents", "doc_id").withColumn("words", expr(WordsExpr)))
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        col("s_en"), col("s_de"), col("s_es"), col("s_fr"), col("predicted_lang"))
      .orderBy(col("doc_id"))

  /** Document fingerprinting: order-sensitive polynomial rolling hash over
    * word hashes, mod a sub-2^53 prime (no 64-bit overflow in either
    * engine: acc*131 + h < 2^62).
    */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, dir, "documents", "doc_id")
      .select(col("doc_id"),
        graft.functions.VectorExpressions.fingerprint64(col("text")).as("fingerprint"),
        expr(s"size($WordsExpr)").as("n_words"))
      .orderBy(col("doc_id"))

  /** Vocabulary statistics per source: exact distinct words (the corpus-
    * curation shape; at 100 TB the exact count is one shuffle on
    * (source, word) with partial aggregation — swap count_distinct for
    * approx_count_distinct when ±2% suffices and the shuffle must go).
    */
  def textVocab(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, dir, "documents", "doc_id")
      .select(col("source"), explode(expr(WordsExpr)).as("w"))
      .groupBy(col("source"))
      .agg(countDistinct(col("w")).as("vocab"),
        count(lit(1)).as("tokens"))
      .orderBy(col("source"))

  // ── boilerplate stripping (north-star additive capability) ───────────────
  // The block classifier isn't SQL-expressible, so the oracle follows the
  // extraction-envelope pattern: a deterministic HTML wrap of each document,
  // stripped SEQUENTIALLY via graft.core.Boilerplate.extractContent into an
  // expectation parquet; the contract query strips the same HTML through the
  // codegen'd strip_boilerplate Catalyst expression — the DuckDB compare
  // verifies the expression + distributed plumbing against the plain JVM
  // call.

  /** Deterministic boilerplate-heavy HTML wrap of a document (pure function
    * — shared by the query and the expectation writer). Chrome: link-only
    * nav, header, link-dense aside, footer; content: the document text in
    * 40-word paragraphs. Text is injected raw (no escaping) on purpose —
    * the tolerant tokenizer must survive arbitrary corpus bytes.
    */
  private[queries] def htmlWrap(docId: String, source: String, text: String): String = {
    val paras = text.split(" ").filter(_.nonEmpty).grouped(40)
      .map(ws => s"<p>${ws.mkString(" ")}</p>").mkString("\n")
    val nav = (0 until 6).map(i => s"""<a href="/$source/$i">$source link $i</a>""").mkString(" | ")
    s"""<html><head><title>$docId</title><style>body{margin:0}</style></head><body>
       |<nav>$nav</nav>
       |<header><h1>$docId on $source</h1></header>
       |<div id="main">$paras</div>
       |<aside><a href="/rel">related</a> <a href="/sh">share</a> <a href="/pr">print</a></aside>
       |<footer>© $source — <a href="/privacy">privacy</a> <a href="/terms">terms</a></footer>
       |</body></html>""".stripMargin
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  private def bpExpectedPath(dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-bp-expected-r4-${dir.replaceAll("[^A-Za-z0-9.]", "_")}"

  /** Sequential strip per doc → expectation parquet (idempotent). */
  def ensureBoilerplateExpectation(spark: SparkSession, dir: String): String = synchronized {
    val path = bpExpectedPath(dir)
    if (!new java.io.File(path, "_SUCCESS").exists()) {
      import spark.implicits._
      Tables.spread(spark, dir, "documents", "doc_id")
        .select(col("doc_id"), col("source"), col("text"))
        .as[(String, String, String)]
        .map { case (id, src, text) =>
          val content = graft.core.Boilerplate.extractContent(htmlWrap(id, src, text))
          (id, md5hex(content), content.codePointCount(0, content.length))
        }
        .toDF("doc_id", "content_md5", "content_chars")
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
    path
  }

  /** Contract query: HTML wrap → codegen'd strip_boilerplate → content
    * digest + size per doc. One narrow projection over the scan; the
    * expression evaluates once per output column via a subexpression-
    * eliminated local.
    */
  def textBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ensureBoilerplateExpectation(spark, dir)
    val stripped = graft.functions.SpanExpressions.strip_boilerplate(col("html"))
    Tables.spread(spark, dir, "documents", "doc_id")
      .select(col("doc_id"), col("source"), col("text"))
      .as[(String, String, String)]
      .map { case (id, src, text) => (id, htmlWrap(id, src, text)) }
      .toDF("doc_id", "html")
      .select(col("doc_id"),
        md5(stripped).as("content_md5"),
        length(stripped).as("content_chars"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_vocab" -> (textVocab _),
    "text_tokens" -> (textTokens _),
    "text_quality" -> (textQuality _),
    "text_langid" -> (textLangId _),
    "text_fingerprint" -> (textFingerprint _),
    "text_boilerplate" -> (textBoilerplate _)
  )

  private val WordsSql = "list_filter(string_split(text, ' '), w -> w <> '')"
  private val WhSql = "CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT)"

  /** Oracle SQL as a PURE function of the sf dir (no mutable gate state —
    * a partial run or per-query invocation gets the same paths Verify's
    * full pass would; the boilerplate expectation path embeds `dir`).
    */
  def oracle(dir: String): Map[String, String] = Map(
    "text_boilerplate" ->
      s"""SELECT doc_id, content_md5, content_chars
          FROM '${bpExpectedPath(dir)}/*.parquet' ORDER BY doc_id""",
    "text_vocab" ->
      s"""SELECT source, COUNT(DISTINCT w) AS vocab, COUNT(*) AS tokens
          FROM (SELECT source, unnest($WordsSql) AS w FROM documents) t
          GROUP BY source ORDER BY source""",
    "text_tokens" ->
      s"""SELECT doc_id, len($WordsSql) AS ws_tokens,
          len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS re_tokens,
          length(text) AS n_chars
          FROM documents ORDER BY doc_id""",
    "text_quality" ->
      s"""WITH t AS (
            SELECT doc_id, text, $WordsSql AS words FROM documents),
          m AS (
            SELECT doc_id, length(text) AS n_chars, len(words) AS n_words,
              list_sum(list_transform(words, w -> length(w))) * 10000 // greatest(len(words), 1) AS mean_wlen_x10k,
              length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) * 10000 // greatest(length(text), 1) AS punct_x10k,
              len(list_filter(words, w -> w in ('the','and','of','to','a','in','is','der','die','das','und','el','la','de'))) * 10000 // greatest(len(words), 1) AS stop_x10k,
              len(list_distinct(words)) * 10000 // greatest(len(words), 1) AS uniq_x10k
            FROM t)
          SELECT doc_id, n_chars, n_words,
            CAST(mean_wlen_x10k AS BIGINT) AS mean_wlen_x10k,
            CAST(punct_x10k AS BIGINT) AS punct_x10k,
            CAST(stop_x10k AS BIGINT) AS stop_x10k,
            CAST(uniq_x10k AS BIGINT) AS uniq_x10k,
            CAST((stop_x10k * 3 + uniq_x10k * 2 + (10000 - punct_x10k) * 5) // 10 AS BIGINT) AS quality_x10k
          FROM m ORDER BY doc_id""",
    "text_langid" ->
      s"""WITH t AS (SELECT doc_id, lang, $WordsSql AS words FROM documents),
          s AS (SELECT doc_id, lang AS labeled_lang,
              len(list_filter(words, w -> w in ('the','and','of','to','a','in','is','for','on','with'))) AS s_en,
              len(list_filter(words, w -> w in ('der','die','das','und','ist','von','mit','für','auf','ein'))) AS s_de,
              len(list_filter(words, w -> w in ('el','la','de','que','y','en','los','se','del','un'))) AS s_es,
              len(list_filter(words, w -> w in ('le','la','les','et','des','un','une','du','dans','est'))) AS s_fr
            FROM t)
          SELECT doc_id, labeled_lang, s_en, s_de, s_es, s_fr,
            CASE WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
                 WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
                 WHEN s_es >= s_fr THEN 'es'
                 ELSE 'fr' END AS predicted_lang
          FROM s ORDER BY doc_id""",
    "text_fingerprint" ->
      s"""WITH t AS (
            SELECT doc_id, list_transform($WordsSql, w -> $WhSql) AS hs
            FROM documents)
          SELECT doc_id,
            CAST(list_reduce(list_prepend(0, hs), (acc, x) -> (acc * 131 + x) % 9007199254740881) AS BIGINT) AS fingerprint,
            len(hs) AS n_words
          FROM t ORDER BY doc_id"""
  )
}
