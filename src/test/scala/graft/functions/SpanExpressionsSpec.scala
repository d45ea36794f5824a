package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

class SpanExpressionsSpec extends AnyFunSuite {

  // a new session, so its extensions apply even when another suite's
  // session is already the default
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .withExtensions(new GraftExtensions())
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .create()

  test("dehyphenate expression matches the kernel, in codegen and SQL") {
    import spark.implicits._
    val df = Seq("Stra-\nße\n", "EU-\nInstitution\n", "E-\nMail\n", "plain\n")
      .toDF("t")
    val viaColumn = df.select(SpanExpressions.dehyphenate(col("t"), lit(false)).as("d"))
      .as[String].collect().toSeq
    assert(viaColumn == Seq("Straße\n", "EU-Institution\n", "E-Mail\n", "plain\n"))
    df.createOrReplaceTempView("tt")
    val viaSql = spark.sql("select dehyphenate(t, false) from tt").as[String].collect().toSeq
    assert(viaSql == viaColumn)
    // whole-stage codegen must wrap the expression on a real scan
    // (LocalTableScan over literals bypasses codegen, so use range)
    val plan = spark.range(3)
      .select(SpanExpressions.dehyphenate(col("id").cast("string"), lit(true)))
      .queryExecution.executedPlan.toString
    // '*' = codegen'd stage, calling the kernel's static method
    assert(plan.contains("*(1) Project [static_invoke(graft.functions.SpanExpressions.dehyphenateUTF8("), plan)
  }

  test("span_stats matches the typed envelope fold, incl. UTF-16 surrogate lengths") {
    import spark.implicits._
    import graft.pipeline.Span
    // adversarial spans: empty arrays, empty texts, multi-byte (é = 2 UTF-8
    // bytes / 1 UTF-16 unit), supplementary chars (emoji = 4 UTF-8 bytes /
    // 2 UTF-16 units — String.length counts 2), media/non-media kinds
    val docs = Seq(
      ("d1", Seq(Span("text", "hello", "", 0), Span("media", "", "img:1", 1))),
      ("d2", Seq.empty[Span]),
      ("d3", Seq(Span("text", "héllo 😀 wörld", "", 0),
        Span("media", "x", "img:2", 5), Span("text", "", "", 9))),
      ("d4", Seq(Span("text", "😀😁", "", 0))),
      ("d5", Seq(Span("page", "pg", "", 0), Span("media", "m", "r", 1),
        Span("media", "", "r2", 2)))
    )
    // the pre-round-6 typed fold these semantics must match exactly
    val expect = docs.map { case (id, spans) =>
      id -> ((spans.size, spans.iterator.map(_.text.length.toLong).sum,
        spans.count(_.kind == "media")))
    }.toMap
    val st = SpanExpressions.span_stats(col("spans"))
    val got = docs.toDF("doc_id", "spans")
      .select(col("doc_id"), st.getField("n_spans").as("a"),
        st.getField("n_chars").as("b"), st.getField("n_media").as("c"))
      .as[(String, Int, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == expect)
    // codegen participation on a real (non-local) scan
    val plan = spark.range(2)
      .select(SpanExpressions.span_stats(
        org.apache.spark.sql.functions.expr(
          "array(named_struct('kind', 'text', 'text', cast(id as string), 'media_ref', '', 'offset', 0))")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("strip_boilerplate expression") {
    import spark.implicits._
    val html = """<body><nav><a href="/">Home</a> <a href="/b">B</a> <a href="/c">C</a></nav><p>Der lange Inhalt dieses Absatzes bleibt erhalten weil er genug Wörter enthält.</p></body>"""
    val out = Seq(html).toDF("h")
      .select(SpanExpressions.strip_boilerplate(col("h"))).as[String].head()
    assert(out.contains("lange Inhalt"))
    assert(!out.contains("Home"))
  }
}

/** Extension-injection path: a fresh session built with
  * spark.sql.extensions=graft.functions.GraftExtensions resolves the
  * functions without explicit registration.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  test("functions inject via SparkSessionExtensions") {
    // force a fresh SparkSession (shared context OK, must not be reused
    // session or withExtensions is ignored); never stop() — the context is
    // shared with other suites in this JVM
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import s2.implicits._
      val out = s2.sql("select dehyphenate('Stra-\nße\n', false) as d").as[String].head()
      assert(out == "Straße\n")
      // vector kernels are SQL-reachable through the same extension
      assert(s2.sql("select dot_i64(array(1L,2L,3L), array(4L,5L,6L))").as[Long].head() == 32L)
      assert(s2.sql("select simhash32('a b c')").as[Long].head() ==
        graft.functions.VectorExpressions.simhash32(
          org.apache.spark.unsafe.types.UTF8String.fromString("a b c")))
      assert(s2.sql("select quantize_i64(array(cast(0.0125 as float)))").as[Seq[Long]].head() == Seq(13L))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
