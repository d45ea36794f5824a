package graft.functions

import graft.functions.SpanExpressions._
import graft.functions.VectorExpressions._
import graft.pipeline.Span
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Every [[NativeFn]] of [[SpanExpressions]] and [[VectorExpressions]], from
  * the one list that [[GraftExtensions]] registers: SQL against the Column
  * API, the arity and type checks at analysis, null arguments, and the
  * interpreted path against the generated one.
  */
class NativeFnSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .withExtensions(new GraftExtensions())
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .create()

  private val all = SpanExpressions.functions ++ VectorExpressions.functions

  /** Per function: the sample table's columns it takes, and its Column API helper. */
  private val calls: Map[String, (Seq[String], Seq[Column] => Column)] = Map(
    "dehyphenate" -> (Seq("s", "b") -> (c => dehyphenate(c(0), c(1)))),
    "strip_boilerplate" -> (Seq("s") -> (c => strip_boilerplate(c(0)))),
    "span_byte_cost" -> (Seq("spans") -> (c => span_byte_cost(c(0)))),
    "span_stats" -> (Seq("spans") -> (c => span_stats(c(0)))),
    "dot_i64" -> (Seq("la", "lb") -> (c => dot_i64(c(0), c(1)))),
    "shingles3" -> (Seq("s") -> (c => shingles3(c(0)))),
    "h31" -> (Seq("sa") -> (c => h31(c(0)))),
    "minhash_sigs" -> (Seq("la") -> (c => minhash_sigs(c(0)))),
    "simhash32" -> (Seq("s") -> (c => simhash32(c(0)))),
    "quantize_i64" -> (Seq("fa") -> (c => quantize_i64(c(0)))),
    "fingerprint64" -> (Seq("s") -> (c => fingerprint64(c(0)))),
    "text_stats" -> (Seq("s") -> (c => text_stats(c(0)))))

  /** Sample rows, read back from parquet so that plans scan a file (a local
    * relation would be evaluated by the optimizer, never by generated code).
    * The last row is all null.
    */
  private lazy val samples: DataFrame = {
    import spark.implicits._
    val rows = Seq(
      ("doc0", "Stra-\nße\nund der Weg", Option(false), Seq(1L, 2L, 3L), Seq(4L, 5L, 6L),
        Seq("a b c", "der die"), Seq(0.0125f, -0.0125f, 1.5f),
        Seq(Span("text", "héllo 😀 wörld", "", 0), Span("media", "", "img:1", 1))),
      ("doc1", "<body><nav><a href=\"/\">Home</a></nav><p>Der lange Inhalt dieses Absatzes bleibt erhalten weil er genug Wörter enthält.</p></body>",
        Option(true), Seq(-7L, 0L), Seq(3L, 9L), Seq(""), Seq(0f), Seq.empty[Span]),
      ("doc2", "", Option(true), Seq.empty[Long], Seq.empty[Long], Seq.empty[String], Seq.empty[Float],
        Seq(Span("text", "", "", 0))),
      ("doc3", null, Option.empty[Boolean], null, null, null, null, null))
    val path = Files.createTempDirectory("nativefn").resolve("t").toString
    rows.toDF("id", "s", "b", "la", "lb", "sa", "fa", "spans").write.parquet(path)
    val df = spark.read.parquet(path)
    df.createOrReplaceTempView("samples")
    df
  }

  private def collectSorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getString(0))

  private def sql(q: String): DataFrame = { samples; spark.sql(q) }

  private def viaSql(f: NativeFn, args: Seq[String]): DataFrame =
    sql(s"select id, ${f.name}(${args.mkString(", ")}) from samples")

  private def viaColumn(f: NativeFn): DataFrame = {
    val (args, helper) = calls(f.name)
    samples.select(col("id"), helper(args.map(col)))
  }

  private def analysisError(q: String): AnalysisException =
    withClue(q)(intercept[AnalysisException](sql(q).queryExecution.assertAnalyzed()))

  test("the table covers every registered function") {
    assert(all.map(_.name).sorted == calls.keys.toSeq.sorted)
    assert(all.map(_.name).distinct.length == all.length)
  }

  test("SQL through GraftExtensions equals the Column API, and a null row gives null") {
    for (f <- all) {
      val byColumn = collectSorted(viaColumn(f))
      assert(collectSorted(viaSql(f, calls(f.name)._1)) == byColumn, f.name)
      assert(byColumn.init.forall(!_.isNullAt(1)), s"${f.name}: null on a non-null row")
      assert(byColumn.last.isNullAt(1), s"${f.name}: non-null on the null row")
      // the column is named after the SQL function
      assert(viaColumn(f).columns(1).startsWith(s"${f.name}("), f.name)
    }
  }

  test("a wrong number of arguments fails at analysis with WRONG_NUM_ARGS") {
    for (f <- all) {
      val args = calls(f.name)._1
      for (wrong <- Seq(args.init, args :+ args.head)) {
        val e = analysisError(s"select ${f.name}(${wrong.mkString(", ")}) from samples")
        assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", s"${f.name}: ${e.getMessage}")
      }
    }
  }

  test("a wrongly typed argument is an analysis error") {
    for (f <- all; i <- f.inputTypes.indices) {
      val args = calls(f.name)._1.updated(i, "map(1, 2)")
      val e = analysisError(s"select ${f.name}(${args.mkString(", ")}) from samples")
      assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", s"${f.name} arg $i: ${e.getMessage}")
    }
    // span arrays of another shape are rejected, not misread
    for (f <- Seq("span_byte_cost", "span_stats");
        arg <- Seq("la", "array(named_struct('kind', 'x', 'text', 'y'))")) {
      val e = analysisError(s"select $f($arg) from samples")
      assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", s"$f($arg): ${e.getMessage}")
    }
  }

  test("implicit casts still apply to arguments of a castable type") {
    import spark.implicits._
    assert(spark.sql("select dehyphenate(id, true) from range(1)").as[String].head() ==
      dehyphenateUTF8(org.apache.spark.unsafe.types.UTF8String.fromString("0"), true).toString)
    assert(spark.sql("select quantize_i64(array(0.0125))").as[Seq[Long]].head() == Seq(13L))
  }

  test("a null argument gives null, in every argument position") {
    for (f <- all; i <- f.inputTypes.indices) {
      val args = calls(f.name)._1.updated(i, s"cast(null as ${f.inputTypes(i).sql})")
      val rows = viaSql(f, args).collect()
      assert(rows.forall(_.isNullAt(1)), s"${f.name} with a null argument $i")
    }
  }

  test("interpreted evaluation equals generated code") {
    for (f <- all) {
      val plan = viaColumn(f).queryExecution.executedPlan.toString
      assert(plan.contains("*(1) Project [id#") && plan.contains(s"static_invoke(${f.owner.getName.stripSuffix("$")}.${f.method}("),
        s"${f.name} not codegen'd: $plan")
      val generated = collectSorted(viaColumn(f))
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try {
        val df = viaColumn(f)
        assert(!df.queryExecution.executedPlan.toString.contains("*("), f.name)
        assert(collectSorted(df) == generated, f.name)
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }
}
