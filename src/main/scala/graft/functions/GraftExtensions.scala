package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions installer — enables
  * `spark.sql.extensions=graft.functions.GraftExtensions` on any cluster,
  * injecting the extraction and vector scalar functions into every session
  * (SURVEY §4: injectFunction path).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Builder with an explicit arity check: a wrong-arity SQL call must be
    * an analysis-time error, not a raw IndexOutOfBoundsException from
    * `exprs(1)` inside the builder.
    */
  private def fn(name: String, className: String, arity: Int)(
      build: Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(className, name),
    (exprs: Seq[Expression]) => {
      if (exprs.length != arity)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> name,
            "expectedNum" -> arity.toString,
            "actualNum" -> exprs.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      build(exprs)
    })

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("dehyphenate",
      classOf[SpanExpressions.Dehyphenate].getName, 2)(
      exprs => SpanExpressions.Dehyphenate(exprs.head, exprs(1))))
    ext.injectFunction(fn("strip_boilerplate",
      classOf[SpanExpressions.StripBoilerplate].getName, 1)(
      exprs => SpanExpressions.StripBoilerplate(exprs.head)))
    ext.injectFunction(fn("span_byte_cost",
      classOf[SpanExpressions.SpanByteCost].getName, 1)(
      exprs => SpanExpressions.SpanByteCost(exprs.head)))
    // dedup/similarity vector kernels (VectorExpressions)
    ext.injectFunction(fn("dot_i64",
      classOf[VectorExpressions.DotI64].getName, 2)(
      exprs => VectorExpressions.DotI64(exprs.head, exprs(1))))
    ext.injectFunction(fn("quantize_i64",
      classOf[VectorExpressions.QuantizeI64].getName, 1)(
      exprs => VectorExpressions.QuantizeI64(exprs.head)))
    ext.injectFunction(fn("shingles3",
      classOf[VectorExpressions.Shingles3].getName, 1)(
      exprs => VectorExpressions.Shingles3(exprs.head)))
    ext.injectFunction(fn("h31",
      classOf[VectorExpressions.H31].getName, 1)(
      exprs => VectorExpressions.H31(exprs.head)))
    ext.injectFunction(fn("minhash_sigs",
      classOf[VectorExpressions.MinhashSigs].getName, 1)(
      exprs => VectorExpressions.MinhashSigs(exprs.head)))
    ext.injectFunction(fn("simhash32",
      classOf[VectorExpressions.Simhash32].getName, 1)(
      exprs => VectorExpressions.Simhash32(exprs.head)))
    ext.injectFunction(fn("fingerprint64",
      classOf[VectorExpressions.Fingerprint64].getName, 1)(
      exprs => VectorExpressions.Fingerprint64(exprs.head)))
  }
}
