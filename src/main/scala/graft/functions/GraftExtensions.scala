package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions installer — enables
  * `spark.sql.extensions=graft.functions.GraftExtensions` on any cluster,
  * injecting every [[NativeFn]] of [[SpanExpressions]] and
  * [[VectorExpressions]] into every session (SURVEY §4: injectFunction
  * path), so SQL and the Column API expose the same functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Builder with an explicit arity check: a wrong-arity SQL call must be
    * an analysis-time error, not a call with missing or extra arguments.
    */
  private def description(f: NativeFn) = (
    FunctionIdentifier(f.name),
    new ExpressionInfo(classOf[NativeCall].getName, f.name),
    (exprs: Seq[Expression]) => {
      if (exprs.length != f.inputTypes.length)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> f.name,
            "expectedNum" -> f.inputTypes.length.toString,
            "actualNum" -> exprs.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      NativeCall(f, exprs)
    })

  override def apply(ext: SparkSessionExtensions): Unit =
    (SpanExpressions.functions ++ VectorExpressions.functions)
      .foreach(f => ext.injectFunction(description(f)))
}
