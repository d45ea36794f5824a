package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.DataType

/** A JVM kernel as a Catalyst function: `name` in SQL and in plans, a call
  * to the static method `method` of the Scala object whose class is `owner`
  * (`X$`; StaticInvoke strips the `$` and calls the static forwarder, picking
  * the overload by the argument classes of `inputTypes`). Arguments are cast
  * to `inputTypes` at analysis, or the call is rejected there — a natural
  * SQL literal such as `array(0.1, 0.2)` is array<double>, which a kernel
  * reading floats off UnsafeArrayData would otherwise read as garbage.
  */
final case class NativeFn(name: String, owner: Class[_], method: String,
    dataType: DataType, inputTypes: DataType*) {
  def apply(args: Column*): Column = toColumn(NativeCall(this, args.map(toExpr)))
}

/** A [[NativeFn]] call in a plan. The optimizer replaces it with its
  * StaticInvoke, which whole-stage codegen compiles to a direct call and
  * which, interpreted, calls the method by reflection. A null argument
  * gives null without a call; the kernels themselves never return null.
  */
case class NativeCall(fn: NativeFn, children: Seq[Expression])
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = fn.inputTypes
  override lazy val replacement: Expression =
    StaticInvoke(fn.owner, fn.dataType, fn.method, children, fn.inputTypes, returnNullable = false)
  override def prettyName: String = fn.name
  override protected def stringArgs: Iterator[Any] = children.iterator
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): NativeCall =
    copy(children = c)
}
