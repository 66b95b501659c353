package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.DataType

/** A static JVM method bound to a Catalyst expression: the one place
  * graft decides how a kernel becomes a [[StaticInvoke]] (never a UDF),
  * so plans keep whole-stage codegen and null handling stays in
  * Catalyst.
  *
  * A binding is declared once, as a value, and every surface reads it:
  * the DataFrame functions apply it to columns, the `graft_*` SQL
  * functions ([[graft.GraftFunctions]]) build from [[expr]], and
  * optimizer rules match calls with the extractor.
  *
  * @param owner          the Scala object whose method is the kernel
  * @param method         the kernel method's name
  * @param dataType       the result type
  * @param returnNullable whether the kernel itself may return null
  * @param propagateNull  a NULL argument yields NULL without calling the
  *                       kernel (`false` when the kernel defines its own
  *                       NULL semantics)
  */
final case class Kernel(owner: Class[_], method: String, dataType: DataType,
    returnNullable: Boolean = false, propagateNull: Boolean = true) {

  /** The call over Catalyst argument expressions. */
  def expr(args: Seq[Expression]): Expression =
    StaticInvoke(owner, dataType, method, args, inputTypes = Nil,
      propagateNull = propagateNull, returnNullable = returnNullable)

  /** The call over columns. */
  def apply(args: Column*): Column =
    GraftSqlBridge.column(expr(args.map(GraftSqlBridge.expression)))

  /** The arguments of a call of this kernel. */
  def unapplySeq(e: Expression): Option[Seq[Expression]] = e match {
    case si: StaticInvoke
        if si.staticObject == owner && si.functionName == method =>
      Some(si.arguments)
    case _ => None
  }
}
