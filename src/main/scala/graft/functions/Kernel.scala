package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftColumnBridge.{toColumn, toExpression}
import org.apache.spark.sql.types.DataType

/** The one mechanism behind every native kernel: a Column that calls a
  * public function of the kernel's Scala object through Catalyst's
  * `StaticInvoke` — the node Spark uses for its own built-ins. Generated
  * code calls the function directly (through the object's static
  * forwarder), so pair scoring stays inside whole-stage codegen; the
  * interpreted path invokes the same method reflectively. Explain shows
  * the call as `static_invoke(graft.functions.<Kernel>.<function>(…))`.
  *
  * A NULL argument yields NULL without calling the kernel, and kernels
  * never return NULL themselves, so the result is nullable exactly when
  * an input is. Int parameters travel as literal arguments.
  */
private[functions] object Kernel {
  def apply(owner: AnyRef, dataType: DataType, args: Column*): Column =
    apply(owner, "compute", dataType, args: _*)

  def apply(owner: AnyRef, function: String, dataType: DataType, args: Column*): Column =
    toColumn(StaticInvoke(owner.getClass, dataType, function,
      args.map(toExpression), returnNullable = false))

  /** Kernels over array elements reject NULL elements with an error that
    * names them, identically on the codegen and the interpreted path.
    */
  def requireNoNullElement(kernel: String, arr: ArrayData, i: Int): Unit =
    if (arr.isNullAt(i))
      throw new IllegalArgumentException(s"$kernel: NULL array element at index $i")
}
