package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.columnOf
import org.apache.spark.sql.types.DataType

/**
 * A constant that generated code reads from the plan's `references` instead
 * of inlining it. Spark caches compiled classes by their source text, so a
 * `lit` whose value changes per call (a commit's `system_time`, its start
 * offset) makes every call compile its whole-stage classes again; with the
 * value held here, the text is the same and the compiled class is reused.
 *
 * Deterministic and not foldable, so the optimizer leaves it in place; a
 * leaf [[CodegenFallback]] stays inside whole-stage codegen. Its type and
 * nullability are those of the `lit` it replaces, so schemas do not change.
 */
private[graft] case class BoundConst(value: Any, dataType: DataType)
    extends LeafExpression with CodegenFallback {
  override def nullable: Boolean = value == null
  override def eval(input: InternalRow): Any = value
}

private[graft] object BoundConst {

  /** `lit(v)`, with the value bound rather than inlined in generated code. */
  def of(v: Any): Column = {
    val l = Literal(v)
    columnOf(BoundConst(l.value, l.dataType))
  }
}
