package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * Session extensions exposing graft's native Catalyst expressions to SQL:
 *
 * {{{
 *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
 *   // or: --conf spark.sql.extensions=graft.GraftExtensions
 *   spark.sql("SELECT eth_event_selector('Transfer(address,address,uint256)')")
 * }}}
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** (identifier, info, builder) triples — also usable directly against a
    * session's FunctionRegistry. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      new FunctionIdentifier("keccak256"),
      new ExpressionInfo(classOf[graft.functions.Keccak256Expr].getName, "keccak256"),
      (args: Seq[Expression]) =>
        args match {
          case Seq(v) => graft.functions.Keccak256Expr(v, prefixed = false)
          case other =>
            throw new IllegalArgumentException(s"keccak256(value) got ${other.size} args")
        }
    ),
    (
      new FunctionIdentifier("eth_event_selector"),
      new ExpressionInfo(classOf[graft.functions.Keccak256Expr].getName, "eth_event_selector"),
      (args: Seq[Expression]) =>
        args match {
          case Seq(v) => graft.functions.Keccak256Expr(v, prefixed = true)
          case other =>
            throw new IllegalArgumentException(s"eth_event_selector(signature) got ${other.size} args")
        }
    )
  )
}
