package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{HexHash60Expr, HyperplaneBucketExpr, IntDotExpr}

/** Session extension registering graft's native functions with the SQL
  * parser, so `spark.sql("SELECT hex_hash60(cast(c AS binary)) ...")`
  * works anywhere the Scala DSL does. Set it on a session built
  * outside graft with
  *
  *   --conf spark.sql.extensions=graft.GraftExtensions
  *
  * [[GraftExtensions.register]] does the same for an already-running
  * session; [[graft.core.LocalSession]] calls it on every session it
  * starts.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
}

object GraftExtensions {
  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq((
      FunctionIdentifier("hex_hash60"),
      new ExpressionInfo(classOf[HexHash60Expr].getName, "hex_hash60"),
      (children: Seq[Expression]) => HexHash60Expr(children.head)),
    (
      FunctionIdentifier("int_dot"),
      new ExpressionInfo(classOf[IntDotExpr].getName, "int_dot"),
      (children: Seq[Expression]) => IntDotExpr(children(0), children(1))),
    (
      FunctionIdentifier("hyperplane_bucket"),
      new ExpressionInfo(classOf[HyperplaneBucketExpr].getName, "hyperplane_bucket"),
      (children: Seq[Expression]) => {
        require(children(1).foldable, "numPlanes must be a literal")
        HyperplaneBucketExpr(children(0),
          children(1).eval().asInstanceOf[Number].intValue())
      }))

  /** Register graft functions on an existing session (idempotent). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
