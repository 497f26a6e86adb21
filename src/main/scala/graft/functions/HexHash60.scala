package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression for the portable 60-bit md5 hash.
  *
  * Semantically identical to
  * `conv(substr(md5(x),1,15),16,10)::bigint` (the top 60 bits of the
  * md5 digest read big-endian) but computed straight from the digest
  * bytes — no 32-char hex string, no substring, no base-conversion
  * string parse. Participates in whole-stage codegen via a static
  * call, so the shingle/token hashing hot paths stay inside the
  * generated loop. DuckDB oracle equivalent is unchanged:
  * `('0x' || substr(md5(x),1,15))::BIGINT`.
  *
  * The child is always `cast(x as binary)` (enforced by the [[hash60]]
  * wrapper), so no extra input type-check is needed.
  */
case class HexHash60Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "hex_hash60"

  override protected def nullSafeEval(input: Any): Any =
    HexHash60.hash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HexHash60.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): HexHash60Expr =
    copy(child = newChild)
}

object HexHash60 {
  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** Top 60 bits of md5(bytes), big-endian — equals
    * parseLong(hex(md5)[0,15), 16).
    */
  def hash(bytes: Array[Byte]): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Column wrapper: 60-bit portable hash of a string/binary column. */
  def hash60(c: Column): Column =
    SqlBridge.column(HexHash60Expr(SqlBridge.expression(c.cast("binary"))))
}
