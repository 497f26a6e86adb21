package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

/** Nearest-centroid assignment: the one kernel behind every k-means,
  * IVF, PQ and SemDeDup argmin in [[graft.operators.Ann]].
  *
  * Centroids live in ONE flat `long[]` matrix, shipped once per
  * executor as a spark Broadcast (the expression serializes only the
  * handle — the plan stays bytes and O(1) in k, and the matrix moves
  * over the torrent protocol exactly once per executor, not once per
  * task). The argmin is a tight generated loop over primitive arrays —
  * a pure projection, zero shuffle, zero join, inside whole-stage
  * codegen (`defineCodeGen`), at any k that fits executor memory
  * (10⁵ cells × 64 dims = 51 MB — a small broadcast). An inlined
  * literal expression tree, by contrast, grows with k·dims: past
  * k·dims ≈ 10⁵ analysis, optimization and the JVM constant pool
  * become the bottleneck, and SemDeDup's own scale rule (kCells ∝
  * corpus) walks straight into that regime.
  *
  * Semantics (the DuckDB oracles restate both rules, and
  * CentroidAssignSpec checks them against a plain-Scala argmin):
  *  - [[CentroidOps.nearestL2]]: min of `norm2 − 2·dot + cn2` in
  *    exact long arithmetic (Java wrap-around, as Spark non-ANSI),
  *    ties on the smaller centroid id (the matrix is id-sorted and the
  *    scan replaces only on a STRICT improvement).
  *  - [[CentroidOps.nearestCos]]: min of
  *    `CASE WHEN norm2=0 OR cn2=0 THEN 2.0 ELSE −cos END`: the
  *    zero-norm guard ranks degenerate pairs LAST, and the double
  *    arithmetic is the same op sequence as [[graft.operators.Ann.cosine]]
  *    (`dot / (sqrt(cn2) · sqrt(norm2))`, then one negation), so every
  *    score is the same IEEE bit pattern. Comparison uses primitive
  *    `<`, so −0.0 and 0.0 tie and the smaller id wins; no NaN can
  *    arise under the guard.
  */
object CentroidOps {

  /** Min-squared-L2 centroid: returns struct(d: long, c_id: long)
    * (see object doc).
    */
  def nearestL2(m: CentroidMatrix, v: ArrayData, norm2: Long): InternalRow = {
    val dims = m.dims
    val nd = if (v.numElements() < dims) v.numElements() else dims
    var best = 0L
    var bestId = 0L
    var k = 0
    var off = 0
    while (k < m.ids.length) {
      var dot = 0L
      var i = 0
      while (i < nd) { dot += v.getLong(i) * m.flat(off + i); i += 1 }
      val d = norm2 - 2L * dot + m.norms(k)
      if (k == 0 || d < best) { best = d; bestId = m.ids(k) }
      k += 1
      off += dims
    }
    new GenericInternalRow(Array[Any](best, bestId))
  }

  /** Max-cosine centroid with the shared zero-norm guard: returns
    * struct(nc: double, c_id: long) where nc is the MINIMIZED score
    * (−cos, or the 2.0 ranks-last sentinel) — the serving-cell rule.
    */
  def nearestCos(m: CentroidMatrix, v: ArrayData, norm2: Long): InternalRow = {
    val dims = m.dims
    val nd = if (v.numElements() < dims) v.numElements() else dims
    val sqn = math.sqrt(norm2.toDouble)
    var best = 0.0
    var bestId = 0L
    var k = 0
    var off = 0
    while (k < m.ids.length) {
      val score =
        if (norm2 == 0L || m.norms(k) == 0L) 2.0
        else {
          var dot = 0L
          var i = 0
          while (i < nd) { dot += v.getLong(i) * m.flat(off + i); i += 1 }
          // same op order as Ann.cosine(cv, v, cn2, norm2):
          // dot / (sqrt(cn2) * sqrt(norm2)), then lit(-1.0) *
          -1.0 * (dot.toDouble / (math.sqrt(m.norms(k).toDouble) * sqn))
        }
      if (k == 0 || score < best) { best = score; bestId = m.ids(k) }
      k += 1
      off += dims
    }
    new GenericInternalRow(Array[Any](best, bestId))
  }

  /** Column form of [[nearestL2]]. */
  def nearestL2(v: Column, norm2: Column, bc: Broadcast[CentroidMatrix]): Column =
    SqlBridge.column(NearestCentroidL2(
      SqlBridge.expression(v), SqlBridge.expression(norm2), bc))

  /** Column form of [[nearestCos]]. */
  def nearestCos(v: Column, norm2: Column, bc: Broadcast[CentroidMatrix]): Column =
    SqlBridge.column(NearestCentroidCos(
      SqlBridge.expression(v), SqlBridge.expression(norm2), bc))
}

/** Driver-built, executor-broadcast centroid state: id-sorted ids, a
  * row-major flat component matrix, and per-centroid squared norms.
  * Primitive arrays — the generated loop reads them without boxing.
  */
final class CentroidMatrix(val ids: Array[Long], val flat: Array[Long],
    val norms: Array[Long], val dims: Int) extends Serializable

object CentroidMatrix {
  def apply(cent: Seq[(Long, Seq[Long], Long)]): CentroidMatrix = {
    require(cent.nonEmpty, "CentroidMatrix: empty centroid set")
    val sorted = cent.sortBy(_._1)
    val dims = sorted.head._2.size
    require(sorted.forall(_._2.size == dims),
      s"CentroidMatrix: ragged centroid dims (expected $dims)")
    val flat = new Array[Long](sorted.size * dims)
    sorted.iterator.zipWithIndex.foreach { case ((_, cv, _), k) =>
      var i = 0
      cv.foreach { x => flat(k * dims + i) = x; i += 1 }
    }
    new CentroidMatrix(sorted.map(_._1).toArray, flat,
      sorted.map(_._3).toArray, dims)
  }
}

case class NearestCentroidL2(vec: Expression, norm2: Expression,
    bc: Broadcast[CentroidMatrix]) extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = norm2
  override def dataType: DataType = StructType(Seq(
    StructField("d", LongType, nullable = false),
    StructField("c_id", LongType, nullable = false)))
  override def prettyName: String = "nearest_centroid_l2"

  override protected def nullSafeEval(v: Any, n2: Any): Any =
    CentroidOps.nearestL2(bc.value, v.asInstanceOf[ArrayData],
      n2.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("centroidBc", bc,
      classOf[Broadcast[_]].getName)
    defineCodeGen(ctx, ev, (v, n2) =>
      s"graft.functions.CentroidOps.nearestL2(" +
        s"(graft.functions.CentroidMatrix)$bcRef.value(), $v, $n2)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): NearestCentroidL2 =
    copy(vec = newLeft, norm2 = newRight)
}

case class NearestCentroidCos(vec: Expression, norm2: Expression,
    bc: Broadcast[CentroidMatrix]) extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = norm2
  override def dataType: DataType = StructType(Seq(
    StructField("nc", DoubleType, nullable = false),
    StructField("c_id", LongType, nullable = false)))
  override def prettyName: String = "nearest_centroid_cos"

  override protected def nullSafeEval(v: Any, n2: Any): Any =
    CentroidOps.nearestCos(bc.value, v.asInstanceOf[ArrayData],
      n2.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("centroidBc", bc,
      classOf[Broadcast[_]].getName)
    defineCodeGen(ctx, ev, (v, n2) =>
      s"graft.functions.CentroidOps.nearestCos(" +
        s"(graft.functions.CentroidMatrix)$bcRef.value(), $v, $n2)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): NearestCentroidCos =
    copy(vec = newLeft, norm2 = newRight)
}
