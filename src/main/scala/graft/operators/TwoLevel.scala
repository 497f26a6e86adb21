package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Validation

/** The two per-group orderings every "order a group and take
  * positions" operator is built from. Neither ever sorts a whole group
  * on one task, so a hot group (a language, a curriculum phase, the
  * corpus-wide "ALL" row, a popular brand) is never a single-reducer
  * funnel at 100 TB.
  *
  *  - [[rank]]: a global per-group rank or running sum, in two levels —
  *    a block-local window plus a broadcast table of block offsets.
  *  - [[topK]]: a per-group top-k behind a per-partition pre-filter.
  */
object TwoLevel {

  /** How [[rank]] splits each group into ordered blocks. A block must
    * be monotone in the order, so that the blocks of a group,
    * concatenated in block order, are the group in order.
    */
  sealed trait Blocks

  /** Block `blk` = the top `blockBits` bits (0..60) of the leading
    * order key, which must be a uniform 60-bit hash: a pure projection,
    * no sampling pass, 2^blockBits blocks per group. Raise `blockBits`
    * until a block fits a task; the plan shape does not change.
    */
  final case class HashBits(blockBits: Int) extends Blocks

  /** Block `pid` = the partition of one `repartitionByRange` over
    * (groups, order) into `spark.sql.shuffle.partitions` ranges, sized
    * by Spark's range sampler: the form for order keys that are not
    * uniform hashes. The local window and the offsets both read that
    * one (reused) range exchange, so they see the same partition ids.
    */
  case object Ranges extends Blocks

  /** [[rank]]'s result: `rows` is the input plus the rank column;
    * `blocks` is the per-(group, block) `total` weight table the
    * offsets were summed from.
    */
  final case class Ranked(rows: DataFrame, blocks: DataFrame,
      groups: Seq[String]) {
    /** Per-group total weight (row count for a plain rank), summed
      * from the block table: no further pass over the rows.
      */
    def totals(as: String): DataFrame =
      blocks.groupBy(groups.map(col): _*).agg(sum("total").as(as))
  }

  /** Adds column `as` = the row's 1-based rank within its group under
    * `order` (`weight = None`), or the running sum of `weight` through
    * the row (`ROWS UNBOUNDED PRECEDING`), exactly what the one window
    * `… OVER (PARTITION BY groups ORDER BY order)` gives. `order` must
    * be a total order within the group (end it with a unique
    * tiebreak) for the result to be deterministic.
    *
    * Level 1 is that window within each (group, block) slice:
    * groups × blocks concurrent tasks. Level 2 stitches the blocks: a
    * small aggregate gives each (group, block) its total, a window over
    * those totals gives each block the sum of the blocks before it,
    * and that offset table (groups × blocks rows — metadata, not data)
    * is broadcast back and added to the local value.
    */
  def rank(df: DataFrame, groups: Seq[String], order: Seq[Column],
      blocks: Blocks, as: String, weight: Option[Column] = None): Ranked = {
    val (d, blk) = blocks match {
      case HashBits(blockBits) =>
        Validation.validate("two-level-rank", Validation.knob("blockBits",
          blockBits, minV = 0L, maxV = 60L, requiredNonZero = false))
        (df.withColumn("blk", shiftright(order.head, 60 - blockBits)), "blk")
      case Ranges =>
        val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
        (df.repartitionByRange(parts, groups.map(col) ++ order: _*)
          .withColumn("pid", spark_partition_id()), "pid")
    }
    val keys = groups :+ blk
    val (local, total) = weight match {
      case None => (row_number(), count(lit(1)))
      case Some(w) => (sum(w), sum(w))
    }
    val totals = d.groupBy(keys.map(col): _*).agg(total.as("total"))
    val offsets = totals
      .withColumn("offset", coalesce(
        sum("total").over(Window.partitionBy(groups.map(col): _*).orderBy(blk)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("total")
    val rows = d
      .withColumn(as, local.over(Window.partitionBy(keys.map(col): _*)
        .orderBy(order: _*).rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(offsets), keys)
      .withColumn(as, col(as) + col("offset"))
      .drop(blk, "offset")
    Ranked(rows, totals, groups)
  }

  /** Keeps the rows ranked ≤ `k` within their group under `order`,
    * with the rank in column `as`; `rankFn` is `row_number()` (then
    * `order` must be total) or `rank()` (ties share a rank).
    *
    * Before the per-group window, each task keeps only its own rows of
    * local rank ≤ k per (`spark_partition_id()`, group), so the global
    * window sees at most #partitions × k rows per group, not the whole
    * group. The pre-filter is sound in any partitioning: a row's local
    * rank counts only the rows of its own partition ahead of it, so it
    * is never above its global rank. Every global top-k row therefore
    * survives, and so does every row ahead of it, which leaves its
    * global rank unchanged; every other row still has k survivors ahead
    * of it.
    */
  def topK(df: DataFrame, groups: Seq[String], order: Seq[Column], k: Int,
      as: String, rankFn: Column = row_number()): DataFrame = {
    val g = groups.map(col)
    df.withColumn(as, rankFn.over(
        Window.partitionBy(spark_partition_id() +: g: _*).orderBy(order: _*)))
      .filter(col(as) <= k)
      .withColumn(as, rankFn.over(Window.partitionBy(g: _*).orderBy(order: _*)))
      .filter(col(as) <= k)
  }
}
