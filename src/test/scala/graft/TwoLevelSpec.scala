package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean

import graft.operators.TwoLevel

/** The two per-group orderings: [[TwoLevel.rank]] equals the one
  * window it replaces under any block form, block width, weight and
  * input partitioning; [[TwoLevel.topK]] equals the one-window top-k;
  * and no other source file builds blocks itself.
  */
class TwoLevelSpec extends SparkSuite {

  /** (group, key, tiebreak, weight) rows: tiebreak unique, keys drawn
    * from a few shared 60-bit values as often as from the whole range,
    * so equal keys are common and the tiebreak decides.
    */
  private val rowsGen: Gen[Seq[(String, Long, Long, Int)]] = for {
    n <- Gen.choose(0, 60)
    nGroups <- Gen.choose(1, 4)
    shared <- Gen.listOfN(3, Gen.choose(0L, (1L << 60) - 1))
    rows <- Gen.listOfN(n, for {
      g <- Gen.choose(0, nGroups - 1)
      k <- Gen.oneOf(Gen.oneOf(shared), Gen.choose(0L, (1L << 60) - 1))
      w <- Gen.choose(0, 5)
    } yield (s"g$g", k, w))
  } yield rows.zipWithIndex.map { case ((g, k, w), i) => (g, k, i.toLong, w) }

  private def frame(rows: Seq[(String, Long, Long, Int)], parts: Int): DataFrame = {
    import spark.implicits._
    val df = rows.toDF("grp", "key", "tb", "w")
    if (parts > 0) df.repartition(parts) else df
  }

  private def check(prop: Prop, cases: Int): Unit = {
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(cases)
        .withWorkers(1)
        .withInitialSeed(org.scalacheck.rng.Seed(20261018L)),
      prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  private def byTiebreak(df: DataFrame, value: String): Map[Long, Long] =
    df.select(col("tb"), col(value).cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("property: rank equals the one-window running sum for every block form") {
    val blocksGen: Gen[TwoLevel.Blocks] = Gen.oneOf(
      Gen.choose(0, 8).map(TwoLevel.HashBits(_)), Gen.const(TwoLevel.Ranges))
    val prop = Prop.forAllNoShrink(rowsGen, blocksGen, Gen.choose(0, 5),
        Gen.oneOf(true, false)) { (rows, blocks, parts, weighted) =>
      val df = frame(rows, parts)
      val weight = if (weighted) col("w") else lit(1)
      val ranked = TwoLevel.rank(df, Seq("grp"), Seq(col("key"), col("tb")),
        blocks, "r", if (weighted) Some(col("w")) else None)
      val expected = byTiebreak(df.withColumn("r", sum(weight).over(
        Window.partitionBy("grp").orderBy("key", "tb")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))), "r")
      val got = byTiebreak(ranked.rows, "r")
      val totals = ranked.totals("n").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val expectedTotals = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => if (weighted) r._4.toLong else 1L).sum }
      (got == expected) :| s"$blocks weighted=$weighted: $got != $expected" &&
        (ranked.rows.columns.toSet == df.columns.toSet + "r") :|
          s"columns ${ranked.rows.columns.mkString(",")}" &&
        (totals == expectedTotals) :| s"totals $totals != $expectedTotals"
    }
    check(prop, 20)
  }

  test("property: topK equals the one-window row_number() <= k (and rank() <= k)") {
    val prop = Prop.forAllNoShrink(rowsGen, Gen.choose(1, 4), Gen.choose(0, 5),
        Gen.oneOf(true, false)) { (rows, k, parts, ties) =>
      val df = frame(rows, parts)
      // row_number needs a total order; rank() lets equal keys tie
      val (fn, order) =
        if (ties) (rank(), Seq(col("key"))) else (row_number(), Seq(col("key"), col("tb")))
      val expected = byTiebreak(df
        .withColumn("r", fn.over(Window.partitionBy("grp").orderBy(order: _*)))
        .filter(col("r") <= k), "r")
      val got = byTiebreak(TwoLevel.topK(df, Seq("grp"), order, k, "r", fn), "r")
      (got == expected) :| s"k=$k ties=$ties: $got != $expected"
    }
    check(prop, 15)
  }

  test("only TwoLevel.scala builds rank blocks or partition-local windows") {
    val calls = Seq("spark_partition_id", "60 - blockBits")
    val sites = SourceScan.filesContaining(calls: _*)
    assert(sites === Seq("graft/operators/TwoLevel.scala"))
  }
}
