package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables

/** The relational query surface over replicated data — the queries a
  * user of the reference would run on its Parquet segment output, all
  * declarative DataFrame plans so Catalyst does pushdown/pruning/join
  * selection. Money amounts are integer cents (`round(x*100)::long`)
  * so results are exact and engine-portable.
  *
  * Scale notes per query are in SURVEY.md §4: dimension sides
  * (region/nation/supplier/part at TPC-H scale ratios) are explicitly
  * `broadcast()`; fact-fact joins shuffle on their join key and AQE
  * handles skew/coalescing.
  */
object Analytics {

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100, 0).cast("long")

  /** TPC-H Q3 shape: 3-way join, group, deterministic top-N. */
  def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("1998-07-01 00:00:00").cast("timestamp")
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, dir).filter(col("o_orderdate") < cut)
    val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > cut)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderkey", "o_orderpriority")
      .agg(cents(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape: 6-table star join; all dims broadcast. */
  def localSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, dir)
    val c = Tables.customer(s, dir)
    val sup = Tables.supplier(s, dir)
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
    val l = Tables.lineitem(s, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey")
        && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(cents(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("n_name"))
  }

  /** TPC-H Q6 shape: selective scan-aggregate; filters push to parquet. */
  def revenueChange(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp")
        && col("l_discount").between(0.02, 0.06)
        && col("l_quantity") < 24)
      .agg(
        cents(sum(col("l_extendedprice") * col("l_discount"))).as("revenue_cents"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q10 shape: returned-item revenue per customer, top 20. */
  def returnedItems(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("o_orderdate") < lit("1996-07-01 00:00:00").cast("timestamp"))
    val l = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
    val c = Tables.customer(s, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name", "c_mktsegment")
      .agg(cents(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("c_custkey"))
      .limit(20)
  }

  /** Top-3 parts by revenue within each brand, ties sharing a rank:
    * a [[TwoLevel.topK]], so the final window sees at most
    * #partitions × 3 rows per brand instead of ALL of a brand's parts
    * (at 100 TB a popular brand is otherwise a one-task funnel).
    */
  def topPartsPerBrand(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir)
    val rev = l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_partkey")
      .agg(cents(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue_cents"))
    TwoLevel.topK(rev, Seq("p_brand"),
        Seq(col("revenue_cents").desc, col("p_partkey")), 3, "brand_rank", rank())
      .select("p_brand", "brand_rank", "p_partkey", "revenue_cents")
      .orderBy("p_brand", "brand_rank")
  }

  /** Rollup aggregation over order status × priority. */
  def rollupRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(cents(sum("o_totalprice")).as("total_cents"),
        count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("total_cents"), col("n_orders"))
      .orderBy("status", "priority")

  /** Anti join: orders that never shipped a lineitem (NOT EXISTS). */
  def ordersNoLineitems(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir).select("l_orderkey").distinct(),
        col("o_orderkey") === col("l_orderkey"), "left_anti")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), cents(sum("o_totalprice")).as("total_cents"))
      .orderBy("o_orderstatus")

  /** Semi join: customers that placed at least one order (EXISTS). */
  def customersWithOrders(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")

  /** Distinct aggregation over the event stream. */
  def distinctUsers(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        cents(sum("value")).as("value_cents"))
      .orderBy("event_type")

  /** TPC-H Q4 shape: priority counts for orders with a late-shipped
    * lineitem (EXISTS + date arithmetic in exact epoch seconds).
    */
  def latePriorityCount(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("o_orderdate") < lit("1996-07-01 00:00:00").cast("timestamp"))
    val late = Tables.lineitem(s, dir).as("l")
    o.join(late,
        col("l_orderkey") === col("o_orderkey")
          && col("l_shipdate").cast("timestamp").cast("long")
            - col("o_orderdate").cast("timestamp").cast("long") > lit(90L * 86400L),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q12 shape: conditional aggregation after a fact-fact join —
    * high/low-priority lineitem counts per quantity class.
    */
  def shipmodePriority(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("qty_class",
        when(col("l_quantity") >= 25, "HIGH").otherwise("LOW"))
      .groupBy("qty_class")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_priority"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("low_priority"))
      .orderBy("qty_class")
  }

  /** TPC-H Q14 shape: promo revenue share in exact basis points. */
  def promoRevenue(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("l_shipdate") < lit("1996-02-01 00:00:00").cast("timestamp"))
    val p = Tables.part(s, dir)
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        cents(sum(when(col("p_type") === "PROMO",
          col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0)))
          .as("promo_cents"),
        cents(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("total_cents"))
      .withColumn("promo_bp",
        expr("(promo_cents * 10000) div total_cents"))
  }

  /** TPC-H Q18 shape: large-volume orders (join + group + having + join
    * back to the customer dimension).
    */
  def largeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(round(sum("l_quantity"), 0).cast("long").as("total_qty"))
      .filter(col("total_qty") > 300)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    big.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("total_qty"),
        round(col("o_totalprice") * 100, 0).cast("long").as("total_cents"))
      .orderBy(col("total_cents").desc, col("o_orderkey"))
      .limit(25)
  }

  /** TPC-H Q22 shape: above-average-balance customers with no orders
    * (scalar subquery threshold in exact integer-cents arithmetic).
    */
  def idleRichCustomers(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .withColumn("bal_cents", cents(col("c_acctbal")))
    val thresh = c.filter(col("bal_cents") > 0)
      .agg((sum("bal_cents").cast("double") / count(lit(1))).as("avg_cents"))
    // "idle" = no order in 1996H1 (every customer orders eventually at
    // this scale, so the unbounded anti join is empty)
    val recent = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("o_orderdate") < lit("1996-07-01 00:00:00").cast("timestamp"))
    val idle = c.join(recent.select("o_custkey"),
      col("c_custkey") === col("o_custkey"), "left_anti")
    idle.crossJoin(broadcast(thresh))
      .filter(col("bal_cents") > col("avg_cents"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"), sum("bal_cents").as("total_cents"))
      .orderBy("c_mktsegment")
  }

  /** Exact interpolated quantiles of event value per type —
    * DISTRIBUTED: `percentile()` (and any sort-within-group rank)
    * buffers a whole group's values on one reducer, the classic 100 TB
    * funnel when a group dominates. This plan never does:
    *
    *  1. the global rank within the group is a [[TwoLevel.rank]] over
    *     range blocks ([[TwoLevel.Ranges]]: every group spans MANY
    *     ordered partitions, sized by Spark's range sampler);
    *  2. keep ONLY the two rows straddling each target position and
    *     interpolate in FIXED POINT: `pos` is held as integer TENTHS
    *     (`pos_tenths = pt·(n−1)` for pt ∈ {5, 9}), so `lo`, the
    *     tenths-remainder `m`, and the interpolated milli-cents
    *     `10·c_lo + m·(c_hi − c_lo)` are exact integers end-to-end —
    *     no floating-point boundary can flip `floor(pos)` or the
    *     rounded output between engines (the r07 FP-boundary risk,
    *     retired). The final aggregate sees 2·|groups|·|quantiles|
    *     rows.
    *
    * Same rank semantics as Hive `percentile`/`quantile_cont` with the
    * fraction quantized to tenths; output in integer milli-cents.
    */
  def valueQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
    val ranked = TwoLevel.rank(ev, Seq("event_type"), Seq(col("value")),
      TwoLevel.Ranges, "rn")
    val targets = ranked.totals("n_grp")
      .crossJoin(Seq(("p50", 5L), ("p90", 9L)).toDF("q", "pt"))
      .withColumn("pos_t", col("pt") * (col("n_grp") - 1))
      .select(col("event_type"), col("q"),
        expr("pos_t div 10").as("lo"), (col("pos_t") % 10).as("m"))
    val interp = ranked.rows
      .withColumn("gr", col("rn") - 1)
      .join(broadcast(targets), Seq("event_type"))
      .filter(col("gr") === col("lo") || col("gr") === col("lo") + 1)
      .groupBy("event_type", "q", "lo", "m")
      .agg(cents(max(when(col("gr") === col("lo"), col("value")))).as("c_lo"),
        cents(max(when(col("gr") === col("lo") + 1, col("value")))).as("c_hi"))
      .withColumn("mc", lit(10L) * col("c_lo")
        + col("m") * (coalesce(col("c_hi"), col("c_lo")) - col("c_lo")))
    val minmax = ev.groupBy("event_type")
      .agg(cents(min("value")).as("vmin_cents"), cents(max("value")).as("vmax_cents"))
    interp.groupBy("event_type")
      .agg(max(when(col("q") === "p50", col("mc"))).as("p50_mc"),
        max(when(col("q") === "p90", col("mc"))).as("p90_mc"))
      .join(minmax, Seq("event_type"))
      .orderBy("event_type")
  }

  /** The 100 TB default form of [[valueQuantiles]]: KLL-style sketch
    * quantiles (`percentile_approx`, rank error ≤ n/accuracy) fused
    * into ONE partial-aggregating pass — no range repartition, no
    * per-range sort, the funnel is one sketch per group per partition.
    * The exact form's repartitionByRange + local rank machinery is the
    * audit; this is what runs routinely at corpus scale (rows-only
    * gate — sketch contents are engine-specific; the rank-error bound
    * vs the exact quantiles is spec-pinned in AnalyticsProfileSpec).
    */
  def valueQuantilesApprox(s: SparkSession, dir: String,
      accuracy: Int = 1000): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        cents(expr(s"percentile_approx(value, 0.5, $accuracy)"))
          .as("p50_c_approx"),
        cents(expr(s"percentile_approx(value, 0.9, $accuracy)"))
          .as("p90_c_approx"),
        cents(min("value")).as("vmin_cents"),
        cents(max("value")).as("vmax_cents"))
      .orderBy("event_type")

  /** Hard audit gate for [[valueQuantilesApprox]] (the documented
    * 100 TB default): the sketch contract is rank error ≤ n/accuracy,
    * and this query MEASURES it in-engine — per (group, quantile) the
    * approx value's occupied rank interval [cnt_lt, cnt_le) must
    * intersect target ± budget, with budget = 2n/accuracy + 1 (twice
    * the sketch bound plus one, absorbing the cent-image tie widening
    * and the target-rank convention) — and emits a row the oracle CAN
    * hash: (group, quantile, n, budget, within_bound). The oracle
    * derives n and the budget exactly and asserts within_bound = 1,
    * so a sketch violating its bound flips the flag and reddens the
    * gate; the sketch value itself (engine-specific) never crosses
    * engines. One corpus scan: the 10-row approx table broadcasts
    * into a partial-aggregated count pass.
    */
  def valueQuantilesAudit(s: SparkSession, dir: String,
      accuracy: Int = 1000): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), cents(col("value")).as("vc"))
    val approx = valueQuantilesApprox(s, dir, accuracy)
      .select(col("event_type"),
        explode(map(
          lit("p50"), struct(col("p50_c_approx").as("ac"), lit(5L).as("pt")),
          lit("p90"), struct(col("p90_c_approx").as("ac"), lit(9L).as("pt")))))
      .select(col("event_type"), col("key").as("q"),
        col("value.ac").as("ac"), col("value.pt").as("pt"))
    ev.join(broadcast(approx), Seq("event_type"))
      .groupBy("event_type", "q", "ac", "pt")
      .agg(count(lit(1)).as("n_grp"),
        sum(when(col("vc") < col("ac"), 1L).otherwise(0L)).as("cnt_lt"),
        sum(when(col("vc") <= col("ac"), 1L).otherwise(0L)).as("cnt_le"))
      .withColumn("rank_budget", expr(s"2 * n_grp div $accuracy + 1"))
      .withColumn("target", expr("pt * n_grp div 10"))
      .select(col("event_type"), col("q"), col("n_grp"), col("rank_budget"),
        (col("cnt_lt") <= col("target") + col("rank_budget") &&
          col("cnt_le") >= col("target") - col("rank_budget"))
          .cast("long").as("within_bound"))
  }

  /** Grouping sets: totals by event type, by partition, and overall —
    * one shuffle via the native GROUPING SETS plan (not a union of
    * three aggregations).
    */
  def groupingSetsActivity(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("part_id", (col("user_id") % 8).cast("int"))
      .groupingSets(
        Seq(Seq(col("event_type")), Seq(col("part_id")), Seq()),
        col("event_type"), col("part_id"))
      .agg(count(lit(1)).as("n_events"), cents(sum("value")).as("value_cents"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("et"),
        coalesce(col("part_id"), lit(-1)).as("p"),
        col("n_events"), col("value_cents"))
      .orderBy("et", "p")

  /** Running per-user cumulative aggregates (exact, integer cents). */
  def userRunningValue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("value_cents", cents(col("value")))
      .withColumn("run_cents", sum("value_cents").over(w))
      .withColumn("run_events", count(lit(1)).over(w))
      .select("user_id", "event_id", "value_cents", "run_cents", "run_events")
      .orderBy("user_id", "event_id")
  }

  /** Column-level table profile (the ANALYZE/data-quality staple a
    * user points at any landed table): per column — row count, null
    * count, exact distinct count, and min/max rendered as strings so
    * one output schema covers every column type.
    *
    * Two hash-aggregate passes over the scan, both fully parallel:
    *  - count/min/max for every column in ONE global `agg` (partials
    *    reduce each partition to a single row before the final
    *    combine — the funnel moves one row per partition, metadata;
    *    min(string) makes this a keyless SortAggregate, which with no
    *    grouping key is a streaming fold, not a sort);
    *  - exact distincts: one two-level hash aggregate PER COLUMN
    *    (pruned single-column scan, map-side partial dedup so hot
    *    values collapse before the exchange), the per-column jobs
    *    submitted as overlapped driver jobs (guide §2.6 — total scan
    *    I/O equals the old single `stack`-unpivot pass, but the small
    *    jobs back-fill each other's idle cores). Memoized per corpus
    *    ([[exactDistincts]]) and joined back as a |cols|-row local
    *    relation, so the profile and its approx-audit twin share one
    *    distinct pass per session.
    * A single `agg` with N `countDistinct`s would instead plan the
    * multi-distinct Expand rewrite into a SORT aggregate funneled
    * through one partition — measured 20 s vs ~2 s on a 600k-row
    * table. Distinctness is counted on the string image (injective
    * for every type here; the oracle casts identically).
    *
    * Robustness/portability: user column names are referenced only
    * backtick-quoted (ANALYZE tooling meets user schemas — a column
    * named with spaces, quotes, or backticks must profile, not parse
    * as something else), per-column intermediates use POSITIONAL
    * aliases (`nn_0`…) so hostile names never enter generated SQL
    * text, and float/double min/max render through a fixed-scale
    * `decimal(38,6)` — Spark's Java `Double.toString` flips to
    * scientific notation at 1e7 where other engines (the DuckDB
    * oracle included) don't, so engine-native rendering diverges on
    * extreme values. Assumption: |min/max| < 10^32 for float columns
    * (the decimal cast overflows to null past it) and 6 fractional
    * digits identify the boundary — the operational ANALYZE trade.
    */
  def columnProfile(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val cs = if (cols.nonEmpty) cols else df.columns.toSeq
    val aggs = cs.zipWithIndex.flatMap { case (c, i) =>
      val cc = col(bq(c))
      Seq(count(cc).as(s"nn_$i"),
        renderS(df, c, min(cc)).as(s"mn_$i"),
        renderS(df, c, max(cc)).as(s"mx_$i"))
    } :+ count(lit(1)).as("n_rows")
    val stackArgs = lit(cs.size) +: cs.indices.flatMap(i =>
      Seq(lit(cs(i)), col(s"nn_$i"), col(s"mn_$i"), col(s"mx_$i")))
    val basic = df.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), stack(stackArgs: _*))
      .toDF("n_rows", "col_name", "n_non_null", "min_s", "max_s")
    // distinctness stays on the engine-native string image: each
    // engine only needs its own image to be injective (the count is
    // what crosses engines, not the strings)
    val nd = exactDistincts(df, cs)
    basic.join(nd, Seq("col_name"), "left")
      .select(col("col_name"), col("n_rows"),
        (col("n_rows") - col("n_non_null")).as("n_null"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("min_s"), col("max_s"))
  }

  /** Backtick-quote an identifier for the parsed paths (`col`/SQL):
    * embedded backticks double, everything else passes through.
    */
  private def bq(c: String): String = "`" + c.replace("`", "``") + "`"

  /** ONE column's exact-distinct count as a plan (package-visible so
    * the plan audit pins its shape): a single pruned-column scan,
    * string image, two-level hash aggregate — never the
    * multi-distinct Expand rewrite (see [[columnProfile]]'s scaladoc).
    */
  private[graft] def exactDistinctColumnPlan(df: DataFrame,
      c: String): DataFrame =
    df.select(col(bq(c)).cast("string").as("v"))
      .filter(col("v").isNotNull)
      .distinct()
      .agg(count(lit(1)).as("n_distinct"))

  /** Per-column exact distincts, memoized per (session, corpus,
    * column list): the distinct pass is the profiler's one
    * cardinality-scale shuffle, and the exact profile and its
    * approx-audit twin each ran the IDENTICAL subtree over the same
    * table. The memoized value is |cols| rows, parameter-scale, held
    * driver-side and rebuilt as a local relation per consumer; the
    * pass is deterministic, so memoizing is invisible to results.
    *
    * On a miss the per-column counts run as OVERLAPPED driver jobs
    * (guide §2.6), one per column, replacing the r20 single
    * `stack`-unpivot job: each job scans exactly one pruned parquet
    * column (total I/O equal to the one wide scan) and its small
    * distinct shuffle back-fills cores the siblings' input-split
    * counts and straggler tails leave idle; the string image and the
    * counts are identical to the unpivoted form by construction.
    */
  private def exactDistincts(df: DataFrame, cs: Seq[String]): DataFrame = {
    // length-prefixed encoding: a plain mkString(",") collided
    // Seq("a,b") with Seq("a","b") (and any comma-bearing name)
    val rows = ndCache.get(df, cs.map(c => s"${c.length}:$c").mkString(",")) {
      graft.core.Overlap.overlapped(df.sparkSession, cs.map { c =>
        c -> (() => exactDistinctColumnPlan(df, c).collect()(0).getLong(0))
      })
    }
    val sp = df.sparkSession
    import sp.implicits._
    rows.toDF("col_name", "n_distinct")
  }

  private val ndCache = graft.core.SessionMemo.values[Seq[(String, Long)]]()

  /** Portable string rendering for profile min/max — see
    * [[columnProfile]]'s scaladoc.
    */
  private def renderS(df: DataFrame, c: String,
      x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.DoubleType
         | org.apache.spark.sql.types.FloatType =>
        x.cast("decimal(38,6)").cast("string")
      case _ => x.cast("string")
    }

  /** The 100 TB default form of [[columnProfile]]: identical output
    * shape with `n_distinct_approx` (HyperLogLog++,
    * `approx_count_distinct` at `rsd` relative error) instead of the
    * exact distinct count — computed in the SAME single global
    * aggregate as count/min/max, so the whole profile is ONE scan
    * with a metadata-sized funnel (one HLL sketch per column per
    * partition). The exact form's unpivot+distinct pass is the one
    * profiler stage whose shuffle grows with corpus CARDINALITY —
    * fine for audits, wrong as the default at a trillion rows; this
    * twin is the operational default, with [[columnProfile]] as its
    * audit. Gated rows-only (HLL estimates are engine-specific);
    * the error bound vs the exact profile is spec-pinned.
    */
  def columnProfileApprox(df: DataFrame, cols: Seq[String] = Nil,
      rsd: Double = 0.05): DataFrame = {
    val cs = if (cols.nonEmpty) cols else df.columns.toSeq
    val aggs = cs.zipWithIndex.flatMap { case (c, i) =>
      val cc = col(bq(c))
      Seq(count(cc).as(s"nn_$i"),
        approx_count_distinct(cc, rsd).as(s"nd_$i"),
        renderS(df, c, min(cc)).as(s"mn_$i"),
        renderS(df, c, max(cc)).as(s"mx_$i"))
    } :+ count(lit(1)).as("n_rows")
    val stackArgs = lit(cs.size) +: cs.indices.flatMap(i =>
      Seq(lit(cs(i)), col(s"nn_$i"), col(s"nd_$i"), col(s"mn_$i"),
        col(s"mx_$i")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), stack(stackArgs: _*))
      .toDF("n_rows", "col_name", "n_non_null", "n_distinct_approx",
        "min_s", "max_s")
      .select(col("col_name"), col("n_rows"),
        (col("n_rows") - col("n_non_null")).as("n_null"),
        col("n_distinct_approx"), col("min_s"), col("max_s"))
  }

  /** Hard audit gate for [[columnProfileApprox]]: HLL++ at `rsd` has
    * standard error rsd, and the audit asserts each column's approx
    * distinct count lands within `sigmas`·rsd of the exact count
    * (4σ at rsd 0.05 = 20%; approx_count_distinct is deterministic,
    * so the flag is stable, and the bound is wide enough that a green
    * run stays green while a broken sketch — off by 2× — reddens it).
    * Emits (col_name, n_distinct_exact, bound_bp, within_bound):
    * everything except the flag is oracle-computable exactly, and the
    * oracle asserts the flag — the bound crosses engines, the sketch
    * never does. Cost: the approx side is [[columnProfileApprox]]'s
    * one scan; the exact side is [[columnProfile]]'s unpivot+distinct
    * pass (this is the AUDIT, run on samples/cadence, not the default).
    */
  def columnProfileAudit(df: DataFrame, cols: Seq[String] = Nil,
      rsd: Double = 0.05, sigmas: Int = 4): DataFrame = {
    val cs = if (cols.nonEmpty) cols else df.columns.toSeq
    val boundBp = math.round(sigmas * rsd * 10000)
    val approx = columnProfileApprox(df, cs, rsd)
      .select(col("col_name"), col("n_distinct_approx"))
    val exact = exactDistincts(df, cs)
      .withColumnRenamed("n_distinct", "n_distinct_exact")
    exact.join(approx, Seq("col_name"))
      .select(col("col_name"), col("n_distinct_exact"),
        lit(boundBp).as("bound_bp"),
        (abs(col("n_distinct_approx") - col("n_distinct_exact")) * 10000
          <= col("n_distinct_exact") * boundBp)
          .cast("long").as("within_bound"))
  }
}
