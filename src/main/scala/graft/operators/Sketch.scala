package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Portable._

/** Deterministic, oracle-checkable sketches.
  *
  * Engine-native sketches (HLL registers, theta samples) are
  * layout-specific: two engines agree only approximately, so a gated
  * exact-match harness can't verify them. KMV (k minimum values,
  * Bar-Yossef et al. 2002) is different: the sketch IS the k smallest
  * distinct values of a shared deterministic hash, so every element of
  * the sketch — and therefore the estimate — is bit-identical in any
  * engine that agrees on the hash. Same portability idea as the
  * quantized-cosine family: pick the representation where exactness is
  * possible, then the oracle gates it exactly.
  */
object Sketch {
  /** Sketch size: estimate relative error ~ 1/sqrt(k-2) ≈ 6%. */
  val KmvK = 256

  /** KMV distinct-token sketch per language plus the corpus-wide
    * merge ("ALL"). Output per group: exact distinct count (the audit
    * twin a 100 TB run would drop), sketch fill `k_actual`, the k-th
    * minimum hash `h_k`, and the KMV estimate
    * `round((k−1)·2^60 / h_k)` — one IEEE division + one HALF_UP
    * round, bit-identical across engines (the [[graft.operators.Ann]]
    * cosine pattern). A group with fewer than k distinct tokens has
    * the exact count as its estimate (the sketch saw everything).
    *
    * Mergeability — the reason KMV is the 100 TB shape: the sketch of
    * a union is the k smallest of the concatenated sketches, so
    * per-partition sketches combine associatively (here the "ALL" row
    * is exactly the merge of the per-language rows; pinned in the
    * spec). Scale: token hashes dedup via a partial-aggregating
    * `distinct` on (grp, h); the k-th minimum per group comes from a
    * [[TwoLevel.rank]] over range blocks ([[TwoLevel.Ranges]]), NEVER
    * a per-group global-sort funnel — the same plan as exact
    * quantiles. The hot "ALL" group spans many range partitions; its
    * rank work is distributed across all of them.
    */
  def kmvDistinctTokens(docs: DataFrame, k: Int = KmvK): DataFrame = {
    graft.core.Validation.validate("kmv",
      graft.core.Validation.knob("k", k, minV = 2L))
    val lh = docs.select(col("lang"),
        explode(split(normText(col("text")), " ")).as("tok"))
      .select(col("lang"), hexHash60(col("tok")).as("h"))
    val grps = lh.select(col("lang").as("grp"), col("h"))
      .unionByName(lh.select(lit("ALL").as("grp"), col("h")))
      .distinct()
    val ranked = TwoLevel.rank(grps, Seq("grp"), Seq(col("h")),
      TwoLevel.Ranges, "gr")
    val exact = ranked.totals("n_exact")
    // (k−1)·2^60 as an exact double: k−1 ≤ 2^8 keeps the product's
    // mantissa within 53 bits, so the constant itself is lossless
    val num = (k - 1).toDouble * math.pow(2, 60)
    ranked.rows
      .filter(col("gr") <= k)
      .groupBy("grp")
      .agg(count(lit(1)).as("k_actual"), max("h").as("h_k"))
      .join(broadcast(exact), Seq("grp"))
      .select(col("grp"), col("n_exact"), col("k_actual"), col("h_k"),
        when(col("k_actual") < k, col("k_actual"))
          .otherwise(round(lit(num) / col("h_k").cast("double"), 0)
            .cast("long")).as("distinct_est"))
  }

  /** Count-Min sketch geometry: depth rows × width buckets. Width 1024
    * gives ε = e/w ≈ 0.27% of stream length per-row over-estimate
    * bound in the classic analysis; depth 4 takes the min over four
    * decorrelated rows. The whole sketch is depth·width longs —
    * driver/broadcast parameter scale.
    */
  val CmsDepth = 4
  val CmsWidth = 1024

  /** Default heavy-hitter share threshold (basis points). One
    * constant interpolated into BOTH the Spark call and the DuckDB
    * oracle string (the cmsParams anti-drift pattern) — a default
    * change cannot silently desynchronize the two sides.
    */
  val HeavyHitterShareBp = 100L

  /** Per-row bucket expression pieces, generated from ONE Scala seq so
    * the Spark projection and the oracle SQL cannot drift: row i
    * hashes the i-th 20-bit slice of the shared 60-bit token hash
    * (slices decorrelate the rows — two tokens colliding in one row's
    * slice still split in another's) through the portable LCG
    * `(a·h20 + b) mod P`, then mod width. All arithmetic stays below
    * 2^40 — inside DuckDB's checked-i64 range.
    * Returns (hash_id, a, b, sliceDiv = 2^(10·i)).
    */
  def cmsParams(depth: Int = CmsDepth): Seq[(Int, Long, Long, Long)] =
    Dedup.hashParams(depth).zipWithIndex.map { case ((a, b), i) =>
      (i, a, b, 1L << (10 * i))
    }

  /** Count-Min frequency sketch over corpus tokens — the T14 KMV idea
    * applied to FREQUENCY: engine-native frequent-items summaries
    * (SpaceSaving, Misra-Gries) are stream-order-dependent, so no
    * exact-match harness can gate them; Count-Min (Cormode &
    * Muthukrishnan 2005) is a LINEAR sketch — cell (i, j) is exactly
    * `Σ count(tok) where bucket_i(tok) = j`, a pure function of the
    * data — so every cell is bit-identical in any engine that agrees
    * on the hash, and sketches of corpus shards MERGE by element-wise
    * addition (pinned in the spec).
    *
    * Scale: the stack explodes each token occurrence to `depth` rows,
    * then ONE partial-aggregating groupBy collapses to depth·width
    * rows — each map task emits at most the sketch itself, so shuffle
    * volume is bounded by depth·width·tasks regardless of corpus size
    * (the reason a 100 TB token-frequency pass ships sketches, not
    * token tables). Output: (hash_id, bucket, cnt).
    */
  def cmsSketch(docs: DataFrame, depth: Int = CmsDepth,
      width: Int = CmsWidth): DataFrame = {
    // depth ≤ 6: row i reads bits [10·i, 10·i+20) of the 60-bit hash;
    // a 7th row would slice past the hash and collapse to one bucket
    graft.core.Validation.validate("cms",
      graft.core.Validation.knob("depth", depth, minV = 1L, maxV = 6L) ++
        graft.core.Validation.knob("width", width, minV = 2L))
    val occ = docs
      .select(explode(split(normText(col("text")), " ")).as("tok"))
      .select(hexHash60(col("tok")).as("h"))
    val stackExpr = cmsParams(depth).map { case (i, a, b, d) =>
      s"$i, (($a * ((h div $d) % 1048576) + $b) % ${Dedup.MinHashPrime}) % $width"
    }.mkString(", ")
    occ.selectExpr(s"stack($depth, $stackExpr) AS (hash_id, bucket)")
      .groupBy("hash_id", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Heavy hitters through the Count-Min sketch: every token whose
    * sketch estimate `est = min_i cms[i][bucket_i(tok)]` clears the
    * share threshold. Count-Min only ever OVER-estimates (each cell
    * sums the token's own count plus its bucket-mates'), so the output
    * is a guaranteed SUPERSET of the true heavy hitters — no false
    * negatives, deterministically (the audit columns `n_exact` and
    * `overcount = est − exact` make the guarantee and its cost
    * visible per token, and the gate hash-verifies both).
    *
    * The estimate is a ZERO-shuffle projection: the sketch (depth·width
    * longs) collects to the driver and ships as per-row literal
    * arrays indexed by the same bucket expressions — the PQ
    * distance-table trick applied to frequency. The exact-count
    * groupBy here feeds the audit columns and the candidate stream; a
    * pure 100 TB serving path estimates any candidate token without
    * it (the sketch never needs the token table again).
    *
    * Threshold semantics: keep tokens with
    * `est ≥ ceil(n_total · minShareBp / 10000)`, compared in integer
    * cross-multiplied form. `n_total` is read from sketch row 0 (every
    * row of a CMS sums to the stream length — no extra pass).
    */
  def heavyHittersCms(docs: DataFrame, minShareBp: Long = HeavyHitterShareBp,
      depth: Int = CmsDepth, width: Int = CmsWidth): DataFrame = {
    graft.core.Validation.validate("cms-heavy-hitters",
      graft.core.Validation.knob("minShareBp", minShareBp, minV = 1L,
        maxV = 10000L))
    val (nTotal, ests) = sketchEstimates(docs, depth, width)
    val exact = docs
      .select(explode(split(normText(col("text")), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n_exact"))
    exact.withColumn("h", hexHash60(col("tok")))
      .withColumn("est_count", least(ests: _*))
      .filter(col("est_count") * 10000L >= lit(nTotal) * minShareBp)
      .select(col("tok"), col("n_exact"), col("est_count"),
        (col("est_count") - col("n_exact")).as("overcount"))
  }

  /** PURE-SKETCH frequency serving — the path the 100 TB claim names:
    * estimate arbitrary candidate tokens (`candidates`: a `tok`
    * column, request-scale by definition) with NO second corpus pass
    * and NO exact token table anywhere. One bounded-shuffle sketch
    * build over `docs` (shuffle ≤ depth·width·tasks regardless of
    * corpus size), then the estimate is a zero-shuffle literal
    * projection over the candidate rows — corpus work is the sketch
    * build, full stop. Output per candidate: (tok, est_count,
    * share_bp) with `share_bp = est·10⁴ div stream-length` (stream
    * length read from sketch row 0 — every CMS row sums to it).
    *
    * Same one-sided guarantee as [[heavyHittersCms]]: estimates only
    * ever OVER-count (true count + bucket-mates), deterministically —
    * and the oracle gate recomputes the identical cells/min in SQL, so
    * the serving numbers are cross-engine exact, not "approximately
    * tested". (heavyHittersCms keeps the exact-count audit columns;
    * this path is what replaces them when a second corpus pass is
    * unaffordable.)
    */
  def estimateCms(docs: DataFrame, candidates: DataFrame,
      depth: Int = CmsDepth, width: Int = CmsWidth): DataFrame = {
    val (nTotal, ests) = sketchEstimates(docs, depth, width)
    candidates.select(col("tok")).distinct()
      .withColumn("h", hexHash60(col("tok")))
      .withColumn("est_count", least(ests: _*))
      .select(col("tok"), col("est_count"),
        // integer `div` (Column./ is IEEE double division); an empty
        // corpus leaves share undefined, not a DIVIDE_BY_ZERO crash
        (if (nTotal > 0) expr(s"est_count * 10000 div $nTotal")
         else lit(null).cast("long")).as("share_bp"))
  }

  /** Shared sketch→serving-literal step: build the sketch, collect it
    * (depth·width longs — parameter scale), and return the stream
    * length plus the per-row estimate columns (dense literal arrays
    * indexed by the same bucket expressions as the build — the PQ
    * distance-table trick applied to frequency). Callers provide a
    * 60-bit `h` column.
    */
  private def sketchEstimates(docs: DataFrame, depth: Int,
      width: Int): (Long, Seq[org.apache.spark.sql.Column]) = {
    val cells = cmsSketch(docs, depth, width).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val nTotal = cells.filter(_._1 == 0).map(_._3).sum
    // dense per-row literal arrays (absent buckets are zero cells)
    val rowArr: Map[Int, Seq[Long]] = (0 until depth).map { i =>
      val m = cells.filter(_._1 == i).map(c => c._2 -> c._3).toMap
      i -> (0 until width).map(j => m.getOrElse(j.toLong, 0L))
    }.toMap
    val ests = cmsParams(depth).map { case (i, a, b, d) =>
      // `div`, not `/`: h is up to 2^60 and Column./ is IEEE double
      // division (53-bit mantissa would corrupt the slice)
      element_at(typedLit(rowArr(i)),
        (((lit(a) * (expr(s"h div $d") % 1048576L)
          + lit(b)) % Dedup.MinHashPrime) % width).cast("int") + 1)
    }
    (nTotal, ests)
  }
}
