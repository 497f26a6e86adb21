package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** A15 — hybrid retrieval: lexical (idf-weighted token overlap) and
  * vector (exact cosine) rankings fused by Reciprocal Rank Fusion
  * (Cormack et al. 2009: score(d) = Σ_lists 1/(k₀ + rank_list(d)),
  * k₀ = 60) — the production retrieval shape every RAG / training-data
  * curation stack serves, where neither leg alone is right: lexical
  * catches exact terms embeddings smear, vectors catch paraphrase
  * lexical misses, and RRF needs no score calibration between them
  * (ranks only).
  *
  * Integer-exact cross-engine contract: the lexical score is
  * Σ over DISTINCT shared tokens of `10^6 div df` (an integer idf
  * surrogate — stopwords with corpus-scale df contribute ~0, rare
  * terms dominate; `div` floors identically in Spark and DuckDB), the
  * RRF score is `10^12 div (60 + lex_rank) + 10^12 div (60 +
  * vec_rank)` — all BIGINT arithmetic, no floats anywhere, so the
  * fused ranking is bit-portable. A document missing from one leg
  * (not in its top-N, or lexical-only because it has no embedding)
  * contributes only the other term, the standard RRF convention.
  *
  * Scale: the query side is request-scale by definition and BROADCAST
  * into both legs — the lexical leg is one broadcast-hash join of the
  * corpus token table against the ≤ numQueries·|query vocab| query
  * tokens followed by a partial-aggregating (q, d) rollup, and the
  * vector leg is [[Ann.knnBruteForce]]'s broadcast-queries scan (swap
  * in [[Ann.knnIvfTrained]] for the probe-bounded form at corpus
  * scale — the fusion is rank-based, so legs are pluggable). The
  * fusion itself joins two (queries × topN)-row lists — metadata
  * scale. At 100 TB the lexical leg's inverted-index analogue is the
  * df-weighted token join exactly as here; production additionally
  * PRUNES df > corpus/2 stopword postings, which this corpus's
  * 31-word vocabulary would degenerate under (every token is a
  * stopword by that rule), so the prune stays documented rather than
  * hard-coded.
  */
object HybridSearch {

  def hybridTopK(docs: DataFrame, embeddings: DataFrame,
      numQueries: Int, k: Int, topN: Int = 20,
      rrfK: Int = 60): DataFrame =
    fuse(docs, numQueries, k, topN, rrfK,
      // exact cosine top-N — the truth-leg form
      Ann.knnBruteForce(embeddings, numQueries, topN))

  /** The corpus-scale form: the vector leg is [[Ann.knnIvfTrained]]
    * (probe-bounded trained-IVF scan — 1/kCells of the corpus per
    * probe instead of a full scan), the lexical leg and the fusion
    * unchanged. RRF consumes RANKS, so swapping the leg changes which
    * documents carry a vec_rank (IVF sees only probed cells) and
    * therefore the fused output — this form has its own oracle gate
    * rather than inheriting the brute-force one. The trained state
    * rides the shared centroid memo; everything driver-held stays
    * request/parameter-scale.
    */
  def hybridTopKIvf(docs: DataFrame, embeddings: DataFrame,
      numQueries: Int, k: Int, topN: Int = 20, rrfK: Int = 60,
      kCells: Int = 8, iterations: Int = 2, probes: Int = 1): DataFrame =
    fuse(docs, numQueries, k, topN, rrfK,
      Ann.knnIvfTrained(embeddings, numQueries, topN,
        kCells, iterations, probes))

  /** The lexical top-N PASS as a plan (package-visible so the plan
    * audits pin its shape: query tokens broadcast into the corpus
    * token join — an equi BroadcastHashJoin, never a cartesian).
    */
  private[graft] def lexLegPlan(docs: DataFrame, numQueries: Int,
      topN: Int): DataFrame = {
    val tokSet = TextAnalysis.tokens(docs).distinct() // (doc_id, tok)
    val df_ = tokSet.groupBy("tok").agg(count(lit(1)).as("df"))
    val wTok = tokSet.join(df_, Seq("tok"))
      .withColumn("w", expr("1000000 div df"))
    // the query side needs only (q_id, tok) — taking it from tokSet
    // (not wTok) keeps the corpus-wide df aggregation in ONE branch of
    // the plan; the shared token's weight comes from the candidate row
    val qTok = tokSet.filter(col("doc_id") < numQueries)
      .select(col("doc_id").as("q_id"), col("tok"))
    val lexW = Window.partitionBy("q_id")
      .orderBy(col("lex_score").desc, col("doc_id"))
    wTok.join(broadcast(qTok), Seq("tok"))
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy("q_id", "doc_id")
      .agg(sum("w").as("lex_score"))
      .withColumn("lex_rank", row_number().over(lexW))
      .filter(col("lex_rank") <= topN)
      .select("q_id", "doc_id", "lex_rank")
  }

  /** The lexical top-N ranking, memoized per (session, corpus,
    * request) — see the note at the call site in [[fuse]].
    */
  private def lexLeg(docs: DataFrame, numQueries: Int,
      topN: Int): DataFrame = {
    val rows = lexCache.get(docs, s"nq=$numQueries topN=$topN") {
      lexLegPlan(docs, numQueries, topN)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSeq
    }
    val sp = docs.sparkSession
    import sp.implicits._
    rows.toDF("q_id", "doc_id", "lex_rank")
  }

  private val lexCache = graft.core.SessionMemo.values[Seq[(Long, Long, Int)]]()

  /** Shared lexical leg + RRF fusion over a pluggable vector leg
    * (any (q_id, rnk, neighbor_id, …) top-N ranking).
    */
  private def fuse(docs: DataFrame, numQueries: Int, k: Int, topN: Int,
      rrfK: Int, vecLeg: DataFrame): DataFrame = {
    graft.core.Configs.AnnRequest(numQueries, k).validated
    graft.core.Validation.validate("hybrid",
      graft.core.Validation.knob("topN", topN, minV = 1L) ++
        graft.core.Validation.knob("rrfK", rrfK, minV = 1L))

    // ---- lexical leg: idf-weighted distinct-token overlap ----------
    // Memoized per (session, corpus, numQueries, topN): the brute and
    // trained-IVF hybrid forms share an IDENTICAL lexical leg (only
    // the vector leg differs), and each was re-running the corpus
    // token-set + df aggregation + rank window. The leg's result is
    // (numQueries · topN) rows — request-scale, the truth-memo shape.
    val lex = lexLeg(docs, numQueries, topN)

    // ---- vector leg: caller-supplied top-N ranking (brute force or
    // trained IVF — RRF consumes ranks, not scores) ------------------
    val vec = vecLeg
      .select(col("q_id"), col("neighbor_id").as("doc_id"),
        col("rnk").cast("long").as("vec_rank"))

    // ---- RRF fusion (two topN lists: metadata scale) ---------------
    val fusedW = Window.partitionBy("q_id")
      .orderBy(col("rrf_score").desc, col("doc_id"))
    lex.join(vec, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr(s"1000000000000 div ($rrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000000000 div ($rrfK + vec_rank)"), lit(0L)))
      .withColumn("rnk", row_number().over(fusedW))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("doc_id"),
        col("rrf_score"),
        coalesce(col("lex_rank").cast("long"), lit(-1L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(-1L)).as("vec_rank"))
  }
}
