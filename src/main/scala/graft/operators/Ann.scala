package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{Overlap, SessionMemo}
import graft.functions.{CentroidMatrix, CentroidOps, VecOps}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Portability: components are quantized to integer milli-units
  * (`round(x*1000)::long`) before any arithmetic, so dot products and
  * norms are EXACT integers and the final cosine double is
  * bit-identical between Spark and the DuckDB oracle.
  *
  * Scale design: brute force broadcasts the (small) query set and
  * scans the corpus once — linear, no shuffle of the corpus. The LSH
  * variant buckets vectors by random-hyperplane signs so the
  * candidate join is an equi-join on bucket id; at 100 TB the bucket
  * key is the shuffle key and per-bucket work is bounded.
  */
object Ann {
  val Dims = 64
  val NumPlanes = 8
  /** JL projection width (A16): 64 → 32 dims = 2× smaller stage-1
    * scan. Chosen from the measured recall curve on the synthetic
    * (near-uniform — JL's WORST case: no low-rank structure to
    * preserve) corpus: 16 dims could not rank the margin-thin
    * neighbors (recall@10 ≤ 39% even at shortK 200) while 32/200
    * reaches 68% and 32/400 81%; real embedding corpora have
    * effective rank ≪ dims and sit well above this floor.
    */
  val RpDims = 32
  /** Stage-1 shortlist depth the exact rerank fetches per query —
    * an absolute per-query constant (200 vector fetches), not a
    * corpus fraction, so the rerank cost is flat at 100 TB.
    */
  val RpShortK = 200

  /** Quantized embedding + integer self-dot (norm²). The norm is the
    * native codegen dot of the vector with itself — no intermediate
    * squared array.
    */
  def quantized(embeddings: DataFrame): DataFrame =
    embeddings.select(
        col("vec_id"), col("label"),
        transform(col("embedding"), x => round(x * 1000, 0).cast("long")).as("v"))
      .withColumn("norm2", VecOps.intDot(col("v"), col("v")))

  /** Exact cosine between two quantized vectors (bit-identical across
    * engines: integer dot / product of identical sqrt doubles). The
    * dot is a native codegen expression — one fused pass, inside
    * whole-stage codegen, no per-row array allocation.
    */
  def cosine(va: Column, vb: Column, n2a: Column, n2b: Column): Column =
    VecOps.intDot(va, vb)
      .cast("double") / (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double")))

  /** [[cosine]] under the shared zero-norm guard: a pair with a
    * zero-norm side scores −2.0 (below any real cosine) instead of a
    * 0/0 that raises DIVIDE_BY_ZERO under ANSI or sorts as NaN, whose
    * order is engine-specific.
    */
  private[graft] def guardedCosine(va: Column, vb: Column, n2a: Column,
      n2b: Column): Column =
    when(n2a === 0 || n2b === 0, lit(-2.0))
      .otherwise(cosine(va, vb, n2a, n2b))

  /** The ranked tail of every top-k plan: per `q_id`, number the rows
    * by `order` (ties on `tie`) into `rank` and keep ranks 1..k.
    */
  private[graft] def topK(scored: DataFrame, k: Int, order: Column,
      tie: String = "vec_id", rank: String = "rnk"): DataFrame =
    scored.withColumn(rank, row_number().over(
        Window.partitionBy("q_id").orderBy(order, col(tie))))
      .filter(col(rank) <= k)

  /** [[topK]] projected to the neighbor schema (q_id, rnk,
    * neighbor_id, score): a similarity `score` ranks descending and is
    * reported as `<score>_bp` basis points, a distance (`desc = false`)
    * ranks ascending and is reported as is.
    */
  private[graft] def topKNeighbors(scored: DataFrame, k: Int, score: String,
      desc: Boolean = true): DataFrame =
    if (desc) topK(scored, k, col(score).desc)
      .select(col("q_id"), col("rnk"), col("vec_id").as("neighbor_id"),
        round(col(score) * 10000, 0).cast("long").as(s"${score}_bp"))
    else topK(scored, k, col(score))
      .select(col("q_id"), col("rnk"), col("vec_id").as("neighbor_id"),
        col(score))

  /** Deterministic pseudo-random hyperplane coefficient, identical in
    * SQL: coef(p,d) = ((1103515245*(p*64+d) + 12345) % 2001) - 1000.
    * This is the column-level statement of the rule
    * `VecOps.hyperplaneBucket` fuses natively and the DuckDB oracles
    * derive arithmetically; the equivalence is asserted in
    * DedupAnnSpec ("native vector expressions match ...").
    */
  def planeCoef(p: Column, d: Column): Column =
    (lit(1103515245L) * (p * Dims + d) + 12345L) % 2001L - 1000L

  /** Column-level statement of the JL ternary sign coefficient
    * [[graft.functions.VecOps.rpCoef]]: the portable 60-bit md5 hash
    * of the cell name, thirded — `hexHash60("rp:j:d") mod 3 − 1`
    * (see VecOps.rpCoef for why md5 and not an LCG — the measured
    * recall story). The native `VecOps.jlProject` fuses this rule
    * from a cached matrix; the DuckDB oracles restate it through the
    * shared md5 fragment; DedupAnnSpec pins the three forms equal.
    */
  def rpCoef(j: Column, d: Column): Column =
    graft.functions.Portable.hexHash60(
      concat(lit("rp:"), j.cast("string"), lit(":"), d.cast("string"))) % 3L - 1L

  /** Random-hyperplane-bucketed vectors: (vec_id, v, norm2, bucket).
    * The bucket is a native codegen expression evaluating all plane
    * signs in one pass per row — a pure projection. The relational
    * form (posexplode × planes → two groupBys) shuffled 64×8 rows per
    * vector; at corpus scale that shuffle, not the arithmetic, was the
    * cost.
    */
  def bucketed(embeddings: DataFrame, planes: Int = NumPlanes): DataFrame =
    quantized(embeddings)
      .withColumn("bucket", VecOps.hyperplaneBucket(col("v"), planes))

  /** Brute-force exact top-k cosine neighbors for query vecs. */
  def knnBruteForce(embeddings: DataFrame, numQueries: Int, k: Int): DataFrame = {
    graft.core.Configs.AnnRequest(numQueries, k).validated
    val q = quantized(embeddings)
    val queries = q.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm2").as("qn2"))
    topKNeighbors(q.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qn2"), col("norm2"))),
      k, "cos")
  }

  /** LSH-bucketed approximate top-k: candidates share the query's
    * hyperplane bucket; exact cosine rerank within the bucket.
    */
  def knnLsh(embeddings: DataFrame, numQueries: Int, k: Int,
      planes: Int = NumPlanes): DataFrame = {
    graft.core.Configs.AnnRequest(numQueries, k).validated
    graft.core.Configs.Hyperplanes(planes).validated
    val b = bucketed(embeddings, planes)
    val queries = b.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm2").as("qn2"), col("bucket").as("qbucket"))
    topKNeighbors(b.join(broadcast(queries),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qn2"), col("norm2"))),
      k, "cos")
  }

  /** Johnson–Lindenstrauss sparse random projection (Achlioptas 2003;
    * JL lemma): each milli-quantized vector is projected to `outDims`
    * exact integer components p(j) = Σ_d v(d)·r(j,d) with the
    * hash-derived sign matrix [[rpCoef]] — ~2/3 of the entries
    * nonzero, no trained state, no shipped matrix (the projection IS
    * its formula, so a new executor, the DuckDB oracle, and next
    * year's re-run all derive the identical map).
    *
    * This is the UNTRAINED dimensionality-reduction rung of the ANN
    * ladder: PQ/SQ8 compress bytes per component, JL removes
    * components. At 100 TB the projected table is what a store
    * materializes — 32 of 64 dims = 2× fewer bytes scanned per
    * stage-1 ranking pass — and because the map is data-independent
    * it never retrains, never drifts, and composes with every
    * downstream layout (a projected vector can itself be IVF-celled
    * or int8-coded). Output: (vec_id, label, v, norm2, pv, pn2) — the
    * full-dim columns ride along for the rerank stage; a materialized
    * store would persist (vec_id, pv, pn2) alone.
    */
  def projectRp(embeddings: DataFrame, outDims: Int = RpDims): DataFrame = {
    graft.core.Validation.validate("rp-project",
      graft.core.Validation.knob("outDims", outDims.toLong, minV = 1L,
        maxV = Dims.toLong))
    quantized(embeddings)
      .withColumn("pv", VecOps.jlProject(col("v"), outDims))
      .withColumn("pn2", VecOps.intDot(col("pv"), col("pv")))
  }

  /** Two-stage kNN over the JL-projected space: stage 1 ranks the
    * corpus by PROJECTED cosine (32-dim integer dots — the 2×-smaller
    * scan a materialized projected table gives a 100 TB store) and
    * keeps the top `shortK` per query; stage 2 fetches only those
    * candidates' full vectors (request-scale equi-join: numQueries ×
    * shortK ids, broadcast) and reranks by EXACT cosine to the final
    * top-k, so reported scores are always true cosines — projection
    * error can only cost recall, never corrupt a score.
    *
    * `shortK = k` degenerates to pure projected ranking (the
    * no-rerank point on the recall curve); `shortK ≥ corpus` makes
    * the operator exactly [[knnBruteForce]] (spec-pinned).
    *
    * A projected vector can cancel to all-zeros even when the source
    * vector is nonzero, so stage 1 guards zero norms to −2.0 (below
    * any real cosine), same convention as the IVF serving rule.
    */
  def knnRp(embeddings: DataFrame, numQueries: Int, k: Int,
      outDims: Int = RpDims, shortK: Int = RpShortK): DataFrame = {
    graft.core.Configs.AnnRequest(numQueries, k).validated
    graft.core.Validation.validate("rp-knn",
      graft.core.Validation.knob("shortK", shortK.toLong, minV = k.toLong))
    val p = projectRp(embeddings, outDims)
    val proj = p.select("vec_id", "pv", "pn2")
    val pq = proj.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("pv").as("qpv"),
        col("pn2").as("qpn2"))
    val short = topK(proj.join(broadcast(pq), col("vec_id") =!= col("q_id"))
        .withColumn("pcos", guardedCosine(col("qpv"), col("pv"), col("qpn2"),
          col("pn2"))), shortK, col("pcos").desc, rank = "prnk")
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
    val q = quantized(embeddings)
    val queries = q.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm2").as("qn2"))
    topK(broadcast(short)
      .join(q.select(col("vec_id").as("neighbor_id"), col("v"),
        col("norm2")), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qn2"),
        col("norm2"))), k, col("cos").desc, tie = "neighbor_id")
      .select(col("q_id"), col("rnk"), col("neighbor_id"),
        round(col("cos") * 10000, 0).cast("long").as("cos_bp"))
  }

  /** Recall curve for the JL rung, same spine as [[annRecall]]: the
    * no-rerank point (shortK = k: pure 32-dim projected ranking) vs
    * the production two-stage point (shortK = [[RpShortK]]) — rerank
    * must recover what projection loses, and the measured gap is the
    * documented cost/recall trade (32-dim scan + shortK full-dim
    * fetches per query).
    */
  def annRecallRp(embeddings: DataFrame, numQueries: Int,
      k: Int): DataFrame =
    recallTable(embeddings, numQueries, k, Seq(
      "knn_rp_proj" -> knnRp(embeddings, numQueries, k, shortK = k),
      "knn_rp_rerank" -> knnRp(embeddings, numQueries, k),
      "knn_rp_ivf" -> knnRpIvf(embeddings, numQueries, k)))

  /** The rp→IVF composition the JL scaladoc promises: the ENTIRE
    * stage-1 index lives in the projected space — Lloyd's k-means
    * trains on the 32-dim projected vectors, cell assignment and the
    * query's probe ranking run on projected cosine, and the per-cell
    * candidate scan ranks by projected cosine to a `shortK` shortlist
    * — then stage 2 reranks the shortlist by EXACT full-dim cosine
    * (same [[rerankExact]] refine as every lossy layout, so reported
    * scores are always true cosines).
    *
    * Why compose at 100 TB: IVF bounds the SCAN (probes/kCells of the
    * corpus per query) and JL halves the BYTES of what that scan
    * reads — a materialized (vec_id, pv, cell) table is the index; the
    * full-precision table is touched only for numQueries × shortK
    * rerank fetches. Trained state stays driver-scale (kCells × 32
    * longs — half the full-dim model). Zero-norm guard and tie-breaks
    * follow the shared IVF serving rule; recall for this rung is
    * measured on the shared spine as `knn_rp_ivf` in [[annRecallRp]].
    */
  def knnRpIvf(embeddings: DataFrame, numQueries: Int, k: Int,
      outDims: Int = RpDims, kCells: Int = 8, iterations: Int = 2,
      probes: Int = 2, shortK: Int = RpShortK): DataFrame = {
    graft.core.Configs.AnnRequest(numQueries, k).validated
    graft.core.Configs.Ivf(kCells, iterations, probes).validated
    graft.core.Validation.validate("rp-knn",
      graft.core.Validation.knob("shortK", shortK.toLong, minV = k.toLong))
    val proj = projectRp(embeddings, outDims)
      .select(col("vec_id"), col("pv").as("v"), col("pn2").as("norm2"))
    val cent = kmeansCentroids(proj, kCells, iterations)
    val assigned = cellAssign(proj, cent)
      .select("vec_id", "v", "norm2", "cell")
    val queries = rankedCells(proj.filter(col("vec_id") < numQueries), cent)
      .filter(col("c_rn") <= probes)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm2").as("qn2"), col("c_id").as("qcell"))
    val short = topK(assigned.join(broadcast(queries),
        col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .withColumn("pcos", guardedCosine(col("qv"), col("v"), col("qn2"),
        col("norm2"))), shortK, col("pcos").desc, rank = "prnk")
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
    rerankExact(embeddings, short, numQueries, k)
  }

  /** Int8 scalar quantization of the milli-quantized vectors: scale
    * each vector by its max|component| onto [-127, 127] and round —
    * the standard 4× compression layout for embedding stores at corpus
    * scale (one byte per component; the per-vector scale is the only
    * extra state). Output: (vec_id, label, v, maxabs, c, n2q) with
    * integer codes `c` and their self-dot `n2q`.
    *
    * Portability: a code is round((v_d·127)::double / maxabs) — exact
    * long product, one IEEE division, HALF_UP round, identical in
    * DuckDB — so every downstream code dot is an exact integer.
    * Because cosine is scale-invariant, the per-vector scales cancel:
    * quantized cosine is simply the cosine of the code vectors.
    */
  def int8Codes(embeddings: DataFrame): DataFrame =
    withInt8Cols(quantized(embeddings))

  /** THE single statement of the int8 code rule — append (maxabs, c,
    * n2q) to any frame with a milli-quantized `v`. Every consumer
    * (batch int8 ANN, IVF-SQ8, and both sides of the `sq8` streaming
    * index: its leaf codes and the query codes
    * [[graft.streaming.StreamingAnn.queryIndex]] collects) derives its
    * codes from this one expression, so index and query codes agree by
    * construction.
    */
  private[graft] def withInt8Cols(df: DataFrame): DataFrame = df
    .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
    .withColumn("c", transform(col("v"),
      x => when(col("maxabs") === 0, lit(0L))
        .otherwise(round((x * 127).cast("double") / col("maxabs"), 0)
          .cast("long"))))
    .withColumn("n2q", VecOps.intDot(col("c"), col("c")))

  /** Per-vector quantization audit: saturation count (|c|=127), code
    * L1 mass, and the EXACT integer round-trip error
    * Σ(c_d·maxabs − v_d·127)² = 127²·‖v̂−v‖² in milli-units² — the
    * quality the 4× compression pays, with no float in sight.
    */
  def int8QuantAudit(embeddings: DataFrame): DataFrame =
    int8Codes(embeddings)
      .select(col("vec_id"), col("maxabs"),
        size(filter(col("c"), x => abs(x) === 127)).cast("long").as("n_sat"),
        aggregate(transform(col("c"), x => abs(x)),
          lit(0L), (acc, x) => acc + x).as("l1_q"),
        aggregate(zip_with(col("c"), col("v"),
            (c, x) => (c * col("maxabs") - x * 127)
              * (c * col("maxabs") - x * 127)),
          lit(0L), (acc, x) => acc + x).as("err127_2"))

  /** Brute-force top-k by QUANTIZED cosine: the int8 codes stand in
    * for the full vectors (what a 100 TB store actually scans); exact
    * integer code dots, scale-free by cosine invariance. Same shape as
    * [[knnBruteForce]] — broadcast queries, one corpus scan, no corpus
    * shuffle. Zero vectors get sentinel cosine −2 (below any real
    * cosine) instead of a NaN whose sort order is engine-specific.
    */
  def knnQuantized(embeddings: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val q = int8Codes(embeddings)
    val queries = q.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("c").as("qc"), col("n2q").as("qn2q"))
    topKNeighbors(q.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("qcos", guardedCosine(col("qc"), col("c"), col("qn2q"),
        col("n2q"))), k, "qcos")
  }

  /** Exact per-label vector aggregates over quantized components:
    * count, Σ|component| (L1 mass), and ‖Σv‖² (squared norm of the
    * unnormalized centroid) — all integer arithmetic, so the oracle
    * matches bit-for-bit. The per-dimension sums aggregate in one
    * shuffle on (label, dim).
    */
  def labelCentroidStats(embeddings: DataFrame): DataFrame = {
    val q = quantized(embeddings)
    val perDim = q
      .select(col("label"), posexplode(col("v")).as(Seq("d", "comp")))
      .groupBy("label", "d")
      .agg(sum("comp").as("dim_sum"), sum(abs(col("comp"))).as("dim_abs"))
    val counts = q.groupBy("label").agg(count(lit(1)).as("n_vecs"))
    perDim.groupBy("label")
      .agg(sum(col("dim_sum") * col("dim_sum")).as("centroid_norm_sq"),
        sum("dim_abs").as("l1_mass"))
      .join(broadcast(counts), Seq("label"))
      .select("label", "n_vecs", "l1_mass", "centroid_norm_sq")
  }

  /** IVF-style ANN: partition the corpus into cells around a fixed
    * centroid set (every `centroidStride`-th vector — deterministic, no
    * training loop so the oracle can mirror it), assign each vector to
    * its max-cosine centroid, then search the query's `probes` nearest
    * cells (the standard IVF recall knob: probe-1 is the fastest,
    * probe-p trades p cell scans for recall). Corpus vectors always
    * live in exactly ONE cell, so multi-probe never duplicates a
    * candidate. At 100 TB the cell id is the shuffle/partition key and
    * per-cell scans replace the full-corpus scan; centroids are a
    * broadcast table, and probes multiplies only the (tiny) broadcast
    * query table, not the corpus side.
    */
  def knnIvf(embeddings: DataFrame, numQueries: Int, k: Int,
      centroidStride: Int = 50, probes: Int = 1,
      maxCells: Int = 4096): DataFrame = {
    graft.core.Validation.validate("ivf-stride",
      graft.core.Configs.AnnRequest(numQueries, k).violations ++
        graft.core.Validation.knob("centroidStride", centroidStride, minV = 1L) ++
        graft.core.Validation.knob("probes", probes, minV = 1L) ++
        graft.core.Validation.knob("maxCells", maxCells, minV = 1L))
    // Stride-derived K grows with the corpus (K = n/stride): past a few
    // thousand cells the ranked cross-join and centroid broadcast stop
    // being metadata-sized. This form exists as the oracle-mirrorable
    // baseline; use [[knnIvfTrained]] (K = const) at scale. The count
    // below is parquet-metadata-only, not a corpus scan.
    val n = embeddings.count()
    require(n / centroidStride <= maxCells,
      s"knnIvf stride-centroid cell count ${n / centroidStride} exceeds " +
        s"maxCells=$maxCells; use knnIvfTrained for corpora this large")
    val q = quantized(embeddings)
    val centroids = q.filter(col("vec_id") % centroidStride === 0)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("norm2").as("cn2"))
    val w = Window.partitionBy("vec_id").orderBy(col("c_cos").desc, col("c_id"))
    val ranked = q.crossJoin(broadcast(centroids))
      .withColumn("c_cos", cosine(col("cv"), col("v"), col("cn2"), col("norm2")))
      .withColumn("c_rn", row_number().over(w))
    val assigned = ranked.filter(col("c_rn") === 1)
      .select(col("vec_id"), col("v"), col("norm2"), col("c_id").as("cell"))
    val queries = ranked
      .filter(col("vec_id") < numQueries && col("c_rn") <= probes)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm2").as("qn2"), col("c_id").as("qcell"))
    topKNeighbors(assigned.join(broadcast(queries),
        col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qn2"), col("norm2"))),
      k, "cos")
  }

  /** IVF over TRAINED centroids — the A5→A3 wiring that closes
    * [[knnIvf]]'s scale caveat: stride-derived centroids grow with the
    * corpus (K = n/stride makes cell assignment an n×K ranked
    * cross-join and an unbounded centroid broadcast), while the
    * trained cell set from [[kmeansCentroids]] is K = CONST regardless
    * of corpus size. Corpus→cell assignment is then the same
    * zero-shuffle codegen projection as [[kmeansAssign]] (argmax
    * guarded cosine over a broadcast K·dims centroid matrix — bytes,
    * not data), so the only corpus-wide ops are that projection and
    * the final per-cell equi-join against the broadcast query probes.
    * Multi-probe ranks
    * the K-row centroid table per QUERY only (|queries|·K rows,
    * driver-scale). Tie-break matches the oracle: max cos, then min
    * c_id (−cos sorts ascending; −0.0 and 0.0 compare equal in both
    * engines).
    */
  def knnIvfTrained(embeddings: DataFrame, numQueries: Int, k: Int,
      kCells: Int = 8, iterations: Int = 2, probes: Int = 1): DataFrame =
    knnIvfTrainedImpl(embeddings, numQueries, k, None, kCells, iterations,
      probes, escalate = false)

  /** The one trained-IVF plan behind [[knnIvfTrained]],
    * [[knnIvfTrainedFiltered]] and [[knnIvfTrainedFilteredEscalated]]:
    * the FULL-corpus model (shared with every coarse consumer through
    * the centroid memo), candidates assigned by [[cellAssign]] — over
    * the `predicate`-filtered scan when one is given — each query's
    * cells ranked by [[rankedCells]], the probe tier of [[probeTier]],
    * and candidates scored by [[guardedCosine]], so a zero-norm query
    * or candidate scores −2.0 exactly as the on-disk
    * [[graft.streaming.StreamingAnn.queryIndex]] scores it on a `full`
    * generation.
    */
  private def knnIvfTrainedImpl(embeddings: DataFrame, numQueries: Int,
      k: Int, predicate: Option[Column], kCells: Int, iterations: Int,
      probes: Int, escalate: Boolean): DataFrame = {
    graft.core.Configs.AnnRequest(numQueries, k).validated
    graft.core.Configs.Ivf(kCells, iterations, probes).validated
    val q = quantized(embeddings)
    val cent = kmeansCentroids(q.select("vec_id", "v", "norm2"), kCells, iterations)
    // cellAssign's guard lands a zero-norm VECTOR in the lowest cell id
    // and ranks a zero-norm CENTROID worst, in both engines
    val assigned = cellAssign(predicate.fold(q)(p => quantized(embeddings.filter(p))),
        cent)
      .select("vec_id", "v", "norm2", "cell")
    val qcells = rankedCells(q.filter(col("vec_id") < numQueries), cent)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm2").as("qn2"), col("c_id").as("qcell"), col("c_rn"))
    val probed = probeTier(assigned, qcells, "c_rn", probes, kCells, k, escalate)
    topKNeighbors(assigned.join(broadcast(probed),
        col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", guardedCosine(col("qv"), col("v"), col("qn2"),
        col("norm2"))), k, "cos")
  }

  /** Every query's cells ranked to FULL depth by guarded cosine DESC,
    * ties on the smaller c_id — the trained-IVF probe rule, as column
    * `c_rn` (1..K) next to `c_id`. `qs` carries (vec_id, v, norm2) plus
    * any payload. The guard matches the oracle's CASE arm: −2.0 ranks a
    * degenerate (all-zero) centroid LAST in both engines, where a raw
    * 0/0 NaN would sort FIRST under Spark's desc and consume a probe
    * slot the oracle never spends.
    */
  private def rankedCells(qs: DataFrame,
      cent: Seq[(Long, Seq[Long], Long)]): DataFrame = {
    val spark = qs.sparkSession
    import spark.implicits._
    val qw = Window.partitionBy("vec_id").orderBy(col("c_cos").desc, col("c_id"))
    qs.crossJoin(broadcast(cent.toDF("c_id", "cv", "cn2")))
      .withColumn("c_cos",
        when(col("norm2") === 0 || col("cn2") === 0, lit(-2.0))
          .otherwise(cosine(col("cv"), col("v"), col("cn2"), col("norm2"))))
      .withColumn("c_rn", row_number().over(qw))
  }

  /** The batch probe tier over `qcells` (q_id, qcell, rank column
    * `rank` 1..K): the base tier `rank <= probes`, or with `escalate`
    * a per-query depth — a count pass joins the candidate cells
    * (`cands`: vec_id, cell) at the base tier with no scoring, and
    * queries that see fewer than k candidates widen to all `kCells`.
    * The depth is a request-scale broadcast column (`probes_eff`), so
    * satisfied queries never pay the escalated scan and return the
    * fixed-probe sets; escalated ones rank a superset, which
    * guarantees min(k, pool) rows (each vector lives in one cell).
    */
  private def probeTier(cands: DataFrame, qcells: DataFrame, rank: String,
      probes: Int, kCells: Int, k: Int, escalate: Boolean): DataFrame =
    if (!escalate) qcells.filter(col(rank) <= probes)
    else {
      val near = cands
        .join(broadcast(qcells.filter(col(rank) <= probes)
            .select("q_id", "qcell")),
          col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_near"))
      val qprobes = qcells.select("q_id").distinct()
        .join(near, Seq("q_id"), "left")
        .select(col("q_id"),
          when(coalesce(col("n_near"), lit(0L)) >= k, lit(probes))
            .otherwise(lit(kCells)).as("probes_eff"))
      qcells.join(qprobes, "q_id").filter(col(rank) <= col("probes_eff"))
    }

  /** IVF-SQ8 — trained coarse cells × int8 scalar-quantized codes
    * (the FAISS `IVF,SQ8` index shape): the composition that is
    * actually SHIPPABLE as a default on this corpus family, because it
    * pairs the two measured-good halves of the ladder — the trained
    * IVF scan bound (probes/kCells of the corpus per query) with int8
    * codes whose quantization noise is BELOW the corpus' rank margins
    * (98% recall@10 at full scan vs PQ's 27%, a_ann_recall). Cell
    * assignment happens at ingest on the full-precision vectors (the
    * same zero-shuffle argmax projection as
    * [[knnIvfTrained]]); what each cell STORES is the 4×-compressed
    * int8 codes + one scale per vector ([[int8Codes]] layout), and the
    * probe scan scores candidates by scale-free quantized cosine —
    * exact integer code dots, never a full-precision fetch. Expected
    * recall is therefore the probe-coverage ceiling itself (int8 rank
    * noise is sub-margin), at 1/4 the scan bytes of [[knnIvfTrained]].
    *
    * Scale: identical shape to [[knnIvfTrained]] — trained state is
    * K·dims driver-held longs, corpus ops are one codegen projection
    * (cell + codes) and one per-cell equi-join against the broadcast
    * query probes; the shuffle key is the cell id.
    */
  def knnIvfSq(embeddings: DataFrame, numQueries: Int, k: Int,
      kCells: Int = 8, iterations: Int = 2, probes: Int = 2): DataFrame = {
    graft.core.Configs.AnnRequest(numQueries, k).validated
    graft.core.Configs.Ivf(kCells, iterations, probes).validated
    val q = quantized(embeddings)
    val cent = kmeansCentroids(q.select("vec_id", "v", "norm2"), kCells, iterations)
    val coded = withInt8Cols(cellAssign(q, cent))
      .select("vec_id", "cell", "c", "n2q")
    val queries = rankedCells(withInt8Cols(q.filter(col("vec_id") < numQueries)),
        cent)
      .filter(col("c_rn") <= probes)
      .select(col("vec_id").as("q_id"), col("c").as("qc"),
        col("n2q").as("qn2q"), col("c_id").as("qcell"))
    topKNeighbors(coded.join(broadcast(queries),
        col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .withColumn("qcos", guardedCosine(col("qc"), col("c"), col("qn2q"),
        col("n2q"))), k, "qcos")
  }

  /** Lloyd's k-means over quantized embeddings, the training loop that
    * produces IVF centroids (knnIvf's fixed-stride centroids are the
    * no-training baseline; this is the real thing). Fully portable:
    * distances are exact integer squared-L2
    * (‖v‖² − 2·v·c + ‖c‖², native codegen dot), and the centroid
    * update floor-quantizes the mean per dimension (`sum div n` —
    * truncating division, identical in Spark `div` and DuckDB `//`),
    * so every iteration is bit-reproducible in the oracle.
    *
    * Scale (the MLlib k-means dataflow): centroids live on the driver
    * — K·dims longs, bytes not data — and each assignment is a PURE
    * PROJECTION over the corpus: one generated argmin loop over the
    * broadcast centroid matrix ([[kmeansAssign]]), inside whole-stage
    * codegen. Zero corpus shuffle, zero join per
    * iteration (the old relational form window-sorted k×|corpus| rows
    * per iteration). The update is one partial-aggregated shuffle on
    * (cluster, dim) — K·dims groups regardless of corpus size — and
    * collecting the K centroid rows per iteration also truncates the
    * lineage, so plan depth is constant in `iterations` (no foldLeft
    * plan explosion at iterations=10). Deterministic seeding: the
    * first k vectors; argmin ties break on centroid id.
    */
  /** One k-means assignment pass over (vec_id, v, norm2) rows for
    * driver-held centroids `(c_id, components, norm²)`: min squared-L2,
    * ties on the smaller centroid id — a pure codegen projection, zero
    * shuffle/join (public so the plan audit can pin the zero-Exchange
    * shape). The centroids ship once per executor as a broadcast
    * [[graft.functions.CentroidMatrix]] and ONE
    * [[graft.functions.NearestCentroidL2]] expression runs the argmin
    * as exact long arithmetic, so the plan stays O(1) in k. Driver-held
    * centroid state is the standard MLlib dataflow at any k that fits
    * driver memory (10⁵ cells × 64 dims = 51 MB).
    */
  def kmeansAssign(q: DataFrame,
      cent: Seq[(Long, Seq[Long], Long)]): DataFrame =
    q.withColumn("best",
        CentroidOps.nearestL2(col("v"), col("norm2"), centroidBc(q, cent)))
      .withColumn("cluster", col("best").getField("c_id"))
      .withColumn("d", col("best").getField("d"))
      .drop("best")

  /** SERVING-cell assignment (max cosine with the shared zero-norm
    * guard — degenerate vector/centroid pairs rank LAST, ties on the
    * smaller centroid id), the one rule every trained read path uses:
    * [[knnIvfTrained]], [[knnIvfSq]], [[cellBalance]],
    * [[semanticDedup]], and the streaming index ingest. Adds column
    * `cell` to `q` (which must carry `v` and `norm2`); payload columns
    * ride through. Same broadcast-matrix projection as
    * [[kmeansAssign]] ([[graft.functions.NearestCentroidCos]]), so
    * SemDeDup's kCells ∝ corpus rule holds at any k.
    */
  def cellAssign(q: DataFrame,
      cent: Seq[(Long, Seq[Long], Long)]): DataFrame =
    q.withColumn("cell", CentroidOps.nearestCos(col("v"), col("norm2"),
      centroidBc(q, cent)).getField("c_id"))

  /** `cent` as a broadcast matrix for the nearest-centroid kernels
    * (an empty set fails in [[CentroidMatrix]]).
    */
  private def centroidBc(q: DataFrame, cent: Seq[(Long, Seq[Long], Long)]) =
    q.sparkSession.sparkContext.broadcast(CentroidMatrix(cent))

  /** Memo of trained centroid sets per (session, input frame, k,
    * iterations). The trained state is PARAMETER-scale (k × dims
    * longs, a few KB) but each training run is `iterations` Spark jobs
    * over the corpus — and the ANN family retrains constantly: the
    * coarse quantizer alone is re-derived by kmeansTrain / profile /
    * knnIvfTrained / knnIvfPq / semanticDedup over the same corpus,
    * and PQ re-trains one codebook per subspace. Production systems
    * train once and SHIP the model; the memo is that shape in-session
    * (deterministic training — seeds are fixed rows, arithmetic is
    * integer — so memoization is invisible to results).
    */
  private val centroidCache =
    SessionMemo.values[Seq[(Long, Seq[Long], Long)]]()

  /** Drop every trained model, memoized ground truth and recall leg
    * for `spark` (call when a session's ANN work is done; mirrors
    * Dedup.releaseShingleCaches).
    */
  def releaseTrainedModels(spark: SparkSession): Unit =
    Seq(centroidCache, truthCache, legCache).foreach(_.release(spark))

  /** Memo of brute-force ground truth per (session, corpus,
    * numQueries, k): the gated a_ann_recall / a_ann_recall_tuned pair
    * otherwise recomputes the identical exact truth (a full corpus ×
    * queries scan each). The value is the COLLECTED (queries·k)-row
    * truth — request-scale, so it lives driver-side like the trained
    * centroids (a localCheckpoint memo would pin executor block
    * storage past eviction until GC); each call rebuilds a local
    * relation from it. Results are bit-identical to the unmemoized
    * path (the truth rows are deterministic and read-only downstream).
    */
  private val truthCache = SessionMemo.values[Seq[(Long, Long)]]()

  /** Memo of recall-harness METHOD-LEG results per (session, corpus,
    * method, request): [[annRecall]] and [[annRecallSampled]] run the
    * SAME six method pipelines with the same arguments (sampled
    * post-filters the results rather than forking the trained-model
    * memo keys — see its scaladoc), so the second harness was
    * re-running six corpus-scale scans to rebuild (queries·k)-row
    * tables the first had already computed. The memo holds the
    * projected (q_id, neighbor_id) rows driver-side and rebuilds a
    * local relation per consumer. Individual gated rows (a_knn_*)
    * deliberately do NOT read or write this memo — their executed
    * plans are part of the audited contract (PlanAuditSpec pins scan
    * pushdown and join shapes on the real pipelines).
    */
  private val legCache = SessionMemo.values[Seq[(Long, Long)]]()

  private def legFrame(embeddings: DataFrame, tag: String)(
      build: => DataFrame): DataFrame = {
    val rows = legCache.get(embeddings, tag) {
      build.select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val sp = embeddings.sparkSession
    import sp.implicits._
    rows.toDF("q_id", "neighbor_id")
  }

  private def truthFrame(embeddings: DataFrame, numQueries: Int,
      k: Int): DataFrame = {
    val rows = truthCache.get(embeddings, s"nq=$numQueries k=$k") {
      knnBruteForce(embeddings, numQueries, k)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val sp = embeddings.sparkSession
    import sp.implicits._
    rows.toDF("q_id", "neighbor_id")
  }

  /** The training loop alone: Lloyd-iterate from the first-k seeds and
    * return the final driver-held centroids `(c_id, components, norm²)`
    * (shared by [[kmeansTrain]] and [[kmeansProfile]]), memoized per
    * (session, input frame, k, iterations).
    */
  def kmeansCentroids(q: DataFrame, k: Int,
      iterations: Int): Seq[(Long, Seq[Long], Long)] =
    centroidCache.get(q, s"k=$k iters=$iterations")(
      kmeansCentroidsUncached(q, k, iterations))

  /** Seed-safe training for ARBITRARY-id corpora:
    * [[kmeansCentroidsUncached]] seeds from rows with vec_id < k —
    * right for the gated batch operators (testdata corpora are keyed
    * from 0, and the seed rule is part of their oracle-pinned
    * contract), wrong for long-lived INDEX corpora whose visible ids
    * are arbitrary (fresh lineages offset ids; old ids get elected
    * away) — with no id below k the seed set is empty and training
    * crashes or silently yields fewer cells. Remap deterministically:
    * the k SMALLEST ids (distributed top-k, k driver rows) become
    * seeds 0..k-1, every other id shifts by k (disjoint — ids are
    * nonnegative). Lloyd's updates never read vec_id, so on a
    * 0-keyed corpus the result is bit-identical to the unremapped
    * loop (the streaming↔batch parity precondition).
    */
  def kmeansCentroidsSeedSafe(q: DataFrame, k: Int,
      iterations: Int): Seq[(Long, Seq[Long], Long)] = {
    val sp = q.sparkSession
    import sp.implicits._
    val seedIds = q.select("vec_id").orderBy("vec_id")
      .limit(k).collect().map(_.getLong(0))
    val seedDf = broadcast(seedIds.zipWithIndex.toSeq
      .map { case (id, r) => (id, r.toLong) }.toDF("vec_id", "seed_rank"))
    val remapped = q.join(seedDf, Seq("vec_id"), "left")
      .withColumn("vec_id", coalesce(col("seed_rank"), col("vec_id") + k))
      .drop("seed_rank")
    kmeansCentroidsUncached(remapped, k, iterations)
  }

  /** The un-memoized training loop (exposed for specs that must
    * observe a fresh training run).
    */
  def kmeansCentroidsUncached(q: DataFrame, k: Int,
      iterations: Int): Seq[(Long, Seq[Long], Long)] = {
    def update(assigned: DataFrame): Seq[(Long, Seq[Long], Long)] =
      assigned.select(col("cluster"), posexplode(col("v")).as(Seq("dim", "comp")))
        .groupBy("cluster", "dim")
        .agg(sum("comp").as("s"), count(lit(1)).as("n"))
        .withColumn("comp", expr("s div n"))
        .groupBy("cluster")
        .agg(array_sort(collect_list(struct(col("dim"), col("comp")))).as("a"))
        .select(col("cluster"),
          transform(col("a"), s => s.getField("comp")).as("cv"))
        .collect()
        .map { r =>
          val cv = r.getSeq[Long](1)
          (r.getLong(0), cv, cv.map(x => x * x).sum)
        }.toSeq.sortBy(_._1)

    val seeds = q.select("vec_id", "v", "norm2")
      .filter(col("vec_id") < k).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    (1 to iterations).foldLeft(seeds)((c, _) => update(kmeansAssign(q, c)))
  }

  def kmeansTrain(embeddings: DataFrame, k: Int = 8,
      iterations: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = quantized(embeddings).select("vec_id", "v", "norm2")
    val centroids = kmeansCentroids(q, k, iterations)
    kmeansAssign(q, centroids)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"), sum("d").as("inertia"))
      .join(broadcast(centroids.map { case (c, _, n2) => (c, n2) }
        .toDF("cluster", "centroid_norm2")), Seq("cluster"))
      .select("cluster", "n_vecs", "inertia", "centroid_norm2")
  }

  /** Profile the trained clustering against the label column — the
    * standard corpus-clustering diagnostic (does unsupervised structure
    * recover the known strata?): per cluster, its size, majority label
    * (ties → lexicographically first), and purity in basis points
    * (`top_label_n * 10000 div n_vecs`, integer-exact for the oracle).
    *
    * Scale: the assignment is the same zero-shuffle projection as
    * [[kmeansTrain]] (label rides through as a passthrough column);
    * profiling is one (cluster, label) partial-aggregated shuffle —
    * k·|labels| groups regardless of corpus size — and a k-row window.
    */
  def kmeansProfile(embeddings: DataFrame, k: Int = 8,
      iterations: Int = 2): DataFrame = {
    val q = quantized(embeddings).select("vec_id", "label", "v", "norm2")
    // train WITHOUT the label passthrough: centroids don't depend on
    // it, and the label-free frame is the memo key every other coarse
    // consumer (train / ivf-trained / ivfadc / semantic dedup) shares
    val centroids = kmeansCentroids(
      quantized(embeddings).select("vec_id", "v", "norm2"), k, iterations)
    val byLabel = kmeansAssign(q, centroids)
      .groupBy("cluster", "label").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("n").desc, col("label"))
    byLabel
      .withColumn("n_vecs", sum("n").over(Window.partitionBy("cluster")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("n_vecs"),
        col("label").as("top_label"), col("n").as("top_label_n"),
        expr("n * 10000 div n_vecs").as("purity_bp"))
  }

  /** Product-quantization layout: PqM subspaces of PqSubDims dims,
    * PqK centroids per subspace codebook → PqM·log2(PqK) bits per
    * vector (4 subspaces × 3 bits = 12 bits vs 64×8 bytes for int8 —
    * the compression regime past scalar quantization).
    */
  val PqM = 4
  val PqSubDims = 16
  val PqK = 8

  private def subvec(v: Column, s: Int): Column =
    slice(v, s * PqSubDims + 1, PqSubDims)

  /** Per-subspace PQ codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): Lloyd's k-means run
    * independently on each 16-dim slice of the milli-quantized
    * corpus — [[kmeansCentroids]] is dimension-generic, so each
    * subspace reuses the exact bit-reproducible training loop
    * (driver-held centroids, zero-shuffle assignment, floor-quantized
    * update). Returns PqM codebooks of (c_id, components, norm²).
    */
  def pqCodebooks(embeddings: DataFrame, k: Int = PqK,
      iterations: Int = 2): Seq[Seq[(Long, Seq[Long], Long)]] =
    // the (vec_id, v) projection matches knnPqFromQ's training frame
    // EXACTLY: the centroid memo keys on the canonicalized input plan,
    // and the r17 OPQ refactor left this caller on the unprojected
    // frame — every consumer retrained the books its sibling had just
    // trained (a_pq_codes 0.6 s -> 4 s in the r17 keepers)
    pqCodebooksFromQ(quantized(embeddings).select(col("vec_id"), col("v")),
      k, iterations)

  /** [[pqCodebooks]] over an already-integer vector column `v` keyed by
    * `vec_id` — lets the IVFADC path train the product quantizer on
    * coarse-cell RESIDUALS instead of raw vectors (the codebooks only
    * ever see 16-dim slices; what the slices are slices OF is the
    * caller's choice).
    */
  def pqCodebooksFromQ(q: DataFrame, k: Int = PqK,
      iterations: Int = 2): Seq[Seq[(Long, Seq[Long], Long)]] =
    (0 until PqM).map { s =>
      val sv = subvec(col("v"), s)
      kmeansCentroids(q.select(col("vec_id"), sv.as("v"),
        VecOps.intDot(sv, sv).as("norm2")), k, iterations)
    }

  private def pqEncoded(embeddings: DataFrame,
      books: Seq[Seq[(Long, Seq[Long], Long)]]): DataFrame =
    pqEncodedFromQ(quantized(embeddings).select(col("vec_id"), col("v")), books)

  /** Per-subspace argmin encoding over an arbitrary integer vector
    * column `v` (all other columns ride along): adds c0..c3 code and
    * d0..d3 per-subspace reconstruction-error columns. A pure
    * zero-shuffle codegen projection, same shape as [[kmeansAssign]].
    */
  private[graft] def pqEncodedFromQ(q: DataFrame,
      books: Seq[Seq[(Long, Seq[Long], Long)]]): DataFrame = {
    books.zipWithIndex.foldLeft(q) {
      case (df, (cent, s)) =>
        val sv = subvec(col("v"), s)
        df.withColumn(s"best$s", CentroidOps.nearestL2(sv,
            VecOps.intDot(sv, sv), centroidBc(q, cent)))
          .withColumn(s"c$s", col(s"best$s").getField("c_id"))
          .withColumn(s"d$s", col(s"best$s").getField("d"))
          .drop(s"best$s")
    }
  }

  /** PQ codes + the exact integer reconstruction error
    * Σ_s ‖v_s − cent_s[c_s]‖² (the PQ analogue of
    * [[int8QuantAudit]]'s round-trip error — what the 170×
    * compression pays, exactly, per vector). Encoding is a pure
    * zero-shuffle codegen projection: per subspace an argmin over the
    * PqK·PqSubDims codebook matrix, the same kernel as [[kmeansAssign]].
    */
  def pqCodes(embeddings: DataFrame, k: Int = PqK,
      iterations: Int = 2): DataFrame = {
    pqEncoded(embeddings, pqCodebooks(embeddings, k, iterations))
      .select(col("vec_id"), col("c0"), col("c1"), col("c2"), col("c3"),
        (col("d0") + col("d1") + col("d2") + col("d3")).as("recon_err"))
  }

  /** Asymmetric-distance (ADC) top-k over the PQ codes: each query
    * precomputes ONE distance table per subspace (PqK exact integer
    * squared-L2 entries against its own uncompressed subvector), and
    * a corpus vector's estimated distance is then PqM table LOOKUPS —
    * `element_at` on a per-query map literal-keyed by codebook id —
    * never a per-pair dot product. That lookup trick is the entire
    * point of PQ at 100 TB: the scan touches only the 12-bit codes,
    * compute per pair is O(M) adds, and the codebooks/query tables
    * are driver-scale broadcast state. Keyed by c_id (not array
    * position) so a codebook that lost a cluster during training
    * still looks up correctly — same robustness as the oracle's
    * c_id equi-join.
    */
  def knnPq(embeddings: DataFrame, numQueries: Int, k: Int,
      pqK: Int = PqK, iterations: Int = 2): DataFrame =
    knnPqFromQ(quantized(embeddings).select("vec_id", "v"),
      numQueries, k, pqK, iterations)

  /** OPQ-style transform, restricted to the PERMUTATION subgroup of
    * rotations (Ge et al. 2013 treat dimension reordering as the
    * structured initialization of the learned rotation): dimensions
    * are ranked by integer variance surrogate `n·Σx² − (Σx)²` and
    * snake-drafted into the PqM subspaces, balancing per-subspace
    * variance so no codebook is starved while another saturates — the
    * imbalance failure mode rotation exists to fix. A permutation
    * keeps every distance EXACTLY (it is an orthogonal matrix with
    * integer entries), keeps the whole chain integer-exact and
    * oracle-replayable, and is parameter-scale driver state like the
    * centroids. Deterministic: variance desc, dim asc tiebreak.
    *
    * Returns `perm` with `perm(newPos) = oldDim` (0-based).
    */
  def opqPermutation(embeddings: DataFrame): Seq[Int] = {
    val q = quantized(embeddings)
    val row = q.select(
      (Seq(count(lit(1)).as("n")) ++ (0 until Dims).flatMap { d =>
        val x = element_at(col("v"), d + 1)
        Seq(sum(x).as(s"s$d"), sum(x * x).as(s"q$d"))
      }): _*).collect().head
    val n = row.getLong(0)
    val ranked = (0 until Dims).map { d =>
      val s = row.getLong(1 + 2 * d); val ss = row.getLong(2 + 2 * d)
      (n * ss - s * s, d)
    }.sortBy { case (v, d) => (-v, d) }
    val perm = new Array[Int](Dims)
    ranked.zipWithIndex.foreach { case ((_, dim), r) =>
      val t = r / PqM
      val s = if (t % 2 == 0) r % PqM else PqM - 1 - (r % PqM)
      perm(s * PqSubDims + t) = dim
    }
    perm.toSeq
  }

  /** PQ/ADC top-k in the OPQ-permuted space: train codebooks, encode,
    * and build query tables over `v ∘ perm` — distances are exactly
    * the original-space distances (permutations are orthogonal), so
    * recall moves ONLY through better subspace variance balance. The
    * measured verdict on this corpus lives in [[annRecallTuned]]'s
    * `knn_pq_opq` row next to `knn_pq_4bit` (BASELINE §ANN quality).
    */
  def knnPqOpq(embeddings: DataFrame, numQueries: Int, k: Int,
      pqK: Int = PqK, iterations: Int = 2): DataFrame = {
    val perm = opqPermutation(embeddings)
    val pexpr = array(perm.map(d => element_at(col("v"), d + 1)): _*)
    knnPqFromQ(quantized(embeddings).select(col("vec_id"),
      pexpr.as("v")), numQueries, k, pqK, iterations)
  }

  /** The [[knnPq]] chain over an arbitrary integer `(vec_id, v)`
    * frame — shared by the identity and OPQ-permuted spaces.
    */
  private def knnPqFromQ(q: DataFrame, numQueries: Int, k: Int,
      pqK: Int, iterations: Int): DataFrame = {
    val books = pqCodebooksFromQ(q, pqK, iterations)
    val codes = pqEncodedFromQ(q.select("vec_id", "v"), books)
      .select("vec_id", "c0", "c1", "c2", "c3")
    val queries = withAdcTables(q.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv")), books, "qv")
    topKNeighbors(codes.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("est_d", adcEstimate), k, "est_d", desc = false)
  }

  /** The ADC distance estimate: PqM table lookups, `qd<s>` keyed by
    * the candidate's code `c<s>`.
    */
  private[graft] val adcEstimate: Column =
    element_at(col("qd0"), col("c0")) + element_at(col("qd1"), col("c1")) +
      element_at(col("qd2"), col("c2")) + element_at(col("qd3"), col("c3"))

  /** IVFADC (Jégou et al. 2011 §5): the composition of the trained
    * coarse quantizer (A3/A5) with the product quantizer (A8) — THE
    * web-scale ANN architecture. Corpus vectors are assigned to a
    * trained coarse cell (zero-shuffle argmin projection) and
    * PQ-encode their RESIDUAL v − cent[cell] (one product quantizer
    * pooled across cells, per the paper); a query ranks cells by exact
    * coarse distance, and within each of its `probes` cells runs ADC
    * over the 12-bit residual codes — per-(query, cell) distance
    * tables against the query's own residual TO THAT CELL, corpus-side
    * cost still PqM map lookups per candidate.
    *
    * Why both stages matter at 100 TB: IVF bounds the SCAN (only
    * probes/kCells of the corpus is touched per query — the join is
    * equi on cell, never corpus-wide), PQ bounds the BYTES (the
    * scanned fraction is read as codes, ~170× smaller than vectors).
    * All trained state (coarse centroids + codebooks + per-query
    * tables) is driver/broadcast-scale. Residual encoding is what
    * makes one shared codebook work across cells: residuals are
    * centered regardless of which cell a vector landed in.
    */
  def knnIvfPq(embeddings: DataFrame, numQueries: Int, k: Int,
      kCells: Int = 8, pqK: Int = PqK, iterations: Int = 2,
      probes: Int = 2): DataFrame =
    knnIvfPqImpl(embeddings, numQueries, k, None, kCells, pqK,
      iterations, probes)

  /** Filtered IVFADC — [[knnIvfPq]] under the A14 discipline: the
    * coarse model AND the PQ codebooks stay FULL-corpus (one
    * compressed index serves every filter), and only the CODE scan is
    * restricted to matching rows — a second pass over the source with
    * the predicate pushed to the parquet scan, assigned and encoded
    * under the shared trained state. Completes filtered search across
    * the ANN layout family (full-precision, SQ8, and now the
    * 12-bit-code path).
    */
  def knnIvfPqFiltered(embeddings: DataFrame, numQueries: Int, k: Int,
      predicate: Column, kCells: Int = 8, pqK: Int = PqK,
      iterations: Int = 2, probes: Int = 2): DataFrame =
    knnIvfPqImpl(embeddings, numQueries, k, Some(predicate), kCells,
      pqK, iterations, probes)

  /** Filtered IVFADC with PROBE ESCALATION — the same under-return fix
    * [[knnIvfTrainedFilteredEscalated]] gives the full-precision layout
    * (and StreamingAnn's `escalate` query option gives every on-disk
    * layout), completing the
    * escalation discipline across the filtered family: a selective
    * filter can leave fewer than k matching code rows inside the base
    * probe tier, and a fixed budget then silently under-returns. Pass 1
    * counts each query's matching CODES at the base tier (a cell
    * equi-join with no ADC tables — the cheap pass); only queries whose
    * pool came up short re-rank at FULL cell coverage, which guarantees
    * exactly `min(k, matching-pool)` rows per query (full coverage sees
    * every matching code — each vector lives in exactly one cell).
    * Satisfied queries keep the base tier and return identical sets, so
    * recall vs [[knnIvfPqFiltered]] can only rise. The per-query
    * effective probe depth is a request-scale broadcast column; the
    * escalated scan still touches only codes, never full vectors.
    */
  def knnIvfPqFilteredEscalated(embeddings: DataFrame, numQueries: Int,
      k: Int, predicate: Column, kCells: Int = 8, pqK: Int = PqK,
      iterations: Int = 2, probes: Int = 2): DataFrame =
    knnIvfPqImpl(embeddings, numQueries, k, Some(predicate), kCells,
      pqK, iterations, probes, escalate = true)

  private def knnIvfPqImpl(embeddings: DataFrame, numQueries: Int, k: Int,
      predicate: Option[Column], kCells: Int, pqK: Int, iterations: Int,
      probes: Int, escalate: Boolean = false): DataFrame = {
    graft.core.Configs.AnnRequest(numQueries, k).validated
    graft.core.Configs.Ivf(kCells, iterations, probes).validated
    graft.core.Configs.Pq(pqK).validated
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = quantized(embeddings)
    val coarse = kmeansCentroids(q.select("vec_id", "v", "norm2"),
      kCells, iterations)
    // materialize the residual frame ONCE: PQ training reads it
    // 4 subspaces × (seeds + iterations) times, and as a lazy plan
    // each of those actions would re-run the coarse argmax + residual
    // projection over the whole corpus (measured ~8 s of the query's
    // 11.5 s at sf0.1)
    val residuals = pqResiduals(q.select("vec_id", "v", "norm2"), coarse)
      .localCheckpoint()
    val books = pqCodebooksFromQ(residuals.select("vec_id", "v"),
      pqK, iterations)
    // candidate codes: the filtered variant re-reads the source with
    // the predicate pushed to the scan and assigns/encodes under the
    // SAME trained state (training never sees the filter)
    val candRes = predicate.fold(residuals) { p =>
      pqResiduals(quantized(embeddings.filter(p)), coarse)
    }
    val codes = pqEncodedFromQ(candRes, books)
      .select("vec_id", "cell", "c0", "c1", "c2", "c3")
    // query side: exact coarse ranking picks the probed cells, and the
    // ADC tables are built from the query's residual to EACH cell
    val centDf = coarse.toDF("c_id", "cv", "cn2")
    val qw = Window.partitionBy("vec_id").orderBy(col("cd"), col("c_id"))
    // every query's cells ranked to FULL depth (`crn`) for probeTier
    val qcells = q.filter(col("vec_id") < numQueries)
      .crossJoin(broadcast(centDf))
      .withColumn("cd",
        col("norm2") - lit(2L) * VecOps.intDot(col("v"), col("cv")) + col("cn2"))
      .withColumn("crn", row_number().over(qw))
      .select(col("vec_id").as("q_id"), col("c_id").as("qcell"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("qres"),
        col("crn"))
    val probed = probeTier(codes, qcells, "crn", probes, kCells, k, escalate)
      .drop("crn", "probes_eff")
    topKNeighbors(codes.join(broadcast(withAdcTables(probed, books, "qres")),
        col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .withColumn("est_d", adcEstimate), k, "est_d", desc = false)
  }

  /** Coarse-cell residuals: (vec_id, cell, v − cent[cell], extra...)
    * under the squared-L2 assignment of [[kmeansAssign]] — what the
    * product quantizer trains on and encodes, in batch and on disk.
    */
  private[graft] def pqResiduals(q: DataFrame, cent: Seq[(Long, Seq[Long], Long)],
      extra: Seq[String] = Nil): DataFrame = {
    val centMap = typedLit(cent.map { case (c, cv, _) => c -> cv }.toMap)
    kmeansAssign(q, cent)
      .select(col("vec_id") +: col("cluster").as("cell") +:
        zip_with(col("v"), element_at(centMap, col("cluster")),
          (a, b) => a - b).as("v") +: extra.map(col): _*)
  }

  /** Append one ADC table per subspace (`qd<s>`: c_id → exact integer
    * squared-L2 of the query vector `v`'s subvector against that
    * codebook centroid) and drop `v`.
    */
  private def withAdcTables(df: DataFrame,
      books: Seq[Seq[(Long, Seq[Long], Long)]], v: String): DataFrame =
    books.zipWithIndex.foldLeft(df) { case (d, (cent, s)) =>
      val sv = subvec(col(v), s)
      val sn = VecOps.intDot(sv, sv)
      d.withColumn(s"qd$s", map_from_arrays(
        typedLit(cent.map(_._1)),
        array(cent.map { case (_, cv, cn2) =>
          sn - lit(2L) * VecOps.intDot(sv, typedLit(cv)) + lit(cn2)
        }: _*)))
    }.drop(v)

  /** Exact-cosine rerank of an ANN shortlist — the refine stage of
    * IVFADC-R (Jégou et al. 2011 §VI): the lossy index (PQ/IVFADC)
    * RANKS a k·refine shortlist from codes alone, then the shortlist's
    * FULL-PRECISION vectors rerank it to k by exact cosine. The ADC
    * scan bound is unchanged (codes only, same probed cells); the
    * rerank touches `queries·k·refine` full vectors — request-scale,
    * fetched by one broadcast equi-join against the corpus, never a
    * second corpus ranking. Measured here (a_ann_recall_tuned): the
    * refine stage lifts IVFADC from 24% to int8-class recall@10 that
    * no amount of code bits could buy on this margin-thin corpus.
    *
    * `shortlist` is any (q_id, neighbor_id) frame; the plan is two
    * broadcast joins into ONE corpus scan each (vector fetch for
    * candidates, vector fetch for the ≤ numQueries query rows — the
    * `vec_id < numQueries` filter is pushed to the scan) and a window
    * over the shortlist rows.
    */
  def rerankExact(embeddings: DataFrame, shortlist: DataFrame,
      numQueries: Int, k: Int): DataFrame = {
    val q = quantized(embeddings)
    val cand = q.join(broadcast(shortlist), col("vec_id") === col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"), col("v"), col("norm2"))
    val qv = q.filter(col("vec_id") < numQueries)
      .join(broadcast(shortlist.select("q_id").distinct()),
        col("vec_id") === col("q_id"))
      .select(col("q_id"), col("v").as("qv"), col("norm2").as("qn2"))
    topK(cand.join(broadcast(qv), Seq("q_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qn2"), col("norm2"))),
      k, col("cos").desc, tie = "neighbor_id")
      .select(col("q_id"), col("rnk"), col("neighbor_id"),
        round(col("cos") * 10000, 0).cast("long").as("cos_bp"))
  }

  /** [[knnPq]] with the IVFADC-R refine stage: ADC ranks k·refine
    * candidates from the 12-bit codes, [[rerankExact]] reranks them by
    * exact cosine to k.
    */
  def knnPqRefined(embeddings: DataFrame, numQueries: Int, k: Int,
      refine: Int = 10, pqK: Int = PqK, iterations: Int = 2): DataFrame =
    rerankExact(embeddings,
      knnPq(embeddings, numQueries, k * refine, pqK, iterations)
        .select("q_id", "neighbor_id"),
      numQueries, k)

  /** [[knnIvfPq]] with the IVFADC-R refine stage (Jégou et al. 2011
    * §VI): same probed cells, same code scan, k·refine ADC shortlist,
    * exact-cosine rerank to k.
    */
  def knnIvfPqRefined(embeddings: DataFrame, numQueries: Int, k: Int,
      refine: Int = 10, kCells: Int = 8, pqK: Int = PqK,
      iterations: Int = 2, probes: Int = 2): DataFrame = {
    graft.core.Configs.Pq(pqK, refine).validated
    rerankExact(embeddings,
      knnIvfPq(embeddings, numQueries, k * refine, kCells, pqK,
        iterations, probes).select("q_id", "neighbor_id"),
      numQueries, k)
  }

  /** Cell-population balance of the trained IVF assignment — the
    * observability number the probe bound rests on (a hot cell
    * degrades both the 1/kCells scan bound and recall; D16 closed the
    * same gap for dedup). Per cell: population, integer corpus share,
    * and the ratio to a perfectly even spread (10000 bp = exactly
    * corpus/kCells). One partial-aggregated groupBy over the same
    * zero-shuffle assignment projection as [[knnIvfTrained]] — the
    * funnel is kCells rows.
    */
  def cellBalance(embeddings: DataFrame, kCells: Int = 8,
      iterations: Int = 2): DataFrame = {
    val q = quantized(embeddings)
    val cent = kmeansCentroids(q.select("vec_id", "v", "norm2"), kCells, iterations)
    // the corpus total rides in as a broadcast scalar (every vector
    // lands in exactly one cell, so count(*) IS the population sum) —
    // no global window funnel, same pattern as the dedup df cap
    val nTot = broadcast(q.agg(count(lit(1)).as("n_total")))
    cellAssign(q, cent)
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      .crossJoin(nTot)
      .select(col("cell"), col("n_vecs"),
        expr("n_vecs * 10000 div n_total").as("share_bp"),
        expr(s"n_vecs * $kCells * 10000 div n_total").as("ratio_even_bp"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    * corpus embeddings with trained k-means, then within each cluster
    * drop every vector that has a SMALLER-id near-duplicate at
    * cosine ≥ `minCosBp` — the deterministic keep-first statement of
    * the paper's one-representative-per-duplicate-set rule (greedy by
    * id: a vector is kept iff no kept-or-dropped smaller-id neighbor
    * clears the threshold; chains a~b~c keep only `a`). Output is the
    * full corpus verdict: (vec_id, cell, kept).
    *
    * Vs [[embeddingDedup]]: hyperplane buckets block on SIGN
    * structure (near-dups must agree on every plane), k-means cells
    * block on learned density structure — the paper's point is that
    * semantic duplicates concentrate inside trained clusters, so the
    * pair join never leaves a cell.
    *
    * Scale: centroids are driver-held (K·dims longs) and cell
    * assignment is the same zero-shuffle codegen argmax projection as
    * [[knnIvfTrained]]; the only corpus-wide shuffle is the
    * within-cell self-equi-join on `cell`. Per-cell pair volume is
    * Σ|cell|² — `kCells` is the knob that bounds it (the paper runs
    * ~100k clusters at web scale precisely so cells stay small; K
    * scales with the corpus while per-cell work stays constant).
    * Zero-norm vectors get sentinel cosine −2 (never a near-dup of
    * anything, NaN-free in both engines).
    */
  def semanticDedup(embeddings: DataFrame, minCosBp: Long,
      kCells: Int = 8, iterations: Int = 2): DataFrame = {
    graft.core.Validation.validate("semantic-dedup",
      graft.core.Validation.knob("minCosBp", minCosBp,
        minV = 1L, maxV = 10000L) ++
        graft.core.Configs.Ivf(kCells, iterations).violations)
    val q = quantized(embeddings)
    val cent = kmeansCentroids(q.select("vec_id", "v", "norm2"), kCells, iterations)
    // Zero-norm vectors can't rank cells by cosine (0/0 — an ANSI
    // divide-by-zero): cellAssign's guard gives them a constant score
    // so the argmin falls through to the c_id tie-break, the lowest
    // cell id — exactly where the oracle's NaN-sorts-first ORDER BY
    // lands them.
    val assigned = cellAssign(q, cent)
      .select("vec_id", "v", "norm2", "cell")
    val x = assigned.as("x"); val y = assigned.as("y")
    val dropped = x.join(y, col("x.cell") === col("y.cell")
        && col("y.vec_id") < col("x.vec_id"))
      .withColumn("cos", guardedCosine(col("x.v"), col("y.v"),
        col("x.norm2"), col("y.norm2")))
      .filter(round(col("cos") * 10000, 0).cast("long") >= minCosBp)
      .select(col("x.vec_id").as("vec_id")).distinct()
    assigned
      .join(dropped.withColumn("is_dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("is_dropped").isNull.cast("long").as("kept"))
  }

  /** Recall@k of every approximate ANN method against the
    * [[knnBruteForce]] exact top-k ground truth — the quality number a
    * user choosing an index reads BEFORE wall time (engine-equivalence
    * gates prove Spark≡oracle on the same approximation; this measures
    * how good the approximation is). One row per method:
    * `n_retrieved` (≤ queries·k — LSH buckets can run dry),
    * `n_hits` = |retrieved ∩ true top-k|, and
    * `recall_bp = n_hits · 10⁴ div (queries·k)` — integer-exact, so
    * the oracle matches bit-for-bit.
    *
    * Scale: ground truth and every method result are (queries·k)-row
    * tables; the joins are metadata-scale. The corpus-side cost is the
    * five method pipelines themselves (each already bounded — see
    * their docs), and trained state (coarse cells, codebooks) is
    * shared across methods via the centroid memo, so the recall sweep
    * trains each model once, not five times.
    */
  /** The shared recall-table spine of [[annRecall]] and
    * [[annRecallTuned]]: brute-force ground truth (localCheckpointed —
    * read once per method; as a lazy plan each union arm would re-run
    * the brute-force scan), per-method left join on the
    * (queries·k)-row truth, integer basis-point recall.
    */
  private def recallTable(embeddings: DataFrame, numQueries: Int, k: Int,
      methods: Seq[(String, DataFrame)]): DataFrame = {
    val truth = truthFrame(embeddings, numQueries, k)
    val denom = numQueries.toLong * k
    methods.map { case (m, res) =>
      hitCounts(res, truth)
        .select(lit(m).as("method"), col("n_retrieved"), col("n_hits"),
          expr(s"n_hits * 10000 div $denom").as("recall_bp"))
    }.reduce(_ unionByName _)
  }

  /** One method's (q_id, neighbor_id) result against the `truth`
    * pairs: a single (n_retrieved, n_hits) row — the hit-count tail of
    * every recall harness.
    */
  private def hitCounts(res: DataFrame, truth: DataFrame): DataFrame =
    res.select("q_id", "neighbor_id")
      .join(truth.withColumn("hit", lit(1L)), Seq("q_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_retrieved"),
        coalesce(sum("hit"), lit(0L)).as("n_hits"))

  /** The six shared method legs of [[annRecall]] and
    * [[annRecallSampled]], each through the leg memo (identical
    * arguments in both harnesses — compute once per session).
    *
    * Legs are INDEPENDENT jobs, so on a memo miss they are submitted
    * from a small driver thread pool (guide §2.6 — overlap independent
    * jobs): a sequential collect per leg would leave most cores idle
    * in each leg's single-partition tail, where the old one-action
    * 7-arm union overlapped its arm stages for free. The brute-force
    * truth warms its own memo in the same batch. The memos are
    * single-flight, so concurrent same-key work computes once.
    */
  private def recallLegDefs(embeddings: DataFrame, numQueries: Int,
      k: Int): Seq[(String, () => DataFrame)] = Seq(
      "knn_lsh" -> (() => legFrame(embeddings, s"leg lsh nq=$numQueries k=$k")(
        knnLsh(embeddings, numQueries, k))),
      "knn_ivf_trained" -> (() => legFrame(embeddings, s"leg ivft nq=$numQueries k=$k")(
        knnIvfTrained(embeddings, numQueries, k))),
      "knn_quantized" -> (() => legFrame(embeddings, s"leg q nq=$numQueries k=$k")(
        knnQuantized(embeddings, numQueries, k))),
      "knn_pq" -> (() => legFrame(embeddings, s"leg pq nq=$numQueries k=$k")(
        knnPq(embeddings, numQueries, k))),
      "knn_ivfpq" -> (() => legFrame(embeddings, s"leg ivfpq2 nq=$numQueries k=$k")(
        knnIvfPq(embeddings, numQueries, k, probes = 2))),
      "knn_ivfsq" -> (() => legFrame(embeddings, s"leg ivfsq nq=$numQueries k=$k")(
        knnIvfSq(embeddings, numQueries, k))))

  private def recallLegs(embeddings: DataFrame, numQueries: Int,
      k: Int): Seq[(String, DataFrame)] =
    Overlap.overlapped(embeddings.sparkSession,
      recallLegDefs(embeddings, numQueries, k))

  def annRecall(embeddings: DataFrame, numQueries: Int, k: Int): DataFrame = {
    // warm the exact-truth memo concurrently with the legs (one more
    // independent job for the same §2.6 overlap; memoized — the
    // recallTable call below reads it back instantly)
    val legs = Overlap.overlapped(embeddings.sparkSession,
      ("truth" -> (() => truthFrame(embeddings, numQueries, k))) +:
        recallLegDefs(embeddings, numQueries, k))
    recallTable(embeddings, numQueries, k, legs.tail)
  }

  /** The knob-response twin of [[annRecall]]: the same recall@k
    * measurement with each lossy method's accuracy knob turned one
    * step — 4 hyperplanes instead of 8 (16 buckets: each candidate
    * pool is 1/16 of the corpus instead of 1/256), probe-2 IVF
    * (the cell-boundary recovery knob), 4-bit PQ codebooks
    * (pqK 8 → 16), probe-4 IVFADC with the 4-bit codebooks, and the
    * two IVFADC-R refine rows ([[knnPqRefined]]/[[knnIvfPqRefined]] —
    * the ADC shortlist reranked by exact cosine, the knob that
    * actually fixes the PQ family on this margin-thin corpus).
    * Together with [[annRecall]] the two gated tables turn the recall
    * snapshot into a measured curve: recall must RISE with each knob,
    * and the knob costs are exactly the documented scan/byte bounds
    * (more planes ↔ smaller candidate pools, probes ↔ cells scanned,
    * code bits ↔ bytes per vector, refine ↔ shortlist vectors fetched).
    */
  def annRecallTuned(embeddings: DataFrame, numQueries: Int,
      k: Int): DataFrame = {
    // The 8 knob legs are unique variants (nothing to share beyond
    // the trained-state/truth memos they already use), but they are
    // INDEPENDENT — so they run as overlapped driver jobs through the
    // leg memo, exactly the [[recallLegs]] discipline (guide §2.6):
    // a sequential build ran each leg's training collects and its
    // single-partition ranking tail with the other 31 cores idle.
    // Each leg's own executed plan (trained scans, probe bounds) is
    // unchanged — only the submission overlaps.
    def leg(tag: String)(b: => DataFrame): () => DataFrame =
      () => legFrame(embeddings, s"leg $tag nq=$numQueries k=$k")(b)
    val legs = Overlap.overlapped(embeddings.sparkSession, Seq(
      "truth" -> (() => truthFrame(embeddings, numQueries, k)),
      "knn_lsh_4planes" -> leg("lsh4")(
        knnLsh(embeddings, numQueries, k, planes = 4)),
      "knn_ivf_probe2" -> leg("ivft2")(
        knnIvfTrained(embeddings, numQueries, k, probes = 2)),
      "knn_pq_4bit" -> leg("pq16")(
        knnPq(embeddings, numQueries, k, pqK = 16)),
      // the OPQ verdict row: PQ in the variance-balanced permuted
      // space, read against knn_pq/knn_pq_4bit (BASELINE §ANN quality)
      "knn_pq_opq" -> leg("pqopq")(knnPqOpq(embeddings, numQueries, k)),
      "knn_ivfpq_p4_4bit" -> leg("ivfpq16p4")(
        knnIvfPq(embeddings, numQueries, k, pqK = 16, probes = 4)),
      "knn_pq_rerank" -> leg("pqrr")(knnPqRefined(embeddings, numQueries, k)),
      "knn_ivfpq_rerank" -> leg("ivfpqrr")(
        knnIvfPqRefined(embeddings, numQueries, k)),
      "knn_ivfsq_p4" -> leg("ivfsq4")(
        knnIvfSq(embeddings, numQueries, k, probes = 4))))
    recallTable(embeddings, numQueries, k, legs.tail)
  }

  /** SAMPLED-truth recall — the measurement-harness scale path: the
    * exact ground truth is the recall table's only corpus×queries
    * full-precision term (every serving method is probe/bucket-
    * bounded by design), so before the corpus grows 100× the harness
    * must stop computing truth for EVERY query. A deterministic
    * hash-elected query subset (`h20(q_id) % sampleMod == 0` — id
    * hash, not id prefix, so sorted/clustered corpora don't bias the
    * sample) gets exact truth; methods are measured on the same
    * subset; recall_bp is integer basis points over the elected
    * slots. The exact [[annRecall]]/[[annRecallTuned]] rows remain
    * the gold gate; at sf0.1 the sampled row's per-method recall is
    * spec-bounded against the exact row (BASELINE §ANN quality
    * records the agreement and the measured cost decomposition:
    * training and method scans dominate at THIS scale — the sampled
    * row is insurance for the scale where truth does).
    *
    * Election is applied on the QUERY SIDE of the truth scan (before
    * the broadcast join), not post-hoc — the quadratic term really
    * shrinks by 1/sampleMod. Method outputs are post-filtered: their
    * scans are probe-bounded, and re-running the operator family
    * with a narrower query set would fork every trained-model memo
    * key for a measurement-only saving.
    */
  def annRecallSampled(embeddings: DataFrame, numQueries: Int, k: Int,
      sampleMod: Int = 2): DataFrame = {
    graft.core.Configs.AnnRequest(numQueries, k).validated
    graft.core.Validation.validate("ann-recall-sampled",
      graft.core.Validation.knob("sampleMod", sampleMod.toLong, minV = 1L))
    val h20 = graft.functions.Portable.hexHash20 _
    val q = quantized(embeddings)
    val queries = q.filter(col("vec_id") < numQueries)
      .filter(h20(col("vec_id").cast("string")) % sampleMod === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm2").as("qn2"))
    val truth = topK(q.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qn2"), col("norm2"))),
      k, col("cos").desc)
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
      .localCheckpoint() // read once per method arm
    val nQ = queries.agg(count(lit(1)).as("n_queries"))
    val elected = h20(col("q_id").cast("string")) % sampleMod === 0
    recallLegs(embeddings, numQueries, k).map { case (m, res) =>
      hitCounts(res.filter(elected), truth)
        .crossJoin(nQ) // 1×1 rows
        .select(lit(m).as("method"), col("n_queries"), col("n_retrieved"),
          col("n_hits"),
          when(col("n_queries") > 0,
            expr(s"n_hits * 10000 div (n_queries * ${k.toLong})"))
            .otherwise(lit(null).cast("long")).as("recall_bp"))
    }.reduce(_ unionByName _)
  }

  // ---- filtered (attribute-constrained) vector search ---------------
  //
  // The production request every vector store serves: "top-k
  // neighbors WHERE lang = 'en' AND source = X". Two rules make it
  // correct and scale-right:
  //
  //  1. The predicate constrains the CANDIDATE corpus, applied to the
  //     embeddings scan BEFORE any scoring or ranking — composed under
  //     quantization so Catalyst pushes it into the parquet scan
  //     (PushedFilters on the attribute columns). NEVER filter the
  //     finished top-k: a post-filter silently returns FEWER than k
  //     (the matching 4th-nearest neighbor is gone because the
  //     non-matching 1st..3rd consumed the slots).
  //  2. The model is trained on the FULL corpus — one index serves
  //     every filter (training per predicate would fork a model per
  //     WHERE clause); the centroid memo therefore shares the trained
  //     state with the unfiltered operators. The cost of that choice
  //     is measured, not argued: [[annRecallFiltered]] gates filtered
  //     recall against the filtered brute-force truth at two
  //     selectivities (a probed cell holds ~selectivity × its rows
  //     that match, so low selectivity needs more probes for the same
  //     recall — the knob response is part of the gate).

  /** Exact filtered top-k — the truth twin ([[knnBruteForce]] over
    * the matching corpus only). Queries come from the FULL corpus: a
    * query need not satisfy the filter it searches under. A query
    * whose matching pool has fewer than k rows returns them all —
    * under-full result sets are the semantics, not an error.
    */
  def knnBruteForceFiltered(embeddings: DataFrame, numQueries: Int,
      k: Int, predicate: Column): DataFrame = {
    graft.core.Configs.AnnRequest(numQueries, k).validated
    val queries = quantized(embeddings).filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm2").as("qn2"))
    val cand = quantized(embeddings.filter(predicate))
    topKNeighbors(cand.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qn2"), col("norm2"))),
      k, "cos")
  }

  /** Filtered trained-IVF top-k: [[knnIvfTrained]]'s plan with the
    * predicate composed into the candidate scan (rule 1 above) under
    * the full-corpus model (rule 2). The scan bound tightens
    * multiplicatively: probed cells × the predicate's selectivity of
    * rows actually scored — the filter prunes at the parquet scan,
    * before the cell equi-join.
    */
  def knnIvfTrainedFiltered(embeddings: DataFrame, numQueries: Int,
      k: Int, predicate: Column, kCells: Int = 8, iterations: Int = 2,
      probes: Int = 1): DataFrame =
    knnIvfTrainedImpl(embeddings, numQueries, k, Some(predicate), kCells,
      iterations, probes, escalate = false)

  /** Filtered top-k with PROBE ESCALATION — the production fix for
    * [[knnIvfTrainedFiltered]]'s documented under-return: a selective
    * filter can leave fewer than k matching rows inside the probed
    * cells, and a fixed probe budget then silently returns a short
    * result set. Real stores escalate instead: this operator counts
    * each query's matching candidates at the base tier (a cell
    * equi-join with no scoring — the cheap pass), and only queries
    * whose pool came up short re-scan at FULL cell coverage, which
    * guarantees exactly `min(k, matching-pool)` rows per query.
    *
    * Declarative two-pass, no driver loop: the per-query effective
    * probe depth is a request-scale column (`numQueries` rows,
    * broadcast), so satisfied queries never pay the escalated scan —
    * at 100 TB the extra cost is (dry queries) × (filtered corpus),
    * not (all queries) × anything. The predicate stays composed into
    * BOTH candidate scans (PushedFilters — plan-audited); the model
    * stays full-corpus (one index serves every filter). Recall can
    * only rise vs the fixed-probe operator: satisfied queries return
    * identical sets, escalated queries rank a superset.
    */
  def knnIvfTrainedFilteredEscalated(embeddings: DataFrame,
      numQueries: Int, k: Int, predicate: Column, kCells: Int = 8,
      iterations: Int = 2, probes: Int = 1): DataFrame =
    knnIvfTrainedImpl(embeddings, numQueries, k, Some(predicate), kCells,
      iterations, probes, escalate = true)

  /** Filtered recall@k: IVF filtered search vs the filtered
    * brute-force truth, per (selectivity, probes) — the measured cost
    * of serving filters from one full-corpus model. The denominator is
    * the TRUTH row count, not queries×k: a filter can leave a query
    * fewer than k matches, and recall against phantom slots would
    * understate every method. Output: (sel, method, n_retrieved,
    * n_hits, n_truth, recall_bp), deterministic, oracle-gated.
    */
  def annRecallFiltered(embeddings: DataFrame, numQueries: Int, k: Int,
      preds: Seq[(String, Column)], probesList: Seq[Int] = Seq(1, 2),
      kCells: Int = 8, iterations: Int = 2): DataFrame = {
    graft.core.Validation.validate("ann-request",
      graft.core.Validation.nonEmpty("preds", preds) ++
        graft.core.Validation.nonEmpty("probesList", probesList))
    preds.map { case (sel, p) =>
      val truth = knnBruteForceFiltered(embeddings, numQueries, k, p)
        .select("q_id", "neighbor_id")
        .localCheckpoint() // read once per probes row, plus the count
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      probesList.map { probes =>
        hitCounts(knnIvfTrainedFiltered(embeddings, numQueries, k, p,
            kCells, iterations, probes), truth)
          .crossJoin(nTruth) // 1×1 rows
          .select(lit(sel).as("sel"),
            lit(s"ivf_filtered_p$probes").as("method"),
            col("n_retrieved"), col("n_hits"), col("n_truth"),
            // a predicate matching zero rows leaves n_truth = 0 —
            // recall is undefined there, not a DIVIDE_BY_ZERO crash
            when(col("n_truth") > 0,
              expr("n_hits * 10000 div n_truth"))
              .otherwise(lit(null).cast("long")).as("recall_bp"))
      }.reduce(_ unionByName _)
    }.reduce(_ unionByName _)
  }

  /** Embedding near-dup pairs: LSH-bucket blocking + exact cosine
    * verify — the scale path for pairwise similarity (no O(n²) join).
    */
  def embeddingDedup(embeddings: DataFrame, minCosBp: Long): DataFrame = {
    graft.core.Validation.validate("embedding-dedup",
      graft.core.Validation.knob("minCosBp", minCosBp,
        minV = 1L, maxV = 10000L))
    val b = bucketed(embeddings)
    val x = b.as("x"); val y = b.as("y")
    x.join(y, col("x.bucket") === col("y.bucket")
        && col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos",
        cosine(col("x.v"), col("y.v"), col("x.norm2"), col("y.norm2")))
      .withColumn("cos_bp", round(col("cos") * 10000, 0).cast("long"))
      .filter(col("cos_bp") >= minCosBp)
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"), col("cos_bp"))
  }
}
