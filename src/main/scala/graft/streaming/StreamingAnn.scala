package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.VecOps
import graft.operators.Ann
import graft.sources.Durable

/** ST7: continuous IVF index maintenance — the streaming form of the
  * A3/A5 vector-index pipeline (a production vector store is
  * INCREMENTAL: embeddings arrive with the corpus, the index must
  * absorb them without retraining or rebuilding).
  *
  * Design, mirroring how production systems (FAISS-style serving
  * stacks) split the problem:
  *  - **Train once, ship the model**: the coarse quantizer is trained
  *    on the FIRST batch (deterministic Lloyd's — the engine's
  *    bit-reproducible training loop) and persisted as a driver-scale
  *    model artifact; every later batch and every query uses the
  *    FROZEN model, so cell assignment never drifts and the index
  *    never needs a global rebuild. (Production would train on a
  *    dedicated sample; the contract is identical.)
  *  - **Per-batch assignment is a zero-shuffle projection**: the
  *    guarded-cosine argmax over driver-held centroids
  *    ([[Ann.cellAssign]] — the SAME serving rule as the batch
  *    [[Ann.knnIvfTrained]]/[[Ann.knnIvfSq]], literal or broadcast
  *    matrix by k·dims) — no join, no corpus shuffle, cost linear in
  *    the batch.
  *  - **The index is a cell-partitioned table**: rows land in
  *    `cell=<c>/ingest_batch=<b>` parquet partitions. Queries touch
  *    ONLY their probed cells via partition pruning — the IVF scan
  *    bound holds on disk layout, not just in the plan.
  *  - **Exactly-once under replay**: dynamic partition overwrite of
  *    the batch's own `(cell, ingest_batch)` leaves + deterministic
  *    assignment under the frozen model ⇒ a replayed batch rewrites
  *    its partitions bit-identically (same discipline as
  *    [[StreamingCuration.dedupIngest]]).
  */
object StreamingAnn {

  /** Persist a trained centroid set as a text artifact (one line per
    * centroid: `c_id|comp,comp,...|norm2`), written atomically via
    * temp-file rename so a crash mid-save never leaves a torn model
    * for a replayed batch to load.
    */
  def saveModel(path: String, cent: Seq[(Long, Seq[Long], Long)]): Unit =
    Durable.write(java.nio.file.Paths.get(path), cent.map { case (c, v, n2) =>
      s"$c|${v.mkString(",")}|$n2"
    }.mkString("\n"))

  /** Load a persisted model; an empty or unparseable file yields None
    * (treated as "no model" — the next non-empty batch retrains and
    * atomically replaces it) instead of poisoning every later batch
    * with a parse crash.
    */
  def loadModel(path: String): Option[Seq[(Long, Seq[Long], Long)]] =
    readBody(path).flatMap { body =>
      try Some(body.split("\n").toSeq.map { l =>
        val Array(c, v, n2) = l.split("\\|")
        (c.toLong, v.split(",").toSeq.map(_.toLong), n2.toLong)
      }) catch { case _: MatchError | _: NumberFormatException => None }
    }

  /** A model artifact's trimmed body; None when missing or empty. */
  private def readBody(path: String): Option[String] =
    Durable.read(java.nio.file.Paths.get(path)).map(_.trim).filter(_.nonEmpty)

  /** Milli-quantized (vec_id, v, norm2) projection of an embedding
    * frame (label-free twin of [[Ann.quantized]] — streaming batches
    * need not carry a label column).
    */
  private def quantize(emb: DataFrame, attrs: Seq[String] = Nil): DataFrame =
    emb.select(col("vec_id") +:
        transform(col("embedding"), x => round(x * 1000, 0).cast("long")).as("v") +:
        attrs.map(col): _*)
      .withColumn("norm2", VecOps.intDot(col("v"), col("v")))

  /** Load the frozen model, or train it on this (first non-empty)
    * batch and persist it atomically.
    */
  private def trainOrLoad(modelPath: String, qb: DataFrame, kCells: Int,
      iterations: Int): Seq[(Long, Seq[Long], Long)] =
    loadModel(modelPath).getOrElse {
      // seed-safe: a first batch keyed at arbitrary ids (a fresh
      // lineage over offset ids) must still train the full kCells
      val c = Ann.kmeansCentroidsSeedSafe(
        qb.select("vec_id", "v", "norm2"), kCells, iterations)
      saveModel(modelPath, c)
      c
    }

  /** Driver-side probe ranking of the cosine layouts (`full`, `sq8`)
    * — EXACTLY the batch query-side rule ([[Ann.knnIvfTrained]] /
    * [[Ann.knnIvfSq]] rank cells by guarded cosine DESC, ties on the
    * smaller cell id; the guard scores a zero-norm query/centroid pair
    * LAST): every model cell per quantized query (q_id, qv, qn2), best
    * first, so the index probes the same cells the batch operators
    * probe — the recall parity contract.
    */
  private def cosRanked(cent: Seq[(Long, Seq[Long], Long)],
      qRows: Seq[(Long, Seq[Long], Long)]): Seq[(Long, Seq[Long])] =
    qRows.map { case (qId, qv, qn2) =>
      qId -> cent.map { case (cId, cv, cn2) =>
        val score =
          if (qn2 == 0L || cn2 == 0L) 2.0
          else {
            val dot = qv.zip(cv).map { case (a, b) => a * b }.sum
            // same op order as Ann.cosine(cv, v, cn2, norm2), negated —
            // identical IEEE doubles, so the ranking can never diverge
            -1.0 * (dot.toDouble /
              (math.sqrt(cn2.toDouble) * math.sqrt(qn2.toDouble)))
          }
        (score, cId)
      }.sorted.map(_._2)
    }

  /** Escalation count pass of [[queryIndexSpine]], the same for every
    * layout (it never touches the payload — only `vec_id`, `cell`, and the
    * predicate's attribute columns): per query, how many DISTINCT
    * matching candidates (self excluded) live inside the base-tier
    * cells? Queries at ≥ k keep the base budget; the rest re-rank at
    * full cell coverage. `countDistinct` is the on-disk twin of the
    * batch operator's plain count — a vec_id can be visible in several
    * leaves at once (replay/compaction copies, byte-identical under
    * the index contract), and the scored pass elects one copy, so the
    * pool the election will see is the DISTINCT candidate set. The
    * scan is bounded by the base-tier partitions (cell `isin` +
    * visibility PartitionFilters, predicate as a pushed data filter);
    * the result is request-scale (≤ numQueries rows) and collects to
    * the driver next to the cell ranking this path already holds.
    */
  private def escalatedDepths(spark: SparkSession, root: String,
      visibility: Option[Column], predicate: Option[Column],
      qcells: Seq[(Long, Seq[Long])], k: Int, probes: Int): Map[Long, Int] = {
    import spark.implicits._
    val basePairs = qcells.flatMap { case (qId, cells) =>
      cells.take(probes).map(c => (qId, c)) }
    val baseDf = basePairs.toDF("q_id", "qcell")
    val near = probedScan(spark, root, basePairs.map(_._2).distinct,
        visibility, predicate)
      .join(broadcast(baseDf),
        col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .groupBy("q_id").agg(countDistinct(col("vec_id")).as("n_near"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    qcells.map { case (qId, cells) =>
      qId -> (if (near.getOrElse(qId, 0L) >= k) probes else cells.size)
    }.toMap
  }

  /** The batch ids every reader must exclude: tombstoned leaves
    * (logically deleted — consumed by a committed compaction, kept on
    * disk for the vacuum grace period) plus the in-flight manifest's
    * exclusions (under `intent` the output partitions, under
    * `committed` the consumed leaves). Manifest is read FIRST: an
    * owner roll-forward moves exclusions from the manifest INTO the
    * tombstone ledger, so manifest-then-ledger can only over-exclude
    * across that move (the union still hides every consumed leaf),
    * never under-exclude.
    */
  private[graft] def excludedBatchIds(indexDir: String): Set[Long] = {
    val manifest = readManifest(indexDir) match {
      case Some(("committed", _, consumed)) => consumed.map(_._2).toSet
      case Some((_, outId, _)) => Set(outId)
      case None => Set.empty[Long]
    }
    manifest ++ readTombstones(indexDir).map(_._3)
  }

  /** The reader visibility mapping: one partition-pruning
    * `ingest_batch` predicate excluding [[excludedBatchIds]]; None when
    * nothing is excluded. Takes the RESOLVED generation root (callers
    * resolve `_current` exactly once per request and thread the same
    * root through data scan, visibility, and model — re-resolving here
    * would let a retrain cutover land between the reads and mix one
    * generation's model/exclusions with another's data).
    */
  private[graft] def visibilityFilter(
      resolvedRoot: String): Option[org.apache.spark.sql.Column] = {
    val excluded = excludedBatchIds(resolvedRoot)
    if (excluded.isEmpty) None
    else Some(!col("ingest_batch").isin(excluded.toSeq.sorted: _*))
  }

  /** Compacted-leaf id encoding. A compacted leaf's id must (a) decode
    * to the max raw batch it consumed (the EFFECTIVE batch driving
    * every newest-wins election) and (b) NEVER collide with any
    * existing leaf — the two-phase protocol assumes the output
    * namespace is disjoint from the inputs (a colliding output is
    * deleted by its own consumed-leaf roll-forward, and an intent
    * rollback would delete real input data). The old flat `-(maxRaw
    * + 2)` satisfied only (a): a replay that re-materializes the last
    * consumed raw batch makes the next compaction re-derive the SAME
    * id as the previous generation's output — found by the randomized
    * model check as silent data loss. Ids are now
    * `-((maxRaw + 2) · 2^20 + gen)` with `gen` the first free slot
    * among current leaves: eff decodes by division, uniqueness by
    * construction, and the re-run after any crash re-derives the same
    * id from the same leaf set. (Ids below 2^20 in magnitude decode
    * via the legacy flat rule, so an old index keeps electing
    * correctly.) Each effective slot's generation range is split:
    * compaction outputs allocate gens from 0 upward, reuse-encoded
    * delivery ids ([[reuseSafeBatchId]]) from [[ReuseBase]] (2^19)
    * upward — both decode eff identically by the same division, and
    * the two allocators can never collide.
    */
  private[graft] val EffShift = 20
  private[graft] val EffScale = 1L << EffShift
  private[graft] def effOf(b: Long): Long =
    if (b >= 0) b
    else if (-b >= EffScale) (-b) / EffScale - 2
    else -b - 2
  // shiftright = exact floor-div-by-2^20 on the positive magnitude —
  // the double-division rewrite loses bits past 2^53 and could split
  // election behavior between the SQL and JVM decodes
  private def effExpr(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c >= 0, c).otherwise(
      when(-c >= EffScale, shiftright(lit(0L) - c, EffShift) - 2)
        .otherwise(lit(0L) - c - 2))

  /** Newest-wins election over the JOINED candidate rows of
    * [[queryIndexSpine]]: a vec_id can be visible in several leaves at
    * once — a replay (or a fresh-lineage re-ingest) re-materializes a
    * leaf whose rows the compacted output already holds — and without
    * this election a query would return the same neighbor twice. Per
    * (query, candidate): keep the copy with the max effective batch
    * (compacted leaves map back to the max raw id they consumed), raw
    * beating compacted on ties — EXACTLY the [[compactIndex]] survivor
    * rule, applied at read time. Runs on the post-join candidate table
    * (request-scale: queries × probed-cell rows), never the
    * corpus-side scan.
    *
    * Ordering caveat, shared with the compaction rule: "newest" is
    * batch-id order, which is monotonic only WITHIN a checkpoint
    * lineage. The index contract covers byte-identical re-deliveries
    * (deterministic assignment under the frozen model), where any
    * elected copy is correct; re-ingesting a vec_id with CHANGED
    * values from a fresh lineage (small batch ids) is outside the
    * contract — its copies lose the election to a compacted leaf with
    * a larger effective id. An updatable store needs an explicit
    * version column, not delivery order.
    */
  private def newestPerCandidate(joined: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id", "vec_id")
      .orderBy(col("eff").desc, col("src_b").desc)
    joined
      .withColumn("src_b", col("ingest_batch").cast("long"))
      .withColumn("eff", effExpr(col("src_b")))
      .withColumn("copy_rn", row_number().over(w))
      .filter(col("copy_rn") === 1)
      .drop("src_b", "eff", "copy_rn")
  }

  /** Start the index ingest: `emb` is a streaming frame with at least
    * (vec_id: long, embedding: array<float>). The first batch trains
    * and persists the model at `modelPath` (skipped if one already
    * exists — a pre-trained model is honored); every batch assigns
    * against the frozen model and appends to the cell-partitioned
    * index at `indexDir`.
    *
    * Contract: like the curation ingests, `indexDir` is owned by one
    * checkpoint lineage (batch ids key the idempotent partitions);
    * the model artifact is durable across lineages.
    */
  def ivfIngest(emb: DataFrame, modelPath: String, indexDir: String,
      checkpointDir: String, kCells: Int = 8,
      iterations: Int = 2, attrs: Seq[String] = Nil): StreamingQuery =
    // serving cells use THE shared rule (Ann.cellAssign: max guarded
    // cosine), so the on-disk index partitions exactly as the batch
    // knnIvfTrained assigns (parity spec-pinned)
    ingestSpine(emb, modelPath, indexDir, checkpointDir, kCells, iterations,
      attrs, "full") { (_, qb, cent) => Ann.cellAssign(qb, cent) }

  /** The one on-disk ingest loop behind [[ivfIngest]], [[ivfIngestSq]]
    * and [[ivfIngestPq]]; only `encode` (quantized batch + frozen model
    * → rows with `cell` and the layout's payload columns) differs.
    * Per batch:
    *  - resolve the serving generation, so a [[retrainIndex]] cutover
    *    between batches flips the stream to the new generation (and
    *    its model) with no restart;
    *  - settle any crashed compaction BEFORE writing (the ingest IS the
    *    owner context): a fresh lineage re-using a consumed batch id
    *    would otherwise write rows a lingering `committed` manifest
    *    hides and the eventual roll-forward deletes;
    *  - skip an EMPTY batch entirely — a zero-row training set would
    *    durably persist a degenerate model that poisons every later
    *    batch, and there are no partitions to own;
    *  - train-or-load the frozen model and stamp-or-verify `layout`;
    *  - overwrite the batch's own `(cell, ingest_batch)` partitions
    *    under [[reuseSafeBatchId]]'s id (the raw id unless a compaction
    *    consumed it; never a file delete).
    * `attrs` ride the leaves as plain data columns for filtered search;
    * training stays on the bare (vec_id, v, norm2) projection.
    */
  private def ingestSpine(emb: DataFrame, modelPath: String, indexDir: String,
      checkpointDir: String, kCells: Int, iterations: Int, attrs: Seq[String],
      layout: String)(
      encode: (String, DataFrame, Seq[(Long, Seq[Long], Long)]) => DataFrame
  ): StreamingQuery =
    emb.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val root = resolveRoot(indexDir)
        recoverIndex(root)
        val qb = quantize(batch, attrs)
        if (!qb.isEmpty) {
          val cent = trainOrLoad(modelFor(root, modelPath),
            qb.select("vec_id", "v", "norm2"), kCells, iterations)
          ensureLayout(root, layout, cent.size, cent.head._2.size)
          val rows = encode(root, qb, cent)
          val diskId = reuseSafeBatchId(root, checkpointDir, batchId)
          rows.select(leafColumns(layout, attrs): _*)
            .withColumn("ingest_batch", lit(diskId))
            .write
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .partitionBy("cell", "ingest_batch")
            .parquet(root)
        }
      }
      .start()

  /** ST8 — the SQ8-coded streaming index (the streaming form of the
    * batch IVF-SQ8 operator, [[Ann.knnIvfSq]]): identical train-once /
    * frozen-model / idempotent-partition contract as [[ivfIngest]],
    * but each cell STORES int8 codes (`cb`: array<tinyint>, one byte
    * per component in parquet — 4× smaller index than the
    * full-precision layout) plus the integer code self-dot. Queries
    * score by scale-free quantized cosine over the codes; the recall
    * cost is measured sub-margin (int8 noise ≪ the corpus' rank
    * margins — 98–100% at full scan, AT the probe ceiling under IVF,
    * BASELINE §ANN quality), which is exactly why this layout ships
    * where the PQ family's margins can't. The tradeoff is explicit:
    * no full-precision vectors live in the index, so there is no
    * rerank stage to buy back losses — use [[ivfIngest]] when the
    * corpus' margins demand one.
    *
    * Training still runs on the full-precision first batch (the coarse
    * quantizer sees milli-quantized vectors, same as batch IVF-SQ8 —
    * assignment happens before compression).
    */
  def ivfIngestSq(emb: DataFrame, modelPath: String, indexDir: String,
      checkpointDir: String, kCells: Int = 8,
      iterations: Int = 2, attrs: Seq[String] = Nil): StreamingQuery =
    // codes from THE int8 rule (Ann.withInt8Cols), narrowed to bytes
    // for the 4× on-disk layout; cells from THE shared serving rule
    ingestSpine(emb, modelPath, indexDir, checkpointDir, kCells, iterations,
        attrs, "sq8") { (_, qb, cent) =>
      Ann.withInt8Cols(Ann.cellAssign(qb, cent))
        .withColumn("cb", transform(col("c"), _.cast("byte")))
    }

  /** Top-k quantized-cosine query over an [[ivfIngestSq]] index: same
    * driver-side cell ranking (full-precision query vs the frozen
    * model) and same probed-cell PartitionFilters as [[queryIndex]],
    * but candidates are scored by exact integer code dots over the
    * stored int8 codes — the query is int8-coded with the same
    * per-vector max-abs rule, so cosine's scale invariance makes the
    * per-vector scales cancel. Same manifest visibility filter; never
    * destructive.
    */
  def queryIndexSq(spark: SparkSession, indexDir: String, modelPath: String,
      queries: DataFrame, k: Int, probes: Int = 1): DataFrame =
    queryIndexSqImpl(spark, indexDir, modelPath, queries, k, probes, None)

  /** Filtered SQ8 index query — [[queryIndexFiltered]]'s discipline
    * (predicate into the probed-cell scan, never a post-filter) over
    * the int8-coded layout.
    */
  def queryIndexSqFiltered(spark: SparkSession, indexDir: String,
      modelPath: String, queries: DataFrame, k: Int, predicate: Column,
      probes: Int = 1): DataFrame =
    queryIndexSqImpl(spark, indexDir, modelPath, queries, k, probes,
      Some(predicate))

  /** Probe-escalated filtered query over the SQ8 layout —
    * [[queryIndexFilteredEscalated]]'s semantics (count pass at the
    * base tier, dry queries re-ranked at full cell coverage,
    * min(k, pool) rows guaranteed) over int8-coded candidates. The
    * count pass is layout-agnostic (shared helper — it never reads the
    * code column), so the escalation decision is IDENTICAL to the
    * full-precision index's at the same geometry; only the scoring of
    * the final candidate set differs (quantized cosine, as
    * [[queryIndexSq]]).
    */
  def queryIndexSqFilteredEscalated(spark: SparkSession, indexDir: String,
      modelPath: String, queries: DataFrame, k: Int, predicate: Column,
      probes: Int = 1): DataFrame =
    queryIndexSqImpl(spark, indexDir, modelPath, queries, k, probes,
      Some(predicate), escalate = true)

  private def queryIndexSqImpl(spark: SparkSession, indexDir: String,
      modelPath: String, queries: DataFrame, k: Int, probes: Int,
      predicate: Option[Column], escalate: Boolean = false): DataFrame =
    queryIndexSpine(spark, indexDir, modelPath, queries, k, probes, predicate,
        escalate, "sq8", "queryIndexSq") { (_, cent, qRows) =>
      import spark.implicits._
      // int8-code each query ONCE (probe-invariant, request-scale
      // math); HALF_UP to match the engine's `round` on negative
      // halves (math.round would round -2.5 to -2, Spark rounds to -3)
      val coded = qRows.map { case (qId, qv, _) =>
        val maxabs = qv.map(math.abs).max
        val qc = if (maxabs == 0) qv.map(_ => 0L)
          else qv.map(x => BigDecimal(x * 127.0 / maxabs)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
        qId -> (qc, qc.map(c => c * c).sum)
      }.toMap
      Probing(cosRanked(cent, qRows),
        _.map { case (qId, c) => (qId, c, coded(qId)._1, coded(qId)._2) }
          .toDF("q_id", "qcell", "qc", "qn2q"),
        "qcos", Ann.guardedCosine(col("qc"), transform(col("cb"), _.cast("long")),
          col("qn2q"), col("n2q")))
    }

  // ---- ST9: the PQ-coded on-disk layout (IVFADC at rest) -----------
  //
  // The web-scale rung of the on-disk family: `full` serves exact
  // vectors (1×), `sq8` serves int8 codes (4×), `pq` serves 12-bit
  // residual ADC codes (~21× — four BIGINT code columns per row, no
  // vector payload at all). The batch operators [[Ann.knnIvfPq]] /
  // [[Ann.knnIvfPqRefined]] prove the math; ST7/ST8 prove the
  // manifest/visibility machinery; this layout composes them:
  // train-once coarse model AND train-once product codebooks (both
  // durable artifacts), L2 assignment/probe rule (the batch IVFADC's
  // own — see [[RuleL2]]), per-(query, cell) ADC tables built
  // driver-side from the frozen artifacts, codes-only probed-cell
  // scans, and the exact-rerank refine fetching full vectors from the
  // PRIMARY store by id (request-scale — the index itself never
  // stores a vector, which is the point of 21×).

  /** Persist trained PQ codebooks (one line per centroid:
    * `subspace|c_id|comp,comp,...|norm2`), atomically — the codebook
    * twin of [[saveModel]].
    */
  def saveBooks(path: String,
      books: Seq[Seq[(Long, Seq[Long], Long)]]): Unit =
    Durable.write(java.nio.file.Paths.get(path),
      books.zipWithIndex.flatMap { case (cent, s) =>
        cent.map { case (c, v, n2) => s"$s|$c|${v.mkString(",")}|$n2" }
      }.mkString("\n"))

  /** Load persisted codebooks; empty/unparseable yields None (same
    * poison-free contract as [[loadModel]]). A file that PARSES but
    * does not cover exactly subspaces `0 until PqM` with a non-empty
    * book each (a truncated or partial write that survived a crash)
    * is also None: consumers index `books(0..PqM-1)` positionally, so
    * returning a short/sparse Seq would trade the clean "no trained
    * codebooks" failure for an IndexOutOfBounds deep in query planning
    * — and would make [[ivfIngestPq]] skip retraining on a bad
    * artifact.
    */
  def loadBooks(path: String): Option[Seq[Seq[(Long, Seq[Long], Long)]]] =
    readBody(path).flatMap { body =>
      try {
        val rows = body.split("\n").toSeq.map { l =>
          val Array(s, c, v, n2) = l.split("\\|")
          (s.toInt, (c.toLong, v.split(",").toSeq.map(_.toLong), n2.toLong))
        }
        val bySub = rows.groupBy(_._1)
        if (bySub.keySet != (0 until Ann.PqM).toSet) None
        else Some((0 until Ann.PqM).map(s => bySub(s).map(_._2)))
      } catch { case _: MatchError | _: NumberFormatException => None }
    }

  /** The serving codebook path for a resolved generation root — the
    * generation-local `_pqbooks` when present, else the caller's
    * durable artifact (mirrors [[modelFor]]).
    */
  private def booksFor(resolvedRoot: String, booksPath: String): String = {
    val genBooks = java.nio.file.Paths.get(resolvedRoot, "_pqbooks")
    if (java.nio.file.Files.exists(genBooks)) genBooks.toString else booksPath
  }

  /** ST9 ingest — the streaming form of the batch IVFADC encode
    * ([[Ann.knnIvfPq]]'s corpus side): the first non-empty batch
    * trains the coarse model (persisted at `modelPath`) AND the
    * product codebooks over that batch's COARSE RESIDUALS (persisted
    * at `booksPath`); every batch then assigns cells by the frozen
    * model's squared-L2 argmin ([[Ann.kmeansAssign]] — the batch
    * IVFADC rule, stamped [[RuleL2]]), encodes its residuals under
    * the frozen codebooks ([[Ann.pqEncodedFromQ]] — a zero-shuffle
    * codegen projection), and appends ONLY the four code columns to
    * the cell-partitioned index. Same idempotent-partition /
    * owner-recovery / id-reuse contract as [[ivfIngest]];
    * [[compactIndex]]/[[vacuumIndex]] serve this layout unchanged
    * (schema-agnostic). [[retrainIndex]] REFUSES it by design —
    * residual codes cannot be re-encoded without the primary vectors;
    * drift maintenance is [[retrainIndexPq]], the
    * re-encode-from-primary rebuild under the same generation
    * machinery.
    */
  def ivfIngestPq(emb: DataFrame, modelPath: String, booksPath: String,
      indexDir: String, checkpointDir: String, kCells: Int = 8,
      pqK: Int = Ann.PqK, iterations: Int = 2,
      attrs: Seq[String] = Nil): StreamingQuery =
    ingestSpine(emb, modelPath, indexDir, checkpointDir, kCells, iterations,
        attrs, "pq") { (root, qb, cent) =>
      val bPath = booksFor(root, booksPath)
      val books = loadBooks(bPath).getOrElse {
        // residuals materialized once for training (read 4 subspaces ×
        // (1 + iterations) times); trained once, shipped thereafter
        val res = Ann.pqResiduals(qb, cent).localCheckpoint(eager = true)
        val b = trainBooks(res, pqK, iterations)
        saveBooks(bPath, b)
        res.unpersist()
        b
      }
      Ann.pqEncodedFromQ(Ann.pqResiduals(qb, cent, attrs), books)
    }

  /** Seed-safe per-subspace PQ codebooks over residual rows (vec_id,
    * v) — the coarse model's own discipline: identical to the batch
    * [[Ann.pqCodebooksFromQ]] on a 0-keyed corpus, still full pqK on an
    * index keyed at arbitrary ids.
    */
  private def trainBooks(res: DataFrame, pqK: Int,
      iterations: Int): Seq[Seq[(Long, Seq[Long], Long)]] =
    (0 until Ann.PqM).map { s =>
      val sv = slice(col("v"), s * Ann.PqSubDims + 1, Ann.PqSubDims)
      Ann.kmeansCentroidsSeedSafe(
        res.select(col("vec_id"), sv.as("v"),
          VecOps.intDot(sv, sv).as("norm2")), pqK, iterations)
    }

  /** Driver-side L2 probe ranking for the pq layout — EXACTLY the
    * batch [[Ann.knnIvfPq]] query side (exact coarse squared-L2,
    * ties on the smaller cell id), returning the ranked cells WITH
    * the query's residual to each (the ADC tables are per-(query,
    * cell) — built from the residual TO THAT CELL).
    */
  private def rankCellsL2(cent: Seq[(Long, Seq[Long], Long)],
      qv: Seq[Long]): Seq[(Long, Seq[Long])] = {
    val qn2 = qv.map(x => x * x).sum
    cent.map { case (cId, cv, cn2) =>
      val dot = qv.zip(cv).map { case (a, b) => a * b }.sum
      ((qn2 - 2 * dot + cn2, cId), cId,
        qv.zip(cv).map { case (a, b) => a - b })
    }.sortBy(_._1).map { case (_, cId, res) => (cId, res) }
  }

  /** One subspace's ADC table for a query residual: c_id → exact
    * integer squared-L2 of the residual's subvector against the
    * codebook centroid — the driver-side twin of the batch operator's
    * per-query map literals (identical Long arithmetic).
    */
  private def adcTable(res: Seq[Long], s: Int,
      book: Seq[(Long, Seq[Long], Long)]): Map[Long, Long] = {
    val sv = res.slice(s * Ann.PqSubDims, (s + 1) * Ann.PqSubDims)
    val sn = sv.map(x => x * x).sum
    book.map { case (cId, cv, cn2) =>
      val dot = sv.zip(cv).map { case (a, b) => a * b }.sum
      cId -> (sn - 2 * dot + cn2)
    }.toMap
  }

  /** ADC top-k over an [[ivfIngestPq]] index: cells ranked by exact
    * coarse L2 against the frozen model (driver-side, request-scale),
    * per-(query, probed-cell) ADC tables from the frozen codebooks
    * (driver math — PqM maps of pqK integers per pair), then ONE
    * codes-only scan of the probed cell partitions: est_d is PqM map
    * lookups per candidate, the visibility filter and newest-wins
    * election are the shared index machinery, and the result is
    * bit-identical to [[Ann.knnIvfPq]] at the same geometry
    * (parity spec). Output: (q_id, rnk, neighbor_id, est_d).
    */
  def queryIndexPq(spark: SparkSession, indexDir: String,
      modelPath: String, booksPath: String, queries: DataFrame, k: Int,
      probes: Int = 2): DataFrame =
    queryIndexPqImpl(spark, indexDir, modelPath, booksPath, queries, k,
      probes, None)

  /** Filtered (attribute-constrained) ADC query — the on-disk form of
    * [[Ann.knnIvfPqFiltered]]: the predicate references the attribute
    * columns the ingest carried into the code leaves and applies to
    * the probed-cell scan BEFORE election and ADC ranking (a parquet
    * data filter alongside the cell/visibility PartitionFilters),
    * never a post-filter. Encoding is deterministic per row under the
    * frozen artifacts, so filter∘encode ≡ encode∘filter and parity
    * with the batch filtered operator is exact (spec-pinned).
    */
  def queryIndexPqFiltered(spark: SparkSession, indexDir: String,
      modelPath: String, booksPath: String, queries: DataFrame, k: Int,
      predicate: Column, probes: Int = 2): DataFrame =
    queryIndexPqImpl(spark, indexDir, modelPath, booksPath, queries, k,
      probes, Some(predicate))

  /** Probe-escalated filtered ADC query — the on-disk form of
    * [[Ann.knnIvfPqFilteredEscalated]], completing the escalation
    * discipline across all THREE on-disk layouts: the shared
    * layout-agnostic count pass (base-tier cells only, never the code
    * columns) decides each query's effective depth; dry queries
    * re-rank at full cell coverage, guaranteeing min(k, matching
    * pool) rows; satisfied queries return the fixed-probe sets.
    */
  def queryIndexPqFilteredEscalated(spark: SparkSession, indexDir: String,
      modelPath: String, booksPath: String, queries: DataFrame, k: Int,
      predicate: Column, probes: Int = 2): DataFrame =
    queryIndexPqImpl(spark, indexDir, modelPath, booksPath, queries, k,
      probes, Some(predicate), escalate = true)

  private def queryIndexPqImpl(spark: SparkSession, indexDir: String,
      modelPath: String, booksPath: String, queries: DataFrame, k: Int,
      probes: Int, predicate: Option[Column],
      escalate: Boolean = false): DataFrame =
    queryIndexSpine(spark, indexDir, modelPath, queries, k, probes, predicate,
        escalate, "pq", "queryIndexPq") { (root, cent, qRows) =>
      import spark.implicits._
      val books = loadBooks(booksFor(root, booksPath)).getOrElse(
        throw new IllegalStateException(
          s"no trained codebooks at ${booksFor(root, booksPath)}"))
      // L2 ranking (the pq rule) with the query's residual to each cell
      val ranked = qRows.map { case (qId, qv, _) => qId -> rankCellsL2(cent, qv) }
      val residual = ranked.flatMap { case (qId, cells) =>
        cells.map { case (c, res) => (qId, c) -> res } }.toMap
      Probing(ranked.map { case (qId, cells) => qId -> cells.map(_._1) },
        _.map { case (qId, c) =>
          val res = residual((qId, c))
          (qId, c, adcTable(res, 0, books(0)), adcTable(res, 1, books(1)),
            adcTable(res, 2, books(2)), adcTable(res, 3, books(3)))
        }.toDF("q_id", "qcell", "qd0", "qd1", "qd2", "qd3"),
        "est_d", Ann.adcEstimate, desc = false)
    }

  /** IVFADC-R over the on-disk index — [[Ann.knnIvfPqRefined]]'s
    * refine stage composed with [[queryIndexPq]]: the code index
    * RANKS a k·refine shortlist (ADC, codes only), and the
    * shortlist's full-precision vectors rerank it to k by exact
    * cosine. `vectors` is the PRIMARY embedding store
    * (vec_id, embedding) — the index stores no vectors, so the
    * refine fetch is a request-scale broadcast equi-join against the
    * store (queries × k·refine ids), exactly the batch operator's
    * plan. Output: (q_id, rnk, neighbor_id, cos_bp), bit-identical
    * to [[Ann.knnIvfPqRefined]] at the same geometry (parity spec).
    */
  def queryIndexPqRefined(spark: SparkSession, indexDir: String,
      modelPath: String, booksPath: String, queries: DataFrame,
      vectors: DataFrame, k: Int, refine: Int = 10,
      probes: Int = 2): DataFrame = {
    graft.core.Configs.Pq(Ann.PqK, refine).validated
    val short = queryIndexPq(spark, indexDir, modelPath, booksPath,
      queries, k * refine, probes).select("q_id", "neighbor_id")
    val qv = quantize(vectors)
    val cand = qv.join(broadcast(short), col("vec_id") === col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"), col("v"), col("norm2"))
    val qq = qv.join(broadcast(short.select("q_id").distinct()),
        col("vec_id") === col("q_id"))
      .select(col("q_id"), col("v").as("qv"), col("norm2").as("qn2"))
    Ann.topK(cand.join(broadcast(qq), Seq("q_id"))
      .withColumn("cos", Ann.cosine(col("qv"), col("v"), col("qn2"),
        col("norm2"))), k, col("cos").desc, tie = "neighbor_id")
      .select(col("q_id"), col("rnk"), col("neighbor_id"),
        round(col("cos") * 10000, 0).cast("long").as("cos_bp"))
  }

  /** Compact aged index leaves: a long-lived ingest accumulates one
    * parquet leaf per (cell, ingest_batch) without bound, and
    * [[queryIndex]] reads every leaf of a probed cell — the one scale
    * defect of the streaming index. This merges every AGED leaf
    * (everything except the newest batch, which may still be the
    * replay target of an in-flight epoch) into ONE compacted leaf per
    * cell — the [[graft.sources.FsSegmentStore.compactLeveled]]
    * single-read/single-write discipline: one read over the consumed
    * leaves, one partitioned write, previous compacted leaves
    * re-consumed (leveled re-compaction), so steady-state leaves per
    * cell = 1 compacted + the uncompacted tail.
    *
    * Crash-safe via a two-phase manifest (the FsKeyIndex.compact
    * write-then-swap idea, adapted to partition-dir granularity):
    *  - `intent` manifest (atomic rename) BEFORE the merged write: a
    *    crash mid-write (or post-write, pre-flip) rolls BACK —
    *    [[recoverIndex]] deletes the compacted output, inputs
    *    untouched;
    *  - flipped to `committed` AFTER the write: a crash mid-delete
    *    rolls FORWARD — recoverIndex finishes deleting the consumed
    *    leaves. At every instant exactly one complete copy of every
    *    row is reachable. The output id is deterministic in the
    *    current leaf set (generation-encoded — see [[EffScale]]: eff
    *    decodes to the max consumed raw batch, uniqueness vs every
    *    existing leaf by construction), so a re-run after any crash
    *    converges; the survivor election is deterministic, so a
    *    re-merge after rollback rebuilds the same leaf.
    *
    * Survivor semantics: if a vec_id appears in several consumed
    * leaves (a fresh-checkpoint replay lineage can re-deliver earlier
    * data as its own batch 0), the merge keeps the NEWEST copy —
    * max effective batch per vec_id, where a compacted leaf's
    * effective batch is the max raw batch it consumed (−outId − 2),
    * raw beating compacted on a tie (a post-compaction replay
    * re-materializes the newer delivery). Deterministic, never an
    * arbitrary dropDuplicates pick.
    *
    * Recovery is OWNER-ONLY: it runs on [[compactIndex]] entry, never
    * from the read path — [[queryIndex]] treats the manifest as a
    * pure VISIBILITY FILTER (under `intent` it excludes the output
    * partitions; under `committed` it excludes the consumed leaves),
    * so a reader racing the compactor can never delete the output the
    * compactor is about to commit (a destructive reader could
    * otherwise erase the merged leaf in the write→flip window and the
    * compactor's consumed-leaf deletes would then lose those rows).
    *
    * Single-writer contract (as [[FsKeyIndex.compact]]): one
    * compaction at a time, run between batches from the ingest owner;
    * concurrent READERS are safe at EVERY point — commit never deletes
    * the consumed leaves, it TOMBSTONES them (grace-period deletes):
    * they stay on disk, hidden from fresh readers by the visibility
    * filter and from future merges by the ledger, until an owner
    * [[vacuumIndex]] pass reclaims entries at least `grace`
    * generations old. A reader whose plan-time snapshot (visibility
    * filter + file listing) predates the compaction therefore still
    * finds every file it listed and returns the correct
    * pre-compaction view — the delete race that plain parquet
    * directories cannot otherwise close (failed scan, or silently
    * partial under `spark.sql.files.ignoreMissingFiles`) is gone; the
    * residual exposure is a reader spanning MORE than `grace` full
    * compaction+vacuum cycles, which the grace knob prices explicitly.
    * (A reader that snapshots its filter microseconds before a
    * compaction completes and lists files after can transiently see a
    * consumed leaf AND its compacted copy — harmless: the per-query
    * newest-wins election and [[indexStats]]' countDistinct both
    * collapse duplicate copies.)
    * Local/posix-rename filesystems (same assumption as the model
    * artifact).
    *
    * Returns the compacted leaf's ingest_batch id, or None if fewer
    * than `minBatches` aged leaves existed (no-op).
    */
  def compactIndex(spark: SparkSession, indexDir: String,
      minBatches: Int = 4): Option[Long] =
    compactIndexImpl(spark, indexDir, minBatches, crashPoint = 0)

  /** Test seam: crashPoint 1 = stop after the intent manifest (before
    * the merged write), 2 = stop after the merged write (before the
    * committed flip), 3 = stop after the committed flip (before the
    * consumed leaves are tombstoned). Production path is
    * crashPoint = 0.
    */
  private[graft] def compactIndexImpl(spark: SparkSession, indexDir: String,
      minBatches: Int, crashPoint: Int): Option[Long] = {
    val root = resolveRoot(indexDir) // serving generation
    recoverIndex(root)
    val leaves = listLeaves(root)
    if (leaves.isEmpty) return None
    // a populated pre-stamp dir gets the same explicit-stamp demand as
    // the query paths (the compactor serves every on-disk layout and
    // must never guess which one it is merging), and an unknown
    // assignment rule the same refusal — compaction preserves cells,
    // so it would launder a wrong-rule index into a fresh-looking one
    readLayout(root) match {
      case None => throw new IllegalStateException(legacyLayoutMsg(root))
      case Some((l, _, _, r)) if r != ruleFor(l) =>
        throw new IllegalStateException(ruleMismatchMsg(root, r))
      case _ => ()
    }
    // tombstoned leaves are LOGICALLY deleted (their rows live in a
    // compacted output): never re-consume them — merging one back in
    // would resurrect rows a previous compaction already elected away
    val deadIds = readTombstones(root).map(_._3).toSet
    val live = leaves.filterNot(l => deadIds.contains(l._2))
    if (live.isEmpty) return None
    // the replay-target exemption protects the newest DELIVERY leaf —
    // raw or generation-encoded reuse ([[reuseSafeBatchId]]; a reuse
    // leaf is the newest delivery of a fresh lineage even though its
    // encoded id is negative); compacted leaves are never replay
    // targets. Newest by (effective batch, raw-beats-encoded) — the
    // same ordering every election uses
    val deliveries = live.map(_._2).filter(id => id >= 0 || isReuseId(id))
    if (deliveries.isEmpty) return None
    val newest = deliveries.maxBy(id => (effOf(id), id))
    val aged = live.filter(_._2 != newest)
    val agedIds = aged.map(_._2).distinct
    if (agedIds.size < minBatches ||
      !agedIds.exists(id => id >= 0 || isReuseId(id))) return None
    // generation-encoded output id (see [[EffScale]]): eff decodes to
    // the max EFFECTIVE batch among the consumed leaves — max over
    // effOf, NOT max raw id: when the only aged raw leaves are
    // replayed OLD batches, the consumed compacted leaf's effective
    // batch exceeds every raw aged id, and labeling the merge with the
    // raw max would UNDER-state its content's newness (its payloads
    // then lose later elections to genuinely older raw replays —
    // model-check-found, seed 7). The first-free-slot scan makes the
    // id disjoint from EVERY existing leaf — a replay that
    // re-materializes the last consumed raw batch would otherwise make
    // this generation's id collide with the previous one's output,
    // which the consumed-leaf deletes then destroy (model-check-found)
    val base = -(agedIds.map(effOf).max + 2) * EffScale
    // uniqueness vs every PHYSICAL leaf and every tombstoned id: an
    // output colliding with a tombstoned batch would be hidden by the
    // ledger the moment it is written
    val existingIds = leaves.map(_._2).toSet ++ deadIds
    // generations stay below [[ReuseBase]]: the upper half of each
    // effective slot belongs to reuse-encoded delivery ids
    val outId = (0L until ReuseBase).iterator.map(g => base - g)
      .find(id => !existingIds.contains(id))
      .getOrElse(throw new IllegalStateException(
        s"compaction generation space exhausted at $root"))
    val inputs = aged.map { case (c, b) =>
      s"$root/cell=$c/ingest_batch=$b" }
    // newest-wins survivor per vec_id (see scaladoc): effective batch
    // maps a compacted leaf back to the max raw batch it consumed;
    // raw beats compacted on an effective tie (raw id is larger)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id")
      .orderBy(col("eff").desc, col("src_batch").desc)
    // schema-agnostic: preserve whatever payload columns the index
    // layout carries (full-precision v/norm2 or SQ8 cb/n2q) — only the
    // bookkeeping columns are rewritten
    val merged = spark.read.option("basePath", root)
      .parquet(inputs: _*)
      .withColumn("src_batch", col("ingest_batch").cast("long"))
      .withColumn("eff", effExpr(col("src_batch")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "eff", "src_batch", "ingest_batch")
      .withColumn("ingest_batch", lit(outId))
    // materialize BEFORE the overwrite: the merged frame reads the
    // same root it writes into; checkpointing severs that read (and a
    // torn write can then never observe its own partial output)
    val mat = merged.localCheckpoint()
    writeManifest(root, "intent", outId, aged)
    if (crashPoint == 1) return Some(outId)
    mat.write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("cell", "ingest_batch")
      .parquet(root)
    if (crashPoint == 2) return Some(outId)
    writeManifest(root, "committed", outId, aged)
    if (crashPoint == 3) return Some(outId)
    // GRACE-PERIOD deletes: commit never removes the consumed leaves —
    // it TOMBSTONES them (hidden from every reader by the visibility
    // filter, excluded from future merges, physically present), so a
    // reader whose plan/file-listing snapshot predates this compaction
    // still finds every file it expects. [[vacuumIndex]] is the later
    // owner pass that reclaims tombstoned leaves once their grace
    // epoch has passed.
    addTombstones(root, aged)
    java.nio.file.Files.deleteIfExists(manifestPath(root))
    Some(outId)
  }

  /** Complete (or roll back) an interrupted [[compactIndex]]: an
    * `intent` manifest deletes the compacted output (rollback); a
    * `committed` one finishes deleting the consumed leaves (roll
    * forward). OWNER-ONLY — runs on [[compactIndex]] entry, never from
    * the read path ([[queryIndex]] filters on the manifest instead of
    * acting on it). Idempotent, and tolerant of a concurrent recovery
    * (deleteIfExists / per-entry NoSuchFile tolerance), so a stray
    * second owner entry degrades to a no-op rather than a spurious
    * failure.
    */
  def recoverIndex(indexDir: String): Unit =
    recoverAt(resolveRoot(indexDir)) // serving generation

  /** [[recoverIndex]] against an EXPLICIT generation root — the flat
    * root after a cutover is no longer the serving generation but can
    * still carry a crashed compaction's manifest, which must be
    * settled by its own rollback/roll-forward protocol rather than
    * blindly deleted ([[vacuumGenerations]]).
    */
  private def recoverAt(root: String): Unit =
    readManifest(root).foreach { case (state, outId, consumed) =>
      if (state == "committed")
        // roll FORWARD = finish the grace-period commit: tombstone the
        // consumed leaves (idempotent — re-runs dedupe on (cell,
        // batch)), never delete them here
        addTombstones(root, consumed)
      else
        consumed.map(_._1).distinct.foreach { c =>
          deleteDir(java.nio.file.Paths.get(s"$root/cell=$c/ingest_batch=$outId"))
        }
      java.nio.file.Files.deleteIfExists(manifestPath(root))
      ()
    }

  /** Physically reclaim tombstoned leaves whose grace period has
    * passed — the OWNER pass that closes the loop [[compactIndex]]
    * leaves open on purpose (commit hides consumed leaves, it never
    * deletes them). `grace` counts tombstone GENERATIONS: each
    * compaction stamps its tombstones with the next counter value, and
    * a vacuum with grace g reclaims only entries at least g
    * generations behind the newest — so a reader can span g full
    * compactions between planning and executing before it can ever
    * miss a file. grace=0 reclaims everything (the old eager-delete
    * behavior, for callers that KNOW no reader is in flight); the
    * default 1 keeps the previous generation's leaves through the next
    * maintenance pass. Crash-safe: directories are removed before the
    * ledger entries, and a re-run tolerates already-gone directories
    * (an entry pointing at a reclaimed leaf only over-excludes).
    * Returns the number of leaves reclaimed.
    */
  def vacuumIndex(indexDir: String, grace: Int = 1): Int = {
    graft.core.Validation.validate("index-maintenance",
      graft.core.Validation.knob("vacuumGrace", grace, minV = 0L,
        requiredNonZero = false))
    val root = resolveRoot(indexDir) // serving generation
    ledgerLock(root).synchronized {
      val ts = readTombstones(root)
      if (ts.isEmpty) 0
      else {
        val maxStamp = ts.map(_._1).max
        val (old, keep) = ts.partition(_._1 <= maxStamp - grace)
        old.foreach { case (_, c, b) =>
          deleteDir(java.nio.file.Paths.get(s"$root/cell=$c/ingest_batch=$b"))
        }
        if (old.nonEmpty) writeTombstones(root, keep)
        old.size
      }
    }
  }

  /** Codified maintenance cadence: read the (metadata-only) visible
    * leaf counts and compact when any cell's count exceeds
    * `maxLeavesPerCell`, then vacuum tombstones past `vacuumGrace`
    * generations — [[indexStats]]' compaction signal turned into the
    * trigger, so the ST7 leaf bound is enforced mechanically instead
    * of left to the operator. Owner-context, like every maintenance
    * pass here (run it between ingest batches / query waves). Returns
    * the compacted leaf id when a compaction ran.
    */
  def compactIfNeeded(spark: SparkSession, indexDir: String,
      maxLeavesPerCell: Int, minBatches: Int = 2,
      vacuumGrace: Int = 1): Option[Long] = {
    graft.core.Configs.IndexMaintenance(maxLeavesPerCell = maxLeavesPerCell,
      vacuumGrace = vacuumGrace, minBatches = minBatches).validated
    val root = resolveRoot(indexDir) // serving generation
    val excluded = excludedBatchIds(root)
    val visible = listLeaves(root).filterNot(l => excluded.contains(l._2))
    val worst = visible.groupBy(_._1).valuesIterator
      .map(_.size).maxOption.getOrElse(0)
    val out = if (worst > maxLeavesPerCell)
      compactIndex(spark, root, minBatches) else None
    vacuumIndex(root, vacuumGrace)
    out
  }

  // ---- model generations: the coarse-quantizer drift path ----------
  //
  // The train-once frozen model is the right default (cell assignment
  // never drifts, no global rebuilds), but a long-lived incremental
  // store must survive CORPUS drift: as data leaves the trained
  // distribution, cell balance degrades and recall at a fixed probe
  // budget decays (the corollary of the measured data-dependence of
  // the recall ladder). [[retrainIndex]] is the owner maintenance pass
  // for that: train a NEW model generation on the currently visible
  // corpus, rebuild the index under it cell-by-cell, and cut over
  // atomically.
  //
  // Layout: generation N lives at `<indexDir>/_gen-N/` — a complete,
  // self-contained index (leaves, `_layout`, its own `_model`; the
  // `_` prefix keeps a mid-build or crashed-unflipped generation
  // invisible to the flat generation's parquet partition discovery,
  // which would otherwise refuse the mixed directory structure) — and
  // `<indexDir>/_current` names the serving generation (absent =
  // the original flat generation 0 at `indexDir` itself, so every
  // pre-generation index keeps working unchanged). Every entry point
  // resolves through the pointer, so ingest streams and queries flip
  // to the new generation at their next batch/request with no restart;
  // the gen-local `_model` takes precedence over the caller's
  // modelPath, which is what makes the model+layout+data cutover ONE
  // atomic rename (`_current`): there is no window where a new model
  // is served over old cells or vice versa — the failure mode the
  // layout stamp's assignment-rule field guards against.
  //
  // Nothing is deleted at cutover: the old generation stays on disk
  // (readers planned against it keep every file they listed) until
  // the owner reclaims it with [[vacuumGenerations]] — the same
  // grace-priced discipline as tombstone vacuum.

  /** The serving root of an index: `<indexDir>/_gen-N` per `_current`,
    * or `indexDir` itself (the flat pre-generation layout).
    */
  private[graft] def resolveRoot(indexDir: String): String =
    readCurrentGen(indexDir) match {
      case Some(n) => s"$indexDir/_gen-$n"
      case None => indexDir
    }

  /** The serving model path for an ALREADY-RESOLVED generation root:
    * the generation's own `_model` when present (written by
    * [[retrainIndex]]), else the caller's train-once artifact. Takes
    * the resolved root (never re-resolves) so one request's data,
    * visibility, and model all come from the SAME generation even if
    * a retrain cutover lands mid-request.
    */
  private def modelFor(resolvedRoot: String, modelPath: String): String = {
    val genModel = java.nio.file.Paths.get(resolvedRoot, "_model")
    if (java.nio.file.Files.exists(genModel)) genModel.toString else modelPath
  }

  private[graft] def readCurrentGen(indexDir: String): Option[Long] =
    Durable.read(java.nio.file.Paths.get(indexDir, "_current")).map(_.trim)
      .filter(_.startsWith("gen-")).flatMap(_.stripPrefix("gen-").toLongOption)

  private def writeCurrentGen(indexDir: String, n: Long): Unit =
    Durable.write(java.nio.file.Paths.get(indexDir, "_current"), s"gen-$n")

  /** Retrain the coarse quantizer on the CURRENTLY VISIBLE corpus and
    * rebuild the index under the new model as generation N+1 —
    * returning the new generation number. Owner-context (run between
    * batches, like compaction); readers and a running ingest flip at
    * their next request/batch through the `_current` pointer.
    *
    * Mechanics: one visibility-filtered read of the serving
    * generation elects the newest copy per vec_id (the compactor's
    * survivor rule over every visible leaf), the elected corpus
    * trains the new model (deterministic Lloyd's — the engine's
    * bit-reproducible loop, so a re-run converges to the same
    * generation), every row is re-assigned under the new model by THE
    * shared serving rule ([[Ann.cellAssign]]), and the rebuilt leaves
    * land in ONE generation-encoded batch per cell (eff = max
    * effective batch of the consumed view, so later deliveries of the
    * continuing lineage keep winning elections). The `sq8` layout
    * retrains in CODE space (centroids over the widened int8 codes —
    * cosine's per-vector scale invariance makes code-space directions
    * rank like milli-space ones, the same argument as its query
    * scoring; int8 noise is measured sub-margin on this corpus).
    *
    * Crash-safe: the new generation is invisible until the final
    * atomic `_current` rename (the ONLY commit point — model, layout
    * stamp, and data all live inside the generation dir); a crashed
    * build leaves an unreferenced dir that the next retrain deletes
    * and rebuilds. Nothing is ever deleted under a reader —
    * [[vacuumGenerations]] is the explicit, grace-priced reclaim.
    *
    * Scale: cost is `iterations + 2` scans of the visible corpus
    * (election, training iterations, rebuild write) — the same O(N)
    * a compaction-style rebuild costs anywhere; run it on the drift
    * cadence (weeks), not the compaction cadence (batches). Trained
    * state stays driver/broadcast-scale.
    */
  def retrainIndex(spark: SparkSession, indexDir: String, kCells: Int,
      iterations: Int = 2): Long =
    retrainIndexImpl(spark, indexDir, kCells, iterations, crashPoint = 0)._1

  /** Test seam: crashPoint 1 = stop after the rebuilt data write
    * (before the stamp/model), 2 = stop after stamp+model (before the
    * `_current` flip — the generation is complete but unreferenced).
    * Production path is crashPoint = 0. Returns (generation number,
    * rebuilt leaf id).
    */
  private[graft] def retrainIndexImpl(spark: SparkSession, indexDir: String,
      kCells: Int, iterations: Int, crashPoint: Int): (Long, Long) =
    writeGeneration(spark, indexDir, kCells, iterations, crashPoint,
        pq = false, attrs = Nil) { (visible, layout) =>
      // elect the newest copy per vec_id over every visible leaf — the
      // same survivor rule compaction and queries apply
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id")
        .orderBy(col("eff").desc, col("src_batch").desc)
      val elected = visible
        .withColumn("src_batch", col("ingest_batch").cast("long"))
        .withColumn("eff", effExpr(col("src_batch")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn", "eff", "src_batch", "ingest_batch")
        .localCheckpoint() // training re-scans it `iterations` times
      // full layout trains on the stored milli vectors; sq8 on the
      // widened codes (code space — see scaladoc), its payload riding
      // through cellAssign's pure projection
      val trainIn =
        if (layout == "full") elected.select("vec_id", "v", "norm2")
        else elected
          .withColumn("v", transform(col("cb"), _.cast("long")))
          .withColumn("norm2", col("n2q"))
      val cent = Ann.kmeansCentroidsSeedSafe(
        trainIn.select("vec_id", "v", "norm2"), kCells, iterations)
      require(cent.nonEmpty, "training produced no centroids")
      Rebuilt(Ann.cellAssign(trainIn, cent), cent)
    }

  /** What a retrain path hands [[writeGeneration]]: the rebuilt rows
    * (`cell` + the layout's payload), the new coarse model, the
    * layout's codebooks if it has any, and cached frames to release
    * once the rows are written.
    */
  private case class Rebuilt(rows: DataFrame,
      cent: Seq[(Long, Seq[Long], Long)],
      books: Option[Seq[Seq[(Long, Seq[Long], Long)]]] = None,
      cached: Seq[DataFrame] = Nil)

  /** The one generation writer behind [[retrainIndex]] (`pq = false`:
    * self-contained layouts) and [[retrainIndexPq]] (`pq = true`): owner
    * entry (settle a crashed compaction), layout and rule check, the
    * visible leaves, `rebuild` (given the visibility-filtered serving
    * index and its layout),
    * then generation N+1 at `_gen-N`: the rebuilt rows as ONE
    * generation-encoded leaf per cell whose eff is the max effective
    * batch of the consumed view (later raw deliveries keep winning
    * elections, a replay of the last delivered batch ties into the
    * raw-beats-encoded arm), the layout stamp with the ACTUAL cell
    * count (fewer than kCells only when the corpus has fewer vectors),
    * the generation's `_model` (and `_pqbooks`), and last THE atomic
    * `_current` cutover. crashPoint 1 stops after the data write, 2
    * after the artifacts (complete but unreferenced); a crashed
    * prior attempt's dir is deleted and rebuilt.
    */
  private def writeGeneration(spark: SparkSession, indexDir: String,
      kCells: Int, iterations: Int, crashPoint: Int, pq: Boolean,
      attrs: Seq[String])(
      rebuild: (DataFrame, String) => Rebuilt): (Long, Long) = {
    graft.core.Validation.validate("index-maintenance",
      graft.core.Validation.knob("kCells", kCells, minV = 1L) ++
        graft.core.Validation.knob("iterations", iterations, minV = 1L))
    val cur = resolveRoot(indexDir)
    recoverIndex(indexDir) // owner entry: settle any crashed compaction
    val layout = readLayout(cur) match {
      case None => throw new IllegalStateException(legacyLayoutMsg(cur))
      case Some((l, _, _, r)) if r != ruleFor(l) && (!pq || l == "pq") =>
        throw new IllegalStateException(ruleMismatchMsg(cur, r))
      case Some((l, _, _, _)) => l
    }
    // a pq index stores only residual ADC codes taken against the OLD
    // centroids: a new model cannot re-encode them without the primary
    // full-precision vectors, which the layout does not carry
    if (layout == "pq" && !pq)
      throw new IllegalStateException(
        s"index at $cur is a 'pq' (residual-code) layout: retraining " +
          "needs the primary full-precision vectors, which a code index " +
          "does not store — use retrainIndexPq to re-ingest from the " +
          "primary store under a new model instead of retraining in place")
    if (layout != "pq" && pq)
      throw new IllegalStateException(
        s"index at $cur is a '$layout' layout: retrainIndexPq re-encodes " +
          "residual-code ('pq') indexes from the primary store — use " +
          "retrainIndex for self-contained layouts")
    val excluded = excludedBatchIds(cur)
    val visibleLeaves = listLeaves(cur).filterNot(l => excluded.contains(l._2))
    if (visibleLeaves.isEmpty)
      throw new IllegalStateException(s"nothing to retrain at $cur")
    val idx0 = spark.read.parquet(cur)
    val rb = rebuild(visibilityFilter(cur).fold(idx0)(idx0.filter), layout)
    val genN = readCurrentGen(indexDir).getOrElse(0L) + 1
    val genDir = s"$indexDir/_gen-$genN"
    deleteDir(java.nio.file.Paths.get(genDir)) // a crashed prior attempt
    val outId = -(visibleLeaves.map(l => effOf(l._2)).max + 2) * EffScale
    rb.rows.select(leafColumns(layout, attrs): _*)
      .withColumn("ingest_batch", lit(outId))
      .write.mode("overwrite")
      .partitionBy("cell", "ingest_batch")
      .parquet(genDir)
    rb.cached.foreach(_.unpersist())
    if (crashPoint == 1) return (genN, outId)
    stampIndexLayout(genDir, layout, rb.cent.size, rb.cent.head._2.size)
    saveModel(s"$genDir/_model", rb.cent)
    rb.books.foreach(saveBooks(s"$genDir/_pqbooks", _))
    if (crashPoint == 2) return (genN, outId)
    writeCurrentGen(indexDir, genN) // THE atomic cutover
    (genN, outId)
  }

  /** Drift maintenance for the `pq` (residual-code) layout — the
    * re-ingest-from-primary path [[retrainIndex]]'s refusal points
    * at, under the SAME generation machinery. A code index stores
    * only residual ADC codes, so a new coarse model cannot re-encode
    * them in place; what it CAN do is re-encode from the primary
    * full-precision vector store (`primary`: the same
    * (vec_id, embedding[, attrs...]) frame the ingest consumed —
    * the system of record the 21× index is a projection of).
    *
    * Mechanics: one visibility-filtered read of the serving
    * generation elects the visible vec_id set (the survivor rule —
    * tombstoned/excluded ids never resurrect), those ids join the
    * primary store (inner: an id the primary has dropped falls out of
    * the rebuilt index, which is how a primary-side delete propagates
    * at retrain), and the joined corpus retrains coarse model AND
    * product codebooks with EXACTLY the batch [[Ann.knnIvfPq]] chain
    * (quantize → seed-safe Lloyd's coarse → residuals against the
    * new cells → per-subspace seed-safe codebooks → argmin encode),
    * so a post-retrain [[queryIndexPq]] is bit-identical to the batch
    * operator at the new geometry (parity spec). The rebuilt codes
    * land in `_gen-N/` as ONE generation-encoded leaf with the
    * generation's own `_model` AND `_pqbooks` (both outrank the
    * caller's train-once artifacts — model, books, layout stamp, and
    * data cut over in ONE atomic `_current` rename, same commit point
    * and crash seams as [[retrainIndex]]).
    *
    * Scale: one scan of the code index (ids), one join against the
    * primary restricted to those ids, `iterations`-scan training, one
    * rebuild write — the O(N) any rebuild costs; trained state stays
    * driver/broadcast-scale. `attrs` columns ride from the PRIMARY
    * frame into the rebuilt leaves (filtered search keeps working
    * across the cutover).
    */
  def retrainIndexPq(spark: SparkSession, indexDir: String,
      primary: DataFrame, kCells: Int, pqK: Int = Ann.PqK,
      iterations: Int = 2, attrs: Seq[String] = Nil): Long =
    retrainIndexPqImpl(spark, indexDir, primary, kCells, pqK, iterations,
      attrs, crashPoint = 0)._1

  /** Test seam, same contract as [[retrainIndexImpl]]: crashPoint 1 =
    * stop after the rebuilt data write, 2 = stop after stamp + model +
    * books (complete but unreferenced), 0 = production (cutover).
    */
  private[graft] def retrainIndexPqImpl(spark: SparkSession,
      indexDir: String, primary: DataFrame, kCells: Int, pqK: Int,
      iterations: Int, attrs: Seq[String],
      crashPoint: Int): (Long, Long) = {
    graft.core.Configs.Pq(pqK).validated
    writeGeneration(spark, indexDir, kCells, iterations, crashPoint,
        pq = true, attrs) { (visible, _) =>
      // the visible ID SET is the election here: every copy of a vec_id
      // re-encodes to the same codes under the new artifacts, so
      // newest-wins tie-breaking among copies is moot — what matters is
      // that invisible (tombstoned / crashed) ids stay out
      val ids = visible.select("vec_id").distinct()
      val corpus = quantize(primary, attrs).join(ids, Seq("vec_id"))
        .localCheckpoint(eager = true) // read by coarse + book training
      // EXACTLY the batch knnIvfPq training chain (seed-safe seeding —
      // identical to the batch trainer whenever ids 0..k-1 are present,
      // and still full-k on an index keyed at arbitrary ids)
      val cent = Ann.kmeansCentroidsSeedSafe(
        corpus.select("vec_id", "v", "norm2"), kCells, iterations)
      require(cent.nonEmpty, "training produced no centroids " +
        "(primary store shares no ids with the index?)")
      val res = Ann.pqResiduals(corpus, cent, attrs)
        .localCheckpoint(eager = true) // 4 subspaces × training reads
      val books = trainBooks(res, pqK, iterations)
      Rebuilt(Ann.pqEncodedFromQ(res, books), cent, Some(books),
        Seq(res, corpus))
    }
  }

  /** Codified drift cadence — the retrain analog of
    * [[compactIfNeeded]]: read the index's cell-share distribution
    * (one [[indexStats]] pass over the serving generation) and
    * retrain when the hottest visible cell's corpus share exceeds
    * `maxShareBp`. Cell-share collapse IS the measured drift signal
    * on this engine (BASELINE §ANN quality: a stale model's probe
    * bound degenerates toward one giant cell — "recall 1.0" as a
    * full scan in disguise); the balanced ideal is 10000/kCells bp,
    * so a bound of a few × that is a sound default. Owner-context,
    * like every maintenance pass. Returns the new generation number
    * when a retrain ran.
    *
    * The `pq` layout retrains through [[retrainIndexPq]] when
    * `primary` is supplied (the re-encode-from-primary path — a code
    * index has no vectors to retrain from); a pq index with no
    * primary trips [[retrainIndex]]'s loud refusal rather than
    * silently skipping the drift signal.
    */
  def retrainIfNeeded(spark: SparkSession, indexDir: String,
      maxShareBp: Long, kCells: Int, iterations: Int = 2,
      primary: Option[DataFrame] = None,
      pqK: Int = Ann.PqK): Option[Long] = {
    graft.core.Configs.IndexMaintenance(maxShareBp = maxShareBp,
      kCells = kCells).validated
    graft.core.Validation.validate("index-maintenance",
      graft.core.Validation.knob("iterations", iterations, minV = 1L))
    val root = resolveRoot(indexDir)
    val excluded = excludedBatchIds(root)
    if (listLeaves(root).forall(l => excluded.contains(l._2))) return None
    val worst = indexStats(spark, indexDir)
      .agg(max(col("share_bp"))).head().getLong(0)
    if (worst > maxShareBp) {
      val isPq = readLayout(root).exists(_._1 == "pq")
      Some(primary match {
        case Some(p) if isPq =>
          retrainIndexPq(spark, indexDir, p, kCells, pqK, iterations)
        case _ => retrainIndex(spark, indexDir, kCells, iterations)
      })
    } else None
  }

  /** Reclaim non-serving generations — the grace-priced owner pass
    * that completes [[retrainIndex]]'s cutover (which deletes
    * nothing). Removes every `gen-N` dir other than the current one
    * and, once a generation pointer exists, the flat generation-0
    * remnants at the index root (its `cell=*` leaves, ledger,
    * manifest, and layout stamp). Same operational class as
    * [[vacuumIndex]]: run it only when no reader planned against the
    * old generation can still be in flight. Returns the number of
    * generation roots reclaimed.
    *
    * A crashed flat-generation compaction is SETTLED first
    * ([[recoverAt]] on the flat root — its manifest encodes a
    * rollback/roll-forward that must not be skipped by blind
    * deletion), and crashed writes of the flat root's files (their
    * [[Durable.write]] temp files, `_current`'s included) are swept in
    * the same pass. The remnant list stays an ALLOWLIST on purpose: an
    * artifact this code did not write (a user file dropped in the
    * index dir) is never deleted.
    */
  def vacuumGenerations(indexDir: String): Int =
    readCurrentGen(indexDir) match {
      case None => 0 // flat layout: nothing to reclaim
      case Some(cur) =>
        recoverAt(indexDir) // settle any crashed flat-gen compaction
        val root = java.nio.file.Paths.get(indexDir)
        var n = 0
        var flatReclaimed = false
        val s = java.nio.file.Files.list(root)
        val entries = try s.iterator().asScala.toSeq finally s.close()
        entries.foreach { p =>
          val name = p.getFileName.toString
          val oldGen = name.startsWith("_gen-") && name != s"_gen-$cur"
          val flatRemnant = name.startsWith("cell=") ||
            FlatFiles(name) || Durable.tempTarget(name)
              .exists(t => FlatFiles(t) || t == "_current")
          if (oldGen || flatRemnant) {
            deleteDir(p)
            if (oldGen) n += 1
            // the flat generation-0 counts as ONE reclaimed root no
            // matter how many cell=* dirs it spans
            else if (name.startsWith("cell=")) flatReclaimed = true
          }
        }
        if (flatReclaimed) n += 1
        n
    }

  /** The generation-0 files [[vacuumGenerations]] reclaims at the flat
    * root once a generation pointer exists.
    */
  private val FlatFiles = Set("_tombstones", "_compaction", "_layout")

  /** One monitor per index dir serializing ledger read-modify-writes
    * ([[Durable.lockFor]]). The cross-process contract is
    * single-owner anyway — and every interleaving of the owner ops is
    * idempotent by construction (adds dedupe on (cell, batch), vacuum
    * re-runs tolerate gone dirs, a resurrected entry only
    * over-excludes) — but in-JVM the monitor makes a stray concurrent
    * owner a provable no-op instead of an argued one.
    */
  private def ledgerLock(indexDir: String): Object = Durable.lockFor(indexDir)

  /** Tombstone ledger: `(stamp, cell, batch)` lines at
    * `_tombstones`, stamp = the generation counter ([[vacuumIndex]]'
    * grace unit). A listed leaf is logically deleted — hidden from
    * every reader, excluded from merges, physically present until
    * vacuumed.
    */
  private[graft] def readTombstones(
      indexDir: String): Seq[(Long, Long, Long)] =
    readLines(tombstonePath(indexDir)).map { l =>
      val Array(s, c, b) = l.split(",")
      (s.toLong, c.toLong, b.toLong)
    }

  private def writeTombstones(indexDir: String,
      entries: Seq[(Long, Long, Long)]): Unit =
    if (entries.isEmpty) {
      java.nio.file.Files.deleteIfExists(tombstonePath(indexDir)); ()
    } else Durable.write(tombstonePath(indexDir),
      entries.map { case (s, c, b) => s"$s,$c,$b" }.mkString("\n"))

  /** A manifest's lines; empty when the file is missing. */
  private def readLines(p: java.nio.file.Path): Seq[String] =
    Durable.read(p).toSeq.flatMap(_.linesIterator)

  /** Append consumed leaves under the next generation stamp.
    * Idempotent: a crashed roll-forward re-run dedupes on (cell,
    * batch), keeping the original stamp.
    */
  private def addTombstones(indexDir: String,
      consumed: Seq[(Long, Long)]): Unit =
    ledgerLock(indexDir).synchronized {
      val existing = readTombstones(indexDir)
      val have = existing.map { case (_, c, b) => (c, b) }.toSet
      val fresh = consumed.filterNot(have)
      if (fresh.nonEmpty) {
        val stamp = (existing.map(_._1) :+ 0L).max + 1
        writeTombstones(indexDir,
          existing ++ fresh.map { case (c, b) => (stamp, c, b) })
      }
    }

  /** Owner-side batch-id reuse (a FRESH checkpoint lineage restarts at
    * batch 0, which an earlier compaction may have consumed): the
    * on-disk partition id the ingest writes batch `batchId` under.
    * When the raw id is free, that IS the raw id (the common path);
    * when it is tombstoned, the new delivery lands in a FRESH
    * generation-encoded partition ([[reuseId]] — eff still decodes to
    * `batchId`, so elections treat it as the raw delivery it is)
    * instead of reclaiming the old path. The old hidden leaves stay
    * on disk — a reader whose plan-time snapshot predates the reuse
    * still finds every file it listed — and age out via
    * [[vacuumIndex]]'s grace like every other tombstoned leaf, and
    * the stale tombstones never hide the new delivery (its id is
    * fresh by construction). NOTHING on this path deletes a file:
    * this closed the last owner-side delete-under-reader window.
    *
    * The id must be STABLE across replays of the same lineage (the
    * idempotent-partition contract: a replayed batch must rewrite its
    * own leaf, not mint a sibling) but FRESH across lineages, so the
    * allocation is memoized per checkpoint lineage at
    * `<checkpointDir>/graft-reuse-map`, written atomically BEFORE the
    * leaf — a crash at any seam re-reads the same id. The map is
    * consulted first so a later [[vacuumIndex]] clearing the raw id's
    * ledger entries mid-lineage cannot flip a replay back to the raw
    * path.
    */
  private[graft] def reuseSafeBatchId(indexDir: String,
      checkpointDir: String, batchId: Long): Long =
    ledgerLock(indexDir).synchronized {
      readReuseMap(checkpointDir).get(batchId) match {
        case Some(id) => id
        case None =>
          val dead = readTombstones(indexDir).map(_._3).toSet
          if (!dead.contains(batchId)) batchId
          else {
            val taken = listLeaves(indexDir).map(_._2).toSet ++ dead
            val id = (0L until ReuseBase).iterator
              .map(r => reuseId(batchId, r))
              .find(cand => !taken.contains(cand))
              .getOrElse(throw new IllegalStateException(
                s"reuse-generation space exhausted for batch $batchId " +
                  s"at $indexDir"))
            writeReuseMap(checkpointDir,
              readReuseMap(checkpointDir) + (batchId -> id))
            id
          }
      }
    }

  /** Reuse-encoded delivery ids live in the upper half of each
    * effective slot's generation range (compaction outputs allocate
    * from the bottom, [[compactIndexImpl]] — the two allocators can
    * never collide). Within the reuse range, allocation order r maps
    * DOWN from the top of the offset range (`2·ReuseBase - 1 - r`),
    * so a LATER allocation is LESS negative and compares LARGER as an
    * id: when two successive lineage resets reuse the same raw batch,
    * the newest delivery wins both the compaction exemption
    * (`maxBy (eff, id)`) and the read-time election (`src_b desc`) at
    * equal eff — the older encoding made the stale copy win.
    */
  private[graft] val ReuseBase = EffScale / 2
  private[graft] def reuseId(rawId: Long, r: Long): Long =
    -((rawId + 2) * EffScale + 2 * ReuseBase - 1 - r)
  private[graft] def isReuseId(id: Long): Boolean =
    id < 0 && -id >= EffScale && (-id) % EffScale >= ReuseBase

  private def reuseMapPath(checkpointDir: String) =
    java.nio.file.Paths.get(checkpointDir, "graft-reuse-map")

  private[graft] def readReuseMap(checkpointDir: String): Map[Long, Long] =
    readLines(reuseMapPath(checkpointDir)).filter(_.nonEmpty).map { l =>
      val Array(a, b) = l.split(","); a.toLong -> b.toLong
    }.toMap

  private def writeReuseMap(checkpointDir: String,
      m: Map[Long, Long]): Unit =
    Durable.write(reuseMapPath(checkpointDir),
      m.toSeq.sorted.map { case (a, b) => s"$a,$b" }.mkString("\n"))

  private def tombstonePath(indexDir: String) =
    java.nio.file.Paths.get(indexDir, "_tombstones")

  /** The index family has three on-disk layouts sharing one
    * compactor and one directory convention — `full` (v/norm2
    * full-precision vectors, [[ivfIngest]]), `sq8` (cb/n2q int8 codes,
    * [[ivfIngestSq]]) and `pq` (c0..c3 residual codes,
    * [[ivfIngestPq]]) — so every index dir carries a `_layout` stamp
    * `{layout, kCells, dims, rule}` written at first ingest (rule =
    * the layout's cell-assignment rule, [[ruleFor]]). Readers and the
    * compactor REFUSE a mismatched or missing stamp with a
    * self-explanatory error instead of failing downstream on a missing
    * column; pre-stamp (legacy) dirs are never auto-stamped — the
    * operator verifies the layout and stamps once, explicitly (the
    * same contract as the near-dup geometry manifest in
    * [[StreamingCuration]]).
    */
  def readLayout(indexDir: String): Option[(String, Int, Int, String)] =
    Durable.read(layoutPath(indexDir)).flatMap { body =>
      val m = body.linesIterator.map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v }.toMap
      try Some((m("layout"), m("kcells").toInt, m("dims").toInt,
        m.getOrElse("rule", "")))
      catch {
        case _: NoSuchElementException => None
        case _: NumberFormatException => None
      }
    }

  /** Explicitly stamp an index dir's layout (the legacy-dir migration
    * path, and the write path every ingest uses on an empty dir). Restamping with the SAME triple is a no-op; a
    * different triple is refused.
    */
  def stampIndexLayout(indexDir: String, layout: String, kCells: Int,
      dims: Int): Unit = {
    require(Layouts.contains(layout),
      s"unknown index layout '$layout' (expected one of ${Layouts.mkString("|")})")
    readLayout(indexDir).foreach { case (l, k, d, r) =>
      require((l, k, d) == ((layout, kCells, dims)),
        s"index at $indexDir is already stamped layout=$l kCells=$k dims=$d; " +
          s"refusing to restamp as layout=$layout kCells=$kCells dims=$dims")
      require(r.isEmpty || r == ruleFor(layout),
        s"index at $indexDir is stamped with assignment rule '$r' but " +
          s"layout=$layout is served under rule=${ruleFor(layout)}")
      // r.isEmpty: a pre-rule stamp being upgraded — the operator's
      // explicit act of asserting the cells really follow the
      // layout's rule
    }
    Durable.write(layoutPath(indexDir),
      s"layout=$layout\nkcells=$kCells\ndims=$dims\nrule=${ruleFor(layout)}")
  }

  /** Each layout's leaf payload columns, written next to `vec_id`, the
    * ingest's `attrs` and the `cell` / `ingest_batch` partition keys.
    */
  private val Payloads = Map("full" -> Seq("v", "norm2"),
    "sq8" -> Seq("cb", "n2q"), "pq" -> Seq("c0", "c1", "c2", "c3"))
  private[graft] val Layouts = Payloads.keySet

  private def leafColumns(layout: String, attrs: Seq[String]): Seq[Column] =
    col("vec_id") +: (Payloads(layout) ++ attrs).map(col) :+ col("cell")

  /** The cell-assignment rule every current writer uses
    * ([[Ann.cellAssign]], guarded-cosine argmax) and every reader's
    * probe ranking assumes. The stamp records it so an index whose
    * partitions were assigned under a DIFFERENT rule (e.g. an L2-argmin
    * index written before the rule change) can never be served with
    * cosine-ranked probes silently — that combination degrades recall
    * with no error. Such an index must be RE-INGESTED, not stamped:
    * [[stampIndexLayout]] asserts the layout's own rule.
    */
  private[graft] val RuleCos = "cos"

  /** The `pq` layout's assignment rule: squared-L2 argmin — EXACTLY
    * the batch IVFADC's coarse quantizer ([[Ann.knnIvfPq]] assigns via
    * kmeansAssign and ranks probes by exact coarse L2), which is what
    * makes residual encoding meaningful (residuals are taken against
    * the NEAREST centroid in L2, the metric the codebooks are trained
    * under). The rule field keeps an l2-assigned code index from ever
    * being served with cosine-ranked probes, and vice versa.
    */
  private[graft] val RuleL2 = "l2"

  /** Each layout's one legitimate assignment rule — the pairing every
    * stamp write asserts and every reader/compactor checks.
    */
  private[graft] def ruleFor(layout: String): String =
    if (layout == "pq") RuleL2 else RuleCos

  private def ruleMismatchMsg(indexDir: String, rule: String) =
    s"index at $indexDir is stamped with assignment rule " +
      s"'${if (rule.isEmpty) "<missing>" else rule}' but its layout is " +
      s"served under ${Layouts.map(l => s"$l=rule:${ruleFor(l)}").toSeq.sorted
        .mkString(", ")}: if the index really was written by the matching " +
      "ingest, restamp it with StreamingAnn.stampIndexLayout (which asserts " +
      "the layout's own rule); an index whose cells were assigned under a " +
      "different rule must be re-ingested — serving it with mismatched " +
      "probe ranking would silently degrade recall"

  private def layoutPath(indexDir: String) =
    java.nio.file.Paths.get(indexDir, "_layout")

  private def legacyLayoutMsg(indexDir: String) =
    s"index at $indexDir predates layout stamps: verify which ingest " +
      "wrote it and run StreamingAnn.stampIndexLayout(indexDir, " +
      "\"full\"|\"sq8\", kCells, dims) once, explicitly — a populated " +
      "unstamped dir is never auto-stamped. Stamping asserts the cells " +
      "were assigned by the guarded-cosine rule (rule=cos); an index " +
      "written before that rule (L2-argmin cells) must be re-ingested, " +
      "not stamped"

  /** Write-side stamp-or-verify (first non-empty batch). */
  private def ensureLayout(indexDir: String, layout: String, kCells: Int,
      dims: Int): Unit =
    readLayout(indexDir) match {
      case Some((l, k, d, r)) =>
        if ((l, k, d) != ((layout, kCells, dims)))
          throw new IllegalStateException(
            s"index at $indexDir is stamped layout=$l kCells=$k dims=$d; " +
              s"this ingest writes layout=$layout kCells=$kCells dims=$dims " +
              "— refusing to mix layouts in one index dir")
        if (r != ruleFor(layout))
          // never append rows into partitions whose existing
          // assignment rule is unknown/different
          throw new IllegalStateException(ruleMismatchMsg(indexDir, r))
      case None =>
        if (listLeaves(indexDir).nonEmpty)
          throw new IllegalStateException(legacyLayoutMsg(indexDir))
        else stampIndexLayout(indexDir, layout, kCells, dims)
    }

  /** Read-side flavor check: a wrong-flavor query is refused with the
    * stamp's own description rather than a missing-column analysis
    * error three operators deep.
    */
  private def requireLayout(indexDir: String, expected: String,
      caller: String): Unit =
    readLayout(indexDir) match {
      case Some((l, _, _, r)) if l == expected && r == ruleFor(expected) => ()
      case Some((l, _, _, r)) if l == expected =>
        throw new IllegalStateException(ruleMismatchMsg(indexDir, r))
      case Some((l, k, d, _)) =>
        throw new IllegalStateException(
          s"$caller expects a '$expected' index but $indexDir is stamped " +
            s"layout=$l (kCells=$k, dims=$d); use " +
            s"${if (l == "sq8") "queryIndexSq"
              else if (l == "pq") "queryIndexPq" else "queryIndex"}")
      case None =>
        if (listLeaves(indexDir).nonEmpty)
          throw new IllegalStateException(legacyLayoutMsg(indexDir))
    }

  /** Parse the two-phase compaction manifest: (state, outId, consumed
    * (cell, batch) leaves), or None when absent — including the window
    * where a concurrent owner deletes it between our existence check
    * and the read (atomic rename means a present manifest is never
    * torn).
    */
  private[graft] def readManifest(
      indexDir: String): Option[(String, Long, Seq[(Long, Long)])] =
    Durable.read(manifestPath(indexDir)).map { body =>
      val lines = body.linesIterator.toSeq
      val consumed = lines.drop(2).map { l =>
        val Array(c, b) = l.split(",")
        (c.toLong, b.toLong)
      }
      (lines(0), lines(1).toLong, consumed)
    }

  /** Operational stats of an on-disk index (any layout): per cell —
    * leaf count (the compaction-cadence signal: ST7's one scale defect
    * is unbounded leaf accumulation), row count, and corpus share in
    * basis points (the on-disk twin of the batch cell-balance report
    * [[Ann.cellBalance]] — a hot cell degrades the probe bound of
    * every query against this index). Honors the same manifest
    * visibility rules as the query paths, so stats during/after a
    * crashed compaction describe exactly what queries see. Leaf counts
    * from directory metadata; row counts one column-pruned scan.
    */
  def indexStats(spark: SparkSession, indexDir: String): DataFrame = {
    import spark.implicits._
    val root = resolveRoot(indexDir) // serving generation
    // ONE exclusion snapshot (manifest + tombstone ledger) drives both
    // the leaf-level and the row-level exclusion: two reads could
    // straddle an owner recovery and describe two different index
    // states in one stats row
    val excluded = excludedBatchIds(root)
    val visibility =
      if (excluded.isEmpty) None
      else Some(!col("ingest_batch").isin(excluded.toSeq.sorted: _*))
    val leaves = listLeaves(root)
    val visible = leaves.filterNot { case (_, b) => excluded.contains(b) }
    val leafCounts = visible.groupBy(_._1)
      .map { case (c, ls) => (c, ls.size.toLong) }.toSeq
      .toDF("cell", "n_leaves")
    val idx0 = spark.read.parquet(root)
    val idx = visibility.fold(idx0)(idx0.filter)
    // distinct vec_ids: a replayed leaf can transiently duplicate rows
    // the compacted output holds — queries elect one copy
    // (newestPerCandidate), so the stats count what queries count
    val nTot = broadcast(idx.agg(
      countDistinct(col("vec_id")).as("n_total")))
    idx.groupBy("cell").agg(countDistinct(col("vec_id")).as("n_rows"))
      .join(broadcast(leafCounts), Seq("cell"))
      .crossJoin(nTot)
      .select(col("cell").cast("long").as("cell"), col("n_leaves"),
        col("n_rows"), expr("n_rows * 10000 div n_total").as("share_bp"))
  }

  /** Distinct (cell, ingest_batch) leaves from the partition directory
    * names — pure metadata, no file scan.
    */
  private[graft] def listLeaves(indexDir: String): Seq[(Long, Long)] = {
    def ls(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala.toSeq finally s.close()
    }
    val root = java.nio.file.Paths.get(indexDir)
    if (!java.nio.file.Files.exists(root)) return Seq.empty
    for {
      cd <- ls(root)
      cn = cd.getFileName.toString if cn.startsWith("cell=")
      bd <- ls(cd)
      bn = bd.getFileName.toString if bn.startsWith("ingest_batch=")
    } yield (cn.stripPrefix("cell=").toLong,
      bn.stripPrefix("ingest_batch=").toLong)
  }

  private def manifestPath(indexDir: String) =
    java.nio.file.Paths.get(indexDir, "_compaction")

  private def writeManifest(indexDir: String, state: String, outId: Long,
      consumed: Seq[(Long, Long)]): Unit =
    Durable.write(manifestPath(indexDir), (Seq(state, outId.toString) ++
      consumed.map { case (c, b) => s"$c,$b" }).mkString("\n"))

  private def deleteDir(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      // tolerate a concurrent recoverer deleting entries mid-walk: the
      // goal state (dir gone) is shared, so per-entry NoSuchFile is a
      // success, not a failure
      val s = try java.nio.file.Files.walk(p) catch {
        case _: java.nio.file.NoSuchFileException => return
      }
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().forEachRemaining { q =>
          try java.nio.file.Files.delete(q) catch {
            case _: java.nio.file.NoSuchFileException => ()
          }
        }
      finally s.close()
    }

  /** Top-k cosine query over the accumulated index: ranks cells for
    * each query against the frozen model DRIVER-side (the query set
    * is request-scale by definition; k·dims integer math), then scans
    * ONLY the probed cell partitions — the `isin` filter becomes a
    * parquet PartitionFilter, so the 1/kCells scan bound is enforced
    * by the storage layout. Exact cosine rerank within the probed
    * cells, same tie-break as [[Ann.knnIvfTrained]].
    *
    * NON-DESTRUCTIVE under a crashed or in-flight compaction: the
    * two-phase manifest is a visibility filter, not a recovery
    * trigger — under `intent` the (possibly mid-write) compacted
    * output is excluded and the intact consumed leaves are read;
    * under `committed` the consumed leaves are excluded and the
    * durable output is read. Either way exactly one complete copy of
    * every row is visible, and the reader never deletes anything
    * (owner-only recovery — see [[recoverIndex]]). Both exclusions
    * are `ingest_batch` predicates, so they prune at the partition
    * level like the cell filter.
    */
  def queryIndex(spark: SparkSession, indexDir: String, modelPath: String,
      queries: DataFrame, k: Int, probes: Int = 1): DataFrame =
    queryIndexImpl(spark, indexDir, modelPath, queries, k, probes, None)

  /** Filtered (attribute-constrained) index query — the on-disk form
    * of [[Ann.knnIvfTrainedFiltered]]: the predicate references the
    * attribute columns the ingest carried into the leaves
    * ([[ivfIngest]]'s `attrs`) and is applied to the probed-cell scan
    * BEFORE scoring and election — a parquet data filter alongside the
    * cell/visibility PartitionFilters, never a post-filter of the
    * finished top-k (which would silently under-return). Same model,
    * same probes, same election: the batch/on-disk parity contract
    * extends to the filtered pair (spec-pinned).
    */
  def queryIndexFiltered(spark: SparkSession, indexDir: String,
      modelPath: String, queries: DataFrame, k: Int, predicate: Column,
      probes: Int = 1): DataFrame =
    queryIndexImpl(spark, indexDir, modelPath, queries, k, probes,
      Some(predicate))

  /** Filtered index query with PROBE ESCALATION — the on-disk serving
    * form of [[graft.operators.Ann.knnIvfTrainedFilteredEscalated]]:
    * a selective predicate can leave fewer than k matching rows inside
    * the probed cells, and [[queryIndexFiltered]]'s fixed probe budget
    * then silently under-returns. This variant counts each query's
    * matching candidates at the base tier first (a cell equi-join with
    * no scoring — the cheap pass, over ONLY the base-tier cell
    * partitions), and only queries whose pool came up short re-rank at
    * FULL cell coverage, which guarantees exactly `min(k, matching
    * pool)` rows per query.
    *
    * Scale shape is the batch operator's: the per-query effective
    * probe depth is request-scale state (numQueries counts, collected
    * once — same driver-side footprint as the cell ranking this path
    * already does), satisfied queries never pay the escalated scan,
    * and BOTH passes keep the predicate composed into the probed-cell
    * scan (a parquet data filter next to the cell/visibility
    * PartitionFilters — the pass-2 `isin` widens only to the cells
    * some dry query actually needs). Result parity with the batch
    * escalated operator at the same geometry is spec-pinned, including
    * through compaction.
    */
  def queryIndexFilteredEscalated(spark: SparkSession, indexDir: String,
      modelPath: String, queries: DataFrame, k: Int, predicate: Column,
      probes: Int = 1): DataFrame =
    queryIndexImpl(spark, indexDir, modelPath, queries, k, probes,
      Some(predicate), escalate = true)

  private def queryIndexImpl(spark: SparkSession, indexDir: String,
      modelPath: String, queries: DataFrame, k: Int, probes: Int,
      predicate: Option[Column], escalate: Boolean = false): DataFrame =
    queryIndexSpine(spark, indexDir, modelPath, queries, k, probes, predicate,
        escalate, "full", "queryIndex") { (_, cent, qRows) =>
      import spark.implicits._
      val byId = qRows.map(r => r._1 -> r).toMap
      Probing(cosRanked(cent, qRows),
        _.map { case (qId, c) => (qId, c, byId(qId)._2, byId(qId)._3) }
          .toDF("q_id", "qcell", "qv", "qn2"),
        "cos", Ann.guardedCosine(col("qv"), col("v"), col("qn2"), col("norm2")))
    }

  /** One layout's part of an on-disk query: each query's cells ranked
    * to FULL depth, the probe-row frame (q_id, qcell, probe payload)
    * for the (query, cell) pairs the depth rule keeps, and the
    * candidate score — a cosine ranked descending and reported in
    * basis points, or (`desc = false`) an ADC distance ranked
    * ascending.
    */
  private case class Probing(ranked: Seq[(Long, Seq[Long])],
      probeRows: Seq[(Long, Long)] => DataFrame, score: String,
      scoreExpr: Column, desc: Boolean = true)

  /** The one probe-scan-elect sequence behind every `queryIndex*`
    * entry point, whatever the layout:
    *  - resolve the serving generation ONCE and read the layout stamp,
    *    visibility exclusions and model from that same root, so a
    *    retrain cutover mid-request can never mix generations;
    *  - quantize and collect the request-scale query set, and let the
    *    layout rank every query's cells against the frozen model
    *    driver-side (`probing`, given the resolved root, the model and
    *    the (q_id, v, norm2) query rows);
    *  - per query, keep the base tier `probes`, or with `escalate` the
    *    depth [[escalatedDepths]] decides;
    *  - scan ONLY the probed cells: the `isin` and visibility filters
    *    are parquet PartitionFilters (the IVF scan bound holds on disk),
    *    the attribute predicate a pushed data filter applied before
    *    scoring and election (copies of a vec_id are byte-identical
    *    under the index contract, so it cannot flip an election);
    *  - elect one copy per candidate ([[newestPerCandidate]]), score,
    *    and keep the top k, same tie-break as the batch operators.
    */
  private def queryIndexSpine(spark: SparkSession, indexDir: String,
      modelPath: String, queries: DataFrame, k: Int, probes: Int,
      predicate: Option[Column], escalate: Boolean, layout: String,
      caller: String)(
      probing: (String, Seq[(Long, Seq[Long], Long)],
        Seq[(Long, Seq[Long], Long)]) => Probing): DataFrame = {
    val root = resolveRoot(indexDir)
    requireLayout(root, layout, caller)
    val visibility = visibilityFilter(root)
    val model = modelFor(root, modelPath)
    val cent = loadModel(model).getOrElse(
      throw new IllegalStateException(s"no trained model at $model"))
    val qRows = quantize(queries).collect().toSeq.map(r =>
      (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    val p = probing(root, cent, qRows)
    val depth: Map[Long, Int] =
      if (!escalate) p.ranked.map(r => r._1 -> probes).toMap
      else escalatedDepths(spark, root, visibility, predicate, p.ranked, k,
        probes)
    val pairs = p.ranked.flatMap { case (qId, cells) =>
      cells.take(depth(qId)).map(qId -> _) }
    val idx = probedScan(spark, root, pairs.map(_._2).distinct, visibility,
      predicate)
    Ann.topKNeighbors(newestPerCandidate(idx.join(broadcast(p.probeRows(pairs)),
        col("cell") === col("qcell") && col("vec_id") =!= col("q_id")))
      .withColumn(p.score, p.scoreExpr), k, p.score, p.desc)
  }

  /** The scan of the probed cells of a resolved root: the `cell isin`
    * and visibility filters prune partitions, the attribute predicate
    * is a pushed data filter.
    */
  private def probedScan(spark: SparkSession, root: String, cells: Seq[Long],
      visibility: Option[Column], predicate: Option[Column]): DataFrame = {
    val idx0 = spark.read.parquet(root).filter(col("cell").isin(cells: _*))
    val idx1 = visibility.fold(idx0)(idx0.filter)
    predicate.fold(idx1)(idx1.filter)
  }
}
