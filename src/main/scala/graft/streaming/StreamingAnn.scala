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
  *    [[Ann.knnIvfTrained]]/[[Ann.knnIvfSq]], over one broadcast
  *    centroid matrix) — no join, no corpus shuffle, cost linear in
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
    * batch operator's plain count — a vec_id can sit in several leaves
    * at once (a replay next to the rebuilt leaf that already holds it,
    * byte-identical under the index contract), and the scored pass
    * elects one copy, so the pool the election will see is the
    * DISTINCT candidate set. The scan is bounded by the base-tier cell
    * partitions (cell `isin` PartitionFilter, predicate as a pushed
    * data filter); the result is request-scale (≤ numQueries rows) and
    * collects to the driver next to the cell ranking this path already
    * holds.
    */
  private def escalatedDepths(spark: SparkSession, root: String,
      predicate: Option[Column], qcells: Seq[(Long, Seq[Long])], k: Int,
      probes: Int): Map[Long, Int] = {
    import spark.implicits._
    val basePairs = qcells.flatMap { case (qId, cells) =>
      cells.take(probes).map(c => (qId, c)) }
    val baseDf = basePairs.toDF("q_id", "qcell")
    val near = probedScan(spark, root, basePairs.map(_._2).distinct, predicate)
      .join(broadcast(baseDf),
        col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .groupBy("q_id").agg(countDistinct(col("vec_id")).as("n_near"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    qcells.map { case (qId, cells) =>
      qId -> (if (near.getOrElse(qId, 0L) >= k) probes else cells.size)
    }.toMap
  }

  /** A leaf's EFFECTIVE batch, the key of every newest-wins election: a
    * delivery leaf's id is its raw batch id; a rebuilt leaf (one
    * [[compactIndex]] or [[retrainIndex]] writes into a new generation)
    * is `-(e + 2)` for `e` the max effective batch of the leaves it
    * consumed ([[rebuiltId]]), so later deliveries of the lineage keep
    * winning elections and a replay of a consumed batch ties into the
    * raw-beats-rebuilt arm. A rebuilt id never collides with another
    * leaf: each generation starts with its rebuilt leaves alone (plus
    * the newest delivery a compaction keeps), and deliveries are ≥ 0.
    */
  private[graft] def effOf(b: Long): Long = if (b >= 0) b else -b - 2
  private def effExpr(c: Column): Column =
    when(c >= 0, c).otherwise(lit(0L) - c - 2)
  private def rebuiltId(consumed: Seq[Long]): Long =
    -(consumed.map(effOf).max + 2)

  /** Newest-wins election: one copy per `keys` group — the max
    * effective batch, raw beating rebuilt on a tie (the raw id is the
    * larger) — with the `ingest_batch` bookkeeping dropped. Per
    * `vec_id` it is the survivor rule of [[compactIndex]] and the
    * retrains; per (`q_id`, `vec_id`) the read-time election of
    * [[queryIndexSpine]] over the joined candidate rows
    * (request-scale: queries × probed-cell rows, never the corpus-side
    * scan). A vec_id can sit in several leaves at once — a replay (or
    * a fresh-lineage re-ingest) re-materializes a leaf whose rows a
    * rebuilt leaf already holds — and without the election a query
    * would return the same neighbor twice.
    *
    * Ordering caveat: "newest" is batch-id order, which is monotonic
    * only WITHIN a checkpoint lineage. The index contract covers
    * byte-identical re-deliveries (deterministic assignment under the
    * frozen model), where any elected copy is correct; re-ingesting a
    * vec_id with CHANGED values from a fresh lineage (small batch ids)
    * is outside the contract — its copies lose the election to a
    * rebuilt leaf with a larger effective id. An updatable store needs
    * an explicit version column, not delivery order.
    */
  private def newest(df: DataFrame, keys: String*): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("eff").desc, col("src_b").desc)
    df.withColumn("src_b", col("ingest_batch").cast("long"))
      .withColumn("eff", effExpr(col("src_b")))
      .withColumn("copy_rn", row_number().over(w))
      .filter(col("copy_rn") === 1)
      .drop("src_b", "eff", "copy_rn", "ingest_batch")
  }

  /** Start the index ingest: `emb` is a streaming frame with at least
    * (vec_id: long, embedding: array<float>). The first non-empty batch
    * trains and persists the model at `modelPath` (skipped if one
    * already exists — a pre-trained model is honored) and starts
    * generation 0 of the index at `indexDir` with it; every batch
    * assigns against the serving generation's frozen model and appends
    * to its cell-partitioned leaves.
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
    * and [[ivfIngestPq]]; only `encode` (serving root, quantized batch
    * and its frozen model → rows with `cell` and the layout's payload
    * columns) and `books` (the codebooks a new index starts with, pq
    * only) differ. Per batch:
    *  - skip an EMPTY batch entirely — a zero-row training set would
    *    durably persist a degenerate model that poisons every later
    *    batch, and there are no partitions to own;
    *  - resolve the serving generation, so a [[compactIndex]] or
    *    [[retrainIndex]] cutover between batches flips the stream to the
    *    new generation (and its model) with no restart. A dir with no
    *    `_current` gets generation 0: the model (and books) are
    *    train-or-loaded from the caller's artifacts and committed into
    *    `gen-0` ([[commitGeneration]]) before any leaf is written;
    *  - refuse a batch whose layout or vector length differs from the
    *    generation's stamp;
    *  - overwrite the batch's own `(cell, ingest_batch)` partitions
    *    under the raw batch id (a replay rewrites its own leaf; a leaf
    *    a cutover already folded into a rebuilt leaf lives on only in
    *    the old generation, which this write never touches).
    * `attrs` ride the leaves as plain data columns for filtered search;
    * training stays on the bare (vec_id, v, norm2) projection.
    */
  private def ingestSpine(emb: DataFrame, modelPath: String, indexDir: String,
      checkpointDir: String, kCells: Int, iterations: Int, attrs: Seq[String],
      layout: String, books: (DataFrame, Seq[(Long, Seq[Long], Long)]) =>
        Option[Seq[Seq[(Long, Seq[Long], Long)]]] = (_, _) => None)(
      encode: (String, DataFrame, Seq[(Long, Seq[Long], Long)]) => DataFrame
  ): StreamingQuery =
    emb.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val qb = quantize(batch, attrs)
        qb.select(size(col("v"))).head(1).foreach { first =>
          val root = genDir(indexDir, readCurrentGen(indexDir).getOrElse {
            val cent = trainOrLoad(modelPath, qb.select("vec_id", "v", "norm2"),
              kCells, iterations)
            deleteDir(java.nio.file.Paths.get(genDir(indexDir, 0))) // a crashed start
            commitGeneration(indexDir, 0, layout, cent, books(qb, cent))
            0L
          })
          ensureLayout(root, layout, first.getInt(0))
          encode(root, qb, modelOf(root)).select(leafColumns(layout, attrs): _*)
            .withColumn("ingest_batch", lit(batchId))
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
    * per-vector scales cancel. Never destructive.
    */
  def queryIndexSq(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, probes: Int = 1): DataFrame =
    queryIndexSqImpl(spark, indexDir, queries, k, probes, None)

  /** Filtered SQ8 index query — [[queryIndexFiltered]]'s discipline
    * (predicate into the probed-cell scan, never a post-filter) over
    * the int8-coded layout.
    */
  def queryIndexSqFiltered(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, predicate: Column,
      probes: Int = 1): DataFrame =
    queryIndexSqImpl(spark, indexDir, queries, k, probes, Some(predicate))

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
      queries: DataFrame, k: Int, predicate: Column,
      probes: Int = 1): DataFrame =
    queryIndexSqImpl(spark, indexDir, queries, k, probes, Some(predicate),
      escalate = true)

  private def queryIndexSqImpl(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, probes: Int,
      predicate: Option[Column], escalate: Boolean = false): DataFrame =
    queryIndexSpine(spark, indexDir, queries, k, probes, predicate,
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
  // generation machinery; this layout composes them:
  // train-once coarse model AND train-once product codebooks (both
  // generation artifacts), L2 assignment/probe rule (the batch
  // IVFADC's own), per-(query, cell) ADC tables built
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

  /** ST9 ingest — the streaming form of the batch IVFADC encode
    * ([[Ann.knnIvfPq]]'s corpus side): the first non-empty batch
    * trains the coarse model (persisted at `modelPath`) AND the
    * product codebooks over that batch's COARSE RESIDUALS (persisted
    * at `booksPath`; either is loaded instead when it already exists),
    * and generation 0 starts with both; every batch then assigns cells
    * by the frozen model's squared-L2 argmin ([[Ann.kmeansAssign]] —
    * the batch IVFADC rule: residuals are taken against the nearest
    * centroid in the metric the codebooks are trained under), encodes
    * its residuals under the generation's codebooks
    * ([[Ann.pqEncodedFromQ]] — a zero-shuffle codegen projection), and
    * appends ONLY the four code columns to the cell-partitioned index.
    * Same idempotent-partition contract as [[ivfIngest]];
    * [[compactIndex]]/[[vacuumGenerations]] serve this layout unchanged
    * (schema-agnostic, and a compacted generation carries its source's
    * `_pqbooks`). [[retrainIndex]] REFUSES it by design —
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
        attrs, "pq", (qb, cent) => Some(loadBooks(booksPath).getOrElse {
          // residuals materialized once for training (read 4 subspaces ×
          // (1 + iterations) times); trained once, shipped thereafter
          val res = Ann.pqResiduals(qb, cent).localCheckpoint(eager = true)
          val b = trainBooks(res, pqK, iterations)
          saveBooks(booksPath, b)
          res.unpersist()
          b
        })) { (root, qb, cent) =>
      Ann.pqEncodedFromQ(Ann.pqResiduals(qb, cent, attrs), booksOf(root))
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
    * lookups per candidate, the newest-wins election is the shared
    * index machinery, and the result is
    * bit-identical to [[Ann.knnIvfPq]] at the same geometry
    * (parity spec). Output: (q_id, rnk, neighbor_id, est_d).
    */
  def queryIndexPq(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, probes: Int = 2): DataFrame =
    queryIndexPqImpl(spark, indexDir, queries, k, probes, None)

  /** Filtered (attribute-constrained) ADC query — the on-disk form of
    * [[Ann.knnIvfPqFiltered]]: the predicate references the attribute
    * columns the ingest carried into the code leaves and applies to
    * the probed-cell scan BEFORE election and ADC ranking (a parquet
    * data filter alongside the cell PartitionFilter),
    * never a post-filter. Encoding is deterministic per row under the
    * frozen artifacts, so filter∘encode ≡ encode∘filter and parity
    * with the batch filtered operator is exact (spec-pinned).
    */
  def queryIndexPqFiltered(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, predicate: Column,
      probes: Int = 2): DataFrame =
    queryIndexPqImpl(spark, indexDir, queries, k, probes, Some(predicate))

  /** Probe-escalated filtered ADC query — the on-disk form of
    * [[Ann.knnIvfPqFilteredEscalated]], completing the escalation
    * discipline across all THREE on-disk layouts: the shared
    * layout-agnostic count pass (base-tier cells only, never the code
    * columns) decides each query's effective depth; dry queries
    * re-rank at full cell coverage, guaranteeing min(k, matching
    * pool) rows; satisfied queries return the fixed-probe sets.
    */
  def queryIndexPqFilteredEscalated(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, predicate: Column,
      probes: Int = 2): DataFrame =
    queryIndexPqImpl(spark, indexDir, queries, k, probes, Some(predicate),
      escalate = true)

  private def queryIndexPqImpl(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, probes: Int, predicate: Option[Column],
      escalate: Boolean = false): DataFrame =
    queryIndexSpine(spark, indexDir, queries, k, probes, predicate,
        escalate, "pq", "queryIndexPq") { (root, cent, qRows) =>
      import spark.implicits._
      val books = booksOf(root)
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
      queries: DataFrame, vectors: DataFrame, k: Int, refine: Int = 10,
      probes: Int = 2): DataFrame = {
    graft.core.Configs.Pq(Ann.PqK, refine).validated
    val short = queryIndexPq(spark, indexDir, queries, k * refine, probes)
      .select("q_id", "neighbor_id")
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
    * defect of the streaming index. This rebuilds the serving
    * generation as generation N+1 under the SAME model: every AGED leaf
    * (everything except the newest delivery, which may still be the
    * replay target of an in-flight epoch) merges into ONE rebuilt leaf
    * per cell, and the newest delivery's leaves are copied as they
    * are — the [[graft.sources.FsSegmentStore.compactLeveled]]
    * single-read/single-write discipline, previous rebuilt leaves
    * re-consumed (leveled re-compaction), so steady-state leaves per
    * cell = 1 rebuilt + the uncompacted tail.
    *
    * Survivor semantics: if a vec_id appears in several aged leaves (a
    * fresh-checkpoint replay lineage can re-deliver earlier data as its
    * own batch 0), the merge keeps the NEWEST copy ([[newest]]: max
    * effective batch, raw beating rebuilt on a tie); every row keeps
    * its `cell`. The rebuilt leaf's id is [[rebuiltId]] of the aged
    * ids. Deterministic, never an arbitrary dropDuplicates pick.
    *
    * Crash safety and readers are [[retrainIndex]]'s: the generation is
    * invisible until the one atomic `_current` rename, a crashed build
    * is deleted and rebuilt by the next cutover, and nothing is deleted
    * under a reader — one planned before the cutover keeps every file
    * it listed until [[vacuumGenerations]]. The new generation carries
    * the serving generation's layout, `_model` and `_pqbooks`.
    *
    * Owner-context, like every maintenance pass here: one compaction or
    * retrain at a time, run between ingest batches.
    *
    * Returns the rebuilt leaf's ingest_batch id, or None (no-op) when
    * fewer than `minBatches` batch ids besides the newest delivery
    * exist, or none of them is a delivery.
    */
  def compactIndex(spark: SparkSession, indexDir: String,
      minBatches: Int = 4): Option[Long] =
    compactIndexImpl(spark, indexDir, minBatches, crashPoint = 0)

  /** Test seam: crashPoint 1 = stop after the generation's data write,
    * 2 = stop after its stamp and artifacts (complete but unflipped) —
    * [[writeGeneration]]'s seams. Production path is crashPoint = 0.
    */
  private[graft] def compactIndexImpl(spark: SparkSession, indexDir: String,
      minBatches: Int, crashPoint: Int): Option[Long] =
    writeGeneration(spark, indexDir, crashPoint, _ => None) { (idx, _, ids) =>
      ids.filter(_ >= 0).maxOption.flatMap { tail =>
        val aged = ids.filter(_ != tail)
        val isTail = col("ingest_batch") === tail
        if (aged.size < minBatches || !aged.exists(_ >= 0)) None
        else Some(Rebuilt(newest(idx.filter(!isTail), "vec_id"),
          rebuiltId(aged), kept = Some(idx.filter(isTail))))
      }
    }.map(_._2)

  /** Codified maintenance cadence: read the (metadata-only) leaf counts
    * of the serving generation and compact when any cell's count
    * exceeds `maxLeavesPerCell`, then reclaim generations more than
    * `vacuumGrace` below the serving one — [[indexStats]]' compaction
    * signal turned into the trigger, so the ST7 leaf bound is enforced
    * mechanically instead of left to the operator. Owner-context, like
    * every maintenance pass here (run it between ingest batches / query
    * waves). Returns the rebuilt leaf id when a compaction ran.
    */
  def compactIfNeeded(spark: SparkSession, indexDir: String,
      maxLeavesPerCell: Int, minBatches: Int = 2,
      vacuumGrace: Int = 1): Option[Long] = {
    graft.core.Configs.IndexMaintenance(maxLeavesPerCell = maxLeavesPerCell,
      vacuumGrace = vacuumGrace, minBatches = minBatches).validated
    val worst = servingLeaves(indexDir).groupBy(_._1).valuesIterator
      .map(_.size).maxOption.getOrElse(0)
    val out = if (worst > maxLeavesPerCell)
      compactIndex(spark, indexDir, minBatches) else None
    vacuumGenerations(indexDir, vacuumGrace)
    out
  }

  // ---- generations: the one swap protocol of the index directory ---
  //
  // Every generation N is a complete, self-contained index at
  // `<indexDir>/gen-N/`: its leaves, its `_layout` stamp, its frozen
  // `_model` and, for `pq`, its `_pqbooks`. `<indexDir>/_current` names
  // the serving generation; a dir without it holds no index. The first
  // non-empty ingest batch writes `gen-0` (model and books train-or-load
  // from the caller's artifacts); every maintenance pass that rewrites
  // leaves writes generation N+1 and swaps it in: [[compactIndex]]
  // (same model, aged leaves merged) and the drift path. The
  // train-once frozen model is the right default (cell assignment
  // never drifts, no global rebuilds), but a long-lived incremental
  // store must survive CORPUS drift: as data leaves the trained
  // distribution, cell balance degrades and recall at a fixed probe
  // budget decays (the corollary of the measured data-dependence of
  // the recall ladder). [[retrainIndex]] is the owner maintenance pass
  // for that: train a NEW model on the serving corpus, rebuild the
  // index under it cell-by-cell, and cut over atomically.
  //
  // Every entry point resolves through the pointer once and reads data,
  // stamp and model from that one generation, so ingest streams and
  // queries flip at their next batch/request with no restart, and the
  // model+layout+data cutover is ONE atomic rename (`_current`): there
  // is no window where a new model is served over old cells or vice
  // versa.
  //
  // Nothing is deleted at cutover: the old generation stays on disk
  // (readers planned against it keep every file they listed) until
  // the owner reclaims it with [[vacuumGenerations]].

  private def genDir(indexDir: String, n: Long): String = s"$indexDir/gen-$n"

  /** The serving generation's root, `<indexDir>/gen-N` per `_current`;
    * a dir with no `_current` holds no index and is refused.
    */
  private[graft] def resolveRoot(indexDir: String): String =
    readCurrentGen(indexDir).map(genDir(indexDir, _)).getOrElse(
      throw new IllegalStateException(
        s"no index at $indexDir: it has no _current generation"))

  /** The serving generation's (cell, ingest_batch) leaves; none when the
    * dir holds no index yet.
    */
  private def servingLeaves(indexDir: String): Seq[(Long, Long)] =
    readCurrentGen(indexDir).toSeq.flatMap(n => listLeaves(genDir(indexDir, n)))

  /** A generation's own frozen model. */
  private def modelOf(root: String): Seq[(Long, Seq[Long], Long)] =
    loadModel(s"$root/_model").getOrElse(
      throw new IllegalStateException(s"no trained model in $root"))

  /** A `pq` generation's own product codebooks. */
  private def booksOf(root: String): Seq[Seq[(Long, Seq[Long], Long)]] =
    loadBooks(s"$root/_pqbooks").getOrElse(
      throw new IllegalStateException(s"no trained codebooks in $root"))

  private[graft] def readCurrentGen(indexDir: String): Option[Long] =
    Durable.read(java.nio.file.Paths.get(indexDir, "_current")).map(_.trim)
      .filter(_.startsWith("gen-")).flatMap(_.stripPrefix("gen-").toLongOption)

  private def writeCurrentGen(indexDir: String, n: Long): Unit =
    Durable.write(java.nio.file.Paths.get(indexDir, "_current"), s"gen-$n")

  /** Write generation `n`'s artifacts — `_model`, `_pqbooks` when given,
    * and the `_layout` stamp (the layout plus the model's cell count and
    * dims) — then, unless the crashPoint 2 test seam stops here, THE
    * atomic `_current` cutover to it. The one commit of [[ingestSpine]]
    * (generation 0) and [[writeGeneration]] (every later one).
    */
  private[graft] def commitGeneration(indexDir: String, n: Long,
      layout: String, cent: Seq[(Long, Seq[Long], Long)],
      books: Option[Seq[Seq[(Long, Seq[Long], Long)]]],
      crashPoint: Int = 0): Unit = {
    val root = genDir(indexDir, n)
    saveModel(s"$root/_model", cent)
    books.foreach(saveBooks(s"$root/_pqbooks", _))
    Durable.write(layoutPath(root),
      s"layout=$layout\nkcells=${cent.size}\ndims=${cent.head._2.size}")
    if (crashPoint != 2) writeCurrentGen(indexDir, n)
  }

  /** Retrain the coarse quantizer on the serving corpus and rebuild the
    * index under the new model as generation N+1 — returning the new
    * generation number. Owner-context (run between batches, like
    * compaction); readers and a running ingest flip at their next
    * request/batch through the `_current` pointer.
    *
    * Mechanics: one read of the serving generation elects the newest
    * copy per vec_id (the compactor's survivor rule over every leaf),
    * the elected corpus trains the new model (deterministic Lloyd's —
    * the engine's bit-reproducible loop, so a re-run converges to the
    * same generation), every row is re-assigned under the new model by
    * THE shared serving rule ([[Ann.cellAssign]]), and the rebuilt
    * leaves land in ONE batch per cell ([[rebuiltId]] of every consumed
    * leaf, so later deliveries of the continuing lineage keep winning
    * elections). The `sq8` layout retrains in CODE space (centroids
    * over the widened int8 codes — cosine's per-vector scale
    * invariance makes code-space directions rank like milli-space
    * ones, the same argument as its query scoring; int8 noise is
    * measured sub-margin on this corpus).
    *
    * Crash-safe: the new generation is invisible until the final
    * atomic `_current` rename (the ONLY commit point — model, layout
    * stamp, and data all live inside the generation dir); a crashed
    * build leaves an unreferenced dir that the next cutover deletes
    * and rebuilds. Nothing is ever deleted under a reader —
    * [[vacuumGenerations]] is the explicit, grace-priced reclaim.
    *
    * Scale: cost is `iterations + 2` scans of the serving corpus
    * (election, training iterations, rebuild write) — the same O(N)
    * a compaction-style rebuild costs anywhere; run it on the drift
    * cadence (weeks), not the compaction cadence (batches). Trained
    * state stays driver/broadcast-scale.
    */
  def retrainIndex(spark: SparkSession, indexDir: String, kCells: Int,
      iterations: Int = 2): Long =
    retrainIndexImpl(spark, indexDir, kCells, iterations, crashPoint = 0)._1

  /** Test seam: crashPoint 1 = stop after the rebuilt data write
    * (before the model/stamp), 2 = stop after model+stamp (before the
    * `_current` flip — the generation is complete but unreferenced).
    * Production path is crashPoint = 0. Returns (generation number,
    * rebuilt leaf id).
    */
  private[graft] def retrainIndexImpl(spark: SparkSession, indexDir: String,
      kCells: Int, iterations: Int, crashPoint: Int): (Long, Long) = {
    retrainKnobs(kCells, iterations)
    // a pq index stores only residual ADC codes taken against the OLD
    // centroids: a new model cannot re-encode them without the primary
    // full-precision vectors, which the layout does not carry
    writeGeneration(spark, indexDir, crashPoint, l => Option.when(l == "pq")(
      "a 'pq' (residual-code) layout: retraining needs the primary " +
        "full-precision vectors, which a code index does not store — use " +
        "retrainIndexPq to re-ingest from the primary store under a new " +
        "model instead of retraining in place")) { (idx, layout, ids) =>
      val elected = newest(idx, "vec_id")
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
      Some(Rebuilt(Ann.cellAssign(trainIn, cent)
        .select(leafColumns(layout, Nil): _*), rebuiltId(ids), Some(cent)))
    }.getOrElse(throw new IllegalStateException(s"nothing to retrain at $indexDir"))
  }

  private def retrainKnobs(kCells: Int, iterations: Int): Unit =
    graft.core.Validation.validate("index-maintenance",
      graft.core.Validation.knob("kCells", kCells, minV = 1L) ++
        graft.core.Validation.knob("iterations", iterations, minV = 1L))

  /** What a rebuild hands [[writeGeneration]]: the rebuilt rows (`cell`
    * + the layout's payload, written as ONE leaf per cell under `id`),
    * leaves `kept` as they are (with their own `ingest_batch`), the new
    * coarse model and codebooks if the rebuild trained any (None carries
    * the serving generation's), and cached frames to release once the
    * rows are written.
    */
  private case class Rebuilt(rows: DataFrame, id: Long,
      cent: Option[Seq[(Long, Seq[Long], Long)]] = None,
      books: Option[Seq[Seq[(Long, Seq[Long], Long)]]] = None,
      kept: Option[DataFrame] = None,
      cached: Seq[DataFrame] = Nil)

  /** The one generation writer behind [[compactIndex]], [[retrainIndex]]
    * and [[retrainIndexPq]]: resolve the serving generation N once,
    * refuse the caller's `refusal` of its layout, then `rebuild` (given
    * the serving index, its layout and its leaf ids; None = nothing to
    * do). Generation N+1 at `gen-N+1`: the rebuilt rows plus the kept
    * leaves, then [[commitGeneration]] with the rebuild's new model and
    * codebooks or generation N's. crashPoint 1 stops after the data
    * write, 2 after the artifacts (complete but unreferenced); a crashed
    * prior attempt's dir is deleted and rebuilt. A dir with no index or
    * no leaves is None before any check. Returns (generation number,
    * rebuilt id).
    */
  private def writeGeneration(spark: SparkSession, indexDir: String,
      crashPoint: Int, refusal: String => Option[String])(
      rebuild: (DataFrame, String, Seq[Long]) => Option[Rebuilt]
  ): Option[(Long, Long)] = {
    val ids = servingLeaves(indexDir).map(_._2).distinct
    if (ids.isEmpty) return None
    val cur = resolveRoot(indexDir)
    val layout = stampOf(cur)._1
    refusal(layout).foreach(m => throw new IllegalStateException(s"index at $cur is $m"))
    rebuild(spark.read.parquet(cur), layout, ids).map { rb =>
      val next = readCurrentGen(indexDir).get + 1
      val root = genDir(indexDir, next)
      deleteDir(java.nio.file.Paths.get(root)) // a crashed prior attempt
      val leaf = rb.rows.withColumn("ingest_batch", lit(rb.id))
      rb.kept.fold(leaf)(leaf.unionByName(_)).write.mode("overwrite")
        .partitionBy("cell", "ingest_batch").parquet(root)
      rb.cached.foreach(_.unpersist())
      if (crashPoint != 1)
        commitGeneration(indexDir, next, layout, rb.cent.getOrElse(modelOf(cur)),
          rb.books.orElse(loadBooks(s"$cur/_pqbooks")), crashPoint)
      (next, rb.id)
    }
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
    * Mechanics: one read of the serving generation gives its vec_id
    * set, those ids join the primary store (inner: an id the primary
    * has dropped falls out of the rebuilt index, which is how a
    * primary-side delete propagates at retrain), and the joined corpus
    * retrains coarse model AND product codebooks with EXACTLY the batch
    * [[Ann.knnIvfPq]] chain (quantize → seed-safe Lloyd's coarse →
    * residuals against the new cells → per-subspace seed-safe codebooks
    * → argmin encode), so a post-retrain [[queryIndexPq]] is
    * bit-identical to the batch operator at the new geometry (parity
    * spec). The rebuilt codes land in `gen-N/` as ONE rebuilt leaf per
    * cell next to the generation's new `_model` AND `_pqbooks` — model,
    * books, layout stamp, and data cut over in ONE atomic `_current`
    * rename, same commit point and crash seams as [[retrainIndex]].
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
    retrainKnobs(kCells, iterations)
    writeGeneration(spark, indexDir, crashPoint, l => Option.when(l != "pq")(
      s"a '$l' layout: retrainIndexPq re-encodes residual-code ('pq') " +
        "indexes from the primary store — use retrainIndex for " +
        "self-contained layouts")) { (idx, _, ids) =>
      // the ID SET is the election here: every copy of a vec_id
      // re-encodes to the same codes under the new artifacts, so
      // newest-wins tie-breaking among copies is moot
      val corpus = quantize(primary, attrs)
        .join(idx.select("vec_id").distinct(), Seq("vec_id"))
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
      Some(Rebuilt(Ann.pqEncodedFromQ(res, books)
        .select(leafColumns("pq", attrs): _*), rebuiltId(ids), Some(cent),
        Some(books), cached = Seq(res, corpus)))
    }.getOrElse(throw new IllegalStateException(s"nothing to retrain at $indexDir"))
  }

  /** Codified drift cadence — the retrain analog of
    * [[compactIfNeeded]]: read the index's cell-share distribution
    * (one [[indexStats]] pass over the serving generation) and
    * retrain when the hottest cell's corpus share exceeds
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
    if (servingLeaves(indexDir).isEmpty) return None
    val worst = indexStats(spark, indexDir)
      .agg(max(col("share_bp"))).head().getLong(0)
    if (worst > maxShareBp) {
      val isPq = stampOf(resolveRoot(indexDir))._1 == "pq"
      Some(primary match {
        case Some(p) if isPq =>
          retrainIndexPq(spark, indexDir, p, kCells, pqK, iterations)
        case _ => retrainIndex(spark, indexDir, kCells, iterations)
      })
    } else None
  }

  /** Reclaim generations — the grace-priced owner pass that completes
    * every cutover (which deletes nothing). Keeps the serving
    * generation and the `grace` generations just below it; removes
    * every older `gen-N` dir, every unflipped build above the serving
    * one (a crashed cutover; with no `_current` every `gen-N` is one)
    * and crashed [[Durable.write]] temp files of `_current`. Run it
    * only when no reader planned against a reclaimed generation can
    * still be in flight. Returns the number of generations reclaimed.
    * Nothing else in the dir is touched: a file this code did not
    * write (a user file dropped in the index dir) is never deleted.
    */
  def vacuumGenerations(indexDir: String, grace: Int = 0): Int = {
    graft.core.Validation.validate("index-maintenance",
      graft.core.Validation.knob("vacuumGrace", grace, minV = 0L,
        requiredNonZero = false))
    val root = java.nio.file.Paths.get(indexDir)
    if (!java.nio.file.Files.isDirectory(root)) return 0
    val cur = readCurrentGen(indexDir).getOrElse(-1L)
    val s = java.nio.file.Files.list(root)
    val entries = try s.iterator().asScala.toSeq finally s.close()
    val gens = entries.filter { p =>
      val name = p.getFileName.toString
      name.startsWith("gen-") &&
        name.stripPrefix("gen-").toLongOption.exists(g => g > cur || g < cur - grace)
    }
    (gens ++ entries.filter(p =>
      Durable.tempTarget(p.getFileName.toString).contains("_current"))
    ).foreach(deleteDir)
    gens.size
  }

  /** The index family has three on-disk layouts sharing one
    * compactor and one directory convention — `full` (v/norm2
    * full-precision vectors, [[ivfIngest]]), `sq8` (cb/n2q int8 codes,
    * [[ivfIngestSq]]) and `pq` (c0..c3 residual codes,
    * [[ivfIngestPq]]) — so every generation carries a `_layout` stamp
    * `(layout, kCells, dims)` next to its model. Readers and the
    * ingest REFUSE a mismatched stamp with a self-explanatory error
    * instead of failing downstream on a missing column. `root` is a
    * generation root (`<indexDir>/gen-N`); None when it has no stamp.
    */
  def readLayout(root: String): Option[(String, Int, Int)] =
    Durable.read(layoutPath(root)).flatMap { body =>
      val m = body.linesIterator.map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v }.toMap
      try Some((m("layout"), m("kcells").toInt, m("dims").toInt))
      catch {
        case _: NoSuchElementException => None
        case _: NumberFormatException => None
      }
    }

  private def stampOf(root: String): (String, Int, Int) =
    readLayout(root).getOrElse(
      throw new IllegalStateException(s"generation $root has no layout stamp"))

  /** Each layout's leaf payload columns, written next to `vec_id`, the
    * ingest's `attrs` and the `cell` / `ingest_batch` partition keys.
    */
  private val Payloads = Map("full" -> Seq("v", "norm2"),
    "sq8" -> Seq("cb", "n2q"), "pq" -> Seq("c0", "c1", "c2", "c3"))

  private def leafColumns(layout: String, attrs: Seq[String]): Seq[Column] =
    col("vec_id") +: (Payloads(layout) ++ attrs).map(col) :+ col("cell")

  private def layoutPath(root: String) =
    java.nio.file.Paths.get(root, "_layout")

  /** Write-side check: an ingest never appends another layout's rows,
    * or vectors of another length, to a generation.
    */
  private def ensureLayout(root: String, layout: String, dims: Int): Unit = {
    val (l, k, d) = stampOf(root)
    if ((l, d) != ((layout, dims)))
      throw new IllegalStateException(
        s"index at $root is stamped layout=$l kCells=$k dims=$d; " +
          s"this ingest writes layout=$layout dims=$dims " +
          "— refusing to mix layouts or geometries in one index dir")
  }

  /** Read-side flavor check: a wrong-flavor query is refused with the
    * stamp's own description rather than a missing-column analysis
    * error three operators deep.
    */
  private def requireLayout(root: String, expected: String,
      caller: String): Unit = {
    val (l, k, d) = stampOf(root)
    if (l != expected)
      throw new IllegalStateException(
        s"$caller expects a '$expected' index but $root is stamped " +
          s"layout=$l (kCells=$k, dims=$d); use " +
          s"${if (l == "sq8") "queryIndexSq"
            else if (l == "pq") "queryIndexPq" else "queryIndex"}")
  }

  /** Operational stats of an on-disk index (any layout): per cell —
    * leaf count (the compaction-cadence signal: ST7's one scale defect
    * is unbounded leaf accumulation), row count, and corpus share in
    * basis points (the on-disk twin of the batch cell-balance report
    * [[Ann.cellBalance]] — a hot cell degrades the probe bound of
    * every query against this index), over the serving generation the
    * query paths read. Leaf counts from directory metadata; row counts
    * one column-pruned scan.
    */
  def indexStats(spark: SparkSession, indexDir: String): DataFrame = {
    import spark.implicits._
    val root = resolveRoot(indexDir) // serving generation
    val leafCounts = listLeaves(root).groupBy(_._1)
      .map { case (c, ls) => (c, ls.size.toLong) }.toSeq
      .toDF("cell", "n_leaves")
    val idx = spark.read.parquet(root)
    // distinct vec_ids: a replayed leaf can duplicate rows a rebuilt
    // leaf holds — queries elect one copy ([[newest]]), so the stats
    // count what queries count
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

  private def deleteDir(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().forEachRemaining(java.nio.file.Files.delete(_))
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
    * Reads the serving generation only: an unflipped build is
    * invisible until its `_current` cutover, and the reader never
    * deletes anything.
    */
  def queryIndex(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, probes: Int = 1): DataFrame =
    queryIndexImpl(spark, indexDir, queries, k, probes, None)

  /** Filtered (attribute-constrained) index query — the on-disk form
    * of [[Ann.knnIvfTrainedFiltered]]: the predicate references the
    * attribute columns the ingest carried into the leaves
    * ([[ivfIngest]]'s `attrs`) and is applied to the probed-cell scan
    * BEFORE scoring and election — a parquet data filter alongside the
    * cell PartitionFilter, never a post-filter of the
    * finished top-k (which would silently under-return). Same model,
    * same probes, same election: the batch/on-disk parity contract
    * extends to the filtered pair (spec-pinned).
    */
  def queryIndexFiltered(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, predicate: Column,
      probes: Int = 1): DataFrame =
    queryIndexImpl(spark, indexDir, queries, k, probes, Some(predicate))

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
    * scan (a parquet data filter next to the cell PartitionFilter —
    * the pass-2 `isin` widens only to the cells
    * some dry query actually needs). Result parity with the batch
    * escalated operator at the same geometry is spec-pinned, including
    * through compaction.
    */
  def queryIndexFilteredEscalated(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, predicate: Column,
      probes: Int = 1): DataFrame =
    queryIndexImpl(spark, indexDir, queries, k, probes, Some(predicate),
      escalate = true)

  private def queryIndexImpl(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, probes: Int,
      predicate: Option[Column], escalate: Boolean = false): DataFrame =
    queryIndexSpine(spark, indexDir, queries, k, probes, predicate,
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
    *  - resolve the serving generation ONCE and read the layout stamp
    *    and model from that same root, so a cutover mid-request can
    *    never mix generations;
    *  - quantize and collect the request-scale query set, and let the
    *    layout rank every query's cells against the generation's frozen
    *    model driver-side (`probing`, given the resolved root, the model
    *    and the (q_id, v, norm2) query rows);
    *  - per query, keep the base tier `probes`, or with `escalate` the
    *    depth [[escalatedDepths]] decides;
    *  - scan ONLY the probed cells: the `isin` filter is a parquet
    *    PartitionFilter (the IVF scan bound holds on disk),
    *    the attribute predicate a pushed data filter applied before
    *    scoring and election (copies of a vec_id are byte-identical
    *    under the index contract, so it cannot flip an election);
    *  - elect one copy per candidate ([[newest]]), score,
    *    and keep the top k, same tie-break as the batch operators.
    */
  private def queryIndexSpine(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, probes: Int,
      predicate: Option[Column], escalate: Boolean, layout: String,
      caller: String)(
      probing: (String, Seq[(Long, Seq[Long], Long)],
        Seq[(Long, Seq[Long], Long)]) => Probing): DataFrame = {
    val root = resolveRoot(indexDir)
    requireLayout(root, layout, caller)
    val cent = modelOf(root)
    val qRows = quantize(queries).collect().toSeq.map(r =>
      (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    val p = probing(root, cent, qRows)
    val depth: Map[Long, Int] =
      if (!escalate) p.ranked.map(r => r._1 -> probes).toMap
      else escalatedDepths(spark, root, predicate, p.ranked, k, probes)
    val pairs = p.ranked.flatMap { case (qId, cells) =>
      cells.take(depth(qId)).map(qId -> _) }
    val idx = probedScan(spark, root, pairs.map(_._2).distinct, predicate)
    Ann.topKNeighbors(newest(idx.join(broadcast(p.probeRows(pairs)),
        col("cell") === col("qcell") && col("vec_id") =!= col("q_id")),
        "q_id", "vec_id")
      .withColumn(p.score, p.scoreExpr), k, p.score, p.desc)
  }

  /** The scan of the probed cells of a resolved root: the `cell isin`
    * filter prunes partitions, the attribute predicate is a pushed data
    * filter.
    */
  private def probedScan(spark: SparkSession, root: String, cells: Seq[Long],
      predicate: Option[Column]): DataFrame = {
    val idx = spark.read.parquet(root).filter(col("cell").isin(cells: _*))
    predicate.fold(idx)(idx.filter)
  }
}
