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
  *  - **One verb per operation**: the ingest picks one of three
  *    on-disk layouts (`full` milli vectors, `sq8` int8 codes, `pq`
  *    residual product codes — a [[Layout]]) and every generation is
  *    stamped with it; [[queryIndex]], [[retrainIndex]] and the
  *    maintenance passes read the stamp, so no caller names a layout
  *    again. Each layout's rules are written once, in [[Layouts]].
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

  /** The on-disk layout an ingest writes, stamped into every generation:
    *  - [[Full]] (the default) stores the milli-quantized vectors
    *    (`v`, `norm2`) — the streaming form of [[Ann.knnIvfTrained]];
    *  - [[Sq8]] stores int8 codes (`cb`: one byte per component, 4×
    *    smaller, plus the code self-dot `n2q`) — the streaming form of
    *    [[Ann.knnIvfSq]]. Queries score by quantized cosine; the recall
    *    cost is measured sub-margin (BASELINE §ANN quality), and with
    *    no full-precision vectors in the index there is no rerank to
    *    buy losses back — use `Full` when the margins demand one;
    *  - [[Pq]] stores only the four 12-bit residual ADC codes (~21×,
    *    no vector payload at all) — IVFADC at rest, the streaming form
    *    of [[Ann.knnIvfPq]]. Its product codebooks train-or-load at
    *    `booksPath` with the first batch, as the coarse model does at
    *    the ingest's `modelPath`.
    */
  sealed abstract class Layout(val name: String)
  case object Full extends Layout("full")
  case object Sq8 extends Layout("sq8")
  final case class Pq(booksPath: String, pqK: Int = Ann.PqK) extends Layout("pq")

  /** A [[queryIndex]] refine stage over a `pq` generation: the code
    * index ranks a `k·factor` shortlist, and the shortlist's
    * full-precision vectors from the PRIMARY store `vectors`
    * (vec_id, embedding) rerank it to k by exact cosine.
    */
  final case class Refine(vectors: DataFrame, factor: Int = 10)

  /** A quantized query row: its milli vector and self-dot, and its int8
    * codes and code self-dot under THE int8 rule ([[Ann.withInt8Cols]]).
    */
  private case class QueryRow(id: Long, v: Seq[Long], norm2: Long,
      c: Seq[Long], n2q: Long)

  /** One on-disk layout's rules, written once:
    *  - `payload`: the leaf columns written next to `vec_id`, the
    *    ingest's `attrs` and the `cell` / `ingest_batch` partition keys;
    *  - `encode`: (generation root, quantized batch with its attrs, the
    *    generation's frozen model, attrs) → rows with `cell` and the
    *    payload;
    *  - `probing`: the query side — each query's cells ranked against
    *    the model, its probe rows and the candidate score ([[Probing]]);
    *  - `inPlace`: the training view an in-place retrain runs Lloyd's
    *    over (`v`, `norm2` in the layout's own space), or None for a
    *    layout whose codes are a projection of the primary store: it
    *    retrains by re-encoding from `primary`, and only its shortlist
    *    takes a [[Refine]].
    */
  private case class Rules(payload: Seq[String],
      encode: (String, DataFrame, Seq[(Long, Seq[Long], Long)], Seq[String]) => DataFrame,
      probing: (SparkSession, String, Seq[(Long, Seq[Long], Long)], Seq[QueryRow]) => Probing,
      inPlace: Option[DataFrame => DataFrame])

  /** Every layout's [[Rules]], keyed by the stamp name. Cells always
    * come from THE shared assignment rule of the batch twin
    * ([[Ann.cellAssign]]'s max guarded cosine for `full`/`sq8`,
    * [[Ann.kmeansAssign]]'s squared-L2 argmin under [[Ann.pqResiduals]]
    * for `pq`), so the on-disk index partitions exactly as the batch
    * operator assigns (parity spec-pinned). The `sq8` codes come from
    * THE int8 rule ([[Ann.withInt8Cols]]), narrowed to bytes, and it
    * retrains in CODE space (cosine's per-vector scale invariance makes
    * code-space directions rank like milli-space ones, the same
    * argument as its query scoring).
    */
  private val Layouts: Map[String, Rules] = Map(
    "full" -> Rules(Seq("v", "norm2"),
      (_, qb, cent, _) => Ann.cellAssign(qb, cent),
      (spark, _, cent, qs) => cosProbing(spark, cent, qs, q => (q.v, q.norm2),
        "cos", Ann.guardedCosine(col("qv"), col("v"), col("qn2"), col("norm2"))),
      inPlace = Some(identity)),
    "sq8" -> Rules(Seq("cb", "n2q"),
      (_, qb, cent, _) => Ann.withInt8Cols(Ann.cellAssign(qb, cent))
        .withColumn("cb", transform(col("c"), _.cast("byte"))),
      (spark, _, cent, qs) => cosProbing(spark, cent, qs, q => (q.c, q.n2q),
        "qcos", Ann.guardedCosine(col("qv"), transform(col("cb"), _.cast("long")),
          col("qn2"), col("n2q"))),
      inPlace = Some(_.withColumn("v", transform(col("cb"), _.cast("long")))
        .withColumn("norm2", col("n2q")))),
    "pq" -> Rules(Seq("c0", "c1", "c2", "c3"),
      (root, qb, cent, attrs) =>
        Ann.pqEncodedFromQ(Ann.pqResiduals(qb, cent, attrs), booksOf(root)),
      pqProbing, inPlace = None))

  /** Driver-side probe ranking of the cosine layouts (`full`, `sq8`)
    * — EXACTLY the batch query-side rule ([[Ann.knnIvfTrained]] /
    * [[Ann.knnIvfSq]] rank cells by guarded cosine DESC, ties on the
    * smaller cell id; the guard scores a zero-norm query/centroid pair
    * LAST): every model cell per quantized query, best first, so the
    * index probes the same cells the batch operators probe — the
    * recall parity contract. The probe rows carry the query in the
    * layout's own space (`qv`: milli vector or int8 codes, `qn2` its
    * self-dot), scored by `scoreExpr` — the per-vector code scales
    * cancel under cosine's scale invariance.
    */
  private def cosProbing(spark: SparkSession, cent: Seq[(Long, Seq[Long], Long)],
      qs: Seq[QueryRow], space: QueryRow => (Seq[Long], Long), score: String,
      scoreExpr: Column): Probing = {
    import spark.implicits._
    val ranked = qs.map { q =>
      q.id -> cent.map { case (cId, cv, cn2) =>
        val s =
          if (q.norm2 == 0L || cn2 == 0L) 2.0
          else {
            val dot = q.v.zip(cv).map { case (a, b) => a * b }.sum
            // same op order as Ann.cosine(cv, v, cn2, norm2), negated —
            // identical IEEE doubles, so the ranking can never diverge
            -1.0 * (dot.toDouble /
              (math.sqrt(cn2.toDouble) * math.sqrt(q.norm2.toDouble)))
          }
        (s, cId)
      }.sorted.map(_._2)
    }
    val byId = qs.map(q => q.id -> space(q)).toMap
    Probing(ranked, _.map { case (qId, c) => (qId, c, byId(qId)._1, byId(qId)._2) }
      .toDF("q_id", "qcell", "qv", "qn2"), score, scoreExpr)
  }

  /** Escalation count pass of [[queryIndex]], the same for every
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
    * in-place retrain; per (`q_id`, `vec_id`) the read-time election of
    * [[queryIndex]] over the joined candidate rows
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
    * (vec_id: long, embedding: array<float>) plus the `attrs` columns,
    * which ride the leaves as plain data columns for filtered search
    * (training stays on the bare (vec_id, v, norm2) projection). The
    * first non-empty batch trains and persists the model at `modelPath`
    * (skipped if one already exists — a pre-trained model is honored),
    * and for [[Pq]] the codebooks over its coarse residuals at
    * `booksPath` (same rule), and starts generation 0 of the index at
    * `indexDir` with them; every batch encodes under the serving
    * generation's frozen artifacts by the `layout`'s rules
    * ([[Layouts]]) and appends to its cell-partitioned leaves. Per
    * batch:
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
    *
    * Contract: like the curation ingests, `indexDir` is owned by one
    * checkpoint lineage (batch ids key the idempotent partitions);
    * the model and codebook artifacts are durable across lineages.
    */
  def ivfIngest(emb: DataFrame, modelPath: String, indexDir: String,
      checkpointDir: String, kCells: Int = 8, iterations: Int = 2,
      attrs: Seq[String] = Nil, layout: Layout = Full): StreamingQuery =
    emb.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val qb = quantize(batch, attrs)
        qb.select(size(col("v"))).head(1).foreach { first =>
          val root = genDir(indexDir, readCurrentGen(indexDir).getOrElse {
            val cent = trainOrLoad(modelPath, qb.select("vec_id", "v", "norm2"),
              kCells, iterations)
            deleteDir(java.nio.file.Paths.get(genDir(indexDir, 0))) // a crashed start
            commitGeneration(indexDir, 0, layout.name, cent,
              startBooks(layout, qb, cent, iterations))
            0L
          })
          ensureLayout(root, layout.name, first.getInt(0))
          Layouts(layout.name).encode(root, qb, modelOf(root), attrs)
            .select(leafColumns(layout.name, attrs): _*)
            .withColumn("ingest_batch", lit(batchId))
            .write
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .partitionBy("cell", "ingest_batch")
            .parquet(root)
        }
      }
      .start()

  /** The codebooks a new [[Pq]] index starts with: loaded from its
    * `booksPath`, or trained over the first batch's coarse residuals
    * under `cent` and persisted there; None for the other layouts.
    */
  private def startBooks(layout: Layout, qb: DataFrame,
      cent: Seq[(Long, Seq[Long], Long)],
      iterations: Int): Option[Seq[Seq[(Long, Seq[Long], Long)]]] = layout match {
    case Pq(booksPath, pqK) => Some(loadBooks(booksPath).getOrElse {
      // residuals materialized once for training (read 4 subspaces ×
      // (1 + iterations) times); trained once, shipped thereafter
      val res = Ann.pqResiduals(qb, cent).localCheckpoint(eager = true)
      val b = trainBooks(res, pqK, iterations)
      saveBooks(booksPath, b)
      res.unpersist()
      b
    })
    case _ => None
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
    * — and would make the ingest skip retraining on a bad artifact.
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

  /** The `pq` layout's probing — EXACTLY the batch [[Ann.knnIvfPq]]
    * query side: cells ranked by exact coarse squared-L2 against the
    * frozen model (ties on the smaller cell id), then per (query,
    * probed cell) one ADC table per subspace, built driver-side from
    * the query's residual TO THAT CELL and the generation's frozen
    * codebooks (PqM maps of pqK integers per pair). A candidate's
    * `est_d` is PqM map lookups over its codes, ranked ascending.
    */
  private def pqProbing(spark: SparkSession, root: String,
      cent: Seq[(Long, Seq[Long], Long)], qs: Seq[QueryRow]): Probing = {
    import spark.implicits._
    val books = booksOf(root)
    val ranked = qs.map { q =>
      q.id -> cent.map { case (cId, cv, cn2) =>
        val dot = q.v.zip(cv).map { case (a, b) => a * b }.sum
        ((q.norm2 - 2 * dot + cn2, cId), cId, q.v.zip(cv).map { case (a, b) => a - b })
      }.sortBy(_._1).map { case (_, cId, res) => (cId, res) }
    }
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

  /** The refine stage of [[Ann.knnIvfPqRefined]] over an on-disk
    * shortlist (q_id, neighbor_id): the index stores no vectors, so the
    * refine fetch is a request-scale broadcast equi-join against the
    * PRIMARY store (queries × k·factor ids), exactly the batch
    * operator's plan, reranked to k by exact cosine. Output: (q_id,
    * rnk, neighbor_id, cos_bp).
    */
  private def refined(short: DataFrame, r: Refine, k: Int): DataFrame = {
    val qv = quantize(r.vectors)
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
    writeGeneration(spark, indexDir, crashPoint) { (idx, _, ids) =>
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
    * atomic `_current` cutover to it. The one commit of [[ivfIngest]]
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
    * request/batch through the `_current` pointer. The attribute
    * columns the serving leaves carry (every column but `vec_id`, the
    * layout's payload and the partition keys) ride into the rebuilt
    * leaves, so filtered search keeps working across the cutover.
    *
    * Mechanics by the serving generation's layout ([[Rules]]`.inPlace`):
    *  - `full` / `sq8` retrain IN PLACE and refuse a `primary`: one read
    *    of the serving generation elects the newest copy per vec_id (the
    *    compactor's survivor rule over every leaf), the elected corpus
    *    trains the new model in the layout's training view
    *    (deterministic Lloyd's — the engine's bit-reproducible loop, so
    *    a re-run converges to the same generation), and every row is
    *    re-assigned under it by THE shared serving rule
    *    ([[Ann.cellAssign]]);
    *  - `pq` stores only residual ADC codes taken against the OLD
    *    centroids, which a new model cannot re-encode, so it re-encodes
    *    from `primary` — the (vec_id, embedding, attrs...) frame the
    *    ingest consumed, the system of record the 21× index is a
    *    projection of — and refuses to run without one. The serving
    *    vec_id set joins the primary (inner: an id the primary has
    *    dropped falls out of the rebuilt index, which is how a
    *    primary-side delete propagates at retrain), and the joined
    *    corpus retrains coarse model AND product codebooks with EXACTLY
    *    the batch [[Ann.knnIvfPq]] chain (quantize → seed-safe Lloyd's
    *    coarse → residuals against the new cells → per-subspace
    *    seed-safe codebooks → argmin encode), so a post-retrain query is
    *    bit-identical to the batch operator at the new geometry.
    * Either way the rebuilt leaves land in ONE batch per cell
    * ([[rebuiltId]] of every consumed leaf, so later deliveries of the
    * continuing lineage keep winning elections).
    *
    * Crash-safe: the new generation is invisible until the final
    * atomic `_current` rename (the ONLY commit point — model, books,
    * layout stamp, and data all live inside the generation dir); a
    * crashed build leaves an unreferenced dir that the next cutover
    * deletes and rebuilds. Nothing is ever deleted under a reader —
    * [[vacuumGenerations]] is the explicit, grace-priced reclaim.
    *
    * Scale: cost is `iterations + 2` scans of the serving corpus
    * (election or primary join, training iterations, rebuild write) —
    * the same O(N) a compaction-style rebuild costs anywhere; run it on
    * the drift cadence (weeks), not the compaction cadence (batches).
    * Trained state stays driver/broadcast-scale.
    */
  def retrainIndex(spark: SparkSession, indexDir: String, kCells: Int,
      iterations: Int = 2, primary: Option[DataFrame] = None,
      pqK: Int = Ann.PqK): Long =
    retrainIndexImpl(spark, indexDir, kCells, iterations, primary, pqK,
      crashPoint = 0)._1

  /** Test seam: crashPoint 1 = stop after the rebuilt data write
    * (before the model/stamp), 2 = stop after model+stamp (before the
    * `_current` flip — the generation is complete but unreferenced).
    * Production path is crashPoint = 0. Returns (generation number,
    * rebuilt leaf id).
    */
  private[graft] def retrainIndexImpl(spark: SparkSession, indexDir: String,
      kCells: Int, iterations: Int, primary: Option[DataFrame] = None,
      pqK: Int = Ann.PqK, crashPoint: Int): (Long, Long) = {
    graft.core.Validation.validate("index-maintenance",
      graft.core.Validation.knob("kCells", kCells, minV = 1L) ++
        graft.core.Validation.knob("iterations", iterations, minV = 1L))
    graft.core.Configs.Pq(pqK).validated
    writeGeneration(spark, indexDir, crashPoint) { (idx, layout, ids) =>
      val rules = Layouts(layout)
      val attrs = idx.columns.toSeq.filterNot(
        (Seq("vec_id", "cell", "ingest_batch") ++ rules.payload).contains)
      def refuse(why: String) =
        throw new IllegalStateException(s"index at $indexDir is stamped layout=$layout: $why")
      Some((rules.inPlace, primary) match {
        case (Some(view), None) =>
          val trainIn = view(newest(idx, "vec_id")
            .localCheckpoint()) // training re-scans it `iterations` times
          val cent = Ann.kmeansCentroidsSeedSafe(
            trainIn.select("vec_id", "v", "norm2"), kCells, iterations)
          require(cent.nonEmpty, "training produced no centroids")
          Rebuilt(Ann.cellAssign(trainIn, cent).select(leafColumns(layout, attrs): _*),
            rebuiltId(ids), Some(cent))
        case (None, Some(p)) =>
          val missing = attrs.filterNot(p.columns.contains)
          require(missing.isEmpty, "the primary store lacks the index's " +
            s"attribute columns ${missing.mkString(", ")}")
          // the ID SET is the election here: every copy of a vec_id
          // re-encodes to the same codes under the new artifacts, so
          // newest-wins tie-breaking among copies is moot
          val corpus = quantize(p, attrs)
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
          Rebuilt(Ann.pqEncodedFromQ(res, books).select(leafColumns(layout, attrs): _*),
            rebuiltId(ids), Some(cent), Some(books), cached = Seq(res, corpus))
        case (Some(_), Some(_)) => refuse("it retrains in place from its own " +
          "leaves and takes no primary store")
        case (None, None) => refuse("its residual codes cannot be re-encoded " +
          "under a new model without the primary full-precision vectors, " +
          "which a code index does not store — pass primary = Some(store) " +
          "to re-ingest from the primary store instead of retraining in place")
      })
    }.getOrElse(throw new IllegalStateException(s"nothing to retrain at $indexDir"))
  }

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

  /** The one generation writer behind [[compactIndex]] and
    * [[retrainIndex]]: resolve the serving generation N once, then
    * `rebuild` (given the serving index, its layout and its leaf ids;
    * None = nothing to do). Generation N+1 at `gen-N+1`: the rebuilt
    * rows plus the kept leaves, then [[commitGeneration]] with the
    * rebuild's new model and codebooks or generation N's. crashPoint 1
    * stops after the data write, 2 after the artifacts (complete but
    * unreferenced); a crashed prior attempt's dir is deleted and
    * rebuilt. A dir with no index or no leaves is None before any
    * rebuild. Returns (generation number, rebuilt id).
    */
  private def writeGeneration(spark: SparkSession, indexDir: String,
      crashPoint: Int)(rebuild: (DataFrame, String, Seq[Long]) => Option[Rebuilt]
  ): Option[(Long, Long)] = {
    val ids = servingLeaves(indexDir).map(_._2).distinct
    if (ids.isEmpty) return None
    val cur = resolveRoot(indexDir)
    val layout = stampOf(cur)._1
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
    * when a retrain ran. `primary` and `pqK` go to [[retrainIndex]]:
    * a `pq` index with no primary trips its loud refusal rather than
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
    Option.when(worst > maxShareBp)(
      retrainIndex(spark, indexDir, kCells, iterations, primary, pqK))
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

  /** Every generation carries a `_layout` stamp `(layout, kCells,
    * dims)` next to its model: the [[Layout]] its ingest writes
    * (`full`, `sq8` or `pq`), which picks the [[Layouts]] rules every
    * query, retrain and rebuild applies to it, so no caller names a
    * layout after the ingest. The ingest REFUSES to append to a
    * mismatched stamp. `root` is a generation root
    * (`<indexDir>/gen-N`); None when it has no stamp.
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

  /** A leaf's columns: `vec_id`, the layout's payload, the attrs and
    * `cell` (the write adds `ingest_batch`).
    */
  private def leafColumns(layout: String, attrs: Seq[String]): Seq[Column] =
    col("vec_id") +: (Layouts(layout).payload ++ attrs).map(col) :+ col("cell")

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

  /** Top-k query over the accumulated index, whatever its layout —
    * the on-disk form of the batch trained-IVF family
    * ([[Ann.knnIvfTrained]] on `full`, [[Ann.knnIvfSq]] on `sq8`,
    * [[Ann.knnIvfPq]] on `pq`, and their `Filtered` / `FilteredEscalated`
    * / `Refined` twins), bit-identical to the batch operator at the
    * same geometry (parity specs). The serving generation's stamp picks
    * the [[Layouts]] rules; then:
    *  - resolve the serving generation ONCE and read the stamp, model
    *    (and codebooks) from that same root, so a cutover mid-request
    *    can never mix generations; an unflipped build is invisible
    *    until its `_current` cutover, and the reader never deletes
    *    anything;
    *  - quantize and collect the request-scale query set once (the int8
    *    codes ride the same collect, by THE int8 rule), and rank every
    *    query's cells against the frozen model DRIVER-side (k·dims
    *    integer math);
    *  - per query, keep the base tier `probes`, or with `escalate` the
    *    depth [[escalatedDepths]] decides: a selective `predicate` can
    *    leave fewer than k matching rows inside the probed cells, and
    *    the dry queries then re-rank at FULL cell coverage, which
    *    guarantees `min(k, matching pool)` rows per query while
    *    satisfied queries never pay the escalated scan (escalation is a
    *    probe-depth option, as in progressive similarity search);
    *  - scan ONLY the probed cells: the `isin` filter is a parquet
    *    PartitionFilter (the 1/kCells scan bound holds on disk), the
    *    attribute `predicate` (over the ingest's `attrs` columns) a
    *    pushed data filter applied before scoring and election — never
    *    a post-filter of the finished top-k, which would silently
    *    under-return (copies of a vec_id are byte-identical under the
    *    index contract, so it cannot flip an election);
    *  - elect one copy per candidate ([[newest]]), score by the layout
    *    (guarded cosine on `full`, quantized cosine over the int8 codes
    *    on `sq8`, ADC `est_d` on `pq`), and keep the top k, same
    *    tie-break as the batch operators;
    *  - with `refine` (a `pq` generation only; any other stamp is
    *    refused), keep a k·factor shortlist and rerank it by exact
    *    cosine against the primary vectors ([[refined]]).
    *
    * Output: (q_id, rnk, neighbor_id, score) — `cos_bp` (full,
    * refined), `qcos_bp` (sq8) or `est_d` (pq).
    */
  def queryIndex(spark: SparkSession, indexDir: String, queries: DataFrame,
      k: Int, probes: Int = 1, predicate: Option[Column] = None,
      escalate: Boolean = false, refine: Option[Refine] = None): DataFrame = {
    val root = resolveRoot(indexDir)
    val layout = stampOf(root)._1
    val rules = Layouts(layout)
    refine.foreach { r =>
      if (rules.inPlace.nonEmpty) throw new IllegalStateException(
        s"refine reranks a residual-code ('pq') shortlist, but $root is " +
          s"stamped layout=$layout")
      graft.core.Configs.Pq(Ann.PqK, r.factor).validated
    }
    val qs = Ann.withInt8Cols(quantize(queries))
      .select("vec_id", "v", "norm2", "c", "n2q").collect().toSeq
      .map(r => QueryRow(r.getLong(0), r.getSeq[Long](1), r.getLong(2),
        r.getSeq[Long](3), r.getLong(4)))
    val p = rules.probing(spark, root, modelOf(root), qs)
    val depth: Map[Long, Int] =
      if (!escalate) p.ranked.map(r => r._1 -> probes).toMap
      else escalatedDepths(spark, root, predicate, p.ranked, k, probes)
    val pairs = p.ranked.flatMap { case (qId, cells) =>
      cells.take(depth(qId)).map(qId -> _) }
    val idx = probedScan(spark, root, pairs.map(_._2).distinct, predicate)
    val top = Ann.topKNeighbors(newest(idx.join(broadcast(p.probeRows(pairs)),
        col("cell") === col("qcell") && col("vec_id") =!= col("q_id")),
        "q_id", "vec_id")
      .withColumn(p.score, p.scoreExpr), refine.fold(k)(k * _.factor), p.score, p.desc)
    refine.fold(top)(refined(top.select("q_id", "neighbor_id"), _, k))
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
