package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Ann
import graft.streaming.StreamingAnn

/** ST7 specs: continuous IVF index ingest — train-once frozen model,
  * idempotent cell-partitioned index, pruned queries equal to a
  * full-scan reference over the same frozen model.
  */
class StreamingAnnSpec extends SparkSuite {

  private def embRows: Array[(Long, Seq[Float])] = {
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
    e.map(r => (r.getLong(0), r.getSeq[Float](1)))
  }

  /** A hand-built index: generation 0 committed with a `kCells`-cell
    * one-hot model of `dims`-long vectors, as an ingest's first batch
    * leaves it before writing its leaves.
    */
  private def handBuiltGen0(indexDir: String, layout: String, kCells: Int,
      dims: Int): Unit =
    StreamingAnn.commitGeneration(indexDir, 0, layout,
      (0 until kCells).map(c => (c.toLong,
        Seq.tabulate(dims)(i => if (i == c % dims) 1000L else 0L), 1000000L)),
      books = None)

  test("ivf ingest: frozen first-batch model, every vector indexed once") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann")
    val rows = embRows
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt")
    try {
      (0 until 3).foreach { b =>
        input.addData(rows.filter(_._1 % 3 == b).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val idx = spark.read.parquet(StreamingAnn.resolveRoot(s"$root/index"))
    assert(idx.count() === rows.length.toLong)
    assert(idx.select("vec_id").distinct().count() === rows.length.toLong)
    // the model is trained on the FIRST batch only (vec_id % 3 == 0)
    // and then FROZEN: reproduce it independently and check every
    // vector's cell against a fresh assignment under that model
    val batch0 = rows.filter(_._1 % 3 == 0).toSeq.toDF("vec_id", "embedding")
    val q0 = batch0.select(col("vec_id"),
        transform(col("embedding"), x => round(x * 1000, 0).cast("long")).as("v"))
      .withColumn("norm2", graft.functions.VecOps.intDot(col("v"), col("v")))
    // the ingest trains SEED-SAFE (rank-remapped ids — this first
    // batch's ids are 0,3,6,... so the plain vec_id<k rule would find
    // only 3 seeds and silently train 3 cells)
    val refModel = Ann.kmeansCentroidsSeedSafe(q0, 8, 2)
    assert(StreamingAnn.loadModel(s"$root/model.txt").get === refModel)
    val all = rows.toSeq.toDF("vec_id", "embedding")
    val qAll = all.select(col("vec_id"),
        transform(col("embedding"), x => round(x * 1000, 0).cast("long")).as("v"))
      .withColumn("norm2", graft.functions.VecOps.intDot(col("v"), col("v")))
    val refCells = Ann.cellAssign(qAll, refModel)
      .select(col("vec_id"), col("cell"))
    assert(idx.select("vec_id", "cell").exceptAll(refCells).isEmpty)

    // queries: pruned scan, PartitionFilters on cell, results equal a
    // full-scan reference over the same frozen model
    val queries = rows.filter(_._1 < 5).toSeq.toDF("vec_id", "embedding")
    val res = StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 2)
    val p = res.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(scanLine.exists(_.contains("cell")), p.take(2500))
    // reference: same probe table, but over the UNPRUNED index read —
    // pruning must change cost only, never results
    val got = res.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val probeRef = StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 8) // probe ALL cells
    // with probes = kCells the scan is the whole index; the top-3 of a
    // probe-2 query must be a subset drawn from its 2 best cells —
    // verify probe-2 results appear in the all-cells ranking with
    // cos_bp intact (cell-bounding loses only cross-cell neighbors)
    val refAll = probeRef.collect().map(r =>
      (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    got.foreach { case (qid, _, nid, cos) =>
      val inRef = refAll.exists(t => t._1 == qid && t._2 == nid && t._3 == cos)
      // a probe-2 result absent from the all-cells top-3 must be
      // WORSE than that top-3's weakest member (its cells simply
      // lacked the better cross-cell neighbors) — anything else means
      // the pruned scan corrupted a score
      val worstRef = refAll.filter(_._1 == qid).map(_._3).min
      assert(inRef || cos <= worstRef,
        s"q=$qid n=$nid cos=$cos not consistent with full scan (worst ref $worstRef)")
    }

    // crash-replay of batch 0 from a fresh lineage: deterministic
    // assignment under the frozen model rewrites the same partitions —
    // the index must not grow or change
    val before = idx.collect().toSet
    val input2 = MemoryStream[(Long, Seq[Float])]
    val q2 = StreamingAnn.ivfIngest(
      input2.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt-replay")
    try {
      input2.addData(rows.filter(_._1 % 3 == 0).toSeq: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(StreamingAnn.resolveRoot(s"$root/index"))
      .collect().toSet === before)
  }

  test("recall parity: streaming index queries equal the batch operators bit-for-bit") {
    // Ingest the WHOLE corpus as ONE batch: the frozen model then
    // trains on exactly the corpus the batch operators train on, and
    // with the same (kCells, iterations, probes) geometry the on-disk
    // index must return the SAME rows as knnIvfTrained (full layout)
    // and knnIvfSq (SQ8 layout) — same cells (shared Ann.cellAssign
    // serving rule), same probes (shared guarded-cosine ranking), same
    // scores, same tie-breaks. This pins BASELINE's measured recall
    // ladder to the streaming index instead of inferring it.
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-parity")
    val rows = embRows
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val queries = rows.filter(_._1 < 5).toSeq.toDF("vec_id", "embedding")
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt",
      kCells = 8, iterations = 2)
    try { input.addData(rows.toSeq: _*); q.processAllAvailable() }
    finally q.stop()
    val gotFull = snap(StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 2))
    val wantFull = snap(Ann.knnIvfTrained(emb, numQueries = 5, k = 3,
      kCells = 8, iterations = 2, probes = 2))
    assert(gotFull === wantFull)

    val inputSq = MemoryStream[(Long, Seq[Float])]
    val qSq = StreamingAnn.ivfIngest(
      inputSq.toDS().toDF("vec_id", "embedding"),
      s"$root/model-sq.txt", s"$root/index-sq", s"$root/ckpt-sq",
      kCells = 8, iterations = 2, layout = StreamingAnn.Sq8)
    try { inputSq.addData(rows.toSeq: _*); qSq.processAllAvailable() }
    finally qSq.stop()
    val gotSq = snap(StreamingAnn.queryIndex(spark, s"$root/index-sq",
      queries, k = 3, probes = 2))
    val wantSq = snap(Ann.knnIvfSq(emb, numQueries = 5, k = 3,
      kCells = 8, iterations = 2, probes = 2))
    assert(gotSq === wantSq)
  }

  test("index compaction: query-equal, leaf bound, idempotent no-op re-run") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-compact")
    val rows = embRows
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt")
    try {
      (0 until 5).foreach { b =>
        input.addData(rows.filter(_._1 % 5 == b).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val queries = rows.filter(_._1 < 5).toSeq.toDF("vec_id", "embedding")
    def snap() = StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val before = snap()
    val leavesBefore = StreamingAnn.listLeaves(StreamingAnn.resolveRoot(s"$root/index"))
    assert(leavesBefore.map(_._2).distinct.size === 5)
    val out = StreamingAnn.compactIndex(spark, s"$root/index", minBatches = 2)
    assert(out.nonEmpty)
    // the old generation stays on disk until the owner vacuum pass
    assert(StreamingAnn.vacuumGenerations(s"$root/index", grace = 0) > 0)
    // every cell now holds at most (1 compacted + the newest batch)
    val after = StreamingAnn.listLeaves(StreamingAnn.resolveRoot(s"$root/index"))
    after.groupBy(_._1).foreach { case (c, ls) =>
      assert(ls.size <= 2, s"cell $c leaves: $ls")
      assert(ls.map(_._2).forall(b => b == out.get || b == 4))
    }
    // same rows, same query results
    assert(spark.read.parquet(StreamingAnn.resolveRoot(s"$root/index"))
      .select("vec_id").distinct().count() === rows.length.toLong)
    assert(snap() === before)
    // re-run: only the compacted leaf is aged -> no-op
    assert(StreamingAnn.compactIndex(spark, s"$root/index",
      minBatches = 1).isEmpty)
    // another ingest epoch then a second compaction folds the previous
    // compacted leaf in (leveled re-compaction)
    val input2 = MemoryStream[(Long, Seq[Float])]
    val q2 = StreamingAnn.ivfIngest(
      input2.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt2")
    try {
      input2.addData(rows.filter(_._1 % 5 == 0).toSeq: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    // (the rebuilt id only encodes the effective batch, so it may
    // repeat; the generation is what advances)
    val out2 = StreamingAnn.compactIndex(spark, s"$root/index", minBatches = 2)
    assert(out2.nonEmpty)
    assert(StreamingAnn.readCurrentGen(s"$root/index") === Some(2L))
    assert(snap() === before)
    // generations are self-contained: after ingest → compaction →
    // retrain the query names no model, and runs under the serving
    // generation's own _model — here the batch operator's full-corpus
    // model at the same geometry, so it equals knnIvfTrained
    assert(StreamingAnn.retrainIndex(spark, s"$root/index", kCells = 8,
      iterations = 2) === 3L)
    val served = StreamingAnn.resolveRoot(s"$root/index")
    assert(served === s"$root/index/gen-3")
    val emb = graft.sources.Tables.embeddings(spark, sf)
    assert(StreamingAnn.loadModel(s"$served/_model") === Some(Ann.kmeansCentroids(
      Ann.quantized(emb).select("vec_id", "v", "norm2"), 8, 2)))
    assert(snap() === Ann.knnIvfTrained(emb, numQueries = 5, k = 3, kCells = 8,
      iterations = 2, probes = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet)
    // every generation dir is gen-N; the pointer is the only other entry
    val entries = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/index"))
      try ls.iterator().asScala.map(_.getFileName.toString).toSet finally ls.close()
    }
    assert(entries === Set("_current", "gen-1", "gen-2", "gen-3"))
  }

  test("effective-batch decode: raw and rebuilt ids") {
    import StreamingAnn.effOf
    assert(effOf(7L) === 7L)  // raw batch
    assert(effOf(0L) === 0L)
    assert(effOf(-6L) === 4L) // rebuilt -(maxEff + 2), maxEff 4
    assert(effOf(-2L) === 0L) // rebuilt from batch 0 alone
  }

  test("compaction survivor is deterministic newest-wins per vec_id") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmpDir("st-ann-survivor")
    handBuiltGen0(s"$root/index", "full", kCells = 1, dims = 4)
    // hand-build an index with one vec_id duplicated across leaves
    // with DIFFERENT payloads: batch 0 says v=(1,0,0,0), batch 1
    // re-ingests vec 7 as v=(0,2,0,0) — newest-wins must keep batch 1
    def leaf(batch: Long, rows: Seq[(Long, Seq[Long])]): Unit =
      rows.toDF("vec_id", "v")
        .withColumn("norm2", graft.functions.VecOps.intDot(col("v"), col("v")))
        .withColumn("cell", lit(0L))
        .withColumn("ingest_batch", lit(batch))
        .write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").partitionBy("cell", "ingest_batch")
        .parquet(StreamingAnn.resolveRoot(s"$root/index"))
    leaf(0L, Seq((7L, Seq(1000L, 0L, 0L, 0L)), (8L, Seq(0L, 0L, 1000L, 0L))))
    leaf(1L, Seq((7L, Seq(0L, 2000L, 0L, 0L)), (9L, Seq(0L, 0L, 0L, 1000L))))
    leaf(2L, Seq((10L, Seq(500L, 500L, 0L, 0L)))) // newest: not compacted
    val out = StreamingAnn.compactIndex(spark, s"$root/index", minBatches = 2)
    assert(out.nonEmpty)
    StreamingAnn.vacuumGenerations(s"$root/index", grace = 0)
    val got = spark.read.parquet(StreamingAnn.resolveRoot(s"$root/index"))
      .filter(col("vec_id") === 7L)
      .select("v").collect()
    assert(got.length === 1)
    assert(got.head.getSeq[Long](0) === Seq(0L, 2000L, 0L, 0L))
    // a replayed batch 1 after compaction+vacuum (raw leaf reappears
    // next to the compacted leaf whose effective batch ties it): raw
    // wins the election
    leaf(1L, Seq((7L, Seq(0L, 0L, 3000L, 0L))))
    leaf(3L, Seq((11L, Seq(1L, 1L, 1L, 1L)))) // newest guard leaf
    val out2 = StreamingAnn.compactIndex(spark, s"$root/index", minBatches = 2)
    assert(out2.nonEmpty)
    StreamingAnn.vacuumGenerations(s"$root/index", grace = 0)
    val got2 = spark.read.parquet(StreamingAnn.resolveRoot(s"$root/index"))
      .filter(col("vec_id") === 7L).select("v").collect()
    assert(got2.length === 1)
    assert(got2.head.getSeq[Long](0) === Seq(0L, 0L, 3000L, 0L))
  }

  test("fresh lineage after compaction: a planned reader survives, batch 0 serves, nothing deleted before vacuum") {
    // a FRESH checkpoint lineage restarts batch ids at 0 — an id the
    // compaction consumed. Its delivery lands in the new generation as
    // a plain raw leaf; the old generation (with its own leaf 0) stays
    // on disk for readers planned against it until vacuumGenerations
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-lineage")
    val rows = embRows
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt")
    try {
      (0 until 4).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // the reader plans NOW (resolved root + file listing), executes later
    val queries = rows.filter(_._1 < 5).toSeq.toDF("vec_id", "embedding")
    def freshQ() = StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 2)
    def toSet(rs: Array[org.apache.spark.sql.Row]) = rs
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val before = toSet(freshQ().collect())
    val planned = freshQ()
    def allFiles(): Set[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/index"))
      try s.iterator().asScala.toSet.filter(
        _.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    val preFiles = allFiles()
    assert(StreamingAnn.compactIndex(spark, s"$root/index", minBatches = 2).nonEmpty)
    // a FRESH lineage delivers its batch 0 — a consumed id
    val freshRows = rows.take(20).map { case (id, e) => (id + 50000L, e) }
    val input2 = MemoryStream[(Long, Seq[Float])]
    val q2 = StreamingAnn.ivfIngest(
      input2.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt-fresh")
    try { input2.addData(freshRows.toSeq: _*); q2.processAllAvailable() }
    finally q2.stop()
    // (a) neither the compaction nor the reused id deleted anything
    preFiles.foreach(p => assert(java.nio.file.Files.exists(p),
      s"file deleted under an in-flight reader: $p"))
    // (b) the pre-compaction reader executes to its snapshot
    assert(toSet(planned.collect()) === before)
    // (c) the fresh delivery is a raw leaf 0 of the serving generation,
    // visible to new readers next to every old row
    val served = StreamingAnn.resolveRoot(s"$root/index")
    assert(served.endsWith("/gen-1"))
    assert(StreamingAnn.listLeaves(served).exists(_._2 == 0L))
    assert(spark.read.parquet(served).count()
      === rows.length.toLong + freshRows.length)
    val fq = StreamingAnn.queryIndex(spark, s"$root/index",
      freshRows.take(3).toSeq.toDF("vec_id", "embedding"),
      k = 5, probes = 8).collect()
    assert(fq.map(_.getLong(2)).exists(_ >= 50000L),
      "fresh-lineage rows invisible to queries")
    val after = toSet(freshQ().collect())
    // (d) only vacuumGenerations deletes: grace 1 keeps generation 0,
    // grace 0 reclaims it, and the serving view is unchanged
    assert(StreamingAnn.vacuumGenerations(s"$root/index", grace = 1) === 0)
    assert(preFiles.forall(java.nio.file.Files.exists(_)))
    assert(StreamingAnn.vacuumGenerations(s"$root/index") === 1)
    assert(preFiles.forall(p => !java.nio.file.Files.exists(p)))
    assert(toSet(freshQ().collect()) === after)
  }

  test("SQ8 index: byte codes on disk, frozen-model queries, layout-agnostic compaction") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-sq")
    val rows = embRows
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt",
      layout = StreamingAnn.Sq8)
    try {
      (0 until 4).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val idx = spark.read.parquet(StreamingAnn.resolveRoot(s"$root/index"))
    assert(idx.count() === rows.length.toLong)
    // codes really are bytes on disk (the 4x layout claim), and every
    // code is a valid int8 quantization level
    assert(idx.schema("cb").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType === org.apache.spark.sql.types.ByteType,
      idx.schema.treeString)
    assert(idx.select(explode(col("cb")).as("c"))
      .filter(abs(col("c")) > 127).count() === 0L)
    // pruned probe-2 query: PartitionFilters on cell, and every result
    // carries exactly the score a probe-ALL (full corpus) scan gives
    // that pair — cell bounding changes candidates, never scores
    val queries = rows.filter(_._1 < 5).toSeq.toDF("vec_id", "embedding")
    val res = StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 2)
    val p = res.queryExecution.executedPlan.toString
    assert(p.linesIterator.find(_.contains("PartitionFilters"))
      .exists(_.contains("cell")), p.take(2500))
    val got = res.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    val allScores = StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = Int.MaxValue, probes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    got.foreach { case (qid, nid, cos) =>
      assert(allScores((qid, nid)) === cos, s"q=$qid n=$nid")
    }
    // compaction is layout-agnostic: same results, bounded leaves
    def snap() = StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val before = snap()
    val out = StreamingAnn.compactIndex(spark, s"$root/index", minBatches = 2)
    assert(out.nonEmpty)
    assert(snap() === before)
    StreamingAnn.vacuumGenerations(s"$root/index", grace = 0)
    val after = StreamingAnn.listLeaves(StreamingAnn.resolveRoot(s"$root/index"))
    assert(after.map(_._2).distinct.toSet === Set(out.get, 3L))
    assert(spark.read.parquet(StreamingAnn.resolveRoot(s"$root/index"))
      .schema("cb").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType === org.apache.spark.sql.types.ByteType)
  }

  test("PQ index: codes-only leaves, ADC + refined parity with the batch IVFADC, incl. through compaction+vacuum") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-pq")
    val rows = embRows
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val queries = rows.filter(_._1 < 5).toSeq.toDF("vec_id", "embedding")
    // pre-train the model + codebooks on the FULL corpus, exactly the
    // batch operator's chain (kmeansCentroids seeds, residuals against
    // the assigned cells, pqCodebooksFromQ per subspace) — a
    // pre-trained artifact is honored by the ingest, so a multi-batch
    // delivery then encodes under the same frozen state the batch
    // twin trains, and parity is exact
    val q = Ann.quantized(emb).select("vec_id", "v", "norm2")
    val cent = Ann.kmeansCentroids(q, 8, 2)
    StreamingAnn.saveModel(s"$root/model.txt", cent)
    val centMap = typedLit(cent.map { case (c, cv, _) => c -> cv }.toMap)
    val residuals = Ann.kmeansAssign(q, cent)
      .select(col("vec_id"),
        zip_with(col("v"), element_at(centMap, col("cluster")),
          (a, b) => a - b).as("v"))
    val books = Ann.pqCodebooksFromQ(residuals, Ann.PqK, 2)
    StreamingAnn.saveBooks(s"$root/books.txt", books)
    assert(StreamingAnn.loadBooks(s"$root/books.txt").get === books)
    // poison-free contract covers PARTIAL artifacts too: a truncated
    // file that parses but covers fewer than PqM subspaces must read
    // as "no trained codebooks" (None → retrain), never a short Seq
    // that consumers would index out of bounds
    val full = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/books.txt"))
    val truncated = full.linesIterator.filter(_.startsWith("0|"))
      .mkString("\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/books_trunc.txt"), truncated)
    assert(StreamingAnn.loadBooks(s"$root/books_trunc.txt").isEmpty)

    val input = MemoryStream[(Long, Seq[Float])]
    val qy = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt",
      layout = StreamingAnn.Pq(s"$root/books.txt"))
    try {
      (0 until 4).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b).toSeq: _*)
        qy.processAllAvailable()
      }
    } finally qy.stop()
    // the 21x claim: leaves carry ONLY the four code columns + keys —
    // no vector payload of any kind
    val idx = spark.read.parquet(StreamingAnn.resolveRoot(s"$root/index"))
    assert(idx.columns.toSet ===
      Set("vec_id", "c0", "c1", "c2", "c3", "cell", "ingest_batch"),
      idx.schema.treeString)
    assert(idx.count() === rows.length.toLong)
    // stamped pq; the one query verb serves it by the stamp's rules
    // (L2 cell ranking + ADC), here at its default single probe
    assert(StreamingAnn.readLayout(StreamingAnn.resolveRoot(s"$root/index"))
      .map(_._1) === Some("pq"))
    assert(StreamingAnn.queryIndex(spark, s"$root/index", queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet === Ann.knnIvfPq(emb, numQueries = 5, k = 3, kCells = 8,
        iterations = 2, probes = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet)
    // retrain REFUSES a codes-only index (residuals can't re-encode
    // without the primary vectors)
    val exRetrain = intercept[IllegalStateException](
      StreamingAnn.retrainIndex(spark, s"$root/index", kCells = 8))
    assert(exRetrain.getMessage.contains("re-ingest"))

    def snapAdc() = StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    def snapRef() = StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 2,
      refine = Some(StreamingAnn.Refine(emb, 10))).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val wantAdc = Ann.knnIvfPq(emb, numQueries = 5, k = 3, kCells = 8,
      iterations = 2, probes = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val wantRef = Ann.knnIvfPqRefined(emb, numQueries = 5, k = 3,
      refine = 10, kCells = 8, iterations = 2, probes = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(snapAdc() === wantAdc)
    assert(snapRef() === wantRef)
    // the probed-cell scan is partition-pruned on cell, like ST7/ST8
    val plan = StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 2)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.find(_.contains("PartitionFilters"))
      .exists(_.contains("cell")), plan.take(2500))
    // parity SURVIVES compaction + eager vacuum: the compactor is
    // schema-agnostic over the code columns and the election never
    // changes an elected payload
    val out = StreamingAnn.compactIndex(spark, s"$root/index", minBatches = 2)
    assert(out.nonEmpty)
    assert(snapAdc() === wantAdc)
    StreamingAnn.vacuumGenerations(s"$root/index", grace = 0)
    assert(StreamingAnn.listLeaves(StreamingAnn.resolveRoot(s"$root/index"))
      .map(_._2).distinct.size === 2)
    assert(snapAdc() === wantAdc)
    assert(snapRef() === wantRef)
  }

  test("filtered PQ index: predicate-pruned and escalated queries equal the batch operators, incl. through compaction") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-pq-filt")
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val rows = emb.select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val queries = rows.filter(_._1 < 5).toSeq
      .map { case (v, e, _) => (v, e) }.toDF("vec_id", "embedding")
    // pre-trained full-corpus artifacts, exactly the batch chain (the
    // filtered batch operators train coarse + books on the FULL
    // corpus — rule 2 of the A14 discipline — so the artifacts match)
    val q = Ann.quantized(emb).select("vec_id", "v", "norm2")
    val cent = Ann.kmeansCentroids(q, 8, 2)
    StreamingAnn.saveModel(s"$root/model.txt", cent)
    val centMap = typedLit(cent.map { case (c, cv, _) => c -> cv }.toMap)
    val residuals = Ann.kmeansAssign(q, cent)
      .select(col("vec_id"),
        zip_with(col("v"), element_at(centMap, col("cluster")),
          (a, b) => a - b).as("v"))
    StreamingAnn.saveBooks(s"$root/books.txt",
      Ann.pqCodebooksFromQ(residuals, Ann.PqK, 2))

    val input = MemoryStream[(Long, Seq[Float], Int)]
    val qy = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding", "label"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt",
      attrs = Seq("label"), layout = StreamingAnn.Pq(s"$root/books.txt"))
    try {
      (0 until 4).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b).toSeq: _*)
        qy.processAllAvailable()
      }
    } finally qy.stop()

    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    // filtered parity: filter∘encode == encode∘filter under the frozen
    // artifacts, so the stored-code scan equals the batch operator's
    // re-encode of the filtered source — bit-for-bit
    val pred = col("label") === 7
    val wantF = snap(Ann.knnIvfPqFiltered(emb, numQueries = 5, k = 5,
      pred, probes = 2))
    assert(snap(StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 5, predicate = Some(pred),
      probes = 2)) === wantF)
    // escalated parity at probes = 1 (escalation genuinely fires)
    val wantE = snap(Ann.knnIvfPqFilteredEscalated(emb, numQueries = 5,
      k = 5, pred, probes = 1))
    def gotE() = snap(StreamingAnn.queryIndex(spark,
      s"$root/index", queries,
      k = 5, predicate = Some(pred), escalate = true, probes = 1))
    assert(gotE() === wantE)
    // forced-dry: a 3-id pool with k = 5 — every query escalates to
    // full coverage and returns exactly the pool (minus itself), the
    // same SET as the batch forced-dry construction
    val ids = Seq(10L, 11L, 12L)
    val predSmall = col("vec_id").isInCollection(ids)
    val dry = StreamingAnn.queryIndex(spark,
      s"$root/index", queries,
      k = 5, predicate = Some(predSmall), escalate = true, probes = 1).collect()
    val byQ = dry.groupBy(_.getAs[Long]("q_id"))
    (0L until 5L).foreach { qid =>
      val pool = ids.count(_ != qid)
      assert(byQ.get(qid).map(_.length).getOrElse(0) === math.min(5, pool),
        s"query $qid under-returned")
    }
    assert(dry.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
      === snap(Ann.knnIvfPqFilteredEscalated(emb, 5, 5, predSmall,
        probes = 1)).map(t => (t._1, t._3)))
    // parity survives compaction + eager vacuum
    assert(StreamingAnn.compactIndex(spark, s"$root/index",
      minBatches = 2).nonEmpty)
    StreamingAnn.vacuumGenerations(s"$root/index", grace = 0)
    assert(gotE() === wantE)
  }

  test("index stats: leaf/row/share per cell, manifest-consistent with queries") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-stats")
    val rows = embRows
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt")
    try {
      (0 until 3).foreach { b =>
        input.addData(rows.filter(_._1 % 3 == b).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val stats = StreamingAnn.indexStats(spark, s"$root/index").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // recount from the raw leaves
    val leaves = StreamingAnn.listLeaves(StreamingAnn.resolveRoot(s"$root/index"))
    val idx = spark.read.parquet(StreamingAnn.resolveRoot(s"$root/index"))
    val rowsPerCell = idx.groupBy("cell").count().collect()
      .map(r => (r.get(0).toString.toLong, r.getLong(1))).toMap
    assert(stats.keySet === rowsPerCell.keySet)
    stats.foreach { case (c, (nl, nr, bp)) =>
      assert(nl === leaves.count(_._1 == c).toLong, s"cell $c leaves")
      assert(nr === rowsPerCell(c), s"cell $c rows")
      assert(bp === nr * 10000 / rows.length, s"cell $c share")
    }
    // after a compaction the stats must describe the QUERY-visible
    // index (the serving generation, no double count), and vacuum must
    // not change what they describe
    val out = StreamingAnn.compactIndex(spark, s"$root/index", 2)
    assert(out.nonEmpty)
    val statsAfter = StreamingAnn.indexStats(spark, s"$root/index").collect()
    assert(statsAfter.map(_.getLong(2)).sum === rows.length.toLong,
      "stats double-counted the old generation's leaves")
    StreamingAnn.vacuumGenerations(s"$root/index", grace = 0)
    assert(StreamingAnn.indexStats(spark, s"$root/index").collect()
      .map(_.getLong(2)).sum === rows.length.toLong)
  }

  test("compaction delete-race closed: a reader planned pre-compaction survives") {
    // a reader's resolved generation and file listing are a plan-time
    // snapshot; a compaction running to COMPLETION before the reader
    // executes must not delete a file that snapshot still expects
    // (failed scan, or silently partial results under
    // ignoreMissingFiles). The cutover leaves the old generation on
    // disk, so the planned reader returns the correct pre-compaction
    // view.
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-race")
    val rows = embRows
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt")
    try {
      (0 until 4).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val queries = rows.filter(_._1 < 5).toSeq.toDF("vec_id", "embedding")
    def fresh() = StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 2)
    def toSet(rs: Array[org.apache.spark.sql.Row]) = rs
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val before = toSet(fresh().collect())
    // plan NOW (resolved generation + eager file listing), execute LATER
    val planned = fresh()
    val out = StreamingAnn.compactIndex(spark, s"$root/index", minBatches = 2)
    assert(out.nonEmpty)
    // the pre-compaction reader executes against intact files and
    // returns the correct pre-compaction view
    assert(toSet(planned.collect()) === before,
      "a reader planned before the compaction lost rows")
    // fresh readers see the post-compaction view — same results
    assert(toSet(fresh().collect()) === before)
    // the owner vacuum reclaims the grace-period leaves; readers
    // planned AFTER it still agree, and the leaf bound holds
    assert(StreamingAnn.vacuumGenerations(s"$root/index", grace = 0) > 0)
    assert(toSet(fresh().collect()) === before)
    StreamingAnn.listLeaves(StreamingAnn.resolveRoot(s"$root/index")).groupBy(_._1).foreach {
      case (c, ls) => assert(ls.size <= 2, s"cell $c leaves: $ls")
    }
  }

  test("vacuum grace counts generations: older generations reclaimed, newest kept") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmpDir("st-ann-grace")
    handBuiltGen0(s"$root/index", "full", kCells = 1, dims = 4)
    def leaf(batch: Long, vecs: Seq[Long]): Unit =
      vecs.map(v => (v, Seq(v * 1000L, 0L, 0L, 0L)))
        .toDF("vec_id", "v")
        .withColumn("norm2", graft.functions.VecOps.intDot(col("v"), col("v")))
        .withColumn("cell", lit(0L))
        .withColumn("ingest_batch", lit(batch))
        .write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").partitionBy("cell", "ingest_batch")
        .parquet(StreamingAnn.resolveRoot(s"$root/index"))
    def gen(n: Int) = java.nio.file.Paths.get(s"$root/index/gen-$n")
    leaf(0L, Seq(1L)); leaf(1L, Seq(2L)); leaf(2L, Seq(3L))
    // generation 1, then 2 — each compaction keeps the newest delivery
    assert(StreamingAnn.compactIndex(spark, s"$root/index",
      minBatches = 2).nonEmpty)
    leaf(3L, Seq(4L)); leaf(4L, Seq(5L))
    assert(StreamingAnn.compactIndex(spark, s"$root/index",
      minBatches = 2).nonEmpty)
    // a crashed (unflipped) generation 3 above the serving one
    leaf(5L, Seq(6L)); leaf(6L, Seq(7L))
    StreamingAnn.compactIndexImpl(spark, s"$root/index", 2, crashPoint = 2)
    assert(StreamingAnn.readCurrentGen(s"$root/index") === Some(2L))
    assert(java.nio.file.Files.exists(gen(3)))
    // grace=2 keeps generations 1 and 0; the unflipped build is always
    // reclaimed
    assert(StreamingAnn.vacuumGenerations(s"$root/index", grace = 2) === 1)
    assert(!java.nio.file.Files.exists(gen(3)))
    assert(java.nio.file.Files.exists(gen(1)) && java.nio.file.Files.exists(gen(0)))
    // grace=1: generation 0 reclaimed, generation 1 kept
    assert(StreamingAnn.vacuumGenerations(s"$root/index", grace = 1) === 1)
    assert(!java.nio.file.Files.exists(gen(0)) && java.nio.file.Files.exists(gen(1)))
    // grace=1 again with no new generation: nothing more to reclaim
    assert(StreamingAnn.vacuumGenerations(s"$root/index", grace = 1) === 0)
    // grace=0 clears the rest; the serving generation holds every vec
    assert(StreamingAnn.vacuumGenerations(s"$root/index", grace = 0) === 1)
    assert(!java.nio.file.Files.exists(gen(1)))
    assert(spark.read.parquet(StreamingAnn.resolveRoot(s"$root/index"))
      .select("vec_id").distinct().count() === 7L)
  }

  test("layout stamps: wrong-flavor queries and ingests refused; a dir with no _current holds no index") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-layout")
    val rows = embRows
    // a stamped FULL index (written by ivfIngest)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt")
    try { input.addData(rows.take(30).toSeq: _*); q.processAllAvailable() }
    finally q.stop()
    assert(StreamingAnn.readLayout(StreamingAnn.resolveRoot(s"$root/index"))
      === Some(("full", 8, 64)))
    val queries = rows.filter(_._1 < 3).toSeq.toDF("vec_id", "embedding")
    // the pq-only options are refused on a full generation with the
    // stamp's own description: a query refine and a retrain primary
    val e1 = intercept[IllegalStateException] {
      StreamingAnn.queryIndex(spark, s"$root/index", queries, k = 3,
        refine = Some(StreamingAnn.Refine(queries)))
    }
    assert(e1.getMessage.contains("layout=full"), e1.getMessage)
    val eRetrain = intercept[IllegalStateException] {
      StreamingAnn.retrainIndex(spark, s"$root/index", kCells = 8,
        primary = Some(rows.toSeq.toDF("vec_id", "embedding")))
    }
    assert(eRetrain.getMessage.contains("layout=full"), eRetrain.getMessage)
    assert(StreamingAnn.readCurrentGen(s"$root/index") === Some(0L))
    // an ingest of another layout, or of vectors of another length,
    // never appends to the generation
    for ((tag, layout, data) <- Seq(
        ("sq8", StreamingAnn.Sq8, rows.take(5).toSeq),
        ("dims", StreamingAnn.Full,
          rows.take(5).toSeq.map { case (id, e) => (id, e.take(32)) }))) {
      val input2 = MemoryStream[(Long, Seq[Float])]
      val q2 = StreamingAnn.ivfIngest(input2.toDS().toDF("vec_id", "embedding"),
        s"$root/model.txt", s"$root/index", s"$root/ckpt-$tag", 8, 2, Nil, layout)
      val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        try { input2.addData(data: _*); q2.processAllAvailable() }
        finally q2.stop()
      }
      assert(e2.getMessage.contains("refusing to mix"), s"$tag: ${e2.getMessage}")
    }
    // a dir with no _current holds no index, whatever else sits in it:
    // the query is refused with a message that names the dir
    val bare = s"$root/bare"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(bare, "gen-0"))
    val e3 = intercept[IllegalStateException] {
      StreamingAnn.queryIndex(spark, bare, queries, k = 3)
    }
    assert(e3.getMessage.contains(bare), e3.getMessage)
  }

  test("compactIfNeeded: indexStats' leaf signal drives the compaction cadence") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-auto")
    val rows = embRows
    val bound = 3
    def visibleLeafMax(): Int =
      StreamingAnn.listLeaves(StreamingAnn.resolveRoot(s"$root/index"))
        .groupBy(_._1).valuesIterator.map(_.size).maxOption.getOrElse(0)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt")
    var compactions = 0
    var noops = 0
    try {
      (0 until 8).foreach { b =>
        input.addData(rows.filter(_._1 % 8 == b).toSeq: _*)
        q.processAllAvailable()
        val out = StreamingAnn.compactIfNeeded(spark, s"$root/index",
          maxLeavesPerCell = bound, minBatches = 2, vacuumGrace = 0)
        if (out.nonEmpty) compactions += 1 else noops += 1
        // the policy holds the visible leaf bound after every epoch
        assert(visibleLeafMax() <= bound,
          s"epoch $b: ${visibleLeafMax()} leaves in the worst cell")
      }
    } finally q.stop()
    assert(compactions >= 1, "the bound was never exceeded — weak test")
    assert(noops >= 1, "every epoch compacted — the trigger is not a trigger")
    // results intact through the whole maintenance cadence
    val queries = rows.filter(_._1 < 5).toSeq.toDF("vec_id", "embedding")
    val res = StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 8).collect()
    assert(res.nonEmpty)
    assert(spark.read.parquet(StreamingAnn.resolveRoot(s"$root/index"))
      .select("vec_id").distinct().count() === rows.length.toLong)
  }

  test("replayed leaf after compaction: queries elect one copy, results unchanged") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-dupleaf")
    val rows = embRows
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt")
    try {
      (0 until 5).foreach { b =>
        input.addData(rows.filter(_._1 % 5 == b).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val queries = rows.filter(_._1 < 5).toSeq.toDF("vec_id", "embedding")
    def snap() = StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val before = snap()
    assert(StreamingAnn.compactIndex(spark, s"$root/index",
      minBatches = 2).nonEmpty)
    assert(snap() === before)
    // a fresh lineage re-delivers batch-2's data as ITS batch 0: the
    // compacted output already holds those vectors, so the index now
    // physically duplicates them
    val input2 = MemoryStream[(Long, Seq[Float])]
    val q2 = StreamingAnn.ivfIngest(
      input2.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt-redeliver")
    try {
      input2.addData(rows.filter(_._1 % 5 == 2).toSeq: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val idx = spark.read.parquet(StreamingAnn.resolveRoot(s"$root/index"))
    assert(idx.count() > idx.select("vec_id").distinct().count(),
      "expected physical duplicate copies after the re-delivery")
    // queries elect one copy per candidate (newest-wins): identical
    // results, and no neighbor ever appears twice however deep k goes
    assert(snap() === before)
    val deep = StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = Int.MaxValue, probes = 8).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(deep.length === deep.distinct.length,
      "a duplicated candidate surfaced twice in one query's ranking")
  }

  test("randomized model check: visibility invariant across ingest/replay/crash/recovery") {
    // default one seed in the suite; hunts run many:
    //   GRAFT_MODEL_SEEDS=0,1,2,3,4,5,6,7 sbt "testOnly graft.StreamingAnnSpec -- -z randomized"
    val seeds = sys.env.getOrElse("GRAFT_MODEL_SEEDS", "42")
      .split(",").toSeq.map(_.trim.toLong)
    seeds.foreach(runModelCheck(_))
  }

  test("randomized model check over a pq-stamped index: same invariant, real re-encode retrain") {
    // the pq layout shares every piece of index machinery (compaction,
    // generations, vacuum) but ranks and assigns by squared L2 and
    // refuses IN-PLACE retrain — the op sequence runs against real
    // code-schema leaves, and the retrain op asserts the in-place
    // refusal then exercises the REAL re-encode-from-primary path
    // (retrainIndex with a primary) with random crash seams
    val seeds = sys.env.getOrElse("GRAFT_MODEL_SEEDS", "42")
      .split(",").toSeq.map(_.trim.toLong)
    seeds.foreach(runModelCheck(_, layout = "pq"))
  }

  private def runModelCheck(seed: Long, layout: String = "full"): Unit = {
    val spark0 = spark
    import spark0.implicits._
    val root = tmpDir(s"st-ann-model-$layout-$seed")
    val dims = 4
    val rnd = new scala.util.Random(seed)
    val NVecs = 12
    // payload encodes (vec, delivering batch): a replay of batch b
    // rewrites b's ORIGINAL payload (deterministic assignment under a
    // frozen model), so the newest-visible copy of vec must always
    // decode to the max batch that delivered it
    def payload(vec: Long, b: Long): Seq[Long] =
      Seq(vec * 1000L, b * 1000L, 0L, 0L)
    // hand-built generation 0 (a fixed 2-cell "model"); compaction and
    // retrain ops flip the serving generation root
    handBuiltGen0(s"$root/index", layout, kCells = 2, dims = dims)
    def idxRoot(): String = StreamingAnn.resolveRoot(s"$root/index")
    def genOf(r: String): Long = r.stripPrefix(s"$root/index/gen-").toLong
    // the pq mode writes the CODE leaf schema (c0..c3 + a `pl`
    // attribute column): the machinery under test is schema-agnostic,
    // and `pl` — which the real re-encode retrain carries through from
    // the primary store as an attr — is what keeps the
    // delivering batch decodable across a real re-encode rebuild
    // (post-retrain c0..c3 are genuine ADC codes, opaque by design)
    def writeLeaf(b: Long, vecs: Seq[Long]): Unit = {
      val base =
        if (layout == "pq")
          vecs.map(v => (v, v * 1000L, b * 1000L, 0L, 0L, b * 1000L))
            .toDF("vec_id", "c0", "c1", "c2", "c3", "pl")
        else
          vecs.map(v => (v, payload(v, b))).toDF("vec_id", "v")
            .withColumn("norm2",
              graft.functions.VecOps.intDot(col("v"), col("v")))
      base
        .withColumn("cell", col("vec_id") % 2) // fixed 2-cell "model"
        .withColumn("ingest_batch", lit(b))
        .write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").partitionBy("cell", "ingest_batch")
        .parquet(idxRoot()) // the resolved serving generation
    }
    // the reader's view, exactly as the query paths build it: every
    // leaf of the serving generation, then the newest-wins election the
    // candidate join applies — several copies of a vec may sit in the
    // generation (a replay re-materializes a leaf the rebuilt leaf
    // already holds); the elected copy is max (effective batch, id)
    def visibleRows(): Map[Long, Long] = {
      val idx = spark.read.parquet(idxRoot())
      val payloadCol =
        if (layout == "pq") col("pl") else col("v").getItem(1)
      val rows = idx.select(col("vec_id"), payloadCol.as("pb"),
          col("ingest_batch").cast("long").as("src_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1) / 1000L, r.getLong(2)))
      rows.groupBy(_._1).map { case (v, copies) =>
        v -> copies.maxBy { case (_, _, src) =>
          (StreamingAnn.effOf(src), src) }._2
      }
    }
    // model-side mirror of every leaf of the serving generation (leaf
    // id -> vec -> delivering raw batch). A cutover replaces it with
    // the new generation's leaves, whose elected payloads it must keep —
    // exactly what the invariant checks. A cross-lineage overwrite of a
    // live same-id leaf REPLACES the entry (last-writer-wins, the
    // documented single-owner contract).
    val perLeaf =
      scala.collection.mutable.Map.empty[Long, Map[Long, Long]]
    // dynamic partition overwrite replaces ONLY the (cell, batch)
    // partitions present in the new write: old rows of the same batch
    // id in untouched cells survive on disk, and the model must too
    // (within a lineage the cell set is identical — deterministic
    // assignment — so this is the documented cross-lineage
    // mixed-leaf case)
    def modelWrite(b: Long, vecs: Seq[Long]): Unit = {
      val newCells = vecs.map(_ % 2).toSet
      val kept = perLeaf.getOrElse(b, Map.empty)
        .filterNot { case (v, _) => newCells.contains(v % 2) }
      perLeaf(b) = kept ++ vecs.map(_ -> b)
    }
    // the documented election over a set of leaves: per vec, the copy
    // in the leaf with max (effective batch, id). Within a lineage this
    // is exactly "max delivering batch" (raw ids only grow past every
    // rebuilt leaf's eff); across lineage RESETS a rebuilt leaf
    // legitimately shadows the fresh lineage's smaller batch ids
    // (re-delivering changed content from a fresh lineage is outside
    // the contract — the election's documented caveat), and the model
    // must shadow identically
    def elect(leaves: Iterable[(Long, Map[Long, Long])]): Map[Long, Long] =
      leaves.toSeq
        .flatMap { case (id, m) => m.map { case (v, pb) => (v, id, pb) } }
        .groupBy(_._1).map { case (v, copies) =>
          v -> copies.maxBy { case (_, id, _) =>
            (StreamingAnn.effOf(id), id) }._3
        }
    val batchContents = scala.collection.mutable.Map.empty[Long, Seq[Long]]
    var nextBatch = 0L
    def expect(): Unit = {
      if (perLeaf.isEmpty) return // nothing ingested yet — no leaves
      assert(StreamingAnn.listLeaves(idxRoot()).map(_._2).toSet
        === perLeaf.keySet, s"seed $seed")
      // the keySet equality is election-independent: no vec is ever
      // lost or resurrected
      val want = elect(perLeaf)
      val vis = visibleRows()
      assert(vis.keySet === want.keySet, s"seed $seed")
      want.foreach { case (v, b) =>
        assert(vis(v) === b,
          s"seed $seed: vec $v visible from batch ${vis(v)}, newest $b")
      }
    }
    // in-flight readers: a reader's plan-time snapshot is its
    // generation and that generation's file listing; every op EXCEPT
    // the two documented, priced deletion paths (vacuumGenerations
    // outside its grace window; a replay's idempotent rewrite of its
    // own leaf) must leave every snapshotted file on disk
    def snapshot(): (Long, Set[java.nio.file.Path]) = {
      val r = idxRoot()
      genOf(r) -> StreamingAnn.listLeaves(r).flatMap { case (c, b) =>
        val s = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$r/cell=$c/ingest_batch=$b"))
        try s.iterator().asScala.toSeq.filter(
          _.getFileName.toString.endsWith(".parquet"))
        finally s.close()
      }.toSet
    }
    // the generation dirs on disk
    def builds(): Seq[Long] = {
      val dir = java.nio.file.Paths.get(s"$root/index")
      if (!java.nio.file.Files.exists(dir)) Nil
      else {
        val s = java.nio.file.Files.list(dir)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("gen-")).map(_.stripPrefix("gen-").toLong).toSeq
        finally s.close()
      }
    }
    val readerSnapshots =
      scala.collection.mutable.ListBuffer.empty[(Long, Set[java.nio.file.Path])]
    (0 until 200).foreach { step =>
      val priorLeafIds = StreamingAnn.listLeaves(idxRoot()).map(_._2).toSet
      val opCode = rnd.nextInt(7)
      if (sys.env.contains("GRAFT_MODEL_TRACE"))
        println(s"MODELTRACE step=$step op=$opCode nextBatch=$nextBatch " +
          s"gen=${genOf(idxRoot())} leaves=${priorLeafIds.toSeq.sorted.mkString("/")}")
      opCode match {
        case 0 => // new batch of the live lineage
          val vecs = (0 until NVecs).filter(_ => rnd.nextBoolean())
            .map(_.toLong)
          if (vecs.nonEmpty) {
            writeLeaf(nextBatch, vecs)
            // after a lineage reset the raw id may name a live leaf
            if (priorLeafIds.contains(nextBatch)) readerSnapshots.clear()
            batchContents(nextBatch) = vecs
            modelWrite(nextBatch, vecs)
            nextBatch += 1
          }
        case 1 => // replay of an earlier batch of THIS lineage
          if (batchContents.nonEmpty) {
            val b = batchContents.keys.toSeq(rnd.nextInt(batchContents.size))
            writeLeaf(b, batchContents(b)) // idempotent rewrite
            modelWrite(b, batchContents(b))
            readerSnapshots.clear() // rewrite replaces the leaf's files
            // re-delivery may re-materialize a compacted-away leaf next
            // to the rebuilt leaf (raw beats rebuilt on an effective
            // tie): either way the elected payload is unchanged
          }
        case 2 => // compaction, possibly crashing at either seam
          val cp = rnd.nextInt(3) // 0 = cutover, 1..2 = unflipped build
          val out = StreamingAnn.compactIndexImpl(spark, s"$root/index",
            minBatches = 2, crashPoint = cp)
          if (cp == 0) out.foreach { outId =>
            // the new generation: the aged leaves merged under outId by
            // the survivor rule, the newest delivery kept as it is
            val tail = perLeaf.keys.filter(_ >= 0).max
            val aged = perLeaf.keys.filter(_ != tail).toSeq
            val merged = elect(aged.map(id => id -> perLeaf(id)))
            perLeaf --= aged
            perLeaf(outId) = merged
          }
          // cp 1/2: an unreferenced build — invisible, model unchanged
        case 3 => // vacuum at a random grace (0 = eager reclaim)
          val grace = rnd.nextInt(3)
          val cur = genOf(idxRoot())
          StreamingAnn.vacuumGenerations(s"$root/index", grace)
          // readers of a reclaimed generation are the priced loss;
          // readers inside the grace window keep every file
          readerSnapshots.filterInPlace { case (g, _) => g >= cur - grace }
          assert(builds().forall(g => g <= cur && g >= cur - grace),
            s"seed $seed step $step: vacuum left ${builds()} around gen $cur")
        case 4 => // lineage reset: fresh checkpoint, batch ids restart at 0
          nextBatch = 0L
          batchContents.clear() // replays come from the live lineage only
        case 5 => // a reader plans here; its files must survive
          readerSnapshots += snapshot()
        case 6 if layout == "pq" => // pq retrain: refusal + real re-encode
          if (perLeaf.nonEmpty) {
            // the in-place entry point must still REFUSE a code index
            // (writes nothing — model unchanged, snapshots intact)
            val ex = intercept[IllegalStateException](
              StreamingAnn.retrainIndexImpl(spark, s"$root/index",
                kCells = 2, iterations = 1, crashPoint = 0))
            assert(ex.getMessage.contains("re-ingest"), ex.getMessage)
            // the REAL maintenance path: re-encode from a primary store
            // holding the elected view. Embeddings are the 4-long
            // payload padded to the 64-dim PQ geometry; the `pl` attr
            // rides through the rebuild, so post-retrain rows keep
            // decoding to their elected delivering batch
            val elected = elect(perLeaf)
            val primary = elected.toSeq.map { case (v, b) =>
              (v, (payload(v, b) ++ Seq.fill(60)(0L)).map(_.toFloat / 1000f),
                b * 1000L)
            }.toDF("vec_id", "embedding", "pl")
            val cp = rnd.nextInt(3) // 0 = cutover, 1..2 = crash seams
            val (_, outId) = StreamingAnn.retrainIndexImpl(spark,
              s"$root/index", kCells = 2, iterations = 1,
              primary = Some(primary), pqK = 4, crashPoint = cp)
            if (cp == 0) {
              // the new generation holds exactly the elected view
              // under ONE rebuilt leaf id; nothing deleted
              perLeaf.clear()
              perLeaf(outId) = elected
            }
          }
        case 6 => // retrain with a random crash seam (0 = committed)
          if (perLeaf.nonEmpty) {
            val cp = rnd.nextInt(3) // 0 = cutover, 1..2 = crash seams
            val (_, outId) = StreamingAnn.retrainIndexImpl(spark,
              s"$root/index", kCells = 2, iterations = 1, crashPoint = cp)
            if (cp == 0) {
              // the new generation holds exactly the elected view,
              // under ONE rebuilt leaf id; retrain deletes nothing, so
              // reader snapshots must survive un-cleared
              val elected = elect(perLeaf)
              perLeaf.clear()
              perLeaf(outId) = elected
            }
          }
      }
      readerSnapshots.foreach(_._2.foreach { p =>
        assert(java.nio.file.Files.exists(p),
          s"seed $seed step $step: file deleted under an in-flight reader: $p")
      })
      expect() // the reader invariant must hold after EVERY op
    }
  }

  test("empty first batch trains nothing; unparseable model reads as None") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = embRows
    // the same empty-then-non-empty sequence through every layout's
    // ingest: (layout, start(stream, root, checkpointDir))
    val ingests: Seq[(String, (org.apache.spark.sql.DataFrame, String,
        String) => org.apache.spark.sql.streaming.StreamingQuery)] = Seq(
      "full" -> ((df, root, ckpt) => StreamingAnn.ivfIngest(df,
        s"$root/model.txt", s"$root/index", ckpt)),
      "sq8" -> ((df, root, ckpt) => StreamingAnn.ivfIngest(df,
        s"$root/model.txt", s"$root/index", ckpt, layout = StreamingAnn.Sq8)),
      "pq" -> ((df, root, ckpt) => StreamingAnn.ivfIngest(df,
        s"$root/model.txt", s"$root/index", ckpt,
        layout = StreamingAnn.Pq(s"$root/books.txt"))))
    for ((layout, ingest) <- ingests) {
      val root = tmpDir(s"st-ann-empty-$layout")
      def exists(p: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(p))
      // the filter empties batch 0 AFTER it fires: the guard must skip
      // training and persist no model
      val input = MemoryStream[(Long, Seq[Float])]
      val q = ingest(
        input.toDS().toDF("vec_id", "embedding").filter(col("vec_id") < 0),
        root, s"$root/ckpt")
      try {
        input.addData(rows.take(20).toSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
      assert(StreamingAnn.loadModel(s"$root/model.txt").isEmpty, layout)
      assert(!exists(s"$root/index"), layout)
      // no codebooks either, durable or generation-local
      assert(!exists(s"$root/books.txt") && !exists(s"$root/index/gen-0/_pqbooks"),
        layout)
      // the first NON-empty batch (a fresh lineage) trains and persists
      val input2 = MemoryStream[(Long, Seq[Float])]
      val q2 = ingest(input2.toDS().toDF("vec_id", "embedding"), root,
        s"$root/ckpt2")
      try {
        input2.addData(rows.take(20).toSeq: _*)
        q2.processAllAvailable()
      } finally q2.stop()
      assert(StreamingAnn.loadModel(s"$root/model.txt").nonEmpty, layout)
      assert(StreamingAnn.loadBooks(s"$root/books.txt").nonEmpty ===
        (layout == "pq"), layout)
      assert(StreamingAnn.readLayout(StreamingAnn.resolveRoot(s"$root/index"))
        .map(_._1) === Some(layout))
    }
    val root = tmpDir("st-ann-empty")
    // torn/garbage artifacts read as None, never crash the stream
    val torn = s"$root/torn.txt"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(torn), "")
    assert(StreamingAnn.loadModel(torn).isEmpty)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(torn), "not|a,valid|model|line")
    assert(StreamingAnn.loadModel(torn).isEmpty)
  }

  test("filtered parity: on-disk filtered query equals the batch filtered operator bit-for-bit") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-filtered")
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val rows = emb.select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val queries = rows.filter(_._1 < 5).toSeq
      .map(t => (t._1, t._2)).toDF("vec_id", "embedding")
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

    // whole corpus as ONE batch, label riding the leaves as a data col
    val input = MemoryStream[(Long, Seq[Float], Int)]
    val q = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding", "label"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt",
      kCells = 8, iterations = 2, attrs = Seq("label"))
    try { input.addData(rows.toSeq: _*); q.processAllAvailable() }
    finally q.stop()

    // the leaf schema carries the attribute
    assert(spark.read.parquet(StreamingAnn.resolveRoot(s"$root/index"))
      .columns.contains("label"))

    // filtered on-disk query == batch filtered operator, bit-for-bit,
    // at both selectivity shapes
    for ((pred, probes) <- Seq(
        (col("label") === 7, 2), (col("label") < 5, 1))) {
      val got = StreamingAnn.queryIndex(spark, s"$root/index",
        queries, k = 3, predicate = Some(pred), probes = probes)
      val want = Ann.knnIvfTrainedFiltered(emb, numQueries = 5, k = 3,
        pred, kCells = 8, iterations = 2, probes = probes)
      assert(snap(got) === snap(want), s"pred=$pred probes=$probes")
    }

    // the predicate reaches the parquet scan as a pushed data filter
    // NEXT TO the cell PartitionFilters — filter-then-score, never a
    // post-filter of the finished top-k
    val plan = StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, predicate = Some(col("label") === 7), probes = 2)
      .queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PushedFilters"))
    assert(scanLine.exists(_.contains("label")), plan.take(2500))
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell")), plan.take(2500))

    // attributes SURVIVE COMPACTION (the schema-agnostic merge): a
    // separate 3-batch index so the compactor has aged leaves beyond
    // the exempted newest delivery; both query paths must return the
    // SAME rows before and after compact+vacuum
    val input2 = MemoryStream[(Long, Seq[Float], Int)]
    val q2 = StreamingAnn.ivfIngest(
      input2.toDS().toDF("vec_id", "embedding", "label"),
      s"$root/model2.txt", s"$root/index2", s"$root/ckpt2",
      kCells = 8, iterations = 2, attrs = Seq("label"))
    try {
      (0 until 3).foreach { b =>
        input2.addData(rows.filter(_._1 % 3 == b).toSeq: _*)
        q2.processAllAvailable()
      }
    } finally q2.stop()
    val un0 = snap(StreamingAnn.queryIndex(spark, s"$root/index2",
      queries, k = 3, probes = 2))
    val f0 = snap(StreamingAnn.queryIndex(spark, s"$root/index2",
      queries, k = 3, predicate = Some(col("label") === 7), probes = 2))
    assert(StreamingAnn.compactIndex(spark, s"$root/index2",
      minBatches = 2).nonEmpty)
    StreamingAnn.vacuumGenerations(s"$root/index2", grace = 0)
    assert(spark.read.parquet(StreamingAnn.resolveRoot(s"$root/index2"))
      .columns.contains("label"))
    assert(snap(StreamingAnn.queryIndex(spark, s"$root/index2",
      queries, k = 3, probes = 2)) === un0)
    assert(snap(StreamingAnn.queryIndex(spark, s"$root/index2",
      queries, k = 3, predicate = Some(col("label") === 7),
      probes = 2)) === f0)
  }

  test("filtered SQ8 parity: predicate-pruned query equals an index built from only the matching rows") {
    // Same FROZEN model on both sides (pre-trained on the full corpus,
    // then handed to both ingests), so the filtered query over the
    // full index must return exactly what a full query over the
    // matching-rows-only index returns: the predicate prunes the scan,
    // nothing else.
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-sq-filtered")
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val rows = emb.select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val queries = rows.filter(_._1 < 5).toSeq
      .map(t => (t._1, t._2)).toDF("vec_id", "embedding")
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

    // train the shared model once, on the full corpus
    def ingest(tag: String, data: Seq[(Long, Seq[Float], Int)],
        attrs: Seq[String]): Unit = {
      val input = MemoryStream[(Long, Seq[Float], Int)]
      val q = graft.streaming.StreamingAnn.ivfIngest(
        input.toDS().toDF("vec_id", "embedding", "label"),
        s"$root/model.txt", s"$root/$tag", s"$root/ckpt-$tag",
        kCells = 8, iterations = 2, attrs = attrs, layout = StreamingAnn.Sq8)
      try { input.addData(data: _*); q.processAllAvailable() }
      finally q.stop()
    }
    ingest("full", rows.toSeq, attrs = Seq("label"))   // trains the model
    ingest("only7", rows.filter(_._3 == 7).toSeq, attrs = Nil) // reuses it

    val got = snap(StreamingAnn.queryIndex(spark, s"$root/full",
      queries, k = 3, predicate = Some(col("label") === 7), probes = 2))
    val want = snap(StreamingAnn.queryIndex(spark, s"$root/only7",
      queries, k = 3, probes = 2))
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("escalated filtered parity: on-disk escalated query equals the batch escalated operator, incl. through compaction") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-escalated")
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val rows = emb.select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val queries = rows.filter(_._1 < 5).toSeq
      .map(t => (t._1, t._2)).toDF("vec_id", "embedding")
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

    // whole corpus as ONE batch so the frozen model equals what the
    // batch operator trains on the full corpus at the same geometry
    val input = MemoryStream[(Long, Seq[Float], Int)]
    val q = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding", "label"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt",
      kCells = 8, iterations = 2, attrs = Seq("label"))
    try { input.addData(rows.toSeq: _*); q.processAllAvailable() }
    finally q.stop()

    // bit-for-bit vs the batch escalated operator: k = 8 at probes = 1
    // leaves label-7 pools (~6 rows per probed cell) genuinely short
    // for most queries, so both tiers — satisfied and escalated — are
    // exercised in one comparison
    val pred = col("label") === 7
    for (probes <- Seq(1, 2)) {
      val got = StreamingAnn.queryIndex(spark,
        s"$root/index", queries, k = 8, predicate = Some(pred), escalate = true,
        probes = probes)
      val want = Ann.knnIvfTrainedFilteredEscalated(emb, numQueries = 5,
        k = 8, pred, kCells = 8, iterations = 2, probes = probes)
      assert(snap(got) === snap(want), s"probes=$probes")
    }

    // forced-dry: a predicate whose GLOBAL pool is below k must return
    // exactly min(k, per-query matching pool) rows — the guarantee the
    // fixed-probe path cannot give (checked: it returns FEWER here)
    val dryPred = col("label") === 7 && col("vec_id") % 7 === 0
    val dryPool = rows.filter(t => t._3 == 7 && t._1 % 7 == 0)
      .map(_._1).toSet
    assert(dryPool.nonEmpty && dryPool.size < 10)
    val dry = StreamingAnn.queryIndex(spark,
      s"$root/index", queries, k = 10, predicate = Some(dryPred), escalate = true,
      probes = 1).collect()
    val perQ = dry.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    for (qId <- 0L until 5L) {
      val pool = (dryPool - qId).size // self never a neighbor
      assert(perQ.getOrElse(qId, 0) === math.min(10, pool), s"q=$qId")
      // and the returned neighbor set IS the matching pool
      val ids = dry.filter(_.getLong(0) == qId).map(_.getLong(2)).toSet
      assert(ids === (dryPool - qId), s"q=$qId")
    }
    val fixedDry = StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 10, predicate = Some(dryPred), probes = 1)
    assert(fixedDry.count() < dry.length.toLong)

    // the predicate stays a pushed data filter on the SCORED pass next
    // to the cell PartitionFilters (the count pass is audited by the
    // parity + dry results above — same helper, same scan shape)
    val plan = StreamingAnn.queryIndex(spark,
      s"$root/index", queries, k = 8, predicate = Some(pred), escalate = true,
      probes = 1).queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("label")), plan.take(2500))
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell")), plan.take(2500))

    // parity SURVIVES COMPACTION: a 3-batch index (aged leaves beyond
    // the exempted newest delivery) must return the same escalated
    // rows before and after compact+vacuum, and still match the batch
    // operator (the model is trained on batch 0 here, so compare
    // on-disk-to-on-disk across the compaction AND to itself)
    val input2 = MemoryStream[(Long, Seq[Float], Int)]
    val q2 = StreamingAnn.ivfIngest(
      input2.toDS().toDF("vec_id", "embedding", "label"),
      s"$root/model2.txt", s"$root/index2", s"$root/ckpt2",
      kCells = 8, iterations = 2, attrs = Seq("label"))
    try {
      (0 until 3).foreach { b =>
        input2.addData(rows.filter(_._1 % 3 == b).toSeq: _*)
        q2.processAllAvailable()
      }
    } finally q2.stop()
    val e0 = snap(StreamingAnn.queryIndex(spark,
      s"$root/index2", queries, k = 8, predicate = Some(pred), escalate = true,
      probes = 1))
    assert(StreamingAnn.compactIndex(spark, s"$root/index2",
      minBatches = 2).nonEmpty)
    StreamingAnn.vacuumGenerations(s"$root/index2", grace = 0)
    assert(snap(StreamingAnn.queryIndex(spark,
      s"$root/index2", queries, k = 8, predicate = Some(pred), escalate = true,
      probes = 1)) === e0)
  }

  test("escalated filtered SQ8: predicate-pruned escalation equals a matching-rows-only index; dry pool exact") {
    // The SQ analog of the escalated parity: same FROZEN full-corpus
    // model on both sides, so the escalated filtered query over the
    // full index must equal the same escalated query over an index
    // built from ONLY the matching rows (where the predicate prunes
    // nothing) — the predicate prunes the scan, nothing else, and the
    // count pass sees the identical pool either way.
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-sq-escalated")
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val rows = emb.select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val queries = rows.filter(_._1 < 5).toSeq
      .map(t => (t._1, t._2)).toDF("vec_id", "embedding")
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

    def ingest(tag: String, data: Seq[(Long, Seq[Float], Int)]): Unit = {
      val input = MemoryStream[(Long, Seq[Float], Int)]
      val q = StreamingAnn.ivfIngest(
        input.toDS().toDF("vec_id", "embedding", "label"),
        s"$root/model.txt", s"$root/$tag", s"$root/ckpt-$tag",
        kCells = 8, iterations = 2, attrs = Seq("label"), layout = StreamingAnn.Sq8)
      try { input.addData(data: _*); q.processAllAvailable() }
      finally q.stop()
    }
    ingest("full", rows.toSeq)                        // trains the model
    ingest("only7", rows.filter(_._3 == 7).toSeq)     // reuses it

    val pred = col("label") === 7
    val got = snap(StreamingAnn.queryIndex(spark,
      s"$root/full", queries, k = 8, predicate = Some(pred), escalate = true,
      probes = 1))
    val want = snap(StreamingAnn.queryIndex(spark,
      s"$root/only7", queries, k = 8, predicate = Some(pred), escalate = true,
      probes = 1))
    assert(got === want)
    assert(got.nonEmpty)

    // min(k, pool) on the SQ layout too: same dry construction as the
    // full-precision spec — escalation semantics are layout-invariant
    val dryPred = pred && col("vec_id") % 7 === 0
    val dryPool = rows.filter(t => t._3 == 7 && t._1 % 7 == 0)
      .map(_._1).toSet
    val dry = StreamingAnn.queryIndex(spark,
      s"$root/full", queries, k = 10, predicate = Some(dryPred), escalate = true,
      probes = 1).collect()
    for (qId <- 0L until 5L) {
      val ids = dry.filter(_.getLong(0) == qId).map(_.getLong(2)).toSet
      assert(ids === (dryPool - qId), s"q=$qId")
    }
  }

  test("one swap protocol: no in-place compaction state in the sources") {
    // the index directory has one crash-safety protocol, the generation
    // swap: no tombstone ledger, compaction manifest or reuse-id map is
    // written, no two-allocator id encoding decoded, and the egress
    // isFull roll has no second spelling beside SegmentRoller.roll
    // (`_compaction` quoted: the r_compaction_plan query names hold the
    // bare word)
    Seq("_tombstones", "\"_compaction\"", "graft-reuse-map", "EffScale",
      "closedBySize").foreach { needle =>
      assert(SourceScan.occurrences(needle) === 0, needle)
    }
    // every generation is a self-contained gen-N dir: no flat generation
    // 0 or hidden `_gen-N` roots, no caller model or codebook paths on
    // the query side, no legacy stamp formats or migration call
    Seq("_gen-", "FlatFiles", "modelFor(", "booksFor(", "legacyLayoutMsg",
      "ruleMismatchMsg", "stampIndexLayout", "rule=").foreach { needle =>
      assert(SourceScan.occurrences(needle) === 0, needle)
    }
    // and one cutover: the `_current` pointer is written at one site
    assert(SourceScan.matches("""(?<!def )writeCurrentGen\(""") === 1)
    // one on-disk verb per operation: ingest, query and retrain read the
    // layout from the generation's stamp, so no per-layout entry point
    // or wrong-flavor check returns
    Seq("ivfIngestSq", "ivfIngestPq", "queryIndexSq", "queryIndexPq",
      "queryIndexFiltered", "retrainIndexPq", "requireLayout").foreach { needle =>
      assert(SourceScan.occurrences(needle) === 0, needle)
    }
    // escalation is a query option, and the sq8 query codes come from
    // Ann.withInt8Cols rather than a driver-side copy of the int8 rule
    // (the batch `Ann.*FilteredEscalated` operators are not on-disk verbs)
    val streamingAnn = SourceScan.sources
      .collectFirst { case (path, text) if path.endsWith("StreamingAnn.scala") => text }
    assert(streamingAnn.nonEmpty)
    Seq("FilteredEscalated(", "HALF_UP").foreach { needle =>
      assert(!streamingAnn.get.contains(needle), needle)
    }
  }
}
