package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Ann
import graft.streaming.StreamingAnn

/** ST7/ST8 model generations: the coarse-quantizer drift path
  * (retrainIndex) — parity with the batch operators on the retrained
  * model, recall restoration under a drifted frozen model, atomic
  * crash-safe cutover, and generation vacuum.
  */
class StreamingAnnRetrainSpec extends SparkSuite {

  private def embRows: Array[(Long, Seq[Float])] = {
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
    e.map(r => (r.getLong(0), r.getSeq[Float](1)))
  }

  private def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

  test("retrain parity: post-retrain queries equal knnIvfTrained on the retrained model") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-retrain-parity")
    val rows = embRows
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val queries = rows.filter(_._1 < 5).toSeq.toDF("vec_id", "embedding")
    // frozen model trains on a 30-vector first batch — NOT the corpus
    // the batch operator trains on, so pre-retrain parity cannot hold
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt",
      kCells = 8, iterations = 2)
    try {
      input.addData(rows.filter(_._1 < 30).toSeq: _*)
      q.processAllAvailable()
      input.addData(rows.filter(_._1 >= 30).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // retrain on the full visible corpus with the batch geometry
    val gen = StreamingAnn.retrainIndex(spark, s"$root/index",
      kCells = 8, iterations = 2)
    assert(gen === 1L)
    // the retrained generation serves under its own model and must
    // equal the batch operator trained on the same corpus at equal
    // geometry
    val got = snap(StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 2))
    val want = snap(Ann.knnIvfTrained(emb, numQueries = 5, k = 3,
      kCells = 8, iterations = 2, probes = 2))
    assert(got === want)
    // post-retrain ingest continues into the new generation: a fresh
    // delivery is visible without any restart bookkeeping
    val extra = rows.take(10).map { case (id, e) => (id + 90000L, e) }
    val input2 = MemoryStream[(Long, Seq[Float])]
    val q2 = StreamingAnn.ivfIngest(
      input2.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt-post")
    try { input2.addData(extra.toSeq: _*); q2.processAllAvailable() }
    finally q2.stop()
    val genRoot = StreamingAnn.resolveRoot(s"$root/index")
    assert(genRoot.endsWith("/gen-1"))
    assert(StreamingAnn.listLeaves(genRoot).exists(_._2 >= 0L),
      "post-retrain delivery did not land in the new generation")
    // the fresh rows are byte copies of vecs 0-9: querying the
    // ORIGINALS must return their fresh twins at cos 1.0 — proof the
    // new generation serves the post-retrain delivery
    val fq = StreamingAnn.queryIndex(spark, s"$root/index",
      rows.take(2).toSeq.toDF("vec_id", "embedding"),
      k = 5, probes = 8).collect()
    val twins = fq.filter(r => r.getLong(2) >= 90000L)
    assert(twins.nonEmpty, "fresh twins not served")
    assert(twins.forall(_.getLong(3) === 10000L),
      "a fresh twin did not score cos 1.0 against its original")
  }

  test("ST9 pq retrain: re-encode-from-primary parity with the batch IVFADC at the new geometry") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-pq-retrain")
    val rows = embRows
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val queries = rows.filter(_._1 < 5).toSeq.toDF("vec_id", "embedding")
    // drifted frozen artifacts: a 30-vector first batch trains both
    // the coarse model AND the codebooks — NOT the corpus (and not
    // the geometry) the batch operator uses, so pre-retrain parity
    // cannot hold
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index",
      s"$root/ckpt", kCells = 8, iterations = 2,
      layout = StreamingAnn.Pq(s"$root/books.txt"))
    try {
      input.addData(rows.filter(_._1 < 30).toSeq: _*)
      q.processAllAvailable()
      input.addData(rows.filter(_._1 >= 30).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // drift maintenance for a codes-only index: re-encode from the
    // primary store at a NEW geometry (12 cells) — elected ids join
    // the primary, coarse + books retrain, gen-1 cuts over atomically
    val gen = StreamingAnn.retrainIndex(spark, s"$root/index",
      kCells = 12, iterations = 2, primary = Some(emb))
    assert(gen === 1L)
    // post-retrain ADC queries are bit-identical to the batch IVFADC
    // trained on the same corpus at the same (new) geometry, under
    // the generation's own _model/_pqbooks
    val got = snap(StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 2))
    val want = snap(Ann.knnIvfPq(emb, numQueries = 5, k = 3, kCells = 12,
      iterations = 2, probes = 2))
    assert(got === want)
    // ingest continues into the new generation under the gen-local
    // 12-cell artifacts, no restart bookkeeping
    val extra = rows.take(10).map { case (id, e) => (id + 90000L, e) }
    val input2 = MemoryStream[(Long, Seq[Float])]
    val q2 = StreamingAnn.ivfIngest(
      input2.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index",
      s"$root/ckpt-post", layout = StreamingAnn.Pq(s"$root/books.txt"))
    try { input2.addData(extra.toSeq: _*); q2.processAllAvailable() }
    finally q2.stop()
    val genRoot = StreamingAnn.resolveRoot(s"$root/index")
    assert(genRoot.endsWith("/gen-1"))
    assert(StreamingAnn.listLeaves(genRoot).exists(_._2 >= 0L),
      "post-retrain delivery did not land in the new generation")
    // byte-copy twins encode to the SAME codes under the frozen
    // artifacts: a deep query over the originals must surface them
    val fq = StreamingAnn.queryIndex(spark, s"$root/index",
      rows.take(2).toSeq.toDF("vec_id", "embedding"), k = 8, probes = 12)
      .collect()
    assert(fq.exists(_.getLong(2) >= 90000L), "fresh twins not served")
    // the codified drift cadence drives the SAME path through its pq
    // arm (share bound 1 bp: any non-degenerate index trips)
    val gen2 = StreamingAnn.retrainIfNeeded(spark, s"$root/index",
      maxShareBp = 1L, kCells = 12, primary = Some(emb))
    assert(gen2 === Some(2L))
    // re-encode is an INNER join against the primary: the synthetic
    // 90000+ twins are not primary rows, so the gen-2 rebuild drops
    // them — a primary-side delete propagates at retrain
    val fq2 = StreamingAnn.queryIndex(spark, s"$root/index",
      rows.take(2).toSeq.toDF("vec_id", "embedding"), k = 8, probes = 12)
      .collect()
    assert(!fq2.exists(_.getLong(2) >= 90000L),
      "a primary-dropped id survived the re-encode rebuild")
    // without a primary, the drift signal must trip the loud refusal
    // (never silently skip maintenance)
    val ex = intercept[IllegalStateException](StreamingAnn.retrainIfNeeded(
      spark, s"$root/index", maxShareBp = 1L, kCells = 12))
    assert(ex.getMessage.contains("primary = Some"), ex.getMessage)
  }

  test("retrain keeps the ingest's attribute columns on every layout") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val rows = emb.select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val queries = rows.filter(_._1 < 5).toSeq
      .map(t => (t._1, t._2)).toDF("vec_id", "embedding")
    val pred = col("label") === 7
    val label7 = rows.filter(_._3 == 7).map(_._1).toSet
    // `label` rides the leaves of two deliveries
    def ingested(layout: StreamingAnn.Layout): String = {
      val root = tmpDir(s"st-ann-retrain-attrs-${layout.name}")
      val input = MemoryStream[(Long, Seq[Float], Int)]
      val q = StreamingAnn.ivfIngest(
        input.toDS().toDF("vec_id", "embedding", "label"),
        s"$root/model.txt", s"$root/index", s"$root/ckpt",
        kCells = 8, iterations = 2, attrs = Seq("label"), layout = layout)
      try (0 until 2).foreach { b =>
        input.addData(rows.filter(_._1 % 2 == b).toSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
      s"$root/index"
    }
    def servesLabel(index: String): Unit = {
      assert(spark.read.parquet(StreamingAnn.resolveRoot(index))
        .columns.contains("label"), index)
      val got = StreamingAnn.queryIndex(spark, index, queries, k = 3,
        probes = 2, predicate = Some(pred)).collect()
      assert(got.nonEmpty && got.forall(r => label7.contains(r.getLong(2))), index)
    }
    // full: the retrained generation keeps `label`, and a filtered
    // query equals the batch filtered operator on the retrained model
    val full = ingested(StreamingAnn.Full)
    assert(StreamingAnn.retrainIndex(spark, full, kCells = 8) === 1L)
    servesLabel(full)
    assert(snap(StreamingAnn.queryIndex(spark, full, queries, k = 3,
      probes = 2, predicate = Some(pred))) === snap(Ann.knnIvfTrainedFiltered(
      emb, 5, 3, pred, kCells = 8, iterations = 2, probes = 2)))
    // sq8 retrains in code space and keeps `label` the same way
    val sq = ingested(StreamingAnn.Sq8)
    assert(StreamingAnn.retrainIndex(spark, sq, kCells = 8) === 1L)
    servesLabel(sq)
    // pq re-encodes from the primary, which must carry the leaves'
    // attribute columns: one without `label` is refused, naming it
    val pq = ingested(StreamingAnn.Pq(s"${tmpDir("st-ann-retrain-attrs-books")}/books.txt"))
    val ex = intercept[IllegalArgumentException](StreamingAnn.retrainIndex(
      spark, pq, kCells = 8, primary = Some(emb.select("vec_id", "embedding"))))
    assert(ex.getMessage.contains("label"), ex.getMessage)
    assert(StreamingAnn.readCurrentGen(pq) === Some(0L))
    assert(StreamingAnn.retrainIfNeeded(spark, pq, maxShareBp = 1L,
      kCells = 8, primary = Some(emb)) === Some(1L))
    servesLabel(pq)
  }

  test("drift: concentration collapses the scan bound; retrain at grown kCells restores it") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-retrain-drift")
    val rows = embRows
    // concentration drift: balanced-trained 8-cell model, then a
    // second delivery piles 20 byte-copies of each of the 24 vectors
    // nearest vec 0 (a crawl hitting one topic hard) — every copy
    // lands in its original's cell, the hottest cell's share
    // collapses the 1/kCells probe bound.
    def cosTo0(v: Seq[Float]): Double = {
      val a = rows(0)._2
      a.zip(v).map { case (x, y) => x.toDouble * y.toDouble }.sum /
        (math.sqrt(a.map(x => x.toDouble * x).sum) *
          math.sqrt(v.map(x => x.toDouble * x).sum))
    }
    val cone = rows.sortBy(r => -cosTo0(r._2)).take(24)
    val pile = (0 until 20).flatMap(i =>
      cone.map { case (id, e) => (id + 10000L * (i + 1), e) })
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt",
      kCells = 8, iterations = 2)
    try {
      input.addData(rows.toSeq: _*) // balanced training corpus
      q.processAllAvailable()
      input.addData(pile: _*) // the drift
      q.processAllAvailable()
    } finally q.stop()
    def maxShareBp(): Long = StreamingAnn.indexStats(spark, s"$root/index")
      .agg(max(col("share_bp"))).head().getLong(0)
    val staleShare = maxShareBp()
    assert(staleShare >= 4000L,
      s"fixture failed to concentrate the stale model (max share $staleShare bp)")
    // the remedy is the operator's own scale rule kCells ∝ corpus
    // (same-k Lloyd's from rank seeds cannot SPLIT a piled mode — no
    // seed lands inside it; growing k re-tiles the hot region, riding
    // the A13 large-K assignment path): corpus doubled, so retrain at
    // double the cells
    StreamingAnn.retrainIndex(spark, s"$root/index", kCells = 32,
      iterations = 2)
    val newShare = maxShareBp()
    info(s"max cell share: stale ${staleShare}bp -> retrained(k=32) ${newShare}bp")
    assert(newShare <= staleShare / 2,
      s"grown-k retrain did not restore the scan bound ($staleShare -> $newShare bp)")
    // and the retrained generation still answers correctly: a piled
    // vector's rank-1 neighbor is a byte-identical twin at cos 1.0
    val fq = StreamingAnn.queryIndex(spark, s"$root/index",
      cone.take(2).toSeq.toDF("vec_id", "embedding"),
      k = 5, probes = 4).collect()
    assert(fq.nonEmpty)
    assert(fq.filter(_.getInt(1) == 1).forall(_.getLong(3) === 10000L),
      "rank-1 neighbor of a piled vector is not its exact twin")
  }

  test("retrain seeds from whatever ids are visible: full kCells without ids 0..k-1") {
    // a long-lived index's visible ids need not include 0..k-1 (fresh
    // lineages offset ids; old ids get elected away): seeding must
    // rank-remap, or training silently yields fewer cells (review
    // finding) — pin the stamped kCells at the REQUESTED count
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-retrain-seeds")
    val rows = embRows.take(80).map { case (id, e) => (id + 700000L, e) }
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt")
    try { input.addData(rows.toSeq: _*); q.processAllAvailable() }
    finally q.stop()
    StreamingAnn.retrainIndex(spark, s"$root/index", kCells = 8, iterations = 1)
    val genRoot = StreamingAnn.resolveRoot(s"$root/index")
    assert(StreamingAnn.readLayout(genRoot)
      .exists { case (_, k, _) => k == 8 },
      s"stamped layout ${StreamingAnn.readLayout(genRoot)}")
    assert(StreamingAnn.loadModel(s"$genRoot/_model").exists(_.size == 8))
    // and the generation serves
    assert(StreamingAnn.queryIndex(spark, s"$root/index",
      rows.take(2).toSeq.toDF("vec_id", "embedding"), k = 3, probes = 8)
      .collect().nonEmpty)
  }

  test("retrainIfNeeded: the share signal drives the drift cadence") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-retrain-cadence")
    val rows = embRows
    def cosTo0(v: Seq[Float]): Double = {
      val a = rows(0)._2
      a.zip(v).map { case (x, y) => x.toDouble * y.toDouble }.sum /
        (math.sqrt(a.map(x => x.toDouble * x).sum) *
          math.sqrt(v.map(x => x.toDouble * x).sum))
    }
    val cone = rows.sortBy(r => -cosTo0(r._2)).take(24)
    val pile = (0 until 20).flatMap(i =>
      cone.map { case (id, e) => (id + 10000L * (i + 1), e) })
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt",
      kCells = 8, iterations = 2)
    try {
      input.addData(rows.toSeq: _*)
      q.processAllAvailable()
      input.addData(pile: _*)
      q.processAllAvailable()
    } finally q.stop()
    // concentrated share trips the bound -> retrain (at the grown k
    // the drifted corpus calls for) runs once
    val gen = StreamingAnn.retrainIfNeeded(spark, s"$root/index",
      maxShareBp = 3000, kCells = 32, iterations = 2)
    assert(gen === Some(1L))
    // the restored share sits under the bound -> the next check no-ops
    assert(StreamingAnn.retrainIfNeeded(spark, s"$root/index",
      maxShareBp = 3000, kCells = 32, iterations = 2).isEmpty)
    assert(StreamingAnn.readCurrentGen(s"$root/index") === Some(1L))
  }

  test("crash seams: an unflipped generation never serves; re-run converges; vacuum reclaims") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("st-ann-retrain-crash")
    val rows = embRows
    val queries = rows.filter(_._1 < 5).toSeq.toDF("vec_id", "embedding")
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.ivfIngest(
      input.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt")
    try { input.addData(rows.take(60).toSeq: _*); q.processAllAvailable() }
    finally q.stop()
    val before = snap(StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 8))
    // crash after the data write (no stamp, no model, no flip)
    StreamingAnn.retrainIndexImpl(spark, s"$root/index",
      kCells = 4, iterations = 1, crashPoint = 1)
    assert(StreamingAnn.readCurrentGen(s"$root/index") === Some(0L))
    assert(snap(StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 8)) === before,
      "a crashed (unflipped) retrain changed query results")
    // crash after stamp+model (complete but unreferenced generation)
    StreamingAnn.retrainIndexImpl(spark, s"$root/index",
      kCells = 4, iterations = 1, crashPoint = 2)
    assert(StreamingAnn.readCurrentGen(s"$root/index") === Some(0L))
    assert(snap(StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 8)) === before)
    // the re-run converges: deletes the partial build, commits gen-1
    val gen = StreamingAnn.retrainIndex(spark, s"$root/index",
      kCells = 4, iterations = 1)
    assert(gen === 1L)
    assert(StreamingAnn.readCurrentGen(s"$root/index") === Some(1L))
    val after = snap(StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 4))
    assert(after.nonEmpty)
    // cutover deleted nothing: generation 0's leaves are intact
    def genDir(n: Int) = java.nio.file.Paths.get(s"$root/index/gen-$n")
    assert(StreamingAnn.listLeaves(genDir(0).toString).nonEmpty,
      "cutover deleted the old generation's leaves")
    // a second retrain chains generations
    val gen2 = StreamingAnn.retrainIndex(spark, s"$root/index",
      kCells = 4, iterations = 1)
    assert(gen2 === 2L)
    assert(StreamingAnn.resolveRoot(s"$root/index").endsWith("gen-2"))
    // vacuumGenerations reclaims gen-0 and gen-1, keeps gen-2 serving
    assert(StreamingAnn.vacuumGenerations(s"$root/index") > 0)
    assert(!java.nio.file.Files.exists(genDir(0)))
    assert(!java.nio.file.Files.exists(genDir(1)))
    val served = snap(StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 4))
    assert(served.nonEmpty)

    // compaction cuts over through the same seams: the serving
    // generation takes two more deliveries, then a compaction crashes
    // after its data write (1) and after its stamp (2) — neither
    // unflipped build serves — and the re-run converges to gen-3
    val input2 = MemoryStream[(Long, Seq[Float])]
    val q2 = StreamingAnn.ivfIngest(
      input2.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt-2")
    try {
      Seq(60, 90).foreach { from =>
        input2.addData(rows.slice(from, from + 30).toSeq: _*)
        q2.processAllAvailable()
      }
    } finally q2.stop()
    val beforeCompact = snap(StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 4))
    Seq(1, 2).foreach { cp =>
      assert(StreamingAnn.compactIndexImpl(spark, s"$root/index", 2,
        crashPoint = cp).nonEmpty)
      assert(StreamingAnn.readCurrentGen(s"$root/index") === Some(2L))
      assert(java.nio.file.Files.exists(genDir(3)))
      assert(snap(StreamingAnn.queryIndex(spark, s"$root/index",
        queries, k = 3, probes = 4)) === beforeCompact,
        s"an unflipped compaction (seam $cp) changed query results")
    }
    val out = StreamingAnn.compactIndex(spark, s"$root/index", minBatches = 2)
    assert(out.nonEmpty)
    assert(StreamingAnn.readCurrentGen(s"$root/index") === Some(3L))
    // the compacted generation keeps gen-2's retrained model and layout
    assert(StreamingAnn.loadModel(s"$root/index/gen-3/_model")
      === StreamingAnn.loadModel(s"$root/index/gen-2/_model"))
    assert(StreamingAnn.readLayout(s"$root/index/gen-3")
      === StreamingAnn.readLayout(s"$root/index/gen-2"))
    assert(snap(StreamingAnn.queryIndex(spark, s"$root/index",
      queries, k = 3, probes = 4)) === beforeCompact)
    val leaves = StreamingAnn.listLeaves(StreamingAnn.resolveRoot(s"$root/index"))
    assert(leaves.map(_._2).toSet === Set(out.get, 1L))
  }

  test("vacuumGenerations sweeps crashed _current temp files, never a user file") {
    val index = java.nio.file.Paths.get(tmpDir("st-ann-vacuum-tmp"), "index")
    java.nio.file.Files.createDirectories(index.resolve("gen-1"))
    def plant(name: String, body: String) =
      java.nio.file.Files.writeString(index.resolve(name), body)
    plant("_current", "gen-1")
    plant("_current.tmp-x", "gen-2")
    plant("_tombstones.tmp-y", "0,1,2")
    plant("notes.txt", "kept")
    StreamingAnn.vacuumGenerations(index.toString)
    def present(name: String) = java.nio.file.Files.exists(index.resolve(name))
    assert(!present("_current.tmp-x"))
    // not a file the index writes: kept like any user file
    assert(present("_tombstones.tmp-y") && present("notes.txt"),
      "vacuum deleted a file the index did not write")
    assert(present("_current") && present("gen-1"))
    assert(StreamingAnn.readCurrentGen(index.toString) === Some(1L))
  }
}
