package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Ann
import graft.streaming.StreamingAnn

/** The large-K assignment path: the broadcast CentroidMatrix form must
  * be BIT-identical to the inlined-literal projection it replaces —
  * same clusters, same distances, same guarded-cosine cells, same
  * trained centroids — and keep the literal form's zero-Exchange plan
  * shape. (The literal path is the one every oracle gate proved; the
  * broadcast path inherits that proof through these pins.)
  */
class CentroidAssignSpec extends SparkSuite {

  /** Run `body` with the threshold forced low enough that ANY
    * assignment takes the broadcast path, restoring the default after.
    */
  private def onBroadcastPath[A](body: => A): A = {
    val saved = Ann.literalAssignMaxTerms
    Ann.literalAssignMaxTerms = 1
    try body finally Ann.literalAssignMaxTerms = saved
  }

  private def corpus: DataFrame =
    Ann.quantized(graft.sources.Tables.embeddings(spark, sf))
      .select("vec_id", "v", "norm2")

  /** A centroid set that exercises the guards: trained centroids plus
    * one all-zero centroid (zero cn2) at a fresh id.
    */
  private def centsWithZero: Seq[(Long, Seq[Long], Long)] =
    Ann.kmeansCentroids(corpus, 8, 2) :+
      ((99L, Seq.fill(Ann.Dims)(0L), 0L))

  /** The corpus plus one all-zero VECTOR (zero norm2) at a fresh id. */
  private def corpusWithZero: DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    corpus.unionByName(
      Seq((999999L, Seq.fill(Ann.Dims)(0L), 0L)).toDF("vec_id", "v", "norm2"))
  }

  test("kmeansAssign: broadcast matrix path is bit-equal to the literal path") {
    val cents = centsWithZero
    val q = corpusWithZero
    def snap(df: DataFrame) = df.select("vec_id", "cluster", "d").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val literal = snap(Ann.kmeansAssign(q, cents))
    val broadcastForm = onBroadcastPath(snap(Ann.kmeansAssign(q, cents)))
    assert(broadcastForm === literal)
  }

  test("cellAssign: broadcast cosine path is bit-equal, including both zero-norm guards") {
    val cents = centsWithZero
    val q = corpusWithZero
    def snap(df: DataFrame) = df.select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val literal = snap(Ann.cellAssign(q, cents))
    val broadcastForm = onBroadcastPath(snap(Ann.cellAssign(q, cents)))
    assert(broadcastForm === literal)
    // the zero-norm VECTOR must hit the guard identically on both
    // paths: constant score on every cell -> tie-break -> lowest c_id
    val zeroCell = literal.find(_._1 === 999999L).get._2
    assert(zeroCell === cents.map(_._1).min)
  }

  test("trained centroids are identical when training rides the broadcast path") {
    val q = corpus
    val literal = Ann.kmeansCentroidsUncached(q, 8, 2)
    val broadcastForm = onBroadcastPath(Ann.kmeansCentroidsUncached(q, 8, 2))
    assert(broadcastForm === literal)
  }

  test("broadcast assignment stays a zero-Exchange projection") {
    // the whole point: plan cost O(1) in k, still a pure projection —
    // and whole-stage codegen compiles the generated matrix-loop call
    val q = corpus
    val cents = Ann.kmeansCentroids(q, 8, 2)
    onBroadcastPath {
      val assigned = Ann.kmeansAssign(q, cents)
      val p = assigned.queryExecution.executedPlan.toString
      assert(p.contains("nearest_centroid_l2"), p.take(1500))
      assert(!p.contains("Exchange"), p.take(1500))
      val cells = Ann.cellAssign(q, cents)
      val pc = cells.queryExecution.executedPlan.toString
      assert(pc.contains("nearest_centroid_cos"), pc.take(1500))
      assert(!pc.contains("Exchange"), pc.take(1500))
      assert(assigned.count() === q.count())
      assert(cells.select("cell").distinct().count() >= 1L)
    }
    // the default threshold keeps small k on the literal plan and
    // sends k=256 x dims=64 to the broadcast matrix
    assert(8L * Ann.Dims <= Ann.literalAssignMaxTerms)
    assert(256L * Ann.Dims > Ann.literalAssignMaxTerms)
  }

  test("trained IVF scores a zero-norm candidate -2.0, as the on-disk index does") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the fixture back in embedding form (milli-units as floats), so the
    // all-zero vector is a candidate in every probed cell
    val emb = corpusWithZero.select(col("vec_id"), lit(0).as("label"),
      transform(col("v"), x => (x.cast("double") / 1000).cast("float"))
        .as("embedding"))
    val kCells = 8
    val k = 600 // past the corpus size: every candidate is ranked
    def snap(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val got = snap(Ann.knnIvfTrained(emb, numQueries = 5, k = k,
      kCells = kCells, probes = kCells))
    val zeroPairs = got.filter(_._3 == 999999L)
    assert(zeroPairs.map(_._1) === (0L until 5L).toSet)
    zeroPairs.foreach { case (qId, rnk, _, bp) =>
      assert(bp === -20000L)
      assert(rnk === got.filter(_._1 == qId).map(_._2).max)
    }
    // the on-disk index ingested from the same corpus in one batch
    // (same frozen model) returns the same rows
    val root = tmpDir("ivf-zero-norm")
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.ivfIngest(input.toDS().toDF("vec_id", "embedding"),
      s"$root/model.txt", s"$root/index", s"$root/ckpt", kCells = kCells)
    try { input.addData(rows.toSeq: _*); q.processAllAvailable() }
    finally q.stop()
    val queries = rows.filter(_._1 < 5).toSeq.toDF("vec_id", "embedding")
    assert(snap(StreamingAnn.queryIndex(spark, s"$root/index",
      s"$root/model.txt", queries, k = k, probes = kCells)) === got)
  }
}
