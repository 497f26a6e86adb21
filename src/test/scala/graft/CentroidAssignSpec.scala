package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Ann
import graft.streaming.StreamingAnn

/** The nearest-centroid kernels behind every k-means, IVF, PQ and
  * SemDeDup assignment ([[graft.functions.CentroidOps]] through
  * Ann.kmeansAssign / Ann.cellAssign) against a plain-Scala argmin
  * written here — squared-L2 and guarded cosine, both with ties to the
  * smaller centroid id — over the corpus plus a zero vector and a zero
  * centroid; training against a plain-Scala Lloyd loop; and the
  * zero-Exchange plan shape.
  */
class CentroidAssignSpec extends SparkSuite {

  private type Cent = (Long, Seq[Long], Long)

  private def corpus: DataFrame =
    Ann.quantized(graft.sources.Tables.embeddings(spark, sf))
      .select("vec_id", "v", "norm2")

  /** A centroid set that exercises the guards: trained centroids plus
    * one all-zero centroid (zero cn2) at a fresh id.
    */
  private def centsWithZero: Seq[Cent] =
    Ann.kmeansCentroids(corpus, 8, 2) :+ ((99L, Seq.fill(Ann.Dims)(0L), 0L))

  /** The corpus plus one all-zero VECTOR (zero norm2) at a fresh id. */
  private def corpusWithZero: DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    corpus.unionByName(
      Seq((999999L, Seq.fill(Ann.Dims)(0L), 0L)).toDF("vec_id", "v", "norm2"))
  }

  private def rows(df: DataFrame): Seq[Cent] =
    df.select("vec_id", "v", "norm2").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSeq

  private def dot(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => x * y }.sum

  /** Argmin of `score` over `cents`, ties to the smaller centroid id:
    * (best score, its id).
    */
  private def argmin[S](cents: Seq[Cent])(score: Cent => S)(
      implicit num: Numeric[S]): (S, Long) = {
    val scored = cents.map(c => (score(c), c._1))
    val best = scored.map(_._1).reduce((a, b) => if (num.lt(b, a)) b else a)
    (best, scored.filter(s => num.equiv(s._1, best)).map(_._2).min)
  }

  /** Reference squared-L2 assignment: (d, cluster). */
  private def refL2(v: Seq[Long], n2: Long, cents: Seq[Cent]): (Long, Long) =
    argmin(cents) { case (_, cv, cn2) => n2 - 2 * dot(v, cv) + cn2 }

  /** Reference serving cell: −cos, or 2.0 for a zero vector or centroid. */
  private def refCell(v: Seq[Long], n2: Long, cents: Seq[Cent]): Long =
    argmin(cents) { case (_, cv, cn2) =>
      if (n2 == 0 || cn2 == 0) 2.0
      else -1.0 * (dot(v, cv).toDouble / (math.sqrt(cn2.toDouble) * math.sqrt(n2.toDouble)))
    }._2

  test("kmeansAssign matches a squared-L2 argmin with ties to the smaller id") {
    val cents = centsWithZero
    val q = corpusWithZero
    val got = Ann.kmeansAssign(q, cents).select("vec_id", "cluster", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = rows(q).map { case (id, v, n2) =>
      val (d, c) = refL2(v, n2, cents)
      (id, c, d)
    }.toSet
    assert(got === want)
  }

  test("cellAssign matches a guarded-cosine argmin, both zero-norm guards included") {
    val cents = centsWithZero
    val q = corpusWithZero
    val got = Ann.cellAssign(q, cents).select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = rows(q).map { case (id, v, n2) => (id, refCell(v, n2, cents)) }.toSet
    assert(got === want)
    // the zero-norm VECTOR scores 2.0 on every cell -> lowest c_id
    assert(got.find(_._1 === 999999L).get._2 === cents.map(_._1).min)
  }

  test("trained centroids are identical when training rides the broadcast path") {
    // a plain-Scala Lloyd loop: seeds are the first k vectors, each
    // update is the per-dimension truncating mean of the members
    val q = corpus
    val data = rows(q)
    val seeds = data.filter(_._1 < 8).sortBy(_._1)
    val want = (1 to 2).foldLeft(seeds) { (cents, _) =>
      data.groupBy { case (_, v, n2) => refL2(v, n2, cents)._2 }.toSeq
        .map { case (c, members) =>
          val cv = members.map(_._2).transpose.map(xs => xs.sum / xs.size)
          (c, cv, cv.map(x => x * x).sum)
        }.sortBy(_._1)
    }
    assert(Ann.kmeansCentroidsUncached(q, 8, 2) === want)
  }

  test("broadcast assignment stays a zero-Exchange projection") {
    // plan cost O(1) in k, still a pure projection — and whole-stage
    // codegen compiles the generated matrix-loop call
    val q = corpus
    val cents = Ann.kmeansCentroids(q, 8, 2)
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
      queries, k = k, probes = kCells)) === got)
  }
}
