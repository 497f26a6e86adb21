package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Dedup}
import graft.functions.TextAnalysis
import graft.sources.Tables

class DedupAnnSpec extends SparkSuite {

  private lazy val docs = Tables.documents(spark, sf).cache()
  private lazy val emb = Tables.embeddings(spark, sf).cache()

  test("exact dedup finds constructed duplicates") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(d).collect()
    assert(out.length === 2)
    val dup = out.find(_.getAs[Long]("n_copies") === 2L).get
    assert(dup.getAs[Long]("keep_id") === 1L)
  }

  test("minhash LSH recall: finds every exhaustive-Jaccard pair here") {
    val exhaustive = Dedup.ngramJaccard(docs, 5000L)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(docs, 5000L)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exhaustive.nonEmpty)
    assert(lsh === exhaustive) // high-similarity pairs: 4 bands x 2 rows ≈ recall 1
  }

  test("dedup clusters: transitive closure of the pair graph, one keeper each") {
    // ground truth via a tiny driver-side union-find over the pairs
    val pairs = Dedup.minhashLsh(docs, 5000L).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val out = Dedup.dedupClusters(docs, 5000L).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Int]("keep"))).toMap
    assert(out.size === docs.count())
    // every doc in the pair graph got its component's min as cluster id
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.foreach { d =>
      assert(out(d)._1 === find(d), s"doc $d")
    }
    // keepers are exactly the cluster ids; untouched docs keep themselves
    out.foreach { case (d, (c, k)) => assert(k === (if (d == c) 1 else 0)) }
    assert(out.count(_._2._2 == 1) ===
      out.values.map(_._1).toSet.size) // one keeper per cluster
  }

  test("kmeans centroid memo: bit-identical to fresh training, per-corpus keys") {
    val q = Ann.quantized(emb).select("vec_id", "v", "norm2")
    val a = Ann.kmeansCentroids(q, 8, 2)
    assert(a === Ann.kmeansCentroidsUncached(q, 8, 2)) // memo == fresh
    assert(Ann.kmeansCentroids(q, 8, 2) eq a) // second call is a map hit
    // a different corpus (different plan) must key separately
    val q2 = Ann.quantized(emb.filter(col("vec_id") < 40))
      .select("vec_id", "v", "norm2")
    val c2 = Ann.kmeansCentroids(q2, 8, 2)
    assert(!(c2 eq a) && c2 != a)
    Ann.releaseTrainedModels(spark)
    assert(!(Ann.kmeansCentroids(q, 8, 2) eq a)) // released → retrained
    // localCheckpoint frames print NO rdd identity in their canonical
    // plan text (LogicalRDD.stringArgs is (output, isStreaming) only):
    // without the LogicalRDD fingerprint in the key, two checkpointed
    // corpora with one schema collide and the second silently trains
    // on the first's memo entry — the IVFADC residual-frame bug shape
    val r1 = Ann.kmeansCentroids(q.localCheckpoint(), 8, 2)
    val r2 = Ann.kmeansCentroids(q2.localCheckpoint(), 8, 2)
    assert(r1 != r2, "checkpointed frames with one schema must key apart")
  }

  test("containment pairs: prefix filter == exhaustive; superset of Jaccard pairs") {
    val pref = Dedup.containmentPairs(docs, 5000L)
    val exh = Dedup.containmentPairsExhaustive(docs, 5000L)
    assert(pref.exceptAll(exh).isEmpty && exh.exceptAll(pref).isEmpty)
    assert(pref.count() > 0)
    // C(a→b) ≥ J(a,b): every symmetric near-dup pair appears in BOTH
    // directed forms at the same threshold
    val jac = Dedup.ngramJaccardExhaustive(docs, 5000L)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val got = pref.select("doc_src", "doc_dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    jac.foreach { case (a, b) =>
      assert(got((a, b)) && got((b, a)), s"pair ($a,$b)")
    }
  }

  test("containment: an embedded excerpt scores 10000 toward its container") {
    import spark.implicits._
    val container = "the long original story begins here with many detailed " +
      "passages about the voyage and the storm and the quiet harbor at the end"
    // the excerpt is a verbatim substring → every 8-shingle of the
    // excerpt is a shingle of the container
    val excerpt = "passages about the voyage and the storm"
    val filler = (10L to 49L).map(i =>
      (i, s"unrelated filler tale number $i about the mountain town $i " +
        s"and its winter market $i with the lanterns"))
    val d = (Seq((1L, excerpt), (2L, container)) ++ filler)
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(d, 8000L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(out((1L, 2L)) === 10000L) // excerpt fully contained
    assert(!out.contains((2L, 1L))) // container is NOT inside the excerpt
  }

  test("qualityKeeper: keeper is each cluster's max-score (tie min-id) member") {
    val out = Dedup.qualityKeeper(docs, 5000L)
    val labels = Dedup.dedupClusters(docs, 5000L).select("doc_id", "cluster_id")
    val q = TextAnalysis.qualityScore(docs).select("doc_id", "score")
    // same cluster partition as dedupClusters, every doc present
    assert(out.select("doc_id", "cluster_id").exceptAll(labels).isEmpty)
    assert(labels.exceptAll(out.select("doc_id", "cluster_id")).isEmpty)
    // independent argmax via struct ordering (different mechanism than
    // the packed-integer election under test)
    val ref = labels.join(q, Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(min(struct((lit(100) - col("score")).as("ns"),
        col("doc_id").as("id"))).as("b"))
      .select(col("cluster_id"), col("b.id").as("keeper_id"))
    val got = out.select("cluster_id", "keeper_id").distinct()
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
    // exactly one keeper per cluster, and keep flags the keeper row
    val rows = out.collect()
    rows.foreach { r =>
      assert(r.getAs[Int]("keep") ===
        (if (r.getAs[Long]("doc_id") == r.getAs[Long]("keeper_id")) 1 else 0))
    }
    assert(rows.count(_.getAs[Int]("keep") == 1) ===
      rows.map(_.getAs[Long]("cluster_id")).distinct.length)
    // on a constructed cluster the LOW-id degraded member loses to the
    // HIGH-id clean one — the case a min-id election gets wrong. Filler
    // docs keep the 1/20 shingle-df cap from emptying the tiny corpus.
    import spark.implicits._
    val clean = ("the quick brown fox jumps over the lazy dog and runs " +
      "far away to the old stone house near the wide green river ") * 3
    val digits = "0123456789 " * 30 // breaks the 60% alpha-ratio gate
    val filler = (10L to 49L).map(i =>
      (i, s"filler doc $i with the words of a completely unrelated tale " +
        s"number $i telling about the ship $i and the long sea voyage"))
    val d2 = (Seq((1L, clean + digits), (2L, clean)) ++ filler)
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val k2 = Dedup.qualityKeeper(d2, 3000L).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("keeper_id"))).toMap
    assert(k2(1L)._1 === k2(2L)._1, "construction: docs 1,2 must cluster")
    assert(k2(1L)._2 === 2L && k2(2L)._2 === 2L,
      "quality election must pick the clean high-id member")
  }

  test("dedupReport: per-source rollup matches a driver-side recount") {
    val labels = Dedup.dedupClusters(docs, 5000L).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Int]("keep")))).toMap
    val bySource = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val clusterSizes = labels.values.groupBy(_._1).map { case (c, ms) => c -> ms.size }
    val ref = bySource.groupBy(_._2).map { case (src, ds) =>
      val ids = ds.map(_._1)
      val nDup = ids.count(id => clusterSizes(labels(id)._1) > 1)
      src -> ((ids.length.toLong, nDup.toLong,
        ids.count(id => labels(id)._2 == 0).toLong,
        nDup.toLong * 10000 / ids.length))
    }
    val got = Dedup.dedupReport(docs, 5000L).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got === ref)
    // observability sanity: the synthetic corpus HAS duplicated mass
    assert(got.values.map(_._2).sum > 0)
  }

  test("qualityKeeper: out-of-range doc_id fails CLOSED, never aliases") {
    // a doc_id at 2^40 would alias the packed election key (mod-2^40
    // wrap) and silently elect a wrong keeper — the guard must raise
    import spark.implicits._
    val big = 1L << 40
    val d = Seq((big, "alpha beta gamma delta epsilon zeta eta theta"),
        (big + 1, "alpha beta gamma delta epsilon zeta eta theta"),
        (3L, "some completely different unrelated text about rivers"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val e = intercept[Exception] {
      Dedup.qualityKeeper(d, 3000L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("packed range")), msgs(e).mkString(" | "))
  }

  test("sample split is deterministic, content-independent, and near the ratios") {
    val a = TextAnalysis.sampleSplit(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("split"))).toSet
    val b = TextAnalysis.sampleSplit(docs.orderBy(rand(7))).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("split"))).toSet
    assert(a === b) // order-independent, stable across runs
    val n = a.size.toDouble
    val frac = a.groupBy(_._2).view.mapValues(_.size / n).toMap
    assert(math.abs(frac("train") - 0.8) < 0.08)
    assert(math.abs(frac("validation") - 0.1) < 0.06)
    assert(math.abs(frac("test") - 0.1) < 0.06)
  }

  test("contamination flags only training docs, at or above the threshold") {
    val out = Dedup.contamination(docs, col("doc_id") % 50 === 0, minShared = 3L)
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("doc_id") % 50 != 0)) // bench excluded
    assert(out.forall(_.getAs[Long]("shared_shingles") >= 3L))
    // a doc that IS a benchmark doc's exact duplicate must be flagged
    // (shares its entire shingle set) — synthesize one
    import spark.implicits._
    val bench = docs.filter(col("doc_id") === 0).select("text").head.getString(0)
    val spiked = docs.select("doc_id", "text")
      .unionByName(Seq((999999L, bench)).toDF("doc_id", "text"))
    val flagged = Dedup.contamination(spiked, col("doc_id") % 50 === 0)
      .filter(col("doc_id") === 999999L).collect()
    assert(flagged.length === 1)
  }

  test("contaminationFuzzy: near-dup of a bench doc flagged; mere phrase overlap not") {
    import spark.implicits._
    val isBench = col("doc_id") % 10 === 7
    val bench = docs.filter(col("doc_id") === 7).select("text").head.getString(0)
    // 999990 ≡ 0 (mod 10): a training-side near-dup — the benchmark
    // text with a short suffix appended (high verified Jaccard); and
    // 999980: a doc QUOTING one benchmark phrase inside unrelated text
    // (shares shingles — exact D8 contamination evidence — but reads
    // as a different document)
    val phrase = bench.split(" ").take(4).mkString(" ")
    val filler = (1 to 60).map(i => s"unrelated filler token$i").mkString(" ")
    val spiked = docs.select("doc_id", "text").unionByName(Seq(
      (999990L, bench + " trailing note"),
      (999980L, s"$filler $phrase $filler")).toDF("doc_id", "text"))
    val out = Dedup.contaminationFuzzy(spiked, isBench, minJaccardBp = 5000L)
      .collect()
    // split sides are respected
    assert(out.forall(_.getAs[Long]("doc_a") % 10 != 7))
    assert(out.forall(_.getAs[Long]("doc_b") % 10 == 7))
    assert(out.forall(_.getAs[Long]("jacc_bp") >= 5000L))
    val byA = out.groupBy(_.getAs[Long]("doc_a"))
    assert(byA.contains(999990L), "near-dup of bench doc 7 must be flagged")
    assert(byA(999990L).exists(_.getAs[Long]("doc_b") == 7L))
    assert(!byA.contains(999980L),
      "phrase-quoting doc must clear the near-dup test")
    // ...while the exact-overlap pass DOES see the quoted phrase —
    // the two tests answer different questions by design
    val exactFlag = Dedup.contamination(spiked, isBench, minShared = 1L)
      .filter(col("doc_id") === 999980L).count()
    assert(exactFlag === 1L)
  }

  test("tfidf top terms: dense ranks, scores non-increasing within a doc") {
    val rows = TextAnalysis.tfidfTopTerms(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rnk"), r.getAs[Long]("score")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to sorted.length))
      assert(sorted.map(_._3).toSeq === sorted.map(_._3).sortBy(-(_: Long)).toSeq)
    }
  }

  test("quota sample caps every source and is order-independent") {
    val a = TextAnalysis.quotaSample(docs).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("rnk"), r.getAs[Long]("doc_id")))
    assert(a.groupBy(_._1).values.forall(_.length <= 5))
    val b = TextAnalysis.quotaSample(docs.orderBy(rand(3))).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("rnk"), r.getAs[Long]("doc_id")))
    assert(a.toSet === b.toSet)
  }

  test("simhash: high-Jaccard near-dups land far below the random-pair mean") {
    val nearDups = Dedup.ngramJaccard(docs, 9000L).select("doc_a", "doc_b").collect()
    assert(nearDups.nonEmpty)
    val sh = Dedup.simhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    nearDups.foreach { r =>
      val d = java.lang.Long.bitCount(sh(r.getLong(0)) ^ sh(r.getLong(1)))
      // random 60-bit pairs average hamming 30; >=0.90-Jaccard pairs stay tiny
      assert(d <= 10, s"pair ${r.getLong(0)},${r.getLong(1)} hamming $d")
    }
  }

  test("simhash banding is exact: banded pairs == all-pairs ground truth") {
    // pigeonhole guarantee: maxHamming+1 disjoint bands -> any pair
    // within maxHamming shares at least one band, so the banded
    // equi-join finds exactly the pairs the O(n²) join would.
    val sh = Dedup.simhash(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("simhash")))
    val maxHamming = SparkEntry.SimhashMaxHamming
    val expected = (for {
      (ida, ha) <- sh; (idb, hb) <- sh if ida < idb
      if java.lang.Long.bitCount(ha ^ hb) <= maxHamming
    } yield (ida, idb)).toSet
    val banded = Dedup.simhashPairs(docs, maxHamming)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty)
    assert(banded === expected)
  }

  test("simhash hot-bucket cap prunes, never invents, pairs") {
    val all = Dedup.simhashPairs(docs, SparkEntry.SimhashMaxHamming)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.simhashPairs(docs, SparkEntry.SimhashMaxHamming, hotBucketCap = 2L)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(all))
  }

  test("curated corpus composes every gate: each survivor passes all of them") {
    import graft.operators.Pipelines
    val isBench = col("doc_id") % 50 === 0
    val out = Pipelines.curatedCorpus(docs, minQuality = 75,
      langs = Seq("en"), minJaccardBp = 5000L, isBenchmark = isBench).cache()
    // every emitted row satisfies every stage's own operator
    assert(out.filter(col("score") < 75).count() === 0)
    assert(out.filter(col("pred_lang") =!= "en").count() === 0)
    assert(out.filter(col("doc_id") % 50 === 0).count() === 0)
    assert(out.filter(!col("split").isin("train", "validation", "test")).count() === 0)
    val nonKeepers = Dedup.dedupClusters(docs, 5000L)
      .filter(col("keep") === 0).select("doc_id")
    assert(out.join(nonKeepers, Seq("doc_id")).count() === 0)
    val contaminated = Dedup.contamination(docs, isBench).select("doc_id")
    assert(out.join(contaminated, Seq("doc_id")).count() === 0)
    assert(out.count() > 0)
    out.unpersist()
  }

  test("native vector expressions match the composed higher-order forms") {
    // IntDot ≡ aggregate(zip_with(·,·,*)): the codegen expression must
    // be value-identical to the declarative form it replaced
    val q = Ann.quantized(emb)
    val dotMismatch = q
      .withColumn("composed",
        aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
          lit(0L), (s, x) => s + x))
      .filter(col("norm2") =!= col("composed")).count()
    assert(dotMismatch === 0)
    // HyperplaneBucket ≡ the relational posexplode×planes derivation
    // (the rule the SQL oracles also state arithmetically)
    import spark.implicits._
    val planes = (0 until Ann.NumPlanes).toDF("p")
    val relational = q
      .select(col("vec_id"), posexplode(col("v")).as(Seq("d", "comp")))
      .crossJoin(broadcast(planes))
      .withColumn("term", col("comp") * Ann.planeCoef(col("p"), col("d")))
      .groupBy("vec_id", "p")
      .agg(sum("term").as("dot"))
      .groupBy("vec_id")
      .agg(sum(when(col("dot") > 0, expr("shiftleft(1L, p)")).otherwise(0L))
        .as("rel_bucket"))
    val bucketMismatch = Ann.bucketed(emb)
      .join(relational, Seq("vec_id"))
      .filter(col("bucket") =!= col("rel_bucket")).count()
    assert(bucketMismatch === 0)
    assert(q.count() > 0)
  }

  test("jl projection: native expression matches the relational rpCoef form") {
    import spark.implicits._
    // JlProjectExpr ≡ posexplode × outDims → rpCoef terms → groupBy —
    // the rule the SQL oracle also states arithmetically
    val q = Ann.quantized(emb)
    val outs = (0 until Ann.RpDims).toDF("j")
    val relational = q
      .select(col("vec_id"), posexplode(col("v")).as(Seq("d", "comp")))
      .crossJoin(broadcast(outs))
      .withColumn("term", col("comp") * Ann.rpCoef(col("j"), col("d")))
      .groupBy("vec_id", "j")
      .agg(sum("term").as("rel_pj"))
    val native = Ann.projectRp(emb)
      .select(col("vec_id"), posexplode(col("pv")).as(Seq("j", "pj")))
    val mismatch = native.join(relational, Seq("vec_id", "j"))
      .filter(col("pj") =!= col("rel_pj")).count()
    assert(mismatch === 0)
    // and the sign matrix really is ternary with all three values live
    val signs = (0 until Ann.RpDims).flatMap(j => (0 until Ann.Dims).map(d =>
      graft.functions.VecOps.rpCoef(j, d)))
    assert(signs.toSet === Set(-1L, 0L, 1L))
    // balanced thirds (i.i.d.-ish mixing is the property the LCG
    // variant failed): each sign count in (n/5, n/2), i.e. within
    // 60-150% of the exact third n/3
    val n = signs.size
    Seq(-1L, 0L, 1L).foreach { s =>
      val c = signs.count(_ == s)
      assert(c > n / 5 && c < n / 2, s"sign $s count $c of $n")
    }
    // pn2 is the exact integer self-dot of the projection
    val n2Bad = Ann.projectRp(emb)
      .withColumn("composed",
        aggregate(zip_with(col("pv"), col("pv"), (x, y) => x * y),
          lit(0L), (s, x) => s + x))
      .filter(col("pn2") =!= col("composed")).count()
    assert(n2Bad === 0)
  }

  test("knn rp: shortK >= corpus degenerates to exact brute force") {
    val n = emb.count().toInt
    val brute = Ann.knnBruteForce(emb, 5, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("cos_bp"))).toSet
    val rp = Ann.knnRp(emb, 5, 5, shortK = n).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("cos_bp"))).toSet
    assert(rp === brute)
  }

  test("knn rp: scores are true cosines; rerank recall >= projected recall") {
    val brute = Ann.knnBruteForce(emb, 5, Int.MaxValue)
      .select("q_id", "neighbor_id", "cos_bp").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rp = Ann.knnRp(emb, 5, 5).collect()
    assert(rp.length === 25)
    rp.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))
      assert(brute.contains(key))
      assert(brute(key) === r.getAs[Long]("cos_bp")) // exact, never ADC-ish
    }
    val recall = Ann.annRecallRp(emb, 10, 10).collect()
      .map(r => r.getAs[String]("method") -> r.getAs[Long]("recall_bp")).toMap
    assert(recall("knn_rp_rerank") >= recall("knn_rp_proj"))
    assert(recall("knn_rp_rerank") > 0L)
    // every method retrieved a full table: numQueries x k rows
    Ann.annRecallRp(emb, 10, 10).collect().foreach { r =>
      assert(r.getAs[Long]("n_retrieved") === 100L)
    }
  }

  test("knn brute force: ranks descend in cosine, k per query") {
    val out = Ann.knnBruteForce(emb, 5, 5).collect()
    assert(out.length === 25)
    out.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rnk"))
      val cos = sorted.map(_.getAs[Long]("cos_bp"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("knn LSH: every result also appears in brute-force full ranking") {
    val brute = Ann.knnBruteForce(emb, 5, Int.MaxValue)
      .select("q_id", "neighbor_id", "cos_bp").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val lsh = Ann.knnLsh(emb, 5, 3).collect()
    lsh.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))
      assert(brute.contains(key))
      assert(brute(key) === r.getAs[Long]("cos_bp")) // same exact cosine
    }
  }

  test("knn IVF: results come from brute-force ranking with exact cosines") {
    val brute = Ann.knnBruteForce(emb, 5, Int.MaxValue)
      .select("q_id", "neighbor_id", "cos_bp").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ivf = Ann.knnIvf(emb, 5, 3).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))
      assert(brute(key) === r.getAs[Long]("cos_bp"))
    }
  }

  test("knn IVF: stride-centroid cell-count guard fails fast past maxCells") {
    val e = intercept[IllegalArgumentException] {
      Ann.knnIvf(emb, 5, 3, centroidStride = 1, maxCells = 10)
    }
    assert(e.getMessage.contains("knnIvfTrained"))
  }

  test("knn IVF over trained cells: exact cosines, K=const centroid set") {
    val brute = Ann.knnBruteForce(emb, 5, Int.MaxValue)
      .select("q_id", "neighbor_id", "cos_bp").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ivf = Ann.knnIvfTrained(emb, 5, 3).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))
      assert(brute(key) === r.getAs[Long]("cos_bp"))
    }
  }

  test("OPQ permutation: true permutation, exactly balanced variance ranks per subspace") {
    val perm = Ann.opqPermutation(emb)
    assert(perm.sorted === (0 until 64))
    // the snake draft balances EXACTLY: paired rounds hand each
    // subspace ranks summing 16t+7, so all four subspace rank totals
    // are equal — the variance-starvation failure mode is closed by
    // construction
    // newPos = s*16 + t came from rank r = t*4 + (s or 3-s by round)
    val sums = (0 until 4).map { s =>
      (0 until 16).map { t =>
        val rBase = t * 4
        if (t % 2 == 0) rBase + s else rBase + 3 - s
      }.sum
    }
    assert(sums.distinct.size === 1, s"unbalanced draft: $sums")
    // and the permuted chain serves full result sets
    val out = Ann.knnPqOpq(emb, 5, 3).collect()
    assert(out.length === 5 * 3)
  }

  test("sampled-truth recall: half the queries, per-method agreement with the exact row") {
    val exact = Ann.annRecall(emb, 10, 10).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("recall_bp")).toMap
    val sampled = Ann.annRecallSampled(emb, 10, 10, sampleMod = 2).collect()
    assert(sampled.nonEmpty)
    sampled.foreach { r =>
      val m = r.getString(0)
      // the election really thins the query set (hash-elected, so the
      // split is data-stable, not exactly numQueries/2)
      val nq = r.getAs[Long]("n_queries")
      assert(nq > 0 && nq < 10, s"$m: election degenerate ($nq)")
      // pinned agreement bound: a half-sample over 10 queries moves
      // per-method recall by at most 2000 bp on this corpus (measured
      // 600 bp max at sf0.01; BASELINE records the sf0.1 agreement)
      val bp = r.getAs[Long]("recall_bp")
      assert(math.abs(bp - exact(m)) <= 2000L,
        s"$m: sampled $bp vs exact ${exact(m)}")
    }
  }

  test("filtered kNN escalation: min(k, pool) rows guaranteed, recall never below fixed-probe") {
    // a 3-row matching pool with k = 5: every query's base tier is dry
    // (< k matches), so every query escalates to full coverage and
    // must return the ENTIRE pool (minus itself) — exactly the
    // brute-force filtered truth
    val ids = Seq(10L, 11L, 12L)
    val predSmall = col("vec_id").isInCollection(ids)
    val k = 5; val nq = 8
    val esc = Ann.knnIvfTrainedFilteredEscalated(emb, nq, k, predSmall,
      probes = 1).collect()
    val truth = Ann.knnBruteForceFiltered(emb, nq, k, predSmall).collect()
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("cos_bp"))).toSet
    assert(keyed(esc) === keyed(truth))
    val byQ = esc.groupBy(_.getAs[Long]("q_id"))
    (0L until nq.toLong).foreach { q =>
      val pool = ids.count(_ != q)
      assert(byQ.get(q).map(_.length).getOrElse(0) === math.min(k, pool),
        s"query $q under-returned")
    }

    // at a real selectivity, escalated recall is >= the fixed-probe
    // operator's (satisfied queries identical, dry ones rank a
    // superset)
    val predBig = col("label") === 7
    val truthBig = Ann.knnBruteForceFiltered(emb, nq, 3, predBig).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    def hits(rows: Array[org.apache.spark.sql.Row]) = rows.count(r =>
      truthBig((r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))))
    val escBig = Ann.knnIvfTrainedFilteredEscalated(emb, nq, 3, predBig,
      probes = 1).collect()
    val fixedBig = Ann.knnIvfTrainedFiltered(emb, nq, 3, predBig,
      probes = 1).collect()
    assert(hits(escBig) >= hits(fixedBig))
    // and never a short result set where the pool could fill it
    assert(escBig.length >= fixedBig.length)
  }

  test("filtered IVFADC escalation: min(k, pool) on the PQ layout, forced-dry and real selectivity") {
    // forced-dry: a 3-row matching pool with k = 5 — every query's
    // base tier is dry, escalates to full cell coverage, and must
    // return the ENTIRE pool (minus itself). Full coverage sees every
    // matching code (each vector lives in exactly one cell), so the
    // returned SET equals the brute-force filtered truth's — ranks are
    // by ADC estimate, never compared here
    val ids = Seq(10L, 11L, 12L)
    val predSmall = col("vec_id").isInCollection(ids)
    val k = 5; val nq = 8
    val esc = Ann.knnIvfPqFilteredEscalated(emb, nq, k, predSmall,
      probes = 1).collect()
    val truth = Ann.knnBruteForceFiltered(emb, nq, k, predSmall).collect()
    def pairs(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(pairs(esc) === pairs(truth))
    val byQ = esc.groupBy(_.getAs[Long]("q_id"))
    (0L until nq.toLong).foreach { q =>
      val pool = ids.count(_ != q)
      assert(byQ.get(q).map(_.length).getOrElse(0) === math.min(k, pool),
        s"query $q under-returned")
    }
    // real selectivity: satisfied queries keep the base tier, dry ones
    // rank a superset — never fewer rows than the fixed-probe operator
    val predBig = col("label") === 7
    val escBig = Ann.knnIvfPqFilteredEscalated(emb, nq, 3, predBig,
      probes = 1).collect()
    val fixedBig = Ann.knnIvfPqFiltered(emb, nq, 3, predBig,
      probes = 1).collect()
    assert(escBig.length >= fixedBig.length)
    // escalation never drops a base-tier result's query below k where
    // the pool could fill it: every query with >= k matches returns k
    val poolByQ = Ann.knnBruteForceFiltered(emb, nq, 3, predBig).collect()
      .groupBy(_.getAs[Long]("q_id")).view.mapValues(_.length).toMap
    poolByQ.foreach { case (q, n) =>
      assert(byQLen(escBig, q) === math.min(3, n), s"query $q short")
    }
  }

  private def byQLen(rows: Array[org.apache.spark.sql.Row], q: Long): Int =
    rows.count(_.getAs[Long]("q_id") == q)

  test("knn rp->ivf: full probes + full shortlist degenerates to exact brute force") {
    // probes = kCells ranks EVERY cell per query and shortK >= corpus
    // keeps every candidate, so the exact rerank sees the whole corpus
    // — bit-identical to knnBruteForce (the composition loses nothing
    // but probe coverage, which this setting restores)
    val n = emb.count().toInt
    val full = Ann.knnRpIvf(emb, 6, 4, kCells = 4, probes = 4,
      shortK = n).collect()
    val bf = Ann.knnBruteForce(emb, 6, 4).collect()
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("cos_bp"))).toSet
    assert(keyed(full) === keyed(bf))
    // and at the production setting the shortlist bound holds: k rows
    // per query, scores are true cosines present in the brute ranking
    val prod = Ann.knnRpIvf(emb, 6, 4).collect()
    assert(prod.groupBy(_.getAs[Long]("q_id")).values.forall(_.length == 4))
  }

  test("plan-keyed caches fingerprint the file snapshot: a grown directory is a new corpus") {
    import spark.implicits._
    val dir = tmpDir("cache-growth") + "/corpus"
    // ≥ 20 distinct docs so df=1 shingles survive the corpus-relative
    // df cap (df·20 ≤ n_docs)
    (0L until 25L).map(i => i -> s"w${i}a w${i}b w${i}c w${i}d w${i}e " * 4)
      .toDF("doc_id", "text").write.parquet(dir)
    val a = Dedup.cappedShingleHashes(spark.read.parquet(dir))
    assert(a.select("doc_id").distinct().count() === 25L)
    // the directory grows (a streaming corpus between maintenance
    // audits): the same path re-read must be a DIFFERENT cache entry,
    // or every audit after the first reports a stale snapshot
    (25L until 30L).map(i => i -> s"w${i}a w${i}b w${i}c w${i}d w${i}e " * 4)
      .toDF("doc_id", "text").write.mode("append").parquet(dir)
    val b = Dedup.cappedShingleHashes(spark.read.parquet(dir))
    assert(!(b eq a),
      "grown directory served from the stale plan-keyed cache entry")
    assert(b.select("doc_id").distinct().count() === 30L)
    // a DIFFERENT directory with the same schema must also be a
    // distinct entry: Spark 4's canonicalized file relation prints
    // schema only (no path), so without the file fingerprint two
    // corpora would collide outright
    val dir2 = tmpDir("cache-growth-2") + "/corpus"
    (0L until 21L).map(i => i -> s"z${i}a z${i}b z${i}c z${i}d z${i}e " * 4)
      .toDF("doc_id", "text").write.parquet(dir2)
    val c = Dedup.cappedShingleHashes(spark.read.parquet(dir2))
    assert(!(c eq b) && !(c eq a),
      "distinct directories collided in the plan-keyed cache")
    assert(c.select("doc_id").distinct().count() === 21L)
    Dedup.releaseShingleCaches(spark)
  }

  test("dedup cache registry: a second corpus evicts the first at the bound") {
    import spark.implicits._
    val old = Dedup.cacheBound
    Dedup.cacheBound = 1
    try {
      val corpusA = Seq((1L, "alpha beta gamma delta first"),
        (2L, "alpha beta gamma delta second")).toDF("doc_id", "text")
      val corpusB = Seq((1L, "epsilon zeta eta theta first"),
        (2L, "epsilon zeta eta theta second")).toDF("doc_id", "text")
      val a = Dedup.cappedShingleHashes(corpusA)
      assert(a.storageLevel.useMemory)
      val b = Dedup.cappedShingleHashes(corpusB)
      assert(b.storageLevel.useMemory)
      // the bound evicted AND unpersisted corpus A's table
      assert(!a.storageLevel.useMemory)
      // distinct same-schema local corpora must not share a cache entry
      assert(!(b eq a))
    } finally {
      Dedup.cacheBound = old
      Dedup.releaseShingleCaches(spark)
    }
  }

  test("dedup cache registry: byte budget evicts LRU entries, never the newest") {
    import spark.implicits._
    val oldBytes = Dedup.cacheBytesBound
    // 1 byte: any measured cached table exceeds it, so inserting B
    // must evict A (older) while B itself survives — a budget smaller
    // than one table degrades to cache-nothing-extra, not to thrash
    Dedup.cacheBytesBound = 1L
    try {
      // >= 20 docs each: the df cap (df*20 <= n_docs) keeps NOTHING
      // from a tiny corpus, and an empty cached table measures (and
      // should measure) zero bytes — the budget needs real rows
      val corpusA = (0L until 21L)
        .map(i => i -> (s"a${i}a a${i}b a${i}c a${i}d a${i}e " * 4))
        .toDF("doc_id", "text")
      val corpusB = (0L until 21L)
        .map(i => i -> (s"b${i}a b${i}b b${i}c b${i}d b${i}e " * 4))
        .toDF("doc_id", "text")
      val a = Dedup.cappedShingleHashes(corpusA)
      assert(a.storageLevel.useMemory)
      val b = Dedup.cappedShingleHashes(corpusB)
      // byte budget evicted AND unpersisted the older entry...
      assert(!a.storageLevel.useMemory)
      // ...but never the just-inserted one (count bound is 4 here, so
      // this eviction came from the BYTE budget alone)
      assert(b.storageLevel.useMemory)
    } finally {
      Dedup.cacheBytesBound = oldBytes
      Dedup.releaseShingleCaches(spark)
    }
  }

  test("dedup cache registry: different-key builds run concurrently, same-key builds once") {
    import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
    import spark.implicits._
    val cache =
      new Dedup.LruTableCache[(org.apache.spark.sql.SparkSession, String)]
    // both builds must be in flight at once to pass the barrier: a
    // global build lock (the old design) deadlocks here and times out
    val barrier = new CyclicBarrier(2)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def build(tag: String) = {
      builds.incrementAndGet()
      barrier.await(20, TimeUnit.SECONDS)
      Seq((tag, 1)).toDF("k", "v")
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(() => cache.getOrElseUpdate((spark, "a"))(build("a")))
      val fb = pool.submit(() => cache.getOrElseUpdate((spark, "b"))(build("b")))
      assert(fa.get(30, TimeUnit.SECONDS).count() === 1L)
      assert(fb.get(30, TimeUnit.SECONDS).count() === 1L)
      assert(builds.get() === 2)
      // same key again, two threads: served from the registry, no rebuild
      val fc = pool.submit(() => cache.getOrElseUpdate((spark, "a"))(build("a")))
      val fd = pool.submit(() => cache.getOrElseUpdate((spark, "a"))(build("a")))
      assert(fc.get(30, TimeUnit.SECONDS).count() === 1L)
      assert(fd.get(30, TimeUnit.SECONDS).count() === 1L)
      assert(builds.get() === 2)
    } finally pool.shutdownNow()
  }

  test("dedup cache registry: N same-key callers run one build and leak no table") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    import spark.implicits._
    val cache =
      new Dedup.LruTableCache[(org.apache.spark.sql.SparkSession, String)]
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    // each build caches a distinct plan, so a second build would leave
    // a second persisted table behind
    def build() = {
      val n = builds.incrementAndGet()
      Thread.sleep(200) // every caller reaches the latch meanwhile
      Seq(("k", n)).toDF("k", "build").cache()
    }
    val n = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val fs = (1 to n).map(_ => pool.submit(() => {
        start.await()
        cache.getOrElseUpdate((spark, "one"))(build())
      }))
      start.countDown()
      assert(fs.map(_.get(60, TimeUnit.SECONDS).head().getInt(1)).toSet === Set(1))
      assert(builds.get() === 1)
    } finally pool.shutdownNow()
    cache.releaseSession(spark) // what releaseAllCaches does per registry
    Dedup.releaseAllCaches(spark)
    assert(spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore === Set.empty)
  }

  test("int8 codes: bounded, half-scale round-trip, high top-5 agreement") {
    val codes = Ann.int8Codes(emb).collect()
    assert(codes.nonEmpty)
    codes.foreach { r =>
      val maxabs = r.getAs[Long]("maxabs")
      val v = r.getAs[scala.collection.Seq[Long]]("v")
      val c = r.getAs[scala.collection.Seq[Long]]("c")
      c.foreach(x => assert(math.abs(x) <= 127))
      // |c·maxabs − v·127| ≤ maxabs/2: the rounding contract the audit
      // query's err127_2 column aggregates
      v.zip(c).foreach { case (x, cd) =>
        assert(math.abs(cd * maxabs - x * 127) <= (maxabs + 1) / 2,
          s"vec ${r.getAs[Long]("vec_id")}")
      }
    }
    // quantized ANN finds mostly the same neighbors as the exact scan
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Ann.knnBruteForce(emb, 10, 5))
    val quant = pairs(Ann.knnQuantized(emb, 10, 5))
    assert(quant.size === exact.size)
    assert((exact intersect quant).size * 10 >= exact.size * 7,
      s"int8 top-5 agreement below 70%: ${(exact intersect quant).size}/${exact.size}")
  }

  test("IVF-SQ8: probe-all equals the quantized full scan; probes only bound candidates") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    // probing every cell makes the candidate set the whole corpus and
    // the scoring identical to knnQuantized: results must be EQUAL
    // (same quantized-cosine doubles, same tie-break)
    val full = rows(Ann.knnQuantized(emb, 5, 4))
    val all = rows(Ann.knnIvfSq(emb, 5, 4, probes = 8))
    assert(all === full)
    // default probe-2: cell bounding may shrink the candidate set but
    // must never alter a score — every returned pair carries exactly
    // the full scan's quantized cosine
    val fullScores = Ann.knnQuantized(emb, 5, Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    val p2 = Ann.knnIvfSq(emb, 5, 4).collect()
    assert(p2.nonEmpty)
    p2.foreach { r =>
      assert(fullScores((r.getLong(0), r.getLong(2))) === r.getLong(3),
        s"q=${r.getLong(0)} n=${r.getLong(2)}")
    }
  }

  test("bucket balance: per-band stats match a driver recount; cand_pairs is the join fanout") {
    val bands = 4; val rows = 2
    val banded = Dedup.bandedSignatures(
      Dedup.minhashSignatures(Dedup.cappedShingleHashes(docs), bands * rows),
      bands, rows)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(banded.nonEmpty)
    val byBand = banded.groupBy(_._1).map { case (b, xs) =>
      val counts = xs.groupBy(_._2).map(_._2.size.toLong).toSeq
      b -> ((counts.sum, counts.size.toLong, counts.count(_ == 1L).toLong,
        counts.max, counts.map(n => n * (n - 1) / 2).sum))
    }
    val got = Dedup.bucketBalance(docs, bands, rows).collect()
    assert(got.length === byBand.size)
    got.foreach { r =>
      val (nDocs, nBuckets, nSingle, maxB, cand) = byBand(r.getAs[Int]("band"))
      assert(r.getAs[Long]("n_docs") === nDocs)
      assert(r.getAs[Long]("n_buckets") === nBuckets)
      assert(r.getAs[Long]("n_singletons") === nSingle)
      assert(r.getAs[Long]("max_bucket") === maxB)
      assert(r.getAs[Long]("cand_pairs") === cand)
    }
    // cand_pairs predicts the REAL per-band candidate join: recount the
    // equi-join fanout (before the cross-band distinct) and compare
    val joinFanout = banded.groupBy(identity).map(_._2.size.toLong)
      .map(n => n * (n - 1) / 2).sum
    assert(got.map(_.getAs[Long]("cand_pairs")).sum === joinFanout)
  }

  test("prefix-filtered ngram Jaccard equals the exhaustive pair set") {
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_a", "doc_b", "inter", "union_sh", "jacc_bp")
      .collect().map(_.toSeq).toSet
    Seq(2000L, 5000L, 8000L).foreach { bp =>
      val fast = rows(Dedup.ngramJaccard(docs, bp))
      val slow = rows(Dedup.ngramJaccardExhaustive(docs, bp))
      assert(fast === slow, s"bp=$bp")
      if (bp == 5000L) assert(fast.nonEmpty)
    }
  }

  test("prefix filter keeps rounding-boundary pairs the output filter admits") {
    import spark.implicits._
    // A 3-shingle doc and a 2-shingle doc sharing 2 shingles: J = 2/3,
    // below the nominal t = 0.6667 but round(6666.67) = 6667 passes the
    // output filter — the prefix/size bounds must be derived from the
    // inclusive effective threshold or this pair silently vanishes.
    // 38 unique fillers keep the shared shingles (df=2) under the
    // df*20 <= n_docs cap.
    val fillers = (10L until 48L).map(i =>
      (i, s"filler document number $i with its own private text body $i$i"))
    val d = (Seq(
      (1L, "abcdefghij"), // shingles: abcdefgh bcdefghi cdefghij
      (2L, "abcdefghi")   // shingles: abcdefgh bcdefghi
    ) ++ fillers).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_a", "doc_b", "jacc_bp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = pairs(Dedup.ngramJaccardExhaustive(d, 6667L))
    assert(expected === Set((1L, 2L, 6667L))) // the boundary pair exists
    assert(pairs(Dedup.ngramJaccard(d, 6667L)) === expected)
  }

  test("ngram Jaccard blast-radius guard trips on a hot-shingle corpus") {
    import spark.implicits._
    // 100 docs in 20 identical-text groups of 5: within-group shingles
    // have df=5 (kept: 5*20 <= 100), so sum(df^2) reaches thousands —
    // far over the tiny bound passed here
    val hot = (0 until 100).map { i =>
      val g = i % 20
      (i.toLong, s"unique-group-$g-marker-$g-body-$g with shared tail words")
    }.toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccard(hot, 5000L, maxCandidatePairs = 100L)
    }
    assert(e.getMessage.contains("minhashLsh"))
    // the guard stays fail-CLOSED across the session result cache: a
    // permissive (default-cap) call populates the memo, and a later
    // stricter-cap call must STILL throw instead of silently serving
    // the cached pairs — the cap is part of the cache key
    assert(Dedup.ngramJaccard(hot, 5000L).count() > 0)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.ngramJaccard(hot, 5000L, maxCandidatePairs = 100L)
    }
    assert(e2.getMessage.contains("minhashLsh"))
    // the default bound leaves the gated corpus untouched
    assert(Dedup.ngramJaccard(docs, 5000L).count() > 0)
  }

  test("knn IVF multi-probe: probe-2 strictly improves recall at a cell boundary") {
    import spark.implicits._
    // Constructed boundary: the query (vec 0, also centroid c0) has its two
    // true nearest neighbors (50 = centroid c50, 7 ≈ c50) in cell 50, while
    // its own cell holds only the far vector 3. Probe-1 can only see 3;
    // probe-2 adds cell 50 and recovers the true top-2.
    def pad(xs: Double*): Seq[Float] =
      xs.map(_.toFloat) ++ Seq.fill(64 - xs.size)(0f)
    val emb = Seq(
      (0L, pad(1.0), 0),
      (3L, pad(0.5, -0.87), 0),
      (7L, pad(0.70, 0.72), 0),
      (50L, pad(0.707, 0.707), 0)
    ).toDF("vec_id", "embedding", "label")
    val brute = Ann.knnBruteForce(emb, 1, 2).collect()
      .map(_.getAs[Long]("neighbor_id")).toSet
    val p1 = Ann.knnIvf(emb, 1, 2, probes = 1).collect()
      .map(_.getAs[Long]("neighbor_id")).toSet
    val p2 = Ann.knnIvf(emb, 1, 2, probes = 2).collect()
      .map(_.getAs[Long]("neighbor_id")).toSet
    assert(brute === Set(7L, 50L))
    assert(p1 === Set(3L)) // probe-1 recall 0/2: stuck in the query's own cell
    assert(p2 === brute)   // probe-2 recall 2/2
    assert((p1 & brute).size < (p2 & brute).size)
  }

  test("spanStrip: first occurrence survives, other repeats stripped, exact reassembly") {
    val spark0 = spark
    import spark0.implicits._
    def h(s: String) =
      graft.functions.Portable.jvmHexHash60(s.getBytes("UTF-8"))
    val df = Seq(
      // the 8-token span's FIRST occurrence (min (doc_id, pos)) — kept
      (1L, "a b c d e f g h"),
      // same span at pos 2 — its range [2, 10) stripped, prefix kept
      (2L, "zz yy a b c d e f g h"),
      // shorter than one window — untouched
      (3L, "a b c"),
      // WITHIN-doc repeat: second occurrence (pos 8) stripped
      (4L, "m n o p q r s t m n o p q r s t")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.spanStrip(df, w = 8).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) === ((8L, 8L, 0L, h("a b c d e f g h"))))
    assert(got(2L) === ((10L, 2L, 8L, h("zz yy"))))
    assert(got(3L) === ((3L, 3L, 0L, h("a b c"))))
    assert(got(4L) === ((16L, 8L, 8L, h("m n o p q r s t"))))
  }

  test("spanStripMaximal: overlapping marked windows merge into ONE maximal span") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      // a 9-token repeated passage = TWO overlapping 8-token windows;
      // first occurrence (doc 1) keeps both windows
      (1L, "a b c d e f g h i"),
      // repeat at pos 2: windows at pos 2 and pos 3 both marked —
      // they must merge into one maximal span [2, 10] of length 9
      (2L, "zz yy a b c d e f g h i"),
      // two DISJOINT repeats in one doc: spans stay separate
      (3L, "a b c d e f g h i q1 q2 q3 m n o p q r s t u"),
      (4L, "m n o p q r s t u")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.spanStripMaximal(df, w = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // doc 2: one island [2,10], len 9 (NOT two w-sized fragments);
    // doc 3 loses its "a..." copy (doc 1 pos 0 wins the packed-min
    // election) but KEEPS "m n o p q r s t u" (doc 3 pos 12 < doc 4
    // pos 0 in packed order), which doc 4 then loses
    assert(got.filter(_._1 == 2L) === Seq((2L, 2L, 10L, 9L)))
    assert(got.filter(_._1 == 3L) === Seq((3L, 0L, 8L, 9L)))
    assert(got.filter(_._1 == 4L) === Seq((4L, 0L, 8L, 9L)))
    assert(got.forall(_._1 != 1L)) // keeper doc: nothing stripped
    // consistency with spanStrip: per-doc sum(span_len) == dropped
    val dropped = graft.operators.Dedup.spanStrip(df, w = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val sums = got.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    dropped.foreach { case (d, n) =>
      assert(sums.getOrElse(d, 0L) === n, s"doc $d span sum != dropped")
    }
  }

  test("DSIR selection matches an exact driver recount; target docs outrank off-target") {
    val spark0 = spark
    import spark0.implicits._
    // two clean strata: en docs share en grams, fr docs fr grams
    val rows = Seq(
      (1L, "the cat and the dog of the house", "en"),
      (2L, "the quick fox and the hen of the barn", "en"),
      (3L, "le chat et le chien de la maison", "fr"),
      (4L, "le renard et la poule de la ferme", "fr"))
    val df = rows.toDF("doc_id", "text", "lang")
    val got = TextAnalysis.dsirSelect(df, targetLang = "en").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    // exact driver replication of the operator's integer arithmetic
    val B = 1024L
    val S = 1000000000L
    def norm(s: String) = s.toLowerCase
      .replaceAll("[^a-z0-9 ]", "").replaceAll(" +", " ").trim
    def grams(s: String): Seq[Long] = {
      val t = norm(s).split(" ", -1).toSeq
      val all = t ++ t.zip(t.drop(1)).map { case (x, y) => s"${x}_$y" }
      all.map(g => graft.functions.Portable.jvmHexHash60(g.getBytes("UTF-8")) % B)
    }
    val perDoc = rows.map { case (id, text, lang) => (id, grams(text), lang) }
    val cRaw = perDoc.flatMap(_._2).groupBy(identity).map { case (g, xs) => g -> xs.size.toLong }
    val cTgt = perDoc.filter(_._3 == "en").flatMap(_._2)
      .groupBy(identity).map { case (g, xs) => g -> xs.size.toLong }
    val totRaw = cRaw.values.sum
    val totTgt = cTgt.values.sum
    def w(g: Long) = (cTgt.getOrElse(g, 0L) + 1) * S / (totTgt + B) -
      (cRaw(g) + 1) * S / (totRaw + B)
    perDoc.foreach { case (id, gs, _) =>
      val score = gs.map(w).sum
      assert(got(id) === ((score, if (score >= 0) 1L else 0L)), s"doc $id")
    }
    // selection behavior: every en doc outranks every fr doc, and the
    // en docs clear the >= 0 keep margin
    val enMin = Seq(1L, 2L).map(got(_)._1).min
    val frMax = Seq(3L, 4L).map(got(_)._1).max
    assert(enMin > frMax, s"en min $enMin vs fr max $frMax")
    assert(Seq(1L, 2L).forall(got(_)._2 === 1L))
  }

  test("DSIR weight arithmetic survives web-scale bucket counts without Long wrap") {
    val spark0 = spark
    import spark0.implicits._
    // ~4e10 grams per bucket: (c_raw + 1) * 1e9 ~ 4e19 would wrap a
    // signed Long (max ~9.2e18); the DECIMAL(38,0) path must not
    val cRaw = 40000000000L
    val cTgt = 30000000000L
    val totRaw = 41000000000000L // ~4.1e13 corpus grams
    val totTgt = 30700000000000L
    val row = Seq((cTgt, cRaw, totTgt, totRaw))
      .toDF("c_tgt", "c_raw", "tot_tgt", "tot_raw")
    val got = row.select(TextAnalysis.dsirWeight(1000000000L, 1024).as("w"))
      .head().getLong(0)
    val B = BigInt(1024)
    val want = ((BigInt(cTgt) + 1) * 1000000000L / (BigInt(totTgt) + B) -
      (BigInt(cRaw) + 1) * 1000000000L / (BigInt(totRaw) + B)).toLong
    assert(got === want)
    // and the wrapped-Long value it would have produced is NOT what we got
    val wrapped = ((cTgt + 1) * 1000000000L) / (totTgt + 1024L) -
      ((cRaw + 1) * 1000000000L) / (totRaw + 1024L)
    assert(got !== wrapped)
  }

  test("language id is deterministic and covers all docs") {
    val out = TextAnalysis.langId(docs)
    assert(out.count() === docs.count())
    assert(out.filter(col("pred_lang").isNull).count() === 0)
  }

  test("quality score stays within gate bounds") {
    val out = TextAnalysis.qualityScore(docs)
    assert(out.filter(col("score") % 25 =!= 0).count() === 0)
    assert(out.filter(col("score") > 100 || col("score") < 0).count() === 0)
  }

  test("source quality report matches a driver recount over the scored docs") {
    val scores = TextAnalysis.qualityScore(docs)
      .select("doc_id", "score", "wc").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val srcOf = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val bySrc = srcOf.groupBy(_._2).map { case (src, ds) =>
      val xs = ds.keys.toSeq.map(scores)
      val n = xs.size.toLong
      src -> ((n,
        xs.map(_._1.toLong).sum * 100 / n,
        xs.count(_._1 == 100).toLong,
        xs.count(_._1 == 0).toLong,
        xs.count(_._1 >= 50).toLong * 10000 / n,
        xs.map(_._2).sum / n))
    }
    val got = TextAnalysis.sourceQuality(docs).collect()
    assert(got.length === bySrc.size)
    got.foreach { r =>
      val exp = bySrc(r.getAs[String]("source"))
      assert((r.getAs[Long]("n_docs"), r.getAs[Long]("mean_score_x100"),
        r.getAs[Long]("n_full"), r.getAs[Long]("n_zero"),
        r.getAs[Long]("share_ge50_bp"), r.getAs[Long]("mean_wc")) === exp,
        r.getAs[String]("source"))
    }
    // one partial-aggregating groupBy, no doc_id re-join: the rollup
    // must plan zero joins and carry a partial aggregate
    val p = TextAnalysis.sourceQuality(docs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p.take(1500))
    assert(p.contains("partial_"), p.take(1500))
  }

  test("lineDedup: C4 boilerplate cap + Dolma keep-first, exact reassembly hash") {
    val spark0 = spark
    import spark0.implicits._
    // "header" occurs 5 times (> cap 4) -> dropped EVERYWHERE incl. its
    // first occurrence; "body one" is a plain dup -> kept only at its
    // (doc_id, pos)-minimal occurrence (1,1); unique lines survive.
    val lines = Seq(
      (1L, 0, "header"), (1L, 1, "body one"), (1L, 2, "tail a"),
      (2L, 0, "header"), (2L, 1, "body one"), (2L, 2, "tail b"),
      (3L, 0, "header"), (4L, 0, "header"), (5L, 0, "header")
    ).toDF("doc_id", "pos", "line")
    def h(s: String) = graft.functions.Portable.jvmHexHash60(s.getBytes("UTF-8"))
    val got = Dedup.lineDedup(lines, boilerplateMax = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got === Array(
      (1L, 3L, 2L, 0L, 1L, h("body one tail a")),
      (2L, 3L, 1L, 1L, 1L, h("tail b")),
      (3L, 1L, 0L, 0L, 1L, h("")),
      (4L, 1L, 0L, 0L, 1L, h("")),
      (5L, 1L, 0L, 0L, 1L, h(""))))
  }

  test("repeatedSpans: cross-doc shared span, within-doc repeat, short doc") {
    val spark0 = spark
    import spark0.implicits._
    val d = Seq(
      // doc 1 pos-0 window == doc 2 pos-1 window (cross-doc span)
      (1L, "one two three four five six seven eight nine"),
      (2L, "zzz one two three four five six seven eight"),
      (3L, "short text"), // < 8 tokens -> zero windows, still reported
      // pos-0 and pos-8 windows identical (within-doc repeat only)
      (4L, "a b c d e f g h a b c d e f g h")
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(d, w = 8).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Array(
      (1L, 2L, 1L, 1L),
      (2L, 2L, 1L, 1L),
      (3L, 0L, 0L, 0L),
      (4L, 9L, 2L, 0L)))
  }

  test("PQ: codes are per-subspace argmins; ADC distances match a driver reference") {
    val books = Ann.pqCodebooks(emb)
    val vecs = Ann.quantized(emb).select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def sub(v: Array[Long], s: Int) = v.slice(s * 16, s * 16 + 16)
    def d2(a: Array[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val codes = Ann.pqCodes(emb).collect()
      .map(r => r.getLong(0) ->
        (Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)),
          r.getLong(5))).toMap
    assert(codes.size === vecs.size)
    vecs.foreach { case (id, v) =>
      val (cs, err) = codes(id)
      val expect = (0 until 4).map { s =>
        books(s).map { case (cId, cv, _) => (d2(sub(v, s), cv), cId) }.min
      }
      assert(cs === expect.map(_._2), s"vec $id codes")
      assert(err === expect.map(_._1).sum, s"vec $id recon_err")
    }
    // every reported ADC distance is exactly the 4-table-lookup sum
    val knn = Ann.knnPq(emb, 3, 5).collect()
    assert(knn.length === 15)
    knn.foreach { r =>
      val (q, n, est) = (r.getLong(0), r.getLong(2), r.getLong(3))
      val est2 = (0 until 4).map { s =>
        val code = codes(n)._1(s)
        d2(sub(vecs(q), s), books(s).find(_._1 == code).get._2)
      }.sum
      assert(est === est2, s"query $q neighbor $n")
    }
  }

  test("IVFADC: cell-restricted ADC over residual codes matches a driver reference") {
    val spark0 = spark
    import spark0.implicits._
    val q = Ann.quantized(emb)
    val vecs = q.select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val coarse = Ann.kmeansCentroids(q.select("vec_id", "v", "norm2"), 8, 2)
    val centMap = coarse.map { case (c, cv, _) => c -> cv }.toMap
    def d2(a: Array[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def sub(v: Array[Long], s: Int) = v.slice(s * 16, s * 16 + 16)
    val cellMap = vecs.map { case (id, v) =>
      id -> coarse.map { case (c, cv, _) => (d2(v, cv), c) }.min._2
    }
    def resOf(id: Long) =
      vecs(id).zip(centMap(cellMap(id))).map { case (x, y) => x - y }
    // train the residual books on exactly the operator's residual frame
    val resDf = vecs.keys.toSeq.sorted.map(id => (id, resOf(id).toSeq))
      .toDF("vec_id", "v")
    val books = Ann.pqCodebooksFromQ(resDf)
    def codeOf(r: Array[Long], s: Int) =
      books(s).map { case (cId, cv, _) => (d2(sub(r, s), cv), cId) }.min._2
    val out = Ann.knnIvfPq(emb, 3, 5, probes = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    (0L until 3L).foreach { qid =>
      val qv = vecs(qid)
      val probed = coarse.map { case (c, cv, _) => (d2(qv, cv), c) }
        .sorted.take(2).map(_._2).toSet
      val ref = vecs.keys
        .filter(id => id != qid && probed(cellMap(id)))
        .map { id =>
          // ADC: query residual TO THE CANDIDATE'S CELL vs the
          // candidate's residual codes
          val qres = qv.zip(centMap(cellMap(id))).map { case (x, y) => x - y }
          val est = (0 until 4).map { s =>
            val code = codeOf(resOf(id), s)
            d2(sub(qres, s), books(s).find(_._1 == code).get._2)
          }.sum
          (est, id)
        }.toSeq.sorted.take(5)
      val got = out.filter(_._1 == qid).sortBy(_._2).map(r => (r._4, r._3)).toSeq
      assert(got === ref, s"query $qid")
    }
  }

  test("semanticDedup: keep-first within cells, zero vector never dropped") {
    val spark0 = spark
    import spark0.implicits._
    def e(d: Int, scale: Float): Seq[Float] =
      Seq.tabulate(64)(i => if (i == d) scale else 0.0f)
    val emb6 = Seq(
      (0L, "a", e(0, 1.0f)),   // seed / keeper of the e0 direction
      (1L, "b", e(1, 1.0f)),   // seed / keeper of the e1 direction
      (2L, "a", e(0, 0.9f)),   // parallel to v0 (cos=1) -> dropped
      (3L, "b", e(1, 0.8f)),   // parallel to v1 (cos=1) -> dropped
      (4L, "c", e(2, 1.0f)),   // orthogonal to all -> kept
      (5L, "z", Seq.fill(64)(0.0f)) // zero vector: sentinel -2 -> kept
    ).toDF("vec_id", "label", "embedding")
    val out = Ann.semanticDedup(emb6, minCosBp = 9000L,
        kCells = 2, iterations = 1)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size === 6)
    // parallel vectors share a cell by construction (identical cosine
    // to every centroid) and the smaller id wins
    assert(out(2L)._1 === out(0L)._1)
    assert(out(3L)._1 === out(1L)._1)
    assert(out.view.mapValues(_._2).toMap ===
      Map(0L -> 1L, 1L -> 1L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L))
  }

  test("IVFADC-R rerank: full-corpus shortlist reproduces brute force exactly") {
    // refine large enough that the ADC shortlist is the whole corpus:
    // with no candidate lost to the lossy ranking, the exact-cosine
    // rerank must BE the brute-force top-k, bit for bit
    val brute = Ann.knnBruteForce(emb, 3, 5).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val refined = Ann.knnPqRefined(emb, 3, 5, refine = 100).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(refined.sorted === brute.sorted)
  }

  test("IVFADC-R rerank: never below the unrefined ADC ranking's recall") {
    val truth = Ann.knnBruteForce(emb, 5, 10)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(df: org.apache.spark.sql.DataFrame): Int =
      df.select("q_id", "neighbor_id").collect()
        .count(r => truth((r.getLong(0), r.getLong(1))))
    val adc = hits(Ann.knnIvfPq(emb, 5, 10, probes = 2))
    val rr = hits(Ann.knnIvfPqRefined(emb, 5, 10, probes = 2))
    assert(rr >= adc)
  }

  test("cell balance: populations cover the corpus, exact integer shares") {
    val out = Ann.cellBalance(emb).collect()
    val n = emb.count()
    assert(out.map(_.getAs[Long]("n_vecs")).sum === n)
    out.foreach { r =>
      assert(r.getAs[Long]("share_bp") === r.getAs[Long]("n_vecs") * 10000 / n)
      assert(r.getAs[Long]("ratio_even_bp") ===
        r.getAs[Long]("n_vecs") * out.length * 10000 / n)
    }
  }
}
