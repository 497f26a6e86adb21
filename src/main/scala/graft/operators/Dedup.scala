package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SessionMemo
import graft.functions.Portable._

/** Deduplication operators for training-data curation.
  *
  * Scale design: none of these materialize the O(n²) pair space.
  * Candidate pairs come from equi-joins on content keys (exact), LSH
  * band buckets (minhash), or simhash values — all shuffle-joins on a
  * key whose cardinality grows with corpus size, so they parallelize
  * across a cluster. Verification (exact Jaccard) touches only the
  * candidate set.
  */
object Dedup {
  /** Character-shingle width shared by the ngram/minhash operators. */
  val ShingleK = 8
  /** Default MinHash band layout: 4 bands × 2 rows = 8 hashes — the
    * fast correctness-scale geometry ([[MinHashBands]] ×
    * [[MinHashRows]]; P(candidate) = 1−(1−s^rows)^bands, so 4×2 admits
    * ~68% of s=0.5 pairs to the verify join). Production geometry at
    * web scale is wider and steeper — see [[ProdBands]]/[[ProdRows]]
    * (16×8: s=0.5 admits ~6%, s=0.8 still ~95%); every minhash
    * operator takes (bands, rows) so deployments pick their S-curve.
    */
  val MinHashBands = 4
  val MinHashRows = 2
  val MinHashK = MinHashBands * MinHashRows
  /** Production band geometry: 16 bands × 8 rows = 128 hashes — the
    * standard web-scale layout. The 50%-candidate threshold
    * s* = (1−0.5^(1/b))^(1/r) rises to ≈ 0.67 and the curve steepens
    * sharply: merely-half-similar pairs drop from the default's ~68%
    * admission to ~6% (an ~11× cut in the verify-join fanout the fat
    * mid-similarity band generates at 100 TB), while s=0.8 pairs stay
    * ~95% admitted and true near-duplicates (s ≥ 0.9) essentially
    * certain. GeometrySpec pins these numbers against the measured
    * curve.
    */
  val ProdBands = 16
  val ProdRows = 8
  val MinHashPrime = 1048573L // largest prime < 2^20
  /** Deterministic (a, b) hash params; odd multipliers below 2^20. */
  val HashA: Seq[Long] = Seq(952211L, 370259L, 768389L, 113111L, 597269L, 286871L, 851423L, 104729L)
  val HashB: Seq[Long] = Seq(37199L, 915583L, 68477L, 331777L, 749341L, 55411L, 426389L, 711871L)

  /** The first `n` (a, b) minhash params: indices 0–7 are the legacy
    * literal contract values (the durable streaming band index stores
    * keys derived from them — they can never change); 8+ extend the
    * family by a fixed LCG (odd `a` below 2^20, as the literals are).
    */
  def hashParams(n: Int): Seq[(Long, Long)] =
    (0 until n).map { i =>
      if (i < HashA.size) (HashA(i), HashB(i))
      else (((1103515245L * i + 12345L) % 1048576L) | 1L,
        (1103515245L * (i + 64L) + 12345L) % 1048576L)
    }

  /** `df` hash-rebalanced across cores when its scan under-splits:
    * byte-based split sizing (`openCostInBytes` floors tiny files at
    * one split) leaves CPU-heavy per-row work — shingle explodes,
    * per-gram hashing — near-serial on a small file no matter how
    * many cores exist (guide §2.5: repartition immediately after the
    * read when the input under-splits). Deterministic hash placement
    * by the unique doc_id; scale-adaptive, not a local[32] constant —
    * at cluster scale the scan already has >= defaultParallelism
    * splits and this is a no-op. Results are partitioning-invariant.
    */
  private[graft] def cpuBalanced(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < n) df.repartition(n, col("doc_id")) else df
  }

  /** Exact dedup: group identical content by md5; keep the lowest id. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** Shingles with a document-frequency cap, keyed by their 60-bit
    * hash: shingles present in more than 1/20 of the corpus are
    * dropped from the similarity universe (numerator AND denominator,
    * so Jaccard stays consistent).
    *
    * The df cap is the standard stop-shingle filter from web-scale
    * dedup — ultra-common shingles carry no similarity signal but
    * create quadratic join fanout. Hash-early means every downstream
    * shuffle/join moves fixed-width longs instead of k-char strings.
    *
    * The shingle table is cached (the df pass and the semi-join pass
    * both read it); all dedup queries over the same corpus in a
    * session share ONE cached handle through a [[SessionMemo]],
    * releasable with [[releaseShingleCaches]].
    * The corpus count is a broadcast scalar, not a driver-side action.
    */
  def cappedShingleHashes(docs: DataFrame): DataFrame = {
    shCache.get(docs, "")({
      val nDocs = broadcast(docs.agg(count(lit(1)).as("n_docs")))
      // the shingle explode + per-shingle md5 is the CPU-heavy map
      // side of the whole dedup family — balance it across cores when
      // the doc scan under-splits (one extra metadata-scale exchange
      // inside this once-per-session cached build)
      val sh = shingleTable(cpuBalanced(docs))
        .select(col("doc_id"), hexHash60(col("s")).as("h")).cache()
      val rare = sh.groupBy("h").agg(count(lit(1)).as("df"))
        .crossJoin(nDocs)
        .filter(col("df") * 20 <= col("n_docs")).select("h")
      // Cache the CAPPED result: every consumer (minhash, ngram,
      // edit-distance, contamination — several read it twice within
      // one query) would otherwise replan the df aggregation and its
      // shuffle per subtree. The raw table is cached only while the
      // cap's two passes (df count + semi join) materialize, then
      // dropped — one resident table per corpus, not two (at 100 TB
      // the raw shingle table is the biggest intermediate in the
      // whole dedup family).
      val capped = sh.join(rare, Seq("h"), "left_semi").cache()
      capped.count()
      sh.unpersist()
      capped
    })
  }

  /** Per-session entry bound of every table memo ([[tableMemo]]: the
    * dedup tables and the replicator's segment table, each memo
    * counted separately). Tunable so a deployment sizes it to its
    * executor storage.
    */
  @volatile var cacheBound: Int = 4

  /** Per-session byte budget of every table memo, alongside
    * [[cacheBound]]: cluster labels are O(docs) rows and signature
    * tables O(docs·K), so an entry count alone is no storage bound
    * (guide §5 — cached data competes with execution memory). The
    * default is far above anything the bench corpus produces;
    * deployments size it to executor storage.
    */
  @volatile var cacheBytesBound: Long = 8L << 30

  /** A memo of cached tables under [[cacheBound]]/[[cacheBytesBound]]. */
  private[graft] def tableMemo(): SessionMemo[DataFrame] =
    SessionMemo.tables(cacheBound, cacheBytesBound)

  /** Cached capped shingle table per (session, corpus plan). */
  private val shCache = tableMemo()

  /** Cached RANKED shingle table per (session, corpus): each
    * (doc_id, h) with its shingle's global df, the doc's rarest-first
    * rank `rn` (df asc, h tie-break) and the doc's shingle count
    * `n_sh`. This is the threshold-INDEPENDENT half of the PPJoin
    * prefix builds — the two doc_id windows over the full capped
    * shingle table, the expensive half of BOTH [[ngramJaccard]] and
    * [[containmentPairs]] — which each previously rebuilt it per
    * (query, threshold). Consumers derive their prefix with their own
    * threshold filter, a codegen projection over the cached rows.
    */
  private val rankCache = tableMemo()

  private def rankedShingles(docs: DataFrame): DataFrame = {
    rankCache.get(docs, "")({
      val sh = cappedShingleHashes(docs)
      val df_ = sh.groupBy("h").agg(count(lit(1)).as("df"))
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
      // one exchange: both windows hash-partition by doc_id
      val r = sh.join(df_, "h")
        .withColumn("rn", row_number().over(byDoc.orderBy("df", "h")))
        .withColumn("n_sh", count(lit(1)).over(byDoc))
        .select("doc_id", "h", "df", "rn", "n_sh")
        .cache()
      r.count()
      r
    })
  }

  /** The PPJoin prefix at threshold `bp` (basis points): each doc's
    * first |x| − ⌈t·|x|⌉ + 1 shingles in the rarest-first order of
    * [[rankedShingles]], with t the round-inclusive effective threshold
    * (2·bp − 1)/20000 (see [[ngramJaccard]]). Any pair reaching `bp`
    * under Jaccard, and any source reaching it under containment,
    * shares a shingle of this prefix. A threshold filter over the
    * cached ranked rows, so the windows run once per corpus.
    */
  private[graft] def ppjoinPrefix(docs: DataFrame, bp: Long): DataFrame =
    rankedShingles(docs).filter(col("rn") <= col("n_sh")
      - expr(s"((${2 * bp - 1} * n_sh + 19999) div 20000)") + 1)

  /** Unpersist ONLY the dedup tables cached for `spark` (shingle,
    * ranked, pair, containment, cluster-label and signature memos) —
    * e.g. between dedup phases of a live session. For end-of-session
    * teardown use [[releaseAllCaches]].
    */
  def releaseShingleCaches(spark: SparkSession): Unit =
    Seq(shCache, rankCache, pairCache, containCache, clusterCache, sigCache)
      .foreach(_.release(spark))

  /** Session teardown: drops `spark`'s entries from every
    * [[SessionMemo]] (dedup, ANN, profiling, hybrid search, quality
    * model, replicator).
    */
  def releaseAllCaches(spark: SparkSession): Unit = SessionMemo.release(spark)

  /** Default blast-radius bound for [[ngramJaccard]]'s exhaustive pair
    * join: Σdf² over the capped shingle table, an upper bound on the
    * join's candidate-row fanout (every pair of docs sharing a shingle
    * becomes a join row, so each shingle contributes df²). Beyond this
    * the exhaustive baseline is a mistake, not a query — [[minhashLsh]]
    * produces the same pairs from bounded candidates.
    */
  val MaxNgramCandidatePairs: Long = 1L << 32

  /** Exact Jaccard over df-capped k-shingles. Output: pairs whose
    * rounded similarity reaches minJaccardBp/10000 — identical to
    * [[ngramJaccardExhaustive]], which is the Σdf² correctness twin.
    *
    * Candidate generation is prefix-filtered (the AllPairs/PPJoin
    * bound — Bayardo et al., WWW'07; Xiao et al., WWW'08): order
    * shingles globally rarest-first (df asc, h tie-break); a doc's
    * PREFIX is its first |x| − ⌈t·|x|⌉ + 1 shingles in that order, and
    * any pair with Jaccard ≥ t must share a prefix shingle (≥ ⌈t·|x|⌉
    * of x's shingles are in the intersection, so the intersection
    * can't hide entirely in the ⌈t·|x|⌉ − 1 shingles after the
    * prefix). The candidate self-join therefore runs on the prefix
    * table only — fanout Σ prefix-df² concentrated on RARE shingles —
    * instead of the exhaustive Σdf², while staying exact: candidates
    * are a superset of qualifying pairs and the verify stage computes
    * true Jaccard on full shingle sets.
    *
    * All derived bounds (prefix length, pair size filter) use the
    * INCLUSIVE effective threshold t_eff = (2·bp − 1)/20000: the
    * output condition round(inter·10⁴/union) ≥ bp admits pairs with
    * true Jaccard down to bp − 0.5 bp, so deriving the prefix from the
    * nominal t would leak boundary pairs the exhaustive form keeps.
    */
  def ngramJaccard(docs: DataFrame, minJaccardBp: Long,
      maxCandidatePairs: Long = MaxNgramCandidatePairs): DataFrame = {
    graft.core.Validation.validate("ngram-jaccard",
      graft.core.Validation.knob("minJaccardBp", minJaccardBp,
        minV = 1L, maxV = 10000L) ++
        graft.core.Validation.knob("maxCandidatePairs", maxCandidatePairs,
          minV = 1L))
    // Result cached per (session, corpus, threshold); the prefix is a
    // threshold filter over the SHARED ranked-shingle table
    // ([[rankedShingles]], cached per corpus), so the window pipeline
    // — the expensive half of the query — runs once per corpus for
    // this operator AND [[containmentPairs]] together.
    // maxCandidatePairs is part of the key: the fanout guard runs
    // inside the build, so a cache hit skips it — without the cap in
    // the key, a permissive call would populate the entry and a later
    // stricter-cap call would silently receive pairs where its
    // documented fail-CLOSED contract promises a throw.
    pairCache.get(docs, s"ppjoin cap=$maxCandidatePairs bp=$minJaccardBp")({
      val sh = cappedShingleHashes(docs)
      val prefix = ppjoinPrefix(docs, minJaccardBp).select("doc_id", "h", "n_sh")
      // past the bound the candidate volume is genuinely
      // pair-graph-sized-quadratic (e.g. a corpus of near-identical
      // docs) and minhashLsh's banding is the right tool
      requireFanout(prefix.groupBy("h").agg(count(lit(1)).as("pdf")),
          col("pdf"), col("pdf"), maxCandidatePairs) { est =>
        s"ngramJaccard: estimated prefix-candidate fanout sum(prefix_df^2)=$est " +
          s"exceeds $maxCandidatePairs; use minhashLsh (d_minhash_lsh) — " +
          "same pairs, bounded candidates"
      }
      val a = prefix.as("a"); val b = prefix.as("b")
      // size filter: J ≥ t_eff forces min(|x|,|y|) ≥ t_eff·max(|x|,|y|)
      val cands = a.join(b,
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id")
            && col("a.n_sh") * 20000 >= col("b.n_sh") * (2 * minJaccardBp - 1)
            && col("b.n_sh") * 20000 >= col("a.n_sh") * (2 * minJaccardBp - 1))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val result = jaccardFilter(sharedShingles(cands, sh, sh), sh, minJaccardBp)
        .cache()
      result.count()
      result
    })
  }

  /** The exhaustive Σdf² twin of [[ngramJaccard]]: every pair sharing
    * any shingle is a candidate. Same output by construction — kept as
    * the correctness oracle for the prefix-filtered form (the
    * equivalence is spec-pinned) and fanout-guarded because past the
    * bound the exhaustive join is a mistake, not a query.
    */
  def ngramJaccardExhaustive(docs: DataFrame, minJaccardBp: Long,
      maxCandidatePairs: Long = MaxNgramCandidatePairs): DataFrame = {
    val sh = cappedShingleHashes(docs)
    requireFanout(sh.groupBy("h").agg(count(lit(1)).as("df")),
        col("df"), col("df"), maxCandidatePairs) { est =>
      s"ngramJaccardExhaustive: estimated candidate fanout sum(df^2)=$est " +
        s"exceeds $maxCandidatePairs; use minhashLsh (d_minhash_lsh) — " +
        "same pairs, bounded candidates"
    }
    val a = sh.as("a"); val b = sh.as("b")
    val inter = a.join(b,
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    jaccardFilter(inter, sh, minJaccardBp)
  }

  /** Directed shingle CONTAINMENT pairs — the asymmetric complement of
    * [[ngramJaccard]]: C(src→dst) = |src∩dst| / |src| ≥ t flags a
    * source document largely CONTAINED in a destination (quotes,
    * partial copies, page-in-page boilerplate) even when symmetric
    * Jaccard is far below any dedup threshold because the container is
    * much larger. Since C(a→b) ≥ J(a,b), the output is a superset of
    * both directions of the Jaccard pairs at the same threshold.
    *
    * Candidates are prefix-filtered on the SOURCE side (the
    * overlap/containment variant of the AllPairs/PPJoin bound):
    * C ≥ t forces inter ≥ ⌈t·|src|⌉, so the intersection cannot avoid
    * the source's first |src| − ⌈t·|src|⌉ + 1 shingles under any fixed
    * global order — rarest-df-first concentrates that prefix on rare
    * shingles. The destination side stays the FULL shingle table
    * (containment puts no lower bound on what fraction of dst
    * matches), so the candidate fanout is Σ_h prefix-df(h) · df(h) —
    * guarded in decimal like the Jaccard forms, failing CLOSED with a
    * pointer at the banded pipeline. All bounds use the
    * round-inclusive effective threshold (2·bp − 1)/20000, mirroring
    * [[ngramJaccard]]'s boundary-pair analysis.
    */
  def containmentPairs(docs: DataFrame, minContainBp: Long,
      maxCandidatePairs: Long = MaxNgramCandidatePairs): DataFrame = {
    // cap in the key for the same fail-CLOSED reason as [[ngramJaccard]]
    containCache.get(docs, s"cap=$maxCandidatePairs bp=$minContainBp")({
      val sh = cappedShingleHashes(docs)
      // df rides along with the prefix so the fanout estimate needs no
      // extra join
      val prefix = ppjoinPrefix(docs, minContainBp)
        .select(col("doc_id").as("doc_src"), col("h"), col("df"))
      requireFanout(prefix.groupBy("h")
          .agg(count(lit(1)).as("pdf"), max("df").as("df")),
          col("pdf"), col("df"), maxCandidatePairs) { est =>
        s"containmentPairs: estimated candidate fanout sum(prefix_df*df)=$est " +
          s"exceeds $maxCandidatePairs; for symmetric near-dups use " +
          "minhashLsh (d_minhash_lsh) — bounded candidates"
      }
      val cands = prefix
        .join(sh.select(col("doc_id").as("doc_dst"), col("h")), Seq("h"))
        .filter(col("doc_src") =!= col("doc_dst"))
        .select("doc_src", "doc_dst").distinct()
      val result = containFilter(sharedShingles(cands, sh, sh), sh, minContainBp)
        .cache()
      result.count()
      result
    })
  }

  /** Cached containment pair table per (session, corpus, threshold). */
  private val containCache = tableMemo()

  /** The exhaustive twin of [[containmentPairs]] (every directed pair
    * sharing any shingle is a candidate) — spec-pinned equal, kept as
    * the correctness oracle for the prefix filter.
    */
  def containmentPairsExhaustive(docs: DataFrame, minContainBp: Long,
      maxCandidatePairs: Long = MaxNgramCandidatePairs): DataFrame = {
    val sh = cappedShingleHashes(docs)
    requireFanout(sh.groupBy("h").agg(count(lit(1)).as("df")),
        col("df"), col("df"), maxCandidatePairs) { est =>
      s"containmentPairsExhaustive: estimated candidate fanout " +
        s"sum(df^2)=$est exceeds $maxCandidatePairs"
    }
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_src"), col("b.doc_id").as("doc_dst"))
      .agg(count(lit(1)).as("inter"))
    containFilter(inter, sh, minContainBp)
  }

  /** MinHash signatures in ONE aggregation pass: all K minima computed
    * as separate agg expressions over a single shuffle — no K-way row
    * explosion (the naive param cross join multiplies the shingle
    * table by K before aggregating).
    * Output: (doc_id, mh0..mh7).
    */
  def minhashSignatures(sh: DataFrame,
      numHashes: Int = MinHashK): DataFrame = {
    val withH = sh.withColumn("h20", col("h") % 1048576L)
    val mins = hashParams(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("h20") + lit(b)) % MinHashPrime).as(s"mh$i")
    }
    withH.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Band-key combiner over one band's row minhashes (as SQL-expression
    * text, shared by the Spark `selectExpr` and the Scala-generated
    * oracle SQL so the two engines cannot drift): 2 rows use the
    * legacy INJECTIVE packing `mh_even * 1048583 + mh_odd` — a
    * cross-component CONTRACT (the streaming near-dup ingest stores
    * these keys in a DURABLE index that later batches probe, and each
    * key must stay < 2^41 for the index's `key*4 + band` packing) —
    * while wider bands hash-fold `(acc*1048583 + mh) % (2^31−1)` per
    * row, because packing r ≥ 4 values of 2^20 overflows an i64.
    * Fold collisions (~2^−31/pair) only ADD candidates; the exact
    * Jaccard verify eats them, and both engines fold identically.
    */
  def bandKeyExpr(mhs: Seq[String]): String =
    if (mhs.size == 2) s"${mhs(0)} * 1048583 + ${mhs(1)}"
    else mhs.foldLeft("0")((acc, m) =>
      s"(($acc) * 1048583 + $m) % 2147483647")

  /** Session-cached [[minhashSignatures]] for the BATCH operators
    * that share one corpus: the production-geometry signature pass
    * (128 LCG min-aggregates over the shingle table) was computed
    * once by the bucket-balance report and AGAIN by the prod pair
    * pipeline. Streaming ingest keeps calling the uncached form
    * (per-batch frames would only churn the memo).
    */
  def minhashSignaturesCached(sh: DataFrame,
      numHashes: Int = MinHashK): DataFrame = {
    sigCache.get(sh, s"k=$numHashes")({
      minhashSignatures(sh, numHashes).cache()
    })
  }

  /** Cached signature table per (session, corpus shingles, K). */
  private val sigCache = tableMemo()

  /** Banded minhash signatures: wide (mh0..mh{b·r−1}) → long (doc_id,
    * band, band_key); band `b` spans rows mh(b·r)..mh(b·r+r−1). The
    * default geometry's key arithmetic is the durable-index contract
    * — see [[bandKeyExpr]].
    */
  def bandedSignatures(signatures: DataFrame, bands: Int = MinHashBands,
      rows: Int = MinHashRows): DataFrame = {
    val stackExpr = (0 until bands).map { b =>
      s"$b, ${bandKeyExpr((0 until rows).map(r => s"mh${b * rows + r}"))}"
    }.mkString(", ")
    signatures.selectExpr("doc_id",
      s"stack($bands, $stackExpr) AS (band, band_key)")
  }

  /** LSH candidate pairs from banded minhash signatures:
    * wide signature → stack to (band, band_key) → self equi-join.
    */
  def lshCandidates(signatures: DataFrame, bands: Int = MinHashBands,
      rows: Int = MinHashRows): DataFrame = {
    val banded = bandedSignatures(signatures, bands, rows)
    val x = banded.as("x"); val y = banded.as("y")
    x.join(y, col("x.band") === col("y.band")
        && col("x.band_key") === col("y.band_key")
        && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Band-bucket balance of the LSH layout — the observability number
    * the whole minhash scale story rests on: the candidate join's
    * workload IS Σ C(|bucket|, 2) over the band buckets, so one hot
    * bucket (a boilerplate-heavy shingle population collapsing many
    * docs onto one band key) quietly turns the "never all-pairs"
    * guarantee into an all-pairs join inside that bucket. This is the
    * dedup twin of the IVF cell-balance report ([[Ann.cellBalance]],
    * A11): per band — docs banded, distinct buckets, singleton buckets
    * (no candidates at all), the largest bucket, and the EXACT
    * candidate pair volume `Σ n·(n−1) div 2` the verify stage would
    * face. Defaults to the production 16×8 geometry.
    *
    * Scale: one partial-aggregating `groupBy(band, band_key)` over the
    * banded signatures, then a `bands`-row rollup — bucket-scale, never
    * pair-scale (the report costs less than the join it predicts).
    */
  def bucketBalance(docs: DataFrame, bands: Int = ProdBands,
      rows: Int = ProdRows): DataFrame = {
    val sh = cappedShingleHashes(docs)
    val banded = bandedSignatures(minhashSignaturesCached(sh, bands * rows),
      bands, rows)
    banded.groupBy("band", "band_key").agg(count(lit(1)).as("n"))
      .groupBy("band")
      .agg(sum("n").as("n_docs"),
        count(lit(1)).as("n_buckets"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_singletons"),
        max("n").as("max_bucket"),
        expr("sum(n * (n - 1)) div 2").as("cand_pairs"))
  }

  /** Full MinHash+LSH near-dup pipeline: shingle → sign → band →
    * candidate join → exact-Jaccard verify.
    *
    * The VERIFIED pair table is cached per (session, corpus,
    * threshold) like the shingle table: clustering, edit-distance
    * verification, and the pair listing itself all consume the same
    * pairs, and the table is pair-graph-scale (orders of magnitude
    * smaller than the corpus) — recomputing the whole
    * sign→band→join→verify pipeline per consumer was the single
    * largest repeated cost in a dedup session.
    */
  def minhashLsh(docs: DataFrame, minJaccardBp: Long,
      bands: Int = MinHashBands, rows: Int = MinHashRows): DataFrame = {
    graft.core.Configs.LshGeometry(bands, rows, minJaccardBp).validated
    pairCache.get(docs, s"lsh b=$bands r=$rows bp=$minJaccardBp")({
      val sh = cappedShingleHashes(docs)
      val cands = lshCandidates(minhashSignaturesCached(sh, bands * rows),
        bands, rows)
      jaccardFilter(sharedShingles(cands, sh, sh), sh, minJaccardBp).cache()
    })
  }

  /** Cached verified pair table per (session, corpus plan, threshold). */
  private val pairCache = tableMemo()

  /** SimHash width in bits. 60 keeps the value in the portable
    * non-negative i64 range (DuckDB errors on i64 overflow) while
    * giving the banded pair join enough entropy that band buckets
    * stay cold even on clustered corpora — the failure mode that made
    * banding lose to the pair join at the old 24-bit width.
    */
  val SimhashBits = 60

  /** 60-bit SimHash per doc over token hashes (majority vote per bit),
    * computed as 60 agg expressions over ONE shuffle — no 60-way bit
    * explosion of the token table.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(normText(col("text")), " ")).as("tok"))
      .withColumn("h", hexHash60(col("tok")))
    val votes = (0 until SimhashBits).map { b =>
      sum(when(expr(s"shiftright(h, $b)") % 2 === 1, 1L).otherwise(-1L)).as(s"v$b")
    }
    toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until SimhashBits).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs within the given Hamming distance, via
    * pigeonhole banding: split the 60 bits into maxHamming+1 disjoint
    * bands — any pair within maxHamming differs in at most maxHamming
    * bands, so at least ONE band matches exactly. Candidates therefore
    * come from an equi-join on (band, band_val); the exact Hamming
    * check on the candidates makes the result identical to the
    * all-pairs join with no O(n²) plan (reference semantics:
    * near-dup pair sets; plan shape per Manku et al., WWW'07 —
    * public simhash banding literature).
    *
    * `hotBucketCap` is the scale safety valve: a band bucket holding
    * more than this many docs is dropped from candidate generation
    * (its self-join would be quadratic in the bucket). The default is
    * far above anything the test corpora produce, so correctness runs
    * are exact; at 100 TB an operator sets it to bound worst-case
    * skew, trading recall only inside pathological buckets.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int,
      hotBucketCap: Long = 1L << 20): DataFrame = {
    graft.core.Validation.validate("simhash-radius",
      graft.core.Configs.SimHashRadius(maxHamming).violations ++
        graft.core.Validation.knob("hotBucketCap", hotBucketCap, minV = 1L))
    val s = simhash(docs)
    val bands = maxHamming + 1
    val width = (SimhashBits + bands - 1) / bands
    val stackExpr = (0 until bands).map { i =>
      s"$i, shiftright(simhash, ${i * width}) % ${1L << width}"
    }.mkString(", ")
    val banded = s.selectExpr("doc_id", "simhash",
      s"stack($bands, $stackExpr) AS (band, band_val)")
    val cold = banded.groupBy("band", "band_val")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= hotBucketCap)
      .select("band", "band_val")
    val pruned = banded.join(cold, Seq("band", "band_val"), "left_semi")
    val x = pruned.as("x"); val y = pruned.as("y")
    x.join(y, col("x.band") === col("y.band")
        && col("x.band_val") === col("y.band_val")
        && col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Near-dup CLUSTERS from the pair list — the step a curation
    * pipeline actually needs after any pairwise dedup operator: group
    * transitively-connected documents, elect one keeper per cluster.
    *
    * Connected components via iterative min-label propagation: each
    * round every doc takes the minimum cluster label among itself and
    * its neighbors. Every round is one equi-join + one aggregation
    * (all shuffles on doc id — cluster-parallel); rounds needed =
    * graph diameter, and near-dup clusters are shallow (a handful of
    * docs), so the loop converges in a few rounds. `maxIters` bounds
    * pathological chains; the loop exits early at fixpoint (checked
    * via one count per round — metadata-scale driver work, standard
    * for iterative graph algorithms on Spark).
    *
    * Output: (doc_id, cluster_id, keep) for every document —
    * singletons are their own cluster and always kept; cluster_id =
    * min doc_id in the component; keep = doc_id == cluster_id.
    */
  def dedupClusters(docs: DataFrame, minJaccardBp: Long,
      maxIters: Int = 20): DataFrame = {
    // Cache the cluster-label table per (session, corpus, threshold):
    // the verified pairs are already cached, but the CC loop itself
    // (edge materialization + a count-gated round per graph-diameter
    // step, each an eager driver-side action) re-ran for EVERY
    // consumer — clusters, the per-source report, both keeper
    // elections, the leakage-safe split, the lineage audit. Labels are
    // (doc_id, cluster_id, keep) — corpus-rows-scale but three fixed
    // columns, far smaller than the cached shingle table — and the
    // loop is deterministic, so memoizing is invisible to results
    // (guide §2.4: don't recompute what a prior identical pass
    // already shuffled).
    clusterCache.get(docs, s"iters=$maxIters bp=$minJaccardBp")({
      dedupClustersUncached(docs, minJaccardBp, maxIters).cache()
    })
  }

  /** Cached cluster-label table per (session, corpus, threshold). */
  private val clusterCache = tableMemo()

  private def dedupClustersUncached(docs: DataFrame, minJaccardBp: Long,
      maxIters: Int): DataFrame = {
    val pairs = minhashLsh(docs, minJaccardBp).select("doc_a", "doc_b")
    // undirected edge list, both directions — exploded from ONE pass
    // over the pair pipeline (a self-union would run it twice)
    val edges0 = pairs
      .select(explode(array(
        struct(col("doc_a"), col("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
      .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b"))
      .cache()
    // materialize FULLY before looping (a partial action would cache
    // only some partitions and every round would re-run the whole pair
    // pipeline for the rest), and size the graph's partitioning from
    // the MEASURED edge count: the pair graph is orders of magnitude
    // smaller than the corpus, and iterating tiny tables at the
    // corpus's partition count pays a full task-grid of scheduling
    // overhead per round (the local analogue of a 100 TB job keeping
    // 100k reducers alive to shuffle a few thousand rows)
    val nEdges = edges0.count()
    val gp = math.max(1, math.min(2000, (nEdges / 50000L).toInt + 1))
    // localCheckpoint TRUNCATES the logical plan, not just the
    // computation: a self-join per round otherwise DOUBLES the plan
    // tree each iteration (each reference inlines the full upstream
    // lineage), and Catalyst re-analyzes that exponentially-growing
    // tree on every action — the loop becomes driver-planning-bound.
    // (A production cluster job would use reliable checkpointing to
    // the checkpoint dir; same truncation, fault-tolerant.)
    val edges = edges0.repartition(gp, col("doc_b")).localCheckpoint(true)
    edges0.unpersist()
    // iterate ONLY over docs that appear in the pair graph — everything
    // else is trivially its own singleton cluster (unioned at the end)
    val edgeDocs = edges.select("doc_a").repartition(gp, col("doc_a")).distinct()
      .withColumnRenamed("doc_a", "doc_id").localCheckpoint(true)
    var labels = edgeDocs.withColumn("cluster", col("doc_id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val next = ccRound(edges, labels, gp).localCheckpoint(true)
      val changed = next.repartition(gp, col("doc_id"))
        .join(labels.withColumnRenamed("cluster", "old"), Seq("doc_id"))
        .filter(col("cluster") =!= col("old")).count()
      labels = next
      converged = changed == 0
      i += 1
    }
    // labels is already checkpointed (tiny plan); singletons join the
    // corpus against the checkpointed edge-doc table
    val singletons = docs.select("doc_id")
      .join(edgeDocs, Seq("doc_id"), "left_anti")
      .withColumn("cluster", col("doc_id"))
    labels.unionByName(singletons)
      .withColumn("keep", (col("doc_id") === col("cluster")).cast("int"))
      .withColumnRenamed("cluster", "cluster_id")
  }

  /** One label-propagation round over the pair graph: neighbor-min
    * plus a pointer jump (path halving — follow the label's own label,
    * turning O(diameter) convergence into O(log diameter); long
    * similarity chains otherwise dominate the round count).
    *
    * Every shuffle is pinned to `gp` partitions by explicitly
    * repartitioning each join/aggregation input: the graph tables are
    * thousands of times smaller than the corpus, so the loop must not
    * inherit the session shuffle width — and it must not MUTATE the
    * session conf to get its width either (a concurrent query on the
    * same session would plan at the narrowed width; this loop ran
    * conf-swapped until round 8). Package-visible so the plan audit
    * can pin the exchange widths.
    */
  private[graft] def ccRound(edges: DataFrame, labels: DataFrame,
      gp: Int): DataFrame = {
    val neighborMin = edges
      .join(labels.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("cluster", "nb_cluster")
        .repartition(gp, col("doc_b")), Seq("doc_b"))
      .repartition(gp, col("doc_a"))
      .groupBy(col("doc_a").as("doc_id"))
      .agg(min("nb_cluster").as("nb_min"))
    val propagated = labels.repartition(gp, col("doc_id"))
      .join(neighborMin, Seq("doc_id"), "left")
      .select(col("doc_id"),
        least(col("cluster"), coalesce(col("nb_min"), col("cluster")))
          .as("cluster"))
    propagated.as("a")
      .join(propagated.select(col("doc_id").as("cluster"),
          col("cluster").as("jump")).repartition(gp, col("cluster")),
        Seq("cluster"), "left")
      .select(col("doc_id"),
        least(col("cluster"), coalesce(col("jump"), col("cluster")))
          .as("cluster"))
  }

  /** Benchmark-contamination check — the decontamination pass every
    * LLM training pipeline runs before a corpus ships: flag training
    * documents sharing character shingles with a held-out benchmark
    * set. Uses the df-capped shingle universe (boilerplate shingles
    * carry no contamination signal and would quadratically inflate the
    * join) — one equi-join on the 60-bit shingle hash, one count.
    *
    * `isBenchmark` partitions the corpus (here a predicate column;
    * in production the benchmark set is its own table on the same
    * shingle schema). Output: training docs with >= minShared shared
    * shingles, with the evidence count.
    */
  def contamination(docs: DataFrame, isBenchmark: Column,
      minShared: Long = 3L): DataFrame = {
    val sh = cappedShingleHashes(docs)
    // The benchmark set is tiny relative to the corpus (that is what
    // makes decontamination feasible at all) — broadcast its doc ids
    // and filter the shingle table in place, instead of shuffling a
    // corpus-wide flag table onto every shingle by doc_id.
    val benchDocs = broadcast(docs.select(col("doc_id")).where(isBenchmark))
    val benchH = sh.join(benchDocs, Seq("doc_id"), "left_semi")
      .select("h").distinct()
    sh.join(benchDocs, Seq("doc_id"), "left_anti")
      .join(benchH, Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= minShared)
  }

  /** Fuzzy (near-duplicate) decontamination — the similarity twin of
    * [[contamination]]: [[contamination]] is the GPT-3-style exact
    * n-gram overlap test (ANY shared shingle evidence), this is the
    * Llama-style near-dup test — a training doc is contaminated when
    * its verified Jaccard against some benchmark doc clears a
    * threshold, catching truncated/lightly-paraphrased benchmark
    * copies that still read as the same document while NOT flagging
    * docs that merely quote a common phrase.
    *
    * Same machinery as [[minhashLsh]], but the candidate join is
    * train × BENCHMARK instead of a corpus self-join: benchmark band
    * keys and benchmark shingles are both broadcast (the benchmark set
    * being corpus-scale-small is what makes decontamination feasible
    * at all), so the train side is never shuffled pairwise — candidate
    * volume is bounded by benchmark bucket occupancy, and only
    * LSH-collided (train, bench) pairs reach the exact-Jaccard verify.
    *
    * Output: (doc_a = training doc, doc_b = benchmark doc, inter,
    * union_sh, jacc_bp) for verified pairs with jacc_bp >= threshold.
    *
    * CALLER CONTRACT — `isBenchmark` must select a corpus-scale-SMALL
    * set: the benchmark's banded signatures AND its full shingle
    * table are broadcast (driver + per-executor copies), so the
    * predicate's matching shingle volume must fit comfortably in one
    * executor's memory (the real decontamination shape: thousands of
    * eval documents against billions of training docs). A wide
    * predicate (a large fraction of the corpus) blows up the
    * broadcast, not the answer — if the "benchmark" side can be
    * corpus-scale, use [[minhashLsh]]'s shuffled self-join geometry
    * instead.
    */
  def contaminationFuzzy(docs: DataFrame, isBenchmark: Column,
      minJaccardBp: Long, bands: Int = MinHashBands,
      rows: Int = MinHashRows): DataFrame = {
    graft.core.Configs.LshGeometry(bands, rows, minJaccardBp).validated
    val sh = cappedShingleHashes(docs)
    val benchDocs = broadcast(docs.select(col("doc_id")).where(isBenchmark))
    val banded = bandedSignatures(minhashSignatures(sh, bands * rows),
      bands, rows)
    val benchBanded = banded.join(benchDocs, Seq("doc_id"), "left_semi")
    val trainBanded = banded.join(benchDocs, Seq("doc_id"), "left_anti")
    val cands = trainBanded.as("x")
      .join(broadcast(benchBanded).as("y"),
        col("x.band") === col("y.band")
          && col("x.band_key") === col("y.band_key"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val benchSh = broadcast(sh.join(benchDocs, Seq("doc_id"), "left_semi"))
    jaccardFilter(sharedShingles(cands, sh, benchSh), sh, minJaccardBp)
  }

  /** Line-level exact dedup — the C4/Dolma-style sub-document pass
    * (C4 dropped lines duplicated across the corpus; Dolma's paragraph
    * dedup keeps only a line's first occurrence): given `(doc_id, pos,
    * line)` rows — the caller picks the splitter (newline paragraphs,
    * sentences, fixed token windows) — classify every line as
    *
    *  - `boilerplate`: its corpus-wide occurrence count exceeds
    *    `boilerplateMax` → dropped EVERYWHERE (the C4 rule: such lines
    *    are navigation chrome / license headers, not content);
    *  - `kept`: the first occurrence in `(doc_id, pos)` order of a
    *    non-boilerplate line (the Dolma keep-first rule);
    *  - `dup`: any later occurrence → dropped.
    *
    * and roll up per document: line counts by class plus the 60-bit
    * hash of the surviving text (kept lines re-joined in `pos` order),
    * so the oracle verifies the REASSEMBLED document exactly, not just
    * the counts.
    *
    * Scale: lines are hashed to 60-bit keys immediately (fixed-width
    * longs on every shuffle). Occurrence count and first occurrence
    * come from ONE `groupBy(h)` whose aggregates — `count` and
    * `min(struct(doc_id, pos))` — both partial-aggregate map-side, so
    * a mega-hot line (the empty paragraph, a license header repeated
    * billions of times) collapses to one row per map task instead of
    * flooding a single reducer; the decision then joins that stats
    * table back on `h` (equi-join, AQE-skew-splittable). No windows
    * over the raw line table, no all-pairs anything; the per-doc
    * rollup shuffles on `doc_id`, whose group size is one doc's lines.
    *
    * Collision semantics: lines are identified by their 60-bit hash,
    * so at trillion-line scale birthday collisions will occasionally
    * merge two distinct lines and drop one as a false "dup" — the
    * standard lossy-curation tolerance (Dolma's paragraph bloom
    * filter accepts the same false-positive class). Dedup can only
    * OVER-drop, never under-drop or corrupt kept text.
    */
  def lineDedup(lines: DataFrame, boilerplateMax: Long): DataFrame = {
    graft.core.Validation.validate("line-dedup",
      graft.core.Validation.knob("boilerplateMax", boilerplateMax, minV = 1L))
    val keyed = lines.select(col("doc_id"), col("pos"),
      col("line"), hexHash60(col("line")).as("h"))
    val stats = keyed.groupBy("h").agg(
      count(lit(1)).as("occ"),
      min(struct(col("doc_id"), col("pos"))).as("first_occ"))
    val decided = keyed.join(stats, Seq("h"))
      .withColumn("status",
        when(col("occ") > boilerplateMax, lit("boilerplate"))
          .when(col("first_occ.doc_id") === col("doc_id")
            && col("first_occ.pos") === col("pos"), lit("kept"))
          .otherwise(lit("dup")))
    decided.groupBy("doc_id").agg(
      count(lit(1)).as("n_lines"),
      sum(when(col("status") === "kept", 1L).otherwise(0L)).as("n_kept"),
      sum(when(col("status") === "dup", 1L).otherwise(0L)).as("n_dup_dropped"),
      sum(when(col("status") === "boilerplate", 1L).otherwise(0L))
        .as("n_boiler_dropped"),
      hexHash60(array_join(transform(
        array_sort(collect_list(when(col("status") === "kept",
          struct(col("pos"), col("line"))))),
        s => s.getField("line")), " ")).as("kept_hash"))
  }

  /** Cross-document repeated-span detection — the Spark re-expression
    * of suffix-array exact substring dedup ("Deduplicating Training
    * Data Makes Language Models Better": memorized spans repeat
    * VERBATIM across documents at sub-document granularity, below
    * what doc-level minhash sees and across doc boundaries where
    * line dedup can't look). A suffix array is a single sorted
    * in-memory structure with no distributed analogue; the relational
    * re-expression slides a `w`-token window (stride `stride`) over
    * each doc's token-hash array and keys every window by its
    * polynomial rolling hash — two windows share a key iff their
    * token sequences collide (60→20-bit token hashes mod 2^31−1:
    * over-flag-only, the standard lossy-curation tolerance).
    *
    * Output per doc: total windows, windows whose span occurs again
    * anywhere in the corpus (`n_dup_windows`), and windows whose span
    * occurs in at least one OTHER doc (`n_xdoc_windows` — the
    * memorization signal). Docs shorter than one window report zeros.
    *
    * Scale: window generation is a pure projection (array transform
    * inside codegen — no self-join, no per-token explode of raw
    * text); the exploded (doc_id, pos, h) table is `n_toks/stride`
    * rows per doc — the honest cost of substring-level dedup; stride
    * thins it when full coverage isn't needed. Stats come from
    * `groupBy(h, doc_id)` then `groupBy(h)`, both partial-aggregating
    * map-side, so a corpus-wide boilerplate span (license header,
    * nav chrome) collapses per map task instead of flooding one
    * reducer; the decision join is an equi-join on `h`
    * (AQE-skew-splittable) against the already-collapsed per-doc
    * table, never against raw windows.
    */
  def repeatedSpans(docs: DataFrame, w: Int = 8, stride: Int = 1): DataFrame = {
    graft.core.Configs.Chunking(w, stride).validated
    val perDoc = spanWindows(docs, w, stride)
      .groupBy("h", "doc_id").agg(count(lit(1)).as("n_in_doc"))
    val stats = perDoc.groupBy("h")
      .agg(sum("n_in_doc").as("n_occ"), count(lit(1)).as("n_docs"))
    val rolled = perDoc.join(stats, Seq("h"))
      .groupBy("doc_id")
      .agg(sum("n_in_doc").as("n_windows"),
        sum(when(col("n_occ") > 1, col("n_in_doc")).otherwise(0L))
          .as("n_dup_windows"),
        sum(when(col("n_docs") > 1, col("n_in_doc")).otherwise(0L))
          .as("n_xdoc_windows"))
    docs.select("doc_id").join(rolled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_xdoc_windows"), lit(0L)).as("n_xdoc_windows"))
  }

  /** D18: exact-substring span STRIP — the remedy to [[repeatedSpans]]'
    * signal (Lee et al. 2022's ExactSubstr deduplication: verbatim
    * spans repeated ANYWHERE in the corpus are memorization fuel, and
    * doc-level near-dup passes never see them). Every w-token window
    * whose rolling hash occurs more than once corpus-wide keeps its
    * FIRST occurrence — min (doc_id, pos), packed into one integer so
    * a single partial-agg `min` elects it bit-identically in both
    * engines — and every OTHER occurrence's token range is removed
    * from its document. Output per doc: token counts kept/dropped and
    * the exact 60-bit hash of the reassembled stripped text (the same
    * reassembly-hash discipline as [[lineDedup]] — the oracle proves
    * the rebuilt STRING, not just the counts).
    *
    * Window rule shared with [[repeatedSpans]] through one generator
    * ([[spanWindows]], stride 1), so the signal row and the remedy row
    * cannot drift.
    *
    * Scale: window generation is the same pure projection as
    * [[repeatedSpans]]; the election is one partial-agg `groupBy(h)`
    * (window-universe scale, boilerplate spans collapse map-side); the
    * marked ranges explode to ≤ w rows each (w = 8 — bounded fanout,
    * never raw-text scale beyond the token table itself); the rebuild
    * is one `groupBy(doc_id)` whose input is co-located per doc and
    * partial-aggregates. No self-join, no window function, no
    * cartesian.
    */
  def spanStrip(docs: DataFrame, w: Int = 8): DataFrame = {
    val (base, marked) = spanMarked(docs, w)
    // per-doc covered-position SETS, not exploded token rows: the only
    // shuffled table is marked-window-scale (each marked window covers
    // ≤ w positions), and the REBUILD is then a pure projection over
    // the original token array — no token-level shuffle, no per-doc
    // collect_list of the corpus text (the memory shape that matters
    // at 100 TB). Worst case per doc is |cov|·n_toks membership
    // checks — bounded by the doc's own length squared, never by the
    // corpus.
    val coveredPerDoc = marked
      .select(col("doc_id"), explode(sequence(col("pos"),
        col("pos") + (w - 1))).as("p"))
      .groupBy("doc_id").agg(collect_set(col("p")).as("cov"))
    val rebuilt = base.join(coveredPerDoc, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("cov"), typedLit(Seq.empty[Long])))
      .withColumn("kept_arr", filter(col("tk"),
        (_, i) => !array_contains(col("cov"), i.cast("long"))))
    rebuilt.select(col("doc_id"), col("n_toks"),
      size(col("kept_arr")).cast("long").as("kept_tokens"),
      (col("n_toks") - size(col("kept_arr")).cast("long"))
        .as("dropped_tokens"),
      graft.functions.Portable.hexHash60(
        concat_ws(" ", col("kept_arr"))).as("stripped_hash"))
  }

  /** The shared D18 election spine of [[spanStrip]] /
    * [[spanStripMaximal]]: tokenized docs plus the MARKED windows
    * (non-keeper occurrences of corpus-repeated w-token spans).
    * Returns (base tokens with `tk`/`n_toks`, marked `(doc_id, pos)`).
    */
  private def spanMarked(docs: DataFrame, w: Int): (DataFrame, DataFrame) = {
    val P = 1L << 20
    val MaxDoc = 1L << 42
    val base = docs.select(col("doc_id"),
        split(normText(col("text")), " ").as("tk"))
      .withColumn("n_toks", size(col("tk")).cast("long"))
    val wins = spanWindows(docs, w, stride = 1)
    // fail-CLOSED packed-key guard (the qualityKeeper discipline): a
    // doc_id ≥ 2^42 or a position ≥ 2^20 would alias the election key
    val packed = when(col("doc_id") < 0 || col("doc_id") >= MaxDoc,
        raise_error(concat(lit("spanStrip: doc_id outside packed range "
          + "[0, 2^42): "), col("doc_id").cast("string"))))
      .when(col("pos") >= P,
        raise_error(concat(lit("spanStrip: window position outside "
          + "packed range [0, 2^20): "), col("pos").cast("string"))))
      .otherwise(col("doc_id") * P + col("pos"))
    // materialize the packed window table once (three longs per
    // window): its two consumers — the election and the marked join —
    // would otherwise each re-run the tokenize + per-token md5 +
    // window projection (the dominant cost; the dsirSelect/recallTable
    // shared-spine idiom)
    val keyed = wins.withColumn("pk", packed).localCheckpoint()
    val dup = keyed.groupBy("h")
      .agg(count(lit(1)).as("n_occ"), min("pk").as("keeper"))
    val marked = keyed.join(dup, Seq("h"))
      .filter(col("n_occ") > 1 && col("pk") =!= col("keeper"))
      .select("doc_id", "pos")
    (base, marked)
  }

  /** D18 at Lee et al.'s real granularity — MAXIMAL repeated spans:
    * [[spanStrip]] marks fixed-w windows, but a repeated passage of
    * length L > w marks L−w+1 OVERLAPPING windows; the maximal-span
    * view merges adjacent/overlapping marked windows into the covered
    * ISLANDS (gaps-and-islands over the covered-position explode —
    * the sessionization house pattern), reporting each removed span
    * once as `(span_start, span_end, span_len)` instead of w-window
    * fragments. Same election as [[spanStrip]] (shared
    * [[spanMarked]] spine — signal, remedy, and span report cannot
    * drift), so `sum(span_len)` per doc equals spanStrip's
    * `dropped_tokens` exactly.
    *
    * Scale: the only window function is partitioned per doc over the
    * doc's own covered positions (bounded by doc length, never corpus
    * scale); everything upstream is the spanStrip plan — partial-agg
    * election, marked-window-scale explode (≤ w rows each), no
    * self-join.
    */
  def spanStripMaximal(docs: DataFrame, w: Int = 8): DataFrame = {
    val (_, marked) = spanMarked(docs, w)
    val covered = marked.select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("p"))
      .distinct()
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("p")
    covered
      .withColumn("grp", col("p") - row_number().over(wd))
      .groupBy("doc_id", "grp")
      .agg(min("p").as("span_start"), max("p").as("span_end"),
        count(lit(1)).as("span_len"))
      .select("doc_id", "span_start", "span_end", "span_len")
  }

  // ---- helpers ----

  /** The w-token span windows of [[repeatedSpans]] and [[spanMarked]]:
    * `(doc_id, pos, h)` per window start `pos` (every `stride`-th
    * token), `h` the polynomial rolling hash of the window's 20-bit
    * token hashes mod 2^31−1. A pure projection plus one explode; docs
    * shorter than one window yield no rows.
    */
  private[graft] def spanWindows(docs: DataFrame, w: Int, stride: Int): DataFrame = {
    val th = transform(split(normText(col("text")), " "), t => hexHash20(t))
    docs.select(col("doc_id"), th.as("th"))
      .withColumn("n_toks", size(col("th")))
      .filter(col("n_toks") >= w)
      .select(col("doc_id"), explode(transform(
        // (n_toks - w) >= 0 here, so double-divide + int cast is floor
        sequence(lit(0), ((col("n_toks") - w) / stride).cast("int")),
        i => struct((i * stride).cast("long").as("pos"),
          aggregate(slice(col("th"), i * stride + 1, lit(w)), lit(0L),
            (acc, h) => (acc * 31L + h) % 2147483647L).as("h")))).as("wn"))
      .select(col("doc_id"), col("wn.pos").as("pos"), col("wn.h").as("h"))
  }

  /** doc_id + distinct k-shingles of the normalized text. Docs shorter
    * than one shingle are dropped (nothing to compare).
    */
  def shingleTable(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), normText(col("text")).as("t"))
      .filter(length(col("t")) >= ShingleK)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), length(col("t")) - (ShingleK - 1)),
          i => col("t").substr(i, lit(ShingleK))))).as("s"))

  /** Quality-aware keeper election over the near-dup clusters: instead
    * of [[dedupClusters]]'s min-doc_id keeper, each cluster keeps its
    * HIGHEST-QUALITY member (SemDeDup / FineWeb practice — dropping a
    * random member of a near-dup cluster throws away the cleanest copy
    * about half the time; electing by quality keeps it always).
    *
    * The election key packs (quality, id) into one integer —
    * `(100 - score) * 2^40 + doc_id` — so a single `min` aggregate
    * picks max-score with min-doc_id tiebreak, bit-identically in both
    * engines (no struct-ordering or float semantics involved; score is
    * the int-exact 0..100 gate score of
    * [[graft.functions.TextAnalysis.qualityScore]], and doc ids up to
    * 2^40 — a trillion documents — stay inside an i64 without overflow).
    *
    * Scale: the cluster labels are the [[dedupClusters]] output (graph-
    * sized), quality is a per-doc projection, and the election is one
    * partial-aggregating `groupBy(cluster_id)` + a broadcast-sized
    * re-join only against the labels table — no corpus-wide window.
    */
  def qualityKeeper(docs: DataFrame, minJaccardBp: Long): DataFrame = {
    val labels = dedupClusters(docs, minJaccardBp).select("doc_id", "cluster_id")
    val q = graft.functions.TextAnalysis.qualityScore(docs).select("doc_id", "score")
    // fail-CLOSED guard on the packed-key bounds (same style as the
    // fanout guards): an id ≥ 2^40 or a score outside [0, 100] would
    // silently alias the election key and elect the wrong keeper — a
    // row-level raise_error inside the projection costs one codegen
    // branch, no extra pass over the corpus
    val pack = (lit(100L) - col("score")) * lit(1099511627776L) + col("doc_id")
    val keyed = labels.join(q, Seq("doc_id"))
      .withColumn("ek",
        when(col("doc_id") < 0 || col("doc_id") >= 1099511627776L,
          raise_error(concat(lit("qualityKeeper: doc_id outside packed "
            + "range [0, 2^40): "), col("doc_id").cast("string"))))
          .when(col("score") < 0 || col("score") > 100,
            raise_error(concat(lit("qualityKeeper: score outside [0, 100]: "),
              col("score").cast("string"))))
          .otherwise(pack))
    val best = keyed.groupBy("cluster_id").agg(min("ek").as("best_ek"))
      .withColumn("keeper_id", pmod(col("best_ek"), lit(1099511627776L)))
      .select("cluster_id", "keeper_id")
    keyed.join(best, Seq("cluster_id"))
      .withColumn("keep", (col("doc_id") === col("keeper_id")).cast("int"))
      .select("doc_id", "cluster_id", "score", "keeper_id", "keep")
  }

  /** D14's keeper election with the LEARNED quality signal (T21)
    * instead of the heuristic gate: each near-dup cluster keeps its
    * highest-model-score member (tie → min doc_id) — the
    * FineWeb-style pipeline composition where a trained classifier,
    * not a hand rule, decides which duplicate survives. The model
    * trains once on the corpus's labeled stratum
    * ([[graft.functions.TextAnalysis.qualityModelTrain]], driver
    * weights) and scores ride a zero-shuffle projection; the election
    * is ONE window over cluster partitions (model scores span the
    * full integer range, so the D14 packed-key trick — bounded
    * [0,100] scores — does not apply here).
    */
  def modelKeeper(docs: DataFrame, minJaccardBp: Long): DataFrame = {
    val labels = dedupClusters(docs, minJaccardBp).select("doc_id", "cluster_id")
    val w = graft.functions.TextAnalysis.qualityModelTrain(docs)
    val sc = graft.functions.TextAnalysis.qualityModelScore(docs, w)
      .select("doc_id", "m_score")
    val keyed = labels.join(sc, Seq("doc_id"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("m_score").desc, col("doc_id"))
    val keepers = keyed.withColumn("rn", row_number().over(win))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keeper_id"))
    keyed.join(keepers, Seq("cluster_id"))
      .withColumn("keep", (col("doc_id") === col("keeper_id")).cast("int"))
      .select("doc_id", "cluster_id", "m_score", "keeper_id", "keep")
  }

  /** Per-source dedup observability — the report a crawl operator
    * reads after any dedup pass (WHICH sources produce the
    * duplicates): per `source` stratum, document count, documents
    * living in a near-dup cluster of size ≥ 2 (`n_dup_docs`),
    * documents the keeper election would drop (`n_dropped`), and the
    * duplicated share in integer basis points. A source with a high
    * `dup_bp` is re-crawling its own mirror — the operational signal
    * this table exists for.
    *
    * Scale: cluster labels are the [[dedupClusters]] output; cluster
    * sizes come from one partial-aggregating `groupBy(cluster_id)`
    * (graph-scale); the per-source rollup is one `groupBy(source)`
    * over a projection — strata count is domain-bounded.
    */
  def dedupReport(docs: DataFrame, minJaccardBp: Long): DataFrame = {
    val labels = dedupClusters(docs, minJaccardBp)
    val csize = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_n"))
    labels.join(csize, Seq("cluster_id"))
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cluster_n") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("keep") === 0, 1L).otherwise(0L)).as("n_dropped"))
      .withColumn("dup_bp", expr("n_dup_docs * 10000 div n_docs"))
  }

  /** Fail-CLOSED candidate-fanout guard of the shingle pair joins:
    * Σ `f1`·`f2` over the per-key frame `perKey` (one row per shingle),
    * summed in 38-digit decimal — a long sum would wrap silently under
    * non-ANSI semantics and let the guard fail OPEN. Past `cap` the
    * call throws with the operator's own `message(estimate)`.
    */
  private[graft] def requireFanout(perKey: DataFrame, f1: Column, f2: Column,
      cap: Long)(message: java.math.BigDecimal => String): Unit = {
    val est = perKey
      .agg(coalesce(sum(f1.cast("decimal(38,0)") * f2),
        lit(java.math.BigDecimal.ZERO)).as("p"))
      .head().getDecimal(0)
    require(est.compareTo(java.math.BigDecimal.valueOf(cap)) <= 0, message(est))
  }

  /** The verify join of every shingle pair operator: `inter` = shared
    * shingles per candidate pair. `cands` holds the two doc-id columns
    * (a side, b side); `sh` is the a side's shingle table and `shB` the
    * b side's — the same table for a self-join, a broadcast benchmark
    * slice for [[contaminationFuzzy]].
    */
  private[graft] def sharedShingles(cands: DataFrame, sh: DataFrame,
      shB: DataFrame): DataFrame = {
    val Seq(a, b) = cands.columns.toSeq
    cands
      .join(sh.as("sa"), col(a) === col("sa.doc_id"))
      .join(shB.as("sb"), col(b) === col("sb.doc_id")
        && col("sa.h") === col("sb.h"))
      .groupBy(a, b)
      .agg(count(lit(1)).as("inter"))
  }

  /** Per-doc shingle count `n_sh` of a shingle table. */
  private def shingleCounts(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))

  /** Final Jaccard filter over (doc_a, doc_b, inter): pairs whose
    * rounded basis-point Jaccard reaches `minJaccardBp`, sizes from `sh`.
    */
  private[graft] def jaccardFilter(inter: DataFrame, sh: DataFrame,
      minJaccardBp: Long): DataFrame = {
    val sizes = shingleCounts(sh)
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), Seq("doc_b"))
      .withColumn("union_sh", col("n_a") + col("n_b") - col("inter"))
      .withColumn("jacc_bp",
        round(col("inter") * 10000.0 / col("union_sh"), 0).cast("long"))
      .filter(col("jacc_bp") >= minJaccardBp)
      .select("doc_a", "doc_b", "inter", "union_sh", "jacc_bp")
  }

  /** Final containment filter over (doc_src, doc_dst, inter): directed
    * pairs whose rounded basis-point C(src→dst) reaches `minContainBp`.
    */
  private[graft] def containFilter(inter: DataFrame, sh: DataFrame,
      minContainBp: Long): DataFrame =
    inter
      .join(shingleCounts(sh).withColumnRenamed("doc_id", "doc_src")
        .withColumnRenamed("n_sh", "n_src"), Seq("doc_src"))
      .withColumn("contain_bp",
        round(col("inter") * 10000.0 / col("n_src"), 0).cast("long"))
      .filter(col("contain_bp") >= minContainBp)
      .select("doc_src", "doc_dst", "inter", "n_src", "contain_bp")
}
