package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress harness for the dedup/curation family: synthesizes an
  * N× corpus from sf0.1 in a temp dir (never touching the source), then
  * times the family at 1× and N× in ONE JVM so both scales share a
  * measurement window (this host throttles episodically — cross-window
  * comparisons are garbage).
  *
  * Corpus construction: union of `factor` re-keyed copies whose text is
  * per-copy letter-ROTATED (a bijection on the alphabet). A bijection
  * preserves shingle equality WITHIN a copy — every copy reproduces the
  * original's exact similarity structure — while sharing essentially no
  * shingles ACROSS copies, so total dedup work (pairs, clusters,
  * shingle universe) scales linearly by construction. That makes the
  * measurement meaningful: if wall time scales super-linearly, the
  * ENGINE is super-linear, not the workload. (Naive replication without
  * rotation would make every doc a 10-way near-duplicate and square the
  * candidate volume — a quadratic workload would masquerade as a
  * quadratic engine.)
  *
  * Embeddings are re-keyed plain copies: the vector family (k-means)
  * is assignment-dominated and has no pairwise blowup to distort.
  *
  * Usage: `graft.ScaleStress [sfDir] [factor] [reps]`. Prints one JSON
  * line: per-query 1× and N× medians plus the wall-time ratio.
  */
object ScaleStress {

  /** The family the 100 TB story rests on (alphabetical = Bench order).
    * Per-query linear-workload argument under the letter-rotation
    * construction (cross-copy shingle/vector disjointness):
    *  - a_kmeans_train_iter10: assignment is a projection over N× rows;
    *    centroid update aggregates to K·dims groups at any scale.
    *  - a_kmeans_train_k256: the same linear argument on the LARGE-K
    *    path (k=256 · dims=64 = 16384 terms > the literal bound, so
    *    every assignment pass rides the broadcast CentroidMatrix
    *    expression): K is constant in the factor, the matrix is one
    *    ~128 KB broadcast, assignment is a projection over N× rows and
    *    the update aggregates to 256·64 groups at any scale.
    *  - d_contamination: benchmark set (doc_id % 50) grows N× but stays
    *    a broadcast/semi-join side; candidate pairs stay within-copy.
    *  - d_dedup_clusters: VERIFIED pair graph and cluster count grow
    *    exactly N× (rotation preserves each copy's similarity
    *    structure; measured — first-round CC label changes 243 at 1×
    *    vs 6100 = 25×243 at 25×). The CANDIDATE/VERIFY volume does
    *    not: see the df-cap note below.
    *  - d_minhash_lsh: band buckets grow N×; no cross-copy bucket
    *    collisions beyond hash noise. BUT the shingle df CAP is
    *    corpus-relative while rotation holds per-shingle df constant,
    *    so the cap weakens with the factor (measured on the synth
    *    corpora: retained shingle volume 61.5× at factor 10, 157× at
    *    factor 25 where the cap is fully inert) — at large factors the
    *    cap-dependent rows (minhash_lsh, dedup_clusters, contamination,
    *    curated_corpus) run a super-linearly-heavier workload and
    *    their ratios are UPPER bounds on engine scaling
    *    (BASELINE.md §Scaling has the full decomposition).
    *  - d_ngram_jaccard is deliberately NOT in the family: rotation
    *    keeps per-shingle df CONSTANT while n_docs grows N×, so the
    *    df-cap (df·20 ≤ n_docs) weakens with the factor and re-admits
    *    boilerplate shingles the 1× corpus drops — the N× corpus is a
    *    QUALITATIVELY different workload for prefix-filtered Jaccard
    *    (its candidate volume is df-distribution-shaped), not the
    *    linear-scaled original, and measuring it here would report a
    *    construction artifact (observed: ~100 GB candidate shuffle at
    *    10×). On organic N× growth df scales with the corpus and the
    *    cap ratio is invariant; candidate volume then tracks Σpdf²,
    *    which is linear when new content is new and proportional to
    *    the (genuinely quadratic) OUTPUT when content replicates.
    *  - d_line_dedup: line-hash groups grow N× (rotation makes each
    *    copy's lines distinct); stats stay one partial-agg groupBy.
    *  - d_repeated_spans: rotation changes every token, so window
    *    hashes are cross-copy disjoint — window count, hash groups,
    *    and the h-join all grow exactly N×.
    *  - d_span_strip: the remedy over the same windows — election,
    *    marked ranges, and the per-doc rebuild projection all grow
    *    exactly N× under the same cross-copy disjointness.
    *  - t_dsir_select: gram explode and the (doc, bucket) shuffle grow
    *    N× (rotation shifts WHICH buckets fill, not how many grams);
    *    the weight table is 1024 rows at any scale.
    *  - a_knn_ivfpq: coarse/PQ training and residual encoding are
    *    projections + K·dims-group aggregates over N× rows; the probe
    *    join scans probes/kCells of the N× corpus per query — linear
    *    at fixed query count.
    *  - d_semantic_dedup (via the kCells-scaled runner): embedding
    *    copies are cyclically DIM-SHIFTED per copy (norm- and
    *    within-copy-cosine-preserving, cross-copy decorrelated — the
    *    vector analogue of letter rotation), and the runner applies
    *    the operator's own documented scale rule kCells ∝ corpus, so
    *    per-cell pair volume stays constant and total within-cell
    *    work grows N×. (A plain-copy corpus at fixed kCells would
    *    grow Σ|cell|² quadratically BY CONSTRUCTION — identical
    *    vectors land in identical cells at any K.)
    *  - d_containment_pairs is deliberately NOT in the family — it
    *    inherits d_ngram_jaccard's exclusion (both are prefix-filter
    *    candidate machines whose workload is df-distribution-shaped):
    *    rotation holds per-shingle df constant while n_docs grows, so
    *    the corpus-relative cap re-admits boilerplate and the prefix
    *    workload Σ prefix_df·df grows ~60× at factor 10, not 10×. An
    *    r11 attempt with the fanout guard raised MEASURED the
    *    consequence — the 10× run was OOM-killed at 102 GB RSS
    *    (BASELINE.md §Scaling) — which is the guard's argument, not a
    *    scaling datum: on organic growth df scales with the corpus,
    *    the cap ratio is invariant, and production keeps the guard at
    *    its default so this workload fails closed, never OOM.
    *  - q_column_profile: one Expand-free agg pass (K columns × a
    *    one-row funnel) + a (col, value)-group distinct pass whose
    *    group count grows with re-keyed orderkeys — both
    *    partial-aggregating, both linear.
    *  - q_column_profile_audit: the profile's exact distinct pass PLUS
    *    the one-scan HLL pass — the audit's cost class is the exact
    *    profile's; the verdict join is K rows.
    *  - a_knn_ivfpq_rerank: the IVFADC chain (trained state
    *    parameter-scale, probe-bounded code scan) + a rerank join
    *    whose build side is queries·k·refine rows — request-scale,
    *    factor-invariant; the corpus-side cost is the same ADC scan.
    *  - a_knn_ivfsq: the trained-IVF chain with the corpus side scanned
    *    as int8 codes — assignment+coding is one projection over N×
    *    rows, the probe join's candidate side grows N× at kCells=const
    *    (cells grow N×; the scan bound probes/kCells is scale-free).
    *  - d_bucket_balance: banded-signature rollup at 16×8 — the
    *    groupBy(band, band_key) partial-aggregates; rotation makes each
    *    copy's shingle population distinct, so buckets grow in COUNT
    *    (N× keys), not in size — workload N× by construction.
    *  - d_simhash: 60-bit signatures differ across copies (rotation
    *    changes tokens), so pigeonhole bands pair within copies only.
    *  - p3_stream_ingest: fixed batch COUNT (each of the 4 batches is
    *    N× larger); for a fixed batch count total ingest work is
    *    Σ_b (|batch_b| + |index at b|) = O(corpus).
    *  - p_curated_corpus / p_pack_sequences: per-doc projections,
    *    rollups, and bounded prefix-sum windows over N× rows.
    *  - p_global_shuffle: the shard ordinal is the same two-level
    *    prefix sum as packing — N× window rows across shards·2^blockBits
    *    groups, block-count broadcast stays metadata-sized.
    *  - p_chunk_overlap: zero-shuffle projection + explode; output
    *    rows grow N×·(win/stride) by construction.
    *  - t_pii_redact: zero-shuffle codegen projection over N× rows —
    *    the pure-scan control for the shuffle-family members.
    *  - d_bloom_dedup (via the log2m-scaled runner): rotation makes
    *    every copy's content keys distinct, so corpus keys, batch
    *    keys, and the true-dup volume behind the guard all grow
    *    exactly N×; the runner applies the operator's own documented
    *    scale rule m ∝ corpus (log2m += ceil(log2 factor), holding
    *    ~bits/key — a FIXED filter at N× keys saturates to FPR→1 and
    *    silently degenerates into the unguarded D9 join, which would
    *    measure the wrong operator). Bitmap build is a partial-agg
    *    rollup to m/64 words (the one-row map grows to ~factor·128 KB,
    *    still broadcast-scale); the probe stays a per-row projection.
    *  - r_segment_assign_size (E3): the ONE flatMapGroups operator —
    *    greedy rolling is sequential per partition, parallel across
    *    them; the synth keeps the topic's 8 framing partitions and
    *    grows each N× longer, so the measured ratio prices the
    *    worker-per-partition model itself (sequential scan of N× rows
    *    through fixed 8-way parallelism + the per-run fixed overhead
    *    the sf0.1 point is dominated by). Organic growth that ADDS
    *    partitions scales the parallel dimension instead; this row
    *    pins the sequential one.
    *  - r_ingress_replay (I2/I4): frame + window renumbering + the
    *    anti-join dedup against present segments and checkpoints —
    *    all window/partial-agg shapes keyed on part_id, N× rows
    *    through the same exchanges.
    *  - r_compacted_merge (C3): count-capped bins (window arithmetic,
    *    bins per partition grow N×) + the message join and per-bin
    *    stats rollup — one shuffle on part_id, partial-aggregating.
    *  - t_token_count_bpe: zero-shuffle codegen projection (per-word
    *    greedy merges against the fixed 48-entry table); rotation
    *    changes WHICH merges fire per word, not the bounded per-word
    *    work — N× rows, N× work, the tokenizer-cost control next to
    *    t_pii_redact's pure-scan control.
    */
  val Queries: Seq[String] = Seq("a_kmeans_train_iter10",
    "a_kmeans_train_k256", "a_knn_ivfpq",
    "a_knn_ivfpq_rerank", "a_knn_ivfsq", "d_bloom_dedup", "d_bucket_balance",
    "d_contamination", "d_dedup_clusters", "d_line_dedup", "d_minhash_lsh",
    "d_repeated_spans", "d_semantic_dedup", "d_simhash", "d_span_strip",
    "p3_stream_ingest",
    "p_chunk_overlap", "p_curated_corpus", "p_global_shuffle",
    "p_pack_sequences", "q_column_profile", "q_column_profile_audit",
    "r_compacted_merge", "r_ingress_replay", "r_segment_assign_size",
    "t_dsir_select", "t_pii_redact", "t_token_count_bpe")

  /** Round-16 additions, recorded as a separate gated artifact (their
    * classes post-date the frozen_r16 bench window):
    *  - a_hybrid_search (A15): the lexical leg's CANDIDATE volume is
    *    copy-0-bounded under rotation (query tokens share nothing
    *    with rotated copies), but both legs SCAN N× rows — the token
    *    broadcast-join probe side and the brute-force vector scan —
    *    so the workload is linear with a constant output.
    *  - a_knn_filtered (A14): full-corpus training (linear) + the
    *    probed-cell scan over the filtered candidates; the synth
    *    copies embeddings' label column verbatim, so the ~10%
    *    selectivity is factor-invariant and the filtered candidate
    *    volume grows exactly N×.
    */
  val QueriesR16b: Seq[String] = Seq("a_hybrid_search", "a_knn_filtered")

  /** Round-17 additions, their own gated artifact (same reason):
    *  - a_knn_filtered_escalated (A14): the base-tier scan + the
    *    count-gated full-coverage re-scan for dry queries only — the
    *    per-query probe-depth claim under N× corpus.
    *  - x_image_dedup_phash (X5): batched decode + fixed-point DCT +
    *    Hamming-banded join; decode work is per-image and the band
    *    join is bucket-scale.
    *  - t_tokenize_ids (T18): the id-emitting codegen projection +
    *    (doc_id, pos, id) explode — N× rows through a zero-shuffle
    *    expression, the sequence twin of the t_token_count_bpe
    *    control.
    *  - d_span_strip_maximal (D18): the gaps-and-islands window over
    *    covered positions — per-doc group sizes are factor-invariant,
    *    N× groups.
    *  - t_bpe_train (T19): 24 sequential pair-count argmax jobs over
    *    the word table; vocab grows with the rotated copies (new
    *    letter-rotated words + big doc_id numerals), pricing training
    *    against corpus growth.
    *  - d_contamination_fuzzy (D19): benchmark-broadcast LSH
    *    candidates + exact verify — bench stratum grows N× with the
    *    synth ids, train side scans N×.
    *  - t_cms_heavy_hitters (T15): sketch + exact groupBys at N×
    *    token volume with a constant-size sketch output.
    */
  val QueriesR17: Seq[String] = Seq("a_knn_filtered_escalated",
    "x_image_dedup_phash", "t_tokenize_ids", "d_span_strip_maximal",
    "t_bpe_train", "d_contamination_fuzzy", "t_cms_heavy_hitters")

  /** Round-18 scale-enrolled rows: the IVF-leg hybrid fusion (probe-
    * bounded vector leg + broadcast lexical query side) and the
    * pure-sketch CMS serving path (sketch build is the only corpus
    * term; the rotated copies grow the candidate stratum's vocabulary
    * ~N×, all request-scale).
    */
  val QueriesR18: Seq[String] = Seq("a_hybrid_search_ivf", "t_cms_estimate",
    "a_knn_rp", "a_knn_rp_recall", "t_tokenizer_fit")

  /** Round-19 scale-enrolled rows: the rp→IVF composition (probe-
    * bounded projected-space stage 1 + request-scale rerank), the
    * escalated filtered IVFADC (count pass + codes-only scan), and
    * the tokenizer-fit knob twin (same shared BPE projection at a
    * truncated table).
    */
  val QueriesR19: Seq[String] = Seq("a_knn_rp_ivf",
    "a_knn_ivfpq_filtered_escalated", "t_tokenizer_fit_d50")

  /** Round-20 scale-enrolled rows: the learned quality classifier
    * (stratum-trained bucket weights + zero-shuffle serving) and its
    * keeper-election composition over the near-dup clusters.
    */
  val QueriesR20: Seq[String] = Seq("t_quality_model", "d_model_keeper")

  /** Locale-independent 2-decimal formatter: every number printed here
    * is machine-parsed (per-rep stderr lines by the calm-window
    * recorder's regex, the JSON line by the artifact writer); a
    * comma-decimal default locale would silently discard every run.
    */
  private def fmtD(v: Double): String =
    "%.2f".formatLocal(java.util.Locale.ROOT, v)

  private val Lower = "abcdefghijklmnopqrstuvwxyz"

  /** Per-copy letter rotation; copy 0 is the original corpus. */
  def rotated(text: Column, i: Int): Column =
    if (i % 26 == 0) text
    else {
      def rot(s: String) = s.drop(i % 26) + s.take(i % 26)
      translate(text, Lower + Lower.toUpperCase,
        rot(Lower) + rot(Lower).toUpperCase)
    }

  def synth(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    // The rotation family has exactly 26 distinct bijections: past 26
    // copies i and i+26 would be VERBATIM duplicates, silently turning
    // the linear-by-construction workload quadratic. Likewise the
    // re-keying stride collides if the source exceeds 1e9 doc ids.
    // Fail loudly instead of measuring the wrong workload.
    require(factor >= 1 && factor <= 26,
      s"ScaleStress factor=$factor: only 26 distinct letter rotations " +
        "exist; factor > 26 duplicates copies verbatim (quadratic workload)")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    require(maxId < 1000000000L,
      s"ScaleStress: source max doc_id=$maxId collides with the 1e9 re-key stride")
    (0 until factor).map { i =>
      docs.select(
        (col("doc_id") + lit(i * 1000000000L)).as("doc_id"),
        rotated(col("text"), i).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    require(emb.agg(max("vec_id")).head.getLong(0) < 1000000000L,
      "ScaleStress: source vec_id collides with the 1e9 re-key stride")
    // per-copy cyclic DIM SHIFT — the embedding analogue of the letter
    // rotation: norms and all within-copy cosines are exactly
    // preserved (every copy reproduces the original's similarity
    // structure) while cross-copy cosines decorrelate, so pairwise
    // vector work scales linearly by construction. 64 dims admit 64
    // distinct shifts; the factor<=26 guard above is stricter.
    (0 until factor).map { i =>
      val shift = i % graft.operators.Ann.Dims
      val shifted =
        if (shift == 0) col("embedding")
        else concat(
          slice(col("embedding"), shift + 1, graft.operators.Ann.Dims - shift),
          slice(col("embedding"), 1, shift))
      emb.select((col("vec_id") + lit(i * 1000000000L)).as("vec_id"),
        shifted.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // lineitem for the profiler row: re-keyed copies (orderkey stride
    // keeps keys distinct, so key-column distinct counts grow N× and
    // value-column distincts stay constant — both real profile shapes)
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    (0 until factor).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 1000000000L))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    // events for the replicator family: re-keyed copies. The 1e9
    // stride is ≡ 0 (mod 8), so each copy's rows land on the SAME
    // 8 framing partitions (part_id = user_id % 8) — the topology the
    // reference's worker-per-partition model fixes per topic — and
    // every partition grows N× LONGER: segment rolling, replay
    // windows, and compaction bins all see N× rows through the same
    // 8-way parallelism. event_id stride keeps per-copy framing order
    // intact (offsets are renumbered by the frame's row_number).
    val ev = spark.read.parquet(s"$src/events.parquet")
    require(ev.agg(max("event_id")).head.getLong(0) < 1000000000L &&
      ev.agg(max("user_id")).head.getLong(0) < 1000000000L,
      "ScaleStress: source event/user ids collide with the 1e9 re-key stride")
    (0 until factor).map { i =>
      ev.withColumn("event_id", col("event_id") + lit(i * 1000000000L))
        .withColumn("user_id", col("user_id") + lit(i * 1000000000L))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  /** P3 batch-count stress: the continuous dedup ingest
    * (StreamingCuration) driven as 4 REAL micro-batches through a
    * parquet file stream — each loop turn appends one batch's files to
    * the staging dir and drains the stream, so the per-batch
    * batch ⋈ key-index work (and the idempotent two-sink commit) runs
    * exactly as in production. Everything is per-rep and timed,
    * including the staging writes (linear in data, identical work
    * every rep — the rep-swing throttle gate needs equal reps).
    */
  def p3StreamIngest(spark: SparkSession, dir: String): Unit = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-p3-").toAbsolutePath.toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val staging = s"$root/staging"
    new java.io.File(staging).mkdirs()
    val q = graft.streaming.StreamingCuration.dedupIngest(
      spark.readStream.schema(docs.schema).parquet(staging),
      graft.sources.FsKeyIndex(spark, s"$root/index"),
      s"$root/corpus", s"$root/ckpt")
    try {
      (0 until 4).foreach { b =>
        docs.filter(col("doc_id") % 4 === b)
          .write.mode("append").parquet(staging)
        q.processAllAvailable()
      }
    } finally q.stop()
    rm(new java.io.File(root))
  }

  /** Non-SQL members of [[Queries]] (timed as a whole workload). */
  val StreamRunners: Map[String, (SparkSession, String) => Unit] =
    Map("p3_stream_ingest" -> p3StreamIngest _)

  /** Factor-aware runners overriding the SparkEntry form:
    * d_semantic_dedup applies its own documented scale rule
    * kCells ∝ corpus (fixed kCells at N× grows Σ|cell|² quadratically
    * no matter the engine).
    */
  val ScaledRunners: Map[String, (SparkSession, String, Int) => Unit] = Map(
    "d_semantic_dedup" -> ((s: SparkSession, dir: String, factor: Int) =>
      graft.operators.Ann.semanticDedup(
          s.read.parquet(s"$dir/embeddings.parquet"),
          SparkEntry.SemDedupCosBp, kCells = 32 * factor)
        .write.mode("overwrite").format("noop").save()),
    "d_bloom_dedup" -> ((s: SparkSession, dir: String, factor: Int) => {
      // m ∝ corpus: hold ~bits/key so the guard stays a guard
      val ceilLog2 = if (factor <= 1) 0
        else 64 - java.lang.Long.numberOfLeadingZeros(factor.toLong - 1)
      graft.operators.Curation.bloomGuardedDedup(
          s.read.parquet(s"$dir/documents.parquet"), batchMod = 4,
          log2m = 16 + ceilLog2.toInt)
        .write.mode("overwrite").format("noop").save()
    }))

  private def timeQuery(spark: SparkSession, name: String, dir: String,
      factor: Int): Double = {
    val t0 = System.nanoTime()
    if (StreamRunners.contains(name)) StreamRunners(name)(spark, dir)
    else if (ScaledRunners.contains(name)) ScaledRunners(name)(spark, dir, factor)
    else SparkEntry.queries(name)(spark, dir)
      .write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val reps = if (args.length > 2) args(2).toInt else 3
    // optional comma-separated subset: lets the calm-window JVM probe
    // time two signature queries without paying for the whole family
    val known = Queries ++ QueriesR16b ++ QueriesR17 ++ QueriesR18 ++
      QueriesR19 ++ QueriesR20
    val queries =
      if (args.length > 3) known.filter(args(3).split(",").toSet)
      else Queries
    require(queries.nonEmpty, s"no known queries in '${args(3)}'")
    val spark = graft.core.LocalSession()

    val out = java.nio.file.Files
      .createTempDirectory("graft-scale-").toAbsolutePath.toString
    synth(spark, src, out, factor)

    // untimed warmup (JVM/codegen/scan), as in Bench
    try SparkEntry.queries("q1_pricing_summary")(spark, src)
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => }

    // fresh dedup caches per rep: within a rep the queries share the
    // cache exactly like a Bench run (d_dedup_clusters pays the fill,
    // d_minhash_lsh and p_curated_corpus reuse it)
    def runScale(tag: String, dir: String, f: Int): Map[String, Double] = {
      // Untimed warmup pass per scale (mirrors Bench's untimed warmup):
      // the first execution of each plan pays whole-stage-codegen
      // compilation and JIT tiering that no steady-state run repays —
      // three rounds of discard audits show the resulting rep-1 spike
      // (e.g. 233s -> 97s -> 36s) tripping the recorder's 3x swing gate,
      // which exists to detect mid-run HOST throttle, not cold JVMs.
      // Warmup timings still go to stderr for the audit trail but are
      // excluded from medians and the gate (the "rep N" regex).
      graft.operators.Dedup.releaseAllCaches(spark)
      val wm = queries.map(q => q -> timeQuery(spark, q, dir, f))
      System.err.println(s"[scalestress] $tag warmup (untimed): " + wm
        .map { case (q, t) => s"$q=${fmtD(t)}" }.mkString(" "))
      val all = (1 to reps).map { r =>
        graft.operators.Dedup.releaseAllCaches(spark)
        val m = queries.map(q => q -> timeQuery(spark, q, dir, f)).toMap
        // per-rep line: lets the recording protocol spot a throttle
        // window hitting a single rep (this host swings episodically)
        System.err.println(s"[scalestress] $tag rep $r: " + queries
          .map(q => s"$q=${fmtD(m(q))}").mkString(" "))
        m
      }
      queries.map(q => q -> median(all.map(_(q)))).toMap
    }
    val base = runScale("1x", src, 1)
    val big = runScale(s"${factor}x", out, factor)
    graft.operators.Dedup.releaseAllCaches(spark)

    rm(new java.io.File(out))

    def fmt(m: Map[String, Double]) = queries
      .map(q => s"""\"$q\":${fmtD(m(q))}""").mkString("{", ",", "}")
    val ratios = queries.map(q => q -> big(q) / base(q)).toMap
    println(s"""{"metric":"scalestress","factor":$factor,"reps":$reps""" +
      s""","base_sec":${fmt(base)},"scaled_sec":${fmt(big)}""" +
      s""","ratio":${fmt(ratios)}""" +
      s""","base_total":${fmtD(base.values.sum)}""" +
      s""","scaled_total":${fmtD(big.values.sum)}}""")
    spark.stop()
  }
}
