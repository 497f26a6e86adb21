package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.Portable._

/** Corpus-shaping operators a training pipeline runs after filtering:
  * packing documents into fixed-token-budget training sequences,
  * resampling to a target language mixture, and deduplicating an
  * incoming batch against the already-ingested corpus.
  *
  * All election/ordering decisions are content- or id-hash-derived
  * (never `rand()`), so every operator is deterministic under
  * reshuffling, retries, and incremental growth — and exactly
  * reproducible by the DuckDB oracle.
  */
object Curation {

  /** Default token budget rule: THE shared whitespace rule
    * ([[graft.functions.TextAnalysis.wsTokens]] — one definition for
    * every budget consumer). Pass
    * [[graft.functions.TextAnalysis.bpeTokens]] for tokenizer-true
    * budgets — training pipelines budget in TOKENIZER tokens, and the
    * proxy's error flows into every pack.
    */
  private[graft] val wsTokens: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    graft.functions.TextAnalysis.wsTokens

  /** Pack documents into fixed-token-budget training sequences,
    * GPT-style concat-then-chunk: order documents deterministically,
    * run a cumulative token count, and assign each document to the
    * sequence its first token lands in (`(cum - n_tok) div budget`).
    *
    * The per-shard running token count is a [[TwoLevel.rank]] running
    * sum keyed by the uniform 60-bit hash `ord_h`, so no task ever
    * sorts a whole shard: at 100 TB, raise `blockBits` so a block fits
    * a task. Output is the per-sequence manifest (doc count + token
    * count), identical to a single global per-shard scan.
    */
  def packSequences(docs: DataFrame, budget: Int = 256,
      shards: Int = 8, blockBits: Int = 5,
      tokens: org.apache.spark.sql.Column => org.apache.spark.sql.Column = wsTokens): DataFrame =
    pack(docs.withColumn("n_tok", tokens(col("text"))), budget, shards, blockBits)

  /** [[packSequences]] with the token-id PAYLOAD attached — the
    * trainer-consumable shard manifest: per (shard, seq_id), doc and
    * token counts plus the concatenated `array<int>` token-id
    * sequence in exact pack order (the same (ord_h, doc_id) order the
    * cumulative budget walked). The ids come from the same codegen
    * BPE expression whose counts drive the budget, so
    * `size(ids) == n_tokens` on every sequence by construction.
    *
    * Scale: the same pack plan as [[packSequences]] (the ids ride the
    * same rows — no extra shuffle); the per-sequence assembly sorts
    * only the handful of docs inside one budget window (`array_sort`
    * over a collect_list of budget/avg-doc-tokens structs), never a
    * shard. At 100 TB the sequence is the natural output granule —
    * each row IS one training sequence.
    */
  def packSequencesIds(docs: DataFrame, budget: Int = 256,
      shards: Int = 8, blockBits: Int = 5,
      table: graft.functions.BpeTable = graft.functions.Bpe.default): DataFrame =
    pack(docs.withColumn("ids", graft.functions.Bpe.tokenIds(normText(col("text")), table))
        .withColumn("n_tok", size(col("ids")).cast("long")), budget, shards, blockBits,
      // deterministic pack order inside the sequence: struct sort on
      // (ord_h, doc_id) — collect_list order is not guaranteed
      flatten(transform(
        array_sort(collect_list(struct(col("ord_h"), col("doc_id"), col("ids")))),
        x => x.getField("ids"))).as("ids"))

  /** The pack plan behind [[packSequences]] and [[packSequencesIds]]:
    * `tok` carries each document's `n_tok`; `payload` is extra
    * per-sequence aggregates.
    */
  private def pack(tok: DataFrame, budget: Int, shards: Int, blockBits: Int,
      payload: org.apache.spark.sql.Column*): DataFrame = {
    graft.core.Configs.Packing(budget, shards, blockBits).validated
    val d = tok
      .withColumn("shard", hexHash20(col("doc_id").cast("string")) % shards)
      .withColumn("ord_h", hexHash60(normText(col("text"))))
    TwoLevel.rank(d, Seq("shard"), Seq(col("ord_h"), col("doc_id")),
        TwoLevel.HashBits(blockBits), "cum", Some(col("n_tok"))).rows
      .withColumn("seq_id", expr(s"(cum - n_tok) div ${budget.toLong}"))
      .groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens") +: payload: _*)
  }

  /** Packing-efficiency audit — the quality report a pipeline reads
    * after [[packSequences]] before shipping shards to trainers: per
    * shard, sequence/doc/token counts, budget utilization in integer
    * basis points (`n_tokens · 10⁴ div (n_seqs · budget)`), the count
    * of sequences whose token sum exceeds the budget (docs assigned by
    * START position can overflow their sequence — the concat-then-
    * chunk trade), and the largest sequence. Wasted budget means lost
    * training throughput; silent overflow means truncation downstream
    * — both are numbers an operator must SEE, not assume.
    *
    * Scale: one partial-aggregating rollup of the sequence manifest
    * (corpus-tokens/budget rows) down to `shards` rows — the manifest
    * itself is the two-level prefix-sum output, no new corpus pass.
    */
  def packAudit(docs: DataFrame, budget: Int = 256,
      shards: Int = 8, blockBits: Int = 5): DataFrame =
    packSequences(docs, budget, shards, blockBits)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_seqs"),
        sum("n_docs").as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum(when(col("n_tokens") > budget, 1L).otherwise(0L)).as("n_over"),
        max("n_tokens").as("max_seq_tokens"))
      .withColumn("fill_bp",
        expr(s"n_tokens * 10000 div (n_seqs * ${budget.toLong})"))
      .select("shard", "n_seqs", "n_docs", "n_tokens", "fill_bp",
        "n_over", "max_seq_tokens")

  /** Curriculum schedule — quality-annealed training order (the
    * curriculum-learning staple: present cleaner data first, noisier
    * later): each document gets a PHASE from its integer quality score
    * (`boundaries` are descending score thresholds; phase 0 = score ≥
    * boundaries(0), …, last phase = below all) and a deterministic
    * position WITHIN its phase from a seeded id-hash — so the full
    * training order is (phase, phase_ord), reproducible from
    * (seed, doc_id) alone across retries and engines.
    *
    * Scale: the quality score is a per-doc projection; the within-
    * phase ordinal is a [[TwoLevel.rank]] keyed by the seeded hash, so
    * no phase ever funnels through a single reducer — a plain
    * `row_number() over (partition by phase)` would put the whole
    * phase-0 corpus on one task at 100 TB.
    */
  def curriculumSchedule(docs: DataFrame, seed: String = "curr1",
      boundaries: Seq[Int] = Seq(75, 50), blockBits: Int = 5): DataFrame = {
    val q = graft.functions.TextAnalysis.qualityScore(docs)
      .select("doc_id", "score")
    val phase = boundaries.zipWithIndex.foldRight(
      lit(boundaries.size): org.apache.spark.sql.Column) {
      case ((b, i), e) => when(col("score") >= b, lit(i)).otherwise(e)
    }
    val d = q.withColumn("phase", phase.cast("int"))
      .withColumn("ck",
        hexHash60(concat(lit(seed + ":"), col("doc_id").cast("string"))))
    TwoLevel.rank(d, Seq("phase"), Seq(col("ck"), col("doc_id")),
        TwoLevel.HashBits(blockBits), "phase_ord").rows
      .select("doc_id", "score", "phase", "phase_ord")
  }

  /** Default target language mixture, in basis points of the budget. */
  val DefaultShares: Seq[(String, Long)] =
    Seq("en" -> 3000L, "es" -> 2000L, "fr" -> 2000L, "de" -> 1500L, "zh" -> 1500L)

  /** Per-language mixture targets `(lang, n_lang, target_n)`:
    * `target_n = min(n_lang, total * share_bp / 20000)` — shares are
    * bp of a half-corpus budget. One tiny aggregate, the corpus total
    * and the shares broadcast in.
    */
  private def mixtureTargets(docs: DataFrame,
      shares: Seq[(String, Long)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      .join(broadcast(shares.toDF("lang", "share_bp")), Seq("lang"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_total"))))
      .withColumn("target_n",
        least(col("n_lang"), expr("(n_total * share_bp) div 20000")))
      .select("lang", "n_lang", "target_n")
  }

  /** Resample the corpus toward a target language mixture: each
    * language gets `target_n = min(n_lang, total * share_bp / 20000)`
    * documents (shares are bp of a half-corpus budget), and documents
    * are elected by content-hash threshold —
    * `h20(text) * n_lang < 2^20 * target_n` — i.e. keep-probability
    * target_n/n_lang, decided per document with no coordination.
    *
    * Scale: the per-language stats are one tiny aggregate broadcast
    * back; election is then a pure filter on the scan — no rank, no
    * per-language global sort, no skew (vs a row_number election,
    * which funnels each language through one reducer). Counts are
    * approximate (binomial around target_n) exactly like production
    * hash-rate samplers; the election is reshuffle-stable and
    * duplicate-consistent (identical texts elect together).
    */
  def mixtureResample(docs: DataFrame,
      shares: Seq[(String, Long)] = DefaultShares): DataFrame = {
    val tgt = mixtureTargets(docs, shares)
    val kept = docs.select(col("lang"), hexHash20(normText(col("text"))).as("h"))
      .join(broadcast(tgt), Seq("lang"))
      .filter(col("h") * col("n_lang") < lit(1048576L) * col("target_n"))
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    tgt.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_lang"), col("target_n"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Exact-count variant of [[mixtureResample]]: each language keeps
    * exactly `target_n` documents — the target_n lowest by
    * (content-hash, doc_id) order, so the elected set is deterministic
    * and stable under reshuffling.
    *
    * The per-language rank is a [[TwoLevel.rank]] keyed by the content
    * hash, so no language ever funnels through a single reducer (a
    * plain `row_number() over (partition by lang)` would put all of
    * `en` on one task at 100 TB).
    */
  def mixtureResampleExact(docs: DataFrame,
      shares: Seq[(String, Long)] = DefaultShares,
      blockBits: Int = 5): DataFrame = {
    val tgt = mixtureTargets(docs, shares)
    val keyed = docs.select(col("lang"), col("doc_id"),
        hexHash60(normText(col("text"))).as("h"))
    val kept = TwoLevel.rank(keyed, Seq("lang"), Seq(col("h"), col("doc_id")),
        TwoLevel.HashBits(blockBits), "rn").rows
      .join(broadcast(tgt.select("lang", "target_n")), Seq("lang"))
      .filter(col("rn") <= col("target_n"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("kept_id_sum"))
    tgt.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_lang"), col("target_n"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_id_sum"), lit(0L)).as("kept_id_sum"))
  }

  /** Deduplicate an incoming batch against the already-ingested
    * corpus: a batch document survives iff (a) its normalized-text
    * hash is the batch's minimum-doc_id representative and (b) the
    * hash does not already exist in the corpus. `isNew` partitions
    * the input into batch vs corpus (in production the corpus side is
    * the ingested key index, not a rescan).
    *
    * Scale: both sides reduce to 60-bit keys before any join; the
    * within-batch election is one window over the key and the
    * corpus check is a left-anti equi-join on the key — the classic
    * incremental-ingest shape (new-batch ⋈ key-index), never
    * corpus × corpus.
    */
  def incrementalDedup(docs: DataFrame, batchMod: Int = 4): DataFrame = {
    val keyed = docs.select(col("doc_id"),
      hexHash60(normText(col("text"))).as("k"),
      (hexHash20(col("doc_id").cast("string")) % batchMod === 0).as("is_new"))
    val corpusKeys = keyed.filter(!col("is_new")).select("k").distinct()
    dedupBatch(keyed.filter(col("is_new")).select("doc_id", "k"), corpusKeys)
      .select(col("doc_id"), col("n_batch_dupes"))
  }

  /** Production form of [[incrementalDedup]]: the corpus key set lives
    * in a persisted [[graft.sources.FsKeyIndex]], so batch N+1 dedups
    * against the keys batches 1..N ingested — an index scan (8 bytes
    * per accepted doc), never a corpus rescan. Survivors' keys are
    * appended to the index before returning, so consecutive calls see
    * each other's ingests.
    */
  def incrementalDedupIndexed(batch: DataFrame,
      index: graft.sources.FsKeyIndex): DataFrame = {
    val keyed = batch.select(col("doc_id"),
      hexHash60(normText(col("text"))).as("k"))
    // localCheckpoint truncates the lineage BEFORE the index mutates:
    // a lazy plan re-evaluated after add() would re-read the index,
    // see its own keys, and anti-join itself to empty.
    val survivors = dedupBatch(keyed, index.keys()).localCheckpoint()
    index.add(survivors.select("k"))
    survivors.select(col("doc_id"), col("n_batch_dupes"))
  }

  /** Shared batch-vs-corpus election: within-batch min-doc_id
    * representative per key, then a left-anti equi-join against the
    * corpus key set (package-visible for the streaming ingest, which
    * must interleave the output write between election and index add).
    */
  private[graft] def dedupBatch(keyed: DataFrame, corpusKeys: DataFrame): DataFrame =
    electBatch(keyed).join(corpusKeys, Seq("k"), "left_anti")

  /** The within-batch half of [[dedupBatch]]: min-doc_id representative
    * per key plus the batch-dup count (shared with the Bloom-guarded
    * form, which routes representatives by filter verdict before any
    * corpus join).
    */
  private[graft] def electBatch(keyed: DataFrame): DataFrame = {
    val w = Window.partitionBy("k").orderBy("doc_id")
    keyed
      .withColumn("rn", row_number().over(w))
      .withColumn("n_batch_dupes", count(lit(1)).over(Window.partitionBy("k")))
      .filter(col("rn") === 1)
  }

  /** Bloom-guarded incremental dedup — result-identical to
    * [[incrementalDedup]] (same election, same corpus semantics, so it
    * shares the same oracle), but the batch never meets the corpus key
    * set in a full anti-join. The corpus keys fold into a Bloom bitmap
    * (`2^log2m` bits as `2^log2m / 64` word-indexed longs, built by one
    * partial-aggregating `groupBy(word) → bit_or` whose shuffle volume
    * is partitions × words — metadata, not data), the bitmap rides a
    * one-row broadcast into the batch, and the membership probe is a
    * PURE PROJECTION (`kHashes` double-hashed positions, word lookup +
    * bit test per position, all inside codegen). Bloom-negative rows
    * are DEFINITELY new — they skip the corpus entirely; only
    * Bloom-positive rows (true dups + the false-positive rate
    * ≈ (1−e^(−kn/m))^k) reach the exact left-anti equi-join, so the
    * join's shuffle volume is bounded by the true-dup volume, not the
    * batch.
    *
    * That is the 100 TB ingest shape: the filter state is bytes-per-key
    * (m/n ≈ 10 bits/key at 1% FP — a 10^10-key corpus is ~12 GB of
    * bitmap, sliceable by key range into per-slice bitmaps when one
    * broadcast would be too fat), while the D9 form shuffles the full
    * batch against the full key index on every ingest. No false
    * negatives by construction (build and probe share the position
    * family), so the exact join behind the filter makes the composite
    * EXACTLY equal to D9 — false positives only cost work, never
    * correctness.
    *
    * Double hashing (Kirsch–Mitzenmacher): with m a power of two,
    * pos_i = (h1 + i·h2) mod m where h1 = low bits of the 60-bit key,
    * h2 = (next bits | 1) — odd, hence coprime with m, a full-period
    * probe sequence. All integer, engine-portable.
    */
  def bloomGuardedDedup(docs: DataFrame, batchMod: Int = 4,
      log2m: Int = 16, kHashes: Int = 4): DataFrame = {
    graft.core.Configs.Bloom(log2m, kHashes, batchMod).validated
    val mask = (1L << log2m) - 1
    def pos(key: org.apache.spark.sql.Column, i: Int) = {
      val h1 = key.bitwiseAND(lit(mask))
      val h2 = shiftright(key, log2m).bitwiseAND(lit(mask)).bitwiseOR(lit(1L))
      (h1 + lit(i.toLong) * h2).bitwiseAND(lit(mask))
    }
    val keyed = docs.select(col("doc_id"),
      hexHash60(normText(col("text"))).as("k"),
      (hexHash20(col("doc_id").cast("string")) % batchMod === 0).as("is_new"))
    val corpusKeys = keyed.filter(!col("is_new")).select("k").distinct()
    // sparse bitmap as a single-row map(word -> 64-bit word); absent
    // word = all-zero word. The final one-row aggregate funnels only
    // m/64 entries — parameter-scale, like the k-means centroids.
    val bloomRow = corpusKeys
      .select(explode(array((0 until kHashes).map(i => pos(col("k"), i)): _*))
        .as("p"))
      .select(shiftright(col("p"), 6).as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("m"))
      .groupBy("word").agg(expr("bit_or(m)").as("bits"))
      .agg(map_from_arrays(collect_list("word"), collect_list("bits"))
        .as("bloom"))
    // localCheckpoint the probed batch once: the verdict split below is
    // two filters over the same frame, and without materialization each
    // branch would re-scan the batch, re-run the election window, and
    // re-build the bitmap (the plan literally doubles). Checkpointing
    // at the smallest point — one row per distinct batch key, verdict
    // attached — makes the split two trivial scans of cached
    // partitions (same pattern as [[incrementalDedupIndexed]]).
    val probed = (0 until kHashes).foldLeft(
        electBatch(keyed.filter(col("is_new")).select("doc_id", "k"))
          .select("doc_id", "k", "n_batch_dupes")
          .crossJoin(broadcast(bloomRow))) { (df, i) =>
      df.withColumn(s"p$i", pos(col("k"), i))
        .withColumn(s"hit$i", expr(
          s"(coalesce(element_at(bloom, p$i div 64), CAST(0 AS BIGINT)) & " +
            s"shiftleft(CAST(1 AS BIGINT), CAST(p$i % 64 AS INT))) != 0"))
    }.withColumn("might",
        (0 until kHashes).map(i => col(s"hit$i")).reduce(_ && _))
      .select("doc_id", "k", "n_batch_dupes", "might")
      .localCheckpoint()
    val definitelyNew = probed.filter(!col("might"))
    val candidates = probed.filter(col("might"))
      .join(corpusKeys, Seq("k"), "left_anti")
    definitelyNew.unionByName(candidates)
      .select(col("doc_id"), col("n_batch_dupes"))
  }

  /** Leakage-safe train/validation/test split: the split UNIT is the
    * near-dup CLUSTER, not the document. A doc-granular hash split
    * (see [[graft.functions.TextAnalysis.sampleSplit]]) puts two
    * near-duplicates on opposite sides of the split about
    * 2·p·(1−p) of the time, leaking evaluation content into train
    * (Lee et al. 2022 §6 measure exactly this). Here every member of
    * a cluster draws the SAME bucket — the 60-bit hash of the cluster
    * id — so near-duplicates move as one unit and no cluster straddles
    * the boundary.
    *
    * Scale: the cluster labels are the [[Dedup.dedupClusters]] output
    * (graph-sized work, corpus-sized result); the bucket/split is then
    * a pure projection — no additional shuffle beyond the clustering
    * itself.
    */
  def clusterSplit(docs: DataFrame, minJaccardBp: Long,
      trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    graft.core.Configs.Split(trainPct, validPct).validated
    Dedup.dedupClusters(docs, minJaccardBp)
      .select("doc_id", "cluster_id")
      .withColumn("bucket", hexHash60(col("cluster_id").cast("string")) % 100)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + validPct, "validation")
          .otherwise("test"))
  }

  /** Deterministic global shuffle + shard assignment — the final step
    * before a corpus ships to the trainer: every document gets a
    * uniform pseudo-random position derived ONLY from (seed, doc_id),
    * so the shuffle is exactly reproducible across retries, engines,
    * and incremental re-runs (`rand()` would be none of those).
    * shard = key mod nShards; pos = the document's ordinal within its
    * shard under (key, doc_id) order.
    *
    * Scale: the per-shard ordinal is a [[TwoLevel.rank]] keyed by the
    * uniform shuffle key. No task ever sorts a whole shard, so a shard
    * can exceed task memory by 2^blockBits and the plan shape is
    * unchanged — raise blockBits at 100 TB.
    */
  def globalShuffle(docs: DataFrame, nShards: Int = 8,
      seed: String = "shuf1", blockBits: Int = 5): DataFrame = {
    graft.core.Validation.validate("sharding",
      graft.core.Configs.Sharding(nShards).violations ++
        graft.core.Validation.nonEmpty("seed", seed) ++
        graft.core.Validation.knob("blockBits", blockBits, minV = 0L,
          maxV = 60L, requiredNonZero = false))
    val d = docs.select(col("doc_id"),
        hexHash60(concat(lit(seed + ":"), col("doc_id").cast("string")))
          .as("shuffle_key"))
      .withColumn("shard", pmod(col("shuffle_key"), lit(nShards.toLong)))
    TwoLevel.rank(d, Seq("shard"), Seq(col("shuffle_key"), col("doc_id")),
        TwoLevel.HashBits(blockBits), "pos").rows
      .select("doc_id", "shuffle_key", "shard", "pos")
  }

  /** Corpus composition report — the dataset-card staple every data
    * release ships: per (source, lang) stratum, document / token /
    * char counts plus the stratum's share of the corpus in integer
    * basis points (`n * 10000 div total` — exact, engine-portable).
    *
    * Scale: one partial-aggregating `groupBy(source, lang)` (strata
    * count is bounded by the domain, not the corpus) + a broadcast of
    * the one-row corpus totals; shares are then a pure projection.
    */
  def corpusStats(docs: DataFrame): DataFrame = {
    val d = docs.select(col("source"), col("lang"),
      size(split(normText(col("text")), " ")).cast("long").as("n_tok"),
      col("n_chars"))
    val strata = d.groupBy("source", "lang").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tok").as("n_tokens"),
      sum("n_chars").as("n_chars"))
    val totals = d.agg(count(lit(1)).as("total_docs"),
      sum("n_tok").as("total_tokens"))
    strata.crossJoin(broadcast(totals))
      .withColumn("doc_share_bp", expr("n_docs * 10000 div total_docs"))
      .withColumn("tok_share_bp", expr("n_tokens * 10000 div total_tokens"))
      .select("source", "lang", "n_docs", "n_tokens", "n_chars",
        "doc_share_bp", "tok_share_bp")
  }

  /** Fixed-window token chunking with stride — the long-document half
    * of sequence preparation (the complement of [[packSequences]]'s
    * concat-of-short-docs): each document's token stream is cut into
    * windows of `win` tokens starting every `stride` tokens, the
    * sliding-window scheme LM pipelines use so content near a chunk
    * boundary still appears mid-context in the overlapping chunk.
    * Chunks start while `start < n_tok`, so every document emits at
    * least one chunk and a final short chunk keeps the tail.
    *
    * Output per chunk: (doc_id, chunk_idx, start_tok, chunk_len,
    * chunk_hash) where chunk_hash is the portable 60-bit hash of the
    * space-joined chunk tokens — the content fingerprint a downstream
    * chunk-level dedup would key on.
    *
    * Scale: a pure per-row projection + explode (chunk count per doc =
    * ceil(n/stride)); zero shuffles, stays inside whole-stage codegen,
    * and output volume is input·(win/stride) by construction.
    */
  def chunkOverlap(docs: DataFrame, win: Int = 16,
      stride: Int = 8): DataFrame = {
    graft.core.Configs.Chunking(win, stride).validated
    val d = docs.select(col("doc_id"),
        split(normText(col("text")), " ").as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_chunks", expr(s"((n_tok - 1) div $stride) + 1"))
    d.select(col("doc_id"), col("toks"), col("n_tok"),
        explode(sequence(lit(0L), col("n_chunks") - 1L)).as("chunk_idx"))
      .withColumn("start_tok", col("chunk_idx") * stride.toLong)
      .withColumn("chunk_len",
        least(lit(win.toLong), col("n_tok") - col("start_tok")))
      .withColumn("chunk_hash", hexHash60(concat_ws(" ",
        slice(col("toks"), (col("start_tok") + 1L).cast("int"), lit(win)))))
      .select("doc_id", "chunk_idx", "start_tok", "chunk_len", "chunk_hash")
  }
}
