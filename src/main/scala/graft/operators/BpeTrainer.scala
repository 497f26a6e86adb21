package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Portable._

/** Distributed BPE merge-table TRAINING — `graft.tools.TrainBpe`
  * runs it to regenerate the embedded table. Training is classic pair-frequency BPE (Sennrich et al.
  * 2016): count adjacent symbol pairs over the word multiset, merge
  * the most frequent, repeat. Here the WORD TABLE stays distributed —
  * the corpus-scale pass is one token-count groupBy, and each merge
  * iteration is one partial-aggregated pair groupBy + a TakeOrdered
  * argmax (1 collected row — parameter scale, the k-means discipline)
  * + one zero-shuffle `replace` projection.
  *
  * Segmentations are carried as DOUBLE-SPACE-delimited symbol strings
  * with single-space word boundaries (`" a  b  c "`): each symbol owns
  * its leading and trailing space, so the merge pattern `" a  b "`
  * never consumes a neighboring occurrence's delimiter and ONE
  * non-overlapping left-to-right `replace` call is EXACTLY the
  * classic trainer's single greedy merge pass — including on runs of
  * a repeated symbol (`a a a a a` → `aa aa a`, never `aa a aa`),
  * where a single-space encoding diverges. The DuckDB oracle replays
  * training over the SAME string representation (generated
  * iteration CTEs, binary collation = JVM string order on this
  * [a-z0-9] alphabet), so the argmax chain is verified cross-engine
  * end to end.
  *
  * Training units: the corpus's normalized-text
  * words plus the doc_id decimal strings (the numerals supply the
  * combinatorial diversity the 31-word synthetic prose lacks —
  * see BpeMergesData). Ties on pair frequency break by MAX pair
  * string, which on a space-delimited pair equals the (left, right)
  * lexicographic tuple order because ' ' sorts below every symbol
  * character.
  *
  * Scale: vocab is |distinct words| rows regardless of corpus size;
  * each iteration's pair table partial-aggregates map-side; lineage
  * is checkpointed every 64 merges so a production 2000-merge
  * training never replans a 2000-deep expression chain.
  */
object BpeTrainer {
  /** Candidate depth the batched selector ranks per count pass
    * ([[trainMergesWithStats]]); 1 = the classic one-merge-per-job
    * chain. The batch can only ever be a PREFIX of this ranking, so T
    * bounds driver state (T rows per pass), not correctness.
    */
  val DefaultBatchT = 64

  /** Train `nMerges` merges; returns (rank, lhs, rhs) — rank = merge
    * order, the GPT-2 interchange table in DataFrame form. Stops
    * early if the vocabulary runs out of pairs.
    */
  def trainMerges(docs: DataFrame, nMerges: Int): DataFrame =
    trainMergesWithStats(docs, nMerges, DefaultBatchT)._1

  /** The batched merge chain, returning (merge table, batch sizes per
    * count pass). The classic trainer prices each merge at one
    * corpus-vocab aggregation job + one argmax collect — at the
    * production depth (2000 merges) that is a pure-orchestration
    * latency floor of 2000 sequential Spark jobs. This variant takes
    * up to `batchT` merges per count pass, PROVABLY reproducing the
    * sequential merge order (spec-pinned equal; the gated
    * `t_bpe_train` oracle replays the sequential chain in DuckDB):
    *
    * Accept a PREFIX p_1..p_m of the (count DESC, pair DESC) ranking
    * — the exact sequential selection order — where each p_j=(a_j,b_j)
    * satisfies, against every accepted p_i (i<j):
    *  1. symbol-disjoint: {a_j,b_j} ∩ {a_i,b_i} = ∅ — adjacency
    *     counts of symbol-disjoint pairs are INVARIANT under each
    *     other's merges (merging (a,b) creates/destroys only
    *     adjacencies touching a, b, or the new symbol ab);
    *  2. c_j > NB_i, where NB_i = max count over existing pairs of
    *     form (·,a_i) or (b_i,·) — every pair NEWLY created by merge
    *     i is (x,a_i b_i) from a former (x,a_i) adjacency or
    *     (a_i b_i,y) from a former (b_i,y) adjacency (runs:
    *     (ab,ab) derives from (b,a), also covered), so its count is
    *     ≤ NB_i < c_j and can never outrank p_j; strictness also
    *     settles ties without comparing new-pair strings;
    *  3. a_j ≠ b_j (self-pairs leave overlap leftovers whose
    *     greedy-pass arithmetic breaks the (x,a)/(b,y) bound — a
    *     self-pair is taken ALONE, the sequential step);
    *  4. no SPELLING COLLISION: if the concat spelling a_j·b_j equals
    *     a symbol that may already exist in the vocabulary, merging
    *     p_j does not mint a fresh symbol — it funnels mass into
    *     EXISTING pairs (x, a_j b_j)/(a_j b_j, y), whose counts start
    *     from c_old > 0, so the NB bound (which assumes new pairs
    *     start from zero) no longer caps them and a boosted pair
    *     could outrank a later batch member. Because the word table
    *     starts fully exploded to single characters, every
    *     multi-character symbol was minted by a merge WE recorded, so
    *     the driver-side set of all prior concat spellings decides
    *     collisions exactly (conservatively: a minted spelling may
    *     since have merged away). A colliding accept is treated like
    *     a self-pair — accepted (it is still the next sequential
    *     pick) and the batch cut there, so no later pick depends on
    *     post-collision counts.
    * Condition 1 needs no rejected-middle reasoning because the batch
    * is a prefix: everything ranked above an accepted pair is itself
    * accepted (and merged), everything below can't outrank.
    *
    * Per pass this costs EXACTLY one corpus-vocab pair aggregation +
    * one TakeOrdered collect — the sequential trainer's per-merge
    * price — so any batch ≥ 2 is pure profit. The collect widens to
    * selT (≥1024) rows only so NB can be bounded driver-side without
    * a second job: an uncollected pair's count is ≤ the selT-th
    * ranked count (the cutoff), hence
    * nbBound = max(collected adjacent max, cutoff) ≥ NB, and the
    * prefix rule applies against the bound. The whole batch lands as
    * one fused projection of nested `replace`s in batch order.
    * Driver state is selT (string, long) rows per pass — parameter
    * scale, vocab stays distributed.
    */
  def trainMergesWithStats(docs: DataFrame, nMerges: Int,
      batchT: Int = DefaultBatchT): (DataFrame, Seq[Int]) = {
    graft.core.Validation.validate("bpe-train",
      graft.core.Validation.knob("nMerges", nMerges, minV = 1L,
        maxV = 65536L) ++
        graft.core.Validation.knob("batchT", batchT, minV = 1L,
          maxV = 4096L))
    val spark = docs.sparkSession
    val words = docs
      .select(explode(split(normText(col("text")), " ")).as("w"))
      .unionByName(docs.select(col("doc_id").cast("string").as("w")))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    // materialize the word table ONCE: every iteration's pair count
    // otherwise replays the corpus-scale token groupBy from lineage —
    // 24 merges re-scanned the corpus 24 times (measured 29.6 s at
    // sf0.1; vocab-from-checkpoint trains the same table in a few)
    var vocab = words.select(
      concat(lit(" "),
        trim(regexp_replace(col("w"), "(.)", "$1  ")), lit(" ")).as("ws"),
      col("cnt"))
      .localCheckpoint(eager = true)
    // the checkpointed frame whose blocks the NEXT checkpoint releases
    var lastCkpt = vocab
    val merges = Seq.newBuilder[(Int, String, String)]
    val batchSizes = Seq.newBuilder[Int]
    // every concat spelling ever minted (across ALL passes): the
    // exact driver-side oracle for prefix-rule condition 4 — a fresh
    // concat can only collide with a symbol this training created
    var minted = Set.empty[String]
    var i = 0
    var dry = false
    var sinceCkpt = 0
    while (i < nMerges && !dry) {
      val pairs = vocab
        .withColumn("syms", split(trim(col("ws")), "  "))
        .filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "j -> concat(element_at(syms, j), ' ', element_at(syms, j + 1)))"))
          .as("p"), col("cnt"))
        .groupBy("p").agg(sum("cnt").as("c"))
      // ONE TakeOrdered job per pass — exactly the sequential
      // trainer's per-merge cost, so any batch ≥ 2 is pure profit.
      // The collect widens past batchT (selT rows) purely to bound
      // the neighbor maxima: an UNCOLLECTED pair's count is ≤ the
      // selT-th count (the ranking cutoff), so
      // nbBound = max(collected adjacent max, cutoff) ≥ the true NB
      // and the prefix rule stays provable without a second job.
      val selT = if (batchT == 1) 1 else math.max(batchT, 1024)
      val top = pairs.orderBy(col("c").desc, col("p").desc)
        .limit(selT).collect()
        .map { r =>
          val Array(a, b) = r.getString(0).split(" ", 2)
          (a, b, r.getLong(1))
        }
      if (top.isEmpty) dry = true
      else {
        val cand = top.take(math.min(batchT, nMerges - i))
        val batch =
          if (batchT == 1 || cand.length == 1) cand.take(1).toSeq
          else {
            val cutoff =
              if (top.length < selT) Long.MinValue else top.last._3
            val maxByLeft = top.groupBy(_._1).map { case (s, g) =>
              s -> g.map(_._3).max }
            val maxByRight = top.groupBy(_._2).map { case (s, g) =>
              s -> g.map(_._3).max }
            // pairs (x,a) cap new-pair counts via their RIGHT symbol,
            // (b,y) via their LEFT; anything uncollected via cutoff
            def nb(a: String, b: String): Long =
              math.max(cutoff,
                math.max(maxByRight.getOrElse(a, Long.MinValue),
                  maxByLeft.getOrElse(b, Long.MinValue)))
            val acc = Seq.newBuilder[(String, String, Long)]
            var used = Set.empty[String]
            var nbMax = Long.MinValue
            var stop = false
            var mintedBatch = minted
            cand.foreach { case t @ (a, b, c) =>
              if (!stop) {
                val selfPair = a == b
                val first = used.isEmpty
                if (first) {
                  acc += t; used = Set(a, b); nbMax = nb(a, b)
                  // self-pairs and spelling collisions go alone: the
                  // accept is still the sequential pick, but counts
                  // after it escape the NB bound (condition 3 / 4)
                  if (selfPair || mintedBatch(a + b)) stop = true
                  mintedBatch = mintedBatch + (a + b)
                } else if (selfPair || used(a) || used(b) || c <= nbMax) {
                  stop = true // prefix rule: cut at the first rejection
                } else {
                  acc += t; used = used + a + b
                  nbMax = math.max(nbMax, nb(a, b))
                  if (mintedBatch(a + b)) stop = true // condition 4
                  mintedBatch = mintedBatch + (a + b)
                }
              }
            }
            acc.result()
          }
        batchSizes += batch.length
        // one fused projection applies the whole batch in batch order
        // — symbols are [a-z0-9]+ (normText alphabet + digit ids), so
        // inlining them in a SQL literal is quote-safe
        val applied = batch.foldLeft("ws") { case (e, (a, b, _)) =>
          s"replace($e, ' $a  $b ', ' $a$b ')"
        }
        batch.foreach { case (a, b, _) =>
          merges += ((i, a, b)); minted = minted + (a + b); i += 1
        }
        vocab = vocab.withColumn("ws", expr(applied))
        sinceCkpt += batch.length
        if (sinceCkpt >= 64) {
          // release the PREVIOUS checkpoint's blocks once the new one
          // has materialized (eager = the new copy exists before the
          // unpersist): without this a 2000-merge run pins ~31 full
          // copies of the word table in executor storage
          vocab = vocab.localCheckpoint(eager = true)
          lastCkpt.unpersist()
          lastCkpt = vocab
          sinceCkpt = 0
        }
      }
    }
    import spark.implicits._
    (merges.result().zipWithIndex
      .map { case ((_, a, b), r) => (r, a, b) }
      .toDF("rank", "lhs", "rhs"), batchSizes.result())
  }
}
