package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, LongType, StructType}

import graft.functions.Portable._
import graft.operators.Curation
import graft.sources.{Durable, FsKeyIndex}

/** ST6: continuous corpus ingestion with durable cross-batch dedup —
  * the streaming form of [[Curation.incrementalDedupIndexed]]. Each
  * micro-batch elects its within-batch representatives, drops every
  * document whose content key ANY earlier batch ingested (via the
  * persisted [[FsKeyIndex]]), appends the surviving documents to the
  * corpus sink, and only then records their keys.
  *
  * Exactly-once output under foreachBatch's at-least-once replay,
  * without a two-sink transaction:
  *  - the corpus write is IDEMPOTENT: survivors land in an
  *    `ingest_batch=<id>` partition via dynamic partition overwrite,
  *    so a replayed batch rewrites its own partition instead of
  *    appending duplicates;
  *  - the index add is IDEMPOTENT: [[FsKeyIndex.keys]] is a distinct
  *    view, so re-appending a replayed batch's keys changes nothing;
  *  - ORDER: output BEFORE index. A crash between the two replays the
  *    batch with the index unchanged — the same survivors are
  *    re-elected (hash + min-doc_id election is deterministic) and the
  *    partition is rewritten identically. The reverse order would
  *    re-elect zero survivors on replay and lose the batch's output.
  *
  * Scale: per micro-batch cost is batch ⋈ key-index (8 bytes per
  * accepted doc ever), never corpus × corpus — the same incremental
  * shape as the batch operator, continuously.
  */
object StreamingCuration {

  /** Start the ingest: `docs` is a streaming DataFrame with at least
    * (doc_id: long, text: string); all columns are preserved in the
    * corpus sink, plus `n_batch_dupes` and the `ingest_batch`
    * partition column.
    *
    * Contract: `corpusDir` is owned by ONE checkpoint lineage — batch
    * ids (the partition keys) are unique only within a checkpoint, so
    * a restart must reuse `checkpointDir` (resuming batch numbering);
    * a fresh checkpoint lineage takes a fresh corpus segment dir. The
    * shared `index` is durable across lineages — that is what carries
    * dedup state between them.
    */
  def dedupIngest(docs: DataFrame, index: FsKeyIndex, corpusDir: String,
      checkpointDir: String,
      autoCompactMaxFiles: Option[Int] = None): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val keyed = batch.select(col("doc_id"),
          hexHash60(normText(col("text"))).as("k"))
        // localCheckpoint BEFORE any sink mutates: a lazy plan
        // re-evaluated after the index add would see its own keys
        val survivors = Curation.dedupBatch(keyed, index.keys())
          .localCheckpoint()
        survivors
          .join(batch, Seq("doc_id"))
          .drop("k", "rn")
          .withColumn("ingest_batch", lit(batchId))
          .write
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .partitionBy("ingest_batch")
          .parquet(corpusDir)
        index.add(survivors.select("k"))
        // codified index-maintenance cadence (opt-in): this is the
        // single-writer between-batches window FsKeyIndex.compact
        // documents — the batch's keys() scan completed at the eager
        // localCheckpoint above, the corpus write and index add are
        // durable, and the next batch reads keys() fresh
        autoCompactMaxFiles.foreach(index.compactIfNeeded)
      }
      .start()

  /** P8: continuous NEAR-dup ingest — the streaming form of the
    * minhash/LSH family. Each micro-batch computes the same banded
    * minhash signatures as [[graft.operators.Dedup.minhashLsh]] under
    * the index's pinned (bands, rows) geometry,
    * drops every document with ANY band bucket already ingested (probe
    * of a durable band-key index), elects within-batch representatives
    * (a doc survives iff it is the min doc_id in EVERY of its batch
    * band buckets), appends survivors to the corpus, then records
    * their band keys — so later batches (and later query lineages over
    * the shared index) see them.
    *
    * Semantics are deliberately OVER-DROP-ONLY relative to the batch
    * operators, in three documented ways:
    *  - no verify stage: a band collision drops the doc without an
    *    exact-Jaccard check (collision probability per band is J² at
    *    true Jaccard J; ~10⁻¹²-scale for unrelated docs). A false
    *    positive loses one training document; it never admits a
    *    duplicate — the curation-safe direction. The batch pipeline
    *    (D2/D7) remains the verified form.
    *  - no df cap: the cap is corpus-relative (df·20 ≤ n_docs), so a
    *    doc's signature would depend on WHICH batch carried it; raw
    *    shingle hashes keep each doc's bands reproducible across batch
    *    boundaries, restarts, and replays.
    *  - bucket-local election, not transitive closure: a doc that
    *    loses any bucket drops even if that bucket's winner itself
    *    dropped — decided in two relational passes, no iteration.
    *  - documents shorter than one shingle (8 normalized chars) are
    *    below the similarity floor: always ingested, never indexed
    *    (exact-key dedup — [[dedupIngest]] — is the tool for those).
    *
    * Exactly-once: the two-idempotent-sinks ordering of [[dedupIngest]]
    * (partition-overwrite corpus write BEFORE the distinct-view index
    * add), plus one hazard this operator has that the exact-key form
    * does not: on a replay AFTER the index add (crash before the
    * checkpoint commit), the batch's own band keys are already in the
    * index, so re-election yields zero banded survivors — and because
    * floor docs still survive, the replayed write is NON-empty and a
    * bare partition overwrite would rewrite the batch's partition
    * WITHOUT the originally elected docs ([[dedupIngest]] is immune
    * only because its zero-survivor replay writes nothing and touches
    * no partition). The write therefore unions the survivors with the
    * partition's EXISTING rows (keyed by doc_id — per the corpus-dir
    * contract the partition holds only this batch's docs), making the
    * rewrite a superset-stable fixpoint: every replay rewrites exactly
    * the original row set, whichever side of the index add it lands
    * on. The read-back is one partition (batch-sized), not a corpus
    * scan.
    *
    * Scale: per batch — signature generation is a projection + one
    * groupBy over the BATCH; the index probe is batch-bands ⋈ index
    * (8 bytes per band per accepted doc ever, key-partitioned); the
    * election two batch-local aggregations. Never corpus × corpus.
    * Verify mode (below) still scans the full bandstore and sigstore
    * on every batch: its probe joins the batch's bands against every
    * stored band row and its candidates against every stored
    * signature, so its per-batch cost grows with the accepted corpus.
    *
    * OPT-IN VERIFY MODE (`verifyMinJaccardBp = Some(bp)`): the
    * over-drop design trades one training document per S-curve false
    * positive; when that loss rate matters, verify mode stores each
    * accepted doc's minhash SIGNATURE alongside its band keys
    * (sidecars under the index root, batch-partitioned with the same
    * idempotent overwrite as the corpus) and estimates Jaccard from
    * the stored signatures before any drop — matching components /
    * family size ≥ bp drops, below survives. Collisions are then a
    * candidate stage, not a verdict, at the price of one signature
    * read per candidate. Fast and verify modes share banding,
    * election order, floor rule, and the replay fixpoint; an index's
    * sidecars must be built by verify mode from its first batch
    * (fast-built indexes have keys without signatures — those
    * collisions cannot be verified and are admitted).
    *
    * GEOMETRY IS PART OF THE DURABLE INDEX CONTRACT: band keys from
    * different (bands, rows) layouts are incomparable longs, so a
    * probe under the wrong geometry silently admits every duplicate
    * (no collisions) — worse than failing. The first ingest stamps
    * the index root with a `geometry` manifest (atomic tmp+rename,
    * same discipline as [[StreamingAnn.saveModel]]); every later
    * lineage — whatever its default — must match it or the call
    * REFUSES before any batch runs. New indexes default to the
    * production 16×8 S-curve (the 4×2 correctness geometry admits
    * ~67% of s=0.5 pairs, and this operator drops WITHOUT verify —
    * at scale that is silent loss of mid-similarity non-duplicates).
    * A pre-manifest legacy (non-empty, manifest-less) index is NEVER
    * auto-stamped — the ingest refuses and demands a one-time explicit
    * [[stampGeometry]] with the geometry it was built with, because a
    * silent default stamp would probe old keys under a new geometry
    * and admit every duplicate.
    */
  def nearDupIngest(docs: DataFrame, index: FsKeyIndex, corpusDir: String,
      checkpointDir: String,
      bands: Int = graft.operators.Dedup.ProdBands,
      rows: Int = graft.operators.Dedup.ProdRows,
      autoCompactMaxFiles: Option[Int] = None,
      verifyMinJaccardBp: Option[Long] = None): StreamingQuery = {
    verifyMinJaccardBp.foreach(bp =>
      graft.core.Validation.validate("near-dup-ingest",
        graft.core.Validation.knob("verifyMinJaccardBp", bp,
          minV = 1L, maxV = 10000L)))
    ensureGeometry(index, bands, rows)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.Dedup
        val numHashes = bands * rows
        val sh = Dedup.shingleTable(batch)
          .select(col("doc_id"), hexHash60(col("s")).as("h"))
        val sigsWide = Dedup.minhashSignatures(sh, numHashes)
        // ikey packs (band_key, band) into one indexable long:
        // r=2 band keys are < 2^41 (injective packing) and wider bands
        // hash-fold below 2^31, so band_key*bands + band stays well
        // inside a long for any sane geometry. The banding itself is
        // Dedup's — band keys are the durable index contract and must
        // match the batch operators bit-for-bit
        val banded = Dedup.bandedSignatures(sigsWide, bands, rows)
          .withColumn("ikey", col("band_key") * bands + col("band"))
          .localCheckpoint() // read 3× below; must not re-plan after add
        val spark = batch.sparkSession
        // verify mode's signature rows: joined 2× by the election and
        // once more by the sigstore write
        lazy val sigArr = sigsWide.select(col("doc_id"),
            array((0 until numHashes).map(i => col(s"mh$i")): _*).as("sig"))
          .localCheckpoint()
        val elected = verifyMinJaccardBp match {
          case None =>
            // FAST mode (the over-drop default): any band collision
            // against the index or a smaller in-batch doc drops
            val indexHit = banded
              .join(index.keys().withColumnRenamed("k", "ikey"), Seq("ikey"))
              .select("doc_id").distinct()
            val fresh = banded.join(indexHit, Seq("doc_id"), "left_anti")
            val bucketMin = fresh.groupBy("ikey").agg(min("doc_id").as("win"))
            fresh.join(bucketMin, Seq("ikey"))
              .groupBy("doc_id")
              .agg(max(when(col("doc_id") =!= col("win"), 1).otherwise(0))
                .as("lost"))
              .filter(col("lost") === 0)
              .select("doc_id")
          case Some(bp) =>
            // VERIFY mode: a band collision is only a CANDIDATE — the
            // signatures stored alongside the band keys estimate
            // Jaccard (matching components / numHashes, the unbiased
            // minhash estimator), and only estimates ≥ bp drop. An
            // S-curve false positive (low-similarity pair colliding on
            // one band) survives here and is lost in fast mode — the
            // measured trade is one signature read per candidate.
            // Attribution sidecars live under the index root and must
            // have been written by THIS mode from the index's first
            // batch (a fast-mode-built index has keys but no stored
            // signatures — its collisions cannot be verified and are
            // admitted; do not mix modes on one index).
            val priorBands = readOrEmpty(spark, s"${index.root}/bandstore",
              new StructType().add("doc_id", LongType).add("ikey", LongType))
            val priorSigs = readOrEmpty(spark, s"${index.root}/sigstore",
              new StructType().add("doc_id", LongType)
                .add("sig", ArrayType(LongType)))
            val candPrior = banded
              .join(priorBands.select(col("ikey"),
                col("doc_id").as("old_id")), Seq("ikey"))
              .filter(col("doc_id") =!= col("old_id")) // replay self-match
              .select("doc_id", "old_id").distinct()
            val verifiedHit = candPrior
              .join(sigArr, Seq("doc_id"))
              .join(priorSigs.select(col("doc_id").as("old_id"),
                col("sig").as("old_sig")), Seq("old_id"))
              .withColumn("est_bp", estJaccardBp("sig", "old_sig", numHashes))
              .filter(col("est_bp") >= bp)
              .select("doc_id").distinct()
            val freshV = banded.join(verifiedHit, Seq("doc_id"), "left_anti")
            val bx = freshV.as("x"); val by = freshV.as("y")
            val losers = bx.join(by, col("x.ikey") === col("y.ikey")
                && col("x.doc_id") < col("y.doc_id"))
              .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
              .distinct()
              .join(sigArr.select(col("doc_id").as("a"),
                col("sig").as("sig_a")), Seq("a"))
              .join(sigArr.select(col("doc_id").as("b"),
                col("sig").as("sig_b")), Seq("b"))
              .withColumn("est_bp", estJaccardBp("sig_a", "sig_b", numHashes))
              .filter(col("est_bp") >= bp)
              .select(col("b").as("doc_id")).distinct()
            freshV.select("doc_id").distinct()
              .join(losers, Seq("doc_id"), "left_anti")
        }
        // sub-shingle-length docs have no bands: below the similarity
        // floor, always ingested, never indexed
        val floor = batch.select("doc_id")
          .join(banded.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
        // replay stability (see scaladoc): docs already in THIS batch's
        // partition stay in it — a post-index-add replay must not
        // shrink the rewrite
        val existing = readOrEmpty(spark, s"$corpusDir/ingest_batch=$batchId",
          new StructType().add("doc_id", LongType))
        val survivors = elected.unionByName(floor).unionByName(existing)
          .distinct().localCheckpoint()
        survivors.join(batch, Seq("doc_id"))
          .withColumn("ingest_batch", lit(batchId))
          .write
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .partitionBy("ingest_batch")
          .parquet(corpusDir)
        // verify mode persists the attribution sidecars with the SAME
        // idempotent discipline as the corpus itself (dynamic
        // partition overwrite keyed by batch): a replay recomputes the
        // identical survivor set (fixpoint) and rewrites identical
        // sidecar partitions
        if (verifyMinJaccardBp.isDefined) {
          val keptBands = banded.join(survivors, Seq("doc_id"))
            .select("doc_id", "ikey").distinct()
            .withColumn("ingest_batch", lit(batchId))
          keptBands.write
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").partitionBy("ingest_batch")
            .parquet(s"${index.root}/bandstore")
          sigArr.join(survivors, Seq("doc_id"))
            .withColumn("ingest_batch", lit(batchId))
            .write
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").partitionBy("ingest_batch")
            .parquet(s"${index.root}/sigstore")
        }
        index.add(banded.join(survivors, Seq("doc_id"))
          .select(col("ikey").as("k")))
        autoCompactMaxFiles.foreach(index.compactIfNeeded) // as dedupIngest
      }
      .start()
  }

  /** Minhash Jaccard estimate in integer basis points: matching
    * signature components over the family size (the unbiased
    * estimator), as one codegen-able expression over two
    * `array<bigint>` columns.
    */
  private def estJaccardBp(a: String, b: String, numHashes: Int) =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> " +
      "CASE WHEN x = y THEN cast(1 as bigint) ELSE cast(0 as bigint) END), " +
      s"cast(0 as bigint), (acc, v) -> acc + v) * 10000 div $numHashes")

  /** The `schema` columns of the parquet table at `dir`, or an empty
    * frame of that schema while nothing has been written there yet.
    */
  private def readOrEmpty(spark: SparkSession, dir: String,
      schema: StructType): DataFrame =
    try spark.read.parquet(dir).select(schema.fieldNames.map(col).toIndexedSeq: _*)
    catch { case _: AnalysisException =>
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    }

  /** Residual-duplication audit of a [[nearDupIngest]] corpus — the
    * measured size of the over-drop design's ONE admission channel:
    * two documents at Jaccard ≥ threshold whose signatures never
    * shared a band bucket at the ingest geometry (the S-curve miss,
    * P = (1−s^r)^b per pair) are BOTH kept, silently, because the
    * ingest has no verify stage. This batch job runs the VERIFIED
    * batch pipeline over the accumulated kept corpus and reports the
    * residue: kept docs, verified residual pairs among them, docs
    * involved, and the involved share in basis points.
    *
    * The audit's candidate stage deliberately does NOT reuse the
    * index's geometry: the same (bands, rows) reproduces the same
    * S-curve and is therefore blind to exactly the pairs the ingest
    * missed. It runs a HIGH-RECALL geometry instead — many narrow
    * bands (default 64×2 over the same 128-hash family:
    * P(candidate) ≥ 1−(1−s²)^64, ≈ 1 − 10⁻⁶ at s = 0.44) — and exact
    * Jaccard verification does the filtering, so the report counts
    * true pairs at the threshold, not collisions. Run it on the
    * maintenance cadence, like index compaction; a rising residual_bp
    * is the signal to widen the ingest geometry or schedule a batch
    * re-dedup pass.
    *
    * Scale: the batch LSH chain over the kept corpus — df-capped
    * shingles, band-bucket equi-joins, never all-pairs (narrow bands
    * admit more candidates than 16×8; that cost is the audit's recall,
    * bounded by the same bucket-join shape — [[graft.operators.Dedup
    * .bucketBalance]] at (auditBands, auditRows) prices it before the
    * run); the report is one row (the count frames broadcast).
    *
    * Known blind spot, carried from the batch pipeline and SIGNALED in
    * the report: the audit's similarity universe is the df-CAPPED
    * shingle table (the ingest's band index is uncapped), so near-dup
    * families whose shared shingles are corpus-wide boilerplate
    * (df·20 > n_docs) — and any corpus small enough that the cap
    * empties the table (n_docs < ~20) — are invisible to it.
    * `n_shingles` is that signal: a zero (or implausibly small) value
    * next to a non-trivial n_docs means the audit measured an emptied
    * universe, not a clean corpus.
    */
  def nearDupAudit(spark: SparkSession,
      corpusDir: String, minJaccardBp: Long,
      auditBands: Int = 64, auditRows: Int = 2): DataFrame = {
    import graft.operators.Dedup
    val docs = spark.read.parquet(corpusDir).select("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, minJaccardBp, auditBands, auditRows)
    val involved = pairs.select(col("doc_a").as("d"))
      .unionByName(pairs.select(col("doc_b").as("d"))).distinct()
    pairs.agg(count(lit(1)).as("residual_pairs"))
      .crossJoin(broadcast(involved.agg(count(lit(1)).as("docs_in_pairs"))))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .crossJoin(broadcast(Dedup.cappedShingleHashes(docs)
        .agg(count(lit(1)).as("n_shingles"))))
      .select(col("n_docs"), col("n_shingles"), col("residual_pairs"),
        col("docs_in_pairs"),
        expr("docs_in_pairs * 10000 div n_docs").as("residual_bp"))
  }

  /** Stamp-or-verify the band-key index's geometry manifest (see
    * [[nearDupIngest]]): present → require an exact match, else refuse
    * the probe; absent → auto-stamp `bands=B rows=R` atomically ONLY
    * when the index is genuinely fresh (no key log yet). A NON-empty
    * index with no manifest is a pre-manifest legacy index — silently
    * stamping it with the caller's (likely new-default) geometry would
    * then probe its old-geometry keys with incomparable new-geometry
    * keys: zero collisions, every duplicate admitted, the exact
    * failure the manifest exists to prevent. Those must be stamped
    * once, explicitly, via [[stampGeometry]] with their ORIGINAL
    * geometry.
    */
  private[streaming] def ensureGeometry(index: FsKeyIndex, bands: Int,
      rows: Int): Unit =
    checkOrStamp(index.root, bands, rows,
      (body, expect) => s"band-key index at ${index.root} was built with " +
        s"'$body'; refusing to probe it with '$expect' — band keys from " +
        "different geometries are incomparable, and a mismatched probe " +
        "would silently admit every duplicate") { expect =>
      // the index recovers a crashed compaction before it counts, so
      // a key log mid-swap still counts as keys
      if (index.logFileCount() > 0)
        throw new IllegalStateException(
          s"band-key index at ${index.root} holds keys but no geometry " +
            s"manifest (pre-manifest legacy index); refusing to assume " +
            s"'$expect' — probing legacy keys under a guessed geometry " +
            "yields zero collisions and silently admits every duplicate. " +
            "Stamp it once with StreamingCuration.stampGeometry(root, " +
            "bands, rows) using the geometry it was BUILT with.")
    }

  /** One-time explicit geometry stamp for a pre-manifest legacy index
    * (see [[ensureGeometry]]). Refuses to overwrite a conflicting
    * existing manifest — re-stamping with the same geometry is a no-op.
    */
  def stampGeometry(indexRoot: String, bands: Int, rows: Int): Unit =
    checkOrStamp(indexRoot, bands, rows,
      (body, expect) => s"band-key index at $indexRoot is already stamped " +
        s"'$body'; refusing to re-stamp it '$expect' — geometry is " +
        "immutable for the life of the index (rebuild to change it)")(_ => ())

  /** The shared read-compare-write of the `geometry` manifest: a
    * present one must read `bands=B rows=R` (else `conflict(body,
    * expected)` is thrown); an absent one is written once `beforeStamp`
    * has accepted the stamp.
    */
  private def checkOrStamp(indexRoot: String, bands: Int, rows: Int,
      conflict: (String, String) => String)(beforeStamp: String => Unit): Unit = {
    val expect = s"bands=$bands rows=$rows"
    val p = java.nio.file.Paths.get(indexRoot, "geometry")
    Durable.read(p).map(_.trim) match {
      case Some(body) =>
        if (body != expect)
          throw new IllegalStateException(conflict(body, expect))
      case None =>
        beforeStamp(expect)
        Durable.write(p, expect)
    }
  }
}
