package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators._
import graft.functions.TextAnalysis

/** Driver contract — see /root/repo/SURVEY.md §2 + the builder prompt.
  *
  * Every entry in [[queries]] has (where SQL-expressible) a DuckDB
  * oracle in [[oracleSql]] with IDENTICAL column names and ordering;
  * floating-point outputs are rounded / rank-ified on both sides so the
  * driver's value hashes match exactly.
  */
object SparkEntry {

  // ---- shared scenario constants (mirrored in the oracle CTEs) ----
  /** Count-rolling segment size (messages). */
  val SegMaxMessages = 100
  /** Greedy size rolling thresholds (reference: egress isFull rule). */
  val SegMaxBytes = 600L
  val SegSizeMaxMessages = 64
  /** Simulated in-flight/lost segments: seg_seq % 7 == 3 are absent. */
  val DropSegMod = 7; val DropSegRem = 3
  /** Committed segments for the checkpoint scenario: seg_seq < 3. */
  val CkptSegs = 3
  /** Compaction plan parameters. */
  val CompactMinSegs = 2; val CompactMaxSegs = 5
  /** Gated distributed-BPE-training depth (T19): enough merges that
    * both digit and prose rules appear, small enough that the
    * generated per-iteration oracle CTE chain stays readable. */
  val BpeTrainN = 24

  private def msgs(s: SparkSession, dir: String): DataFrame =
    MessageFraming.messages(Tables.events(s, dir))

  private def countSegments(s: SparkSession, dir: String): DataFrame =
    SegmentRoller.byCountCached(msgs(s, dir), SegMaxMessages)

  private def presentSegments(s: SparkSession, dir: String): DataFrame =
    countSegments(s, dir).filter(col("seg_seq") % DropSegMod =!= DropSegRem)

  private def checkpoints(s: SparkSession, dir: String): DataFrame =
    Checkpoints.fromSegments(
      countSegments(s, dir).filter(col("seg_seq") < CkptSegs), SegMaxMessages)

  /** Leveled-compaction scenario: count segments re-labeled with
    * levels and ages + one contained rewind segment per partition.
    * seg 0-1 are level 3 (previously compacted → resume point),
    * even seg_seq level 1 / odd level 2, created_epoch grows with
    * seg_seq so the age gate cuts the young tail deterministically.
    */
  private def leveledSegments(s: SparkSession, dir: String): DataFrame = {
    val segs = countSegments(s, dir)
    val labeled = segs
      .withColumn("level",
        when(col("seg_seq") < 2, 3)
          .when(col("seg_seq") % 2 === 0, 1).otherwise(2))
      .withColumn("created_epoch", lit(1000L) + col("seg_seq") * 10L)
      .select("part_id", "seg_seq", "start_offset", "end_offset",
        "message_count", "seg_bytes", "level", "created_epoch")
    val contained = segs.filter(col("seg_seq") === 2).select(
      col("part_id"), lit(99L).as("seg_seq"),
      (col("start_offset") + 10).as("start_offset"),
      (col("start_offset") + 40).as("end_offset"),
      lit(31L).as("message_count"), lit(100L).as("seg_bytes"),
      lit(1).as("level"), lit(1000L).as("created_epoch"))
    labeled.unionByName(contained)
  }

  /** Anomalous stream for the audit: drop some offsets, duplicate others. */
  private def anomalousStream(s: SparkSession, dir: String): DataFrame = {
    val m = msgs(s, dir)
    val dropped = m.filter(col("event_id") % 97 =!= 13)
    val dups = m.filter(col("event_id") % 101 === 7)
    dropped.select("part_id", "msg_offset").unionAll(dups.select("part_id", "msg_offset"))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- analytics: scan + filter + multi-aggregate (TPC-H Q1 shape) ----
    "q1_pricing_summary" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 0).cast("long").as("sum_qty"),
          round(sum("l_extendedprice"), 0).cast("long").as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0)
            .cast("long").as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))), 0).cast("long").as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- analytics surface (see graft.operators.Analytics) ----
    "q3_shipping_priority" -> Analytics.shippingPriority _,
    "q5_local_supplier" -> Analytics.localSupplierVolume _,
    "q6_revenue_change" -> Analytics.revenueChange _,
    "q10_returned_items" -> Analytics.returnedItems _,
    "q_top_parts_per_brand" -> Analytics.topPartsPerBrand _,
    "q_rollup_revenue" -> Analytics.rollupRevenue _,
    "q_orders_no_lineitems" -> Analytics.ordersNoLineitems _,
    "q_customers_with_orders" -> Analytics.customersWithOrders _,
    "q_distinct_users" -> Analytics.distinctUsers _,
    "q_user_running_value" -> Analytics.userRunningValue _,

    "q4_late_priority" -> Analytics.latePriorityCount _,
    "q12_qty_priority" -> Analytics.shipmodePriority _,
    "q14_promo_revenue" -> Analytics.promoRevenue _,
    "q18_large_orders" -> Analytics.largeOrders _,
    "q22_idle_rich" -> Analytics.idleRichCustomers _,
    "q_value_quantiles" -> Analytics.valueQuantiles _,
    // Q14's 100 TB default: sketch quantiles in ONE partial-agg pass
    // (rows-only gate — sketch estimates are engine-specific; the
    // rank-error bound vs the exact form is spec-pinned)
    "q_value_quantiles_approx" ->
      ((s: SparkSession, dir: String) => Analytics.valueQuantilesApprox(s, dir)),
    "q_grouping_sets" -> Analytics.groupingSetsActivity _,

    // salted join == plain join (skew spreading is result-identity)
    "q_salted_user_join" -> ((s, dir) => {
      val events = Tables.events(s, dir)
      val dim = events.groupBy("user_id")
        .agg(count(lit(1)).as("user_events"))
      Skew.saltedJoin(events, dim, "user_id", 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum("user_events").as("sum_user_events"))
        .orderBy("event_type")
    }),

    // Range join (shipments within 1 day of other orders) with the
    // count payload PRE-AGGREGATED per day before the join — the
    // aggregate-through-range-join pushdown: candidates collapse from
    // |O|·(shipments/day) pair rows to |O|·3 day rows. Own-order
    // shipments are subtracted via a cheap equi-join. Result identical
    // to the pair-level join (the generic operator,
    // TimeSeries.rangeJoinBucketed, remains for non-aggregable
    // payloads and is spec-verified against the naive theta join).
    "q_range_ship_density" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderdate").cast("timestamp").cast("long").as("o_epoch"))
      val l = Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          col("l_shipdate").cast("timestamp").cast("long").as("l_epoch"))
      val dayCounts = l.groupBy("l_epoch").agg(count(lit(1)).as("n_ship"))
      val nearby = o
        .withColumn("__off", explode(array(lit(-86400L), lit(0L), lit(86400L))))
        .withColumn("l_epoch", col("o_epoch") + col("__off"))
        .join(dayCounts, Seq("l_epoch"), "left")
        .groupBy("o_orderkey", "o_orderpriority", "o_epoch")
        .agg(sum(coalesce(col("n_ship"), lit(0L))).as("total_nearby"))
      val own = o.join(l, col("l_orderkey") === col("o_orderkey"))
        .filter(abs(col("l_epoch") - col("o_epoch")) <= 86400L)
        .groupBy(col("o_orderkey").as("own_key"))
        .agg(count(lit(1)).as("own_nearby"))
      nearby
        .join(own, col("o_orderkey") === col("own_key"), "left")
        .withColumn("nearby", col("total_nearby") - coalesce(col("own_nearby"), lit(0L)))
        .groupBy("o_orderpriority")
        .agg(sum("nearby").as("nearby_shipments"),
          sum(when(col("nearby") > 0, 1L).otherwise(0L)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    "q_asof_purchase" -> ((s, dir) =>
      TimeSeries.eventsWithLastPurchase(Tables.events(s, dir))
        .orderBy("user_id", "event_id")),

    "q_sessionization" -> ((s, dir) =>
      TimeSeries.sessionize(Tables.events(s, dir))
        .orderBy("user_id", "session_seq")),

    "q_activity_pivot" -> ((s, dir) =>
      TimeSeries.activityPivot(Tables.events(s, dir)).orderBy("part_id")),

    "q_resample_hourly" -> ((s, dir) =>
      TimeSeries.resampleHourly(Tables.events(s, dir))
        .orderBy("user_id", "hour")),

    // edit distance over the LSH candidate pairs (native levenshtein
    // on both engines; capped prefix bounds the O(n*m) DP cost)
    "d_edit_distance" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashLsh(docs, NgramJaccardBp).select("doc_a", "doc_b")
      val norm = docs.select(col("doc_id"),
        substring(graft.functions.Portable.normText(col("text")), 1, 100).as("prefix"))
      pairs
        .join(norm.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("prefix", "prefix_a"), Seq("doc_a"))
        .join(norm.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("prefix", "prefix_b"), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("prefix_a"), col("prefix_b")).as("edit_dist"))
        .orderBy("doc_a", "doc_b")
    }),

    // ---- replicator domain ----
    "r_message_framing" -> ((s, dir) =>
      msgs(s, dir)
        .select("part_id", "msg_offset", "key", "msg_value", "msg_size", "event_type")
        .orderBy("part_id", "msg_offset")),

    "r_segment_assign_count" -> ((s, dir) =>
      countSegments(s, dir)
        .select("part_id", "seg_seq", "start_offset", "end_offset",
          "message_count", "seg_bytes", "level")
        .orderBy("part_id", "seg_seq")),

    "r_segment_assign_age" -> ((s, dir) =>
      SegmentRoller.byAge(msgs(s, dir))
        .select("part_id", "seg_day", "start_offset", "end_offset",
          "message_count", "seg_bytes")
        .orderBy("part_id", "seg_day")),

    "r_segment_assign_size" -> ((s, dir) =>
      SegmentRoller.bySizeGreedy(msgs(s, dir), SegMaxBytes, SegSizeMaxMessages)
        .select("part_id", "seg_seq", "start_offset", "end_offset",
          "message_count", "seg_bytes", "level")
        .orderBy("part_id", "seg_seq")),

    "r_stream_audit" -> ((s, dir) =>
      StreamAudit.audit(anomalousStream(s, dir)).orderBy("part_id")),

    "r_checkpoint" -> ((s, dir) => checkpoints(s, dir).orderBy("part_id")),

    "r_gap_detection" -> ((s, dir) =>
      GapDetector.lostRanges(presentSegments(s, dir))
        .orderBy("part_id", "lost_start")),

    // lost ranges with at-least-once rewind segments in the inventory:
    // contained duplicates must NOT shrink coverage or flag false gaps
    // (running-max contiguity — reference ingress nextOffset = max(end)+1)
    "r_lost_ranges" -> ((s, dir) => {
      val present = presentSegments(s, dir)
        .select("part_id", "seg_seq", "start_offset", "end_offset", "message_count")
      val contained = present
        .filter(col("seg_seq") % 5 === 1 && col("message_count") === SegMaxMessages)
        .select(col("part_id"),
          (col("start_offset") + 10).as("start_offset"),
          (col("start_offset") + 40).as("end_offset"))
      GapDetector.lostRanges(
        present.select("part_id", "start_offset", "end_offset")
          .unionByName(contained))
        .orderBy("part_id", "lost_start")
    }),

    "r_ingress_replay" -> ((s, dir) =>
      Ingress.replay(msgs(s, dir), presentSegments(s, dir), checkpoints(s, dir))
        .orderBy("part_id", "msg_offset")),

    "r_compaction_plan" -> ((s, dir) =>
      Compactor.plan(countSegments(s, dir), 0, CompactMinSegs, CompactMaxSegs)
        .select("part_id", "bin", "input_segments", "start_offset", "end_offset",
          "message_count", "seg_bytes", "level")
        .orderBy("part_id", "bin")),

    "r_compaction_plan_leveled" -> ((s, dir) =>
      Compactor.planLeveled(leveledSegments(s, dir),
        minLevel = 1, maxLevel = 2, minAgeSec = 950L, nowEpoch = 2000L,
        minSegments = 2, maxSegments = 3,
        minBytes = 1L, maxBytes = 1000000000000000L)
        .orderBy("part_id")),

    "r_compacted_merge" -> ((s, dir) => {
      val plan = Compactor.plan(countSegments(s, dir), 0, CompactMinSegs, CompactMaxSegs)
      Compactor.mergedStats(msgs(s, dir), plan)
        .select("part_id", "bin", "level", "message_count",
          "merged_start", "merged_end", "merged_bytes")
        .orderBy("part_id", "bin")
    }),

    "r_partition_metrics" -> ((s, dir) =>
      ReplicationMetrics.perPartition(msgs(s, dir)).orderBy("part_id")),

    // rewind/late/lost meters over a deterministic arrival log:
    // present segments arrive in seg order, except seg_seq%9==4 which
    // arrives AFTER its successor (out-of-order → late mark) and
    // seg_seq%5==2 which is redelivered once (at-least-once rewind);
    // the dropped seg_seq%7==3 segments never arrive (lost ranges)
    "r_replay_metrics" -> ((s, dir) => {
      val present = presentSegments(s, dir)
        .select("part_id", "seg_seq", "start_offset", "end_offset")
      val originals = present.withColumn("arrival_seq",
        col("seg_seq") * 2 + when(col("seg_seq") % 9 === 4, 3L).otherwise(0L))
      val redelivered = present.filter(col("seg_seq") % 5 === 2)
        .withColumn("arrival_seq", col("seg_seq") * 2 + 1)
      ReplayAudit.metrics(
        originals.unionByName(redelivered)
          .select("part_id", "arrival_seq", "start_offset", "end_offset"))
        .orderBy("part_id")
    }),

    "r_header_stats" -> ((s, dir) =>
      Headers.headerStats(msgs(s, dir)).orderBy("part_id")),

    "r_store_reconcile" -> ((s, dir) => {
      val segs = countSegments(s, dir)
      StoreReconciler.reconcile(
        segs.filter(col("seg_seq") % 13 =!= 7),
        segs.filter(col("seg_seq") % 11 =!= 5))
        .orderBy("part_id", "seg_seq")
    }),

    // Consistent LIST: an eventually-consistent listing (every 13th
    // segment not yet visible) merged with event state — created
    // events at end+1, a newer removal for seg%7==3, a stale removal
    // for seg%7==4, and everything before ts=900 expired from state.
    "r_store_list_consistent" -> ((s, dir) => {
      val segs = countSegments(s, dir)
      val listed = segs.filter(col("seg_seq") % 13 =!= 7)
        .select(col("part_id"), col("seg_seq"), col("end_offset").as("list_ts"))
      val events = segs.filter(col("seg_seq") % 11 =!= 5)
        .select(col("part_id"), col("seg_seq"),
          lit("created").as("event_type"), (col("end_offset") + 1).as("event_ts"))
        .unionByName(segs.filter(col("seg_seq") % 7 === 3)
          .select(col("part_id"), col("seg_seq"),
            lit("removed").as("event_type"), (col("end_offset") + 100).as("event_ts")))
        .unionByName(segs.filter(col("seg_seq") % 7 === 4)
          .select(col("part_id"), col("seg_seq"),
            lit("removed").as("event_type"), (col("end_offset") - 50).as("event_ts")))
      StoreReconciler.listWithState(listed, events, horizon = 900L)
        .orderBy("part_id", "seg_seq")
    }),

    // SQS-shape event triage: a raw event feed with malformed bodies
    // (missing field for seg%17==2, unknown type for seg%19==3,
    // non-numeric part for seg%29==6) and a poison message redelivered
    // past the bound (seg%23==4 at receive_count 7 vs maxReceives 5) —
    // dead rows keep id + reason, good rows feed the reconcile
    "r_store_dead_events" -> ((s, dir) => {
      val segs = countSegments(s, dir)
      val pid = col("part_id").cast("string")
      val seq = col("seg_seq").cast("string")
      val eo = col("end_offset").cast("string")
      val raw = segs.select(
        (col("part_id") * 100000 + col("seg_seq")).as("event_id"),
        when(col("seg_seq") % 17 === 2,
          concat(lit("{\"p\":"), pid, lit(",\"t\":\"created\",\"ts\":"),
            eo, lit("}")))
          .when(col("seg_seq") % 19 === 3,
            concat(lit("{\"p\":"), pid, lit(",\"s\":"), seq,
              lit(",\"t\":\"updated\",\"ts\":"), eo, lit("}")))
          .when(col("seg_seq") % 29 === 6,
            concat(lit("{\"p\":\"x\",\"s\":"), seq,
              lit(",\"t\":\"created\",\"ts\":"), eo, lit("}")))
          .otherwise(
            concat(lit("{\"p\":"), pid, lit(",\"s\":"), seq,
              lit(",\"t\":\"created\",\"ts\":"), eo, lit("}")))
          .as("body"),
        when(col("seg_seq") % 23 === 4, lit(7L))
          .otherwise(lit(1L) + col("seg_seq") % 3).as("receive_count"))
      // sentinel-coalesce the nullable parse columns for the exact
      // cross-engine hash (NULL never survives a gated output)
      StoreReconciler.triageEvents(raw, maxReceives = 5)
        .select(col("event_id"),
          coalesce(col("part_id"), lit(-1L)).as("part_id"),
          coalesce(col("seg_seq"), lit(-1L)).as("seg_seq"),
          coalesce(col("event_type"), lit("")).as("event_type"),
          coalesce(col("event_ts"), lit(-1L)).as("event_ts"),
          col("receive_count"), col("status"))
        .orderBy("event_id")
    }),

    // ---- LLM-training-data operators ----
    "d_exact_dedup" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir)).orderBy("content_hash")),

    "d_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(Tables.documents(s, dir), NgramJaccardBp)
        .orderBy("doc_a", "doc_b")),

    "d_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(Tables.documents(s, dir), NgramJaccardBp)
        .orderBy("doc_a", "doc_b")),

    // D2 at PRODUCTION band geometry (16 bands × 8 rows = 128
    // hashes): same verified-pair semantics as d_minhash_lsh, with
    // the steep S-curve real deployments run — P(candidate) at s=0.5
    // drops from ~68% (4×2) to ~6%, so the verify-join fanout from
    // the fat mid-similarity band shrinks ~11×, while s≥0.8 pairs
    // stay ~95% admitted and true near-dups certain (GeometrySpec
    // pins the measured curve against 1−(1−s^r)^b for both
    // geometries). The found pair set is accordingly SMALLER than
    // d_minhash_lsh's near the 0.5 threshold — that recall trade is
    // the point, and the oracle mirrors it exactly
    "d_minhash_lsh_prod" -> ((s, dir) =>
      Dedup.minhashLsh(Tables.documents(s, dir), NgramJaccardBp,
        bands = Dedup.ProdBands, rows = Dedup.ProdRows)
        .orderBy("doc_a", "doc_b")),

    // D17: band-bucket balance observability — the dedup twin of
    // a_cell_balance: Σ C(|bucket|,2) per band IS the verify-join
    // workload, and a hot bucket is the silent all-pairs failure mode
    // of the "never all-pairs" guarantee
    "d_bucket_balance" -> ((s, dir) =>
      Dedup.bucketBalance(Tables.documents(s, dir))
        .orderBy("band")),

    "d_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), SimhashMaxHamming)
        .orderBy("doc_a", "doc_b")),

    "d_embedding_dedup" -> ((s, dir) =>
      Ann.embeddingDedup(Tables.embeddings(s, dir), EmbedDedupCosBp)
        .orderBy("vec_a", "vec_b")),

    // D11: suffix-array substring dedup re-expressed — w-token rolling
    // windows keyed by polynomial hash, corpus-wide occurrence stats
    "d_repeated_spans" -> ((s, dir) =>
      Dedup.repeatedSpans(Tables.documents(s, dir), SpanW)
        .orderBy("doc_id")),

    // D12: SemDeDup — trained k-means cells + within-cell keep-first
    // near-dup election over exact cosine. kCells=32 exercises the
    // scale knob: TOTAL pair volume is kCells·(n/kCells)²/2 = n²/2k,
    // so quadrupling cells quarters the work (8 cells over sf0.1's
    // 50k vectors ≈ 156M total pairs; 32 cells ≈ 39M, 4× less — the
    // PER-CELL figure is what drops 16×, 19.5M → 1.2M)
    // D18: ExactSubstr strip — the remedy to d_repeated_spans' signal:
    // repeated w-token spans keep their first occurrence corpus-wide,
    // every other occurrence's token range is removed; gate proves the
    // reassembled text hash, not just the counts
    "d_span_strip" -> ((s, dir) =>
      Dedup.spanStrip(Tables.documents(s, dir), SpanW)
        .orderBy("doc_id")),

    // D18 at maximal granularity: overlapping marked w-windows merge
    // into gaps-and-islands covered ranges — each repeated passage
    // reported ONCE as (span_start, span_end, span_len); shares the
    // spanStrip election spine, so sum(span_len) per doc equals
    // d_span_strip's dropped_tokens
    "d_span_strip_maximal" -> ((s, dir) =>
      Dedup.spanStripMaximal(Tables.documents(s, dir), SpanW)
        .orderBy("doc_id", "span_start")),

    "d_semantic_dedup" -> ((s, dir) =>
      Ann.semanticDedup(Tables.embeddings(s, dir), SemDedupCosBp,
        kCells = 32).orderBy("vec_id")),

    // Large-K twin: the SemDeDup read path gated end-to-end at the K
    // regime its own kCells ∝ corpus rule prescribes (256 cells; the
    // L2 training side is a_kmeans_train_k256).
    "d_semantic_dedup_k256" -> ((s, dir) =>
      Ann.semanticDedup(Tables.embeddings(s, dir), SemDedupCosBp,
        kCells = 256).orderBy("vec_id")),

    "a_knn_bruteforce" -> ((s, dir) =>
      Ann.knnBruteForce(Tables.embeddings(s, dir), KnnQueries, 5)
        .orderBy("q_id", "rnk")),

    "a_knn_lsh" -> ((s, dir) =>
      Ann.knnLsh(Tables.embeddings(s, dir), KnnQueries, 3)
        .orderBy("q_id", "rnk")),

    // A16: JL sparse random projection — the UNTRAINED
    // dimensionality-reduction rung of the ANN ladder (PQ/SQ8 shrink
    // bytes per component; this removes components): stage 1 ranks by
    // projected cosine over the hash-derived 32-dim map (the
    // 2×-smaller scan a store materializes), stage 2 reranks the
    // shortK shortlist by exact full-dim cosine, so scores are always
    // true cosines
    "a_knn_rp" -> ((s, dir) =>
      Ann.knnRp(Tables.embeddings(s, dir), KnnQueries, 5)
        .orderBy("q_id", "rnk")),

    // A16 quality gate: the projected-only point (shortK = k) vs the
    // two-stage production point vs the rp→IVF composition, all on the
    // same recall@RecallK spine — rerank must recover what projection
    // loses
    "a_knn_rp_recall" -> ((s, dir) =>
      Ann.annRecallRp(Tables.embeddings(s, dir), KnnQueries, RecallK)
        .orderBy("method")),

    // A16 composition gate: the scaladoc's "a projected vector can
    // itself be IVF-celled" claim as executed code — k-means trains on
    // the 32-dim projected vectors, cell assignment / probe ranking /
    // per-cell shortlist all run in projected space, exact full-dim
    // rerank to k (IVF bounds the scan, JL halves its bytes)
    "a_knn_rp_ivf" -> ((s, dir) =>
      Ann.knnRpIvf(Tables.embeddings(s, dir), KnnQueries, 5)
        .orderBy("q_id", "rnk")),

    "a_knn_ivf" -> ((s, dir) =>
      Ann.knnIvf(Tables.embeddings(s, dir), KnnQueries, 3)
        .orderBy("q_id", "rnk")),

    "a_knn_ivf_probe2" -> ((s, dir) =>
      Ann.knnIvf(Tables.embeddings(s, dir), KnnQueries, 3, probes = 2)
        .orderBy("q_id", "rnk")),

    // A5→A3: IVF over the TRAINED k-means cell set (K=const) — the
    // 100 TB shape, vs the stride-derived baseline above whose K grows
    // with the corpus
    "a_knn_ivf_trained" -> ((s, dir) =>
      Ann.knnIvfTrained(Tables.embeddings(s, dir), KnnQueries, 3)
        .orderBy("q_id", "rnk")),

    // A7: int8 scalar quantization (4x embedding compression) + ANN
    // over the quantized codes — integer dots, scale-free by cosine
    // invariance
    "a_int8_quantize" -> ((s, dir) =>
      Ann.int8QuantAudit(Tables.embeddings(s, dir)).orderBy("vec_id")),

    "a_knn_quantized" -> ((s, dir) =>
      Ann.knnQuantized(Tables.embeddings(s, dir), KnnQueries, 5)
        .orderBy("q_id", "rnk")),

    // A8: product quantization — per-subspace codebooks, 12-bit codes
    // with exact integer reconstruction error, and ADC top-k (distance
    // tables + lookups, never per-pair dots)
    "a_pq_codes" -> ((s, dir) =>
      Ann.pqCodes(Tables.embeddings(s, dir)).orderBy("vec_id")),

    "a_knn_pq" -> ((s, dir) =>
      Ann.knnPq(Tables.embeddings(s, dir), KnnQueries, 5)
        .orderBy("q_id", "rnk")),

    // A8 under the OPQ question (Ge et al. 2013): PQ in a learned
    // variance-balanced permuted space — the gated measurement that
    // settles whether subspace rebalance moves recall on this
    // margin-thin corpus (the knn_pq_opq row of a_ann_recall_tuned
    // carries the verdict next to the plain-PQ rows)
    "a_knn_opq" -> ((s, dir) =>
      Ann.knnPqOpq(Tables.embeddings(s, dir), KnnQueries, 5)
        .orderBy("q_id", "rnk")),

    // A9: IVFADC — trained coarse cells (A3/A5) × residual product
    // quantization (A8): IVF bounds the scan (probes/kCells of the
    // corpus per query), PQ bounds the bytes (12-bit codes); ADC
    // tables are per-(query, probed-cell) against the query's residual
    "a_knn_ivfpq" -> ((s, dir) =>
      Ann.knnIvfPq(Tables.embeddings(s, dir), KnnQueries, 5, probes = 2)
        .orderBy("q_id", "rnk")),

    // A8/A9 refine stage (IVFADC-R, Jégou et al. 2011 §VI): ADC ranks
    // a k·refine shortlist from the 12-bit codes (unchanged scan
    // bound), then the shortlist's full-precision vectors rerank it by
    // exact cosine — the standard remedy for PQ reconstruction noise,
    // measured lifting IVFADC to int8-class recall (a_ann_recall_tuned)
    "a_knn_pq_rerank" -> ((s, dir) =>
      Ann.knnPqRefined(Tables.embeddings(s, dir), KnnQueries, 5)
        .orderBy("q_id", "rnk")),

    "a_knn_ivfpq_rerank" -> ((s, dir) =>
      Ann.knnIvfPqRefined(Tables.embeddings(s, dir), KnnQueries, 5)
        .orderBy("q_id", "rnk")),

    // A12: IVF-SQ8 — trained coarse cells storing int8 codes (the
    // FAISS IVF,SQ8 shape): the shippable default on margin-thin
    // corpora, pairing the IVF scan bound with the one compression
    // whose noise is measured sub-margin (int8 98% vs PQ 27% recall)
    "a_knn_ivfsq" -> ((s, dir) =>
      Ann.knnIvfSq(Tables.embeddings(s, dir), KnnQueries, 5)
        .orderBy("q_id", "rnk")),

    // A11: cell-balance observability for the trained IVF family —
    // the number the 1/kCells probe bound rests on (a hot cell
    // silently degrades scan bound and recall)
    "a_cell_balance" -> ((s, dir) =>
      Ann.cellBalance(Tables.embeddings(s, dir))
        .orderBy("cell")),

    // A-family quality gate: recall@RecallK of every approximate
    // method vs brute-force ground truth, integer basis points — the
    // rows ARE the recall table (engine-equivalence per method is
    // proved by the individual gates; this measures how good each
    // approximation is)
    "a_ann_recall" -> ((s, dir) =>
      Ann.annRecall(Tables.embeddings(s, dir), KnnQueries, RecallK)
        .orderBy("method")),

    // the knob-response twin: each lossy method's accuracy knob turned
    // one step (4-plane LSH, probe-2 IVF, 4-bit PQ, probe-4 IVFADC) —
    // together the two recall tables are a measured curve showing
    // recall RISES with the documented scan/byte knobs
    "a_ann_recall_tuned" -> ((s, dir) =>
      Ann.annRecallTuned(Tables.embeddings(s, dir), KnnQueries, RecallK)
        .orderBy("method")),

    // sampled-truth recall — the harness scale path: exact truth only
    // for a hash-elected query subset (the recall table's only
    // corpus×queries term), methods measured on the same subset;
    // exact rows above stay the gold gate
    "a_ann_recall_sampled" -> ((s, dir) =>
      Ann.annRecallSampled(Tables.embeddings(s, dir), KnnQueries, RecallK)
        .orderBy("method")),

    // A15: hybrid retrieval — idf-weighted lexical overlap + exact
    // cosine, fused by Reciprocal Rank Fusion (integer-exact: idf
    // surrogate 1e6 div df, RRF terms 1e12 div (60+rank) — no floats,
    // bit-portable ranking); the production RAG/curation request
    // neither leg serves alone
    "a_hybrid_search" -> ((s, dir) =>
      HybridSearch.hybridTopK(Tables.documents(s, dir),
        Tables.embeddings(s, dir), KnnQueries, 10)
        .orderBy("q_id", "rnk")),

    // A15 at corpus scale: the vector leg swapped for trained IVF
    // (probe-bounded scan). Ranks differ from the brute-force leg —
    // IVF sees only probed cells — so the fused output needs its own
    // oracle (the DuckDB side replays the same Lloyd's chain and
    // probe ranking the a_knn_ivf_trained gate already proves)
    "a_hybrid_search_ivf" -> ((s, dir) =>
      HybridSearch.hybridTopKIvf(Tables.documents(s, dir),
        Tables.embeddings(s, dir), KnnQueries, 10)
        .orderBy("q_id", "rnk")),

    // A14 over the compressed layout: filtered IVFADC — coarse model
    // and PQ codebooks stay full-corpus, only the code scan is
    // restricted to matching rows (predicate pushed to the source)
    "a_knn_ivfpq_filtered" -> ((s, dir) =>
      Ann.knnIvfPqFiltered(Tables.embeddings(s, dir), KnnQueries, 5,
        col("label") === 7, probes = 2)
        .orderBy("q_id", "rnk")),

    // A14 escalation on the PQ layout — the last filtered operator to
    // get the escalated twin: queries whose matching CODE pool inside
    // the base probe tier is < k re-rank at full cell coverage
    // (count-only pass decides per query; the escalated scan still
    // touches only codes), guaranteeing min(k, matching-pool) rows;
    // probes = 1 at the ~10% selectivity so escalation genuinely fires
    "a_knn_ivfpq_filtered_escalated" -> ((s, dir) =>
      Ann.knnIvfPqFilteredEscalated(Tables.embeddings(s, dir),
        KnnQueries, 5, col("label") === 7, probes = 1)
        .orderBy("q_id", "rnk")),

    // A14: filtered (attribute-constrained) vector search — "top-k
    // WHERE label = 7": the predicate prunes the candidate SCAN
    // (pushed to parquet), never the finished top-k (a post-filter
    // silently under-returns); the model stays full-corpus so one
    // index serves every filter
    "a_knn_filtered" -> ((s, dir) =>
      Ann.knnIvfTrainedFiltered(Tables.embeddings(s, dir), KnnQueries, 3,
        col("label") === 7, probes = 2)
        .orderBy("q_id", "rnk")),

    // A14 escalation: the under-return fix — queries whose matching
    // pool inside the base probe tier is < k re-scan at full cell
    // coverage (count pass decides per query, request-scale
    // broadcast), guaranteeing exactly min(k, matching-pool) rows;
    // probes = 1 at the ~10% selectivity so escalation genuinely
    // fires on dry queries
    "a_knn_filtered_escalated" -> ((s, dir) =>
      Ann.knnIvfTrainedFilteredEscalated(Tables.embeddings(s, dir),
        KnnQueries, 3, col("label") === 7, probes = 1)
        .orderBy("q_id", "rnk")),

    // the exact filtered truth (brute force over the matching corpus)
    // at the ~50% selectivity — both selectivity shapes gated
    "a_knn_filtered_truth" -> ((s, dir) =>
      Ann.knnBruteForceFiltered(Tables.embeddings(s, dir), KnnQueries, 3,
        col("label") < 5)
        .orderBy("q_id", "rnk")),

    // filtered recall@k vs the FILTERED truth at two selectivities ×
    // two probe budgets: the measured cost of serving filters from one
    // full-corpus model (lower selectivity starves probed cells of
    // matching rows; more probes buys the recall back)
    "a_knn_filtered_recall" -> ((s, dir) =>
      Ann.annRecallFiltered(Tables.embeddings(s, dir), KnnQueries, RecallK,
        Seq("sel10" -> (col("label") === 7), "sel50" -> (col("label") < 5)))
        .orderBy("sel", "method")),

    "t_top_tokens" -> ((s, dir) =>
      TextAnalysis.topTokens(Tables.documents(s, dir), 20)
        .orderBy(col("n_occurrences").desc, col("tok"))),

    "e_label_centroids" -> ((s, dir) =>
      Ann.labelCentroidStats(Tables.embeddings(s, dir)).orderBy("label")),

    "t_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir)).orderBy("doc_id")),

    // T16: per-source quality report card — composition (P9), dup
    // share (D16), and now QUALITY close the per-source observability
    // trio: which sources to downweight, decided before any doc drops
    "t_source_quality" -> ((s, dir) =>
      TextAnalysis.sourceQuality(Tables.documents(s, dir))
        .orderBy("source")),

    "t_quality_score" -> ((s, dir) =>
      TextAnalysis.qualityScore(Tables.documents(s, dir)).orderBy("doc_id")),

    "t_token_count" -> ((s, dir) =>
      TextAnalysis.tokenCount(Tables.documents(s, dir)).orderBy("doc_id")),

    // T18: tokenizer-TRUE token counts — real BPE merges (repo-trained
    // GPT-2-format table) next to the whitespace proxy; the oracle
    // replays the same greedy merge loop as a recursive CTE over the
    // word vocabulary, so the cross-engine gate covers the tokenizer
    // itself, not just a regex
    "t_token_count_bpe" -> ((s, dir) =>
      TextAnalysis.tokenCountBpe(Tables.documents(s, dir)).orderBy("doc_id")),

    // T19: distributed BPE TRAINING — the first BpeTrainN merges
    // trained over this corpus' word multiset (words + doc_id
    // numerals, TrainBpe's exact units), argmax chain verified
    // cross-engine by generated iteration CTEs over the same
    // double-space symbol-string representation
    "t_bpe_train" -> ((s, dir) =>
      BpeTrainer.trainMerges(Tables.documents(s, dir), BpeTrainN)
        .orderBy("rank")),

    // T18 at production table shape: the BYTE-LEVEL tokenizer (GPT-2
    // byte encoder — identity on this printable-ASCII corpus, the
    // non-identity half spec-pinned) over the id+text stream, firing
    // the trained digit merges the prose vocabulary never touches
    "t_token_count_bpe_prod" -> ((s, dir) =>
      TextAnalysis.tokenCountBpeProd(Tables.documents(s, dir))
        .orderBy("doc_id")),

    // T20: per-language tokenizer-fit report — fertility (BPE tokens
    // per 100 whitespace words) and compression (chars per 100 BPE
    // tokens) per language: the table a multilingual pipeline reads
    // before fixing a vocabulary or a mixture. One codegen projection
    // + one language-cardinality groupBy; exact integer ratios
    "t_tokenizer_fit" -> ((s, dir) =>
      TextAnalysis.tokenizerFit(Tables.documents(s, dir)).orderBy("lang")),

    // T20 knob response: the SAME report at a 40x-smaller vocabulary
    // (first 50 of 2000 merges — a GPT-2-format table truncates by
    // rank) — per-language fertility must move with the vocabulary
    // knob or the report isn't measuring it. Depth 50 sits below the
    // saturation point: this corpus's prose vocabulary is fully
    // merged (fertility = 100, one token per word, all languages) by
    // ~rank 100, so the production table and any truncation above
    // 100 read identically — the knob response lives in the
    // under-trained regime (measured: 312/228/142/100 mean fertility
    // at depths 25/50/75/100), which is exactly the regime the
    // report exists to detect
    "t_tokenizer_fit_d50" -> ((s, dir) =>
      TextAnalysis.tokenizerFit(Tables.documents(s, dir),
        graft.functions.Bpe.defaultTruncated(50)).orderBy("lang")),

    // P2 twin packed on BPE counts: the packing budget in the tokens
    // trainers actually consume
    "p_pack_sequences_bpe" -> ((s, dir) =>
      Curation.packSequences(Tables.documents(s, dir), budget = 256, shards = 8,
        tokens = TextAnalysis.bpeTokens())
        .orderBy("shard", "seq_id")),

    // T18 completion: the SEQUENCES, not just the counts — token ids
    // through the table-derived vocabulary (base chars = code point,
    // merge r = 256+r), exploded to portable (doc_id, pos, token_id)
    // rows; the oracle splits the recursive-CTE fixpoint's symbol
    // string to the same ids in SQL
    "t_tokenize_ids" -> ((s, dir) =>
      TextAnalysis.tokenizeIds(Tables.documents(s, dir))
        .select(col("doc_id"), posexplode(col("ids")))
        .select(col("doc_id"), (col("pos") + 1).cast("int").as("pos"),
          col("col").as("token_id"))
        .orderBy("doc_id", "pos")),

    // P2 at trainer shape: packed sequences CARRYING their token-id
    // payload; the gate pins counts plus a position-weighted checksum
    // of the concatenated ids, so pack ORDER is hash-verified too
    "p_pack_sequences_ids" -> ((s, dir) =>
      Curation.packSequencesIds(Tables.documents(s, dir), budget = 256,
        shards = 8)
        .select(col("shard"), col("seq_id"), col("n_docs"), col("n_tokens"),
          expr("aggregate(transform(ids, (x, i) -> cast(x as bigint) * (i + 1)), " +
            "cast(0 as bigint), (a, b) -> a + b)").as("ids_checksum"))
        .orderBy("shard", "seq_id")),

    "t_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir)).orderBy("doc_id")),

    "t_sample_split" -> ((s, dir) =>
      TextAnalysis.sampleSplit(Tables.documents(s, dir)).orderBy("doc_id")),

    "t_tfidf_top_terms" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir))
        .orderBy("doc_id", "rnk")),

    "t_quota_sample" -> ((s, dir) =>
      TextAnalysis.quotaSample(Tables.documents(s, dir))
        .orderBy("source", "rnk")),

    // T17: DSIR-shaped importance selection — target = the corpus' own
    // 'en' stratum, integer-exact likelihood-ratio-surrogate weights
    // over 1024 hashed unigram+bigram buckets
    "t_dsir_select" -> ((s, dir) =>
      TextAnalysis.dsirSelect(Tables.documents(s, dir))
        .orderBy("doc_id")),

    // T21: learned quality classifier (FineWeb-Edu shape) — linear
    // Naive-Bayes-difference scorer over 1024 hashed n-gram buckets,
    // trained on the hash-elected stratum (driver weight vector),
    // served corpus-wide as one zero-shuffle projection
    "t_quality_model" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.qualityModelScore(docs,
        TextAnalysis.qualityModelTrain(docs)).orderBy("doc_id")
    }),

    // decontamination: docs with doc_id % 50 == 0 stand in for the
    // held-out benchmark set; flag training docs sharing >= 3 capped
    // shingles with any benchmark doc
    "d_contamination" -> ((s, dir) =>
      Dedup.contamination(Tables.documents(s, dir), col("doc_id") % 50 === 0)
        .orderBy("doc_id")),

    // D19 fuzzy decontamination: verified-Jaccard near-dup test
    // against the benchmark stratum (docs with doc_id % 10 == 7 stand
    // in — a wider stratum than d_contamination's so near-dup pairs
    // actually cross the split at sf0.01); bench band keys + shingles
    // broadcast, train side never self-joins
    "d_contamination_fuzzy" -> ((s, dir) =>
      Dedup.contaminationFuzzy(Tables.documents(s, dir),
        col("doc_id") % 10 === 7, NgramJaccardBp)
        .orderBy("doc_a", "doc_b")),

    // near-dup clusters: connected components over the minhash pair
    // graph; one keeper (min doc_id) per cluster, singletons kept
    "d_dedup_clusters" -> ((s, dir) =>
      Dedup.dedupClusters(Tables.documents(s, dir), NgramJaccardBp)
        .orderBy("doc_id")),

    // D16: per-source dedup observability — which sources produce the
    // near-duplicates (a high dup_bp source is re-crawling a mirror)
    "d_dedup_report" -> ((s, dir) =>
      Dedup.dedupReport(Tables.documents(s, dir), NgramJaccardBp)
        .orderBy("source")),

    "x_multimodal_features" -> ((s, dir) =>
      Multimodal.features(s, Tables.documents(s, dir)).toDF()
        .select("doc_id", "media_type", "width", "height", "pixel_rgb", "frames")
        .orderBy("doc_id")),

    "x_resize" -> ((s, dir) =>
      Multimodal.resized(s, Tables.documents(s, dir)).toDF()
        .select("doc_id", "width", "height", "pixel_rgb")
        .orderBy("doc_id")),

    "x_frame_sample" -> ((s, dir) =>
      Multimodal.frameSamples(s, Tables.documents(s, dir))
        .orderBy("doc_id", "frame_idx")),

    "x_audio_resample" -> ((s, dir) =>
      Multimodal.resampledAudio(s, Tables.documents(s, dir)).toDF()
        .select("doc_id", "width", "height", "pixel_rgb", "frames")
        .orderBy("doc_id")),

    // Flagship composition: quality gate → language filter → near-dup
    // keepers → decontamination → deterministic split, all from the
    // engine's own operators (thresholds mirror the per-stage queries).
    "p_curated_corpus" -> ((s, dir) =>
      Pipelines.curatedCorpus(Tables.documents(s, dir), minQuality = 75,
          langs = Seq("en"), minJaccardBp = NgramJaccardBp,
          isBenchmark = col("doc_id") % 50 === 0)
        .orderBy("doc_id")),

    // P4: the pipeline's lineage report — every doc attributed to the
    // first stage that rejects it (same thresholds as p_curated_corpus)
    "p_curation_audit" -> ((s, dir) =>
      Pipelines.curationAudit(Tables.documents(s, dir), minQuality = 75,
          langs = Seq("en"), minJaccardBp = NgramJaccardBp,
          isBenchmark = col("doc_id") % 50 === 0)
        .orderBy("fate")),

    "t_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(Tables.documents(s, dir)).orderBy("doc_id")),

    "t_perplexity_proxy" -> ((s, dir) =>
      TextAnalysis.perplexityProxy(Tables.documents(s, dir)).orderBy("doc_id")),

    // T14: deterministic KMV distinct-token sketch per language + the
    // corpus-wide merge — exact-match-checkable, unlike HLL
    "t_kmv_distinct" -> ((s, dir) =>
      Sketch.kmvDistinctTokens(Tables.documents(s, dir)).orderBy("grp")),

    // T15a: the Count-Min frequency sketch itself — a LINEAR sketch,
    // so every cell is a pure function of the data and the gate
    // hash-verifies the whole mergeable object bit-for-bit
    "t_cms_sketch" -> ((s, dir) =>
      Sketch.cmsSketch(Tables.documents(s, dir))
        .orderBy("hash_id", "bucket")),

    // T15b: heavy hitters through the sketch (est = min over rows;
    // guaranteed superset of true >=1%-share tokens) with the exact
    // audit columns inline
    "t_cms_heavy_hitters" -> ((s, dir) =>
      Sketch.heavyHittersCms(Tables.documents(s, dir)).orderBy("tok")),

    // T15c: PURE-SKETCH serving — arbitrary candidate tokens (here a
    // request-scale doc stratum's vocabulary) estimated with NO second
    // corpus pass and no exact token table: corpus work is the
    // bounded-shuffle sketch build, the estimate is a zero-shuffle
    // literal projection over the candidates
    "t_cms_estimate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Sketch.estimateCms(docs,
        TextAnalysis.tokens(docs.filter(col("doc_id") % 100 === 3))
          .select("tok"))
        .orderBy("tok")
    }),

    "p_pack_sequences" -> ((s, dir) =>
      Curation.packSequences(Tables.documents(s, dir), budget = 256, shards = 8)
        .orderBy("shard", "seq_id")),

    // P10: packing-efficiency audit — per-shard budget utilization,
    // overflow count, largest sequence (the report an operator reads
    // before shipping shards to trainers)
    "p_pack_audit" -> ((s, dir) =>
      Curation.packAudit(Tables.documents(s, dir), budget = 256, shards = 8)
        .orderBy("shard")),

    // P11: curriculum schedule — quality-banded phases with a
    // deterministic funnel-free within-phase order from (seed, doc_id)
    "p_curriculum" -> ((s, dir) =>
      Curation.curriculumSchedule(Tables.documents(s, dir))
        .orderBy("doc_id")),

    "t_mixture_resample" -> ((s, dir) =>
      Curation.mixtureResample(Tables.documents(s, dir)).orderBy("lang")),

    "t_mixture_resample_exact" -> ((s, dir) =>
      Curation.mixtureResampleExact(Tables.documents(s, dir)).orderBy("lang")),

    "d_incremental_dedup" -> ((s, dir) =>
      Curation.incrementalDedup(Tables.documents(s, dir), batchMod = 4)
        .orderBy("doc_id")),

    // D13: same semantics (and same oracle) as d_incremental_dedup,
    // but the corpus key set meets the batch as a broadcast Bloom
    // bitmap probe (pure projection); only Bloom-positive rows reach
    // the exact anti-join. Result-identical by construction — the
    // filter has no false negatives and the exact join eats the FPs.
    "d_bloom_dedup" -> ((s, dir) =>
      Curation.bloomGuardedDedup(Tables.documents(s, dir), batchMod = 4)
        .orderBy("doc_id")),

    // D15: directed containment pairs — src mostly inside dst (quotes,
    // partial copies) even when symmetric Jaccard is low
    "d_containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), ContainBp)
        .orderBy("doc_src", "doc_dst")),

    // D14: quality-aware keeper election — each near-dup cluster keeps
    // its highest-quality member (tie → min doc_id), not its min-id one
    "d_quality_keeper" -> ((s, dir) =>
      Dedup.qualityKeeper(Tables.documents(s, dir), NgramJaccardBp)
        .orderBy("doc_id")),

    // T21 ∘ D14: keeper election by the LEARNED quality score — the
    // trained classifier, not the hand rule, decides which near-dup
    // survives (tie → min doc_id)
    "d_model_keeper" -> ((s, dir) =>
      Dedup.modelKeeper(Tables.documents(s, dir), NgramJaccardBp)
        .orderBy("doc_id")),

    // P5: leakage-safe split — the split unit is the near-dup cluster,
    // so near-duplicates never straddle a train/eval boundary
    "p_cluster_split" -> ((s, dir) =>
      Curation.clusterSplit(Tables.documents(s, dir), NgramJaccardBp)
        .orderBy("doc_id")),

    // P6: deterministic global shuffle + shard assignment (two-level
    // prefix-sum ordinal, reproducible from (seed, doc_id) alone)
    "p_global_shuffle" -> ((s, dir) =>
      Curation.globalShuffle(Tables.documents(s, dir), nShards = 8)
        .orderBy("doc_id")),

    // P7: sliding-window chunking with stride (the long-doc half of
    // sequence prep; zero-shuffle explode)
    "p_chunk_overlap" -> ((s, dir) =>
      Curation.chunkOverlap(Tables.documents(s, dir), win = 16, stride = 8)
        .orderBy("doc_id", "chunk_idx")),

    // P9: dataset-card composition report — per (source, lang)
    // doc/token/char counts + integer-exact corpus shares
    "p_corpus_stats" -> ((s, dir) =>
      Curation.corpusStats(Tables.documents(s, dir))
        .orderBy("source", "lang")),

    // X5: image dedup over really-decoded content (perceptual-bucket
    // key: quantized mean color × /8 dims)
    "x_image_dedup" -> ((s, dir) =>
      Multimodal.imageDedup(s, Tables.documents(s, dir))
        .orderBy("doc_id")),

    // X5 at real pHash strength: 63-bit fixed-point DCT hash of the
    // genuinely decoded rasters, Hamming-banded dedup (8×8-bit bands
    // → exact bit_count verify ≤ tau); odd docs are re-encodes of
    // their even twin (drifted pixels, different raster type) and
    // must dedup, distinct seeds must not. tau=5 sits inside the
    // MEASURED margin on this corpus: twin distance ≤ 2 bits,
    // nearest cross-seed pair 8 bits (mean 31.6)
    "x_image_dedup_phash" -> ((s, dir) =>
      Multimodal.imageDedupPhash(s, Tables.documents(s, dir), tau = 5)
        .orderBy("doc_id")),

    // X6: video twin of X5 — coarser perceptual key over the decoded
    // frame pack (4-bit color, /8 dims, /4 frame count)
    "x_video_dedup" -> ((s, dir) =>
      Multimodal.videoDedup(s, Tables.documents(s, dir))
        .orderBy("doc_id")),

    // Q24: one-pass column-level table profile (rows/nulls/distincts/
    // min/max per column) over the widest fact table
    "q_column_profile" -> ((s, dir) =>
      Analytics.columnProfile(Tables.lineitem(s, dir))
        .orderBy("col_name")),

    // Q24's 100 TB default: approx distincts (HLL) fused into the ONE
    // count/min/max scan — no unpivot, no distinct shuffle. Rows-only
    // gate (HLL estimates are engine-specific); the error bound vs
    // the exact profile is spec-pinned (AnalyticsProfileSpec)
    "q_column_profile_approx" -> ((s, dir) =>
      Analytics.columnProfileApprox(Tables.lineitem(s, dir))
        .orderBy("col_name")),

    // the approx twins' HARD gates: in-engine error-bound audits
    // emitting oracle-hashable verdict rows (the bound crosses
    // engines; the sketch never does) — the two 100 TB defaults now
    // have red-able correctness gates, not just rows-only checks
    "q_value_quantiles_audit" -> ((s, dir) =>
      Analytics.valueQuantilesAudit(s, dir).orderBy("event_type", "q")),

    "q_column_profile_audit" -> ((s, dir) =>
      Analytics.columnProfileAudit(Tables.lineitem(s, dir))
        .orderBy("col_name")),

    "a_kmeans_train" -> ((s, dir) =>
      Ann.kmeansTrain(Tables.embeddings(s, dir), k = 8, iterations = 2)
        .orderBy("cluster")),

    // Deeper-loop variant: proves the constant-plan-depth claim end to
    // end (wall-time linear in iterations, oracle unrolled to match).
    "a_kmeans_train_iter10" -> ((s, dir) =>
      Ann.kmeansTrain(Tables.embeddings(s, dir), k = 8, iterations = 10)
        .orderBy("cluster")),

    // Large-K variant: k·dims = 16384 exceeds the literal-inlining
    // bound, so every assignment pass (training AND final) rides the
    // broadcast CentroidMatrix expression — the SemDeDup-scale path
    // (kCells ∝ corpus) gated against the same unrolled Lloyd oracle.
    "a_kmeans_train_k256" -> ((s, dir) =>
      Ann.kmeansTrain(Tables.embeddings(s, dir), k = 256, iterations = 2)
        .orderBy("cluster")),

    "a_cluster_profile" -> ((s, dir) =>
      Ann.kmeansProfile(Tables.embeddings(s, dir), k = 8, iterations = 2)
        .orderBy("cluster")),

    // Production incremental-dedup path: corpus keys ingested into a
    // durable FsKeyIndex (batch 1), then the new batch dedups against
    // the INDEX (batch 2). Same semantics — and same oracle — as
    // d_incremental_dedup, which rescans the corpus side instead.
    "d_incremental_dedup_indexed" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isNew = graft.functions.Portable
        .hexHash20(col("doc_id").cast("string")) % 4 === 0
      val root = java.nio.file.Files
        .createTempDirectory("graft-keyidx-").toAbsolutePath.toString
      val idx = graft.sources.FsKeyIndex(s, root)
      Curation.incrementalDedupIndexed(docs.filter(!isNew), idx)
      val out = Curation.incrementalDedupIndexed(docs.filter(isNew), idx)
        .orderBy("doc_id")
      // the result is localCheckpointed and no longer reads the index;
      // drop the temp dir now (bench re-runs this query several times —
      // leaked index dirs would accumulate across runs)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(root))
      out
    }),

    // Line-level dedup (C4/Dolma-style): the corpus has no newlines,
    // so "lines" are fixed 3-token windows of the normalized text —
    // constructed identically in the oracle, so duplicate and
    // boilerplate structure is real at both sf0.01 and sf0.1.
    "d_line_dedup" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          split(graft.functions.Portable.normText(col("text")), " ").as("w"))
        .withColumn("nw", expr(s"size(w) div $LineDedupK"))
      // sequence(0, nw-1) is DESCENDING when nw=0 — guard to empty.
      val lines = toks.select(col("doc_id"), posexplode(
          when(col("nw") > 0, transform(sequence(lit(0), col("nw") - 1),
            i => array_join(
              slice(col("w"), i * LineDedupK + 1, lit(LineDedupK)), " ")))
            .otherwise(array().cast("array<string>"))))
        .toDF("doc_id", "pos", "line")
      Dedup.lineDedup(lines, LineBoilerMax).orderBy("doc_id")
    }),

    // PII scrub: the synthetic corpus carries no digits or '@', so a
    // deterministic doc_id-derived PII suffix (emails on even ids, a
    // phone always, IPs on id%3=0, a second phone on id%5=0) is
    // appended identically in the oracle — zero/one/many matches per
    // class are all exercised.
    "t_pii_redact" -> ((s, dir) => {
      val id = col("doc_id")
      val synth = concat(
        col("text"),
        when(id % 2 === 0, concat(lit(" contact user"),
          id.cast("string"), lit("@example.com"))).otherwise(lit("")),
        lit(" call 555-"),
        lpad(((id * 7) % 10000).cast("string"), 4, "0"),
        when(id % 3 === 0, concat(lit(" from 10."),
          (id % 250).cast("string"), lit(".0."),
          ((id * 3) % 250).cast("string"))).otherwise(lit("")),
        when(id % 5 === 0, concat(lit(" alt 555-"),
          lpad(((id * 11) % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")))
      TextAnalysis.piiRedact(
        Tables.documents(s, dir).select(col("doc_id"), synth.as("text")))
        .orderBy("doc_id")
    }),
  )

  /** Thresholds shared with the oracles (basis points / bits). */
  val NgramJaccardBp = 5000L

  /** Containment threshold for `d_containment_pairs`: 80% of the
    * source inside the destination — the "mostly contained" regime the
    * operator exists for. Also the perf-relevant knob: the containment
    * prefix is |x| − ⌈t·|x|⌉ + 1, so t = 0.8 probes with 1/5 of each
    * doc's shingles where t = 0.5 would probe with half (measured 20 s
    * → ~2 s at sf0.1; the spec still pins prefix == exhaustive at the
    * harsher t = 0.5).
    */
  val ContainBp = 8000L
  val SimhashMaxHamming = 1
  val EmbedDedupCosBp = 4000L
  /** SemDeDup keep-first threshold (same near-dup band as
    * [[EmbedDedupCosBp]]: the corpus' planted duplicates sit at
    * cos ≈ 0.4+, organic pairs well below).
    */
  val SemDedupCosBp = 4000L
  /** Repeated-span window width in tokens (the substring-dedup scale;
    * Lee et al. use 50 BPE tokens — 8 whitespace tokens is the same
    * order on this corpus' short synthetic docs).
    */
  val SpanW = 8
  val KnnQueries = 10
  /** Result depth for the a_ann_recall quality gate (recall@10 — the
    * figure ANN papers and users quote first).
    */
  val RecallK = 10
  /** Line-dedup window width (tokens) and the C4-style boilerplate
    * occurrence cap (> cap ⇒ dropped everywhere).
    */
  val LineDedupK = 3
  val LineBoilerMax = 4L

  // ------------------------------------------------------------------
  // DuckDB oracles. Every fragment two oracles share is written once
  // below, as a private builder whose scaladoc names the Spark helper
  // it mirrors; the oracles compose those builders and keep only the
  // SQL that is their own.
  // ------------------------------------------------------------------

  private val MsgCte = MessageFraming.sqlCte()

  private val SegCte =
    s"""segs AS (
       |  SELECT part_id, (msg_offset // $SegMaxMessages)::BIGINT AS seg_seq,
       |         min(msg_offset) AS start_offset, max(msg_offset) AS end_offset,
       |         count(*)::BIGINT AS message_count, sum(msg_size)::BIGINT AS seg_bytes,
       |         0::INT AS level
       |  FROM messages GROUP BY 1, 2
       |)""".stripMargin

  private val PresentSegCte =
    s"""present AS (SELECT * FROM segs WHERE seg_seq % $DropSegMod <> $DropSegRem)"""

  private val CkptCte =
    s"""ckpt AS (
       |  SELECT part_id, max(end_offset) AS ckpt_offset FROM segs
       |  WHERE seg_seq < $CkptSegs AND message_count = $SegMaxMessages
       |  GROUP BY part_id
       |)""".stripMargin

  /** Each segment of `src` with the running max of the earlier end
    * offsets (mirrors graft.operators.Coverage).
    */
  private def prevEndCte(src: String) =
    s"""g AS (
       |  SELECT part_id, start_offset,
       |         max(end_offset) OVER (PARTITION BY part_id ORDER BY start_offset, end_offset
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM $src
       |)""".stripMargin

  /** The offset ranges no segment of `src` covers (mirrors
    * GapDetector.lostRanges).
    */
  private def lostRangesSql(src: String) =
    s"""${prevEndCte(src)}
       |SELECT part_id, prev_end + 1 AS lost_start, start_offset - 1 AS lost_end,
       |       start_offset - prev_end - 1 AS lost_count
       |FROM g WHERE prev_end IS NOT NULL AND start_offset > prev_end + 1
       |ORDER BY part_id, lost_start""".stripMargin

  private val PlanCte =
    s"""plan_src AS (
       |  SELECT part_id, start_offset, end_offset, message_count, seg_bytes FROM (
       |    SELECT *, sum(CASE WHEN prev_end IS NOT NULL AND start_offset > prev_end + 1
       |                       THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY part_id ORDER BY start_offset, end_offset
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gaps_so_far
       |    FROM (
       |      SELECT *, max(end_offset) OVER (PARTITION BY part_id ORDER BY start_offset, end_offset
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |      FROM segs WHERE level = 0
       |    )
       |  ) WHERE gaps_so_far = 0
       |),
       |plan AS (
       |  SELECT part_id, bin, count(*)::BIGINT AS input_segments,
       |         min(start_offset) AS start_offset, max(end_offset) AS end_offset,
       |         sum(message_count)::BIGINT AS message_count,
       |         sum(seg_bytes)::BIGINT AS seg_bytes, 1::INT AS level
       |  FROM (
       |    SELECT *, ((row_number() OVER (PARTITION BY part_id ORDER BY start_offset) - 1)
       |               // $CompactMaxSegs)::BIGINT AS bin
       |    FROM plan_src
       |  ) GROUP BY 1, 2
       |  HAVING count(*) >= $CompactMinSegs
       |)""".stripMargin

  /** Normalized text + distinct 8-shingles + tokens (mirrors
    * Portable.normText / Dedup.shingleTable / TextAnalysis.tokens).
    */
  /** The checked-in merge table as inline VALUES rows (rank, a, b) —
    * the oracle carries the SAME table the engine's expression ships,
    * read from the same resource, so the two sides cannot drift.
    */
  private lazy val BpeMergesValues: String =
    graft.functions.BpeMergesData.lines.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .zipWithIndex.map { case (l, i) =>
        val Array(a, b) = l.split(" ", 2)
        // tokens are interpolated into single-quoted SQL literals and
        // chr(31)-delimited oracle strings: a quote would break the
        // VALUES list and a unit separator would corrupt the boundary
        // anchors, so fail loudly on a table that carries either
        require(!a.contains('\'') && !b.contains('\''),
          s"merge token with quote at rank $i: '$l'")
        require(!a.contains('\u001f') && !b.contains('\u001f'),
          s"merge token with unit separator at rank $i")
        s"($i, '$a', '$b')"
      }.mkString(", ")

  /** Word-vocabulary BPE chain (requires a source CTE `src(doc_id,
    * t)` and WITH RECURSIVE in scope): greedy merge loop per DISTINCT
    * word via boundary-anchored replace, ending in
    * `bpedoc(doc_id, bpe_tokens)`.
    */
  private def bpeTokCteOver(src: String,
      depth: Int = Int.MaxValue) =
    s"""words AS (
       |  SELECT doc_id, w, count(*)::BIGINT AS m
       |  FROM (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM $src) u
       |  WHERE w <> '' GROUP BY doc_id, w
       |),
       |vocab AS (SELECT DISTINCT w FROM words),
       |merges(rnk, a, b) AS (SELECT * FROM (VALUES $BpeMergesValues) v(rnk, a, b)
       |  ${if (depth == Int.MaxValue) "" else s"WHERE rnk < $depth"}),
       |bpe(w, s, it) AS (
       |  SELECT w, chr(31) || array_to_string(string_split(w, ''), chr(31)) || chr(31), 0
       |  FROM vocab
       |  UNION ALL
       |  SELECT st.w,
       |         replace(st.s, chr(31)||bp.a||chr(31)||bp.b||chr(31),
       |                 chr(31)||bp.a||bp.b||chr(31)),
       |         st.it + 1
       |  FROM bpe st JOIN merges bp ON bp.rnk = (
       |    SELECT min(m2.rnk) FROM merges m2
       |    WHERE contains(st.s, chr(31)||m2.a||chr(31)||m2.b||chr(31)))
       |),
       |fin AS (
       |  SELECT w, s FROM (
       |    SELECT w, s, row_number() OVER (PARTITION BY w ORDER BY it DESC) AS rn
       |    FROM bpe) f WHERE rn = 1
       |),
       |tok AS (
       |  SELECT w, (strlen(s) - strlen(replace(s, chr(31), '')) - 1)::BIGINT AS ntok
       |  FROM fin
       |),
       |bpedoc AS (
       |  SELECT n.doc_id, coalesce(sum(words.m * tok.ntok), 0)::BIGINT AS bpe_tokens
       |  FROM $src n
       |  LEFT JOIN words ON n.doc_id = words.doc_id
       |  LEFT JOIN tok ON words.w = tok.w
       |  GROUP BY n.doc_id
       |)""".stripMargin

  private lazy val BpeTokCte = bpeTokCteOver("norm")

  /** Per-language tokenizer fit (fertility, chars per token) over the
    * BPE chain `bpe` (mirrors TextAnalysis.tokenizerFit).
    */
  private def tokenizerFitSql(bpe: String) =
    s"""WITH RECURSIVE $NormCte, $bpe
       |SELECT d.lang, count(*)::BIGINT AS n_docs,
       |       sum(d.n_chars)::BIGINT AS n_chars,
       |       sum(len(string_split(n.t, ' ')))::BIGINT AS ws_tokens,
       |       sum(b.bpe_tokens)::BIGINT AS bpe_tokens,
       |       (CASE WHEN sum(len(string_split(n.t, ' '))) = 0 THEN NULL
       |        ELSE sum(b.bpe_tokens) * 100 // sum(len(string_split(n.t, ' '))) END)::BIGINT
       |         AS fertility_pct,
       |       (CASE WHEN sum(b.bpe_tokens) = 0 THEN NULL
       |        ELSE sum(d.n_chars) * 100 // sum(b.bpe_tokens) END)::BIGINT
       |         AS chars_per_tok_pct
       |FROM documents d JOIN norm n USING (doc_id) JOIN bpedoc b USING (doc_id)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** Token-ID chain over the BPE fixpoint (requires [[BpeTokCte]]'s
    * `fin(w, s)` + `merges` in scope): split each word's terminal
    * symbol string to ordered symbols, map symbols to vocabulary ids
    * (single char → code point; composite → 256 + first producing
    * rank — the engine's `BpeTable.idOf` exactly), and re-anchor
    * per-word ids to document word positions. Ends in
    * `docseq(doc_id, pos, token_id)` — the full per-document id
    * sequence, 1-based positions.
    */
  private lazy val BpeIdsCte =
    """vocabids AS (
      |  SELECT a || b AS sym, min(256 + rnk)::INT AS id FROM merges GROUP BY 1
      |),
      |wsym AS (
      |  SELECT w, unnest(syms) AS sym,
      |         unnest(range(1, len(syms) + 1)) AS spos
      |  FROM (SELECT w, list_filter(string_split(s, chr(31)), x -> x <> '') AS syms
      |        FROM fin) f
      |),
      |wid AS (
      |  SELECT wsym.w, wsym.spos,
      |         (CASE WHEN strlen(wsym.sym) = 1 THEN ascii(wsym.sym)
      |               ELSE v.id END)::INT AS token_id
      |  FROM wsym LEFT JOIN vocabids v ON wsym.sym = v.sym
      |),
      |wordpos AS (
      |  SELECT doc_id, unnest(string_split(t, ' ')) AS w,
      |         unnest(range(1, len(string_split(t, ' ')) + 1)) AS wpos
      |  FROM norm
      |),
      |docseq AS (
      |  SELECT p.doc_id,
      |         (row_number() OVER (PARTITION BY p.doc_id
      |            ORDER BY p.wpos, i.spos))::INT AS pos,
      |         i.token_id
      |  FROM wordpos p JOIN wid i ON p.w = i.w
      |  WHERE p.w <> ''
      |)""".stripMargin

  /** The production-gate token stream: doc_id numerals + raw text —
    * the id numerals make the trained digit merges FIRE (the prose
    * vocabulary alone exercises ~90 of the 2000 rules); raw text is
    * printable-ASCII on this corpus, where the engine-side GPT-2 byte
    * encoder is the identity, so this char-level replay is exact.
    */
  private val BpeProdSrcCte =
    """prodsrc AS (
      |  SELECT doc_id, doc_id::VARCHAR || ' ' || text AS t FROM documents
      |)""".stripMargin

  private val NormCte =
    """norm AS (
      |  SELECT doc_id, lang, n_chars, text,
      |         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |              ' +', ' ', 'g')) AS t
      |  FROM documents
      |)""".stripMargin

  /** Raw shingles + the df cap (mirrors Dedup.cappedShingles: shingles
    * in more than 1/20 of the corpus leave the similarity universe).
    */
  private val ShCte =
    """sh0 AS (
      |  SELECT DISTINCT doc_id, s
      |  FROM (SELECT doc_id, t FROM norm WHERE length(t) >= 8) n,
      |       unnest(list_transform(range(1, length(n.t) - 6),
      |              i -> substr(n.t, i::INT, 8))) u(s)
      |),
      |shh AS (
      |  SELECT doc_id, ('0x' || substr(md5(s),1,15))::BIGINT AS h FROM sh0
      |),
      |rare AS (
      |  SELECT h FROM shh GROUP BY h
      |  HAVING count(*) * 20 <= (SELECT count(*) FROM documents)
      |),
      |sh AS (SELECT shh.doc_id, shh.h FROM shh JOIN rare USING (h))""".stripMargin

  private val TokCte =
    """tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM norm)""".stripMargin

  /** w-token rolling-window CTEs (`toks` + `wins`: doc_id, pos, h with
    * the poly hash mod 2^31−1 over 20-bit token hashes) — shared
    * verbatim by the `d_repeated_spans` (signal) and `d_span_strip`
    * (remedy) oracles so the two cannot drift. Assumes `norm` in scope.
    */
  private lazy val SpanWinsCtes =
    s"""toks AS (
       |  SELECT doc_id, list_transform(string_split(t, ' '),
       |                                x -> ${H20.format("x")}) AS th
       |  FROM norm
       |),
       |wins AS (
       |  SELECT doc_id,
       |    unnest(ps) AS pos,
       |    unnest(list_transform(ps, p ->
       |      list_reduce(list_prepend(0::BIGINT, list_slice(th, p+1, p+$SpanW)),
       |        (a,b) -> (a*31+b) % 2147483647))) AS h
       |  FROM (SELECT doc_id, th,
       |          list_transform(generate_series(0, len(th)-$SpanW), i -> i) AS ps
       |        FROM toks WHERE len(th) >= $SpanW)
       |)""".stripMargin

  /** The D18 election over `wins` (keeper = min packed (doc_id, pos);
    * every other occurrence of a corpus-repeated span is MARKED) plus
    * the covered-position explode — shared verbatim by the
    * `d_span_strip` and `d_span_strip_maximal` oracles so the strip
    * and the span report elect identically. Requires [[SpanWinsCtes]]
    * in scope; does NOT end in a comma.
    */
  private lazy val SpanMarkedCtes =
    s"""dup AS (
       |  SELECT h, count(*)::BIGINT AS n_occ,
       |         min(doc_id * 1048576 + pos)::BIGINT AS keeper
       |  FROM wins GROUP BY h
       |),
       |marked AS (
       |  SELECT w.doc_id, w.pos
       |  FROM wins w JOIN dup ON w.h = dup.h
       |  WHERE dup.n_occ > 1 AND w.doc_id * 1048576 + w.pos <> dup.keeper
       |),
       |covered AS (
       |  SELECT DISTINCT doc_id, pos + j AS p
       |  FROM marked, generate_series(0, ${SpanW - 1}) g(j)
       |)""".stripMargin

  /** The heuristic quality features over `norm` (mirrors
    * TextAnalysis.qualityScore's inputs): word count, letters,
    * stop-word hits, alphabetic and raw text length, plus the `carry`
    * columns.
    */
  private def qualityFeaturesCte(name: String, carry: String = "") =
    s"""$name AS (
       |  SELECT doc_id,$carry
       |    len(string_split(t, ' '))::BIGINT AS wc,
       |    length(replace(t, ' ', ''))::BIGINT AS letters,
       |    len(list_filter(string_split(t, ' '),
       |      x -> x IN ('the','a','and','of','to','in','is','on','for','with')))::BIGINT AS sw_hits,
       |    length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::BIGINT AS alpha_len,
       |    length(text)::BIGINT AS text_len
       |  FROM norm
       |)""".stripMargin

  /** The four-rule 0–100 heuristic score over [[qualityFeaturesCte]]'s
    * columns (mirrors TextAnalysis.qualityScore); `p` prefixes them.
    */
  private def sqlQualityScore(p: String = "") =
    s"""(CASE WHEN ${p}wc BETWEEN 20 AND 1000 THEN 25 ELSE 0 END
       |  + CASE WHEN (${p}letters * 10 // ${p}wc) BETWEEN 30 AND 100 THEN 25 ELSE 0 END
       |  + CASE WHEN ${p}sw_hits * 100 >= ${p}wc * 5 THEN 25 ELSE 0 END
       |  + CASE WHEN ${p}alpha_len * 100 >= ${p}text_len * 60 THEN 25 ELSE 0 END)""".stripMargin

  /** Marker-word hits per (doc, candidate language) over `tok`
    * (mirrors TextAnalysis.langId's marker table).
    */
  private val LangMarkerCtes =
    """markers(cand_lang, marker) AS (VALUES
      |  ('en','the'),('en','a'),('en','and'),('en','of'),
      |  ('de','der'),('de','und'),('de','das'),('de','die'),
      |  ('fr','le'),('fr','et'),('fr','la'),('fr','les'),
      |  ('es','el'),('es','y'),('es','los'),('es','de')),
      |hits AS (
      |  SELECT doc_id, cand_lang, count(*)::BIGINT AS n_hits
      |  FROM tok JOIN markers ON tok = marker GROUP BY 1, 2
      |)""".stripMargin

  /** The curation pipeline's stage CTEs (keepers / quality / langp /
    * contam / spl — mirrors Pipelines.curatedCorpus's per-stage
    * operators), shared by the `p_curated_corpus` and
    * `p_curation_audit` oracles so the two cannot drift apart.
    * Assumes `norm`, `sh`, and `reach` are already in scope (NormCte,
    * ShCte, ClusterCtes). Does NOT end in a comma.
    */
  private lazy val CurationStageCtes =
    s"""labels AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
       |keepers AS (SELECT doc_id FROM labels WHERE doc_id = cluster_id),
       |${qualityFeaturesCte("qm")},
       |quality AS (
       |  SELECT doc_id,
       |    ${sqlQualityScore()}::INT AS score
       |  FROM qm
       |),
       |$TokCte,
       |$LangMarkerCtes,
       |best AS (
       |  SELECT doc_id, cand_lang FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY n_hits DESC, cand_lang) AS rn
       |    FROM hits
       |  ) WHERE rn = 1
       |),
       |langp AS (
       |  SELECT d.doc_id, coalesce(b.cand_lang, 'und') AS pred_lang
       |  FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
       |),
       |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0),
       |contam AS (
       |  SELECT doc_id FROM sh
       |  WHERE doc_id % 50 <> 0 AND h IN (SELECT h FROM bench)
       |  GROUP BY doc_id HAVING count(*) >= 3
       |),
       |spl AS (
       |  SELECT doc_id,
       |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'validation'
       |         ELSE 'test' END AS split
       |  FROM (SELECT doc_id,
       |        (('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100) AS b
       |        FROM documents)
       |)""".stripMargin

  /** MinHash signature → band chain over `sh` (mirrors
    * Dedup.minhashSignatures and its band key): `params(hash_id, ha,
    * hb)` from the SAME Scala family the Spark side uses
    * (Dedup.hashParams), per-hash minima, and `rows` minima per band
    * combined by Dedup.bandKeyExpr. Ends at `banded`.
    */
  private def bandedCtes(bands: Int, rows: Int): String = {
    val params = Dedup.hashParams(bands * rows).zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    val mhs = (0 until rows)
      .map(r => s"min(CASE WHEN hash_id % $rows = $r THEN minhash END)")
    s"""params(hash_id, ha, hb) AS (VALUES $params),
       |sig AS (
       |  SELECT doc_id, hash_id,
       |         min((ha * (h % 1048576) + hb) % 1048573) AS minhash
       |  FROM sh, params GROUP BY doc_id, hash_id
       |),
       |banded AS (
       |  SELECT doc_id, (hash_id // $rows)::INT AS band,
       |         (${Dedup.bandKeyExpr(mhs)})::BIGINT AS band_key
       |  FROM sig GROUP BY doc_id, (hash_id // $rows)::INT
       |)""".stripMargin
  }

  private val SzCte = "sz AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY 1)"

  /** Band-collision candidates `cands(doc_a, doc_b)` (`pairPred`
    * narrows the pair side), the shingle counts `sz` and the
    * shared-shingle count `pairs` — the verify input of every MinHash
    * oracle (mirrors Dedup.sharedShingles). Requires `banded`.
    */
  private def candPairsCtes(pairPred: String = "AND x.doc_id < y.doc_id") =
    s"""cands AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.band_key = y.band_key $pairPred
       |),
       |$SzCte,
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS inter
       |  FROM cands c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
       |  GROUP BY 1, 2
       |)""".stripMargin

  /** The legacy 4-band × 2-row MinHash chain through `pairs`. */
  private lazy val MinhashCandCtes = s"${bandedCtes(4, 2)},\n${candPairsCtes()}"

  /** Exact Jaccard in basis points of each candidate pair, over
    * `pairs` and `sz` (mirrors Dedup's Jaccard filter).
    */
  private val JaccBpFrom =
    """round(p.inter * 10000.0 / (x.n_sh + y.n_sh - p.inter), 0)::BIGINT AS jacc_bp
      |  FROM pairs p JOIN sz x ON x.doc_id = p.doc_a JOIN sz y ON y.doc_id = p.doc_b""".stripMargin

  private lazy val VerifiedCte =
    s"""verified AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT p.doc_a, p.doc_b,
       |           $JaccBpFrom
       |  ) WHERE jacc_bp >= $NgramJaccardBp
       |)""".stripMargin

  /** MinHash → band → verify → connected-components chain over `sh`
    * (requires WITH RECURSIVE; mirrors Dedup.minhashLsh +
    * dedupClusters). Ends at `reach`; consumers derive labels/keepers.
    */
  private lazy val ClusterCtes =
    s"""$MinhashCandCtes,
       |$VerifiedCte,
       |e AS (
       |  SELECT doc_a AS a, doc_b AS b FROM verified
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM verified
       |),
       |reach(doc_id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN e ON reach.doc_id = e.a
       |)""".stripMargin

  /** The unigram + `_`-joined bigram grams of a token list `a`, one row
    * each (mirrors TextAnalysis.gramList).
    */
  private val UniBigrams =
    """unnest(list_concat(a,
      |      list_transform(range(1, len(a)),
      |        i -> a[i::INT] || '_' || a[(i+1)::INT])))""".stripMargin

  /** T21 learned-quality-model chain (assumes `norm` in scope): the
    * heuristic labels + hash-split stratum (`lab`), hashed n-gram
    * bucket counts over the train stratum, the integer
    * Naive-Bayes-difference weights (HUGEINT numerators — the
    * dsirWeight widening), and per-doc model scores (`msc`). Shared
    * by the `t_quality_model` and `d_model_keeper` oracles so the two
    * cannot drift apart. Does NOT end in a comma.
    */
  private lazy val QualityModelCtes =
    s"""${qualityFeaturesCte("qmm", carry = " t, text,")},
       |lab AS (
       |  SELECT doc_id,
       |    (CASE WHEN (('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100) < 50
       |          THEN 1 ELSE 0 END)::BIGINT AS in_train,
       |    (CASE WHEN ${sqlQualityScore()} = 100
       |     THEN 1 ELSE 0 END)::BIGINT AS lbl
       |  FROM qmm
       |),
       |qgrams AS (
       |  SELECT doc_id, (${sqlH60("gram")} % 1024) AS g
       |  FROM (
       |    SELECT doc_id, $UniBigrams AS gram
       |    FROM (SELECT doc_id, string_split(t, ' ') AS a FROM norm)
       |  )
       |),
       |qcnt AS (
       |  SELECT g, sum(lbl)::BIGINT AS c_pos, sum(1 - lbl)::BIGINT AS c_neg
       |  FROM qgrams JOIN lab USING (doc_id) WHERE in_train = 1 GROUP BY g
       |),
       |qtot AS (SELECT sum(c_pos)::BIGINT AS tot_pos,
       |                sum(c_neg)::BIGINT AS tot_neg FROM qcnt),
       |qw AS (
       |  SELECT u.g,
       |    ((((coalesce(c.c_pos, 0) + 1)::HUGEINT * 1000000000) // (t.tot_pos + 1024))
       |     - (((coalesce(c.c_neg, 0) + 1)::HUGEINT * 1000000000) // (t.tot_neg + 1024)))::BIGINT AS w
       |  FROM (SELECT DISTINCT g FROM qgrams) u
       |  LEFT JOIN qcnt c ON c.g = u.g, qtot t
       |),
       |msc AS (
       |  SELECT qgrams.doc_id, sum(qw.w)::BIGINT AS m_score
       |  FROM qgrams JOIN qw ON qw.g = qgrams.g GROUP BY 1
       |)""".stripMargin

  private val H20 = "(('0x' || substr(md5(%s),1,15))::BIGINT %% 1048576)"

  private def sqlH60(e: String) = graft.functions.Portable.sqlHexHash60(e)
  private def sqlH20(e: String) = graft.functions.Portable.sqlHexHash20(e)

  /** Per-document packing input `d(doc_id, n_tok, shard, ord_h)` over
    * `from` (`p` prefixes its norm columns): 8 hash shards, content-hash
    * order (mirrors Curation.packSequences).
    */
  private def packDocsCte(p: String, nTok: String, from: String) =
    s"""d AS (
       |  SELECT ${p}doc_id, $nTok AS n_tok,
       |         (${sqlH20(s"${p}doc_id::VARCHAR")} % 8)::BIGINT AS shard,
       |         ${sqlH60(s"${p}t")} AS ord_h
       |  FROM $from
       |)""".stripMargin

  /** Running token count per shard in packing order. */
  private val PackCumCte =
    """c AS (
      |  SELECT shard, n_tok,
      |         sum(n_tok) OVER (PARTITION BY shard ORDER BY ord_h, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM d
      |)""".stripMargin

  /** First-fit 256-token sequences: documents and tokens per sequence. */
  private val PackSeqsSql =
    """SELECT shard, ((cum - n_tok) // 256)::BIGINT AS seq_id,
      |       count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens
      |FROM c GROUP BY shard, seq_id""".stripMargin

  /** Target-mixture CTEs shared by both resample oracles (mirrors
    * Curation.DefaultShares + the `target_n` election).
    */
  private val MixCtes =
    """shares(lang, share_bp) AS (VALUES
      |  ('en', 3000), ('es', 2000), ('fr', 2000), ('de', 1500), ('zh', 1500)),
      |tot AS (SELECT count(*)::BIGINT AS n_total FROM documents),
      |tgt AS (
      |  SELECT l.lang, l.n_lang,
      |         least(l.n_lang, ((t.n_total * s.share_bp) // 20000))::BIGINT AS target_n
      |  FROM (SELECT lang, count(*)::BIGINT AS n_lang FROM documents GROUP BY lang) l
      |  JOIN shares s ON l.lang = s.lang CROSS JOIN tot t
      |)""".stripMargin

  /** Batch-vs-corpus incremental dedup (mirrors Curation.incrementalDedup
    * AND the FsKeyIndex-backed incrementalDedupIndexed — the index holds
    * exactly the corpus side's distinct keys).
    */
  private lazy val IncrementalDedupSql =
    s"""WITH $NormCte,
       |keyed AS (
       |  SELECT doc_id, ${sqlH60("t")} AS k,
       |         (${sqlH20("doc_id::VARCHAR")} % 4 = 0) AS is_new
       |  FROM norm
       |),
       |batch AS (
       |  SELECT doc_id, k,
       |         row_number() OVER (PARTITION BY k ORDER BY doc_id) AS rn,
       |         count(*) OVER (PARTITION BY k)::BIGINT AS n_batch_dupes
       |  FROM keyed WHERE is_new
       |)
       |SELECT doc_id, n_batch_dupes FROM batch
       |WHERE rn = 1 AND k NOT IN (SELECT k FROM keyed WHERE NOT is_new)
       |ORDER BY doc_id""".stripMargin

  /** DuckDB Lloyd's k-means unrolled to `iterations` update rounds plus
    * the final assignment (mirrors Ann.kmeansTrain: seeds = first k
    * vectors, exact integer squared-L2, argmin ties on centroid id,
    * `sum div n` floor-quantized centroid update — Spark `div` and
    * DuckDB `//` both truncate toward zero).
    */
  private def kmeansSql(k: Int, iterations: Int): String = {
    val (ctes, fin, cent) = kmeansCtes(k, iterations)
    s"""$ctes
       |SELECT cluster, count(*)::BIGINT AS n_vecs, sum(d)::BIGINT AS inertia,
       |       c.cn2 AS centroid_norm2
       |FROM $fin JOIN $cent c ON cluster = c.c_id
       |GROUP BY cluster, c.cn2 ORDER BY cluster""".stripMargin
  }

  /** Same unrolled training chain, profiled against the label column
    * (mirrors Ann.kmeansProfile: majority label per cluster, ties →
    * first label, integer purity).
    */
  private def kmeansProfileSql(k: Int, iterations: Int): String = {
    val (ctes, fin, _) = kmeansCtes(k, iterations)
    s"""$ctes,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |cl AS (
       |  SELECT cluster, label, count(*)::BIGINT AS n
       |  FROM $fin a JOIN lab ON a.vec_id = lab.vec_id
       |  GROUP BY cluster, label
       |),
       |tot AS (SELECT cluster, sum(n)::BIGINT AS n_vecs FROM cl GROUP BY cluster)
       |SELECT t.cluster, t.n_vecs, c.label AS top_label, c.n AS top_label_n,
       |       ((c.n * 10000) // t.n_vecs)::BIGINT AS purity_bp
       |FROM tot t JOIN (
       |  SELECT *, row_number() OVER (PARTITION BY cluster
       |    ORDER BY n DESC, label) AS rn FROM cl
       |) c ON c.cluster = t.cluster AND c.rn = 1
       |ORDER BY t.cluster""".stripMargin
  }

  /** SemDeDup oracle parameterized by kCells (the k=32 default and
    * the k=256 large-K twin share this text, so the two gates cannot
    * drift): unrolled Lloyd chain -> guarded-cosine cell assignment
    * (the trained-IVF serving rule) -> keep-first within cells.
    */
  private def semanticDedupSql(kCells: Int): String = {
    val (ctes, _, cent) = kmeansCtes(k = kCells, iterations = 2)
    s"""$ctes,
       |${rankedcCte(cent)},
       |${assignedCte("cells")},
       |dropped AS (
       |  SELECT DISTINCT x.vec_id
       |  FROM cells x JOIN cells y
       |    ON y.cell = x.cell AND y.vec_id < x.vec_id
       |  WHERE round((CASE WHEN x.norm2 = 0 OR y.norm2 = 0 THEN -2.0
       |    ELSE (${sqlDot("x.v", "y.v")})::DOUBLE
       |      / (sqrt(x.norm2::DOUBLE)*sqrt(y.norm2::DOUBLE)) END) * 10000)::BIGINT
       |    >= $SemDedupCosBp
       |)
       |SELECT a.vec_id, a.cell,
       |  (CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS kept
       |FROM cells a LEFT JOIN dropped dr ON a.vec_id = dr.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  /** Dimension/source-generic unrolled Lloyd chain (no leading WITH):
    * assumes a frame `src(vec_id, v, norm2)` of `dims`-dim integer
    * vectors is already in CTE scope; seeds are `vec_id < k`; training
    * assignment is squared-L2 argmin with c_id tiebreak (mirrors
    * Ann.kmeansAssign). CTEs are named `<cent>N` / `<asg>N`, `alias`
    * is the row alias of `src`. Returns (CTE block, final assignment
    * CTE name, final centroid CTE name).
    */
  private def kmeansChainCtes(k: Int, iterations: Int, dims: Int,
      src: String, asgName: String = "asg", centName: String = "cent",
      alias: String = "s"): (String, String, String) = {
    val a = alias
    def asg(n: Int, cent: String) =
      s"""$asgName$n AS (
         |  SELECT vec_id, v, norm2, c_id AS cluster, d FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, c_id) AS rn
         |    FROM (
         |      SELECT $a.vec_id, $a.v, $a.norm2, c.c_id,
         |             ($a.norm2 - 2*${sqlDot(s"$a.v", "c.cv", dims, "j")} + c.cn2)::BIGINT AS d
         |      FROM $src $a, $cent c
         |    )
         |  ) WHERE rn = 1
         |)"""
    def cent(n: Int) =
      s"""$centName$n AS (
         |  SELECT c_id, cv, list_sum(list_transform(cv, x -> x*x))::BIGINT AS cn2
         |  FROM (
         |    SELECT cluster AS c_id, list(comp ORDER BY dim) AS cv FROM (
         |      SELECT cluster, dim, (sum(comp)::BIGINT // count(*)::BIGINT)::BIGINT AS comp
         |      FROM (SELECT cluster, r.dim, v[(r.dim+1)::INT] AS comp
         |            FROM $asgName$n, range(0, $dims) r(dim))
         |      GROUP BY cluster, dim
         |    ) GROUP BY cluster
         |  )
         |)"""
    val chain = (1 to iterations)
      .map(i => asg(i, s"$centName${i - 1}") + ",\n" + cent(i)).mkString(",\n")
    val ctes = s"""${centName}0 AS (
       |  SELECT vec_id::BIGINT AS c_id, v AS cv, norm2 AS cn2 FROM $src
       |  WHERE vec_id < $k
       |),
       |$chain,
       |${asg(iterations + 1, s"$centName$iterations")}""".stripMargin
    (ctes, s"$asgName${iterations + 1}", s"$centName$iterations")
  }

  /** The shared 64-dim Lloyd chain over the embeddings table (opens
    * its own WITH): returns (CTE block, final assignment CTE name,
    * final centroid CTE name).
    */
  private def kmeansCtes(k: Int, iterations: Int): (String, String, String) = {
    val (chain, asgN, centN) = kmeansChainCtes(k, iterations, 64, "qn")
    (s"WITH $QCte,\n$QnCte,\n$chain", asgN, centN)
  }

  /** Per-subspace k-means chains + final assignments for the PQ
    * oracles (mirrors Ann.pqCodebooks/pqEncoded: 4 × 16-dim slices,
    * independent Lloyd's per slice, each the [[kmeansChainCtes]]
    * chain over its slice `subS`). Returns (ctes, finalAsgNames,
    * finalCentNames); assumes a CTE `q(vec_id, v)` with the
    * milli-quantized 64-dim vectors is in scope.
    */
  private def pqCtes(k: Int, iterations: Int,
      src: String = "q"): (String, Seq[String], Seq[String]) = {
    val chains = (0 until 4).map { s =>
      val lo = s * 16 + 1; val hi = s * 16 + 16
      val (chain, asgN, centN) = kmeansChainCtes(k, iterations, 16, s"sub$s",
        asgName = s"pasg$s", centName = s"pcent$s", alias = "q2")
      (s"""sub$s AS (
          |  SELECT vec_id, v[$lo:$hi] AS v,
          |         (list_sum(list_transform(v[$lo:$hi], x -> x*x)))::BIGINT AS norm2
          |  FROM $src
          |),
          |$chain""".stripMargin, asgN, centN)
    }
    (chains.map(_._1).mkString(",\n"), chains.map(_._2), chains.map(_._3))
  }

  /** Milli-quantized embeddings `q(vec_id, v)` and their squared norms
    * `qn(vec_id, v, norm2)` (mirrors Ann.quantized).
    */
  private val MilliV = "list_transform(embedding, x -> round(x*1000)::BIGINT)"
  private val QCte = s"q AS (\n  SELECT vec_id, $MilliV AS v\n  FROM embeddings\n)"
  private val QnCte =
    """qn AS (
      |  SELECT vec_id, v, (list_sum(list_transform(v, x -> x*x)))::BIGINT AS norm2
      |  FROM q
      |)""".stripMargin

  /** Quantized embeddings + hyperplane buckets (mirrors Ann.bucketed;
    * `planes` is the LSH accuracy knob — fewer planes = wider buckets).
    */
  private def embCte(planes: Int): String =
    s"""$QCte,
      |$QnCte,
      |bk AS (
      |  SELECT vec_id,
      |         sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
      |  FROM (
      |    SELECT vec_id, p,
      |           (list_sum(list_transform(range(1, 65),
      |             i -> v[i::INT] * (((1103515245 * (p*64 + (i-1)) + 12345) % 2001) - 1000))))::BIGINT AS dot
      |    FROM q, range(0, $planes) r(p)
      |  ) GROUP BY vec_id
      |)""".stripMargin

  private val EmbCte = embCte(Ann.NumPlanes)

  /** Int8 codes from the milli-quantized vectors (mirrors
    * Ann.int8Codes): per-vector max-abs scale onto [-127,127], HALF_UP
    * round of one IEEE division — bit-identical across engines.
    */
  private val Int8Cte =
    """cq AS (
      |  SELECT vec_id, v, maxabs,
      |         list_transform(v, x -> CASE WHEN maxabs = 0 THEN 0
      |           ELSE round((x*127)::DOUBLE / maxabs)::BIGINT END) AS c
      |  FROM (SELECT vec_id, v,
      |          list_max(list_transform(v, x -> abs(x))) AS maxabs FROM qn)
      |),
      |cqn AS (
      |  SELECT vec_id, v, maxabs, c,
      |         (list_sum(list_transform(c, x -> x*x)))::BIGINT AS n2q
      |  FROM cq
      |)""".stripMargin

  /** Exact integer dot of two `dims`-long integer lists (1-based,
    * lambda variable `x`) — mirrors VecOps.intDot.
    */
  private def sqlDot(a: String, b: String, dims: Int = 64, x: String = "i") =
    s"list_sum(list_transform(range(1,${dims + 1}), $x -> $a[$x::INT]*$b[$x::INT]))"

  /** Exact portable cosine of integer vectors a and b with squared
    * norms an2 and bn2: the integer dot over the product of the two
    * square roots, the op order of Ann.cosine.
    */
  private def sqlCos(av: String, bv: String, an2: String, bn2: String,
      dims: Int = 64) =
    s"""(${sqlDot(av, bv, dims)})::DOUBLE
       |  / (sqrt($an2::DOUBLE) * sqrt($bn2::DOUBLE))""".stripMargin

  /** [[sqlCos]] under the IVF zero-norm guard: a degenerate pair
    * scores -2.0 and ranks last (mirrors Ann.cellAssign's guard).
    */
  private def sqlGuardedCos(av: String, bv: String, an2: String,
      bn2: String, dims: Int = 64) =
    s"CASE WHEN $an2 = 0 OR $bn2 = 0 THEN -2.0\n  ELSE ${sqlCos(av, bv, an2, bn2, dims)} END"

  /** Exact portable cosine in basis points between q-vectors a and b. */
  private def sqlCosBp(av: String, bv: String, an2: String, bn2: String) =
    s"round(${sqlCos(av, bv, an2, bn2)} * 10000, 0)::BIGINT"

  /** `scored(<ids>, cos_bp, cos)`: the exact cosine of every candidate
    * pair `from` yields, vectors `av`/`bv` with squared norms
    * `an2`/`bn2` (mirrors the exact-cosine rerank of Ann.rerankExact).
    */
  private def scoredCte(ids: String, av: String, bv: String, an2: String,
      bn2: String, from: String) =
    s"""scored AS (
       |  SELECT $ids,
       |         ${sqlCosBp(av, bv, an2, bn2)} AS cos_bp,
       |         ${sqlCos(av, bv, an2, bn2)} AS cos
       |  $from
       |)""".stripMargin

  /** The per-query neighbor order of every ANN method: best cosine
    * first, ties on the smaller neighbor id (mirrors Ann.topK).
    */
  private val CosRank =
    "row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id)"

  /** Top-k tail over `scored`: rank each query's candidates by `rank`,
    * keep k, emit (q_id, rnk, neighbor_id, `out`).
    */
  private def topKTail(k: Int, out: String = "cos_bp",
      inner: String = "neighbor_id, cos_bp", rank: String = CosRank) =
    s"""SELECT q_id, rnk, neighbor_id, $out FROM (
       |  SELECT q_id, $inner,
       |         ($rank)::INT AS rnk
       |  FROM scored
       |) WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin

  /** [[topKTail]] over the int8 codes' quantized cosine `qcos`. */
  private def qcosTopKTail(k: Int) =
    topKTail(k, "round(qcos * 10000, 0)::BIGINT AS qcos_bp", "neighbor_id, qcos",
      "row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, neighbor_id)")

  /** [[topKTail]] over the PQ estimated distance `est_d`, nearest first. */
  private def estTopKTail(k: Int) =
    topKTail(k, "est_d", "vec_id AS neighbor_id, est_d",
      "row_number() OVER (PARTITION BY q_id ORDER BY est_d, vec_id)")

  /** Serving-cell ranking `rankedc(vec_id, [v, norm2,] c_id, c_rn)`:
    * every centroid of `cent` ranked per vector of `src` (row alias
    * `alias`) by guarded cosine, ties on the smaller c_id — the
    * serving rule of Ann.cellAssign; `c_rn = 1` is the vector's cell.
    */
  private def rankedcCte(cent: String, src: String = "qn", alias: String = "qn",
      dims: Int = 64, payload: Boolean = true) = {
    val a = alias
    s"""rankedc AS (
       |  SELECT $a.vec_id,${if (payload) s" $a.v, $a.norm2," else ""} c.c_id,
       |    row_number() OVER (PARTITION BY $a.vec_id ORDER BY
       |      (${sqlGuardedCos("c.cv", s"$a.v", "c.cn2", s"$a.norm2", dims)}) DESC, c.c_id) AS c_rn
       |  FROM ${if (src == a) src else s"$src $a"}, $cent c
       |)""".stripMargin
  }

  /** Each vector's serving cell from a cell ranking `from`. */
  private def assignedCte(name: String = "assigned", from: String = "rankedc") =
    s"""$name AS (
       |  SELECT vec_id, v, norm2, c_id AS cell FROM $from WHERE c_rn = 1
       |)""".stripMargin

  /** The serving cells of the candidates that pass `pred` (mirrors the
    * candidate-side filter of Ann.knnIvfTrainedFiltered).
    */
  private def filteredAssignedCte(pred: String, name: String = "assigned") =
    s"""$name AS (
       |  SELECT r.vec_id, r.v, r.norm2, r.c_id AS cell
       |  FROM rankedc r JOIN embeddings e ON e.vec_id = r.vec_id
       |  WHERE r.c_rn = 1 AND ($pred)
       |)""".stripMargin

  /** The `probes` best cells of each query vector (mirrors Ann's probe
    * ranking over the same serving rule).
    */
  private def probesCte(probes: Int, name: String = "probes",
      from: String = "rankedc") =
    s"""$name AS (
       |  SELECT vec_id AS q_id, v AS qv, norm2 AS qn2, c_id AS qcell
       |  FROM $from WHERE vec_id < $KnnQueries AND c_rn <= $probes
       |)""".stripMargin

  /** Per-query probe escalation (mirrors Ann's escalated filtered
    * search): a query whose base-tier pool `near` holds fewer than k
    * matches probes every one of the 8 cells.
    */
  private def qprobesCte(k: Int, probes: Int, near: String) =
    s"""qprobes AS (
       |  SELECT qn.vec_id AS q_id,
       |         CASE WHEN coalesce(n.n_near, 0) >= $k THEN $probes
       |              ELSE 8 END AS probes_eff
       |  FROM qn LEFT JOIN $near n ON n.q_id = qn.vec_id
       |  WHERE qn.vec_id < $KnnQueries
       |)""".stripMargin

  private lazy val JaccTail =
    s"""SELECT doc_a, doc_b, inter, union_sh, jacc_bp FROM (
       |  SELECT p.doc_a, p.doc_b, p.inter,
       |         (x.n_sh + y.n_sh - p.inter)::BIGINT AS union_sh,
       |         $JaccBpFrom
       |) WHERE jacc_bp >= $NgramJaccardBp ORDER BY doc_a, doc_b""".stripMargin

  // ---- parameterized ANN oracles (k = result depth) — the gated
  // per-method entries instantiate them at their headline k, and the
  // a_ann_recall oracle re-instantiates every one at RecallK so the
  // recall table measures exactly the SQL the gates run ----

  /** `scored` over query vectors `q2` and candidates `c` that carry
    * `v`/`norm2` (the brute-force, LSH and filtered-truth scans).
    */
  private def scoredQ2C(ids: String, from: String) =
    scoredCte(ids, "q2.v", "c.v", "q2.norm2", "c.norm2", from)

  private val BruteIds = "q2.vec_id AS q_id, c.vec_id AS neighbor_id"

  private def annBruteforceSql(k: Int): String =
    s"""WITH $EmbCte,
       |${scoredQ2C(BruteIds, s"FROM qn q2 JOIN qn c ON c.vec_id <> q2.vec_id\n  WHERE q2.vec_id < $KnnQueries")}
       |${topKTail(k)}""".stripMargin

  /** JL projection CTEs (mirror Ann.projectRp / VecOps.rpCoef): the
    * md5-derived Achlioptas ternary sign matrix restated through the
    * shared portable hash — r(j,d) = hexHash60('rp:j:d') mod 3 − 1 —
    * materialized once as a (j,d) table (the oracle twin of the
    * executor-side cached matrix), so projected components and norms
    * are exact integers with no shipped state.
    */
  private def rpCtes(outDims: Int): String =
    s"""rpsgn AS (
       |  SELECT j, d,
       |         (${sqlH60("'rp:' || j::VARCHAR || ':' || d::VARCHAR")} % 3 - 1) AS r
       |  FROM range(0, $outDims) a(j), range(0, 64) b(d)
       |),
       |pvl AS (
       |  SELECT q.vec_id, s.j, (sum(q.v[(s.d+1)::INT] * s.r))::BIGINT AS pj
       |  FROM q, rpsgn s
       |  GROUP BY 1, 2
       |),
       |pn AS (SELECT vec_id, (sum(pj*pj))::BIGINT AS pn2 FROM pvl GROUP BY vec_id)""".stripMargin

  /** Two-stage JL kNN (mirrors Ann.knnRp): projected-cosine top-shortK
    * (zero projected norms guarded to −2.0, the IVF convention), then
    * exact full-dim rerank of the shortlist to top-k.
    */
  private def annRpSql(k: Int, shortK: Int = Ann.RpShortK): String =
    s"""WITH $EmbCte,
       |${rpCtes(Ann.RpDims)},
       |pd AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
       |         (sum(a.pj * b.pj))::BIGINT AS pdot
       |  FROM pvl a JOIN pvl b ON b.j = a.j AND b.vec_id <> a.vec_id
       |  WHERE a.vec_id < $KnnQueries
       |  GROUP BY 1, 2
       |),
       |short AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT pd.q_id, pd.neighbor_id,
       |           row_number() OVER (PARTITION BY pd.q_id ORDER BY
       |             (CASE WHEN pa.pn2 = 0 OR pb.pn2 = 0 THEN -2.0
       |              ELSE pd.pdot::DOUBLE / (sqrt(pa.pn2::DOUBLE) * sqrt(pb.pn2::DOUBLE)) END)
       |             DESC, pd.neighbor_id) AS prnk
       |    FROM pd JOIN pn pa ON pa.vec_id = pd.q_id
       |             JOIN pn pb ON pb.vec_id = pd.neighbor_id
       |  ) WHERE prnk <= $shortK
       |),
       |$RerankShortCte
       |${topKTail(k)}""".stripMargin

  /** Exact full-dim rerank input of a `short(q_id, neighbor_id)` list
    * (mirrors Ann.rerankExact).
    */
  private lazy val RerankShortCte = scoredQ2C("s.q_id, s.neighbor_id",
    """FROM short s JOIN qn q2 ON q2.vec_id = s.q_id
      |               JOIN qn c ON c.vec_id = s.neighbor_id""".stripMargin)

  /** rp→IVF composition oracle (mirrors Ann.knnRpIvf): the JL
    * projection CTEs feed a 32-dim Lloyd chain (the generic
    * [[kmeansChainCtes]] over `pqn`), serving assignment and probe
    * ranking run on projected cosine, the per-cell candidate scan
    * shortlists by projected cosine, and the exact full-dim rerank is
    * the same tail as [[annRpSql]].
    */
  private def annRpIvfSql(k: Int, probes: Int = 2,
      shortK: Int = Ann.RpShortK): String = {
    val dims = Ann.RpDims
    val (kchain, _, kcent) = kmeansChainCtes(k = 8, iterations = 2,
      dims = dims, src = "pqn")
    s"""WITH $EmbCte,
       |${rpCtes(dims)},
       |pqn AS (
       |  SELECT pv.vec_id, pv.v, pn.pn2 AS norm2
       |  FROM (SELECT vec_id, list(pj ORDER BY j) AS v FROM pvl GROUP BY vec_id) pv
       |  JOIN pn ON pn.vec_id = pv.vec_id
       |),
       |$kchain,
       |${rankedcCte(kcent, src = "pqn", alias = "s", dims = dims)},
       |${assignedCte()},
       |${probesCte(probes, name = "probed")},
       |short AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT p.q_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY p.q_id ORDER BY
       |        (${sqlGuardedCos("p.qv", "c.v", "p.qn2", "c.norm2", dims)}) DESC, c.vec_id) AS prnk
       |    FROM probed p JOIN assigned c ON c.cell = p.qcell AND c.vec_id <> p.q_id
       |  ) WHERE prnk <= $shortK
       |),
       |$RerankShortCte
       |${topKTail(k)}""".stripMargin
  }

  /** Recall spine over the three JL points (mirrors Ann.annRecallRp,
    * same join/aggregate shape as [[annRecallSql]]).
    */
  private def annRpRecallSql(k: Int): String = recallTableSql(k, Seq(
    "knn_rp_proj" -> annRpSql(k, shortK = k),
    "knn_rp_rerank" -> annRpSql(k),
    "knn_rp_ivf" -> annRpIvfSql(k)))

  private def annLshSql(k: Int, planes: Int = Ann.NumPlanes): String =
    s"""WITH ${embCte(planes)},
       |qq AS (SELECT qn.vec_id, qn.v, qn.norm2, bk.bucket
       |       FROM qn JOIN bk ON qn.vec_id = bk.vec_id),
       |${scoredQ2C(BruteIds, "FROM qq q2 JOIN qq c ON c.bucket = q2.bucket " +
           s"AND c.vec_id <> q2.vec_id\n  WHERE q2.vec_id < $KnnQueries")}
       |${topKTail(k)}""".stripMargin

  /** `scored` over the probed cells: each query of `probes` against
    * the candidates `assigned` to its probed cells.
    */
  private lazy val ProbedScoredCte = scoredCte("q2.q_id, c.vec_id AS neighbor_id",
    "q2.qv", "c.v", "q2.qn2", "c.norm2",
    """FROM probes q2 JOIN assigned c
      |    ON c.cell = q2.qcell AND c.vec_id <> q2.q_id""".stripMargin)

  private def annIvfTrainedSql(k: Int, probes: Int = 1): String = {
    val (ctes, _, cent) = kmeansCtes(k = 8, iterations = 2)
    s"""$ctes,
       |${rankedcCte(cent)},
       |${assignedCte()},
       |${probesCte(probes)},
       |$ProbedScoredCte
       |${topKTail(k)}""".stripMargin
  }

  /** pHash oracle (mirrors Multimodal.imageDedupPhash): the seeded
    * raster, the fixed-point separable DCT through the SAME
    * cosine-table literals the engine ships
    * (Multimodal.phashCosTable — shared table, not shared trig), the
    * 63-bit lower-median-threshold hash, 8×8-bit banding, Hamming
    * verify, least-neighbor election — all integer arithmetic.
    */
  private def imageDedupPhashSql(tau: Int): String = {
    val ct = graft.operators.Multimodal.phashCosTable
      .mkString("[", ", ", "]")
    s"""WITH par AS (
       |  SELECT doc_id, doc_id // 2 AS seed, doc_id % 2 AS noisy
       |  FROM documents
       |),
       |gray AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 1024), i ->
       |      CASE WHEN noisy = 1 THEN least(
       |        ((1 + seed % 7) * (i % 32) + (1 + seed % 5) * (i // 32)
       |          + (1 + seed % 3) * (((i % 32) * (i // 32)) // 4)
       |          + seed % 251
       |          + (seed * 2654435761 + ((i % 32) // 8) * 97
       |             + ((i // 32) // 8) * 193) % 128) % 256
       |        + (doc_id * 73856093 + (i % 32) * 19349663
       |           + (i // 32) * 83492791) % 2, 255)
       |      ELSE ((1 + seed % 7) * (i % 32) + (1 + seed % 5) * (i // 32)
       |          + (1 + seed % 3) * (((i % 32) * (i // 32)) // 4)
       |          + seed % 251
       |          + (seed * 2654435761 + ((i % 32) // 8) * 97
       |             + ((i // 32) // 8) * 193) % 128) % 256
       |      END) AS g
       |  FROM par
       |),
       |ctt AS (SELECT $ct AS ct),
       |rowp AS (
       |  SELECT doc_id, list_transform(range(0, 256), k ->
       |    list_sum(list_transform(range(0, 32), x ->
       |      g[((k % 32) * 32 + x + 1)::INT]
       |        * ct[((k // 32) * 32 + x + 1)::INT]))) AS r
       |  FROM gray CROSS JOIN ctt
       |),
       |co AS (
       |  SELECT doc_id, list_transform(range(1, 64), j ->
       |    list_sum(list_transform(range(0, 32), y ->
       |      r[((j // 8) * 32 + y + 1)::INT]
       |        * ct[((j % 8) * 32 + y + 1)::INT]))) AS coeffs
       |  FROM rowp CROSS JOIN ctt
       |),
       |md AS (
       |  SELECT doc_id, coeffs, list_sort(coeffs)[32] AS med FROM co
       |),
       |hsh AS (
       |  SELECT doc_id,
       |    list_sum(list_transform(range(0, 63), j ->
       |      CASE WHEN coeffs[(j + 1)::INT] > med
       |           THEN (1::BIGINT << j::INT) ELSE 0::BIGINT END))::BIGINT AS phash
       |  FROM md
       |),
       |bands AS (
       |  SELECT doc_id, phash, i AS band_id,
       |         (phash >> (8 * i)::INT) % 256 AS band_key
       |  FROM hsh, generate_series(0, 7) gs(i)
       |),
       |prs AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |         x.phash AS ha, y.phash AS hb
       |  FROM bands x JOIN bands y
       |    ON x.band_id = y.band_id AND x.band_key = y.band_key
       |   AND x.doc_id < y.doc_id
       |),
       |vr AS (SELECT a, b FROM prs WHERE bit_count(xor(ha, hb)) <= $tau),
       |nbr AS (
       |  SELECT doc_id, min(nb)::BIGINT AS min_nbr,
       |         count(*)::BIGINT AS n_near
       |  FROM (SELECT a AS doc_id, b AS nb FROM vr
       |        UNION ALL SELECT b AS doc_id, a AS nb FROM vr) u
       |  GROUP BY doc_id
       |)
       |SELECT h.doc_id, h.phash,
       |       least(h.doc_id, coalesce(n.min_nbr, h.doc_id))::BIGINT AS keeper_id,
       |       (coalesce(n.n_near, 0) + 1)::BIGINT AS n_near
       |FROM hsh h LEFT JOIN nbr n USING (doc_id)
       |ORDER BY h.doc_id""".stripMargin
  }

  /** Filtered-truth oracle (mirrors Ann.knnBruteForceFiltered): the
    * predicate lands on the CANDIDATE side only — joined back to the
    * raw embeddings table for the attribute columns the quantized CTE
    * drops — queries come from the full corpus.
    */
  private def annBruteforceFilteredSql(k: Int, pred: String): String =
    s"""WITH $EmbCte,
       |${filteredQCte(pred)},
       |${scoredQ2C(BruteIds, s"FROM qn q2 JOIN qf c ON c.vec_id <> q2.vec_id\n  WHERE q2.vec_id < $KnnQueries")}
       |${topKTail(k)}""".stripMargin

  /** The quantized candidates that pass `pred` (mirrors the
    * candidate-side filter of Ann.knnBruteForceFiltered).
    */
  private def filteredQCte(pred: String, name: String = "qf") =
    s"""$name AS (
       |  SELECT qn.vec_id, qn.v, qn.norm2
       |  FROM qn JOIN embeddings e ON e.vec_id = qn.vec_id WHERE ($pred)
       |)""".stripMargin

  /** Filtered trained-IVF oracle (mirrors Ann.knnIvfTrainedFiltered):
    * annIvfTrainedSql's chain with the predicate on the assigned
    * (candidate) CTE — the model CTEs stay full-corpus.
    */
  private def annIvfTrainedFilteredSql(k: Int, probes: Int,
      pred: String): String = {
    val (ctes, _, cent) = kmeansCtes(k = 8, iterations = 2)
    s"""$ctes,
       |${rankedcCte(cent)},
       |${filteredAssignedCte(pred)},
       |${probesCte(probes)},
       |$ProbedScoredCte
       |${topKTail(k)}""".stripMargin
  }

  /** Escalated filtered-IVF oracle (mirrors
    * Ann.knnIvfTrainedFilteredEscalated): the filtered chain plus a
    * count-only pass at the base tier; queries whose matching pool is
    * < k get full cell coverage (probes_eff = kCells = 8), the rest
    * keep the base tier.
    */
  private def annIvfTrainedFilteredEscalatedSql(k: Int, probes: Int,
      pred: String): String = {
    val (ctes, _, cent) = kmeansCtes(k = 8, iterations = 2)
    s"""$ctes,
       |${rankedcCte(cent)},
       |${filteredAssignedCte(pred)},
       |near AS (
       |  SELECT q2.vec_id AS q_id, count(*)::BIGINT AS n_near
       |  FROM rankedc q2 JOIN assigned c
       |    ON c.cell = q2.c_id AND c.vec_id <> q2.vec_id
       |  WHERE q2.vec_id < $KnnQueries AND q2.c_rn <= $probes
       |  GROUP BY 1
       |),
       |${qprobesCte(k, probes, "near")},
       |${scoredQ2C(BruteIds, "FROM rankedc q2\n" +
           "  JOIN qprobes pe ON pe.q_id = q2.vec_id AND q2.c_rn <= pe.probes_eff\n" +
           "  JOIN assigned c ON c.cell = q2.c_id AND c.vec_id <> q2.vec_id")}
       |${topKTail(k)}""".stripMargin
  }

  /** Filtered recall oracle (mirrors Ann.annRecallFiltered): per
    * (selectivity, probes) — one statement, selectivity-suffixed CTEs
    * over the shared full-corpus model chain; recall denominator is
    * the filtered TRUTH row count (under-full result sets are the
    * semantics).
    */
  private def annRecallFilteredSql(k: Int,
      preds: Seq[(String, String)], probesList: Seq[Int]): String = {
    val (ctes, _, cent) = kmeansCtes(k = 8, iterations = 2)
    val perSel = preds.map { case (sel, pred) =>
      val selCtes =
        s"""${filteredQCte(pred, s"qf_$sel")},
           |truth_$sel AS (
           |  SELECT q_id, neighbor_id FROM (
           |    SELECT q2.vec_id AS q_id, c.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q2.vec_id ORDER BY
           |        ${sqlCos("q2.v", "c.v", "q2.norm2", "c.norm2")} DESC, c.vec_id) AS rnk
           |    FROM qn q2 JOIN qf_$sel c ON c.vec_id <> q2.vec_id
           |    WHERE q2.vec_id < $KnnQueries
           |  ) WHERE rnk <= $k
           |),
           |${filteredAssignedCte(pred, s"asg_$sel")},
           |scored_$sel AS (
           |  SELECT q2.vec_id AS q_id, q2.c_rn, c.vec_id AS neighbor_id,
           |         ${sqlCos("q2.v", "c.v", "q2.norm2", "c.norm2")} AS cos
           |  FROM rankedc q2 JOIN asg_$sel c
           |    ON c.cell = q2.c_id AND c.vec_id <> q2.vec_id
           |  WHERE q2.vec_id < $KnnQueries AND q2.c_rn <= ${probesList.max}
           |)""".stripMargin
      val rows = probesList.map { p =>
        s"""SELECT '$sel' AS sel, 'ivf_filtered_p$p' AS method,
           |  count(*)::BIGINT AS n_retrieved,
           |  coalesce(sum(CASE WHEN t.q_id IS NOT NULL THEN 1 END), 0)::BIGINT AS n_hits,
           |  (SELECT count(*) FROM truth_$sel)::BIGINT AS n_truth
           |FROM (
           |  SELECT q_id, neighbor_id FROM (
           |    SELECT q_id, neighbor_id,
           |      $CosRank AS rnk
           |    FROM scored_$sel WHERE c_rn <= $p
           |  ) WHERE rnk <= $k
           |) i LEFT JOIN truth_$sel t
           |  ON t.q_id = i.q_id AND t.neighbor_id = i.neighbor_id""".stripMargin
      }
      (selCtes, rows)
    }
    val allCtes = perSel.map(_._1).mkString(",\n")
    val allRows = perSel.flatMap(_._2).mkString("\nUNION ALL\n")
    s"""$ctes,
       |${rankedcCte(cent)},
       |$allCtes
       |SELECT sel, method, n_retrieved, n_hits, n_truth,
       |       (n_hits * 10000 // n_truth) AS recall_bp
       |FROM ($allRows)
       |ORDER BY sel, method""".stripMargin
  }

  /** IVF-SQ8 oracle (mirrors Ann.knnIvfSq): trained-cell assignment and
    * query cell ranking on the full-precision milli vectors (the
    * knnIvfTrained chain), candidate scoring by scale-free quantized
    * cosine over the int8 codes (the knnQuantized arithmetic) within
    * the probed cells.
    */
  private def annIvfSqSql(k: Int, probes: Int = 2): String = {
    val (ctes, _, cent) = kmeansCtes(k = 8, iterations = 2)
    s"""$ctes,
       |$Int8Cte,
       |${rankedcCte(cent, payload = false)},
       |assigned AS (
       |  SELECT r.vec_id, cdb.c, cdb.n2q, r.c_id AS cell
       |  FROM rankedc r JOIN cqn cdb ON cdb.vec_id = r.vec_id
       |  WHERE r.c_rn = 1
       |),
       |probesq AS (
       |  SELECT r.vec_id AS q_id, cq2.c AS qc, cq2.n2q AS qn2q, r.c_id AS qcell
       |  FROM rankedc r JOIN cqn cq2 ON cq2.vec_id = r.vec_id
       |  WHERE r.vec_id < $KnnQueries AND r.c_rn <= $probes
       |),
       |scored AS (
       |  SELECT q2.q_id, cdb.vec_id AS neighbor_id,
       |         ${sqlGuardedCos("q2.qc", "cdb.c", "q2.qn2q", "cdb.n2q")} AS qcos
       |  FROM probesq q2 JOIN assigned cdb
       |    ON cdb.cell = q2.qcell AND cdb.vec_id <> q2.q_id
       |)
       |${qcosTopKTail(k)}""".stripMargin
  }

  private def annQuantizedSql(k: Int): String =
    s"""WITH $EmbCte, $Int8Cte,
       |scored AS (
       |  SELECT q2.vec_id AS q_id, cdb.vec_id AS neighbor_id,
       |         ${sqlGuardedCos("q2.c", "cdb.c", "q2.n2q", "cdb.n2q")} AS qcos
       |  FROM cqn q2 JOIN cqn cdb ON cdb.vec_id <> q2.vec_id
       |  WHERE q2.vec_id < $KnnQueries
       |)
       |${qcosTopKTail(k)}""".stripMargin

  private def annPqSql(k: Int, pqK: Int = Ann.PqK,
      srcCtes: String = "", src: String = "q"): String = {
    val (ctes, asgs, cents) = pqCtes(k = pqK, iterations = 2, src = src)
    val qds = (0 until 4).map { s =>
      s"""qd$s AS (
         |  SELECT t.vec_id AS q_id, c.c_id,
         |         (t.norm2 - 2*${sqlDot("t.v", "c.cv", 16, "j")} + c.cn2)::BIGINT AS d
         |  FROM sub$s t, ${cents(s)} c WHERE t.vec_id < $KnnQueries
         |)"""
    }.mkString(",\n")
    s"""WITH $QCte$srcCtes,
       |$ctes,
       |codes AS (
       |  SELECT a0.vec_id, a0.cluster AS c0, a1.cluster AS c1,
       |         a2.cluster AS c2, a3.cluster AS c3
       |  ${pqCodeJoin(asgs)}
       |),
       |$qds,
       |scored AS (
       |  SELECT q0.q_id, x.vec_id, (q0.d + q1.d + q2.d + q3.d)::BIGINT AS est_d
       |  FROM codes x
       |  JOIN qd0 q0 ON q0.c_id = x.c0
       |  JOIN qd1 q1 ON q1.c_id = x.c1 AND q1.q_id = q0.q_id
       |  JOIN qd2 q2 ON q2.c_id = x.c2 AND q2.q_id = q0.q_id
       |  JOIN qd3 q3 ON q3.c_id = x.c3 AND q3.q_id = q0.q_id
       |  WHERE x.vec_id <> q0.q_id
       |)
       |${estTopKTail(k)}""".stripMargin
  }

  /** The four per-subspace final assignments joined on vec_id as
    * `a0`..`a3` (mirrors Ann.pqEncodedFromQ's code columns).
    */
  private def pqCodeJoin(asgs: Seq[String]) =
    s"FROM ${asgs(0)} a0\n" + (1 to 3).map(s =>
      s"JOIN ${asgs(s)} a$s ON a$s.vec_id = a0.vec_id").mkString("\n")

  /** OPQ-permutation prefix CTEs (mirrors Ann.opqPermutation /
    * Ann.knnPqOpq): integer per-dim variance surrogate
    * `n·Σx² − (Σx)²`, rank desc with dim-asc tiebreak, snake-draft
    * into the 4 subspaces, then the permuted vector table `qp` the
    * standard PQ chain runs over. Starts with a comma (appends to the
    * `q` CTE).
    */
  private val OpqPermCtes: String =
    s""",
       |dv AS (
       |  SELECT dim, (cnt * sq - sm * sm)::BIGINT AS vr
       |  FROM (
       |    SELECT r.dim AS dim, count(*)::BIGINT AS cnt,
       |           sum(q.v[(r.dim+1)::INT])::BIGINT AS sm,
       |           sum(q.v[(r.dim+1)::INT] * q.v[(r.dim+1)::INT])::BIGINT AS sq
       |    FROM q, range(0, 64) r(dim) GROUP BY r.dim
       |  )
       |),
       |prm AS (
       |  SELECT dim, ((CASE WHEN (rnk // 4) % 2 = 0 THEN rnk % 4
       |                ELSE 3 - rnk % 4 END) * 16 + rnk // 4)::BIGINT AS newpos
       |  FROM (SELECT dim, row_number() OVER (ORDER BY vr DESC, dim) - 1 AS rnk
       |        FROM dv)
       |),
       |qp AS (
       |  SELECT q.vec_id, list(q.v[(prm.dim+1)::INT] ORDER BY prm.newpos) AS v
       |  FROM q, prm GROUP BY q.vec_id
       |)""".stripMargin

  private def annIvfPqSql(k: Int, pqK: Int = Ann.PqK,
      probes: Int = 2, candPred: String = "",
      escalate: Boolean = false): String = {
    val (kctes, kasg, kcent) = kmeansCtes(k = 8, iterations = 2)
    val (pctes, pasgs, pcents) = pqCtes(k = pqK, iterations = 2, src = "res")
    val qds = (0 until 4).map { s =>
      val off = s * 16
      s"""qd$s AS (
         |  SELECT p.q_id, p.cell, c.c_id,
         |         (list_sum(list_transform(range(1,17),
         |             j -> p.qres[(j + $off)::INT]*p.qres[(j + $off)::INT]))
         |          - 2*list_sum(list_transform(range(1,17),
         |             j -> p.qres[(j + $off)::INT]*c.cv[j::INT]))
         |          + c.cn2)::BIGINT AS d
         |  FROM probed p, ${pcents(s)} c
         |)"""
    }.mkString(",\n")
    s"""$kctes,
       |res AS (
       |  SELECT a.vec_id, list_transform(range(1,65), j -> a.v[j::INT] - c.cv[j::INT]) AS v
       |  FROM $kasg a JOIN $kcent c ON a.cluster = c.c_id
       |),
       |cellof AS (SELECT vec_id, cluster AS cell FROM $kasg),
       |$pctes,
       |codes AS (
       |  SELECT a0.vec_id, co.cell, a0.cluster AS c0, a1.cluster AS c1,
       |         a2.cluster AS c2, a3.cluster AS c3
       |  ${pqCodeJoin(pasgs)}
       |  JOIN cellof co ON co.vec_id = a0.vec_id
       |  ${if (candPred.isEmpty) ""
         else s"JOIN embeddings e ON e.vec_id = a0.vec_id WHERE ($candPred)"}
       |),
       |qcells AS (
       |  SELECT qn.vec_id AS q_id, c.c_id AS cell,
       |         row_number() OVER (PARTITION BY qn.vec_id
       |           ORDER BY (qn.norm2 - 2*${sqlDot("qn.v", "c.cv", x = "j")} + c.cn2), c.c_id) AS crn,
       |         list_transform(range(1,65), j -> qn.v[j::INT] - c.cv[j::INT]) AS qres
       |  FROM qn, $kcent c WHERE qn.vec_id < $KnnQueries
       |),
       |${if (!escalate)
           s"probed AS (SELECT q_id, cell, qres FROM qcells WHERE crn <= $probes),"
         else
           s"""nearq AS (
              |  SELECT p.q_id, count(*)::BIGINT AS n_near
              |  FROM codes x JOIN qcells p ON p.cell = x.cell AND x.vec_id <> p.q_id
              |  WHERE p.crn <= $probes
              |  GROUP BY 1
              |),
              |${qprobesCte(k, probes, "nearq")},
              |probed AS (
              |  SELECT qc.q_id, qc.cell, qc.qres
              |  FROM qcells qc JOIN qprobes pe
              |    ON pe.q_id = qc.q_id AND qc.crn <= pe.probes_eff
              |),""".stripMargin}
       |$qds,
       |scored AS (
       |  SELECT q0.q_id, x.vec_id, (q0.d + q1.d + q2.d + q3.d)::BIGINT AS est_d
       |  FROM codes x
       |  JOIN qd0 q0 ON q0.c_id = x.c0 AND q0.cell = x.cell
       |  JOIN qd1 q1 ON q1.c_id = x.c1 AND q1.q_id = q0.q_id AND q1.cell = q0.cell
       |  JOIN qd2 q2 ON q2.c_id = x.c2 AND q2.q_id = q0.q_id AND q2.cell = q0.cell
       |  JOIN qd3 q3 ON q3.c_id = x.c3 AND q3.q_id = q0.q_id AND q3.cell = q0.cell
       |  WHERE x.vec_id <> q0.q_id
       |)
       |${estTopKTail(k)}""".stripMargin
  }

  /** IVFADC-R refine oracle (mirrors Ann.rerankExact): the nested ADC
    * oracle chain at depth k·refine is the shortlist; the shortlist's
    * full-precision milli-quantized vectors rerank it by exact cosine
    * to k (bit-identical doubles: integer dot / product of identical
    * sqrt doubles, same as the brute-force oracle).
    */
  private def annRerankSql(adcSql: String, k: Int): String =
    s"""WITH short AS (SELECT q_id, neighbor_id FROM (
       |$adcSql
       |) s),
       |$QCte,
       |$QnCte,
       |${scoredCte("sh.q_id, sh.neighbor_id", "a.v", "b.v", "a.norm2", "b.norm2",
           "FROM short sh\n  JOIN qn a ON a.vec_id = sh.q_id\n  JOIN qn b ON b.vec_id = sh.neighbor_id")}
       |${topKTail(k)}""".stripMargin

  /** Cell-population balance over the trained cosine cell assignment
    * (mirrors Ann.cellBalance; same assignment CTE shape as the
    * knnIvfTrained oracle, aggregated to kCells rows).
    */
  private def cellBalanceSql(kCells: Int = 8): String = {
    val (ctes, _, cent) = kmeansCtes(k = kCells, iterations = 2)
    s"""$ctes,
       |${rankedcCte(cent, payload = false)},
       |pop AS (
       |  SELECT c_id AS cell, count(*)::BIGINT AS n_vecs
       |  FROM rankedc WHERE c_rn = 1 GROUP BY c_id
       |),
       |tot AS (SELECT sum(n_vecs)::BIGINT AS n_total FROM pop)
       |SELECT cell, n_vecs,
       |       ((n_vecs * 10000) // t.n_total)::BIGINT AS share_bp,
       |       ((n_vecs * $kCells * 10000) // t.n_total)::BIGINT AS ratio_even_bp
       |FROM pop CROSS JOIN tot t ORDER BY cell""".stripMargin
  }

  /** Recall@k table: each per-method oracle chain (at depth k) nests
    * as a locally-scoped derived table; hits join the brute-force
    * truth on (q_id, neighbor_id); recall is integer basis points
    * over the queries·k ground-truth slots.
    */
  private def annRecallSql(k: Int): String = recallTableSql(k, recallLegsSql(k))

  /** The six method chains at depth k that [[annRecallSql]] and
    * [[annRecallSampledSql]] measure (mirrors Ann.recallLegs).
    */
  private def recallLegsSql(k: Int): Seq[(String, String)] = Seq(
    "knn_lsh" -> annLshSql(k),
    "knn_ivf_trained" -> annIvfTrainedSql(k),
    "knn_quantized" -> annQuantizedSql(k),
    "knn_pq" -> annPqSql(k),
    "knn_ivfpq" -> annIvfPqSql(k),
    "knn_ivfsq" -> annIvfSqSql(k))

  /** One `rI` result CTE per method chain (each `where`-filtered), and
    * one count arm per method: `extra` columns, then n_retrieved and
    * n_hits against `truth` (mirrors Ann's recall hit-count tail).
    */
  private def recallArms(subs: Seq[(String, String)], where: String = "",
      extra: String = ""): (String, String) = (
    subs.zipWithIndex.map { case ((_, sql), i) =>
      s"r$i AS (SELECT q_id, neighbor_id FROM (\n$sql\n) t$i$where)"
    }.mkString(",\n"),
    subs.zipWithIndex.map { case ((m, _), i) =>
      s"""SELECT '$m' AS method,$extra
         |  (SELECT count(*) FROM r$i)::BIGINT AS n_retrieved,
         |  (SELECT count(*) FROM r$i JOIN truth USING (q_id, neighbor_id))::BIGINT AS n_hits""".stripMargin
    }.mkString("\nUNION ALL\n"))

  /** The recall table spine of [[annRecallSql]], [[annRpRecallSql]]
    * and [[annRecallTunedSql]] (mirrors Ann.recallTable): integer
    * basis points over the queries·k brute-force truth slots.
    */
  private def recallTableSql(k: Int, subs: Seq[(String, String)]): String = {
    val (ctes, arms) = recallArms(subs)
    s"""WITH truth AS (SELECT q_id, neighbor_id FROM (
       |${annBruteforceSql(k)}
       |) tt),
       |$ctes,
       |m AS (
       |$arms
       |)
       |SELECT method, n_retrieved, n_hits,
       |       (n_hits * 10000 // ${KnnQueries * k})::BIGINT AS recall_bp
       |FROM m ORDER BY method""".stripMargin
  }

  /** Sampled-truth twin of [[annRecallSql]] (mirrors
    * Ann.annRecallSampled): hash-elected query subset on the truth's
    * query side AND on each method arm; denominator = elected count ×
    * k from the same election over the query id range.
    */
  private def annRecallSampledSql(k: Int, sampleMod: Int): String = {
    val elect = (e: String) => s"${sqlH20(e)} % $sampleMod = 0"
    val (ctes, arms) = recallArms(recallLegsSql(k),
      where = s"\n  WHERE ${elect("q_id::VARCHAR")}",
      extra = "\n  (SELECT n FROM nq)::BIGINT AS n_queries,")
    s"""WITH truth AS (SELECT q_id, neighbor_id FROM (
       |${annBruteforceSql(k)}
       |) tt WHERE ${elect("q_id::VARCHAR")}),
       |nq AS (SELECT count(*)::BIGINT AS n FROM embeddings
       |       WHERE vec_id < $KnnQueries AND ${elect("vec_id::VARCHAR")}),
       |$ctes,
       |m AS (
       |$arms
       |)
       |SELECT method, n_queries, n_retrieved, n_hits,
       |       (CASE WHEN n_queries > 0
       |             THEN n_hits * 10000 // (n_queries * $k) END)::BIGINT AS recall_bp
       |FROM m ORDER BY method""".stripMargin
  }

  /** The knob-response twin of [[annRecallSql]]: same join/aggregate
    * spine over the TUNED per-method chains (4-plane LSH, probe-2
    * IVF, 4-bit PQ, probe-4 IVFADC with 4-bit codebooks).
    */
  private def annRecallTunedSql(k: Int): String = recallTableSql(k, Seq(
    "knn_lsh_4planes" -> annLshSql(k, planes = 4),
    "knn_ivf_probe2" -> annIvfTrainedSql(k, probes = 2),
    "knn_pq_4bit" -> annPqSql(k, pqK = 16),
    "knn_pq_opq" -> annPqSql(k, srcCtes = OpqPermCtes, src = "qp"),
    "knn_ivfpq_p4_4bit" -> annIvfPqSql(k, pqK = 16, probes = 4),
    "knn_pq_rerank" -> annRerankSql(annPqSql(k * 10), k),
    "knn_ivfpq_rerank" -> annRerankSql(annIvfPqSql(k * 10), k),
    "knn_ivfsq_p4" -> annIvfSqSql(k, probes = 4)))

  /** Lexical leg of the hybrid oracles over `tok` (mirrors
    * HybridSearch's lexical leg): IDF-weighted token overlap, each
    * query's top 20 documents as `lex(q_id, doc_id, lex_rank)`.
    */
  private lazy val HybridLexCtes =
    s"""ts AS (SELECT DISTINCT doc_id, tok FROM tok),
       |dfs AS (SELECT tok, count(*)::BIGINT AS df FROM ts GROUP BY tok),
       |wt AS (SELECT ts.doc_id, ts.tok, (1000000 // dfs.df)::BIGINT AS w
       |       FROM ts JOIN dfs USING (tok)),
       |lexs AS (
       |  SELECT qq.doc_id AS q_id, cc.doc_id AS doc_id,
       |         sum(cc.w)::BIGINT AS lex_score
       |  FROM wt qq JOIN wt cc ON cc.tok = qq.tok AND cc.doc_id <> qq.doc_id
       |  WHERE qq.doc_id < $KnnQueries GROUP BY 1, 2
       |),
       |lex AS (SELECT q_id, doc_id, lex_rank FROM (
       |  SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY lex_score DESC, doc_id) AS lex_rank
       |  FROM lexs) WHERE lex_rank <= 20)""".stripMargin

  /** Reciprocal-rank fusion of `lex` and the vector leg `vecs` (each
    * top 20) to each query's top 10 (mirrors HybridSearch's fusion).
    */
  private val HybridFusedTail =
    """vec AS (SELECT q_id, doc_id, vec_rank FROM vecs WHERE vec_rank <= 20),
      |fused AS (
      |  SELECT coalesce(l.q_id, v.q_id) AS q_id,
      |         coalesce(l.doc_id, v.doc_id) AS doc_id,
      |         l.lex_rank, v.vec_rank,
      |         (coalesce(1000000000000 // (60 + l.lex_rank), 0)
      |          + coalesce(1000000000000 // (60 + v.vec_rank), 0))::BIGINT AS rrf_score
      |  FROM lex l FULL OUTER JOIN vec v
      |    ON v.q_id = l.q_id AND v.doc_id = l.doc_id
      |)
      |SELECT q_id, rnk, doc_id, rrf_score,
      |       coalesce(lex_rank, -1)::BIGINT AS lex_rank,
      |       coalesce(vec_rank, -1)::BIGINT AS vec_rank
      |FROM (SELECT *, (row_number() OVER (PARTITION BY q_id
      |        ORDER BY rrf_score DESC, doc_id))::INT AS rnk FROM fused)
      |WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin

  /** Each document's synthetic media type by source (mirrors
    * Multimodal.features' media_type cycle).
    */
  private val MediaCte =
    """m AS (
      |  SELECT doc_id,
      |         (['image','audio','video'])[((replace(source, 'src', '')::INT) % 3) + 1] AS media_type
      |  FROM documents
      |)""".stripMargin

  /** Count-Min params from the SAME Scala seq the Spark projection
    * uses (Sketch.cmsParams), so the two engines cannot drift.
    */
  private lazy val CmsParamsCte = {
    val params = Sketch.cmsParams().map { case (i, a, b, d) =>
      s"($i, $a, $b, $d)" }.mkString(", ")
    s"params(hash_id, ha, hb, sdiv) AS (VALUES $params)"
  }

  /** The Count-Min cell of hash `h` under the params row `p` (mirrors
    * Sketch's cell arithmetic; `//` is DuckDB integer division, the
    * Spark side's `div`).
    */
  private def cmsBucket(h: String, p: String = "") =
    s"((${p}ha * (($h // ${p}sdiv) % 1048576) + ${p}hb) % ${Dedup.MinHashPrime})" +
      s" % ${Sketch.CmsWidth}"

  /** The params plus the sketch cells `cms(hash_id, bucket, cnt)` over `occ`. */
  private lazy val CmsCtes =
    s"""$CmsParamsCte,
       |cms AS (
       |  SELECT hash_id,
       |         ${cmsBucket("h")} AS bucket,
       |         count(*)::BIGINT AS cnt
       |  FROM occ, params GROUP BY 1, 2
       |)""".stripMargin

  /** Keeper election over `ph(doc_id, phash)`: the smallest doc_id of
    * each hash bucket keeps (mirrors Multimodal's bucket-keeper plan).
    */
  private val PhashKeeperTail =
    """bk AS (
      |  SELECT phash, min(doc_id)::BIGINT AS keeper_id,
      |         count(*)::BIGINT AS n_bucket
      |  FROM ph GROUP BY 1
      |)
      |SELECT p.doc_id, p.phash, b.keeper_id, b.n_bucket,
      |       (CASE WHEN p.doc_id = b.keeper_id THEN 1 ELSE 0 END)::INT AS keep
      |FROM ph p JOIN bk b USING (phash)
      |ORDER BY p.doc_id""".stripMargin

  /** The lineitem columns both column-profile oracles cover. */
  private val ProfileCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")

  /** Stride-IVF centroids: every 50th quantized vector (mirrors Ann.knnIvf). */
  private val StrideCentCte =
    """cent AS (SELECT vec_id AS c_id, v AS cv, norm2 AS cn2 FROM qn
      |         WHERE vec_id % 50 = 0)""".stripMargin

  /** Stride-IVF cell ranking over the `cent` sample (mirrors Ann.knnIvf:
    * unguarded cosine, ties on the smaller c_id).
    */
  private lazy val StrideRankedSelect =
    s"""SELECT qn.vec_id, qn.v, qn.norm2, cent.c_id,
       |    row_number() OVER (PARTITION BY qn.vec_id ORDER BY
       |      ${sqlCos("cent.cv", "qn.v", "cent.cn2", "qn.norm2")} DESC, cent.c_id) AS c_rn
       |  FROM qn, cent""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    // ---- LLM-training-data operators ----
    "d_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |       count(*)::BIGINT AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,

    "d_ngram_jaccard" ->
      s"""WITH $NormCte, $ShCte,
         |$SzCte,
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |$JaccTail""".stripMargin,

    "d_minhash_lsh" ->
      s"""WITH $NormCte, $ShCte,
         |$MinhashCandCtes
         |$JaccTail""".stripMargin,

    // D17 bucket balance at the production geometry: the banded CTE is
    // the d_minhash_lsh_prod chain verbatim (shared hashParams +
    // bandKeyExpr generators), aggregated to per-band bucket stats
    // instead of joined — cand_pairs is the exact Σ n·(n−1) div 2 the
    // candidate join would face
    "d_bucket_balance" ->
      s"""WITH $NormCte, $ShCte,
         |${bandedCtes(Dedup.ProdBands, Dedup.ProdRows)},
         |bkt AS (
         |  SELECT band, band_key, count(*)::BIGINT AS n
         |  FROM banded GROUP BY band, band_key
         |)
         |SELECT band, sum(n)::BIGINT AS n_docs, count(*)::BIGINT AS n_buckets,
         |       sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT AS n_singletons,
         |       max(n)::BIGINT AS max_bucket,
         |       (sum(n * (n - 1)) // 2)::BIGINT AS cand_pairs
         |FROM bkt GROUP BY band ORDER BY band""".stripMargin,

    // production geometry: 64-hash param family (first 8 = the legacy
    // literals, 8+ LCG-extended — generated from the SAME Scala Seq
    // the Spark side uses) and the shared band-key combiner text from
    // Dedup.bandKeyExpr, so neither side can drift
    "d_minhash_lsh_prod" ->
      s"""WITH $NormCte, $ShCte,
         |${bandedCtes(Dedup.ProdBands, Dedup.ProdRows)},
         |${candPairsCtes()}
         |$JaccTail""".stripMargin,

    "d_simhash" ->
      s"""WITH $NormCte, $TokCte,
         |th AS (SELECT doc_id, ('0x' || substr(md5(tok),1,15))::BIGINT AS h FROM tok),
         |votes AS (
         |  SELECT doc_id, b,
         |         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)::BIGINT AS vote
         |  FROM th, range(0, 60) r(b) GROUP BY doc_id, b
         |),
         |shash AS (
         |  SELECT doc_id,
         |         sum(CASE WHEN vote > 0 THEN (1::BIGINT << b::INT) ELSE 0 END)::BIGINT AS simhash
         |  FROM votes GROUP BY doc_id
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
         |FROM shash a JOIN shash b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashMaxHamming
         |ORDER BY doc_a, doc_b""".stripMargin,

    "d_embedding_dedup" ->
      s"""WITH $EmbCte,
         |qq AS (SELECT qn.vec_id, qn.v, qn.norm2, bk.bucket
         |       FROM qn JOIN bk ON qn.vec_id = bk.vec_id)
         |SELECT vec_a, vec_b, cos_bp FROM (
         |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         |         ${sqlCosBp("x.v", "y.v", "x.norm2", "y.norm2")} AS cos_bp
         |  FROM qq x JOIN qq y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |) WHERE cos_bp >= $EmbedDedupCosBp ORDER BY vec_a, vec_b""".stripMargin,

    // w-token rolling windows over 20-bit token hashes (poly hash mod
    // 2^31-1, mirrors Dedup.repeatedSpans); zipped unnests explode the
    // per-doc position/window-hash lists. The toks/wins CTEs are shared
    // verbatim with the d_span_strip oracle (SpanWinsCtes) so the
    // signal row and the remedy row cannot drift.
    "d_repeated_spans" ->
      s"""WITH $NormCte,
         |$SpanWinsCtes,
         |per_doc AS (
         |  SELECT h, doc_id, count(*)::BIGINT AS n_in_doc FROM wins GROUP BY 1, 2
         |),
         |stats AS (
         |  SELECT h, sum(n_in_doc)::BIGINT AS n_occ, count(*)::BIGINT AS n_docs
         |  FROM per_doc GROUP BY h
         |),
         |rolled AS (
         |  SELECT p.doc_id,
         |    sum(p.n_in_doc)::BIGINT AS n_windows,
         |    sum(CASE WHEN s.n_occ > 1 THEN p.n_in_doc ELSE 0 END)::BIGINT AS n_dup_windows,
         |    sum(CASE WHEN s.n_docs > 1 THEN p.n_in_doc ELSE 0 END)::BIGINT AS n_xdoc_windows
         |  FROM per_doc p JOIN stats s ON p.h = s.h
         |  GROUP BY 1
         |)
         |SELECT d.doc_id,
         |  coalesce(r.n_windows, 0)::BIGINT AS n_windows,
         |  coalesce(r.n_dup_windows, 0)::BIGINT AS n_dup_windows,
         |  coalesce(r.n_xdoc_windows, 0)::BIGINT AS n_xdoc_windows
         |FROM documents d LEFT JOIN rolled r ON d.doc_id = r.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // ExactSubstr strip: shared wins CTEs -> packed-min first-occurrence
    // election per repeated hash -> covered token ranges removed ->
    // reassembled text hashed exactly
    "d_span_strip" ->
      s"""WITH $NormCte,
         |$SpanWinsCtes,
         |$SpanMarkedCtes,
         |tokpos AS (
         |  SELECT doc_id,
         |         unnest(generate_series(0, len(a)-1))::BIGINT AS p,
         |         unnest(a) AS tok
         |  FROM (SELECT doc_id, string_split(t, ' ') AS a FROM norm)
         |),
         |keptt AS (
         |  SELECT t.doc_id, t.p, t.tok
         |  FROM tokpos t LEFT JOIN covered c
         |    ON t.doc_id = c.doc_id AND t.p = c.p
         |  WHERE c.doc_id IS NULL
         |),
         |reb AS (
         |  SELECT doc_id, count(*)::BIGINT AS kept_tokens,
         |         string_agg(tok, ' ' ORDER BY p) AS stripped
         |  FROM keptt GROUP BY doc_id
         |),
         |nt AS (SELECT doc_id, len(string_split(t, ' '))::BIGINT AS n_toks FROM norm)
         |SELECT d.doc_id, nt.n_toks,
         |       coalesce(reb.kept_tokens, 0)::BIGINT AS kept_tokens,
         |       (nt.n_toks - coalesce(reb.kept_tokens, 0))::BIGINT AS dropped_tokens,
         |       ${sqlH60("coalesce(reb.stripped, '')")} AS stripped_hash
         |FROM documents d
         |JOIN nt ON d.doc_id = nt.doc_id
         |LEFT JOIN reb ON d.doc_id = reb.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "d_span_strip_maximal" ->
      s"""WITH $NormCte,
         |$SpanWinsCtes,
         |$SpanMarkedCtes,
         |isl AS (
         |  SELECT doc_id, p,
         |         p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
         |  FROM covered
         |)
         |SELECT doc_id, min(p)::BIGINT AS span_start,
         |       max(p)::BIGINT AS span_end, count(*)::BIGINT AS span_len
         |FROM isl GROUP BY doc_id, grp
         |ORDER BY doc_id, span_start""".stripMargin,

    // SemDeDup: the unrolled k-means chain supplies the trained
    // centroids; cell assignment mirrors the trained-IVF oracle, then
    // keep-first = no smaller-id within-cell neighbor at cos >= tau
    "d_semantic_dedup" -> semanticDedupSql(kCells = 32),

    // Same chain at the large-K regime — SQL identical but for k
    "d_semantic_dedup_k256" -> semanticDedupSql(kCells = 256),

    "a_knn_bruteforce" -> annBruteforceSql(5),

    "a_knn_lsh" -> annLshSql(3),
    "a_knn_rp" -> annRpSql(5),
    "a_knn_rp_recall" -> annRpRecallSql(RecallK),
    "a_knn_rp_ivf" -> annRpIvfSql(5),

    "a_knn_ivf" ->
      s"""WITH $EmbCte,
         |$StrideCentCte,
         |assigned AS (
         |  SELECT vec_id, v, norm2, c_id AS cell FROM (
         |    $StrideRankedSelect
         |  ) WHERE c_rn = 1
         |),
         |${scoredQ2C(BruteIds, "FROM assigned q2 JOIN assigned c\n" +
             s"    ON c.cell = q2.cell AND c.vec_id <> q2.vec_id\n  WHERE q2.vec_id < $KnnQueries")}
         |${topKTail(3)}""".stripMargin,

    "a_knn_ivf_probe2" ->
      s"""WITH $EmbCte,
         |$StrideCentCte,
         |ranked AS (
         |  $StrideRankedSelect
         |),
         |${assignedCte(from = "ranked")},
         |${probesCte(2, from = "ranked")},
         |$ProbedScoredCte
         |${topKTail(3)}""".stripMargin,

    // trained-IVF: the unrolled k-means chain supplies the centroid
    // CTE; cell assignment/probing then mirror the stride-IVF oracle
    "a_knn_ivf_trained" -> annIvfTrainedSql(3),

    "a_int8_quantize" ->
      s"""WITH $EmbCte, $Int8Cte
         |SELECT vec_id, maxabs,
         |       len(list_filter(c, x -> abs(x) = 127))::BIGINT AS n_sat,
         |       (list_sum(list_transform(c, x -> abs(x))))::BIGINT AS l1_q,
         |       (list_sum(list_transform(range(1,65),
         |          i -> (c[i::INT]*maxabs - v[i::INT]*127)
         |             * (c[i::INT]*maxabs - v[i::INT]*127))))::BIGINT AS err127_2
         |FROM cqn ORDER BY vec_id""".stripMargin,

    "a_knn_quantized" -> annQuantizedSql(5),

    // PQ codes: 4 independent 16-dim k-means chains; recon_err is the
    // exact integer sum of per-subspace assignment distances
    "a_pq_codes" -> {
      val (ctes, asgs, _) = pqCtes(k = Ann.PqK, iterations = 2)
      s"""WITH $QCte,
         |$ctes
         |SELECT a0.vec_id, a0.cluster AS c0, a1.cluster AS c1,
         |       a2.cluster AS c2, a3.cluster AS c3,
         |       (a0.d + a1.d + a2.d + a3.d)::BIGINT AS recon_err
         |${pqCodeJoin(asgs)}
         |ORDER BY a0.vec_id""".stripMargin
    },

    // ADC: per-query distance tables against each final codebook,
    // pair distance = 4 c_id equi-join lookups (never a 64-dim dot)
    "a_knn_pq" -> annPqSql(5),

    "a_knn_opq" -> annPqSql(5, srcCtes = OpqPermCtes, src = "qp"),

    // IVFADC: coarse k-means chain -> residuals -> PQ chains trained on
    // the residuals (src = "res") -> per-(query, probed-cell) ADC
    "a_knn_ivfpq" -> annIvfPqSql(5),
    "a_knn_pq_rerank" -> annRerankSql(annPqSql(50), 5),
    "a_knn_ivfpq_rerank" -> annRerankSql(annIvfPqSql(50), 5),
    "a_knn_ivfsq" -> annIvfSqSql(5),
    "a_cell_balance" -> cellBalanceSql(),

    // Recall@RecallK of every approximate ANN method vs brute-force
    // ground truth — each method's k=RecallK oracle chain embedded as
    // a locally-scoped subquery (DuckDB nests WITH inside derived
    // tables), so the recall table reuses the SAME per-method SQL the
    // individual gates run
    "a_ann_recall" -> annRecallSql(RecallK),

    "a_ann_recall_tuned" -> annRecallTunedSql(RecallK),

    "a_ann_recall_sampled" -> annRecallSampledSql(RecallK, sampleMod = 2),

    // A14: filtered vector search — predicate on the candidate scan,
    // full-corpus model; two selectivity shapes + the filtered recall
    // table at two probe budgets
    "a_knn_filtered" -> annIvfTrainedFilteredSql(3, probes = 2,
      pred = "e.label = 7"),

    "a_knn_filtered_escalated" -> annIvfTrainedFilteredEscalatedSql(3,
      probes = 1, pred = "e.label = 7"),

    "a_knn_ivfpq_filtered" -> annIvfPqSql(5, probes = 2,
      candPred = "e.label = 7"),

    "a_knn_ivfpq_filtered_escalated" -> annIvfPqSql(5, probes = 1,
      candPred = "e.label = 7", escalate = true),

    "a_knn_filtered_truth" -> annBruteforceFilteredSql(3,
      pred = "e.label < 5"),

    "a_knn_filtered_recall" -> annRecallFilteredSql(RecallK,
      Seq("sel10" -> "e.label = 7", "sel50" -> "e.label < 5"),
      probesList = Seq(1, 2)),

    // A15: hybrid RRF — all-BIGINT scoring, FULL OUTER rank fusion
    "a_hybrid_search" ->
      s"""WITH $NormCte, $TokCte,
         |$HybridLexCtes,
         |$EmbCte,
         |vecs AS (
         |  SELECT q2.vec_id AS q_id, c.vec_id AS doc_id,
         |    row_number() OVER (PARTITION BY q2.vec_id ORDER BY
         |      ${sqlCos("q2.v", "c.v", "q2.norm2", "c.norm2")} DESC, c.vec_id) AS vec_rank
         |  FROM qn q2 JOIN qn c ON c.vec_id <> q2.vec_id
         |  WHERE q2.vec_id < $KnnQueries
         |),
         |$HybridFusedTail""".stripMargin,

    // A15/IVF: same lexical leg + fusion, vector leg replayed through
    // the SAME Lloyd's-chain + probe-ranking CTEs the a_knn_ivf_trained
    // gate proves (kmeansCtes), so the two oracles cannot drift
    "a_hybrid_search_ivf" -> {
      val (ctes, _, cent) = kmeansCtes(k = 8, iterations = 2)
      s"""WITH $NormCte, $TokCte,
         |$HybridLexCtes,
         |${ctes.stripPrefix("WITH ")},
         |${rankedcCte(cent)},
         |${assignedCte()},
         |${probesCte(1)},
         |vecs AS (
         |  SELECT q2.q_id, c.vec_id AS doc_id,
         |    row_number() OVER (PARTITION BY q2.q_id ORDER BY
         |      ${sqlCos("q2.qv", "c.v", "q2.qn2", "c.norm2")} DESC, c.vec_id) AS vec_rank
         |  FROM probes q2 JOIN assigned c
         |    ON c.cell = q2.qcell AND c.vec_id <> q2.q_id
         |),
         |$HybridFusedTail""".stripMargin
    },

    "t_top_tokens" ->
      s"""WITH $NormCte, $TokCte
         |SELECT tok, count(*)::BIGINT AS n_occurrences,
         |       count(DISTINCT doc_id)::BIGINT AS n_docs
         |FROM tok GROUP BY tok
         |ORDER BY n_occurrences DESC, tok LIMIT 20""".stripMargin,

    "e_label_centroids" ->
      s"""WITH q AS (
        |  SELECT vec_id, label,
        |         $MilliV AS v
        |  FROM embeddings
        |),
        |per_dim AS (
        |  SELECT label, d,
        |         sum(v[d::INT])::BIGINT AS dim_sum,
        |         sum(abs(v[d::INT]))::BIGINT AS dim_abs
        |  FROM q, range(1, 65) r(d) GROUP BY label, d
        |)
        |SELECT p.label, c.n_vecs,
        |       sum(dim_abs)::BIGINT AS l1_mass,
        |       sum(dim_sum * dim_sum)::BIGINT AS centroid_norm_sq
        |FROM per_dim p
        |JOIN (SELECT label, count(*)::BIGINT AS n_vecs FROM q GROUP BY label) c
        |  ON p.label = c.label
        |GROUP BY p.label, c.n_vecs ORDER BY p.label""".stripMargin,

    "t_lang_id" ->
      s"""WITH $NormCte, $TokCte,
         |$LangMarkerCtes,
         |best AS (
         |  SELECT doc_id, cand_lang, n_hits FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY n_hits DESC, cand_lang) AS rn
         |    FROM hits
         |  ) WHERE rn = 1
         |)
         |SELECT d.doc_id, coalesce(b.cand_lang, 'und') AS pred_lang,
         |       d.lang AS actual_lang, coalesce(b.n_hits, 0)::BIGINT AS marker_hits
         |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "t_source_quality" ->
      s"""WITH $NormCte,
         |${qualityFeaturesCte("m")},
         |scored AS (
         |  SELECT d.source, m.wc,
         |    ${sqlQualityScore("m.")}::INT AS score
         |  FROM m JOIN documents d ON d.doc_id = m.doc_id
         |)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |       (sum(score) * 100 // count(*))::BIGINT AS mean_score_x100,
         |       sum(CASE WHEN score = 100 THEN 1 ELSE 0 END)::BIGINT AS n_full,
         |       sum(CASE WHEN score = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
         |       (sum(CASE WHEN score >= 50 THEN 1 ELSE 0 END) * 10000 // count(*))::BIGINT AS share_ge50_bp,
         |       (sum(wc) // count(*))::BIGINT AS mean_wc
         |FROM scored GROUP BY source ORDER BY source""".stripMargin,

    "t_quality_score" ->
      s"""WITH $NormCte,
         |${qualityFeaturesCte("m")}
         |SELECT doc_id, wc, sw_hits, (letters * 10 // wc)::BIGINT AS avg_wlen_x10,
         |  ${sqlQualityScore()}::INT AS score
         |FROM m ORDER BY doc_id""".stripMargin,

    "t_token_count" ->
      s"""WITH $NormCte
         |SELECT doc_id, len(string_split(t, ' '))::BIGINT AS ws_tokens,
         |       len(regexp_extract_all(lower(text), '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s'']+'))::BIGINT AS subword_tokens
         |FROM norm ORDER BY doc_id""".stripMargin,

    "t_tfidf_top_terms" ->
      s"""WITH $NormCte, $TokCte,
         |tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
         |idf AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
         |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.tok, (tf.tf * ((n.n_docs * 1000) // idf.df))::BIGINT AS score
         |  FROM tf JOIN idf ON tf.tok = idf.tok CROSS JOIN n
         |)
         |SELECT doc_id, rnk, tok, score FROM (
         |  SELECT *, (row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, tok))::INT AS rnk
         |  FROM scored
         |) WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    // T19 training replay: one generated CTE block per merge
    // iteration — pair counts from the double-space symbol strings,
    // argmax (count DESC, pair DESC = the (lhs, rhs) tuple order,
    // since ' ' sorts below the [a-z0-9] alphabet), then ONE
    // non-overlapping replace whose pattern owns its delimiters, so
    // the call IS the trainer's greedy single merge pass (runs
    // included: 'a a a a a' -> 'aa aa a' in both engines)
    "t_bpe_train" -> {
      // v$i is referenced twice (pair counts + next vocab) and b$i
      // twice (merge + output arm): MATERIALIZED, or DuckDB's CTE
      // inlining re-evaluates the chain exponentially in iterations
      // (24 doublings = 2^24 parquet scans — found as an fd explosion)
      val iters = (0 until BpeTrainN).map { i =>
        s"""s$i AS (SELECT string_split(trim(ws), '  ') AS s, cnt FROM v$i),
           |p$i AS (
           |  SELECT unnest(list_transform(range(1, len(s)),
           |                j -> s[j] || ' ' || s[j+1])) AS p, cnt
           |  FROM s$i WHERE len(s) >= 2
           |),
           |a$i AS (SELECT p, sum(cnt)::BIGINT AS c FROM p$i GROUP BY p),
           |b$i AS MATERIALIZED (
           |  SELECT p FROM a$i ORDER BY c DESC, p DESC LIMIT 1),
           |v${i + 1} AS MATERIALIZED (
           |  SELECT replace(ws,
           |           ' ' || split_part(p, ' ', 1) || '  ' ||
           |             split_part(p, ' ', 2) || ' ',
           |           ' ' || replace(p, ' ', '') || ' ') AS ws, cnt
           |  FROM v$i, b$i
           |)""".stripMargin
      }.mkString(",\n")
      val arms = (0 until BpeTrainN)
        .map(i => s"SELECT $i::INT AS rank, p FROM b$i")
        .mkString("\nUNION ALL ")
      s"""WITH $NormCte,
         |v0 AS MATERIALIZED (
         |  SELECT ' ' || trim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' ' AS ws,
         |         count(*)::BIGINT AS cnt
         |  FROM (
         |    SELECT unnest(string_split(t, ' ')) AS w FROM norm
         |    UNION ALL SELECT doc_id::VARCHAR AS w FROM documents
         |  ) WHERE w <> '' GROUP BY 1
         |),
         |$iters
         |SELECT rank, split_part(p, ' ', 1) AS lhs,
         |       split_part(p, ' ', 2) AS rhs
         |FROM ($arms)
         |ORDER BY rank""".stripMargin
    },

    // tokenizer-true counts: the oracle replays graft's greedy BPE as
    // a recursive CTE over the word VOCABULARY (not per occurrence) —
    // each iteration merges the best-ranked pair present via
    // boundary-anchored replace; chained runs may take extra
    // iterations but converge to the same fixpoint as the engine's
    // single-pass merge (see Bpe.scala scaladoc for the argument)
    "t_token_count_bpe" ->
      s"""WITH RECURSIVE $NormCte, $BpeTokCte
         |SELECT n.doc_id, len(string_split(n.t, ' '))::BIGINT AS ws_tokens,
         |       b.bpe_tokens
         |FROM norm n JOIN bpedoc b USING (doc_id)
         |ORDER BY n.doc_id""".stripMargin,

    "t_token_count_bpe_prod" ->
      s"""WITH RECURSIVE $BpeProdSrcCte, ${bpeTokCteOver("prodsrc")}
         |SELECT doc_id, bpe_tokens FROM bpedoc
         |ORDER BY doc_id""".stripMargin,

    "t_tokenizer_fit" -> tokenizerFitSql(BpeTokCte),

    "t_tokenizer_fit_d50" -> tokenizerFitSql(bpeTokCteOver("norm", depth = 50)),

    "t_tokenize_ids" ->
      s"""WITH RECURSIVE $NormCte, $BpeTokCte, $BpeIdsCte
         |SELECT doc_id, pos, token_id FROM docseq
         |ORDER BY doc_id, pos""".stripMargin,

    "p_pack_sequences_ids" ->
      s"""WITH RECURSIVE $NormCte, $BpeTokCte, $BpeIdsCte,
         |${packDocsCte("n.", "b.bpe_tokens", "norm n JOIN bpedoc b USING (doc_id)")},
         |c AS (
         |  SELECT doc_id, shard, ord_h, n_tok,
         |         sum(n_tok) OVER (PARTITION BY shard ORDER BY ord_h, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM d
         |),
         |assigned AS (
         |  SELECT doc_id, shard, ord_h, n_tok,
         |         ((cum - n_tok) // 256)::BIGINT AS seq_id
         |  FROM c
         |),
         |agg1 AS (
         |  SELECT shard, seq_id, count(*)::BIGINT AS n_docs,
         |         sum(n_tok)::BIGINT AS n_tokens
         |  FROM assigned GROUP BY 1, 2
         |),
         |r AS (
         |  SELECT a.shard, a.seq_id, s.token_id,
         |         row_number() OVER (PARTITION BY a.shard, a.seq_id
         |           ORDER BY a.ord_h, a.doc_id, s.pos) AS rn
         |  FROM assigned a JOIN docseq s USING (doc_id)
         |),
         |agg2 AS (
         |  SELECT shard, seq_id,
         |         sum(token_id::BIGINT * rn)::BIGINT AS ids_checksum
         |  FROM r GROUP BY 1, 2
         |)
         |SELECT a1.shard, a1.seq_id, a1.n_docs, a1.n_tokens,
         |       coalesce(a2.ids_checksum, 0)::BIGINT AS ids_checksum
         |FROM agg1 a1 LEFT JOIN agg2 a2 USING (shard, seq_id)
         |ORDER BY shard, seq_id""".stripMargin,

    "p_pack_sequences_bpe" ->
      s"""WITH RECURSIVE $NormCte, $BpeTokCte,
         |${packDocsCte("n.", "b.bpe_tokens", "norm n JOIN bpedoc b USING (doc_id)")},
         |$PackCumCte
         |$PackSeqsSql ORDER BY shard, seq_id""".stripMargin,

    "t_quota_sample" ->
      """SELECT source, rnk, doc_id FROM (
        |  SELECT source, doc_id,
        |         (row_number() OVER (PARTITION BY source ORDER BY
        |           ('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT, doc_id))::INT AS rnk
        |  FROM documents
        |) WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin,

    // DSIR-shaped importance selection: unigram+bigram grams hashed
    // into 1024 buckets, Laplace-smoothed integer probability-difference
    // weights (S = 1e9), score = sum over doc grams, kept = score >= 0
    "t_dsir_select" ->
      s"""WITH $NormCte,
         |toks AS (SELECT doc_id, lang, string_split(t, ' ') AS a FROM norm),
         |grams AS (
         |  SELECT doc_id,
         |         (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS is_tgt,
         |         (${sqlH60("gram")} % 1024) AS g
         |  FROM (
         |    SELECT doc_id, lang, $UniBigrams AS gram
         |    FROM toks
         |  )
         |),
         |dg AS (
         |  SELECT doc_id, g, max(is_tgt) AS is_tgt, count(*)::BIGINT AS c
         |  FROM grams GROUP BY 1, 2
         |),
         |cnt AS (
         |  SELECT g, sum(c)::BIGINT AS c_raw, sum(c * is_tgt)::BIGINT AS c_tgt
         |  FROM dg GROUP BY g
         |),
         |tot AS (SELECT sum(c_raw)::BIGINT AS tot_raw,
         |               sum(c_tgt)::BIGINT AS tot_tgt FROM cnt),
         |w AS (
         |  SELECT g, ((((c_tgt + 1)::HUGEINT * 1000000000) // (tot_tgt + 1024))
         |           - (((c_raw + 1)::HUGEINT * 1000000000) // (tot_raw + 1024)))::BIGINT AS w
         |  FROM cnt, tot
         |),
         |sc AS (
         |  SELECT dg.doc_id, sum(dg.c * w.w)::BIGINT AS score
         |  FROM dg JOIN w USING (g) GROUP BY dg.doc_id
         |)
         |SELECT d.doc_id, d.lang, coalesce(sc.score, 0)::BIGINT AS score,
         |       (CASE WHEN coalesce(sc.score, 0) >= 0 THEN 1 ELSE 0 END)::BIGINT AS kept
         |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "t_quality_model" ->
      s"""WITH $NormCte,
         |$QualityModelCtes
         |SELECT l.doc_id, l.in_train, l.lbl, m.m_score,
         |       (CASE WHEN m.m_score >= 0 THEN 1 ELSE 0 END)::BIGINT AS pred
         |FROM lab l JOIN msc m ON m.doc_id = l.doc_id
         |ORDER BY l.doc_id""".stripMargin,

    "d_model_keeper" ->
      s"""WITH RECURSIVE $NormCte, $ShCte,
         |$ClusterCtes,
         |$QualityModelCtes,
         |mlabels AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
         |mek AS (
         |  SELECT l.doc_id, l.cluster_id, m.m_score
         |  FROM mlabels l JOIN msc m ON m.doc_id = l.doc_id
         |),
         |mk AS (
         |  SELECT cluster_id, doc_id AS keeper_id FROM (
         |    SELECT cluster_id, doc_id, row_number() OVER (
         |      PARTITION BY cluster_id ORDER BY m_score DESC, doc_id) AS rn
         |    FROM mek
         |  ) WHERE rn = 1
         |)
         |SELECT e.doc_id, e.cluster_id, e.m_score, k.keeper_id,
         |       (CASE WHEN e.doc_id = k.keeper_id THEN 1 ELSE 0 END)::INT AS keep
         |FROM mek e JOIN mk k ON k.cluster_id = e.cluster_id
         |ORDER BY e.doc_id""".stripMargin,

    "d_contamination" ->
      s"""WITH $NormCte, $ShCte,
         |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0)
         |SELECT doc_id, count(*)::BIGINT AS shared_shingles
         |FROM sh
         |WHERE doc_id % 50 <> 0 AND h IN (SELECT h FROM bench)
         |GROUP BY doc_id
         |HAVING count(*) >= 3
         |ORDER BY doc_id""".stripMargin,

    // D19: the d_minhash_lsh chain with the candidate self-join
    // replaced by train x benchmark (doc_id % 10 = 7), then the same
    // exact-Jaccard verify tail
    "d_contamination_fuzzy" ->
      s"""WITH $NormCte, $ShCte,
         |${bandedCtes(4, 2)},
         |${candPairsCtes("WHERE x.doc_id % 10 <> 7 AND y.doc_id % 10 = 7")}
         |$JaccTail""".stripMargin,

    "t_sample_split" ->
      """SELECT doc_id, bucket,
        |       CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'validation'
        |            ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |         (('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100) AS bucket
        |  FROM documents
        |) ORDER BY doc_id""".stripMargin,

    "d_dedup_clusters" ->
      s"""WITH RECURSIVE $NormCte, $ShCte,
         |$ClusterCtes
         |SELECT doc_id, cluster_id,
         |       (CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END)::INT AS keep
         |FROM (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id)
         |ORDER BY doc_id""".stripMargin,

    "d_dedup_report" ->
      s"""WITH RECURSIVE $NormCte, $ShCte,
         |$ClusterCtes,
         |lbl AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
         |cs AS (SELECT cluster_id, count(*)::BIGINT AS cluster_n
         |       FROM lbl GROUP BY cluster_id)
         |SELECT d.source, count(*)::BIGINT AS n_docs,
         |       sum(CASE WHEN cs.cluster_n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
         |       sum(CASE WHEN lbl.doc_id <> lbl.cluster_id THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
         |       ((sum(CASE WHEN cs.cluster_n > 1 THEN 1 ELSE 0 END) * 10000)
         |         // count(*))::BIGINT AS dup_bp
         |FROM lbl JOIN cs ON cs.cluster_id = lbl.cluster_id
         |JOIN documents d ON d.doc_id = lbl.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "p_curated_corpus" ->
      s"""WITH RECURSIVE $NormCte, $ShCte,
         |$ClusterCtes,
         |$CurationStageCtes
         |SELECT d.doc_id, langp.pred_lang, quality.score, spl.split
         |FROM documents d
         |JOIN quality ON quality.doc_id = d.doc_id AND quality.score >= 75
         |JOIN langp ON langp.doc_id = d.doc_id AND langp.pred_lang = 'en'
         |JOIN keepers ON keepers.doc_id = d.doc_id
         |JOIN spl ON spl.doc_id = d.doc_id
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM contam)
         |  AND d.doc_id % 50 <> 0
         |ORDER BY d.doc_id""".stripMargin,

    // first-fail attribution over the SAME stage CTEs as the pipeline
    // oracle (shared fragment — the two can't drift apart)
    "p_curation_audit" ->
      s"""WITH RECURSIVE $NormCte, $ShCte,
         |$ClusterCtes,
         |$CurationStageCtes,
         |fates AS (
         |  SELECT d.doc_id,
         |    CASE WHEN q.score < 75 THEN 'fail_quality'
         |         WHEN lp.pred_lang <> 'en' THEN 'fail_lang'
         |         WHEN k.doc_id IS NULL THEN 'dup_dropped'
         |         WHEN c.doc_id IS NOT NULL THEN 'contaminated'
         |         WHEN d.doc_id % 50 = 0 THEN 'benchmark'
         |         ELSE 'kept_' || spl.split END AS fate
         |  FROM documents d
         |  JOIN quality q ON q.doc_id = d.doc_id
         |  JOIN langp lp ON lp.doc_id = d.doc_id
         |  LEFT JOIN keepers k ON k.doc_id = d.doc_id
         |  LEFT JOIN contam c ON c.doc_id = d.doc_id
         |  JOIN spl ON spl.doc_id = d.doc_id
         |)
         |SELECT fate, count(*)::BIGINT AS n_docs, sum(doc_id)::BIGINT AS id_sum
         |FROM fates GROUP BY fate ORDER BY fate""".stripMargin,

    "t_fingerprint" ->
      s"""WITH $NormCte
         |SELECT doc_id,
         |  list_reduce(
         |    list_prepend(0::BIGINT,
         |      list_transform(string_split(t, ' '), x -> ${H20.format("x")})),
         |    (a, b) -> (a * 31 + b) % 2147483647) AS fingerprint
         |FROM norm ORDER BY doc_id""".stripMargin,

    // image rows: the oracle reproduces the deterministic synthesis
    // params; Spark's values come from REALLY decoding the PNG bytes,
    // so equality proves the decode round-trips. audio/video: md5 stub.
    "x_multimodal_features" ->
      s"""WITH $MediaCte
        |SELECT doc_id, media_type,
        |       (CASE media_type
        |          WHEN 'image' THEN doc_id % 64 + 1
        |          WHEN 'audio' THEN ([8000,11025,16000,22050])[(doc_id % 4)::INT + 1]
        |          ELSE doc_id % 32 + 1 END)::BIGINT AS width,
        |       (CASE media_type
        |          WHEN 'image' THEN doc_id % 48 + 1
        |          WHEN 'audio' THEN doc_id % 2 + 1
        |          ELSE doc_id % 24 + 1 END)::BIGINT AS height,
        |       (CASE media_type
        |          WHEN 'audio' THEN (doc_id * 2654435761) % 65536 - 32768
        |          ELSE (doc_id * 2654435761) % 16777216 END)::BIGINT AS pixel_rgb,
        |       (CASE media_type
        |          WHEN 'image' THEN 1
        |          WHEN 'audio' THEN doc_id % 400 + 50
        |          ELSE doc_id % 8 + 2 END)::BIGINT AS frames
        |FROM m ORDER BY doc_id""".stripMargin,

    "x_resize" ->
      s"""WITH $MediaCte
        |SELECT doc_id,
        |       greatest(1, (doc_id % 64 + 1) // 2)::BIGINT AS width,
        |       greatest(1, (doc_id % 48 + 1) // 2)::BIGINT AS height,
        |       ((doc_id * 2654435761) % 16777216)::BIGINT AS pixel_rgb
        |FROM m WHERE media_type = 'image' ORDER BY doc_id""".stripMargin,

    "x_frame_sample" ->
      s"""WITH $MediaCte,
        |v AS (SELECT doc_id, doc_id % 8 + 2 AS n FROM m WHERE media_type = 'video')
        |SELECT doc_id, (2 * t.i)::BIGINT AS frame_idx,
        |       (doc_id % 32 + 1)::BIGINT AS width,
        |       (doc_id % 24 + 1)::BIGINT AS height,
        |       ((doc_id * 2654435761) % 16777216)::BIGINT AS pixel_rgb
        |FROM v CROSS JOIN range(0, 5) t(i)
        |WHERE 2 * t.i < v.n
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "x_audio_resample" ->
      s"""WITH $MediaCte
        |SELECT doc_id,
        |       (([8000,11025,16000,22050])[(doc_id % 4)::INT + 1] // 2)::BIGINT AS width,
        |       (doc_id % 2 + 1)::BIGINT AS height,
        |       ((doc_id * 2654435761) % 65536 - 32768)::BIGINT AS pixel_rgb,
        |       (((doc_id % 400 + 50) + 1) // 2)::BIGINT AS frames
        |FROM m WHERE media_type = 'audio' ORDER BY doc_id""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 0)::BIGINT AS sum_qty,
        |  round(sum(l_extendedprice), 0)::BIGINT AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 0)::BIGINT AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 0)::BIGINT AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*)::BIGINT AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT o_orderkey, o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)) * 100, 0)::BIGINT AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
        |GROUP BY o_orderkey, o_orderpriority
        |ORDER BY revenue_cents DESC, o_orderkey LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)) * 100, 0)::BIGINT AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue_cents DESC, n_name""".stripMargin,

    "q6_revenue_change" ->
      """SELECT round(sum(l_extendedprice * l_discount) * 100, 0)::BIGINT AS revenue_cents,
        |       count(*)::BIGINT AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.06
        |  AND l_quantity < 24""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_mktsegment,
        |  round(sum(l_extendedprice * (1 - l_discount)) * 100, 0)::BIGINT AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY c_custkey, c_name, c_mktsegment
        |ORDER BY revenue_cents DESC, c_custkey LIMIT 20""".stripMargin,

    "q_top_parts_per_brand" ->
      """WITH rev AS (
        |  SELECT p_brand, p_partkey,
        |    round(sum(l_extendedprice * (1 - l_discount)) * 100, 0)::BIGINT AS revenue_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, p_partkey
        |), ranked AS (
        |  SELECT *, rank() OVER (PARTITION BY p_brand
        |    ORDER BY revenue_cents DESC, p_partkey) AS brand_rank
        |  FROM rev
        |)
        |SELECT p_brand, brand_rank::INT AS brand_rank, p_partkey, revenue_cents
        |FROM ranked WHERE brand_rank <= 3
        |ORDER BY p_brand, brand_rank""".stripMargin,

    "q_rollup_revenue" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       round(sum(o_totalprice) * 100, 0)::BIGINT AS total_cents,
        |       count(*)::BIGINT AS n_orders
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q_orders_no_lineitems" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
        |       round(sum(o_totalprice) * 100, 0)::BIGINT AS total_cents
        |FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_customers_with_orders" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS n_customers
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_distinct_users" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
        |       count(DISTINCT user_id)::BIGINT AS n_users,
        |       round(sum(value) * 100, 0)::BIGINT AS value_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_user_running_value" ->
      """WITH e AS (
        |  SELECT user_id, event_id, round(value * 100, 0)::BIGINT AS value_cents
        |  FROM events
        |)
        |SELECT user_id, event_id, value_cents,
        |  sum(value_cents) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS run_cents,
        |  count(*) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS run_events
        |FROM e ORDER BY user_id, event_id""".stripMargin,

    "q4_late_priority" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND (epoch_us(l_shipdate) // 1000000) - (epoch_us(o_orderdate) // 1000000) > 90 * 86400)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q12_qty_priority" ->
      """SELECT CASE WHEN l_quantity >= 25 THEN 'HIGH' ELSE 'LOW' END AS qty_class,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_priority,
        |  sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS low_priority
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY qty_class""".stripMargin,

    "q14_promo_revenue" ->
      """WITH j AS (
        |  SELECT p_type, l_extendedprice, l_discount
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
        |)
        |SELECT
        |  round(sum(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0 END) * 100, 0)::BIGINT AS promo_cents,
        |  round(sum(l_extendedprice * (1 - l_discount)) * 100, 0)::BIGINT AS total_cents,
        |  (round(sum(CASE WHEN p_type = 'PROMO'
        |     THEN l_extendedprice * (1 - l_discount) ELSE 0 END) * 100, 0)::BIGINT * 10000)
        |    // round(sum(l_extendedprice * (1 - l_discount)) * 100, 0)::BIGINT AS promo_bp
        |FROM j""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, round(sum(l_quantity), 0)::BIGINT AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING round(sum(l_quantity), 0)::BIGINT > 300
        |)
        |SELECT c_custkey, c_name, o_orderkey, total_qty,
        |       round(o_totalprice * 100, 0)::BIGINT AS total_cents
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_cents DESC, o_orderkey LIMIT 25""".stripMargin,

    "q22_idle_rich" ->
      """WITH c AS (
        |  SELECT *, round(c_acctbal * 100, 0)::BIGINT AS bal_cents FROM customer
        |),
        |t AS (
        |  SELECT sum(bal_cents)::BIGINT::DOUBLE / count(*) AS avg_cents
        |  FROM c WHERE bal_cents > 0
        |)
        |SELECT c_mktsegment, count(*)::BIGINT AS n_customers,
        |       sum(bal_cents)::BIGINT AS total_cents
        |FROM c, t
        |WHERE bal_cents > avg_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // rank-based fixed-point quantiles: pos in integer tenths, output
    // in integer milli-cents — exact integers end-to-end, no FP
    // boundary between engines (mirrors Analytics.valueQuantiles)
    "q_value_quantiles" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type ORDER BY value) - 1 AS gr,
        |         count(*) OVER (PARTITION BY event_type) AS n_grp
        |  FROM events
        |), t AS (
        |  SELECT event_type, q, pt,
        |         ((pt*(n_grp-1)) // 10)::BIGINT AS lo,
        |         ((pt*(n_grp-1)) % 10)::BIGINT AS m
        |  FROM (SELECT DISTINCT event_type, n_grp FROM r)
        |  CROSS JOIN (VALUES ('p50', 5), ('p90', 9)) v(q, pt)
        |), s AS (
        |  SELECT t.event_type, t.q, t.m,
        |         round(max(CASE WHEN gr = lo THEN value END)*100, 0)::BIGINT AS c_lo,
        |         round(coalesce(max(CASE WHEN gr = lo+1 THEN value END),
        |                        max(CASE WHEN gr = lo THEN value END))*100, 0)::BIGINT AS c_hi
        |  FROM r JOIN t ON r.event_type = t.event_type
        |             AND (r.gr = t.lo OR r.gr = t.lo + 1)
        |  GROUP BY t.event_type, t.q, t.m
        |), mm AS (
        |  SELECT event_type,
        |         round(min(value)*100, 0)::BIGINT AS vmin_cents,
        |         round(max(value)*100, 0)::BIGINT AS vmax_cents
        |  FROM events GROUP BY event_type
        |)
        |SELECT s.event_type,
        |  max(CASE WHEN q='p50' THEN 10*c_lo + m*(c_hi-c_lo) END)::BIGINT AS p50_mc,
        |  max(CASE WHEN q='p90' THEN 10*c_lo + m*(c_hi-c_lo) END)::BIGINT AS p90_mc,
        |  any_value(mm.vmin_cents) AS vmin_cents,
        |  any_value(mm.vmax_cents) AS vmax_cents
        |FROM s JOIN mm ON s.event_type = mm.event_type
        |GROUP BY s.event_type ORDER BY s.event_type""".stripMargin,

    "q_grouping_sets" ->
      """SELECT coalesce(event_type, 'ALL') AS et,
        |       coalesce((user_id % 8)::INT, -1) AS p,
        |       count(*)::BIGINT AS n_events,
        |       round(sum(value) * 100, 0)::BIGINT AS value_cents
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), ((user_id % 8)::INT), ())
        |ORDER BY et, p""".stripMargin,

    "q_salted_user_join" ->
      """WITH dim AS (
        |  SELECT user_id, count(*)::BIGINT AS user_events
        |  FROM events GROUP BY user_id
        |)
        |SELECT e.event_type, count(*)::BIGINT AS n_events,
        |       sum(d.user_events)::BIGINT AS sum_user_events
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "q_resample_hourly" ->
      """WITH b AS (
        |  SELECT user_id,
        |         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
        |         event_id, round(value * 100, 0)::BIGINT AS value_cents
        |  FROM events
        |), r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY user_id, hour ORDER BY event_id) AS rn_first,
        |    row_number() OVER (PARTITION BY user_id, hour ORDER BY event_id DESC) AS rn_last
        |  FROM b
        |)
        |SELECT user_id, hour, count(*)::BIGINT AS n_events,
        |       max(CASE WHEN rn_first = 1 THEN value_cents END) AS open_cents,
        |       max(CASE WHEN rn_last = 1 THEN value_cents END) AS close_cents,
        |       min(value_cents) AS low_cents,
        |       max(value_cents) AS high_cents
        |FROM r GROUP BY user_id, hour ORDER BY user_id, hour""".stripMargin,

    "d_edit_distance" ->
      s"""WITH $NormCte, $ShCte,
         |$MinhashCandCtes,
         |$VerifiedCte,
         |pfx AS (SELECT doc_id, substr(t, 1, 100) AS prefix FROM norm)
         |SELECT v.doc_a, v.doc_b,
         |       levenshtein(a.prefix, b.prefix)::INT AS edit_dist
         |FROM verified v
         |JOIN pfx a ON a.doc_id = v.doc_a
         |JOIN pfx b ON b.doc_id = v.doc_b
         |ORDER BY v.doc_a, v.doc_b""".stripMargin,

    "q_range_ship_density" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS nearby_shipments,
        |       count(DISTINCT o_orderkey)::BIGINT AS n_orders
        |FROM orders o JOIN lineitem l
        |  ON abs((epoch_us(o.o_orderdate) // 1000000) - (epoch_us(l.l_shipdate) // 1000000)) <= 86400
        | AND l.l_orderkey <> o.o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_asof_purchase" ->
      """WITH p AS (
        |  SELECT user_id, ts, event_id AS purchase_id FROM events
        |  WHERE event_type = 'purchase'
        |)
        |SELECT e.user_id, e.event_id,
        |       coalesce(p.purchase_id, -1)::BIGINT AS last_purchase_id,
        |       coalesce((epoch_us(e.ts) - epoch_us(p.ts)) // 1000000, -1)::BIGINT AS secs_since_purchase
        |FROM events e ASOF LEFT JOIN p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.user_id, e.event_id""".stripMargin,

    "q_sessionization" ->
      """WITH f AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) // 1000000 AS epoch,
        |         lag(epoch_us(ts) // 1000000) OVER
        |           (PARTITION BY user_id ORDER BY event_id) AS prev_epoch
        |  FROM events
        |), s AS (
        |  SELECT *, sum(CASE WHEN prev_epoch IS NULL OR epoch - prev_epoch > 1800
        |                     THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_seq
        |  FROM f
        |)
        |SELECT user_id, session_seq, count(*)::BIGINT AS n_events,
        |       min(epoch) AS start_epoch, max(epoch) AS end_epoch,
        |       round(sum(value) * 100, 0)::BIGINT AS value_cents
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    "q_activity_pivot" ->
      """SELECT (user_id % 8)::INT AS part_id,
        |  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
        |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error,
        |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
        |  sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS n_signup,
        |  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_view,
        |  round(sum(value) * 100, 0)::BIGINT AS value_cents
        |FROM events GROUP BY 1 ORDER BY part_id""".stripMargin,

    "r_message_framing" ->
      s"""WITH $MsgCte
         |SELECT part_id, msg_offset, key, msg_value, msg_size, event_type
         |FROM messages ORDER BY part_id, msg_offset""".stripMargin,

    "r_segment_assign_count" ->
      s"""WITH $MsgCte, $SegCte
         |SELECT part_id, seg_seq, start_offset, end_offset, message_count,
         |       seg_bytes, level
         |FROM segs ORDER BY part_id, seg_seq""".stripMargin,

    "r_segment_assign_age" ->
      s"""WITH $MsgCte
         |SELECT part_id, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS seg_day,
         |       min(msg_offset) AS start_offset, max(msg_offset) AS end_offset,
         |       count(*)::BIGINT AS message_count, sum(msg_size)::BIGINT AS seg_bytes
         |FROM messages GROUP BY 1, 2 ORDER BY part_id, seg_day""".stripMargin,

    "r_segment_assign_size" ->
      s"""WITH RECURSIVE $MsgCte,
         |m AS (SELECT part_id, msg_offset, msg_size FROM messages),
         |roll AS (
         |  SELECT part_id, msg_offset, msg_size,
         |         msg_offset AS seg_start, msg_size AS acc_bytes, 1::BIGINT AS acc_cnt,
         |         (msg_size >= $SegMaxBytes OR 1 >= $SegSizeMaxMessages) AS closed
         |  FROM m WHERE msg_offset = 0
         |  UNION ALL
         |  SELECT m.part_id, m.msg_offset, m.msg_size,
         |         CASE WHEN r.closed THEN m.msg_offset ELSE r.seg_start END,
         |         CASE WHEN r.closed THEN m.msg_size ELSE r.acc_bytes + m.msg_size END,
         |         CASE WHEN r.closed THEN 1 ELSE r.acc_cnt + 1 END,
         |         ((CASE WHEN r.closed THEN m.msg_size ELSE r.acc_bytes + m.msg_size END) >= $SegMaxBytes
         |          OR (CASE WHEN r.closed THEN 1 ELSE r.acc_cnt + 1 END) >= $SegSizeMaxMessages)
         |  FROM roll r JOIN m ON m.part_id = r.part_id AND m.msg_offset = r.msg_offset + 1
         |)
         |SELECT part_id,
         |       (row_number() OVER (PARTITION BY part_id ORDER BY seg_start) - 1)::BIGINT AS seg_seq,
         |       seg_start AS start_offset, max_off AS end_offset,
         |       message_count, seg_bytes, 0::INT AS level
         |FROM (
         |  SELECT part_id, seg_start, max(msg_offset) AS max_off,
         |         count(*)::BIGINT AS message_count, sum(msg_size)::BIGINT AS seg_bytes
         |  FROM roll GROUP BY part_id, seg_start
         |)
         |ORDER BY part_id, seg_seq""".stripMargin,

    "r_stream_audit" ->
      s"""WITH $MsgCte,
         |stream AS (
         |  SELECT part_id, msg_offset FROM messages WHERE event_id % 97 <> 13
         |  UNION ALL
         |  SELECT part_id, msg_offset FROM messages WHERE event_id % 101 = 7
         |),
         |flagged AS (
         |  SELECT part_id, msg_offset,
         |         lag(msg_offset) OVER (PARTITION BY part_id ORDER BY msg_offset) AS prev_offset
         |  FROM stream
         |)
         |SELECT part_id, count(*)::BIGINT AS n_messages,
         |       sum(CASE WHEN msg_offset = prev_offset THEN 1 ELSE 0 END)::BIGINT AS n_dups,
         |       sum(CASE WHEN prev_offset IS NOT NULL AND msg_offset > prev_offset + 1
         |                THEN 1 ELSE 0 END)::BIGINT AS n_gaps,
         |       sum(CASE WHEN prev_offset IS NOT NULL AND msg_offset > prev_offset + 1
         |                THEN msg_offset - prev_offset - 1 ELSE 0 END)::BIGINT AS n_missing
         |FROM flagged GROUP BY part_id ORDER BY part_id""".stripMargin,

    "r_checkpoint" ->
      s"""WITH $MsgCte, $SegCte, $CkptCte
         |SELECT part_id, ckpt_offset FROM ckpt ORDER BY part_id""".stripMargin,

    "r_gap_detection" ->
      s"""WITH $MsgCte, $SegCte, $PresentSegCte,
         |${lostRangesSql("present")}""".stripMargin,

    "r_lost_ranges" ->
      s"""WITH $MsgCte, $SegCte, $PresentSegCte,
         |aug AS (
         |  SELECT part_id, start_offset, end_offset FROM present
         |  UNION ALL
         |  SELECT part_id, start_offset + 10, start_offset + 40 FROM present
         |  WHERE seg_seq % 5 = 1 AND message_count = $SegMaxMessages
         |),
         |${lostRangesSql("aug")}""".stripMargin,

    "r_ingress_replay" ->
      s"""WITH $MsgCte, $SegCte, $PresentSegCte, $CkptCte,
         |covered AS (
         |  SELECT DISTINCT m.part_id, m.msg_offset, m.key, m.msg_size
         |  FROM messages m JOIN present p
         |    ON m.part_id = p.part_id
         |   AND m.msg_offset BETWEEN p.start_offset AND p.end_offset
         |),
         |after_ckpt AS (
         |  SELECT c.* FROM covered c LEFT JOIN ckpt k ON c.part_id = k.part_id
         |  WHERE k.ckpt_offset IS NULL OR c.msg_offset > k.ckpt_offset
         |)
         |SELECT part_id, msg_offset,
         |       (row_number() OVER (PARTITION BY part_id ORDER BY msg_offset) - 1)::BIGINT AS replay_seq,
         |       key, msg_size
         |FROM after_ckpt ORDER BY part_id, msg_offset""".stripMargin,

    "r_compaction_plan" ->
      s"""WITH $MsgCte, $SegCte, $PlanCte
         |SELECT part_id, bin, input_segments, start_offset, end_offset,
         |       message_count, seg_bytes, level
         |FROM plan ORDER BY part_id, bin""".stripMargin,

    "r_compaction_plan_leveled" ->
      s"""WITH $MsgCte, $SegCte,
         |lvl AS (
         |  SELECT part_id, start_offset, end_offset, seg_bytes,
         |         CASE WHEN seg_seq < 2 THEN 3
         |              WHEN seg_seq % 2 = 0 THEN 1 ELSE 2 END AS level,
         |         (1000 + seg_seq * 10)::BIGINT AS created_epoch
         |  FROM segs
         |  UNION ALL
         |  SELECT part_id, start_offset + 10, start_offset + 40, 100::BIGINT,
         |         1, 1000::BIGINT
         |  FROM segs WHERE seg_seq = 2
         |),
         |resume AS (
         |  SELECT part_id, max(end_offset) AS resume_end FROM lvl
         |  WHERE level > 2 GROUP BY part_id
         |),
         |flagged AS (
         |  SELECT *,
         |    CASE WHEN contained = false AND cnt_before < 3
         |              AND bytes_before < 1000000000000000 THEN true
         |         ELSE false END AS included
         |  FROM (
         |    SELECT *,
         |      coalesce(sum(CASE WHEN NOT contained THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY part_id ORDER BY start_offset, end_offset
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnt_before,
         |      coalesce(sum(CASE WHEN NOT contained THEN seg_bytes END)
         |        OVER (PARTITION BY part_id ORDER BY start_offset, end_offset
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bytes_before
         |    FROM (
         |      SELECT *,
         |        (end_offset <= base) AS contained,
         |        sum(CASE WHEN base >= 0 AND start_offset > base + 1
         |                      AND end_offset > base THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY part_id ORDER BY start_offset, end_offset
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gaps_so_far
         |      FROM (
         |        SELECT e.*, r.resume_end,
         |          greatest(
         |            coalesce(max(end_offset) OVER (PARTITION BY e.part_id
         |              ORDER BY start_offset, end_offset
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1),
         |            coalesce(r.resume_end, -1)) AS base
         |        FROM (SELECT * FROM lvl
         |              WHERE level BETWEEN 1 AND 2 AND created_epoch <= 2000 - 950) e
         |        LEFT JOIN resume r ON e.part_id = r.part_id
         |      )
         |    ) WHERE gaps_so_far = 0
         |  )
         |),
         |consumed AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY part_id ORDER BY start_offset, end_offset) AS idx,
         |    max(CASE WHEN included THEN idx0 END) OVER (PARTITION BY part_id) AS last_inc
         |  FROM (SELECT *, row_number() OVER (PARTITION BY part_id
         |          ORDER BY start_offset, end_offset) AS idx0 FROM flagged)
         |)
         |SELECT part_id, start_offset, end_offset, input_segments, in_bytes,
         |       out_level, (end_offset - start_offset + 1)::BIGINT AS message_count
         |FROM (
         |  SELECT part_id,
         |    coalesce(max(resume_end) + 1, min(CASE WHEN included THEN start_offset END)) AS start_offset,
         |    max(CASE WHEN included THEN end_offset END) AS end_offset,
         |    sum(CASE WHEN included THEN 1 ELSE 0 END)::BIGINT AS input_segments,
         |    sum(CASE WHEN included THEN seg_bytes END)::BIGINT AS in_bytes,
         |    (max(CASE WHEN idx0 <= last_inc THEN level END) + 1)::INT AS out_level
         |  FROM consumed GROUP BY part_id
         |)
         |WHERE input_segments >= 2 AND in_bytes >= 1
         |ORDER BY part_id""".stripMargin,

    "r_compacted_merge" ->
      s"""WITH $MsgCte, $SegCte, $PlanCte,
         |merged AS (
         |  SELECT DISTINCT m.part_id, p.bin, p.level, m.msg_offset, m.msg_size
         |  FROM messages m JOIN plan p
         |    ON m.part_id = p.part_id
         |   AND m.msg_offset BETWEEN p.start_offset AND p.end_offset
         |)
         |SELECT part_id, bin, level, count(*)::BIGINT AS message_count,
         |       min(msg_offset) AS merged_start, max(msg_offset) AS merged_end,
         |       sum(msg_size)::BIGINT AS merged_bytes
         |FROM merged GROUP BY part_id, bin, level
         |ORDER BY part_id, bin""".stripMargin,

    "r_header_stats" ->
      s"""WITH $MsgCte
         |SELECT part_id, count(*)::BIGINT AS n_messages,
         |       sum(cast(json_extract(msg_value, '$$.k') AS INTEGER))::BIGINT AS k_sum,
         |       min(cast(json_extract(msg_value, '$$.k') AS INTEGER)) AS k_min,
         |       max(cast(json_extract(msg_value, '$$.k') AS INTEGER)) AS k_max
         |FROM messages GROUP BY part_id ORDER BY part_id""".stripMargin,

    "r_store_reconcile" ->
      s"""WITH $MsgCte, $SegCte,
         |l AS (SELECT part_id, seg_seq, 1 AS in_list FROM segs WHERE seg_seq % 13 <> 7),
         |e AS (SELECT part_id, seg_seq, 1 AS in_events FROM segs WHERE seg_seq % 11 <> 5)
         |SELECT coalesce(l.part_id, e.part_id) AS part_id,
         |       coalesce(l.seg_seq, e.seg_seq) AS seg_seq,
         |       coalesce(in_list, 0)::INT AS in_list,
         |       coalesce(in_events, 0)::INT AS in_events,
         |       CASE WHEN in_events IS NULL THEN 'missing_event'
         |            ELSE 'missing_object' END AS status
         |FROM l FULL OUTER JOIN e USING (part_id, seg_seq)
         |WHERE in_list IS NULL OR in_events IS NULL
         |ORDER BY part_id, seg_seq""".stripMargin,

    "r_store_list_consistent" ->
      s"""WITH $MsgCte, $SegCte,
         |l AS (SELECT part_id, seg_seq, end_offset AS list_ts FROM segs WHERE seg_seq % 13 <> 7),
         |ev AS (
         |  SELECT part_id, seg_seq, 'created' AS event_type, end_offset + 1 AS event_ts
         |  FROM segs WHERE seg_seq % 11 <> 5
         |  UNION ALL
         |  SELECT part_id, seg_seq, 'removed', end_offset + 100 FROM segs WHERE seg_seq % 7 = 3
         |  UNION ALL
         |  SELECT part_id, seg_seq, 'removed', end_offset - 50 FROM segs WHERE seg_seq % 7 = 4
         |),
         |lastev AS (
         |  SELECT part_id, seg_seq, event_type, event_ts FROM (
         |    SELECT *, row_number() OVER (PARTITION BY part_id, seg_seq ORDER BY event_ts DESC) AS rn
         |    FROM ev WHERE event_ts >= 900) WHERE rn = 1
         |),
         |m AS (
         |  SELECT coalesce(l.part_id, lastev.part_id) AS part_id,
         |         coalesce(l.seg_seq, lastev.seg_seq) AS seg_seq,
         |         l.list_ts, lastev.event_type, lastev.event_ts
         |  FROM l FULL OUTER JOIN lastev
         |    ON l.part_id = lastev.part_id AND l.seg_seq = lastev.seg_seq)
         |SELECT part_id, seg_seq,
         |       coalesce(list_ts, event_ts)::BIGINT AS seen_ts,
         |       CASE WHEN list_ts IS NOT NULL THEN 'listed'
         |            ELSE 'event_created' END AS origin
         |FROM m
         |WHERE (list_ts IS NOT NULL
         |       AND NOT coalesce(event_type = 'removed' AND event_ts > list_ts, false))
         |   OR (list_ts IS NULL AND event_type = 'created')
         |ORDER BY part_id, seg_seq""".stripMargin,

    "r_store_dead_events" ->
      s"""WITH $MsgCte, $SegCte,
         |raw AS (
         |  SELECT part_id * 100000 + seg_seq AS event_id,
         |         CASE
         |           WHEN seg_seq % 17 = 2 THEN
         |             '{"p":' || part_id || ',"t":"created","ts":' || end_offset || '}'
         |           WHEN seg_seq % 19 = 3 THEN
         |             '{"p":' || part_id || ',"s":' || seg_seq || ',"t":"updated","ts":' || end_offset || '}'
         |           WHEN seg_seq % 29 = 6 THEN
         |             '{"p":"x","s":' || seg_seq || ',"t":"created","ts":' || end_offset || '}'
         |           ELSE
         |             '{"p":' || part_id || ',"s":' || seg_seq || ',"t":"created","ts":' || end_offset || '}'
         |         END AS body,
         |         CASE WHEN seg_seq % 23 = 4 THEN 7 ELSE 1 + seg_seq % 3 END::BIGINT AS receive_count
         |  FROM segs
         |),
         |parsed AS (
         |  SELECT event_id,
         |         TRY_CAST(json_extract_string(body, '$$.p') AS BIGINT) AS part_id,
         |         TRY_CAST(json_extract_string(body, '$$.s') AS BIGINT) AS seg_seq,
         |         json_extract_string(body, '$$.t') AS event_type,
         |         TRY_CAST(json_extract_string(body, '$$.ts') AS BIGINT) AS event_ts,
         |         receive_count
         |  FROM raw
         |)
         |SELECT event_id,
         |       coalesce(part_id, -1)::BIGINT AS part_id,
         |       coalesce(seg_seq, -1)::BIGINT AS seg_seq,
         |       coalesce(event_type, '') AS event_type,
         |       coalesce(event_ts, -1)::BIGINT AS event_ts,
         |       receive_count,
         |       CASE WHEN part_id IS NULL OR seg_seq IS NULL OR event_ts IS NULL
         |              OR event_type IS NULL OR event_type NOT IN ('created', 'removed')
         |            THEN 'malformed_dead'
         |            WHEN receive_count >= 5 THEN 'poison_dead'
         |            ELSE 'ok' END AS status
         |FROM parsed
         |ORDER BY event_id""".stripMargin,

    "r_replay_metrics" ->
      s"""WITH $MsgCte, $SegCte, $PresentSegCte,
         |arr AS (
         |  SELECT part_id, start_offset, end_offset,
         |         (seg_seq*2 + CASE WHEN seg_seq % 9 = 4 THEN 3 ELSE 0 END)::BIGINT AS arrival_seq
         |  FROM present
         |  UNION ALL
         |  SELECT part_id, start_offset, end_offset, (seg_seq*2 + 1)::BIGINT
         |  FROM present WHERE seg_seq % 5 = 2
         |),
         |f AS (
         |  SELECT *,
         |    coalesce(max(end_offset) OVER (PARTITION BY part_id
         |      ORDER BY arrival_seq, start_offset, end_offset
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS prior_max,
         |    row_number() OVER (PARTITION BY part_id, start_offset, end_offset
         |      ORDER BY arrival_seq) AS dup_n
         |  FROM arr
         |),
         |base AS (
         |  SELECT part_id, count(*)::BIGINT AS n_arrivals,
         |    sum(CASE WHEN dup_n > 1 THEN 1 ELSE 0 END)::BIGINT AS segments_rewinded,
         |    sum(CASE WHEN dup_n > 1 THEN end_offset - start_offset + 1 ELSE 0 END)::BIGINT AS messages_rewinded,
         |    sum(CASE WHEN prior_max >= 0 AND start_offset > prior_max + 1
         |             THEN 1 ELSE 0 END)::BIGINT AS late_events,
         |    min(start_offset) AS min_s, max(end_offset) AS max_e
         |  FROM f GROUP BY part_id
         |),
         |${prevEndCte("arr")},
         |holes AS (
         |  SELECT part_id, count(*)::BIGINT AS lost_ranges,
         |         sum(start_offset - prev_end - 1)::BIGINT AS messages_lost
         |  FROM g WHERE prev_end IS NOT NULL AND start_offset > prev_end + 1
         |  GROUP BY part_id
         |)
         |SELECT b.part_id AS part_id, n_arrivals, segments_rewinded, messages_rewinded,
         |       late_events,
         |       (max_e - min_s + 1 - coalesce(messages_lost, 0))::BIGINT AS messages_delivered,
         |       coalesce(lost_ranges, 0)::BIGINT AS lost_ranges,
         |       coalesce(messages_lost, 0)::BIGINT AS messages_lost
         |FROM base b LEFT JOIN holes h ON b.part_id = h.part_id
         |ORDER BY b.part_id""".stripMargin,

    "r_partition_metrics" ->
      s"""WITH $MsgCte,
         |agg AS (
         |  SELECT part_id, count(*)::BIGINT AS n_messages,
         |         sum(msg_size)::BIGINT AS total_bytes,
         |         max(msg_offset) AS high_offset,
         |         max(epoch_us(ts) // 1000000) AS part_max_epoch
         |  FROM messages GROUP BY part_id
         |)
         |SELECT part_id, n_messages, total_bytes, high_offset,
         |       (SELECT max(part_max_epoch) FROM agg) - part_max_epoch AS lag_seconds
         |FROM agg ORDER BY part_id""".stripMargin,

    // ---- curation / training-loop operators ----
    "t_repetition" ->
      s"""WITH $NormCte,
         |w AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
         |tc AS (
         |  SELECT doc_id, sum(cnt)::BIGINT AS n_tokens, count(*)::BIGINT AS n_unique,
         |         max(cnt)::BIGINT AS top_tok_n
         |  FROM (SELECT doc_id, tok, count(*)::BIGINT AS cnt
         |        FROM (SELECT doc_id, unnest(w) AS tok FROM w) GROUP BY doc_id, tok)
         |  GROUP BY doc_id
         |),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
         |         i -> w[i::INT] || ' ' || w[(i+1)::INT])) AS bg
         |  FROM w
         |),
         |dup AS (
         |  SELECT doc_id, sum(CASE WHEN n >= 2 THEN n END)::BIGINT AS dup_bigram_occ
         |  FROM (SELECT doc_id, bg, count(*)::BIGINT AS n FROM bg GROUP BY doc_id, bg)
         |  GROUP BY doc_id
         |)
         |SELECT tc.doc_id, tc.n_tokens, tc.n_unique, tc.top_tok_n,
         |       coalesce(dup.dup_bigram_occ, 0)::BIGINT AS dup_bigram_occ,
         |       ((tc.n_unique * 10000) // tc.n_tokens)::BIGINT AS uniq_bp
         |FROM tc LEFT JOIN dup ON tc.doc_id = dup.doc_id
         |ORDER BY tc.doc_id""".stripMargin,

    "p_pack_sequences" ->
      s"""WITH $NormCte,
         |${packDocsCte("", "len(string_split(t, ' '))::BIGINT", "norm")},
         |$PackCumCte
         |$PackSeqsSql ORDER BY shard, seq_id""".stripMargin,

    "p_pack_audit" ->
      s"""WITH $NormCte,
         |${packDocsCte("", "len(string_split(t, ' '))::BIGINT", "norm")},
         |$PackCumCte,
         |seqs AS (
         |  $PackSeqsSql
         |)
         |SELECT shard, count(*)::BIGINT AS n_seqs, sum(n_docs)::BIGINT AS n_docs,
         |       sum(n_tokens)::BIGINT AS n_tokens,
         |       ((sum(n_tokens) * 10000) // (count(*) * 256))::BIGINT AS fill_bp,
         |       sum(CASE WHEN n_tokens > 256 THEN 1 ELSE 0 END)::BIGINT AS n_over,
         |       max(n_tokens)::BIGINT AS max_seq_tokens
         |FROM seqs GROUP BY shard ORDER BY shard""".stripMargin,

    "p_curriculum" ->
      s"""WITH $NormCte,
         |${qualityFeaturesCte("m")},
         |scored AS (
         |  SELECT doc_id,
         |    ${sqlQualityScore()}::INT AS score
         |  FROM m
         |),
         |ph AS (
         |  SELECT doc_id, score,
         |         (CASE WHEN score >= 75 THEN 0 WHEN score >= 50 THEN 1
         |               ELSE 2 END)::INT AS phase,
         |         ${sqlH60("'curr1:' || doc_id::VARCHAR")} AS ck
         |  FROM scored
         |)
         |SELECT doc_id, score, phase,
         |       row_number() OVER (PARTITION BY phase ORDER BY ck, doc_id)::BIGINT
         |         AS phase_ord
         |FROM ph ORDER BY doc_id""".stripMargin,

    "t_mixture_resample" ->
      s"""WITH $NormCte, $MixCtes,
         |kept AS (
         |  SELECT n.lang, count(*)::BIGINT AS n_kept
         |  FROM norm n JOIN tgt ON n.lang = tgt.lang
         |  WHERE ${sqlH20("n.t")} * tgt.n_lang < 1048576 * tgt.target_n
         |  GROUP BY n.lang
         |)
         |SELECT tgt.lang, tgt.n_lang, tgt.target_n,
         |       coalesce(kept.n_kept, 0)::BIGINT AS n_kept
         |FROM tgt LEFT JOIN kept ON tgt.lang = kept.lang
         |ORDER BY tgt.lang""".stripMargin,

    "t_mixture_resample_exact" ->
      s"""WITH $NormCte, $MixCtes,
         |keyed AS (
         |  SELECT n.lang, n.doc_id, ${sqlH60("n.t")} AS h
         |  FROM norm n JOIN tgt ON n.lang = tgt.lang
         |),
         |kept AS (
         |  SELECT k.lang, count(*)::BIGINT AS n_kept, sum(k.doc_id)::BIGINT AS kept_id_sum
         |  FROM (SELECT lang, doc_id,
         |               row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS r
         |        FROM keyed) k
         |  JOIN tgt ON k.lang = tgt.lang
         |  WHERE k.r <= tgt.target_n
         |  GROUP BY k.lang
         |)
         |SELECT tgt.lang, tgt.n_lang, tgt.target_n,
         |       coalesce(kept.n_kept, 0)::BIGINT AS n_kept,
         |       coalesce(kept.kept_id_sum, 0)::BIGINT AS kept_id_sum
         |FROM tgt LEFT JOIN kept ON tgt.lang = kept.lang
         |ORDER BY tgt.lang""".stripMargin,

    "t_perplexity_proxy" ->
      s"""WITH $NormCte, $TokCte,
         |freq AS (SELECT tok, count(*)::BIGINT AS n_occ FROM tok GROUP BY tok),
         |tot AS (SELECT count(*)::BIGINT AS total_occ FROM tok),
         |scored AS (
         |  SELECT t.doc_id, ((tot.total_occ * 1000) // f.n_occ)::BIGINT AS inv
         |  FROM tok t JOIN freq f ON t.tok = f.tok CROSS JOIN tot
         |)
         |SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |       (sum(inv)::BIGINT // count(*)::BIGINT)::BIGINT AS ppl_proxy
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // KMV sketch: k smallest distinct 60-bit token hashes per group;
    // estimate = round((k-1)*2^60 / h_k) — one IEEE division + one
    // HALF_UP round, bit-identical across engines. 255*2^60 is exactly
    // representable (mantissa 255 < 2^53).
    "t_kmv_distinct" -> {
      val k = Sketch.KmvK
      s"""WITH $NormCte,
         |lh AS (
         |  SELECT lang, ${sqlH60("tok")} AS h
         |  FROM (SELECT lang, unnest(string_split(t, ' ')) AS tok FROM norm)
         |),
         |d AS (
         |  SELECT DISTINCT grp, h FROM (
         |    SELECT lang AS grp, h FROM lh
         |    UNION ALL SELECT 'ALL' AS grp, h FROM lh
         |  )
         |),
         |r AS (
         |  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
         |  FROM d
         |),
         |ex AS (SELECT grp, count(*)::BIGINT AS n_exact FROM d GROUP BY grp),
         |sk AS (
         |  SELECT grp, count(*)::BIGINT AS k_actual, max(h) AS h_k
         |  FROM r WHERE rn <= $k GROUP BY grp
         |)
         |SELECT sk.grp, ex.n_exact, sk.k_actual, sk.h_k,
         |  CASE WHEN sk.k_actual < $k THEN sk.k_actual
         |       ELSE round(((${k - 1}::BIGINT * 1152921504606846976)::DOUBLE)
         |                  / sk.h_k::DOUBLE)::BIGINT END AS distinct_est
         |FROM sk JOIN ex ON sk.grp = ex.grp
         |ORDER BY sk.grp""".stripMargin
    },

    // T15a: Count-Min sketch cells — params VALUES generated from the
    // SAME Scala seq (Sketch.cmsParams) the Spark projection uses, so
    // the two engines cannot drift; `//` is DuckDB integer division,
    // matching the Spark side's `div`
    "t_cms_sketch" ->
      s"""WITH $NormCte, $TokCte,
         |occ AS (SELECT ${sqlH60("tok")} AS h FROM tok),
         |$CmsParamsCte
         |SELECT hash_id,
         |       ${cmsBucket("h")} AS bucket,
         |       count(*)::BIGINT AS cnt
         |FROM occ, params GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // T15b: heavy hitters decoded through the sketch — est(tok) is the
    // min over the depth cells the token hashes to (every one of which
    // the token itself incremented, so the join always finds all
    // depth rows); threshold compared in integer cross-multiplied form
    "t_cms_heavy_hitters" ->
      s"""WITH $NormCte, $TokCte,
         |occ AS (SELECT tok, ${sqlH60("tok")} AS h FROM tok),
         |$CmsCtes,
         |exact AS (
         |  SELECT tok, min(h) AS h, count(*)::BIGINT AS n_exact
         |  FROM occ GROUP BY tok
         |),
         |total AS (SELECT count(*)::BIGINT AS n FROM occ),
         |est AS (
         |  SELECT e.tok, e.n_exact, min(c.cnt) AS est_count
         |  FROM exact e
         |  JOIN params p ON true
         |  JOIN cms c ON c.hash_id = p.hash_id
         |    AND c.bucket = ${cmsBucket("e.h", "p.")}
         |  GROUP BY e.tok, e.n_exact
         |)
         |SELECT tok, n_exact, est_count,
         |       (est_count - n_exact)::BIGINT AS overcount
         |FROM est, total
         |WHERE est_count * 10000 >= n * ${Sketch.HeavyHitterShareBp}
         |ORDER BY tok""".stripMargin,

    // T15c: pure-sketch serving — same cells CTE, candidates = the
    // stratum's distinct vocabulary, NO exact counts anywhere
    "t_cms_estimate" ->
      s"""WITH $NormCte, $TokCte,
         |occ AS (SELECT ${sqlH60("tok")} AS h FROM tok),
         |$CmsCtes,
         |total AS (SELECT count(*)::BIGINT AS n FROM occ),
         |cand AS (
         |  SELECT DISTINCT tok, ${sqlH60("tok")} AS h
         |  FROM tok WHERE doc_id % 100 = 3
         |),
         |est AS (
         |  SELECT c0.tok, min(c.cnt)::BIGINT AS est_count
         |  FROM cand c0
         |  JOIN params p ON true
         |  JOIN cms c ON c.hash_id = p.hash_id
         |    AND c.bucket = ${cmsBucket("c0.h", "p.")}
         |  GROUP BY c0.tok
         |)
         |SELECT tok, est_count,
         |       (est_count * 10000 // n)::BIGINT AS share_bp
         |FROM est, total ORDER BY tok""".stripMargin,

    "d_incremental_dedup" -> IncrementalDedupSql,
    "d_incremental_dedup_indexed" -> IncrementalDedupSql,
    "d_bloom_dedup" -> IncrementalDedupSql,

    "d_containment_pairs" ->
      s"""WITH $NormCte, $ShCte,
         |$SzCte,
         |it AS (
         |  SELECT sa.doc_id AS doc_src, sb.doc_id AS doc_dst,
         |         count(*)::BIGINT AS inter
         |  FROM sh sa JOIN sh sb ON sa.h = sb.h AND sa.doc_id <> sb.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_src, doc_dst, inter, sz.n_sh AS n_src,
         |       round(inter * 10000.0 / sz.n_sh, 0)::BIGINT AS contain_bp
         |FROM it JOIN sz ON sz.doc_id = it.doc_src
         |WHERE round(inter * 10000.0 / sz.n_sh, 0)::BIGINT >= $ContainBp
         |ORDER BY doc_src, doc_dst""".stripMargin,

    // quality-aware keeper: the election key packs (100 - score, id)
    // into one integer so a single min() is argmax-quality with
    // min-doc_id tiebreak — identical arithmetic to Dedup.qualityKeeper
    "d_quality_keeper" ->
      s"""WITH RECURSIVE $NormCte, $ShCte,
         |$ClusterCtes,
         |$CurationStageCtes,
         |ek AS (
         |  SELECT l.doc_id, l.cluster_id, q.score,
         |         ((100 - q.score)::BIGINT * 1099511627776 + l.doc_id)::BIGINT AS ek
         |  FROM labels l JOIN quality q ON q.doc_id = l.doc_id
         |),
         |bestk AS (SELECT cluster_id, min(ek) AS best_ek FROM ek GROUP BY 1)
         |SELECT e.doc_id, e.cluster_id, e.score,
         |       (b.best_ek % 1099511627776)::BIGINT AS keeper_id,
         |       (CASE WHEN e.doc_id = b.best_ek % 1099511627776
         |             THEN 1 ELSE 0 END)::INT AS keep
         |FROM ek e JOIN bestk b ON b.cluster_id = e.cluster_id
         |ORDER BY e.doc_id""".stripMargin,

    "p_cluster_split" ->
      s"""WITH RECURSIVE $NormCte, $ShCte,
         |$ClusterCtes,
         |cl AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
         |bkt AS (
         |  SELECT doc_id, cluster_id,
         |         (('0x' || substr(md5(cluster_id::VARCHAR),1,15))::BIGINT % 100)
         |           AS bucket
         |  FROM cl
         |)
         |SELECT doc_id, cluster_id, bucket,
         |       CASE WHEN bucket < 80 THEN 'train'
         |            WHEN bucket < 90 THEN 'validation'
         |            ELSE 'test' END AS split
         |FROM bkt ORDER BY doc_id""".stripMargin,

    "p_global_shuffle" ->
      s"""WITH sk AS (
         |  SELECT doc_id,
         |         ${sqlH60("'shuf1:' || doc_id::VARCHAR")} AS shuffle_key
         |  FROM documents
         |)
         |SELECT doc_id, shuffle_key, (shuffle_key % 8)::BIGINT AS shard,
         |       row_number() OVER (PARTITION BY shuffle_key % 8
         |         ORDER BY shuffle_key, doc_id)::BIGINT AS pos
         |FROM sk ORDER BY doc_id""".stripMargin,

    "p_chunk_overlap" ->
      s"""WITH $NormCte,
         |tk AS (
         |  SELECT doc_id, string_split(t, ' ') AS toks,
         |         len(string_split(t, ' '))::BIGINT AS n_tok
         |  FROM norm
         |),
         |ch AS (
         |  SELECT doc_id, toks, n_tok,
         |         unnest(range(0, ((n_tok - 1) // 8) + 1)) AS chunk_idx
         |  FROM tk
         |)
         |SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
         |       (chunk_idx * 8)::BIGINT AS start_tok,
         |       least(16, n_tok - chunk_idx * 8)::BIGINT AS chunk_len,
         |       ${sqlH60("array_to_string(list_slice(toks, " +
               "(chunk_idx * 8 + 1)::INT, (chunk_idx * 8 + 16)::INT), ' ')")}
         |         AS chunk_hash
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    "p_corpus_stats" ->
      s"""WITH d AS (
         |  SELECT source, lang,
         |         len(string_split(
         |           ${graft.functions.Portable.sqlNormText("text")}, ' '))::BIGINT
         |           AS n_tok,
         |         n_chars
         |  FROM documents
         |),
         |strata AS (
         |  SELECT source, lang, count(*)::BIGINT AS n_docs,
         |         sum(n_tok)::BIGINT AS n_tokens,
         |         sum(n_chars)::BIGINT AS n_chars
         |  FROM d GROUP BY 1, 2
         |),
         |tot AS (
         |  SELECT count(*)::BIGINT AS total_docs,
         |         sum(n_tok)::BIGINT AS total_tokens
         |  FROM d
         |)
         |SELECT source, lang, n_docs, n_tokens, n_chars,
         |       (n_docs * 10000 // total_docs)::BIGINT AS doc_share_bp,
         |       (n_tokens * 10000 // total_tokens)::BIGINT AS tok_share_bp
         |FROM strata, tot
         |ORDER BY source, lang""".stripMargin,

    "x_video_dedup" ->
      s"""WITH vid AS (
        |  SELECT doc_id,
        |         (doc_id % 32 + 1)::BIGINT AS width,
        |         (doc_id % 24 + 1)::BIGINT AS height,
        |         (doc_id % 8 + 2)::BIGINT AS frames,
        |         ((doc_id * 2654435761) % 16777216)::BIGINT AS rgb
        |  FROM documents
        |  WHERE (replace(source, 'src', '')::INT) % 3 = 2
        |),
        |ph AS (
        |  SELECT doc_id,
        |         ((rgb // 1048576) * 64 + ((width - 1) // 8) * 16
        |           + ((height - 1) // 8) * 2 + ((frames - 2) // 4))::BIGINT
        |           AS phash
        |  FROM vid
        |),
        |$PhashKeeperTail""".stripMargin,

    // one UNION ALL stanza per lineitem column, same aggregates as the
    // single-pass Spark profile
    // float/double min/max render through DECIMAL(38,6) on both sides
    // (engine-native double->string notation diverges past 1e7; see
    // Analytics.columnProfile scaladoc for the value-range assumption)
    // the audit gates: everything but the measured flag is exact and
    // oracle-computable; the oracle asserts within_bound = 1, so a
    // sketch that violates its bound hash-mismatches the gate
    "q_value_quantiles_audit" ->
      """SELECT event_type, q, n_grp,
        |       (2 * n_grp // 1000 + 1)::BIGINT AS rank_budget,
        |       1::BIGINT AS within_bound
        |FROM (SELECT event_type, count(*)::BIGINT AS n_grp
        |      FROM events GROUP BY 1)
        |CROSS JOIN (VALUES ('p50'), ('p90')) v(q)
        |ORDER BY event_type, q""".stripMargin,

    "q_column_profile_audit" -> {
      ProfileCols.map { c =>
        s"""SELECT '$c' AS col_name,
           |  count(DISTINCT $c::VARCHAR)::BIGINT AS n_distinct_exact,
           |  2000::BIGINT AS bound_bp, 1::BIGINT AS within_bound
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    "q_column_profile" -> {
      val doubles = Set("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      ProfileCols.map { c =>
        val mm = if (doubles(c)) s"::DECIMAL(38,6)::VARCHAR" else "::VARCHAR"
        s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
           |  (count(*) - count($c))::BIGINT AS n_null,
           |  count(DISTINCT $c::VARCHAR)::BIGINT AS n_distinct,
           |  min($c)$mm AS min_s, max($c)$mm AS max_s
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    // image synthesis params reproduced arithmetically (the Spark side
    // derives the same values by really decoding the PNG payloads)
    "x_image_dedup" ->
      s"""WITH img AS (
        |  SELECT doc_id,
        |         (doc_id % 64 + 1)::BIGINT AS width,
        |         (doc_id % 48 + 1)::BIGINT AS height,
        |         ((doc_id * 2654435761) % 16777216)::BIGINT AS rgb
        |  FROM documents
        |  WHERE (replace(source, 'src', '')::INT) % 3 = 0
        |),
        |ph AS (
        |  SELECT doc_id,
        |         ((rgb // 262144) * 64 + ((width - 1) // 8) * 8
        |           + ((height - 1) // 8))::BIGINT AS phash
        |  FROM img
        |),
        |$PhashKeeperTail""".stripMargin,

    // real DCT pHash: raster synthesis + fixed-point DCT + median
    // threshold + banded Hamming dedup replayed integer-exactly (the
    // Spark side hashes genuinely DECODED PNG bytes)
    "x_image_dedup_phash" -> imageDedupPhashSql(tau = 5),

    "a_kmeans_train" -> kmeansSql(k = 8, iterations = 2),
    "a_kmeans_train_iter10" -> kmeansSql(k = 8, iterations = 10),
    "a_kmeans_train_k256" -> kmeansSql(k = 256, iterations = 2),
    "a_cluster_profile" -> kmeansProfileSql(k = 8, iterations = 2),

    "d_line_dedup" ->
      s"""WITH $NormCte,
         |tw AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
         |lines AS (
         |  SELECT doc_id, i AS pos,
         |         array_to_string(w[(i*$LineDedupK+1):(i*$LineDedupK+$LineDedupK)], ' ') AS line
         |  FROM tw, unnest(range((len(w) // $LineDedupK)::BIGINT)) u(i)
         |),
         |dec AS (
         |  SELECT doc_id, pos, line,
         |         count(*) OVER (PARTITION BY h) AS occ,
         |         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
         |  FROM (SELECT doc_id, pos, line, ${sqlH60("line")} AS h FROM lines)
         |),
         |st AS (
         |  SELECT doc_id, pos, line,
         |         CASE WHEN occ > $LineBoilerMax THEN 'boilerplate'
         |              WHEN rn = 1 THEN 'kept' ELSE 'dup' END AS status
         |  FROM dec
         |)
         |SELECT doc_id, count(*)::BIGINT AS n_lines,
         |       sum(CASE WHEN status = 'kept' THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |       sum(CASE WHEN status = 'dup' THEN 1 ELSE 0 END)::BIGINT AS n_dup_dropped,
         |       sum(CASE WHEN status = 'boilerplate' THEN 1 ELSE 0 END)::BIGINT AS n_boiler_dropped,
         |       ${sqlH60("coalesce(string_agg(line, ' ' ORDER BY pos) " +
             "FILTER (WHERE status = 'kept'), '')")} AS kept_hash
         |FROM st GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t_pii_redact" ->
      s"""WITH synth AS (
         |  SELECT doc_id,
         |    text ||
         |    CASE WHEN doc_id % 2 = 0 THEN ' contact user' ||
         |      CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
         |    ' call 555-' || lpad(CAST((doc_id*7) % 10000 AS VARCHAR), 4, '0') ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' from 10.' ||
         |      CAST(doc_id % 250 AS VARCHAR) || '.0.' ||
         |      CAST((doc_id*3) % 250 AS VARCHAR) ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN ' alt 555-' ||
         |      lpad(CAST((doc_id*11) % 10000 AS VARCHAR), 4, '0') ELSE '' END AS text
         |  FROM documents),
         |r1 AS (SELECT doc_id, text,
         |         regexp_replace(text, '${TextAnalysis.PiiEmailRe}', '<EMAIL>', 'g') AS t1
         |       FROM synth),
         |r2 AS (SELECT doc_id, text, t1,
         |         regexp_replace(t1, '${TextAnalysis.PiiPhoneRe}', '<PHONE>', 'g') AS t2
         |       FROM r1),
         |r3 AS (SELECT doc_id, text, t1, t2,
         |         regexp_replace(t2, '${TextAnalysis.PiiIpRe}', '<IP>', 'g') AS t3
         |       FROM r2)
         |SELECT doc_id,
         |       len(regexp_extract_all(text, '${TextAnalysis.PiiEmailRe}'))::BIGINT AS n_email,
         |       len(regexp_extract_all(t1, '${TextAnalysis.PiiPhoneRe}'))::BIGINT AS n_phone,
         |       len(regexp_extract_all(t2, '${TextAnalysis.PiiIpRe}'))::BIGINT AS n_ip,
         |       length(t3)::BIGINT AS red_len,
         |       ${sqlH60("t3")} AS red_hash
         |FROM r3 ORDER BY doc_id""".stripMargin,
  )
}
