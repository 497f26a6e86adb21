package graft

import org.apache.spark.sql.functions._

import graft.operators.Analytics

/** Physical-plan audits: the scale properties SURVEY.md §4 claims —
  * pushdown reaching parquet, dimensions broadcast, codegen in the
  * hot path — asserted against the actual Catalyst output.
  */
class PlanAuditSpec extends SparkSuite {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q6: filters are pushed to the parquet scan") {
    val p = plan(Analytics.revenueChange(spark, sf))
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("IsNotNull(l_shipdate)") || p.contains("GreaterThanOrEqual(l_shipdate"))
  }

  test("q6: scan reads only referenced columns") {
    val p = plan(Analytics.revenueChange(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(readSchema.contains("l_extendedprice"), readSchema)
  }

  test("q5: dimension joins are broadcast, not shuffled") {
    val p = plan(Analytics.localSupplierVolume(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("ingress replay broadcasts the checkpoint table") {
    val p = plan(SparkEntry.queries("r_ingress_replay")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("as-of join plans exactly one shuffle (no range join)") {
    val p = plan(SparkEntry.queries("q_asof_purchase")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // union + window: the only exchanges are the key shuffle (+ final
    // output ordering); a range-join formulation would nested-loop
    val exchanges = p.linesIterator.count(_.trim.startsWith("+- Exchange"))
    assert(exchanges <= 3, s"$exchanges exchanges:\n${p.take(2000)}")
  }

  test("dedup pipelines never plan a shuffled cartesian product") {
    // BroadcastNestedLoopJoin is allowed: the hyperplane/param tables
    // are deliberate tiny broadcast cross joins. A CartesianProduct
    // (shuffled n×m) would mean a candidate-generation equi-key got lost.
    Seq("d_minhash_lsh", "d_ngram_jaccard", "d_embedding_dedup", "d_simhash").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(1500)}")
    }
  }

  test("bloom dedup: one anti-join, gated on the verdict, off one materialized batch") {
    val p = plan(graft.operators.Curation.bloomGuardedDedup(
      graft.sources.Tables.documents(spark, sf)))
    // the probe is a one-row broadcast (BNLJ allowed); a shuffled
    // CartesianProduct would mean the bitmap stopped broadcasting
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // exactly one exact corpus join, fed only by the bloom-positive
    // filter — the definite-new branch must bypass the corpus entirely
    assert(p.linesIterator.count(_.contains("LeftAnti")) == 1, p.take(2000))
    assert(p.contains("might"), p.take(2000))
    // both verdict branches read the SAME checkpointed batch (election
    // + bitmap probe ran once, not once per branch)
    assert(p.linesIterator.count(_.contains("Scan ExistingRDD")) == 2, p.take(2000))
  }

  test("sample split is a pure projection: zero exchanges") {
    val p = plan(graft.functions.TextAnalysis.sampleSplit(
      graft.sources.Tables.documents(spark, sf)))
    assert(!p.contains("Exchange"), p.take(1500))
  }

  test("pii redact is a pure projection: zero exchanges") {
    val p = plan(graft.functions.TextAnalysis.piiRedact(
      graft.sources.Tables.documents(spark, sf)))
    assert(!p.contains("Exchange"), p.take(1500))
  }

  test("line dedup: no cartesian, no window over the raw line table, partial aggs") {
    val p = plan(SparkEntry.queries("d_line_dedup")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
    // the occurrence/first-occurrence stats must come from a groupBy
    // (map-side partial aggregation collapses mega-hot lines), never a
    // Window over every raw line row
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("partial_count") || p.contains("partial"), p.take(2000))
  }

  test("replay metrics audit: no cartesian, single window pass shape") {
    val p = plan(SparkEntry.queries("r_replay_metrics")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }

  test("contamination and quota sample: no cartesian, bounded shuffle count") {
    Seq("d_contamination", "t_quota_sample", "t_tfidf_top_terms").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(1500)}")
      // count REAL data shuffles in the executed tree: collect stops
      // at InMemoryTableScan leaves, so shuffles that run once at
      // cache-fill don't count, and broadcasts aren't shuffles. Each
      // query is a handful of key shuffles (token/shingle + final
      // group + output order) — a corpus-width replan multiplies this.
      val shuffles = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s
      }.size
      assert(shuffles <= 4, s"$q: $shuffles shuffles:\n${p.take(2000)}")
    }
  }

  test("fuzzy decontamination: bench side broadcast, train never shuffled pairwise") {
    val df = SparkEntry.queries("d_contamination_fuzzy")(spark, sf)
    val p = plan(df)
    // BroadcastNestedLoopJoin is allowed here for the same reason as
    // the dedup pipelines: the df-cap's 1-row corpus-count crossJoin
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the candidate join and the shingle verify must take the
    // BROADCAST side for the benchmark tables — a sort-merge pairing
    // there would shuffle the train side pairwise
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("cms sketch: one partial-aggregated shuffle; HH estimate adds no join") {
    val sk = SparkEntry.queries("t_cms_sketch")(spark, sf)
    val p = plan(sk)
    assert(!p.contains("Join"), p.take(1500))
    // partial agg before the exchange: each map task emits at most the
    // depth×width sketch, the property the 100 TB claim rests on
    assert(p.contains("partial"), p.take(2000))
    // the heavy-hitter decode estimates through driver-collected
    // literal arrays — NO join against the sketch table appears in
    // its plan (the exact-count groupBy is the only aggregation)
    val hh = plan(SparkEntry.queries("t_cms_heavy_hitters")(spark, sf))
    assert(!hh.contains("Join"), hh.take(2000))
  }

  test("jl projection is a pure projection: zero exchanges") {
    val p = plan(graft.operators.Ann.projectRp(
      graft.sources.Tables.embeddings(spark, sf)))
    assert(!p.contains("Exchange"), p.take(1500))
  }

  test("knn rp: query side and shortlist broadcast, never a cartesian") {
    val p = plan(graft.operators.Ann.knnRp(
      graft.sources.Tables.embeddings(spark, sf), 5, 5))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastExchange"), p.take(2000))
  }

  test("hyperplane bucketing is a pure projection: zero exchanges") {
    val p = plan(graft.operators.Ann.bucketed(
      graft.sources.Tables.embeddings(spark, sf)))
    assert(!p.contains("Exchange"), p.take(1500))
  }

  test("multimodal decode: payloads never shuffle; metadata may re-balance to cores") {
    // r21 contract: the codec pass is CPU-bound per row, so when the
    // metadata scan under-splits (openCostInBytes floors tiny files at
    // one split) the METADATA rows re-balance across cores — but the
    // only Exchange allowed sits BELOW the synthesis/codec pass and
    // hashes the pre-payload projection by doc_id. Payload bytes (born
    // inside the pass) still never cross an exchange.
    val p = plan(graft.operators.Multimodal.features(
      spark, graft.sources.Tables.documents(spark, sf)).toDF())
    val exchanges = p.split("Exchange").length - 1
    assert(exchanges <= 1, p.take(1500))
    if (exchanges == 1) {
      assert(p.contains("Exchange hashpartitioning(doc_id"), p.take(1500))
      // printed top-down: the codec MapPartitions is ABOVE the exchange
      assert(p.indexOf("MapPartitions") < p.indexOf("Exchange"), p.take(1500))
    }
  }

  test("bucketed tables co-locate the join: no exchange on either side") {
    // The technique a 100 TB deployment uses for repeated joins on the
    // same key: both sides written bucketBy(part_id), so each scan
    // reports HashPartitioning(part_id, n) and the join plans with NO
    // shuffle at all — the cost moved from every query to one write.
    val spark0 = spark
    import spark0.implicits._
    val msgs = graft.operators.MessageFraming.messages(
      graft.sources.Tables.events(spark, sf))
    msgs.write.bucketBy(4, "part_id").sortBy("part_id")
      .mode("overwrite").saveAsTable("audit_msgs_a")
    msgs.groupBy("part_id").count().write.bucketBy(4, "part_id")
      .mode("overwrite").saveAsTable("audit_msgs_b")
    // merge hint: at test scale the tiny side would broadcast, hiding
    // the property under audit (at 100 TB neither side broadcasts)
    val joined = spark.table("audit_msgs_a").hint("merge")
      .join(spark.table("audit_msgs_b"), Seq("part_id"))
    val p = plan(joined)
    assert(p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("Exchange"), p.take(2000))
    assert(joined.count() > 0)
    spark.sql("DROP TABLE audit_msgs_a")
    spark.sql("DROP TABLE audit_msgs_b")
  }

  test("AQE splits a skewed join partition at runtime") {
    // The runtime complement to q_salted_user_join's manual salting:
    // with adaptive skew-join on, a hot key's oversized shuffle
    // partition is split AFTER the map stage reports real sizes —
    // no code change, no salt column. Thresholds are shrunk so the
    // test corpus trips them; at 100 TB the defaults do.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val spark0 = spark
      import spark0.implicits._
      // 20k rows of one hot key vs 4 × 100 of cold keys
      val skewed = ((1 to 20000).map(_ => 7) ++
        (1 to 400).map(i => i % 4)).toDF("k")
        .withColumn("payload", lpad(lit("x"), 64, "x"))
      val dim = (0 to 7).toDF("k").withColumn("name", col("k").cast("string"))
      val joined = skewed.hint("merge").join(dim, Seq("k"))
      // execute THIS plan (count() would spawn its own query execution
      // and leave this one un-run, never reaching the AQE final plan)
      assert(joined.collect().length === 20400)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"), finalPlan.take(500))
      assert(finalPlan.contains("skew=true"), finalPlan.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("k-means assignment is a pure projection: zero exchanges") {
    // the round-6 cure for the per-iteration k×corpus window shuffle:
    // centroids ship as one broadcast matrix and the argmin is one
    // generated loop per row — nothing may shuffle
    val q = graft.operators.Ann.quantized(
      graft.sources.Tables.embeddings(spark, sf)).select("vec_id", "v", "norm2")
    val cents = Seq(
      (0L, Seq.fill(64)(1L), 64L), (1L, Seq.fill(64)(-1L), 64L))
    val p = plan(graft.operators.Ann.kmeansAssign(q, cents))
    assert(!p.contains("Exchange"), p.take(1500))
  }

  test("large-K gated queries ride the broadcast argmin; never a cartesian") {
    // at sf0.001 only ~50 seeds exist, so trained K < 256 — audit at
    // sf0.01 where K really is 256 (the gate's own scale)
    val sf01 = "/root/testdata/sf0.01"
    val p1 = plan(SparkEntry.queries("a_kmeans_train_k256")(spark, sf01))
    assert(p1.contains("nearest_centroid_l2"), p1.take(2000))
    assert(!p1.contains("CartesianProduct"), p1.take(2000))
    val p2 = plan(SparkEntry.queries("d_semantic_dedup_k256")(spark, sf01))
    assert(p2.contains("nearest_centroid_cos"), p2.take(2000))
    assert(!p2.contains("CartesianProduct"), p2.take(2000))
    // the within-cell pair join stays an equi-join on the cell key
    assert(p2.contains("SortMergeJoin") || p2.contains("BroadcastHashJoin") ||
      p2.contains("ShuffledHashJoin"), p2.take(2000))
  }

  test("span strip: no cartesian, no window function; election partial-aggregates") {
    // the ExactSubstr remedy must stay in the signal row's cost class:
    // window generation a projection, the first-occurrence election a
    // partial-agg groupBy(h), the covered-range explode bounded by w,
    // the rebuild a per-doc partial agg — never a window function or
    // a cartesian over anything
    val p = plan(SparkEntry.queries("d_span_strip")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      p.take(2000))
  }

  test("DSIR selection: bucket weights broadcast; never a cartesian") {
    // the weight table is numBuckets rows (1024) — it must come back
    // to the (doc, bucket) table as a broadcast, and nothing in the
    // chain may plan a cartesian
    val p = plan(SparkEntry.queries("t_dsir_select")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("BPE token count: a pure projection, zero shuffles before the presentation sort") {
    // the tokenizer is an expression, not a join against a merge
    // table: no join, no aggregate, and the only exchange in the plan
    // is the final presentation orderBy's range partitioning
    val p = plan(SparkEntry.queries("t_token_count_bpe")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      p.take(2000))
    val exchanges = p.linesIterator.count(_.trim.contains("Exchange"))
    assert(exchanges <= 1, s"$exchanges exchanges:\n${p.take(2500)}")
  }

  test("event triage operator: one projection, no join, no aggregate") {
    val spark0 = spark
    import spark0.implicits._
    // audit the OPERATOR, not the gated query's segment-build fixture
    val raw = Seq((1L, """{"p":0,"s":1,"t":"created","ts":5}""", 1L))
      .toDF("event_id", "body", "receive_count")
    val p = plan(graft.operators.StoreReconciler.triageEvents(raw, 5))
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      p.take(2000))
    assert(!p.contains("Exchange"), p.take(2000))
  }

  test("trained IVF: corpus never cartesians; probes broadcast at K=const rows") {
    // the scale fix over stride-IVF (K = n/stride): cell assignment is
    // an argmax projection, so the CORPUS side may never plan a
    // CartesianProduct, and every broadcast in the plan is probe/
    // centroid-scale (numQueries·K rows at most), never corpus-scale
    val df = SparkEntry.queries("a_knn_ivf_trained")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the candidate join is an equi-join on the cell key; the probe
    // ranking's tiny cross join (|queries|·K rows) broadcasts too
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // corpus-side cell assignment is an argmax projection: the
    // only shuffles left are the probe/result windows + output order,
    // never a corpus re-key per centroid
    val exchanges = p.linesIterator.count(_.trim.startsWith("+- Exchange"))
    assert(exchanges <= 4, s"$exchanges exchanges:\n${p.take(2500)}")
    // K is CONST by construction (the stride baseline's K = n/stride
    // is the caveat this operator closes): 8 cells at any corpus size
    val cents = graft.operators.Ann.kmeansCentroids(
      graft.operators.Ann.quantized(graft.sources.Tables.embeddings(spark, sf))
        .select("vec_id", "v", "norm2"), 8, 2)
    assert(cents.size === 8)
  }

  test("IVF-SQ8: corpus never cartesians; one projection makes cell AND codes") {
    // same audit as trained IVF — plus: the corpus side must carry the
    // int8 codes out of the SAME zero-shuffle projection that assigns
    // the cell (no second corpus pass, no full-precision vector in the
    // candidate join)
    val df = SparkEntry.queries("a_knn_ivfsq")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    val exchanges = p.linesIterator.count(_.trim.startsWith("+- Exchange"))
    assert(exchanges <= 4, s"$exchanges exchanges:\n${p.take(2500)}")
  }

  test("bucket balance: aggregate chain, never the pair join it prices") {
    // the report must cost less than the join it predicts: signature →
    // groupBy(band, band_key) → bands-row rollup. The df-cap build
    // inside the shingle stage joins on the shingle hash (shared with
    // every minhash consumer); what must NOT appear is a self-join on
    // the band key — that would mean the report degenerated into the
    // candidate join itself
    val p = plan(SparkEntry.queries("d_bucket_balance")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.linesIterator.exists(l =>
      l.contains("Join") && l.contains("band_key")), p.take(2500))
    assert(p.contains("partial_"), p.take(2000))
  }

  test("repeated spans: no cartesian, no window; stats partial-aggregate") {
    // window generation must be a projection (transform over the token
    // array) and occurrence stats a groupBy chain — a Window over the
    // exploded table or any non-equi join would be the scale-killer
    val p = plan(SparkEntry.queries("d_repeated_spans")(spark, sf))
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("partial_"), p.take(2000))
  }

  test("semantic dedup: cell assignment is a projection; pair join is equi on cell") {
    val p = plan(SparkEntry.queries("d_semantic_dedup")(spark, sf))
    // within-cell pairs come from an equi-join on the cell id — an
    // all-pairs formulation would plan a CartesianProduct
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // assignment itself must not re-key the corpus per centroid: the
    // only shuffles are the pair equi-join + dropped-set distinct +
    // final order — bounded regardless of kCells
    val exchanges = p.linesIterator.count(_.trim.startsWith("+- Exchange"))
    assert(exchanges <= 6, s"$exchanges exchanges:\n${p.take(2500)}")
  }

  test("PQ: encoding is a pure projection; ADC scan never dots the corpus") {
    // pqCodes = 4 argmin subspace projections on one scan —
    // zero exchanges except the output sort
    val books = graft.operators.Ann.pqCodebooks(
      graft.sources.Tables.embeddings(spark, sf))
    assert(books.size === 4)
    val p = plan(SparkEntry.queries("a_pq_codes")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    val nonSortEx = p.linesIterator.count(l =>
      l.trim.startsWith("+- Exchange") && !l.contains("rangepartitioning"))
    assert(nonSortEx === 0, s"$nonSortEx exchanges:\n${p.take(2500)}")
    // ADC: the corpus side joins the broadcast query tables and looks
    // distances up — the 64-dim corpus vector column must not survive
    // into the join (the whole point: the scan touches codes only)
    val pk = plan(SparkEntry.queries("a_knn_pq")(spark, sf))
    assert(!pk.contains("CartesianProduct"), pk.take(2000))
    assert(pk.contains("BroadcastHashJoin")
      || pk.contains("BroadcastNestedLoopJoin"), pk.take(2000))
  }

  test("KMV sketch: k-th minimum never funnels a group through one task") {
    // the two-level rank skeleton: range partition + per-(pid, grp)
    // windows; a single Window partitioned only by grp would put the
    // hot ALL group (every distinct hash) on one task
    val p = plan(SparkEntry.queries("t_kmv_distinct")(spark, sf))
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, p.take(2000))
    val rankWindow = windows.find(_.contains("row_number"))
    assert(rankWindow.exists(_.contains("pid")),
      s"local rank must partition by (pid, grp):\n${rankWindow.getOrElse("")}")
  }

  test("pack sequences: prefix-sum windows never funnel through one partition") {
    // the round-6 cure for the single-task-per-shard sort: both window
    // levels partition by (shard[, blk]) — a SinglePartition exchange
    // would mean a global sort crept back in
    val p = plan(graft.operators.Curation.packSequences(
      graft.sources.Tables.documents(spark, sf), 256, 8, blockBits = 5))
    assert(!p.contains("SinglePartition"), p.take(2500))
    assert(p.contains("hashpartitioning"), p.take(2500))
  }

  test("global shuffle: two-level ordinal never funnels one partition") {
    // same property as pack sequences: both window levels partition by
    // (shard[, blk]); a SinglePartition exchange = whole-shard sort
    val p = plan(graft.operators.Curation.globalShuffle(
      graft.sources.Tables.documents(spark, sf), 8))
    assert(!p.contains("SinglePartition"), p.take(2500))
    assert(p.contains("hashpartitioning"), p.take(2500))
  }

  test("chunk overlap is a pure projection + explode: zero exchanges") {
    val p = plan(graft.operators.Curation.chunkOverlap(
      graft.sources.Tables.documents(spark, sf)))
    assert(!p.contains("Exchange"), p.take(1500))
    assert(p.contains("Generate"), p.take(1500)) // the explode
  }

  test("cluster split and quality keeper: no cartesian; post-cluster stages stay equi-join") {
    for (q <- Seq("p_cluster_split", "d_quality_keeper")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(1500)}")
    }
  }

  test("image dedup: keeper map joins back as a broadcast") {
    val p = plan(graft.operators.Multimodal.imageDedup(
      spark, graft.sources.Tables.documents(spark, sf)))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("perplexity proxy and cluster profile: no cartesian, bounded shuffles") {
    Seq("t_perplexity_proxy", "a_cluster_profile").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(1500)}")
      val shuffles = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s
      }.size
      // perplexity: token freq + doc rollup (+ output order); profile:
      // (cluster,label) rollup + k-row window (+ output order). A
      // corpus-width replan or a lost equi-key would multiply this.
      assert(shuffles <= 4, s"$q: $shuffles shuffles:\n${p.take(2000)}")
    }
  }

  test("distributed quantiles: no per-group funnel, matches exact rank reference") {
    val df = Analytics.valueQuantiles(spark, sf)
    val p = plan(df)
    // the rank window is keyed (pid, group) — a SinglePartition
    // exchange or a sort-aggregate over whole groups would mean the
    // funnel crept back
    assert(!p.contains("SinglePartition"), p.take(2500))
    // independent driver-side reference: per-group sorted cents, the
    // same integer-tenths interpolation in pure Scala (cents is the
    // shared primitive; rank + interpolation — the contested parts —
    // are recomputed from scratch)
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), round(col("value") * 100, 0).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expect = rows.groupBy(_._1).toSeq.map { case (et, xs) =>
      val c = xs.map(_._2).sorted
      def mc(pt: Long): Long = {
        val posT = pt * (c.length - 1)
        val lo = (posT / 10).toInt
        val hi = if (lo + 1 < c.length) c(lo + 1) else c(lo)
        10L * c(lo) + (posT % 10) * (hi - c(lo))
      }
      (et, mc(5), mc(9), c.min, c.max)
    }.sortBy(_._1)
    val got = df.collect().toSeq.map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got === expect)
  }

  test("audio resample: payloads never shuffle; metadata may re-balance to cores") {
    // same contract as the features audit: at most the one metadata
    // re-balance exchange, below the codec pass, keyed by doc_id
    val p = plan(graft.operators.Multimodal.resampledAudio(
      spark, graft.sources.Tables.documents(spark, sf)).toDF())
    val exchanges = p.split("Exchange").length - 1
    assert(exchanges <= 1, p.take(1500))
    if (exchanges == 1) {
      assert(p.contains("Exchange hashpartitioning(doc_id"), p.take(1500))
      assert(p.indexOf("MapPartitions") < p.indexOf("Exchange"), p.take(1500))
    }
  }

  test("dedup cluster round: shuffle width pinned to graph size, conf untouched") {
    // the round-8 cure for the session-conf swap: every shuffle in the
    // label-propagation round is an explicit gp-width repartition, so
    // a concurrent query on the same session plans at its own width
    val spark0 = spark
    import spark0.implicits._
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("doc_a", "doc_b")
    val labels = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "cluster")
    val gp = 3
    val df = graft.operators.Dedup.ccRound(edges, labels, gp)
    assert(df.collect().length === 3)
    // read the (adaptive) final plan string: every hash exchange in the
    // round must be at gp width, none at the session width
    val p = df.queryExecution.executedPlan.toString
    val widths = "hashpartitioning\\([^(]*?, (\\d+)\\)".r
      .findAllMatchIn(p).map(_.group(1).toInt).toSeq
    assert(widths.nonEmpty && widths.forall(_ == gp), s"$widths\n${p.take(2500)}")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
  }

  test("production-geometry LSH: one signature shuffle, equi band join") {
    // audit the un-cached pipeline (the gated query's result is served
    // from the pair cache): 128 minhash aggs must still be ONE
    // groupBy(doc_id) pass with map-side partials (no K-way row
    // explosion), and candidates an equi self-join — never a cartesian
    val spark0 = spark
    import spark0.implicits._
    val sh = (0L until 200L).map(i => (i % 20, i * 7919)).toDF("doc_id", "h")
    val df = graft.operators.Dedup.lshCandidates(
      graft.operators.Dedup.minhashSignatures(sh,
        graft.operators.Dedup.ProdBands * graft.operators.Dedup.ProdRows),
      graft.operators.Dedup.ProdBands, graft.operators.Dedup.ProdRows)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("partial_min"), p.take(2000))
  }

  test("ann recall: no cartesian; truth meets each method as a broadcast") {
    val p = plan(SparkEntry.queries("a_ann_recall")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the (queries*k)-row truth table must meet each method result as
    // a broadcast (AQE may still upgrade the initial plan's remaining
    // exchanges at runtime; a cartesian would never appear)
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("curriculum: windows are block-local, offsets broadcast — no phase funnel") {
    val df = graft.operators.Curation.curriculumSchedule(
      graft.sources.Tables.documents(spark, sf))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the rank window must be keyed by (phase, blk) — a window
    // partitioned by phase alone would put a whole phase on one task
    val rankWindows = p.linesIterator.filter(l =>
      l.contains("row_number()") && l.contains("windowspecdefinition")).toSeq
    assert(rankWindows.nonEmpty && rankWindows.forall(_.contains("blk")),
      rankWindows.mkString("\n"))
    assert(p.contains("BroadcastHashJoin"), p.take(2000)) // block offsets
  }

  test("pack audit: rollup partial-aggregates; no scan beyond the pack chain") {
    val p = plan(SparkEntry.queries("p_pack_audit")(spark, sf))
    assert(p.contains("partial_"), p.take(2000))
    // the pack chain itself reads docs twice (data pass + the tiny
    // block-offsets branch); the audit rollup must add ZERO scans
    assert(p.split("FileScan").length - 1 === 2, p.take(2500))
  }

  test("q1 shape stays in whole-stage codegen") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(p.contains("WholeStageCodegen"), p.take(2000))
  }

  test("IVFADC-R rerank: shortlist-scale broadcasts, no cartesian, no corpus re-rank") {
    // the refine stage must not add a second corpus-scale ranking:
    // the shortlist (queries*k*refine rows) and the query-vector fetch
    // broadcast into the corpus scan - every join is a BroadcastHashJoin
    // and nothing plans a cartesian
    val df = SparkEntry.queries("a_knn_ivfpq_rerank")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p.take(2500))
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    assert(!p.contains("SortMergeJoin"), p.take(2500))
  }

  test("cell balance: one partial-agg groupBy funnel, no window, no cartesian") {
    val df = SparkEntry.queries("a_cell_balance")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p.take(2500))
    assert(!p.contains("Window"), p.take(2500))
    // partial aggregation before the exchange: the funnel is kCells rows
    assert(p.contains("HashAggregate"), p.take(2500))
  }

  test("profile audit: approx side stays a single scan fused aggregate") {
    // the audit may not degrade the approx twin's one-scan property:
    // the HLL pass plans no Expand (the multi-distinct rewrite) and no
    // per-column jobs
    val df = SparkEntry.queries("q_column_profile_audit")(spark, sf)
    val p = plan(df)
    assert(!p.contains("Expand"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
  }

  test("filtered kNN: the attribute predicate is pushed to the parquet scan") {
    // the A14 contract: filter the SCAN, never the finished top-k —
    // PushedFilters on the attribute column proves the predicate
    // reached the source, before any scoring. Audit the UNCACHED
    // shape (the 100 TB reality): another suite caching the raw
    // embeddings table in this shared session substitutes an
    // InMemoryRelation for the matching subtree, which hides the
    // parquet scan this audit exists to inspect (the filter still
    // applies — on the cached rows — so results are unaffected).
    spark.catalog.clearCache()
    val p = plan(SparkEntry.queries("a_knn_filtered")(spark, sf))
    val scans = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(scans.exists(l => l.contains("EqualTo(label,7)") ||
      l.contains("EqualTo(label, 7)")), scans.mkString("\n").take(2000))
    // and the probe/candidate joins stay broadcast
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("escalated filtered kNN: predicate pushed on BOTH candidate scans") {
    // the escalation adds a count-only pass over the filtered corpus;
    // the predicate must reach the parquet scan in that pass AND the
    // scored pass — and the per-query probe-depth joins stay broadcast
    spark.catalog.clearCache()
    val p = plan(SparkEntry.queries("a_knn_filtered_escalated")(spark, sf))
    val scans = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(scans.count(l => l.contains("EqualTo(label,7)") ||
      l.contains("EqualTo(label, 7)")) >= 2, scans.mkString("\n").take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("hybrid search: no cartesian; lexical join broadcasts the query tokens") {
    val p = plan(SparkEntry.queries("a_hybrid_search")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the lexical leg (r20: memoized, fused as a local relation) keeps
    // its broadcast/no-cartesian shape — audited on the leg's own plan
    val lex = plan(graft.operators.HybridSearch.lexLegPlan(
      graft.sources.Tables.documents(spark, sf), 5, 20))
    assert(!lex.contains("CartesianProduct"), lex.take(2000))
    assert(lex.contains("BroadcastHashJoin"), lex.take(2000))
  }
}
