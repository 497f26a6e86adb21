package graft

import graft.core.{Configs, Validation}
import graft.core.Validation.GraftConfigException
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators._
import graft.sources.Tables
import graft.streaming.{StreamMessage, StreamingEgress}

/** The uniform config-validation front door (reference
  * utils/validation.go semantics): every §2 operator family's knob
  * bounds, the reference's zero-cap ("is zero") and min>max
  * cross-field cases, required-gates-min/max evaluation order, and
  * ALL-violations aggregation — plus wiring checks that the flat-arg
  * entry points actually throw the typed exception before running a
  * job.
  */
class ValidationSpec extends SparkSuite {

  private def messages =
    MessageFraming.messages(Tables.events(spark, sf))

  private def violationsOf(e: GraftConfigException): Seq[String] =
    e.violations.map(_.toString)

  // ---- rule semantics -------------------------------------------------

  test("zero cap reports the reference's 'is zero' and gates min/max") {
    val e = intercept[GraftConfigException] {
      Configs.SegmentRoll(maxMessages = 0L).validated
    }
    // required fails → min is NOT also reported (validation.go:109-113)
    assert(violationsOf(e) === Seq("maxMessages: is zero"))
    assert(e.getMessage ===
      "invalid segment-roll config: maxMessages: is zero")
  }

  test("min violation uses the reference vocabulary 'is less than N'") {
    val e = intercept[GraftConfigException] {
      Configs.Bloom(log2m = 3L, kHashes = 4L).validated
    }
    assert(violationsOf(e) === Seq("log2m: is less than 6"))
  }

  test("max violation uses 'is greater than N'") {
    val e = intercept[GraftConfigException] {
      Configs.Bloom(log2m = 50L, kHashes = 4L).validated
    }
    assert(violationsOf(e) === Seq("log2m: is greater than 40"))
  }

  test("ALL violations are collected, never just the first") {
    val e = intercept[GraftConfigException] {
      Configs.Bloom(log2m = 50L, kHashes = 0L, batchMod = -1L).validated
    }
    assert(violationsOf(e) === Seq(
      "log2m: is greater than 40",
      "kHashes: is zero",
      "batchMod: is less than 1"))
    assert(e.getMessage.contains("; ")) // one line, all fields
  }

  test("min>max cross-field: the case struct tags cannot express") {
    val e = intercept[GraftConfigException] {
      Configs.Compaction(minSegments = 5L, maxSegments = 2L).validated
    }
    assert(violationsOf(e) === Seq(
      "minSegments: is greater than maxSegments (2)"))
  }

  test("validated returns the config unchanged on the happy path") {
    val c = Configs.Compaction(minLevel = 0L, maxLevel = 3L,
      minSegments = 2L, maxSegments = 10L, minBytes = 1L,
      maxBytes = 1L << 30, minAgeSec = 60L)
    assert(c.validated eq c)
    assert(Configs.Ivf(kCells = 8L, iterations = 2L, probes = 8L)
      .violations.isEmpty) // probes == kCells is legal
    assert(Configs.Split(trainPct = 80L, validPct = 20L)
      .violations.isEmpty) // sum == 100 is legal, test gets 0
    assert(Configs.SimHashRadius(0L).violations.isEmpty) // exact twins
    assert(Configs.IndexMaintenance(vacuumGrace = 0L)
      .violations.isEmpty) // documented eager mode
  }

  test("string and collection required: 'is empty'") {
    assert(Validation.nonEmpty("seed", "").map(_.toString) ===
      Seq("seed: is empty"))
    assert(Validation.nonEmpty("keys", Seq.empty[String]).map(_.toString) ===
      Seq("keys: is empty"))
    assert(Validation.nonEmpty("seed", "x").isEmpty)
    assert(Validation.nonEmpty("keys", Seq("k")).isEmpty)
  }

  // ---- every family's bounds ------------------------------------------

  test("family bounds: each config rejects its canonical bad knob") {
    def bad(c: graft.core.GraftConfig): Seq[String] =
      violationsOf(intercept[GraftConfigException] { c.validated })

    assert(bad(Configs.SegmentRoll(maxMessages = -5L)) ===
      Seq("maxMessages: is less than 1"))
    assert(bad(Configs.Triage(0L)) === Seq("maxReceives: is zero"))
    assert(bad(Configs.LshGeometry(bands = 0L, rows = 2L,
      minJaccardBp = 20000L)) ===
      Seq("bands: is zero", "minJaccardBp: is greater than 10000"))
    assert(bad(Configs.SimHashRadius(60L)) ===
      Seq("maxHamming: is greater than 59"))
    assert(bad(Configs.AnnRequest(numQueries = 0L, k = 0L)) ===
      Seq("numQueries: is zero", "k: is zero"))
    assert(bad(Configs.Ivf(kCells = 4L, iterations = 0L, probes = 5L)) ===
      Seq("iterations: is zero", "probes: is greater than kCells (4)"))
    assert(bad(Configs.Pq(pqK = 300L)) ===
      Seq("pqK: is greater than 256"))
    assert(bad(Configs.Hyperplanes(61L)) ===
      Seq("planes: is greater than 60"))
    assert(bad(Configs.Packing(budget = 0L, blockBits = 61L)) ===
      Seq("budget: is zero", "blockBits: is greater than 60"))
    assert(bad(Configs.Split(trainPct = 80L, validPct = 30L)) ===
      Seq("trainPct: plus validPct exceeds 100 (110)"))
    assert(bad(Configs.Chunking(win = 4L, stride = 9L)) ===
      Seq("stride: is greater than win (4)"))
    assert(bad(Configs.Session(0L)) === Seq("gapSeconds: is zero"))
    assert(bad(Configs.IndexMaintenance(maxLeavesPerCell = 1L,
      maxShareBp = 0L)) ===
      Seq("maxLeavesPerCell: is less than 2", "maxShareBp: is zero"))
    assert(bad(Configs.Sharding(0L)) === Seq("nShards: is zero"))
  }

  // ---- entry-point wiring ---------------------------------------------

  test("entry points throw the typed exception before any job runs") {
    val m = messages
    intercept[GraftConfigException] { SegmentRoller.byCount(m, 0) }
    intercept[GraftConfigException] { SegmentRoller.bySizeGreedy(m, 0L, 10) }
    intercept[GraftConfigException] { SegmentRoller.byAge(m, "fortnight") }
    intercept[GraftConfigException] {
      Compactor.plan(m, 0, minSegments = 5, maxSegments = 2)
    }
    intercept[GraftConfigException] {
      Compactor.planLeveled(m, minLevel = 3, maxLevel = 1, minAgeSec = 0L,
        nowEpoch = 0L, minSegments = 2, maxSegments = 10, minBytes = 1L,
        maxBytes = 100L)
    }
    intercept[GraftConfigException] { StoreReconciler.triageEvents(m, 0) }
    // the streaming rollers validate their caps before a query starts
    val live = MemoryStream[StreamMessage](
      org.apache.spark.sql.Encoders.product[StreamMessage], spark.sqlContext)
    intercept[GraftConfigException] {
      StreamingEgress.statefulRoller(live.toDS(), "src", "t",
        maxMessages = 0, maxBytes = 100L, ageMs = 0L)
    }
    intercept[GraftConfigException] {
      StreamingEgress.foreachBatchEgress(live.toDF(),
        graft.sources.FsSegmentStore(spark, tmpDir("validation-egress")),
        "src", "t", maxMessages = 0,
        checkpointDir = tmpDir("validation-egress-wal")).stop()
    }

    val docs = Tables.documents(spark, sf)
    intercept[GraftConfigException] { Dedup.minhashLsh(docs, 5000L, bands = 0) }
    intercept[GraftConfigException] { Dedup.ngramJaccard(docs, 0L) }
    intercept[GraftConfigException] { Dedup.simhashPairs(docs, maxHamming = 60) }
    intercept[GraftConfigException] { Curation.packSequences(docs, budget = 0) }
    intercept[GraftConfigException] {
      Curation.bloomGuardedDedup(docs, log2m = 50)
    }
    intercept[GraftConfigException] {
      Curation.clusterSplit(docs, 5000L, trainPct = 80, validPct = 30)
    }
    intercept[GraftConfigException] {
      Curation.chunkOverlap(docs, win = 4, stride = 9)
    }
    intercept[GraftConfigException] { Curation.globalShuffle(docs, nShards = 0) }

    val emb = Tables.embeddings(spark, sf)
    intercept[GraftConfigException] { Ann.knnBruteForce(emb, 0, 3) }
    intercept[GraftConfigException] { Ann.knnLsh(emb, 5, 3, planes = 0) }
    intercept[GraftConfigException] {
      Ann.knnIvfTrained(emb, 5, 3, kCells = 4, probes = 5)
    }
    intercept[GraftConfigException] {
      Ann.knnIvfPq(emb, 5, 3, pqK = 300)
    }
    intercept[GraftConfigException] {
      Ann.knnIvfPqRefined(emb, 5, 3, refine = 0)
    }
    intercept[GraftConfigException] {
      TimeSeries.sessionize(Tables.events(spark, sf), gapSeconds = 0L)
    }

    // the long tail: every remaining knob-bearing operator speaks the
    // same language
    intercept[GraftConfigException] { Ann.semanticDedup(emb, 0L) }
    intercept[GraftConfigException] { Ann.embeddingDedup(emb, 20000L) }
    intercept[GraftConfigException] { Dedup.repeatedSpans(docs, w = 4, stride = 9) }
    intercept[GraftConfigException] { Dedup.lineDedup(docs, 0L) }
    intercept[GraftConfigException] { Sketch.kmvDistinctTokens(docs, k = 1) }
    intercept[GraftConfigException] {
      graft.functions.TextAnalysis.quotaSample(docs, quota = 0)
    }
    intercept[GraftConfigException] {
      graft.functions.TextAnalysis.sampleSplit(docs, trainPct = 80, valPct = 30)
    }
    intercept[GraftConfigException] {
      graft.functions.TextAnalysis.topTokens(docs, 0)
    }
    intercept[GraftConfigException] {
      HybridSearch.hybridTopK(docs, emb, 5, 3, rrfK = 0)
    }
  }

  test("every two-level rank caller rejects blockBits outside 0..60") {
    // shiftright masks its distance: -4 would give one block per row (a
    // corpus-sized offsets broadcast), 61 one block for everything
    val docs = Tables.documents(spark, sf)
    val low = intercept[GraftConfigException] {
      Curation.curriculumSchedule(docs, blockBits = -4)
    }
    assert(violationsOf(low) === Seq("blockBits: is less than 0"))
    val high = intercept[GraftConfigException] {
      Curation.mixtureResampleExact(docs, blockBits = 61)
    }
    assert(violationsOf(high) === Seq("blockBits: is greater than 60"))
    // the callers with their own knob bundle keep their config's name
    assert(intercept[GraftConfigException] {
      Curation.packSequences(docs, blockBits = 61)
    }.config === "packing")
    assert(intercept[GraftConfigException] {
      Curation.globalShuffle(docs, blockBits = -4)
    }.config === "sharding")
  }

  test("streaming-index maintenance knobs speak the same language") {
    import graft.streaming.StreamingAnn
    val dir = tmpDir("validation-idx")
    val e1 = intercept[GraftConfigException] {
      StreamingAnn.vacuumGenerations(dir, grace = -1)
    }
    assert(violationsOf(e1) === Seq("vacuumGrace: is less than 0"))
    intercept[GraftConfigException] {
      StreamingAnn.compactIfNeeded(spark, dir, maxLeavesPerCell = 1)
    }
    intercept[GraftConfigException] {
      StreamingAnn.retrainIfNeeded(spark, dir, maxShareBp = 0L, kCells = 8)
    }
    intercept[GraftConfigException] {
      StreamingAnn.retrainIndex(spark, dir, kCells = 0)
    }
  }

  test("GraftConfigException is an IllegalArgumentException (drop-in)") {
    val e = intercept[IllegalArgumentException] {
      Configs.Session(0L).validated
    }
    assert(e.isInstanceOf[GraftConfigException])
  }
}
