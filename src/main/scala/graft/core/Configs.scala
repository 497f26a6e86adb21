package graft.core

import Validation._

/** Typed knob bundles for every operator family — the uniform
  * validation front door (see [[Validation]] for the rule semantics
  * and the reference mapping). Flat-arg entry points construct the
  * matching config and call [[GraftConfig.validated]] on entry, so
  * every knob error in the library speaks one language and reports
  * ALL problems at once; users composing pipelines can validate the
  * same bundles up front, before any Spark job runs.
  */
object Configs {

  /** Segment rolling caps (E2/E3: Replicator.byCount/bySizeGreedy).
    * A zero cap is the reference's canonical misconfiguration — it
    * would bin every message into segment 0 or spin the greedy roller.
    */
  final case class SegmentRoll(maxMessages: Long = 1L, maxBytes: Long = 1L)
    extends GraftConfig {
    def configName = "segment-roll"
    def violations: Seq[Violation] =
      knob("maxMessages", maxMessages, minV = 1L) ++
        knob("maxBytes", maxBytes, minV = 1L)
  }

  /** Compaction planning bounds (C1/C2: Compactor.plan/planLeveled).
    * Carries the reference's min>max cross-field cases that struct
    * tags cannot express.
    */
  final case class Compaction(
      minLevel: Long = 0L, maxLevel: Long = 0L,
      minSegments: Long = 1L, maxSegments: Long = Long.MaxValue,
      minBytes: Long = 1L, maxBytes: Long = Long.MaxValue,
      minAgeSec: Long = 0L) extends GraftConfig {
    def configName = "compaction"
    def violations: Seq[Violation] =
      knob("minLevel", minLevel, minV = 0L, requiredNonZero = false) ++
        knob("maxLevel", maxLevel, minV = 0L, requiredNonZero = false) ++
        atMost("minLevel", minLevel, "maxLevel", maxLevel) ++
        knob("minSegments", minSegments, minV = 1L) ++
        knob("maxSegments", maxSegments, minV = 1L) ++
        atMost("minSegments", minSegments, "maxSegments", maxSegments) ++
        knob("minBytes", minBytes, minV = 1L) ++
        knob("maxBytes", maxBytes, minV = 1L) ++
        atMost("minBytes", minBytes, "maxBytes", maxBytes) ++
        knob("minAgeSec", minAgeSec, minV = 0L, requiredNonZero = false)
  }

  /** Dead-letter triage bound (I1d: Replicator.triageEvents). */
  final case class Triage(maxReceives: Long) extends GraftConfig {
    def configName = "triage"
    def violations: Seq[Violation] = knob("maxReceives", maxReceives, minV = 1L)
  }

  /** MinHash/LSH band geometry + similarity threshold (D2/D4/D15,
    * P5): signature length = bands × rows; thresholds are integer
    * basis points for engine portability.
    */
  final case class LshGeometry(bands: Long, rows: Long,
      minJaccardBp: Long) extends GraftConfig {
    def configName = "lsh-geometry"
    def violations: Seq[Violation] =
      knob("bands", bands, minV = 1L) ++
        knob("rows", rows, minV = 1L) ++
        knob("minJaccardBp", minJaccardBp, minV = 1L, maxV = 10000L)
  }

  /** SimHash pair search radius (D3): Hamming distance over the
    * 60-bit fingerprint; 0 = exact-fingerprint twins only.
    */
  final case class SimHashRadius(maxHamming: Long) extends GraftConfig {
    def configName = "simhash-radius"
    def violations: Seq[Violation] =
      knob("maxHamming", maxHamming, minV = 0L, maxV = 59L,
        requiredNonZero = false)
  }

  /** Top-k request shape shared by every kNN flavor (A1-A13). */
  final case class AnnRequest(numQueries: Long, k: Long) extends GraftConfig {
    def configName = "ann-request"
    def violations: Seq[Violation] =
      knob("numQueries", numQueries, minV = 1L) ++ knob("k", k, minV = 1L)
  }

  /** IVF training/probing knobs (A3/A5/A8/A9/A12, ST7/ST8): probing
    * more cells than exist is a misconfiguration, not a broader
    * search.
    */
  final case class Ivf(kCells: Long, iterations: Long = 2L,
      probes: Long = 1L) extends GraftConfig {
    def configName = "ivf"
    def violations: Seq[Violation] =
      knob("kCells", kCells, minV = 1L) ++
        knob("iterations", iterations, minV = 1L) ++
        knob("probes", probes, minV = 1L) ++
        atMost("probes", probes, "kCells", kCells)
  }

  /** Product-quantization knobs (A8/A9): per-subspace codebook size
    * is bounded by the int8 code domain; refine is the rerank
    * multiplier.
    */
  final case class Pq(pqK: Long, refine: Long = 1L) extends GraftConfig {
    def configName = "pq"
    def violations: Seq[Violation] =
      knob("pqK", pqK, minV = 1L, maxV = 256L) ++
        knob("refine", refine, minV = 1L)
  }

  /** Hyperplane-LSH bucket width (A2): planes index bits of a 60-bit
    * signature.
    */
  final case class Hyperplanes(planes: Long) extends GraftConfig {
    def configName = "hyperplanes"
    def violations: Seq[Violation] =
      knob("planes", planes, minV = 1L, maxV = 60L)
  }

  /** Sequence-packing knobs (P2): blockBits carves the 60-bit order
    * hash.
    */
  final case class Packing(budget: Long, shards: Long = 8L,
      blockBits: Long = 5L) extends GraftConfig {
    def configName = "packing"
    def violations: Seq[Violation] =
      knob("budget", budget, minV = 1L) ++
        knob("shards", shards, minV = 1L) ++
        knob("blockBits", blockBits, minV = 0L, maxV = 60L,
          requiredNonZero = false)
  }

  /** Bloom-guarded ingest knobs (D13): the bitmap must fit the
    * double-hash scheme (m a power of two, h2 odd) and the portable
    * integer arithmetic.
    */
  final case class Bloom(log2m: Long, kHashes: Long,
      batchMod: Long = 4L) extends GraftConfig {
    def configName = "bloom"
    def violations: Seq[Violation] =
      knob("log2m", log2m, minV = 6L, maxV = 40L) ++
        knob("kHashes", kHashes, minV = 1L, maxV = 16L) ++
        knob("batchMod", batchMod, minV = 1L)
  }

  /** Leakage-safe split percentages (P5): test gets the remainder. */
  final case class Split(trainPct: Long, validPct: Long) extends GraftConfig {
    def configName = "split"
    def violations: Seq[Violation] =
      knob("trainPct", trainPct, minV = 0L, maxV = 100L,
        requiredNonZero = false) ++
        knob("validPct", validPct, minV = 0L, maxV = 100L,
          requiredNonZero = false) ++
        check("trainPct", trainPct + validPct <= 100L,
          s"plus validPct exceeds 100 (${trainPct + validPct})")
  }

  /** Sliding-window chunk geometry (P7): stride past win would skip
    * tokens.
    */
  final case class Chunking(win: Long, stride: Long) extends GraftConfig {
    def configName = "chunking"
    def violations: Seq[Violation] =
      knob("win", win, minV = 1L) ++
        knob("stride", stride, minV = 1L) ++
        atMost("stride", stride, "win", win)
  }

  /** Sessionization gap (Q12). */
  final case class Session(gapSeconds: Long) extends GraftConfig {
    def configName = "session"
    def violations: Seq[Violation] =
      knob("gapSeconds", gapSeconds, minV = 1L)
  }

  /** Streaming-index maintenance cadence (ST7/ST8:
    * compactIfNeeded/vacuumGenerations/retrainIfNeeded). vacuumGrace
    * counts the generations kept below the serving one, so 0 reclaims
    * every older generation; maxLeavesPerCell must leave room for one
    * compacted leaf plus the newest tail.
    */
  final case class IndexMaintenance(
      maxLeavesPerCell: Long = 2L, vacuumGrace: Long = 1L,
      maxShareBp: Long = 10000L, kCells: Long = 1L,
      minBatches: Long = 2L) extends GraftConfig {
    def configName = "index-maintenance"
    def violations: Seq[Violation] =
      knob("maxLeavesPerCell", maxLeavesPerCell, minV = 2L) ++
        knob("vacuumGrace", vacuumGrace, minV = 0L,
          requiredNonZero = false) ++
        knob("maxShareBp", maxShareBp, minV = 1L, maxV = 10000L) ++
        knob("kCells", kCells, minV = 1L) ++
        knob("minBatches", minBatches, minV = 1L)
  }

  /** Deterministic shard fan-out (P6). */
  final case class Sharding(nShards: Long) extends GraftConfig {
    def configName = "sharding"
    def violations: Seq[Violation] = knob("nShards", nShards, minV = 1L)
  }
}
