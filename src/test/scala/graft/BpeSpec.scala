package graft

import org.apache.spark.sql.functions._

import graft.functions.{Bpe, BpeTable, Portable, TextAnalysis}
import graft.operators.Curation

/** T18: real BPE token counts — greedy merge-loop semantics, chain
  * convergence, the embedded trained table, and the codegen
  * expression against a driver recount.
  */
class BpeSpec extends SparkSuite {

  private def table(pairs: (String, String)*): BpeTable =
    new BpeTable(pairs.toArray)

  test("greedy merge loop: rank order decides, chains merge left-to-right") {
    val t = table(("a", "a"), ("aa", "b"), ("b", "c"))
    // [a,a,a,b] -> (a,a) once -> [aa,a,b]; no pair remains
    assert(Bpe.countTokens("aaab", t) === 3L)
    // [a,a,a,a,b,c] -> [aa,aa,b,c] -> rank 1 (aa,b) BEFORE rank 2
    // (b,c): [aa,aab,c] — wrong order would give [aa,aa,bc]
    assert(Bpe.countTokens("aaaabc", t) === 3L)
    // chain of four: two non-overlapping merges in one pass
    assert(Bpe.countTokens("aaaa", t) === 2L)
    // untouched word: one token per char
    assert(Bpe.countTokens("xyz", t) === 3L)
    // words independent; single chars and empties
    assert(Bpe.countTokens("aaab xyz a", t) === 3L + 3L + 1L)
    assert(Bpe.countTokens("", t) === 0L)
    assert(Bpe.countTokens("   ", t) === 0L)
  }

  test("a merged symbol never re-forms its own pair") {
    // (a,b)->ab: [a,b,b] merges once, the new 'ab' + 'b' is NOT (a,b)
    val t = table(("a", "b"))
    assert(Bpe.countTokens("abb", t) === 2L)
    assert(Bpe.countTokens("abab", t) === 2L) // both pairs, one pass
  }

  test("embedded trained table loads and is topologically ordered") {
    val t = Bpe.default
    assert(t.size === 2000)
    // every composite's parts were merged earlier (the property the
    // cross-engine convergence argument relies on): for each pair
    // (a, b), any multi-char side must itself be an earlier merge
    val seen = scala.collection.mutable.Set.empty[String]
    graft.functions.BpeMergesData.lines.foreach { l =>
      val Array(a, b) = l.split(" ", 2)
      Seq(a, b).filter(_.length > 1).foreach { s =>
        assert(seen.contains(s),
          s"composite '$s' used before being formed (line '$l')")
      }
      seen += (a + b)
    }
  }

  test("codegen expression equals a driver recount on the corpus") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val got = TextAnalysis.tokenCountBpe(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val want = docs.select(col("doc_id"),
        Portable.normText(col("text")).as("t")).collect()
      .map(r => r.getLong(0) -> Bpe.countTokens(r.getString(1), Bpe.default))
      .toMap
    assert(got === want)
    // and the BPE count compresses: never more tokens than characters,
    // never fewer than whitespace words
    val both = TextAnalysis.tokenCountBpe(docs).collect()
    both.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"doc ${r.getLong(0)}: fewer BPE tokens than words")
    }
  }

  test("tokenizer fit: per-lang sums reconcile with tokenCountBpe; ratios exact") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val fit = TextAnalysis.tokenizerFit(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    // group sums reconcile with the per-doc gated rows
    val perDoc = TextAnalysis.tokenCountBpe(docs)
      .join(docs.select("doc_id", "lang", "n_chars"), Seq("doc_id"))
      .collect()
    val byLang = perDoc.groupBy(_.getAs[String]("lang"))
    assert(fit.keySet === byLang.keySet)
    byLang.foreach { case (lang, rows) =>
      val r = fit(lang)
      assert(r.getAs[Long]("n_docs") === rows.length.toLong)
      assert(r.getAs[Long]("ws_tokens") === rows.map(_.getAs[Long]("ws_tokens")).sum)
      assert(r.getAs[Long]("bpe_tokens") === rows.map(_.getAs[Long]("bpe_tokens")).sum)
      assert(r.getAs[Long]("n_chars") === rows.map(_.getAs[Long]("n_chars")).sum)
      // ratios are the exact integer div of the summed columns
      assert(r.getAs[Long]("fertility_pct") ===
        r.getAs[Long]("bpe_tokens") * 100 / r.getAs[Long]("ws_tokens"))
      assert(r.getAs[Long]("chars_per_tok_pct") ===
        r.getAs[Long]("n_chars") * 100 / r.getAs[Long]("bpe_tokens"))
      // BPE never undercuts words, so fertility is >= 100%
      assert(r.getAs[Long]("fertility_pct") >= 100L)
    }
  }

  test("tokenizer fit responds to the vocabulary knob: truncated table raises every fertility") {
    val docs = graft.sources.Tables.documents(spark, sf)
    def fert(t: graft.functions.BpeTable) =
      TextAnalysis.tokenizerFit(docs, t).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("fertility_pct")).toMap
    val full = fert(Bpe.default)
    val small = fert(Bpe.defaultTruncated(50))
    assert(full.keySet === small.keySet)
    // a 40x-smaller vocabulary must shred text into MORE tokens for
    // every language — strictly, or the report isn't measuring the
    // knob (depth 50 is below this corpus's ~rank-100 saturation)
    full.keySet.foreach { lang =>
      assert(small(lang) > full(lang),
        s"$lang: fertility ${small(lang)} at depth 50 vs ${full(lang)} full")
    }
    // and the truncation guard rejects nonsense depths
    intercept[IllegalArgumentException](Bpe.defaultTruncated(0))
    intercept[IllegalArgumentException](
      Bpe.defaultTruncated(Bpe.default.size + 1))
  }

  test("token-id sequences: known example, vocab mapping, merge-order ids") {
    val t = table(("a", "a"), ("aa", "b"), ("b", "c"))
    def ids(s: String): Seq[Int] =
      Bpe.tokenizeIds(s, t).toIntArray().toSeq
    // [a,a,a,b] -> [aa,a,b]: ids [256+0, 'a', 'b']
    assert(ids("aaab") === Seq(256, 'a'.toInt, 'b'.toInt))
    // [a,a,a,a,b,c] -> [aa,aa,b,c] -> [aa,aab,c]: rank-1 composite
    assert(ids("aaaabc") === Seq(256, 257, 'c'.toInt))
    // untouched word: one id per char, the code points themselves
    assert(ids("xyz") === Seq('x'.toInt, 'y'.toInt, 'z'.toInt))
    // word order preserved across the document
    assert(ids("aaab xyz a") ===
      Seq(256, 'a'.toInt, 'b'.toInt, 'x'.toInt, 'y'.toInt, 'z'.toInt,
        'a'.toInt))
    assert(ids("") === Seq.empty)
    // duplicate composite: first producing rank owns the id
    val dup = table(("a", "bc"), ("ab", "c"))
    assert(dup.idOf("abc") === 256)
  }

  test("size(ids) == bpe token count on every corpus document") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val joined = TextAnalysis.tokenizeIds(docs)
      .join(TextAnalysis.tokenCountBpe(docs), "doc_id")
      .select(col("doc_id"), size(col("ids")).cast("long").as("n_ids"),
        col("bpe_tokens"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getLong(1) === r.getLong(2),
        s"doc ${r.getLong(0)}: ids length != count")
    }
    // and no symbol fell outside the derived vocabulary
    val bad = TextAnalysis.tokenizeIds(docs)
      .filter(array_contains(col("ids"), -1)).count()
    assert(bad === 0L)
  }

  test("packed id payload: size(ids) == n_tokens and checksum pins pack order") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val packed = Curation.packSequencesIds(docs, budget = 256, shards = 4)
      .select(col("shard"), col("seq_id"), col("n_tokens"),
        size(col("ids")).cast("long").as("n_ids"))
      .collect()
    assert(packed.nonEmpty)
    packed.foreach { r =>
      assert(r.getLong(3) === r.getLong(2),
        s"seq (${r.getLong(0)},${r.getLong(1)}): payload length != n_tokens")
    }
  }

  test("GPT-2 byte encoder: published ranges, bijection, identity on printable ASCII") {
    val enc = Bpe.byteEncoder
    assert(enc.length === 256)
    assert(enc.distinct.length === 256) // bijection
    // self-mapped ranges are exactly the published ones
    val self = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    (0 until 256).foreach { b =>
      if (self(b)) assert(enc(b).toInt === b, s"byte $b must self-map")
      else assert(enc(b).toInt >= 256, s"byte $b must map above 255")
    }
    // the 68 escapes are assigned in first-gap order from 256
    val escapes = (0 until 256).filterNot(self).map(enc(_).toInt)
    assert(escapes === (256 until 256 + escapes.length))
  }

  test("byte-level count: identity on ASCII, one symbol per UTF-8 byte beyond") {
    val t = Bpe.default
    // printable-ASCII input: byte-level == char-level, any table
    Seq("parser error", "batch 4999 dedup", "a", "").foreach { w =>
      assert(Bpe.countTokensBytes(w, t) === Bpe.countTokens(w, t), w)
    }
    // a 2-byte char is 2 symbols before merging (no merge covers the
    // escape alphabet in the repo table)
    val empty = new BpeTable(Array.empty)
    assert(Bpe.countTokensBytes("café", empty) === 5L) // c a f + 2 bytes
    assert(Bpe.countTokensBytes("é", empty) === 2L)
    // 3-byte char (U+20AC EURO SIGN)
    assert(Bpe.countTokensBytes("€", empty) === 3L)
    // control bytes are representable, never dropped
    assert(Bpe.countTokensBytes("a	b", empty) === 3L)
    // and words still split on space only
    assert(Bpe.countTokensBytes("é é", empty) === 4L)
  }

  test("the 2000-merge table: digit merges fire on id numerals") {
    val t = Bpe.default
    assert(t.size === 2000)
    // every 1-4 digit doc_id collapses below its digit count — the
    // production-gate stream (t_token_count_bpe_prod) exercises these
    // rules; a table that only knew the prose vocabulary could not
    val sample = Seq("4999", "1234", "907", "42", "3141")
    sample.foreach { id =>
      val n = Bpe.countTokens(id, t)
      assert(n < id.length, s"id '$id' stayed at $n symbols — digit merges dead")
    }
    // byte-level path agrees on the same numerals (identity range)
    sample.foreach { id =>
      assert(Bpe.countTokensBytes(id, t) === Bpe.countTokens(id, t))
    }
  }

  test("per-row cost is flat in TABLE SIZE (expression state, not a join)") {
    // the scaling contract: cost is O(len x merges APPLIED), never
    // O(table size) — rank lookups are O(1) hash probes. Grow the
    // table 5x with rules that can never fire (their left symbol is a
    // composite no trained rule forms) and the same corpus must count
    // IDENTICALLY and in comparable time.
    val base = Bpe.default
    val pad = (0 until 8000).map(i => ("qqq" + (i % 97), "zzz" + (i / 97)))
    val padded = new BpeTable(base.pairs ++ pad)
    assert(padded.size === 10000)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(Portable.normText(col("text")).as("t")).collect()
      .map(_.getString(0))
    def run(t: BpeTable): (Long, Long) = {
      val t0 = System.nanoTime()
      var acc = 0L
      docs.foreach { d => acc += Bpe.countTokens(d, t) }
      (acc, System.nanoTime() - t0)
    }
    run(base); run(padded) // JIT warm
    val (c1, n1) = run(base)
    val (c2, n2) = run(padded)
    assert(c1 === c2, "padded table changed counts — pads fired")
    // flat means within noise, not proportional to the 5x table: allow
    // a generous 2x band to keep the check robust on a throttling VM
    assert(n2 < n1 * 2 + 50 * 1000 * 1000,
      s"5x table size cost ${n2 / 1e6}ms vs ${n1 / 1e6}ms — not flat")
  }

  test("trainMerges equals the classic in-memory trainer on the corpus multiset") {
    import graft.operators.BpeTrainer
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val n = 40
    val out = BpeTrainer.trainMerges(docs, n).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    // reference: the classic in-memory pair-frequency loop, verbatim,
    // over the same word multiset (normText words + doc_id strings)
    val words = docs.select(col("doc_id").cast("string").as("id"),
        Portable.normText(col("text")).as("t")).collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        :+ r.getString(0))
      .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    var vocab: Map[Vector[String], Long] =
      words.map { case (w, c) => w.toVector.map(String.valueOf(_)) -> c }
    val ref = Seq.newBuilder[(String, String)]
    (0 until n).foreach { _ =>
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        syms.zip(syms.tail).foreach(p => pc(p) = pc.getOrElse(p, 0L) + c)
      }
      if (pc.nonEmpty) {
        val (best, _) = pc.toSeq.maxBy { case ((a, b), c) => (c, a, b) }
        ref += best
        val merged = best._1 + best._2
        vocab = vocab.map { case (syms, c) =>
          val o = Vector.newBuilder[String]; var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == best._1
                && syms(i + 1) == best._2) { o += merged; i += 2 }
            else { o += syms(i); i += 1 }
          }
          o.result() -> c
        }
      }
    }
    assert(out === ref.result())
  }

  test("batched trainMerges: merge chain identical to the sequential trainer, batches > 1") {
    import graft.operators.BpeTrainer
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val n = 120
    val (seqDf, seqSizes) = BpeTrainer.trainMergesWithStats(docs, n, batchT = 1)
    val (batDf, batSizes) = BpeTrainer.trainMergesWithStats(docs, n, batchT = 64)
    def chain(df: org.apache.spark.sql.DataFrame) = df.collect()
      .sortBy(_.getInt(0)).map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    // the provable prefix rule reproduces the sequential merge ORDER
    // exactly — same table, same ranks
    assert(chain(batDf) === chain(seqDf))
    // the sequential arm really is one merge per pass, and the batched
    // arm really batches on this corpus (otherwise the speedup claim
    // is vacuous here and BASELINE should record the honest negative)
    assert(seqSizes.forall(_ == 1) && seqSizes.sum === n)
    assert(batSizes.sum === n)
    assert(batSizes.length < n,
      s"no pass batched more than one merge (${batSizes.length} passes)")
  }

  test("batched trainMerges: sequential-equal on a run/alternation corpus " +
      "(spelling-collision guard regression net)") {
    import graft.operators.BpeTrainer
    import spark.implicits._
    // runs mint self-pairs (aa, aaaa, ...) and alternations mint
    // overlapping spellings (ab/ba/aba/bab) — the corpus family where
    // an accepted concat is most likely to re-spell an existing
    // symbol. The prefix rule's condition-4 cut must keep the batched
    // chain EXACTLY the sequential one here; depth 150 walks well
    // past the initial alphabet into composite-symbol merges.
    val docs = (0 until 400).map { i =>
      val a = "a" * (1 + i % 7)
      val b = "b" * (1 + i % 3)
      (i.toLong, s"$a$b$a ${a}c$b ab" * (1 + i % 4))
    }.toDF("doc_id", "text")
    val n = 150
    val (seqDf, seqSizes) = BpeTrainer.trainMergesWithStats(docs, n, batchT = 1)
    val (batDf, batSizes) = BpeTrainer.trainMergesWithStats(docs, n, batchT = 64)
    def chain(df: org.apache.spark.sql.DataFrame) = df.collect()
      .sortBy(_.getInt(0)).map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(chain(batDf) === chain(seqDf))
    assert(seqSizes.forall(_ == 1))
    assert(batSizes.sum === seqSizes.sum)
  }

  test("trainMerges single-pass run semantics: 'aaaaa' trains (a,a) then (aa,aa)") {
    import graft.operators.BpeTrainer
    import spark.implicits._
    // after merging (a,a), a greedy single pass over the 5-run gives
    // [aa, aa, a] — a boundary-sharing replace encoding would give
    // [aa, a, aa] instead, whose next argmax is (aa,a), not (aa,aa).
    // doc_id 12 keeps the id word "12" repeat-free so it never
    // competes (a 5-run id like 1000 would train (0,0) second)
    val docs = Seq((12L, "aaaaa")).toDF("doc_id", "text")
    val out = BpeTrainer.trainMerges(docs, 2).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    assert(out === Seq(("a", "a"), ("aa", "aa")))
  }
}
