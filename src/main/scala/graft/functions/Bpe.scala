package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Real byte-pair-encoding token counts (the T3 upgrade): the regex
  * token count is a PROXY, and every budget derived from it (P2
  * packing, P10 audits, P11 curricula) inherits its error — a
  * training pipeline budgets in TOKENIZER tokens. This applies a
  * GPT-2-FORMAT merge table (ranked `A B` pairs, one per line — the
  * public interchange format; the table itself is trained on the
  * repo's own synthetic corpus by [[graft.tools.TrainBpe]], no
  * external assets) with the standard greedy algorithm: per
  * whitespace word of the normalized text, start from characters and
  * repeatedly merge the LOWEST-RANKED adjacent pair until none
  * remains; the document's count is the sum over words.
  *
  * Exactness contract (the cross-engine gate): one outer iteration
  * merges the chosen pair's occurrences LEFT-TO-RIGHT without
  * overlap and repeats while the pair is still present, which is
  * exactly the fixpoint the oracle's `replace()`-based recursion
  * reaches — chained runs (`a a a a` under `a a`) may take the two
  * engines a different number of passes but land on the identical
  * symbol sequence, because a merged symbol can never re-form its
  * own pair (A+B ≠ A and ≠ B for nonempty B) and a trained table is
  * topologically ordered (a composite's parts always rank earlier),
  * so the best-present pair is stable across partial passes.
  *
  * Scale: a per-row projection inside whole-stage codegen (static
  * call, as [[HexHash60]]); the merge table is expression state
  * shipped once per executor (`addReferenceObj`), never a join. Cost
  * is O(word length × merges applied) per row — the same arithmetic
  * any tokenizer service pays, with zero shuffle.
  */
case class BpeTokenCountExpr(child: Expression, table: BpeTable)
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_token_count"

  override protected def nullSafeEval(input: Any): Any =
    Bpe.countTokens(input.asInstanceOf[UTF8String].toString, table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTable", table,
      classOf[BpeTable].getName)
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Bpe.countTokens($c.toString(), $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCountExpr =
    copy(child = newChild)
}

/** The byte-level twin of [[BpeTokenCountExpr]]: each whitespace word
  * is GPT-2 byte-encoded ([[Bpe.byteEncoder]]) before the merge loop,
  * so the expression accepts ARBITRARY text — multi-byte UTF-8 and
  * control bytes included — with no normalization step. Same codegen
  * shape: a static call inside whole-stage codegen, the table shipped
  * once per executor via `addReferenceObj`.
  */
case class BpeTokenCountBytesExpr(child: Expression, table: BpeTable)
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_token_count_bytes"

  override protected def nullSafeEval(input: Any): Any =
    Bpe.countTokensBytes(input.asInstanceOf[UTF8String].toString, table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTable", table,
      classOf[BpeTable].getName)
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Bpe.countTokensBytes($c.toString(), $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCountBytesExpr =
    copy(child = newChild)
}

/** The sequence twin of [[BpeTokenCountExpr]] (the ship-to-trainer
  * gap closer): the SAME greedy merge loop, but emitting the terminal
  * symbol sequence mapped through the table's derived vocabulary
  * ([[BpeTable.idOf]] — base chars own their code point, the merge at
  * rank r owns 256 + r) as `array<int>` token ids. What a trainer
  * loads is ids, not counts; `size(ids)` equals the count expression
  * on every input by construction (both run the identical loop —
  * spec-pinned). Same codegen shape: one static call inside
  * whole-stage codegen, the table shipped once per executor.
  */
case class BpeTokenizeIdsExpr(child: Expression, table: BpeTable)
  extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "bpe_tokenize_ids"

  override protected def nullSafeEval(input: Any): Any =
    Bpe.tokenizeIds(input.asInstanceOf[UTF8String].toString, table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTable", table,
      classOf[BpeTable].getName)
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Bpe.tokenizeIds($c.toString(), $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokenizeIdsExpr =
    copy(child = newChild)
}

/** A ranked merge table. Serializable (shipped inside the expression);
  * the rank index is rebuilt lazily per JVM after deserialization.
  */
final class BpeTable(val pairs: Array[(String, String)]) extends Serializable {
  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](pairs.length * 2)
    var i = 0
    while (i < pairs.length) {
      // first occurrence wins, like the GPT-2 loader
      m.putIfAbsent(pairs(i)._1 + "\u0000" + pairs(i)._2, Integer.valueOf(i))
      i += 1
    }
    m
  }
  def rank(a: String, b: String): Int = {
    val v = ranks.get(a + "\u0000" + b)
    if (v == null) Int.MaxValue else v.intValue()
  }
  def size: Int = pairs.length

  /** GPT-2-style vocabulary ids derived from the table itself (no
    * separate vocab asset): base single-char symbols own ids equal to
    * their code point (< 256 — the byte-encoder range), and the
    * composite symbol created by the merge at rank r owns id 256 + r
    * (first rank wins when two merges concatenate to the same string
    * — mirrors the rank map's putIfAbsent, and the oracle's
    * `min(256 + rnk)`).
    */
  @transient private lazy val symIds: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](pairs.length * 2)
    var i = 0
    while (i < pairs.length) {
      m.putIfAbsent(pairs(i)._1 + pairs(i)._2, Integer.valueOf(256 + i))
      i += 1
    }
    m
  }

  /** Vocabulary id of a terminal symbol; -1 for a symbol outside the
    * vocabulary (cannot happen for merge-loop output over single-char
    * starts — composites always come from some merge in this table).
    */
  def idOf(sym: String): Int = {
    if (sym.length == 1 && sym.charAt(0) < 256) sym.charAt(0).toInt
    else {
      val v = symIds.get(sym)
      if (v == null) -1 else v.intValue()
    }
  }
}

object Bpe {

  /** The repo's default merge table, trained by
    * [[graft.tools.TrainBpe]] on the synthetic corpus and checked in
    * as embedded data ([[BpeMergesData]] — GPT-2 interchange format:
    * `A B` per line, rank = line number, `#` comments skipped).
    */
  lazy val default: BpeTable = parseMerges(BpeMergesData.lines.iterator)

  /** The first `n` merges of the default table — the vocabulary-size
    * knob (a GPT-2-format table truncates by rank: every prefix is
    * itself a valid table, trained state included). What T20's fit
    * report responds to: a smaller vocabulary shreds text into more
    * tokens, and the per-language fertility delta between two depths
    * is the measured cost of the smaller table.
    */
  def defaultTruncated(n: Int): BpeTable = {
    require(n >= 1 && n <= default.size,
      s"truncation depth $n outside 1..${default.size}")
    new BpeTable(default.pairs.take(n))
  }

  /** The GPT-2 byte encoder (the public `bytes_to_unicode`
    * interchange mapping): a BIJECTION from the 256 byte values to
    * printable code points — bytes in [33,126], [161,172], [174,255]
    * map to their own code point, the remaining 68 (controls, space,
    * 127-160, 173) map to 256+k in first-gap order — so ARBITRARY
    * input (multi-byte UTF-8, control bytes) becomes a clean symbol
    * stream before merging, with no information loss and no
    * normalization step. On printable-ASCII input the mapping is the
    * identity, which is what lets the DuckDB oracle (a char-level
    * replay) gate the byte-level path exactly on this corpus; the
    * non-identity half is spec-pinned against the published ranges.
    */
  val byteEncoder: Array[Char] = {
    val self = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    var n = 0
    (0 until 256).map { b =>
      if (self(b)) b.toChar
      else { val c = (256 + n).toChar; n += 1; c }
    }.toArray
  }

  /** One word's byte-level symbol sequence: UTF-8 bytes, each mapped
    * through [[byteEncoder]] to a single-char symbol.
    */
  private[functions] def byteSymbols(w: String): Array[String] = {
    val bytes = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[String](bytes.length)
    var i = 0
    while (i < bytes.length) {
      out(i) = String.valueOf(byteEncoder(bytes(i) & 0xff)); i += 1
    }
    out
  }

  /** Byte-level token count: [[countTokens]] with each whitespace
    * word byte-encoded before the merge loop — the GPT-2 shape that
    * accepts arbitrary text. Identical to [[countTokens]] on
    * printable-ASCII input (identity mapping); multi-byte characters
    * contribute one symbol per UTF-8 BYTE until a trained merge joins
    * them.
    */
  def countTokensBytes(s: String, table: BpeTable): Long = {
    var total = 0L
    eachWord(s)((i, j) =>
      total += tokenizeSymsCount(byteSymbols(s.substring(i, j)), table))
    total
  }

  /** Calls `f(i, j)` for every non-empty whitespace word `s[i, j)`, in
    * order: the word walk of [[countTokens]], [[countTokensBytes]] and
    * [[tokenizeIds]].
    */
  private def eachWord(s: String)(f: (Int, Int) => Unit): Unit = {
    var i = 0
    val n = s.length
    while (i < n) {
      var j = i
      while (j < n && s.charAt(j) != ' ') j += 1
      if (j > i) f(i, j)
      i = j + 1
    }
  }

  def parseMerges(lines: Iterator[String]): BpeTable =
    new BpeTable(lines.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val sp = l.split(" ", 2)
        require(sp.length == 2 && sp(0).nonEmpty && sp(1).nonEmpty,
          s"malformed merge line '$l'")
        (sp(0), sp(1))
      }.toArray)

  /** Total BPE tokens over the whitespace words of `s` (already
    * normalized — the caller applies the shared [[TextAnalysis]]
    * normalization, same as the regex counter).
    */
  def countTokens(s: String, table: BpeTable): Long = {
    var total = 0L
    eachWord(s)((i, j) => total += tokenizeWordCount(s.substring(i, j), table))
    total
  }

  /** Token count of one word under the greedy merge loop. */
  private[functions] def tokenizeWordCount(w: String, t: BpeTable): Int = {
    val len = w.length
    if (len <= 1) return len
    val syms = new Array[String](len)
    var i = 0
    while (i < len) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
    tokenizeSymsCount(syms, t)
  }

  /** The merge loop over an explicit starting symbol sequence (the
    * shared core of the char-level and byte-level paths).
    */
  private[functions] def tokenizeSymsCount(syms: Array[String],
      t: BpeTable): Int = {
    var len = syms.length
    if (len <= 1) return len
    var i = 0
    while (true) {
      var best = Int.MaxValue
      i = 0
      while (i < len - 1) {
        val r = t.rank(syms(i), syms(i + 1))
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) return len
      // one LEFT-TO-RIGHT non-overlapping pass over the best pair;
      // a single pass removes every occurrence (the merged symbol
      // cannot recreate its own pair), so the next loop recomputes
      // the next-best pair
      var out = 0
      i = 0
      while (i < len) {
        if (i < len - 1 && t.rank(syms(i), syms(i + 1)) == best) {
          syms(out) = syms(i) + syms(i + 1)
          i += 2
        } else {
          syms(out) = syms(i)
          i += 1
        }
        out += 1
      }
      len = out
    }
    len // unreachable
  }

  /** Token-id sequence of a (normalized) document: per whitespace
    * word, run the same greedy merge loop as [[countTokens]] and map
    * each terminal symbol through [[BpeTable.idOf]]; the document's
    * sequence is the per-word sequences concatenated in word order
    * (no separator tokens — GPT-2 byte-level style, where the space
    * is consumed by normalization upstream).
    */
  def tokenizeIds(s: String,
      table: BpeTable): org.apache.spark.sql.catalyst.util.ArrayData = {
    var ids = new Array[Int](math.max(8, s.length / 2))
    var n = 0
    def push(v: Int): Unit = {
      if (n == ids.length) ids = java.util.Arrays.copyOf(ids, n * 2)
      ids(n) = v; n += 1
    }
    eachWord(s) { (i, j) =>
      val wlen = j - i
      val syms = new Array[String](wlen)
      var k = 0
      while (k < wlen) { syms(k) = String.valueOf(s.charAt(i + k)); k += 1 }
      // the count loop merges in place: the surviving prefix IS the
      // terminal symbol sequence
      val m = tokenizeSymsCount(syms, table)
      k = 0
      while (k < m) { push(table.idOf(syms(k))); k += 1 }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(ids, n))
  }

  /** Column wrapper: BPE token count of a (normalized) text column. */
  def tokenCount(c: Column, table: BpeTable): Column =
    SqlBridge.column(BpeTokenCountExpr(SqlBridge.expression(c), table))

  /** Column wrapper: BPE token-id sequence (`array<int>`) of a
    * (normalized) text column — the trainer-consumable twin of
    * [[tokenCount]].
    */
  def tokenIds(c: Column, table: BpeTable): Column =
    SqlBridge.column(BpeTokenizeIdsExpr(SqlBridge.expression(c), table))

  /** Column wrapper: byte-level BPE token count — arbitrary text,
    * no normalization required ([[countTokensBytes]]).
    */
  def tokenCountBytes(c: Column, table: BpeTable): Column =
    SqlBridge.column(
      BpeTokenCountBytesExpr(SqlBridge.expression(c), table))
}
