package graft.tools

import graft.core.LocalSession

/** One-shot BPE merge-table trainer: classic pair-frequency training
  * (count adjacent symbol pairs over the word multiset, merge the
  * most frequent, repeat) run by [[graft.operators.BpeTrainer]],
  * emitting the GPT-2 interchange format (`A B` per line, rank = line
  * number) on stdout. The embedded table
  * [[graft.functions.BpeMergesData]] is this tool's output wrapped
  * as Scala data — regenerate with:
  *
  *   java -cp 'target/scala-2.13/classes:SPARK_JARS' \
  *     graft.tools.TrainBpe /root/testdata/sf0.1 2000
  *
  * Training units are the corpus's normalized-text words PLUS the
  * doc_id decimal strings: the synthetic prose vocabulary saturates
  * plain word-BPE at ~90 merges (31 distinct words), while a
  * production merge table carries thousands of rules — the id
  * numerals supply the combinatorial diversity (every 1-4 digit
  * sequence) that trains the table into production shape, and the
  * gated queries tokenize the same id+text stream so those rules
  * actually FIRE cross-engine.
  *
  * Determinism: ties on pair frequency break lexicographically, so
  * the table is a pure function of the corpus. Training by
  * most-frequent-first also guarantees the topological property the
  * cross-engine convergence argument needs (a composite symbol's
  * parts always merged — hence ranked — earlier).
  */
object TrainBpe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nMerges = if (args.length > 1) args(1).toInt else 2000
    val spark = LocalSession(8)
    val merges = graft.operators.BpeTrainer
      .trainMerges(spark.read.parquet(s"$sfDir/documents.parquet"), nMerges)
      .orderBy("rank").collect()
    spark.stop()
    merges.foreach(r => println(s"${r.getString(1)} ${r.getString(2)}"))
  }
}
