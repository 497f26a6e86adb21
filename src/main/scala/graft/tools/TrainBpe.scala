package graft.tools

import graft.core.LocalSession

/** One-shot BPE merge-table trainer: classic pair-frequency training
  * (count adjacent symbol pairs over the word multiset, merge the
  * most frequent, repeat), emitting the GPT-2 interchange format
  * (`A B` per line, rank = line number) on stdout. The embedded table
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
    val words: Map[String, Long] = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id")
        .cast("string").as("id"),
        graft.functions.Portable.normText(
          org.apache.spark.sql.functions.col("text")).as("t"))
      .collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        :+ r.getString(0))
      .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    spark.stop()

    var vocab: Map[Vector[String], Long] =
      words.map { case (w, c) => w.toVector.map(String.valueOf(_)) -> c }
    (0 until nMerges).foreach { _ =>
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        syms.zip(syms.tail).foreach { p =>
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + c
        }
      }
      if (pairCounts.nonEmpty) {
        val (best, _) = pairCounts.toSeq
          .maxBy { case ((a, b), c) => (c, a, b) } // ties: lexicographic max for stability
        println(s"${best._1} ${best._2}")
        val merged = best._1 + best._2
        vocab = vocab.map { case (syms, c) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
              out += merged; i += 2
            } else { out += syms(i); i += 1 }
          }
          out.result() -> c
        }.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
      }
    }
  }
}
