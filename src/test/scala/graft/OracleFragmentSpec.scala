package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scans: each DuckDB oracle fragment two oracles share is
  * written once (a private builder in SparkEntry), and centroid
  * assignment has one path (the CentroidOps kernels).
  */
class OracleFragmentSpec extends AnyFunSuite {

  test("each shared oracle fragment is written once under src/main/scala") {
    val fragments = Seq(
      // the top-k order of every ANN oracle
      "row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id)",
      // the guarded-cosine serving-cell ranking
      "rankedc AS (",
      // the MinHash signature
      "min((ha * (h % 1048576) + hb) % 1048573)",
      // milli-quantization of the embeddings
      "round(x*1000)::BIGINT",
      // the quality features' stop-word list
      "('the','a','and','of','to','in','is','on','for','with')",
      // the shared-shingle join of the MinHash verify
      "JOIN sh sb ON sb.doc_id = c.doc_b AND sb.h = sa.h")
    fragments.foreach { f =>
      assert(SourceScan.occurrences(f) === 1, f)
    }
    // the element-wise product closing an integer dot:
    // `a[i::INT]*b[i::INT]))`, any aliases and lambda variable
    assert(SourceScan.matches("""\[(\$?\w+)::INT\]\*[\w.$]+\[\1::INT\]\)\)""") === 1)
  }

  test("centroid assignment has one path: no inlined-literal argmin, no switch knob") {
    assert(SourceScan.occurrences("literalAssignMaxTerms") === 0)
    assert(SourceScan.occurrences("array_min(array(") === 0)
  }
}
