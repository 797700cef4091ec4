package graft

/** Pins the BPE merge-induction semantics where they are subtle: runs of
  * a self-pair ("aaaa" with best pair (a,a)) must merge leftmost-
  * nonoverlapping — (aa)(aa), never (a)(aa)(a) — and ties on pair
  * weight break lexicographically (left, right).
  */
class BpeSpec extends SparkSpec {

  test("self-pair runs merge leftmost-nonoverlapping; ties break lexicographically") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("bpe_fix")
    Seq((1L, "aaaa aaa bb", "en", "unit", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.TrainOps.qBpeMerges.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    // round 1: (a,a) weight 3[aaaa]+2[aaa] = 5 → aaaa→(aa)(aa), aaa→(aa)a, bb untouched
    assert(got(0) == ((1L, "a", "a", 5L, 6L)))
    // round 2: all pairs weight 1 — ("aa","a") < ("aa","aa") < ("b","b") lexicographically
    assert(got(1) == ((2L, "aa", "a", 1L, 5L)))
    assert(got(2) == ((3L, "aa", "aa", 1L, 4L)))
    assert(got(3) == ((4L, "b", "b", 1L, 3L)))
    // rounds 5-6: every word is a single symbol — the trace stops, as the
    // oracle's empty best CTE would
    assert(got.length == 4)
  }
}
