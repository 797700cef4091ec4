package graft

import org.apache.spark.sql.functions._

/** Sanity contract for the persisted LSH near-dup index. Probing the
  * index with its own corpus must match every REACHABLE doc to itself
  * at Jaccard 1.0 — reachable = at least one of its buckets is under
  * the stop-bucket cap. Docs whose every bucket is degenerate are
  * deliberately unmatched (the cap is the operator's documented
  * semantics: a template-cluster bucket carries no signal and its
  * quadratic pair set is the explosion LSH exists to avoid).
  */
class LshIndexSpec extends SparkSpec {

  test("self-probe: every reachable doc matches itself at jaccard 1.0") {
    val cap = 64
    val corpus = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 3)
    val path = s"${SparkSpec.tempDir("lsh_self")}/idx"
    queries.Dedup.writeLshIndex(corpus, path)

    // expected reachable set, from the same membership the index stores
    val m = queries.Dedup.lshMembership(corpus).cache()
    val okBuckets = m.groupBy(col("bkey")).agg(count(lit(1)).as("n"))
      .filter(col("n") <= cap).select(col("bkey"))
    val reachable = m.join(okBuckets, Seq("bkey"), "left_semi")
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    val all = corpus.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(reachable.nonEmpty && reachable != all,
      "fixture should exercise BOTH sides of the stop-bucket cap")

    val got = queries.Dedup
      .probeLshIndex(spark, path, corpus, corpus, minJaccard = 0.5, maxBucket = cap)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

    reachable.foreach { id =>
      val (dupOf, jacc) = got.getOrElse(id, fail(s"reachable doc $id missing from self-probe"))
      // exact self-duplicate always present; equal-content docs with a
      // lower id may canonically win the tie, but the score must be 1.0
      assert(jacc === 1.0, s"doc $id best jaccard $jacc")
      assert(dupOf <= id, s"doc $id matched $dupOf — tie-break must take the lowest id")
    }
    (all -- reachable).foreach { id =>
      assert(!got.contains(id), s"doc $id has only degenerate buckets, must be unmatched")
    }
  }
}
