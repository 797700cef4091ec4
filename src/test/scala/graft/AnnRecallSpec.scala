package graft

import graft.similarity.{ProductQuantizer, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Random

/** Recall gates for every ANN path on CLUSTERED synthetic vectors.
  *
  * The driver testdata embeddings are uniform-random, which makes recall
  * there vacuous — in high dimension all uniform points are nearly
  * equidistant, so "neighbors" are noise and any index looks the same.
  * This fixture plants real structure (8 well-separated unit centers,
  * Gaussian members around each) and asserts each approximate path
  * actually retrieves the true neighbors a user would expect:
  * recall@10 against brute force, on held-out per-cluster queries.
  *
  * All vectors are unit-normalized, so squared-L2 and cosine induce the
  * SAME ordering (||a−b||² = 2−2cos) — the PQ/ADC paths (L2) are
  * directly comparable to the cosine brute force.
  *
  * Everything is seeded: fixture, k-means init (lowest vec_ids), LSH
  * hyperplanes (deterministic weights) — a recall regression here is a
  * code change, never flake.
  */
class AnnRecallSpec extends SparkSpec {

  private val dim = 16
  private val nClusters = 8
  private val perCluster = 50
  private val k = 10

  private lazy val fixture: (DataFrame, DataFrame) = {
    import spark.implicits._
    val rnd = new Random(42)
    def normalized(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val centers = Array.fill(nClusters)(normalized(Array.fill(dim)(rnd.nextGaussian())))
    def member(c: Array[Float]): Seq[Float] =
      normalized(c.map(x => x + 0.15 * rnd.nextGaussian())).toSeq
    val corpus = (0 until nClusters).flatMap { ci =>
      (0 until perCluster).map { i =>
        ((ci * perCluster + i).toLong, member(centers(ci)))
      }
    }.toDF("vec_id", "embedding").cache()
    // held-out queries: one fresh member per cluster, ids disjoint
    val queries = (0 until nClusters)
      .map(ci => (1000L + ci, member(centers(ci))))
      .toDF("q_id", "q_emb").cache()
    (corpus, queries)
  }
  private lazy val corpus = fixture._1
  private lazy val queries = fixture._2

  private lazy val brute: Set[(Long, Long)] =
    Similarity.bruteForceTopK(corpus, queries, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recallOf(ann: DataFrame): Double = {
    val a = ann.select(col("q_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (a & brute).size.toDouble / brute.size
  }

  test("IVF ANN recall@10 >= 0.9 probing 2 of 8 cells") {
    val r = recallOf(Similarity.ivfTopK(
      corpus, queries, k = k, nCells = nClusters, nProbe = 2, kmeansIters = 3))
    assert(r >= 0.9, s"ivfTopK recall@10 = $r")
  }

  test("persisted IVF index probe recall@10 >= 0.9") {
    val path = SparkSpec.tempDir("ivf_recall")
    Similarity.writeIvfIndex(corpus, path, nCells = nClusters, kmeansIters = 3)
    val r = recallOf(Similarity.probeIvfIndex(path, queries, k = k, nProbe = 2))
    assert(r >= 0.9, s"probeIvfIndex recall@10 = $r")
  }

  test("multi-table LSH ANN recall@10 >= 0.7 (single-table collapses)") {
    // the single-table form is the hash-gate-compatible default; its
    // recall on structured data is the known weakness multi-table fixes
    val single = recallOf(Similarity.lshTopK(corpus, queries, k = k, nPlanes = 8))
    val multi = recallOf(
      Similarity.lshTopK(corpus, queries, k = k, nPlanes = 4, nTables = 8))
    assert(multi >= 0.7, s"multi-table lshTopK recall@10 = $multi (single = $single)")
    assert(multi > single, s"multi-table ($multi) must beat single-table ($single)")
  }

  test("JL-sketch prefilter ANN recall improves with shortlist; >= 0.85 at 5k") {
    // 16→8 dims halves the scoring width; at only 2× compression the
    // JL distortion is material, so the shortlist multiplier is the
    // recall knob — assert the knob works and the 5k setting clears 0.85
    val r3 = recallOf(Similarity.rpTopK(
      corpus, queries, k = k, dimIn = dim, dimOut = 8, shortlist = 3 * k))
    val r5 = recallOf(Similarity.rpTopK(
      corpus, queries, k = k, dimIn = dim, dimOut = 8, shortlist = 5 * k))
    assert(r5 >= r3, s"recall must not fall as the shortlist grows ($r3 -> $r5)")
    assert(r5 >= 0.85, s"rpTopK recall@10 = $r5 at shortlist 5k (3k gave $r3)")
  }

  test("PQ ADC recall@10 >= 0.6; exact rerank from a 3k shortlist >= 0.8") {
    val cb = ProductQuantizer.train(corpus, dim = dim, m = 8, k = 32, iters = 3)
    val encoded = ProductQuantizer.encode(corpus, cb).cache()
    val adc = recallOf(ProductQuantizer.adcTopK(encoded, queries, cb, k = k))
    assert(adc >= 0.6, s"adcTopK recall@10 = $adc")
    val rr = recallOf(ProductQuantizer.adcTopKRerank(
      encoded, corpus, queries, cb, k = k, shortlist = 3 * k))
    assert(rr >= adc, s"rerank recall $rr should not fall below raw ADC $adc")
    assert(rr >= 0.8, s"adcTopKRerank recall@10 = $rr")
  }
}
