package graft

import graft.similarity.{ProductQuantizer, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ProductQuantizerSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64
  private lazy val corpus: DataFrame =
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
      .cache()

  private def reconError(cb: ProductQuantizer.Codebooks): Double =
    ProductQuantizer.decode(ProductQuantizer.encode(corpus, cb), cb)
      .join(corpus, Seq("vec_id"))
      .select(avg(graft.functions.VectorFunctions.vecSqDist(
        col("decoded").cast("array<float>"), col("embedding"))).as("mse"))
      .collect().head.getDouble(0)

  test("codes are m ids, each within its codebook range") {
    val cb = ProductQuantizer.train(corpus, dim, m = 8, k = 4, iters = 1)
    val codes = ProductQuantizer.encode(corpus, cb)
    val bad = codes.filter(
      size(col("codes")) =!= 8 ||
        exists(col("codes"), c => c < 0 || c >= 4)).count()
    assert(bad === 0)
    assert(codes.count() === corpus.count())
  }

  test("Lloyd iterations reduce reconstruction error vs seed codebooks") {
    val seed = reconError(ProductQuantizer.train(corpus, dim, m = 8, k = 8, iters = 0))
    val trained = reconError(ProductQuantizer.train(corpus, dim, m = 8, k = 8, iters = 3))
    assert(trained < seed, s"trained MSE $trained should beat seed MSE $seed")
  }

  test("more centroids per subspace reduce reconstruction error") {
    val k4 = reconError(ProductQuantizer.train(corpus, dim, m = 8, k = 4, iters = 2))
    val k16 = reconError(ProductQuantizer.train(corpus, dim, m = 8, k = 16, iters = 2))
    assert(k16 < k4, s"k=16 MSE $k16 should beat k=4 MSE $k4")
  }

  /** Deterministic clustered vectors: 10 centers × 20 members, small
    * per-member jitter. Uniform-random embeddings (the parquet fixture)
    * are PQ's degenerate case — concentration of measure makes every
    * pairwise distance nearly equal, so recall there measures noise.
    * Nearest-neighbor SEARCH is only meaningful when neighbors exist.
    */
  private lazy val clustered: DataFrame = {
    val rows = for (c <- 0 until 10; i <- 0 until 20) yield {
      val id = (c * 20 + i).toLong
      val v = Array.tabulate(dim) { d =>
        val center = ((c * 37 + d * 11) % 13 - 6).toFloat
        val jitter = ((id * 31 + d * 7) % 5 - 2) * 0.05f
        center + jitter
      }
      (id, v)
    }
    rows.toDF("vec_id", "embedding").cache()
  }

  private def exactTop10(base: DataFrame, queries: DataFrame): Map[Long, Set[Long]] =
    base.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("d", graft.functions.VectorFunctions.vecSqDist(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("d").asc, col("vec_id").asc)))
      .filter(col("rank") <= 10)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

  private def meanRecall(approx: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double = {
    val recalls = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    recalls.sum / recalls.size
  }

  test("ADC top-k retrieves from the query's true cluster") {
    // Pure ADC is a coarse ranker: it reliably finds the right REGION
    // (cluster) but cannot order jitter-scale differences within it —
    // that last mile is the rerank stage's job (next test). So the
    // honest pure-ADC assertion is cluster-level retrieval, not exact
    // top-10 agreement.
    val cb = ProductQuantizer.train(clustered, dim, m = 8, k = 16, iters = 3)
    val encoded = ProductQuantizer.encode(clustered, cb)
    val queries = clustered.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val hits = ProductQuantizer.adcTopK(encoded, queries, cb, k = 10)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.nonEmpty)
    val inCluster = hits.count { case (q, v) => q / 20 === v / 20 }
    val frac = inCluster.toDouble / hits.length
    assert(frac >= 0.9, f"only $frac%.2f of ADC hits from the true cluster")
  }

  test("exact re-ranking of the ADC shortlist dominates pure ADC") {
    // Coarse codebooks (k = 4) so pure ADC is genuinely lossy and the
    // shortlist-then-exact-rerank stage has headroom to win back.
    val cb = ProductQuantizer.train(clustered, dim, m = 4, k = 4, iters = 2)
    val encoded = ProductQuantizer.encode(clustered, cb)
    val queries = clustered.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def top10(df: DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val pure = top10(ProductQuantizer.adcTopK(encoded, queries, cb, k = 10))
    val rerank = top10(ProductQuantizer.adcTopKRerank(
      encoded, clustered, queries, cb, k = 10, shortlist = 40))
    val exact = exactTop10(clustered, queries)
    val (rPure, rRerank) = (meanRecall(pure, exact), meanRecall(rerank, exact))
    assert(rRerank >= rPure, f"rerank recall $rRerank%.2f must not lose to pure ADC $rPure%.2f")
    assert(rRerank >= 0.8, f"rerank recall@10 $rRerank%.2f below 0.8")
  }

  test("persisted index round-trips: probe equals in-memory ADC") {
    val path = SparkSpec.tempDir("graft-pq-index") + "/index"
    ProductQuantizer.writePqIndex(clustered, path, dim, m = 4, k = 8, iters = 1)
    val queries = clustered.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cb = ProductQuantizer.readCodebooks(spark, path)
    val inMem = ProductQuantizer.adcTopK(
      ProductQuantizer.encode(clustered, cb), queries, cb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val probed = ProductQuantizer.probePqIndex(path, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(probed === inMem)
    assert(probed.nonEmpty)
  }

  test("ADC distance equals exact distance when codebooks memorize the corpus") {
    // k >= corpus size and 1 Lloyd sweep: every vector sits in its own
    // cell (or shares one with an identical vector), so the quantized
    // distance IS the exact subspace-sum distance.
    val tiny = corpus.filter(col("vec_id") < 8).cache()
    val n = tiny.count().toInt
    val cb = ProductQuantizer.train(tiny, dim, m = 4, k = n, iters = 4)
    val mse = ProductQuantizer.decode(ProductQuantizer.encode(tiny, cb), cb)
      .join(tiny, Seq("vec_id"))
      .select(avg(graft.functions.VectorFunctions.vecSqDist(
        col("decoded").cast("array<float>"), col("embedding"))).as("mse"))
      .collect().head.getDouble(0)
    assert(mse < 1e-9, s"memorizing codebooks should reconstruct exactly, MSE $mse")
  }
}
