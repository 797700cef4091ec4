package graft.similarity

import graft.operators.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity over an `Array[Float]` embedding column — built from
  * higher-order functions (`zip_with` + `aggregate`), computed in double
  * precision with a deterministic left-fold, so results are reproducible
  * and cross-engine comparable.
  *
  * Brute-force cosine top-k is the correctness baseline; the LSH variant
  * (deterministic signed random projections) is the 100 TB path: bucket
  * first (narrow shuffle on short keys), then score only within-bucket
  * candidates instead of the full cross product.
  */
object Similarity {

  def toDoubleArr(c: Column): Column = transform(c, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k cosine neighbors for each query vector. The query side
    * is broadcast (k queries ≪ corpus); ties broken by ascending
    * candidate id after rounding so the result is total-order
    * deterministic.
    */
  def bruteForceTopK(
      corpus: DataFrame,  // (vec_id, embedding)
      queries: DataFrame, // (q_id, q_emb)
      k: Int,
      roundDigits: Int = 4): DataFrame = {
    val scored = corpus
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn(
        "cos",
        round(graft.functions.VectorFunctions.vecCosine(col("q_emb"), col("embedding")), roundDigits))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rank"))
  }

  /** Deterministic signed-random-projection LSH: hyperplane j weights
    * w(j,d) = ((j·31 + d·17) mod 7) − 3 (pseudo-random, engine-portable,
    * no RNG state). Bucket = bit-packed signs of the nPlanes projections.
    * `table` offsets the plane index so each hash table draws an
    * independent set of hyperplanes.
    */
  def lshBucket(emb: Column, nPlanes: Int = 8, table: Int = 0): Column =
    (0 until nPlanes)
      .map { j =>
        val jj = table * nPlanes + j
        val proj = aggregate(
          zip_with(
            emb,
            transform(sequence(lit(0), size(emb) - 1), d => (lit(jj) * 31 + d * 17) % 7 - lit(3)),
            (x, w) => x.cast("double") * w),
          lit(0.0),
          (acc, x) => acc + x)
        when(proj > 0, lit(1L << j)).otherwise(lit(0L))
      }
      .reduce(_ + _)

  /** IVF (inverted-file) ANN: partition the corpus into cells around
    * centroids learned by a few distributed k-means iterations (typed
    * [[CentroidAggregator]] does the per-cell mean), then search only the
    * cells nearest each query. The 100 TB shape: the centroid table is
    * tiny and broadcast; the corpus is scanned once per build; queries
    * touch `nProbe / k` of the data instead of all of it.
    *
    * Deterministic: initial centroids are the first k vectors by id, and
    * iteration count is fixed.
    */
  /** Nearest-centroid assignment: argmin over squared distance ≡ argmax
    * over (dot − ||c||²/2); centroid literals inline into codegen.
    */
  private def nearestCell(emb: Column, cents: Array[(Int, Array[Float])]): Column = {
    val dotF = graft.functions.VectorFunctions.vecDot _
    val scored = cents.map { case (cid, c) =>
      val cLit = typedLit(c.toSeq)
      val sqNorm = c.map(x => x.toDouble * x.toDouble).sum
      struct((dotF(emb, cLit) - lit(sqNorm / 2)).as("score"), lit(cid).as("cid"))
    }
    greatest(scored.toSeq: _*).getField("cid")
  }

  /** The per-query probe list: each query's nProbe nearest centroids. */
  private def probedCells(
      queries: DataFrame, centroids: Array[(Int, Array[Float])], nProbe: Int): DataFrame = {
    val dotF = graft.functions.VectorFunctions.vecDot _
    queries.withColumn(
      "cells",
      array(centroids.sortBy(_._1).map { case (cid, c) =>
        val cLit = typedLit(c.toSeq)
        val sqNorm = c.map(x => x.toDouble * x.toDouble).sum
        struct((dotF(col("q_emb"), cLit) - lit(sqNorm / 2)).as("score"), lit(cid).as("cid"))
      }: _*))
      .withColumn("probed", slice(sort_array(col("cells"), asc = false), 1, nProbe))
      .select(col("q_id"), col("q_emb"), explode(col("probed.cid")).as("cell"))
  }

  /** Deterministic distributed k-means (seeds = the nCells lowest
    * vec_ids, fixed iteration count; typed [[CentroidAggregator]] does
    * the per-cell mean). The corpus frame should be pinned by the caller
    * when iters > 0 — the loop rescans it once per iteration.
    */
  def trainCentroids(
      corpus: DataFrame, nCells: Int, iters: Int): Array[(Int, Array[Float])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var centroids: Array[(Int, Array[Float])] = corpus
      .orderBy(col("vec_id")).limit(nCells)
      .select(col("embedding")).as[Array[Float]].collect()
      .zipWithIndex.map { case (v, i) => (i, v) }
    var iter = 0
    while (iter < iters) {
      val assigned = corpus.withColumn("cell", nearestCell(col("embedding"), centroids))
      val centroidUdaf = udaf(
        CentroidAggregator,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
      val updated = assigned
        .groupBy(col("cell"))
        .agg(centroidUdaf(col("embedding")).as("centroid"))
        .as[(Int, Array[Float])].collect()
      // cells that lost all members keep their previous centroid
      val byId = updated.toMap
      centroids = centroids.map { case (cid, c) => (cid, byId.getOrElse(cid, c)) }
      iter += 1
    }
    centroids
  }

  def ivfTopK(
      corpus: DataFrame,  // (vec_id, embedding)
      queries: DataFrame, // (q_id, q_emb)
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      kmeansIters: Int = 3): DataFrame = {
    // the iterative build rescans the corpus (kmeansIters + 1) times —
    // pin the working set like any iterative ML job
    val pinned = Checkpoints.pin(corpus)
    val centroids = trainCentroids(pinned, nCells, kmeansIters)
    val cells = pinned.withColumn("cell", nearestCell(col("embedding"), centroids))
    val qCells = probedCells(queries, centroids, nProbe)
    val scored = cells
      .join(broadcast(qCells), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn(
        "cos",
        round(graft.functions.VectorFunctions.vecCosine(col("q_emb"), col("embedding")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rank"))
  }

  /** Persist an IVF index: `<path>/centroids` (cid, centroid) plus the
    * corpus written cell-PARTITIONED under `<path>/cells` — each cell
    * directory is an inverted-file posting list. Build once, probe many:
    * the serving path never re-trains and reads only probed cells.
    */
  def writeIvfIndex(
      corpus: DataFrame, path: String, nCells: Int = 16, kmeansIters: Int = 3): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val pinned = Checkpoints.pin(corpus)
    val centroids = trainCentroids(pinned, nCells, kmeansIters)
    centroids.toSeq.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    pinned.withColumn("cell", nearestCell(col("embedding"), centroids))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Probe a persisted IVF index. The probe joins the cell-partitioned
    * corpus on `cell` against the broadcast per-query probe list, so
    * dynamic partition pruning restricts the scan to probed cell
    * directories — the disk analogue of "touch nProbe/nCells of the
    * data", with no driver-side cell bookkeeping.
    */
  def probeIvfIndex(
      path: String,
      queries: DataFrame, // (q_id, q_emb)
      k: Int,
      nProbe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centroids = spark.read.parquet(s"$path/centroids")
      .select(col("cid"), col("centroid").cast("array<float>"))
      .as[(Int, Array[Float])].collect().sortBy(_._1)
    val cells = spark.read.parquet(s"$path/cells")
    val qCells = probedCells(queries, centroids, nProbe)
    val scored = cells
      .join(broadcast(qCells), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn(
        "cos",
        round(graft.functions.VectorFunctions.vecCosine(col("q_emb"), col("embedding")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rank"))
  }

  /** ANN via LSH buckets: score only pairs that share a bucket in at
    * least one of `nTables` independent hash tables — the standard
    * multi-table construction: a single table of b planes has candidate
    * recall q ≈ p^b (p = per-plane agreement), which collapses for any
    * useful b; L independent tables lift it to 1 − (1 − q)^L at L× the
    * candidate cost. AnnRecallSpec pins the resulting recall on
    * clustered vectors. The plan shape survives 100 TB: corpus explodes
    * ×L onto (table, bucket) keys — an equi-join shuffle, no cross join
    * — and per-(q, vec) dedup before scoring keeps each candidate pair
    * scored once.
    */
  def lshTopK(
      corpus: DataFrame,  // (vec_id, embedding)
      queries: DataFrame, // (q_id, q_emb)
      k: Int,
      nPlanes: Int = 8,
      nTables: Int = 1): DataFrame = {
    def withBuckets(df: DataFrame, emb: String) = df.select(
      df.columns.map(col) :+
        explode(array((0 until nTables).map { t =>
          struct(lit(t).as("tbl"), lshBucket(col(emb), nPlanes, t).as("bucket"))
        }: _*)).as("tb"): _*)
      .select(df.columns.map(col) :+ col("tb.tbl").as("tbl") :+ col("tb.bucket").as("bucket"): _*)
    val bucketed = withBuckets(corpus, "embedding")
    val qBucketed = withBuckets(queries, "q_emb")
    val joined = bucketed
      .join(broadcast(qBucketed), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
    // a near pair typically collides in several tables: dedup on the
    // pair key BEFORE the scoring kernel so each pair is scored once
    // (single-table candidates are already unique — skip the shuffle)
    val candidates =
      if (nTables == 1) joined
      else joined
        .groupBy(col("q_id"), col("vec_id"))
        .agg(first(col("q_emb")).as("q_emb"), first(col("embedding")).as("embedding"))
    val scored = candidates.withColumn(
      "cos",
      round(graft.functions.VectorFunctions.vecCosine(col("q_emb"), col("embedding")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rank"))
  }

  /** ANN via a [[RandomProjection]] JL-sketch prefilter: stage 1 scores
    * the dimOut-wide sketches (cheap: dimOut doubles vs dimIn floats)
    * and keeps `shortlist` candidates per query through the bounded-heap
    * [[graft.operators.TopKPerKey]] — k rows per (mapper, query), no
    * per-query full sort; stage 2 reruns EXACT cosine on the survivors
    * only. No index build or persistence: the sketch is a projection
    * computed in the same scan. Recall is governed by the JL distortion
    * bound and the shortlist multiplier.
    */
  def rpTopK(
      corpus: DataFrame,  // (vec_id, embedding)
      queries: DataFrame, // (q_id, q_emb)
      k: Int,
      dimIn: Int,
      dimOut: Int = 8,
      shortlist: Int = 20,
      salt: String = "rp"): DataFrame = {
    import graft.similarity.{RandomProjection => RP}
    def sketch(df: DataFrame, emb: String, out: String) = RP
      .project(df, col(emb), salt, dimIn, dimOut)
      .withColumn(out, array((0 until dimOut).map(j => col(s"y$j")): _*))
      .drop((0 until dimOut).map(j => s"y$j"): _*)
    def dot(a: Column, b: Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val sk = sketch(corpus, "embedding", "sk")
    val qs = sketch(queries, "q_emb", "q_sk")
    val cand = sk.select(col("vec_id"), col("sk"))
      .crossJoin(broadcast(qs.select(col("q_id"), col("q_sk"))))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"),
        (dot(col("sk"), col("q_sk")) /
          (sqrt(dot(col("q_sk"), col("q_sk"))) * sqrt(dot(col("sk"), col("sk"))))).as("sk_cos"),
        col("vec_id"))
    val cut = graft.operators.TopKPerKey(cand, "q_id", "sk_cos", "vec_id", k = shortlist)
      .select(col("q_id"), col("vec_id"))
    val rer = cut
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(queries.select(col("q_id"), col("q_emb"))), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(graft.functions.VectorFunctions.vecCosine(col("q_emb"), col("embedding")), 4)
          .as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    rer
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rank"))
  }
}
