package graft.similarity

import graft.operators.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011) — the memory-side ANN scale
  * path, complementing IVF (which prunes WHAT is scanned, PQ shrinks
  * HOW MUCH each scanned row costs): split the D-dim embedding into `m`
  * subvectors, k-means each subspace independently, and store each
  * vector as `m` small codebook ids (D floats → m bytes, e.g. 64×4 B →
  * 8 B, a 32× compression). Query-time ADC (asymmetric distance
  * computation) precomputes, per query, an m×k table of exact
  * query-subvector→centroid distances, and scores a candidate by `m`
  * table lookups instead of `D` multiplies — no decompression, constant
  * per-row cost.
  *
  * Scale shape: codebooks are tiny (m·k·(D/m) floats) and ride along as
  * literals/broadcast; training at 100 TB runs on a SAMPLE (standard
  * practice — codebooks converge on a fraction of the corpus) while
  * ENCODING distributes over the full corpus as a pure map. The encoded
  * table is 32× smaller than the float corpus, which is the difference
  * between spilling and RAM-resident at a billion vectors.
  *
  * Deterministic end-to-end: subspace codebooks seed from the lowest
  * vec_ids (same convention as [[Similarity.trainCentroids]]) with a
  * fixed iteration count; distance ties break on ascending centroid id.
  */
object ProductQuantizer {

  /** Per-subspace codebooks: `codebooks(s)(cid)` is the centroid of
    * cluster `cid` in subspace `s`.
    */
  type Codebooks = Array[Array[Array[Float]]]

  private def subCol(emb: Column, s: Int, subDim: Int): Column =
    slice(emb, s * subDim + 1, subDim) // slice() is 1-based

  /** Train `m` codebooks of `k` centroids each on (a sample of) the
    * corpus. `corpus` must expose (vec_id, embedding: array<float>) with
    * a fixed dimension divisible by `m`.
    */
  def train(corpus: DataFrame, dim: Int, m: Int, k: Int, iters: Int = 2): Codebooks = {
    require(dim % m == 0, s"dim $dim must be divisible by m $m")
    val subDim = dim / m
    (0 until m).map { s =>
      val sub = corpus.select(
        col("vec_id"), subCol(col("embedding"), s, subDim).as("embedding"))
      Similarity.trainCentroids(sub, k, iters).sortBy(_._1).map(_._2)
    }.toArray
  }

  /** Argmin-by-squared-distance over one subspace's codebook; ties break
    * on the lower centroid id ([[Similarity]]'s greatest-struct idiom:
    * score strictly dominates, then HIGHER negated-cid wins = lower cid).
    */
  private def nearestCode(sub: Column, codebook: Array[Array[Float]]): Column = {
    val scored = codebook.zipWithIndex.map { case (c, cid) =>
      val cLit = typedLit(c.toSeq)
      val sqNorm = c.map(x => x.toDouble * x.toDouble).sum
      struct(
        (graft.functions.VectorFunctions.vecDot(sub, cLit) - lit(sqNorm / 2)).as("score"),
        lit(-cid).as("ncid"))
    }
    (-greatest(scored.toSeq: _*).getField("ncid")).cast("int")
  }

  /** Encode every vector as its `m` codebook ids — a pure map over the
    * corpus (no shuffle): (vec_id, codes: array<int>).
    */
  def encode(corpus: DataFrame, codebooks: Codebooks): DataFrame = {
    val m = codebooks.length
    val subDim = codebooks.head.head.length
    val codes = array((0 until m).map { s =>
      nearestCode(subCol(col("embedding"), s, subDim), codebooks(s))
    }: _*)
    corpus.select(col("vec_id"), codes.as("codes"))
  }

  /** Reconstruct (decode) an encoded row back to its quantized vector —
    * used for measuring reconstruction error, not for search.
    */
  def decode(encoded: DataFrame, codebooks: Codebooks): DataFrame = {
    val flat = codebooks.map(_.map(_.toSeq).toSeq).toSeq
    val cbLit = typedLit(flat) // array<array<array<float>>>
    encoded.withColumn(
      "decoded",
      flatten(zip_with(
        col("codes"),
        cbLit,
        (code, book) => element_at(book, code + 1))))
  }

  /** ADC top-k: per query, the exact m×k distance table is computed once
    * (as a column on the broadcast query side), and each encoded corpus
    * row costs m `element_at` lookups + a sum. Returns (q_id, vec_id,
    * adc_dist, rank) — rank 1 = nearest (smallest quantized L2).
    */
  def adcTopK(
      encoded: DataFrame, // (vec_id, codes)
      queries: DataFrame, // (q_id, q_emb)
      codebooks: Codebooks,
      k: Int): DataFrame = {
    val m = codebooks.length
    val subDim = codebooks.head.head.length
    // table(s)(cid) = ||q_sub(s) − codebook(s)(cid)||²  — exact, per query
    val table = array((0 until m).map { s =>
      val qSub = subCol(col("q_emb"), s, subDim)
      array(codebooks(s).map { c =>
        graft.functions.VectorFunctions.vecSqDist(qSub, typedLit(c.toSeq))
      }: _*)
    }: _*)
    val withTables = queries.select(col("q_id"), table.as("dtab"))
    val dist = aggregate(
      zip_with(col("codes"), col("dtab"), (code, row) => element_at(row, code + 1)),
      lit(0.0), (acc, x) => acc + x)
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc_dist").asc, col("vec_id").asc)
    encoded
      .crossJoin(broadcast(withTables))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc_dist", round(dist * 1e6) / 1e6)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("adc_dist"), col("rank"))
  }

  /** Persist a PQ index: `<path>/codebooks` (subspace, cid, centroid)
    * and `<path>/codes` (vec_id, codes) — the compressed corpus is what
    * serving scans, 32× smaller than the float table; codebooks are a
    * tiny dimension table. Build once (train on a sample at scale),
    * probe many.
    */
  def writePqIndex(
      corpus: DataFrame, path: String, dim: Int, m: Int, k: Int, iters: Int = 2): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val pinned = Checkpoints.pin(corpus)
    val cb = train(pinned, dim, m, k, iters)
    cb.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, cid) => (s, cid, c.toSeq) }
    }.toSeq.toDF("subspace", "cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    encode(pinned, cb)
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Load the codebooks of a persisted index back into driver form. */
  def readCodebooks(spark: org.apache.spark.sql.SparkSession, path: String): Codebooks = {
    import spark.implicits._
    spark.read.parquet(s"$path/codebooks")
      .select(col("subspace"), col("cid"), col("centroid").cast("array<float>"))
      .as[(Int, Int, Array[Float])].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3) }
      .toArray
  }

  /** Probe a persisted PQ index: ADC over the stored codes — the float
    * corpus is never read on the serving path (pass it separately to
    * [[adcTopKRerank]] when exact re-ranking is wanted).
    */
  def probePqIndex(path: String, queries: DataFrame, k: Int): DataFrame = {
    val spark = queries.sparkSession
    val cb = readCodebooks(spark, path)
    adcTopK(spark.read.parquet(s"$path/codes"), queries, cb, k)
  }

  /** The production serving shape: ADC retrieves a `shortlist`-sized
    * candidate set from the compressed table (cheap, lossy), then ONLY
    * the shortlist's float vectors are fetched and exactly re-ranked —
    * quantization error affects which candidates are considered, never
    * the final ordering. `corpus` is the float side keyed by vec_id;
    * the shortlist join is a semi-selective hash join, shortlist·|Q|
    * rows, not corpus-sized.
    */
  def adcTopKRerank(
      encoded: DataFrame, // (vec_id, codes)
      corpus: DataFrame,  // (vec_id, embedding)
      queries: DataFrame, // (q_id, q_emb)
      codebooks: Codebooks,
      k: Int,
      shortlist: Int): DataFrame = {
    val candidates = adcTopK(encoded, queries, codebooks, shortlist)
      .select(col("q_id"), col("vec_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist").asc, col("vec_id").asc)
    candidates
      .join(corpus, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("dist",
        round(graft.functions.VectorFunctions.vecSqDist(col("q_emb"), col("embedding")) * 1e6) / 1e6)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("dist"), col("rank"))
  }
}
