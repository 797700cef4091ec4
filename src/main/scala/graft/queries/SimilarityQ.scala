package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.similarity.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search extension pack over `embeddings` (Array[Float],
  * 64-dim): vector norms, brute-force cosine top-k (correctness
  * baseline), and the LSH-bucketed / IVF-probed ANN variants (the scale
  * paths). All five are hash-checked: the LSH hyperplanes and the IVF
  * seed centroids are deterministic and engine-portable, so the DuckDB
  * oracles replay the bucketing/probing in explicit double arithmetic.
  */
object SimilarityQ extends QueryPack {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.loadDistributed(s, dir, "embeddings", "vec_id")

  private def sqNormSql(c: String): String =
    s"list_sum([CAST(list_extract($c, i) AS DOUBLE) * CAST(list_extract($c, i) AS DOUBLE) FOR i IN range(1, len($c) + 1)])"

  private def dotSql(a: String, b: String): String =
    s"list_sum([CAST(list_extract($a, i) AS DOUBLE) * CAST(list_extract($b, i) AS DOUBLE) FOR i IN range(1, len($b) + 1)])"

  // `+ 0.0` normalizes DuckDB's sign-preserving round (-0.0) to match
  // Spark's BigDecimal HALF_UP (+0.0) — the driver hash distinguishes them
  private def cosSql(a: String, b: String): String =
    s"(round(${dotSql(a, b)} / (sqrt(${sqNormSql(a)}) * sqrt(${sqNormSql(b)})), 4) + 0.0)"

  /** DuckDB replay of [[Similarity.lshBucket]]: bit-packed signs of the
    * nPlanes pseudo-random projections, identical weight formula and
    * left-fold double sum.
    */
  private def bucketSql(e: String, nPlanes: Int, table: Int = 0): String =
    (0 until nPlanes).map { j =>
      val jj = table * nPlanes + j
      s"(CASE WHEN list_sum([CAST(list_extract($e, d + 1) AS DOUBLE) * ((($jj * 31 + d * 17) % 7) - 3) FOR d IN range(0, len($e))]) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Vector norms — exercises the higher-order-function math path. */
  val qEmbedNorms: Q = Q(
    "q_embed_norms",
    Some(s"""SELECT vec_id, label, round(sqrt(${sqNormSql("embedding")}), 4) AS norm
             FROM embeddings ORDER BY vec_id"""),
    (s, dir) =>
      emb(s, dir)
        .select(
          col("vec_id"),
          col("label"),
          round(Similarity.norm(Similarity.toDoubleArr(col("embedding"))), 4).as("norm"))
        .orderBy(col("vec_id")))

  /** Brute-force cosine top-5 neighbors for query vectors vec_id < 5. */
  val qCosineTopk: Q = Q(
    "q_cosine_topk", {
      val dotSql =
        "list_sum([CAST(list_extract(q.q_emb, i) AS DOUBLE) * CAST(list_extract(e.embedding, i) AS DOUBLE) FOR i IN range(1, len(e.embedding) + 1)])"
      Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
               scored AS (
                 SELECT q.q_id, e.vec_id,
                        round($dotSql / (sqrt(${sqNormSql("q.q_emb")}) * sqrt(${sqNormSql("e.embedding")})), 4) + 0.0 AS cos
                 FROM embeddings e, q WHERE e.vec_id <> q.q_id),
               ranked AS (
                 SELECT q_id, vec_id, cos,
                        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
                 FROM scored)
               SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 5
               ORDER BY q_id, rank""")
    },
    (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.bruteForceTopK(e.select(col("vec_id"), col("embedding")), queries, k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("q_id"), col("rank"))
    })

  /** ANN via deterministic signed-random-projection LSH buckets — the
    * plan shape that replaces the cross join at scale (equi-join on short
    * bucket keys, scoring only within-bucket candidates). The hyperplanes
    * are a pseudo-random but engine-portable weight formula, so the
    * oracle replays the full bucket → candidate → top-k pipeline.
    */
  val qLshAnn: Q = Q(
    "q_lsh_ann",
    Some(s"""WITH b AS (SELECT vec_id, embedding, ${bucketSql("embedding", 6)} AS bucket
                        FROM embeddings),
                  q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM b WHERE vec_id < 50),
                  scored AS (
                    SELECT q.q_id, b.vec_id, ${cosSql("q.q_emb", "b.embedding")} AS cos
                    FROM b JOIN q ON b.bucket = q.bucket AND b.vec_id <> q.q_id),
                  ranked AS (
                    SELECT q_id, vec_id, cos,
                           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
                    FROM scored)
             SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank
             FROM ranked WHERE rank <= 5 ORDER BY q_id, rank"""),
    (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.lshTopK(e.select(col("vec_id"), col("embedding")), queries, k = 5, nPlanes = 6)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("q_id"), col("rank"))
    })

  /** Multi-table LSH ANN — the recall fix AnnRecallSpec quantifies
    * (single-table recall collapses on clustered data; L independent
    * tables lift candidate recall to 1 − (1 − q)^L). The oracle replays
    * both hyperplane tables, unions the memberships, dedups candidate
    * pairs, and re-scores — proving the Spark-side dedup-before-kernel
    * (groupBy pair key, first(emb)) loses and invents nothing.
    */
  val qLshAnnMulti: Q = Q(
    "q_lsh_ann_multi",
    Some(s"""WITH m AS (
               SELECT vec_id, embedding, 0 AS tbl, ${bucketSql("embedding", 4, 0)} AS bucket
               FROM embeddings
               UNION ALL
               SELECT vec_id, embedding, 1 AS tbl, ${bucketSql("embedding", 4, 1)} AS bucket
               FROM embeddings),
             q AS (SELECT vec_id AS q_id, embedding AS q_emb, tbl, bucket
                   FROM m WHERE vec_id < 50),
             cand AS (
               SELECT DISTINCT q.q_id, m.vec_id
               FROM m JOIN q ON m.tbl = q.tbl AND m.bucket = q.bucket AND m.vec_id <> q.q_id),
             scored AS (
               SELECT c.q_id, c.vec_id, ${cosSql("qe.embedding", "e.embedding")} AS cos
               FROM cand c
               JOIN embeddings e ON e.vec_id = c.vec_id
               JOIN embeddings qe ON qe.vec_id = c.q_id),
             ranked AS (
               SELECT q_id, vec_id, cos,
                      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
               FROM scored)
             SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank
             FROM ranked WHERE rank <= 5 ORDER BY q_id, rank"""),
    (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.lshTopK(
        e.select(col("vec_id"), col("embedding")), queries, k = 5, nPlanes = 4, nTables = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("q_id"), col("rank"))
    })

  /** ANN via IVF cells (centroid partition + probe-nearest-cells) — the
    * second scale path next to LSH. Registered with kmeansIters = 0 so
    * the cells come from the deterministic seed centroids (the nCells
    * lowest vec_ids) and the oracle can replay assignment, probing, and
    * within-cell top-k exactly; the iterative Lloyd build is NOT
    * hash-checkable cross-engine (float mean accumulation order is
    * engine-internal) and stays covered by SimilaritySpec's recall and
    * full-probe==brute-force tests.
    */
  val qIvfAnn: Q = Q(
    "q_ivf_ann",
    Some(s"""WITH cent AS (
                    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                           embedding AS c_emb,
                           ${sqNormSql("embedding")} AS sqn
                    FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
                  assigned AS (
                    SELECT e.vec_id, e.embedding,
                           (max({'s': ${dotSql("e.embedding", "c.c_emb")} - c.sqn / 2, 'cid': c.cid})).cid AS cell
                    FROM embeddings e CROSS JOIN cent c GROUP BY e.vec_id, e.embedding),
                  qprobe AS (
                    SELECT q_id, q_emb, cell FROM (
                      SELECT q.vec_id AS q_id, q.embedding AS q_emb, c.cid AS cell,
                             row_number() OVER (PARTITION BY q.vec_id
                               ORDER BY (${dotSql("q.embedding", "c.c_emb")} - c.sqn / 2) DESC, c.cid DESC) AS rn
                      FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 20)
                    WHERE rn <= 3),
                  scored AS (
                    SELECT p.q_id, a.vec_id, ${cosSql("p.q_emb", "a.embedding")} AS cos
                    FROM assigned a JOIN qprobe p ON a.cell = p.cell AND a.vec_id <> p.q_id),
                  ranked AS (
                    SELECT q_id, vec_id, cos,
                           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
                    FROM scored)
             SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank
             FROM ranked WHERE rank <= 5 ORDER BY q_id, rank"""),
    (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.ivfTopK(
        e.select(col("vec_id"), col("embedding")), queries,
        k = 5, nCells = 8, nProbe = 3, kmeansIters = 0)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("q_id"), col("rank"))
    })

  /** DuckDB replay of the ITERATIVE IVF build (3 Lloyd sweeps): an
    * unrolled CTE chain — per sweep, argmax-assignment against the
    * previous centroids (same max-struct idiom as q_ivf_ann) then the
    * per-cell per-dim mean in DOUBLE cast to REAL. The float32 cast is
    * the key: Spark's [[graft.similarity.CentroidAggregator]] sums in
    * double and finishes with `(s / n).toFloat`, so both engines land on
    * the identical float32 centroid regardless of partition-dependent
    * sum order (double-sum noise ~1e-13 <<< float32 ULP ~6e-8). Cells
    * that lose all members keep their previous centroid (LEFT JOIN +
    * COALESCE ≙ the byId.getOrElse fallback).
    */
  private def ivfIterOracleSql(
      nCells: Int, nProbe: Int, iters: Int, nQ: Int, topK: Int): String = {
    val seed =
      s"""cent0 AS (
         |    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         |           embedding AS c_emb,
         |           ${sqNormSql("embedding")} AS sqn
         |    FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $nCells))"""
        .stripMargin
    def assignCte(name: String, centName: String): String =
      s"""$name AS (
         |    SELECT e.vec_id, e.embedding,
         |           (max({'s': ${dotSql("e.embedding", "c.c_emb")} - c.sqn / 2, 'cid': c.cid})).cid AS cell
         |    FROM embeddings e CROSS JOIN $centName c GROUP BY e.vec_id, e.embedding)"""
        .stripMargin
    val sweeps = (1 to iters).map { i =>
      s"""${assignCte(s"a$i", s"cent${i - 1}")},
         |  u$i AS (
         |    SELECT cell AS cid, list(CAST(m AS REAL) ORDER BY dim) AS c_emb
         |    FROM (SELECT t.cell, t.dim, avg(t.v) AS m
         |          FROM (SELECT cell,
         |                  unnest([{'dim': i, 'v': CAST(embedding[i] AS DOUBLE)}
         |                          FOR i IN range(1, len(embedding) + 1)],
         |                         recursive := true)
         |                FROM a$i) AS t(cell, dim, v)
         |          GROUP BY t.cell, t.dim)
         |    GROUP BY cell),
         |  cent$i AS (
         |    SELECT cid, c_emb, ${sqNormSql("c_emb")} AS sqn
         |    FROM (SELECT p.cid, COALESCE(u.c_emb, p.c_emb) AS c_emb
         |          FROM cent${i - 1} p LEFT JOIN u$i u ON u.cid = p.cid))"""
        .stripMargin
    }
    s"""WITH $seed,
       |  ${sweeps.mkString(",\n  ")},
       |  ${assignCte("afin", s"cent$iters")},
       |  qprobe AS (
       |    SELECT q_id, q_emb, cell FROM (
       |      SELECT q.vec_id AS q_id, q.embedding AS q_emb, c.cid AS cell,
       |             row_number() OVER (PARTITION BY q.vec_id
       |               ORDER BY (${dotSql("q.embedding", "c.c_emb")} - c.sqn / 2) DESC, c.cid DESC) AS rn
       |      FROM embeddings q CROSS JOIN cent$iters c WHERE q.vec_id < $nQ)
       |    WHERE rn <= $nProbe),
       |  scored AS (
       |    SELECT p.q_id, a.vec_id, ${cosSql("p.q_emb", "a.embedding")} AS cos
       |    FROM afin a JOIN qprobe p ON a.cell = p.cell AND a.vec_id <> p.q_id),
       |  ranked AS (
       |    SELECT q_id, vec_id, cos,
       |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |    FROM scored)
       |SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $topK ORDER BY q_id, rank""".stripMargin
  }

  /** Twin of q_ivf_ann that keeps the 3-iteration Lloyd build on the
    * bench AND under the hash gate: the oracle unrolls the sweeps as a
    * generated CTE chain (see [[ivfIterOracleSql]]) exactly like
    * q_pq_ann / q_pagerank replay their iterative pipelines.
    */
  val qIvfAnnIter: Q = Q(
    "q_ivf_ann_iter",
    Some(ivfIterOracleSql(nCells = 8, nProbe = 3, iters = 3, nQ = 20, topK = 5)),
    (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.ivfTopK(
        e.select(col("vec_id"), col("embedding")), queries,
        k = 5, nCells = 8, nProbe = 3, kmeansIters = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("q_id"), col("rank"))
    })

  /** Per-label centroids (mean-pooled embeddings), computed relationally:
    * posexplode to (label, dim, value), one hash aggregation over
    * (label, dim) — the distributed form of vector mean-pooling, no
    * vector fits-in-memory assumption, ~numLabels×64 output rows. Sums
    * are dimension-local so ordering noise is absorbed by rounding.
    */
  val qEmbedCentroids: Q = Q(
    "q_embed_centroids",
    Some("""SELECT label, CAST(t.dim AS BIGINT) AS dim,
                   round(avg(t.v), 5) + 0.0 AS centroid_v,
                   CAST(count(*) AS BIGINT) AS n_vecs
            FROM (SELECT label,
                    unnest([{'dim': i, 'v': CAST(embedding[i] AS DOUBLE)}
                            FOR i IN range(1, len(embedding) + 1)],
                           recursive := true)
                  FROM embeddings) AS t(label, dim, v)
            GROUP BY label, t.dim
            ORDER BY label, dim"""),
    (s, dir) =>
      emb(s, dir)
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
          col("col").cast("double").as("v"))
        .groupBy(col("label"), col("dim"))
        .agg(round(avg(col("v")), 5).as("centroid_v"), count(lit(1)).as("n_vecs"))
        .orderBy(col("label"), col("dim")))

  private def sqDistSql(a: String, b: String): String =
    s"list_sum([(CAST(list_extract($a, i) AS DOUBLE) - CAST(list_extract($b, i) AS DOUBLE)) * " +
      s"(CAST(list_extract($a, i) AS DOUBLE) - CAST(list_extract($b, i) AS DOUBLE)) " +
      s"FOR i IN range(1, len($b) + 1)])"

  /** DuckDB replay of the full PQ seed path (m subspaces × k centroids,
    * iters = 0): per-subspace codebooks from the k lowest vec_ids,
    * argmin encoding via the same max-struct idiom as q_ivf_ann, exact
    * per-query ADC tables, and the left-associated m-term distance sum —
    * every float op in the same order as the Spark side.
    */
  private def pqOracleSql(m: Int, k: Int, subDim: Int, nQ: Int, topK: Int): String = {
    def sl(c: String, s: Int) = s"list_slice($c, ${s * subDim + 1}, ${(s + 1) * subDim})"
    val cents = (0 until m).map { s =>
      s"""cent$s AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         |         ${sl("embedding", s)} AS c,
         |         ${sqNormSql(sl("embedding", s))} AS sqn
         |  FROM seeds)""".stripMargin
    }.mkString(",\n")
    val codes = (0 until m).map { s =>
      s"""code$s AS (
         |  SELECT e.vec_id,
         |         -((max({'s': ${dotSql(sl("e.embedding", s), "c.c")} - c.sqn / 2,
         |                 'n': -c.cid})).n) AS k$s
         |  FROM embeddings e CROSS JOIN cent$s c GROUP BY e.vec_id)""".stripMargin
    }.mkString(",\n")
    val codeJoin = "code0" + (1 until m).map(s => s" JOIN code$s USING (vec_id)").mkString
    val tabs = (0 until m).map { s =>
      s"""tab$s AS (
         |  SELECT q.q_id, c.cid, ${sqDistSql(sl("q.q_emb", s), "c.c")} AS d
         |  FROM q CROSS JOIN cent$s c)""".stripMargin
    }.mkString(",\n")
    val tabJoins = (0 until m)
      .map(s => s"JOIN tab$s t$s ON t$s.q_id = q.q_id AND t$s.cid = cd.k$s").mkString("\n  ")
    val distSum = (0 until m).map(s => s"t$s.d").mkString(" + ")
    s"""WITH seeds AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $k),
       |$cents,
       |$codes,
       |cd AS (SELECT * FROM $codeJoin),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $nQ),
       |$tabs,
       |scored AS (
       |  SELECT q.q_id, cd.vec_id, round(($distSum) * 1e6) / 1e6 AS adc_dist
       |  FROM q CROSS JOIN cd
       |  $tabJoins
       |  WHERE cd.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, adc_dist,
       |         row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rank
       |  FROM scored)
       |SELECT q_id, vec_id, adc_dist, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $topK ORDER BY q_id, rank""".stripMargin
  }

  /** PQ/ADC ANN ([[graft.similarity.ProductQuantizer]]) — the memory-side
    * scale path next to LSH (candidate pruning) and IVF (scan pruning):
    * 64 floats compress to 4 codebook ids and each candidate costs 4
    * table lookups instead of 64 multiplies. Registered with iters = 0
    * (seed codebooks) so the ENTIRE train→encode→ADC-search pipeline is
    * replayed and hash-checked by the DuckDB oracle; the iterative
    * codebook build stays covered by ProductQuantizerSpec (same
    * convention as q_ivf_ann / q_ivf_ann_iter).
    */
  val qPqAnn: Q = Q(
    "q_pq_ann",
    Some(pqOracleSql(m = 4, k = 4, subDim = 16, nQ = 10, topK = 5)),
    (s, dir) => {
      val e = emb(s, dir)
      val corpus = e.select(col("vec_id"), col("embedding"))
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val cb = graft.similarity.ProductQuantizer.train(corpus, dim = 64, m = 4, k = 4, iters = 0)
      val encoded = graft.similarity.ProductQuantizer.encode(corpus, cb)
      graft.similarity.ProductQuantizer.adcTopK(encoded, queries, cb, k = 5)
        .orderBy(col("q_id"), col("rank"))
    })

  /** Johnson–Lindenstrauss random projection 64 → 8 dims with a
    * deterministic ±1 sign matrix (md5 of the literal "rp:j:i", so both
    * engines derive the identical matrix) scaled by 1/√8. Emits the
    * projected vector's norm next to the original norm — the
    * norm-preservation ratio IS the JL guarantee being measured, and
    * the 8-dim sketch is the cheap prefilter that makes brute-force
    * cosine affordable as a rerank stage at corpus scale.
    *
    * Plan shape: pure per-row projection; the sign literals constant-
    * fold at planning time, so the executed expression is 8 fixed
    * ±-chains over the float array — no shuffle, no UDF.
    */
  /** DuckDB replay of [[graft.similarity.RandomProjection]]: the same
    * md5-of-"rp:j:i" parity signs and the same left-to-right ± chain.
    */
  private def rpSignSql(j: Int, i: Int): String =
    s"(CASE WHEN ('0x' || substr(md5('rp:$j:$i'), 1, 8))::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END)"

  private def rpProjSql(vec: String, j: Int, dimIn: Int, dimOut: Int): String =
    (0 until dimIn)
      .map(i => s"${rpSignSql(j, i)} * CAST(list_extract($vec, ${i + 1}) AS DOUBLE)")
      .mkString("(", " + ", s") / sqrt(${dimOut}.0)")

  val qRandomProjection: Q = {
    val dimIn = 64
    val dimOut = 8
    def projSql(j: Int): String = rpProjSql("embedding", j, dimIn, dimOut)
    val normInSql = s"sqrt(${sqNormSql("embedding")})"
    val normOutSql = (0 until dimOut).map(j => s"y$j * y$j").mkString("sqrt(", " + ", ")")
    Q(
      "q_random_projection",
      Some(s"""WITH p AS (
                 SELECT vec_id, ${(0 until dimOut).map(j => s"${projSql(j)} AS y$j").mkString(", ")},
                        $normInSql AS norm_in
                 FROM embeddings)
               SELECT vec_id,
                      ${(0 until dimOut).map(j => s"round(y$j * 1e4) / 1e4 + 0.0 AS y$j").mkString(", ")},
                      round($normOutSql / norm_in * 1e4) / 1e4 AS norm_ratio
               FROM p ORDER BY vec_id"""),
      (s, dir) => {
        // signs evaluate eagerly in RandomProjection.sign over the same
        // "rp:j:i" literals as signSql — the plan carries ±1.0 constants
        val normIn = sqrt(aggregate(
          transform(col("embedding"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, x) => acc + x))
        val p = emb(s, dir)
          .select(Seq(col("vec_id")) ++
            (0 until dimOut).map(j =>
              graft.similarity.RandomProjection
                .projectDim(col("embedding"), "rp", j, dimIn, dimOut).as(s"y$j")) :+
            normIn.as("norm_in"): _*)
        val normOut = sqrt((0 until dimOut).map(j => col(s"y$j") * col(s"y$j")).reduce(_ + _))
        val projected = p.select(Seq(col("vec_id")) ++
            (0 until dimOut).map(j => (round(col(s"y$j") * 1e4) / 1e4).as(s"y$j")) :+
            (round(normOut / col("norm_in") * 1e4) / 1e4).as("norm_ratio"): _*)
        // The global sort's range-partitioner SAMPLES its child first,
        // and the projection is map-side all the way from the scan — so
        // unpinned, the 8×64-term ± chains run TWICE (sampling pass +
        // sort pass). Lazy pin (Checkpoints.pin's lazy contract):
        // the sampling job is the first action — a reservoir pass over
        // every partition, referencing the frame exactly once — so one
        // job projects, pins the narrow (id + 9 doubles) rows, and
        // samples; the sort shuffle then reads the pinned blocks.
        graft.operators.Checkpoints.pin(projected, eager = false)
          .orderBy(col("vec_id"))
      })
  }

  /** ANN via JL-sketch prefilter + exact rerank: stage 1 scores the
    * 8-dim [[graft.similarity.RandomProjection]] sketches (8 doubles per
    * row instead of 64 floats) and keeps 20 candidates per query through
    * the bounded-heap [[graft.operators.TopKPerKey]]; stage 2 reruns
    * EXACT cosine only on the survivors and ranks the final top-5.
    *
    * This is the third ANN scale shape next to LSH (bucket equi-join)
    * and IVF (partition pruning): no index to build or persist — the
    * sketch is a projection computed on the fly — with recall governed
    * by the JL distortion bound and the candidate multiplier (20 ≫ 5).
    * The oracle replays sketch, candidate cut, and rerank end-to-end.
    */
  val qRpAnn: Q = {
    val dimIn = 64
    val dimOut = 8
    val skDotSql = (0 until dimOut).map(j => s"q.qy$j * c.y$j").mkString(" + ")
    val skNormSql = (alias: Char, pre: String) =>
      (0 until dimOut).map(j => s"$alias.$pre$j * $alias.$pre$j").mkString("sqrt(", " + ", ")")
    Q(
      "q_rp_ann",
      Some(s"""WITH sk AS (
                 SELECT vec_id, embedding,
                        ${(0 until dimOut).map(j => s"${rpProjSql("embedding", j, dimIn, dimOut)} AS y$j").mkString(", ")}
                 FROM embeddings),
               q AS (SELECT vec_id AS q_id, embedding AS q_emb,
                            ${(0 until dimOut).map(j => s"y$j AS qy$j").mkString(", ")}
                     FROM sk WHERE vec_id < 5),
               cand AS (
                 SELECT q.q_id, c.vec_id, c.embedding,
                        ($skDotSql) / (${skNormSql('q', "qy")} * ${skNormSql('c', "y")}) AS sk_cos
                 FROM sk c, q WHERE c.vec_id <> q.q_id),
               cut AS (
                 SELECT q_id, vec_id, embedding FROM (
                   SELECT q_id, vec_id, embedding,
                          row_number() OVER (PARTITION BY q_id ORDER BY sk_cos DESC, vec_id) AS crank
                   FROM cand)
                 WHERE crank <= 20),
               rer AS (
                 SELECT c.q_id, c.vec_id,
                        ${cosSql("q.q_emb", "c.embedding")} AS cos
                 FROM cut c JOIN q ON q.q_id = c.q_id),
               ranked AS (
                 SELECT q_id, vec_id, cos,
                        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
                 FROM rer)
               SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank
               FROM ranked WHERE rank <= 5 ORDER BY q_id, rank"""),
      (s, dir) => {
        val e = emb(s, dir)
        val queries = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        Similarity.rpTopK(
          e.select(col("vec_id"), col("embedding")), queries,
          k = 5, dimIn = dimIn, dimOut = dimOut, shortlist = 20, salt = "rp")
          .withColumn("rank", col("rank").cast("long"))
          .orderBy(col("q_id"), col("rank"))
      })
  }

  /** Hybrid retrieval via reciprocal-rank fusion (RRF, k = 60): a
    * VECTOR ranker (exact cosine over embeddings) and a TEXT ranker
    * (exact 3-gram Jaccard over documents, ids aligned) each produce a
    * per-query top-20; fusion scores every candidate
    * 1/(60+rank_a) + 1/(60+rank_b) (a missing ranker contributes 0) and
    * keeps the fused top-5 — the standard way production search merges
    * dense and lexical retrieval WITHOUT calibrating their
    * incommensurable scores (only ranks cross the boundary, which is
    * also what makes the fusion engine-portable: integer ranks, not
    * floats, feed the formula).
    *
    * Scale shape: the query side (5 rows / their shingles) broadcasts
    * into both rankers, so the corpus is only ever scanned and
    * partial-aggregated — never checkpointed, never shuffled at shingle
    * grain; all rank windows partition on q_id. Both rankers order by
    * ROUNDED scores so last-ulp drift can't swap ranks across engines.
    */
  val qRrfFusion: Q = Q(
    "q_rrf_fusion", {
      val dot =
        "list_sum([CAST(list_extract(q.q_emb, i) AS DOUBLE) * CAST(list_extract(e.embedding, i) AS DOUBLE) FOR i IN range(1, len(e.embedding) + 1)])"
      Some(s"""WITH qv AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
               sa AS (SELECT q.q_id, e.vec_id AS id,
                             round($dot / (sqrt(${sqNormSql("q.q_emb")}) * sqrt(${sqNormSql("e.embedding")})), 4) AS cos
                      FROM embeddings e, qv q WHERE e.vec_id <> q.q_id),
               ra AS (SELECT q_id, id,
                             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, id) AS rank_a
                      FROM sa),
               ra20 AS (SELECT q_id, id, rank_a FROM ra WHERE rank_a <= 20),
               sh AS (SELECT doc_id, unnest(list_distinct(
                        [substring(text, i, 3) FOR i IN range(1, length(text) - 1)])) AS s
                      FROM documents WHERE length(text) >= 3),
               sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
               inter AS (SELECT q.doc_id AS q_id, d.doc_id AS id, count(*) AS c
                         FROM sh q JOIN sh d ON q.s = d.s
                         WHERE q.doc_id < 5 AND d.doc_id <> q.doc_id
                         GROUP BY 1, 2),
               jac AS (SELECT i.q_id, i.id, round(c * 1e6 / (za.n + zb.n - c)) / 1e6 AS jac
                       FROM inter i
                       JOIN sz za ON za.doc_id = i.q_id
                       JOIN sz zb ON zb.doc_id = i.id),
               rb AS (SELECT q_id, id,
                             row_number() OVER (PARTITION BY q_id ORDER BY jac DESC, id) AS rank_b
                      FROM jac),
               rb20 AS (SELECT q_id, id, rank_b FROM rb WHERE rank_b <= 20),
               f AS (SELECT coalesce(a.q_id, b.q_id) AS q_id, coalesce(a.id, b.id) AS id,
                            round((coalesce(1.0 / (60 + a.rank_a), 0.0)
                                   + coalesce(1.0 / (60 + b.rank_b), 0.0)) * 1e6) / 1e6 AS rrf
                     FROM ra20 a FULL OUTER JOIN rb20 b ON a.q_id = b.q_id AND a.id = b.id),
               r AS (SELECT q_id, id, rrf,
                            row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, id) AS rank
                     FROM f)
               SELECT q_id, CAST(rank AS BIGINT) AS rank, id, rrf
               FROM r WHERE rank <= 5 ORDER BY q_id, rank""")
    },
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, dir)
      val qv = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val scoredA = e.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("id"),
          round(graft.functions.VectorFunctions.vecCosine(col("q_emb"), col("embedding")), 4)
            .as("cos"))
      val wa = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("id"))
      val ra = scoredA.withColumn("rank_a", row_number().over(wa))
        .filter(col("rank_a") <= 20).select(col("q_id"), col("id"), col("rank_a"))

      // Text ranker, one corpus scan, nothing pinned: the QUERY side's
      // shingles (5 docs, bounded) broadcast into the corpus explode, so
      // only matching shingle rows survive the broadcast hash join and
      // the per-(q_id, id) count partial-aggregates map-side before the
      // one small shuffle. Each side carries its own distinct-shingle
      // count (size of the array_distinct'd shingle array) alongside the
      // exploded rows — constant per group, min() recovers it — so the
      // Jaccard union needs no join back against a corpus-width size
      // table. The previous shape checkpointed the FULL corpus shingle
      // explode (~10⁹ rows at the ×1000 SF — an ENOSPC DNF) and shuffled
      // it on the shingle key, then broadcast a doc-cardinality size
      // frame twice. The size rides the explode via `explodeWithSize`'s
      // lambda let-binding, so the shingling expression is evaluated
      // exactly once per corpus row — referencing the array separately
      // for `size` and `explode` let CollapseProject duplicate it
      // (2× scan cost, the round-13 bench regression).
      val docSh = Tables.loadDistributed(s, dir, "documents", "doc_id")
        .filter(length(col("text")) >= 3)
        .select(col("doc_id"),
          graft.text.TextFunctions.explodeWithSize(
            graft.text.TextFunctions.shingles(col("text"), 3)).as("e"))
      val qsh = docSh.filter(col("doc_id") < 5)
        .select(col("doc_id").as("q_id"), col("e.n").as("na"), col("e.s").as("s"))
      val inter = docSh
        .select(col("doc_id").as("id"), col("e.n").as("nb"), col("e.s").as("s"))
        .join(broadcast(qsh), Seq("s"))
        .filter(col("id") =!= col("q_id"))
        .groupBy(col("q_id"), col("id"))
        .agg(count(lit(1)).as("c"), min(col("na")).as("na"), min(col("nb")).as("nb"))
      val jac = inter
        .select(col("q_id"), col("id"),
          (round(col("c") * 1e6 / (col("na") + col("nb") - col("c"))) / 1e6).as("jac"))
      val wb = Window.partitionBy(col("q_id")).orderBy(col("jac").desc, col("id"))
      val rb = jac.withColumn("rank_b", row_number().over(wb))
        .filter(col("rank_b") <= 20).select(col("q_id"), col("id"), col("rank_b"))

      val fused = ra.join(rb, Seq("q_id", "id"), "full_outer")
        .select(col("q_id"), col("id"),
          (round((coalesce(lit(1.0) / (lit(60) + col("rank_a")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("rank_b")), lit(0.0))) * 1e6) / 1e6).as("rrf"))
      val wf = Window.partitionBy(col("q_id")).orderBy(col("rrf").desc, col("id"))
      fused.withColumn("rank", row_number().over(wf).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("id"), col("rrf"))
        .orderBy(col("q_id"), col("rank"))
    })

  /** Maximal-marginal-relevance diverse top-5 (Carbonell & Goldstein
    * 1998): after retrieval hands back a top-20 candidate set per
    * query, greedy MMR picks 5 results trading relevance against
    * redundancy — score = 0.7·rel − 0.3·max-sim-to-already-picked —
    * the diversity re-ranker that keeps near-duplicate hits from
    * filling the result page.
    *
    * Scale shape: the greedy loop is inherently sequential but only
    * ever sees ONE query's candidate set (bounded at 20), so it runs
    * as `flatMapGroups` per query key — queries parallelize, candidate
    * state is O(k·candidates), and nothing global exists. This is the
    * legitimate per-group-imperative tier of the operator ladder: a
    * data-dependent greedy argmax over 5 rounds has no Column-algebra
    * form. Cross-engine determinism: rel and pairwise sims round to
    * 1e-4 via the SAME half-away-from-zero rule (BigDecimal HALF_UP ≙
    * DuckDB round), the Scala cosine accumulates in dimension order
    * exactly like the oracle's list_sum fold, and ties break on the
    * lower vec_id (≙ max struct {'sc', 'id': −id}). The oracle unrolls
    * all 5 greedy steps as MATERIALIZED CTEs.
    */
  val qMmrDiverse: Q = Q(
    "q_mmr_diverse", {
      val dot =
        "list_sum([CAST(list_extract(q.q_emb, i) AS DOUBLE) * CAST(list_extract(e.embedding, i) AS DOUBLE) FOR i IN range(1, len(e.embedding) + 1)])"
      val simDot =
        "list_sum([CAST(list_extract(c1.emb, i) AS DOUBLE) * CAST(list_extract(c2.emb, i) AS DOUBLE) FOR i IN range(1, len(c2.emb) + 1)])"
      val sb = new StringBuilder(
        s"""WITH qv AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
            scored AS (SELECT q.q_id, e.vec_id, e.embedding AS emb,
                              round($dot / (sqrt(${sqNormSql("q.q_emb")}) * sqrt(${sqNormSql("e.embedding")})), 4) AS rel
                       FROM embeddings e, qv q WHERE e.vec_id <> q.q_id),
            cand AS MATERIALIZED (
              SELECT q_id, vec_id, emb, rel FROM (
                SELECT q_id, vec_id, emb, rel,
                       row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rn
                FROM scored) WHERE rn <= 20),
            sims AS MATERIALIZED (
              SELECT c1.q_id, c1.vec_id AS a, c2.vec_id AS b,
                     round($simDot / (sqrt(${sqNormSql("c1.emb")}) * sqrt(${sqNormSql("c2.emb")})), 4) AS sim
              FROM cand c1 JOIN cand c2
                ON c1.q_id = c2.q_id AND c1.vec_id <> c2.vec_id),
            p1 AS MATERIALIZED (
              SELECT q_id, max({'sc': rel, 'id': -vec_id}) AS p FROM cand GROUP BY q_id),
            s1 AS (SELECT q_id, -p.id AS id, p.sc AS mmr FROM p1)""")
      for (t <- 2 to 5) {
        val prev = (1 until t).map(i => s"SELECT q_id, id FROM s$i").mkString(" UNION ALL ")
        sb.append(s""",
            sel${t - 1} AS MATERIALIZED ($prev),
            ms$t AS (SELECT s.q_id, s.a AS vec_id, max(s.sim) AS m
                     FROM sims s JOIN sel${t - 1} x ON x.q_id = s.q_id AND x.id = s.b
                     GROUP BY 1, 2),
            p$t AS MATERIALIZED (
              SELECT c.q_id, max({'sc': 0.7 * c.rel - 0.3 * m.m, 'id': -c.vec_id}) AS p
              FROM cand c JOIN ms$t m ON m.q_id = c.q_id AND m.vec_id = c.vec_id
              WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} x
                                WHERE x.q_id = c.q_id AND x.id = c.vec_id)
              GROUP BY c.q_id),
            s$t AS (SELECT q_id, -p.id AS id, p.sc AS mmr FROM p$t)""")
      }
      sb.append(s"""
            SELECT q_id, CAST(rank AS BIGINT) AS rank, id, round(mmr * 1e6) / 1e6 + 0.0 AS mmr
            FROM (${(1 to 5).map(t => s"SELECT q_id, $t AS rank, id, mmr FROM s$t").mkString(" UNION ALL ")})
            ORDER BY q_id, rank""")
      Some(sb.toString)
    },
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val e = emb(s, dir)
      val qv = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val wq = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("vec_id"))
      val cand = e.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(graft.functions.VectorFunctions.vecCosine(col("q_emb"), col("embedding")), 4)
            .as("rel"),
          col("embedding").as("emb"))
        .withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= 20)
        .select(col("q_id"), col("vec_id"), col("rel"), col("emb"))
        .as[(Long, Long, Double, Array[Float])]

      cand.groupByKey(_._1)
        .flatMapGroups { (q, it) =>
          val cs = it.map { case (_, id, rel, embv) => (id, rel, embv) }.toSeq
          graft.similarity.Mmr.select(cs, k = 5, lambda = 0.7)
            .zipWithIndex.map { case ((id, sc), i) => (q, (i + 1).toLong, id, sc) }
        }
        .toDF("q_id", "rank", "id", "mmr")
        .select(col("q_id"), col("rank"), col("id"),
          (round(col("mmr") * 1e6) / 1e6 + lit(0.0)).as("mmr"))
        .orderBy(col("q_id"), col("rank"))
    })

  override def queries: Seq[Q] =
    Seq(qEmbedNorms, qCosineTopk, qLshAnn, qLshAnnMulti, qIvfAnn, qIvfAnnIter,
      qEmbedCentroids, qPqAnn, qRandomProjection, qRpAnn, qRrfFusion, qMmrDiverse)
}
