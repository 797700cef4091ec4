package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.operators.Checkpoints.pin
import graft.text.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond the dedup/text/similarity packs:
  * TF-IDF term weighting, Gopher-style quality gating, PII scrubbing,
  * deterministic stratified sampling, and duplicate-cluster labeling.
  *
  * All arithmetic is engine-portable (md5-derived hashes, explicit
  * doubles, integer ops) so every query carries an exact DuckDB oracle.
  * Scale notes: per-row-heavy stages repartition first
  * (`Tables.loadDistributed`); the TF-IDF document-frequency join
  * broadcasts the (term, df) side, which stays small (vocabulary-sized)
  * regardless of corpus row count.
  */
object TrainOps extends QueryPack {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.loadDistributed(s, dir, "documents", "doc_id")

  /** TF-IDF: top-3 terms per document, tf·ln(N/df) weighting over
    * lowercase letter-run tokens. Deterministic ranking via (tfidf desc,
    * term asc). Document frequency is derived from the tf aggregate
    * (one row per (doc, term) ⇒ df = row count per term), so the corpus
    * is tokenized exactly once; the df and N sides broadcast — both
    * bounded by vocabulary size / a single row, not corpus size.
    */
  val qTfidf: Q = Q(
    "q_tfidf",
    Some("""WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
                         FROM documents),
            tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
            df AS (SELECT term, count(*) AS docfreq FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.term,
                     round(tf.tf * ln(n.n_docs * 1.0 / df.docfreq), 6) AS tfidf,
                     row_number() OVER (PARTITION BY tf.doc_id
                                        ORDER BY tf.tf * ln(n.n_docs * 1.0 / df.docfreq) DESC,
                                                 tf.term) AS rnk
              FROM tf JOIN df USING (term) CROSS JOIN n)
            SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tfidf
            FROM scored WHERE rnk <= 3
            ORDER BY doc_id, rnk"""),
    (s, dir) => {
      val d = docs(s, dir)
      val tok = d.select(
        col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("term"))
      val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .transform(pin(_)) // referenced twice (tf side + df rollup)
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("docfreq"))
      val n = d.agg(count(lit(1)).as("n_docs"))
      val raw = col("tf") * log(col("n_docs") * lit(1.0) / col("docfreq"))
      tf.join(broadcast(df), Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("rnk",
          row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(raw.desc, col("term").asc)).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("term"), round(raw, 6).as("tfidf"))
        .orderBy(col("doc_id"), col("rnk"))
    })

  private val stopwords = Seq("the", "a", "of", "data", "value")

  /** Gopher-style quality gate: word count bounds, mean word length
    * bounds, symbol ratio cap, stopword presence — the standard
    * pretraining corpus filter, one boolean column per rule plus the
    * composite verdict.
    */
  val qQualityGate: Q = Q(
    "q_quality_gate",
    Some(s"""WITH feat AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_words,
                     CAST(list_sum([CAST(length(w) AS BIGINT) FOR w IN list_filter(string_split(text, ' '), w -> w <> '')]) AS BIGINT) AS sum_wlen,
                     CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS BIGINT) AS n_sym,
                     CAST(length(text) AS BIGINT) AS n_chars,
                     CAST(len(list_filter(string_split(text, ' '),
                          w -> w IN ('the','a','of','data','value'))) AS BIGINT) AS n_stop
              FROM documents)
            SELECT doc_id, n_words,
                   CASE WHEN n_words = 0 THEN 0.0
                        ELSE round(sum_wlen * 1.0 / n_words, 4) END AS mean_wlen,
                   CASE WHEN n_chars = 0 THEN 0.0
                        ELSE round(n_sym * 1.0 / n_chars, 4) END AS sym_ratio,
                   CAST(n_stop > 0 AS INT) AS has_stop,
                   CAST(n_words BETWEEN 5 AND 5000
                        AND n_words > 0 AND sum_wlen * 1.0 / n_words BETWEEN 2.0 AND 12.0
                        AND (n_chars = 0 OR n_sym * 1.0 / n_chars < 0.1)
                        AND n_stop > 0 AS INT) AS passes
            FROM feat ORDER BY doc_id"""),
    (s, dir) => {
      val toks = tokens(col("text"))
      val nWords = size(toks).cast("long")
      val sumWlen = aggregate(toks, lit(0L), (acc, w) => acc + length(w).cast("long"))
      val nSym = size(regexp_extract_all(col("text"), lit("[^a-z0-9 ]"), lit(0))).cast("long")
      val nChars = length(col("text")).cast("long")
      val nStop = hitCount(toks, stopwords).cast("long")
      docs(s, dir)
        .select(col("doc_id"), nWords.as("n_words"), sumWlen.as("sum_wlen"),
          nSym.as("n_sym"), nChars.as("n_chars"), nStop.as("n_stop"))
        .select(
          col("doc_id"),
          col("n_words"),
          when(col("n_words") === 0, lit(0.0))
            .otherwise(round(col("sum_wlen") * lit(1.0) / col("n_words"), 4)).as("mean_wlen"),
          when(col("n_chars") === 0, lit(0.0))
            .otherwise(round(col("n_sym") * lit(1.0) / col("n_chars"), 4)).as("sym_ratio"),
          (col("n_stop") > 0).cast("int").as("has_stop"),
          (col("n_words").between(5, 5000) &&
            col("n_words") > 0 &&
            (col("sum_wlen") * lit(1.0) / col("n_words")).between(2.0, 12.0) &&
            (col("n_chars") === 0 || col("n_sym") * lit(1.0) / col("n_chars") < 0.1) &&
            col("n_stop") > 0).cast("int").as("passes"))
        .orderBy(col("doc_id"))
    })

  /** PII scrubbing: the corpus is synthetic and clean, so the query first
    * plants deterministic PII (an email and a numeric id derived from
    * doc_id) and then redacts it — counting matches and fingerprinting
    * the scrubbed text so the oracle verifies the actual regex
    * replacement, not just the counts.
    */
  val qPiiRedact: Q = Q(
    "q_pii_redact",
    Some("""WITH planted AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                     '@example.com ref ' || CAST(doc_id * 7919 + 13 AS VARCHAR) AS t
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(t, '[0-9]{3,}')) AS BIGINT) AS n_ids,
                   ('0x' || substr(md5(regexp_replace(regexp_replace(t,
                        '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                        '[0-9]{3,}', '<ID>', 'g')), 1, 15))::BIGINT AS redacted_fp
            FROM planted ORDER BY doc_id"""),
    (s, dir) => {
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val idRe = "[0-9]{3,}"
      docs(s, dir)
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com ref "), (col("doc_id") * 7919 + 13).cast("string")).as("t"))
        .select(
          col("doc_id"),
          size(regexp_extract_all(col("t"), lit(emailRe), lit(0))).cast("long").as("n_emails"),
          size(regexp_extract_all(col("t"), lit(idRe), lit(0))).cast("long").as("n_ids"),
          fingerprint60(
            regexp_replace(regexp_replace(col("t"), emailRe, "<EMAIL>"), idRe, "<ID>"))
            .as("redacted_fp"))
        .orderBy(col("doc_id"))
    })

  /** Deterministic stratified sampling: an md5-derived uniform hash of
    * the key selects ~10% per language stratum — reproducible across
    * engines and runs, unlike rand()-based sampling, and exactly what a
    * 100 TB pipeline needs for consistent held-out splits.
    */
  val qHashSample: Q = Q(
    "q_hash_sample",
    Some("""SELECT lang, count(*) AS n_total,
                   CAST(count(*) FILTER (WHERE
                     ('0x' || substr(md5('split1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 10)
                     AS BIGINT) AS n_sampled
            FROM documents GROUP BY lang ORDER BY lang"""),
    (s, dir) => {
      val bucket = md5Hash32(concat(lit("split1:"), col("doc_id").cast("string"))) % 100
      docs(s, dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(bucket < 10, 1L).otherwise(0L)).as("n_sampled"))
        .orderBy(col("lang"))
    })

  /** EXACT-k per-stratum sampling — the companion to [[qHashSample]]'s
    * rate-based split when the downstream contract is "exactly k
    * held-out docs per language": rank each stratum by a deterministic
    * md5 hash (uniform, reproducible across engines and runs — the
    * distributed equivalent of a seeded reservoir) and keep the k
    * smallest. Runs through the bounded-heap [[graft.operators.TopKAggregator]],
    * so map-side state is k entries per (mapper, lang) and the shuffle
    * never carries a full stratum — vs the window form's full per-lang
    * sort. The oracle IS the window form.
    */
  val qSampleExactK: Q = Q(
    "q_sample_exact_k",
    Some("""WITH h AS (
              SELECT lang, doc_id,
                     ('0x' || substr(md5('split1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hv
              FROM documents),
            r AS (SELECT lang, doc_id, hv,
                         row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rank
                  FROM h)
            SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id
            FROM r WHERE rank <= 50 ORDER BY lang, rank"""),
    (s, dir) => {
      // smallest-hash-first ≡ TopKAggregator's (score DESC) on the
      // negated hash; the 32-bit value is exactly representable as the
      // aggregator's double score
      val h = md5Hash32(concat(lit("split1:"), col("doc_id").cast("string")))
      graft.operators.TopKPerKey(
        docs(s, dir).select(col("lang"), (-h).cast("double").as("neg_hv"), col("doc_id")),
        "lang", "neg_hv", "doc_id", k = 50)
        .select(col("lang"), col("rank"), col("doc_id"))
        .orderBy(col("lang"), col("rank"))
    })

  /** Duplicate-cluster labeling: exact-duplicate groups keyed by content
    * fingerprint, cluster id = min doc_id of the group (a deterministic
    * canonical representative), emitting only docs that have at least one
    * duplicate. One shuffle on the fingerprint; no pairwise comparison.
    */
  val qDupClusters: Q = Q(
    "q_dup_clusters",
    Some("""SELECT doc_id, cluster_id, cluster_size FROM (
              SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY md5(text)) AS cluster_id,
                     CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS cluster_size
              FROM documents)
            WHERE cluster_size >= 2
            ORDER BY cluster_id, doc_id"""),
    (s, dir) => {
      val w = Window.partitionBy(md5(col("text")))
      docs(s, dir)
        .select(
          col("doc_id"),
          min(col("doc_id")).over(w).as("cluster_id"),
          count(lit(1)).over(w).cast("long").as("cluster_size"))
        .filter(col("cluster_size") >= 2)
        .orderBy(col("cluster_id"), col("doc_id"))
    })

  /** End-to-end corpus curation in ONE declarative plan: quality gate
    * (word count + stopword presence) → exact dedup keeping the lowest
    * doc_id per content hash → per-language yield stats. What a
    * pretraining data pipeline runs nightly; Catalyst pipelines the
    * whole chain with two shuffles (dedup window, final rollup).
    */
  val qCorpusPipeline: Q = Q(
    "q_corpus_pipeline",
    Some("""WITH gated AS (
              SELECT doc_id, lang, text,
                     len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_words
              FROM documents
              WHERE len(list_filter(string_split(text, ' '), w -> w <> '')) BETWEEN 5 AND 5000
                AND len(list_filter(string_split(text, ' '),
                        w -> w IN ('the','a','of','data','value'))) > 0),
            deduped AS (
              SELECT doc_id, lang, n_words
              FROM (SELECT doc_id, lang, n_words,
                           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
                    FROM gated)
              WHERE rn = 1)
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_words) AS BIGINT) AS total_words,
                   round(avg(n_words), 2) AS avg_words
            FROM deduped GROUP BY lang ORDER BY lang"""),
    (s, dir) => {
      val toks = tokens(col("text"))
      val gated = docs(s, dir)
        .withColumn("n_words", size(toks).cast("long"))
        .filter(col("n_words").between(5, 5000) && hitCount(toks, stopwords) > 0)
      val deduped = gated
        .withColumn("rn",
          row_number().over(Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
      deduped
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("total_words"),
          round(avg(col("n_words")), 2).as("avg_words"))
        .orderBy(col("lang"))
    })

  /** Weighted sampling without replacement (Efraimidis–Spirakis): each
    * doc draws a deterministic uniform u ∈ (0,1] from an md5 hash and
    * competes with key u^(1/w) (compared as ln(u)/w), w = n_chars — so
    * selection probability is proportional to document length, the
    * standard token-budget-aware corpus subsample. The k largest keys
    * ARE a weighted random sample without replacement.
    *
    * Scale shape: a global top-k over a per-row projection plans as
    * TakeOrderedAndProject — per-partition bounded heaps, k rows to the
    * driver, no full sort, no shuffle. The hash-derived u makes the
    * "random" sample reproducible across engines, runs, and retries —
    * which is what distinguishes a production sample from rand().
    */
  val qWeightedSample: Q = Q(
    "q_weighted_sample",
    Some("""WITH h AS (
              SELECT doc_id, n_chars,
                     ln((('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1.0)
                        / 4294967296.0) / n_chars AS k
              FROM documents),
            r AS (SELECT doc_id, n_chars, k,
                         row_number() OVER (ORDER BY k DESC, doc_id) AS rn
                  FROM h)
            SELECT CAST(rn AS BIGINT) AS rank, doc_id, n_chars,
                   round(k * 1e6) / 1e6 + 0.0 AS es_key
            FROM r WHERE rn <= 100 ORDER BY rank"""),
    (s, dir) =>
      graft.operators.WeightedSample.topK(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        id = col("doc_id"), weight = col("n_chars"), k = 100, salt = "ws:")
        .select(
          col("rank"), col("doc_id"), col("n_chars"),
          (round(col("__es_key") * 1e6) / 1e6 + lit(0.0)).as("es_key"))
        .orderBy(col("rank")))

  /** Leakage-free train/val/test split: the assignment unit is the exact
    * CONTENT fingerprint, not the row — every copy of a duplicated text
    * hashes to the same split, so near-identical training and held-out
    * examples cannot straddle the boundary (the split-level cousin of
    * decontamination). 80/10/10 by a second-level hash of the
    * fingerprint; reports per-split volume so the budget is auditable.
    *
    * One projection + one hash-partial aggregation — the distinct-
    * fingerprint count rides the same shuffle as the sums.
    */
  val qSplitLeakfree: Q = Q(
    "q_split_leakfree",
    Some("""WITH a AS (
              SELECT CASE
                       WHEN ('0x' || substr(md5('split2:' || md5(text)), 1, 8))::BIGINT % 10 < 8
                         THEN 'train'
                       WHEN ('0x' || substr(md5('split2:' || md5(text)), 1, 8))::BIGINT % 10 = 8
                         THEN 'val'
                       ELSE 'test' END AS split,
                     md5(text) AS fp, n_chars
              FROM documents)
            SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT fp) AS BIGINT) AS n_clusters,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM a GROUP BY split ORDER BY split"""),
    (s, dir) => {
      val bucket = md5Hash32(concat(lit("split2:"), md5(col("text")))) % 10
      val split = when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test")
      Tables.load(s, dir, "documents")
        .select(split.as("split"), md5(col("text")).as("fp"), col("n_chars"))
        .groupBy(col("split"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_clusters"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("split"))
    })

  /** Per-source document cap (the RefinedWeb/C4 "no domain dominates"
    * rule): keep at most K = 10 docs per source, selected by a
    * deterministic md5 rank — a reproducible uniform subsample within
    * each source, unlike rand() which changes the corpus on every
    * retry. The rank window partitions on `source`, so the shuffle is
    * keyed and no task ever sees more than one source's docs; per-key
    * volume is the pre-cap source size, exactly what the cap bounds
    * AFTER this op for every downstream consumer.
    */
  val qSourceCap: Q = Q(
    "q_source_cap",
    Some("""WITH r AS (
              SELECT source, doc_id, n_chars,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY ('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                                doc_id) AS rank
              FROM documents)
            SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, n_chars
            FROM r WHERE rank <= 10 ORDER BY source, rank"""),
    (s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(md5Hash32(concat(lit("cap:"), col("doc_id").cast("string"))), col("doc_id"))
      docs(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
        .orderBy(col("source"), col("rank"))
    })

  /** Deterministic global shuffle + contiguous 0..N-1 index assignment
    * (the training-export step: every example gets a stable position in
    * a reproducibly shuffled corpus) — WITHOUT the single-task global
    * window `row_number() OVER (ORDER BY ...)` plans as. Two phases:
    * docs bucket by the top bits of an md5 shuffle key (64 buckets);
    * per-bucket counts prefix-sum into bucket offsets (a 64-row frame —
    * bounded by the bucket constant, never the corpus); each doc's
    * index = its bucket offset + its rank WITHIN the bucket (a
    * partitioned window). Same two-phase shape as the equi-depth
    * histogram: the only global structure is bucket-count-sized.
    * The oracle is the naive global row_number the rewrite must equal.
    */
  val qGlobalIndex: Q = Q(
    "q_global_index",
    Some("""WITH h AS (
              SELECT doc_id,
                     ('0x' || substr(md5('gi:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS k
              FROM documents)
            SELECT CAST(row_number() OVER (ORDER BY k, doc_id) - 1 AS BIGINT) AS global_idx,
                   doc_id
            FROM h ORDER BY global_idx"""),
    (s, dir) => {
      // bucket on the key's high bits so bucket order == key order and
      // the per-bucket ranks concatenate into the global order
      val h = docs(s, dir)
        .select(col("doc_id"),
          md5Hash32(concat(lit("gi:"), col("doc_id").cast("string"))).as("k"))
        .withColumn("bucket", (col("k") / lit(1L << 26)).cast("long")) // 2^32 keys / 64
      val offsets = h.groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
        .withColumn("offset",
          coalesce(
            sum(col("cnt")).over(
              Window.orderBy(col("bucket"))
                .rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .select(col("bucket"), col("offset"))
      val wb = Window.partitionBy(col("bucket")).orderBy(col("k"), col("doc_id"))
      h.join(broadcast(offsets), Seq("bucket"))
        .withColumn("rank", row_number().over(wb))
        .select(
          (col("offset") + col("rank") - 1).cast("long").as("global_idx"),
          col("doc_id"))
        .orderBy(col("global_idx"))
    })

  /** Shard manifest for the training export: the q_global_index order
    * chopped into fixed-size shards of 50 docs, each manifest row
    * carrying the shard's doc count, char volume, and index range —
    * the artifact a trainer's data loader actually consumes (and the
    * audit trail proving every doc landed in exactly one shard:
    * Σ n_docs = N, ranges tile [0, N) with no gaps). Same two-phase
    * index shape; the manifest aggregation adds ONE keyed shuffle on
    * shard_id.
    */
  val qShardManifest: Q = Q(
    "q_shard_manifest",
    Some("""WITH h AS (
              SELECT doc_id, n_chars,
                     ('0x' || substr(md5('gi:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS k
              FROM documents),
            idx AS (SELECT doc_id, n_chars,
                           row_number() OVER (ORDER BY k, doc_id) - 1 AS gi
                    FROM h)
            SELECT CAST(gi // 50 AS BIGINT) AS shard_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS n_chars,
                   CAST(min(gi) AS BIGINT) AS idx_lo,
                   CAST(max(gi) AS BIGINT) AS idx_hi
            FROM idx GROUP BY 1 ORDER BY shard_id"""),
    (s, dir) => {
      val h = docs(s, dir)
        .select(col("doc_id"), col("n_chars"),
          md5Hash32(concat(lit("gi:"), col("doc_id").cast("string"))).as("k"))
        .withColumn("bucket", (col("k") / lit(1L << 26)).cast("long"))
      val offsets = h.groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
        .withColumn("offset",
          coalesce(
            sum(col("cnt")).over(
              Window.orderBy(col("bucket"))
                .rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .select(col("bucket"), col("offset"))
      val wb = Window.partitionBy(col("bucket")).orderBy(col("k"), col("doc_id"))
      h.join(broadcast(offsets), Seq("bucket"))
        .withColumn("gi", col("offset") + row_number().over(wb) - 1)
        .groupBy(expr("gi div 50").as("shard_id")) // integer floor div, exact ≙ //
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("n_chars"),
          min(col("gi")).cast("long").as("idx_lo"),
          max(col("gi")).cast("long").as("idx_hi"))
        .orderBy(col("shard_id"))
    })

  /** Population stability index between two corpus halves (doc_id
    * parity as the reference/current proxy): doc-length distributions
    * bucketed into 8 equal-width bins, Laplace-smoothed shares
    * (+1 / +nbins — zero-count bins must not blow up the log), and the
    * per-bin PSI contribution (p_ref − p_cur)·ln(p_ref/p_cur) — the
    * standard ingest-drift monitor that decides whether a new crawl
    * snapshot still looks like the corpus the filters were tuned on.
    * Mathematically non-negative, but an FP-tiny product can round to
    * DuckDB's −0.0 — hence the `+ 0.0`. Count side is two hash
    * aggregations; everything after is bin-cardinality arithmetic.
    */
  val qPsiDrift: Q = Q(
    "q_psi_drift",
    Some("""WITH d AS (SELECT doc_id % 2 AS grp,
                              least(7, greatest(0, CAST(floor(n_chars / 250.0) AS BIGINT))) AS bucket
                       FROM documents),
            c AS (SELECT grp, bucket, count(*) AS n FROM d GROUP BY 1, 2),
            t AS (SELECT grp, sum(n) AS tot FROM c GROUP BY grp),
            b AS (SELECT bucket FROM range(0, 8) r(bucket)),
            p AS (SELECT b.bucket,
                         coalesce(ca.n, 0) AS na, coalesce(cb.n, 0) AS nb,
                         (coalesce(ca.n, 0) + 1.0) / (ta.tot + 8.0) AS pa,
                         (coalesce(cb.n, 0) + 1.0) / (tb.tot + 8.0) AS pb
                  FROM b
                  LEFT JOIN c ca ON ca.grp = 0 AND ca.bucket = b.bucket
                  LEFT JOIN c cb ON cb.grp = 1 AND cb.bucket = b.bucket
                  CROSS JOIN (SELECT tot FROM t WHERE grp = 0) ta
                  CROSS JOIN (SELECT tot FROM t WHERE grp = 1) tb)
            SELECT CAST(bucket AS BIGINT) AS bucket,
                   CAST(na AS BIGINT) AS n_ref, CAST(nb AS BIGINT) AS n_cur,
                   round((pa - pb) * ln(pa / pb) * 1e6) / 1e6 + 0.0 AS psi_contrib
            FROM p ORDER BY bucket"""),
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select((col("doc_id") % 2).as("grp"),
          least(lit(7L), greatest(lit(0L), floor(col("n_chars") / 250.0).cast("long")))
            .as("bucket"))
      val c = d.groupBy(col("grp"), col("bucket")).agg(count(lit(1)).as("n"))
        .transform(pin(_)) // 16 rows feeding four derived frames
      val ca = c.filter(col("grp") === 0).select(col("bucket"), col("n").as("na0"))
      val cb = c.filter(col("grp") === 1).select(col("bucket"), col("n").as("nb0"))
      val t0 = c.filter(col("grp") === 0).agg(sum(col("n")).as("tot0"))
      val t1 = c.filter(col("grp") === 1).agg(sum(col("n")).as("tot1"))
      val pa = (coalesce(col("na0"), lit(0L)) + 1.0) / (col("tot0") + 8.0)
      val pb = (coalesce(col("nb0"), lit(0L)) + 1.0) / (col("tot1") + 8.0)
      s.range(0, 8).select(col("id").as("bucket"))
        .join(broadcast(ca), Seq("bucket"), "left")
        .join(broadcast(cb), Seq("bucket"), "left")
        .crossJoin(broadcast(t0)).crossJoin(broadcast(t1))
        .select(
          col("bucket"),
          coalesce(col("na0"), lit(0L)).cast("long").as("n_ref"),
          coalesce(col("nb0"), lit(0L)).cast("long").as("n_cur"),
          (round((pa - pb) * log(pa / pb) * 1e6) / 1e6 + lit(0.0)).as("psi_contrib"))
        .orderBy(col("bucket"))
    })

  /** Distributed BPE vocabulary induction: 6 merge rounds over the
    * frequency-weighted DISTINCT-word table. Each round (a) counts
    * adjacent symbol pairs weighted by word frequency — ONE shuffle over
    * the symbol table, which is bounded by the vocabulary's total
    * character count, never the corpus; (b) picks the heaviest pair
    * (ties broken lexicographically) with a 1-row driver collect — the
    * same bounded iteration coordination as PageRank/KCore; (c) applies
    * the merge leftmost-nonoverlapping via per-word windows ("aaaa" with
    * merge (a,a) → (aa)(aa): within a run of consecutive matches only
    * odd positions merge — for left≠right overlapping matches are
    * impossible, so the parity rule is exact). Per-round lineage is
    * truncated through [[graft.operators.Checkpoints]]. The gated frame
    * is the merge-rule trace plus the corpus-weighted symbol count after
    * each round; the oracle unrolls the identical 6 rounds as CTEs.
    */
  val qBpeMerges: Q = Q(
    "q_bpe_merges", {
      def roundCtes(r: Int) = s""",
            p$r AS (SELECT word, freq, pos, sym,
                           lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
                    FROM s$r),
            best$r AS (SELECT sym AS bl, nxt AS br, CAST(sum(freq) AS BIGINT) AS w
                       FROM p$r WHERE nxt IS NOT NULL
                       GROUP BY 1, 2 ORDER BY w DESC, bl, br LIMIT 1),
            m$r AS (SELECT p.word, p.freq, p.pos, p.sym, p.nxt,
                           (p.sym = b.bl AND p.nxt IS NOT DISTINCT FROM b.br) AS mt
                    FROM p$r p CROSS JOIN best$r b),
            r$r AS (SELECT *,
                           pos - row_number() OVER (PARTITION BY word, mt ORDER BY pos) AS runkey
                    FROM m$r),
            g$r AS (SELECT *,
                           mt AND (row_number() OVER (PARTITION BY word, mt, runkey ORDER BY pos) % 2 = 1)
                             AS merge_at
                    FROM r$r),
            h$r AS (SELECT *,
                           coalesce(lag(merge_at) OVER (PARTITION BY word ORDER BY pos), false) AS consumed
                    FROM g$r),
            s${r + 1} AS MATERIALIZED (
              SELECT word, freq,
                     row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
                     CASE WHEN merge_at THEN sym || nxt ELSE sym END AS sym
              FROM h$r WHERE NOT consumed)"""
      val rounds = 6
      Some("""WITH w AS (
              SELECT word, CAST(count(*) AS BIGINT) AS freq
              FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents)
              GROUP BY 1),
            s1 AS MATERIALIZED (
              SELECT word, freq,
                     unnest(range(1, len(regexp_extract_all(word, '.')) + 1)) AS pos,
                     unnest(regexp_extract_all(word, '.')) AS sym
              FROM w)""" +
        (1 to rounds).map(roundCtes).mkString +
        "\nSELECT * FROM (" +
        (1 to rounds).map(r =>
          s"""SELECT CAST($r AS BIGINT) AS round, b.bl AS left_sym, b.br AS right_sym,
                     b.w AS pair_weight,
                     (SELECT CAST(sum(freq) AS BIGINT) FROM s${r + 1}) AS symbols_after
              FROM best$r b""").mkString(" UNION ALL ") +
        ") ORDER BY round")
    },
    (s, dir) => {
      import s.implicits._
      // LAZY pins (Checkpoints.pin, eager = false): each round runs TWO
      // jobs, not three — the top-pair collect is the materializing
      // action for the incoming state (it scans every partition through
      // the pair window), and the symbol-mass aggregate is the
      // materializing action for the merged state. Same trace numbers,
      // one fewer sequential driver barrier per round (the r19
      // barrier-latency finding), identical at-scale storage level.
      var state = pin(bpeInitState(docs(s, dir)), eager = false)
      val trace = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long, Long)]
      var exhausted = false
      for (r <- 1 to 6 if !exhausted) {
        val pairs = bpePairs(state)
        val topOpt = bpeTopPair(pairs).collect().headOption
        if (topOpt.isEmpty) { exhausted = true } // every word is one symbol;
        // the oracle's CROSS JOIN with an empty best CTE emits no rows for
        // the remaining rounds either, so early stop matches it exactly
        else {
        val top = topOpt.get
        val (bl, br, w) = (top.getString(0), top.getString(1), top.getLong(2))
        state = pin(bpeApplyMerge(pairs, bl, br), eager = false)
        val symbolsAfter = state.agg(sum(col("freq"))).head.getLong(0)
        trace += ((r.toLong, bl, br, w, symbolsAfter))
        }
      }
      trace.toSeq.toDF("round", "left_sym", "right_sym", "pair_weight", "symbols_after")
    })

  // ── BPE round bodies — shared by qBpeMerges' loop and graft.Inspect's
  //    per-round audit (the gate query's final frame is a driver-collected
  //    trace, so only these expose the real per-round plan shapes) ──────

  private val wWord = Window.partitionBy("word").orderBy("pos")

  /** (word, freq, pos, sym) character state from the corpus: one
    * tokenization + word-frequency aggregation, symbols via posexplode. */
  private[graft] def bpeInitState(d: DataFrame): DataFrame =
    d.select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        posexplode(regexp_extract_all(col("word"), lit("."), lit(0))))
      .select(col("word"), col("freq"), (col("pos") + 1).as("pos"), col("col").as("sym"))

  /** Adjacent-pair view: each symbol with its successor (per-word window). */
  private[graft] def bpePairs(state: DataFrame): DataFrame =
    state.withColumn("nxt", lead(col("sym"), 1).over(wWord))

  /** Best pair of the round: ONE hash aggregation bounded by the pair
    * vocabulary (never corpus size), then a 1-row TakeOrdered. */
  private[graft] def bpeTopPair(pairs: DataFrame): DataFrame =
    pairs.filter(col("nxt").isNotNull)
      .groupBy(col("sym").as("bl"), col("nxt").as("br"))
      .agg(sum(col("freq")).as("w"))
      .orderBy(col("w").desc, col("bl"), col("br")).limit(1)

  /** Apply the round's merge: per-word windows with an exact run-parity
    * rule for self-pairs (aaa → (aa)a, not a(aa)). */
  private[graft] def bpeApplyMerge(pairs: DataFrame, bl: String, br: String): DataFrame =
    pairs
      .withColumn("mt", col("sym") === lit(bl) && col("nxt") <=> lit(br))
      .withColumn("runkey",
        col("pos") - row_number().over(Window.partitionBy("word", "mt").orderBy("pos")))
      .withColumn("merge_at", col("mt") &&
        row_number().over(Window.partitionBy("word", "mt", "runkey").orderBy("pos")) % 2 === 1)
      .withColumn("consumed", coalesce(lag(col("merge_at"), 1).over(wWord), lit(false)))
      .filter(!col("consumed"))
      .select(col("word"), col("freq"),
        row_number().over(wWord).as("pos"),
        when(col("merge_at"), concat(col("sym"), col("nxt"))).otherwise(col("sym")).as("sym"))

  /** One representative round (pair count + merge application over the
    * materialized round-1 state, as the loop holds it) for
    * [[graft.Inspect]]. */
  def bpeRoundPlans(s: SparkSession, dir: String): Seq[(String, DataFrame)] = {
    val pairs = bpePairs(pin(bpeInitState(docs(s, dir))))
    Seq(
      "pair_count" -> bpeTopPair(pairs),
      "apply_merge" -> bpeApplyMerge(pairs, "t", "h"))
  }

  override def queries: Seq[Q] =
    Seq(qTfidf, qQualityGate, qPiiRedact, qHashSample, qSampleExactK, qDupClusters,
      qCorpusPipeline, qWeightedSample, qSplitLeakfree, qSourceCap, qGlobalIndex,
      qShardManifest, qPsiDrift, qBpeMerges)
}
