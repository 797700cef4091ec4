package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.text.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 surface extensions: bag-semantics set operations, ordered
  * string aggregation, lateral (correlated top-n) joins, grouping
  * markers, calendar spines, MapType round-trips — plus training-data
  * ops the earlier packs lacked: fixed-stride document chunking, int8
  * embedding quantization, and SHA-256 content addressing.
  *
  * Everything keeps the pack invariants: engine-portable arithmetic
  * (explicit doubles, floor/ceil instead of engine-local rounding,
  * md5-derived hashes), a deterministic total order on the output, and
  * column names aligned with the DuckDB oracle.
  */
object Extras extends QueryPack {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.loadDistributed(s, dir, "documents", "doc_id")

  /** Bag-semantics set operations: INTERSECT ALL keeps min(countL,
    * countR) copies, EXCEPT ALL keeps countL − countR. Spark plans both
    * without materializing counts (left-anti-ish hash join with
    * multiplicity); the result is re-aggregated so the gate compares a
    * bounded, ordered relation.
    */
  val qIntersectAll: Q = Q(
    "q_intersect_all",
    Some("""SELECT op, k, CAST(count(*) AS BIGINT) AS n FROM (
              SELECT 'inter' AS op, CAST(c_nationkey AS BIGINT) AS k FROM (
                SELECT c_nationkey FROM customer
                INTERSECT ALL
                SELECT s_nationkey FROM supplier)
              UNION ALL
              SELECT 'exc', CAST(c_nationkey AS BIGINT) FROM (
                SELECT c_nationkey FROM customer
                EXCEPT ALL
                SELECT s_nationkey FROM supplier))
            GROUP BY op, k ORDER BY op, k"""),
    (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").cast("long").as("k"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").cast("long").as("k"))
      c.intersectAll(su).select(lit("inter").as("op"), col("k"))
        .unionByName(c.exceptAll(su).select(lit("exc").as("op"), col("k")))
        .groupBy(col("op"), col("k")).agg(count(lit(1)).as("n"))
        .orderBy(col("op"), col("k"))
    })

  /** Ordered string aggregation (LISTAGG / string_agg): nations per
    * region as one comma-joined, alphabetically ordered string. Spark
    * side sorts inside the aggregation buffer (array_sort ∘
    * collect_list), which is the scale-safe form: per-group data only,
    * no global sort.
    */
  val qListagg: Q = Q(
    "q_listagg",
    Some("""SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
                   CAST(count(*) AS BIGINT) AS n
            FROM region JOIN nation ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name"""),
    (s, dir) => {
      val r = t(s, dir, "region"); val n = t(s, dir, "nation")
      r.join(n, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("n"))
        .orderBy(col("r_name"))
    })

  /** Correlated lateral top-n: the two highest-balance customers per
    * nation, written as a LATERAL subquery on both engines — Spark
    * plans the correlated limit as a partitioned window under the hood.
    */
  // one constant for both the Spark run and the oracle: the LATERAL text
  // is valid in both dialects, and sharing it means they cannot drift
  private val lateralTopkSql =
    """SELECT n_name, c.c_name, c.c_acctbal
       FROM nation, LATERAL (
         SELECT c_name, c_acctbal FROM customer
         WHERE c_nationkey = n_nationkey
         ORDER BY c_acctbal DESC, c_name LIMIT 2) c
       ORDER BY n_name, c_acctbal DESC, c_name"""

  val qLateralTopk: Q = Q(
    "q_lateral_topk",
    Some(lateralTopkSql),
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(lateralTopkSql)
    })

  /** ROLLUP with explicit GROUPING markers: the grouping() flag
    * distinguishes "NULL because rolled up" from "NULL in the data" —
    * the canonical way to consume multi-granularity aggregates.
    */
  val qGroupingId: Q = Q(
    "q_grouping_id",
    Some("""SELECT coalesce(l_returnflag, '?') AS flag,
                   coalesce(l_linestatus, '?') AS status,
                   CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
                   CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
                   CAST(count(*) AS BIGINT) AS n
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY g_flag, g_status, flag, status"""),
    (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("?")).as("flag"),
          coalesce(col("l_linestatus"), lit("?")).as("status"),
          col("g_flag"), col("g_status"), col("n"))
        .orderBy(col("g_flag"), col("g_status"), col("flag"), col("status")))

  /** Calendar-spine densification: generate every month of the order
    * date range and left-join the per-month order counts, zero-filling
    * gaps — the standard shape for time series that must not skip empty
    * periods. The spine is generated, not scanned, so it costs nothing
    * at any scale; Spark broadcasts the small aggregated side (the
    * spine, as the preserved side of the left-outer join, cannot be
    * the broadcast build side).
    */
  val qDateSpine: Q = Q(
    "q_date_spine",
    Some("""WITH spine AS (
              SELECT strftime(m, '%Y-%m') AS month FROM (
                SELECT unnest(generate_series(DATE '1992-01-01', DATE '1998-12-01',
                                              INTERVAL 1 MONTH)) AS m)),
            per AS (SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
                           count(*) AS n, round(sum(o_totalprice), 2) AS total
                    FROM orders GROUP BY 1)
            SELECT spine.month, CAST(coalesce(per.n, 0) AS BIGINT) AS n,
                   coalesce(per.total, 0.0) AS total
            FROM spine LEFT JOIN per USING (month)
            ORDER BY month"""),
    (s, dir) => {
      val spine = s.range(1)
        .select(explode(sequence(
          to_date(lit("1992-01-01")), to_date(lit("1998-12-01")),
          expr("interval 1 month"))).as("m"))
        .select(date_format(col("m"), "yyyy-MM").as("month"))
      val per = t(s, dir, "orders")
        .groupBy(date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("tot"))
      spine.join(per, Seq("month"), "left")
        .select(
          col("month"),
          coalesce(col("cnt"), lit(0L)).as("n"),
          coalesce(col("tot"), lit(0.0)).as("total"))
        .orderBy(col("month"))
    })

  /** MapType round-trip: per-order line quantities packed into a map
    * (key = deterministic per-order ordinal) and exploded back to rows,
    * with the map cardinality carried along. The oracle is the plain
    * relational equivalent — the gate checks the map construction /
    * explosion loses nothing. (l_linenumber alone is NOT unique in the
    * synthetic data, hence the row_number key.)
    */
  val qMapRoundtrip: Q = Q(
    "q_map_roundtrip",
    Some("""WITH r AS (
              SELECT l_orderkey,
                     row_number() OVER (PARTITION BY l_orderkey
                       ORDER BY l_linenumber, l_quantity, l_extendedprice) AS k,
                     CAST(l_quantity AS DOUBLE) AS v
              FROM lineitem WHERE l_orderkey < 1000)
            SELECT l_orderkey, CAST(k AS BIGINT) AS k, v,
                   CAST(count(*) OVER (PARTITION BY l_orderkey) AS BIGINT) AS nk
            FROM r ORDER BY l_orderkey, k"""),
    (s, dir) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 1000)
        .select(
          col("l_orderkey"),
          row_number().over(w).cast("long").as("k"),
          col("l_quantity").cast("double").as("v"))
        .groupBy(col("l_orderkey"))
        .agg(map_from_entries(array_sort(collect_list(struct(col("k"), col("v"))))).as("m"))
        .select(col("l_orderkey"), size(col("m")).cast("long").as("nk"), explode(col("m")))
        .select(col("l_orderkey"), col("key").as("k"), col("value").as("v"), col("nk"))
        .orderBy(col("l_orderkey"), col("k"))
    })

  /** Fixed-stride document chunking (size 200, stride 150 — 50-char
    * overlap): the standard pre-tokenization window pass of a training
    * pipeline. Chunk starts are computed arithmetically (floor/ceil —
    * no engine-local rounding), generated per row and exploded; content
    * equality is gated via the portable md5 hash so full chunk text
    * never has to round-trip.
    */
  val qChunkText: Q = Q(
    "q_chunk_text",
    Some("""WITH kk AS (SELECT doc_id, text,
                   greatest(0, CAST(ceil((length(text) - 200) / 150.0) AS BIGINT)) AS k
                 FROM documents),
            ch AS (SELECT doc_id,
                   unnest([{'idx': i, 'st': 1 + 150 * i} FOR i IN range(0, k + 1)]) AS u,
                   text FROM kk)
            SELECT doc_id, CAST(u.idx AS BIGINT) AS idx, CAST(u.st AS BIGINT) AS st,
                   CAST(length(substring(text, CAST(u.st AS INT), 200)) AS BIGINT) AS chlen,
                   ('0x' || substr(md5(substring(text, CAST(u.st AS INT), 200)), 1, 8))::BIGINT AS chash
            FROM ch ORDER BY doc_id, idx"""),
    (s, dir) => {
      val k = greatest(lit(0L), ceil((length(col("text")) - 200) / 150.0).cast("long"))
      val starts = transform(sequence(lit(0L), k), i => lit(1L) + lit(150L) * i)
      val chunk = col("text").substr(col("st").cast("int"), lit(200))
      docs(s, dir)
        .select(col("doc_id"), col("text"), posexplode(starts).as(Seq("idx", "st")))
        .select(
          col("doc_id"), col("idx").cast("long").as("idx"), col("st"),
          length(chunk).cast("long").as("chlen"),
          md5Hash32(chunk).as("chash"))
        .orderBy(col("doc_id"), col("idx"))
    })

  /** Symmetric int8 embedding quantization: scale = 127/max|x|, code =
    * floor(x·scale + 0.5) — floor keeps the rounding bit-identical
    * across engines — plus the reconstruction error, the quality metric
    * a pipeline monitors before swapping quantized vectors in. Folds are
    * sequential left-folds on explicit doubles on both sides.
    */
  val qQuantizeEmbed: Q = Q(
    "q_quantize_embed",
    Some("""WITH e AS (
              SELECT vec_id, embedding,
                     list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS maxabs
              FROM embeddings WHERE vec_id < 1000),
            sc AS (SELECT vec_id, embedding, 127.0 / maxabs AS scale
                   FROM e WHERE maxabs > 0)
            SELECT vec_id,
                   round(scale * 10000) / 10000 AS scale4,
                   CAST(list_sum([CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)
                                  FOR x IN embedding]) AS BIGINT) AS qsum,
                   round(list_sum([pow(CAST(x AS DOUBLE) -
                                       floor(CAST(x AS DOUBLE) * scale + 0.5) / scale, 2)
                                   FOR x IN embedding]) * 1000000) / 1000000 AS sse6
            FROM sc ORDER BY vec_id"""),
    (s, dir) => {
      val xd = (x: org.apache.spark.sql.Column) => x.cast("double")
      val e = Tables.loadDistributed(s, dir, "embeddings", "vec_id")
        .filter(col("vec_id") < 1000)
        .withColumn("maxabs", array_max(transform(col("embedding"), x => abs(xd(x)))))
        .filter(col("maxabs") > 0)
        .withColumn("scale", lit(127.0) / col("maxabs"))
      e.select(
        col("vec_id"),
        (round(col("scale") * 10000) / 10000).as("scale4"),
        aggregate(col("embedding"), lit(0L),
          (acc, x) => acc + floor(xd(x) * col("scale") + 0.5).cast("long")).as("qsum"),
        (round(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + pow(xd(x) - floor(xd(x) * col("scale") + 0.5) / col("scale"), 2))
          * 1000000) / 1000000).as("sse6"))
        .orderBy(col("vec_id"))
    })

  /** SHA-256 content addressing: the cryptographic complement of the
    * md5-derived fingerprints — full-width content ids plus per-id
    * duplicate counts, the key for content-addressable corpus storage.
    */
  val qShaAddress: Q = Q(
    "q_sha_address",
    Some("""SELECT doc_id, substr(sha256(text), 1, 16) AS sha16,
                   CAST(count(*) OVER (PARTITION BY sha256(text)) AS BIGINT) AS n_same
            FROM documents ORDER BY doc_id"""),
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), sha2(col("text"), 256).as("sha"))
        .withColumn("n_same", count(lit(1)).over(Window.partitionBy(col("sha"))).cast("long"))
        .select(col("doc_id"), substring(col("sha"), 1, 16).as("sha16"), col("n_same"))
        .orderBy(col("doc_id")))

  /** Sequence packing: assign documents to fixed token-budget bins
    * (4096 whitespace tokens) per language, in a deterministic
    * pseudo-random order (md5 of doc_id — the portable "global shuffle"
    * of a training pipeline), bin id = floor(running-total-before /
    * budget). Greedy first-fit by running sum — one window cumsum per
    * language partition, no driver-side loop, arbitrarily parallel
    * across languages.
    */
  val qPackSequences: Q = Q(
    "q_pack_sequences",
    Some("""WITH d AS (
              SELECT doc_id, lang,
                     len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tok,
                     md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
              FROM documents),
            packed AS (
              SELECT doc_id, lang, n_tok,
                     CAST(floor((sum(n_tok) OVER (PARTITION BY lang
                       ORDER BY shuffle_key, doc_id) - n_tok) / 4096.0) AS BIGINT) AS bin
              FROM d)
            SELECT lang, bin, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS bin_tokens
            FROM packed GROUP BY lang, bin ORDER BY lang, bin"""),
    (s, dir) => {
      val nTok = size(filter(split(col("text"), " "), w => w =!= "")).cast("long")
      val w = Window.partitionBy(col("lang")).orderBy(col("shuffle_key"), col("doc_id"))
      docs(s, dir)
        .select(col("doc_id"), col("lang"), nTok.as("n_tok"),
          md5(col("doc_id").cast("string")).as("shuffle_key"))
        .withColumn("bin",
          floor((sum(col("n_tok")).over(w) - col("n_tok")) / 4096.0).cast("long"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
        .orderBy(col("lang"), col("bin"))
    })

  /** Source-mixture weighting: per-source sampling weights that reshape
    * the corpus toward a target mixture (uniform here) — weight =
    * target share / actual share, capped at 10× upsampling. The
    * one-row corpus total broadcasts; nothing shuffles more than the
    * per-source aggregate.
    */
  val qMixWeights: Q = Q(
    "q_mix_weights",
    Some("""WITH per AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
            tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total, count(*) AS n_sources FROM per)
            SELECT source, CAST(n AS BIGINT) AS n,
                   round(n / total, 6) AS actual_share,
                   round(least(10.0, (1.0 / n_sources) / (n / total)), 6) AS weight
            FROM per CROSS JOIN tot ORDER BY source"""),
    (s, dir) => {
      // plain load: a groupBy(source) count needs no pre-repartition —
      // loadDistributed's doc_id shuffle would move the whole corpus first
      val per = t(s, dir, "documents").groupBy(col("source")).agg(count(lit(1)).as("n"))
      // corpus totals via a global window over the (source-cardinality,
      // i.e. tiny) aggregate — ONE corpus scan; the agg+crossJoin form
      // re-reads documents for the total side
      val wAll = Window.partitionBy()
      per
        .withColumn("total", sum(col("n")).over(wAll).cast("double"))
        .withColumn("n_sources", count(lit(1)).over(wAll))
        .select(
          col("source"), col("n"),
          round(col("n") / col("total"), 6).as("actual_share"),
          round(least(lit(10.0), (lit(1.0) / col("n_sources")) / (col("n") / col("total"))), 6)
            .as("weight"))
        .orderBy(col("source"))
    })

  /** Temperature resampling APPLIED (the UniMax/multilingual mixture
    * step): target language shares p^τ/Σp^τ at τ = 0.5 flatten the
    * distribution, per-doc resampling weight w = target/actual, and the
    * corpus is materialized at those weights — floor(w) whole copies
    * plus one more when a deterministic md5 uniform lands under the
    * fractional part. On this corpus en gets w < 1 (subsampled) and the
    * rare languages w > 1 (replicated), so BOTH branches are pinned.
    *
    * Determinism across engines: Σp^τ is a 5-term double sum, so both
    * sides fold it in sorted-lang order (sorted collect + `aggregate`
    * ≙ `list_sum(list(... ORDER BY lang))`) — a plain `sum()` would
    * leave the addition order to the engine and the last ulp decides
    * u < frac(w) comparisons. Weights frame is language-cardinality,
    * broadcast; the resampling itself is map-side.
    */
  val qTemperatureMix: Q = Q(
    "q_temperature_mix",
    Some("""WITH s AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
            t AS (SELECT sum(n) * 1.0 AS total FROM s),
            q AS (SELECT lang, n, n / total AS p, sqrt(n / total) AS pt FROM s CROSS JOIN t),
            z AS (SELECT list_sum(list(pt ORDER BY lang)) AS zt FROM q),
            w AS (SELECT lang, n, (pt / zt) / p AS w FROM q CROSS JOIN z),
            d AS (SELECT d.doc_id, d.lang, w.w, w.n,
                         (('0x' || substr(md5('tmix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
                           / 4294967296.0 AS u
                  FROM documents d JOIN w ON d.lang = w.lang)
            SELECT lang, CAST(max(n) AS BIGINT) AS n_in,
                   CAST(sum(CAST(floor(w) AS BIGINT) +
                            (CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END)) AS BIGINT) AS n_out,
                   round(max(w) * 1e6) / 1e6 AS weight
            FROM d GROUP BY lang ORDER BY lang"""),
    (s, dir) => {
      val counts = t(s, dir, "documents").groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val tot = counts.agg((sum(col("n")) * lit(1.0)).as("total"))
      val q = counts.crossJoin(broadcast(tot))
        .withColumn("p", col("n") / col("total"))
        .withColumn("pt", sqrt(col("n") / col("total")))
      val z = q.agg(expr(
        """aggregate(sort_array(collect_list(struct(lang, pt))),
                     CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.pt)""").as("zt"))
      val w = q.crossJoin(broadcast(z))
        .select(col("lang"), col("n"), ((col("pt") / col("zt")) / col("p")).as("w"))
      val u = md5Hash32(concat(lit("tmix:"), col("doc_id").cast("string"))) / lit(4294967296.0)
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .join(broadcast(w), Seq("lang"))
        .withColumn("u", u)
        .withColumn("copies",
          floor(col("w")) + when(col("u") < col("w") - floor(col("w")), 1L).otherwise(0L))
        .groupBy(col("lang"))
        .agg(
          max(col("n")).cast("long").as("n_in"),
          sum(col("copies")).cast("long").as("n_out"),
          (round(max(col("w")) * 1e6) / 1e6).as("weight"))
        .orderBy(col("lang"))
    })

  /** Forward fill (last observation carried forward): per-user running
    * "last purchase amount", nulls between purchases filled from the
    * most recent one — `last(_, ignoreNulls)` over an explicit rows
    * frame ≡ `last_value(... IGNORE NULLS)`. Event time is compared at
    * microsecond precision on both engines (the parquet is
    * nanosecond-typed; see Tables.loadEvents) with event_id as the
    * total-order tiebreaker.
    */
  val qLocf: Q = Q(
    "q_locf",
    Some("""SELECT user_id, event_id,
                   last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
            FROM events ORDER BY user_id, event_id"""),
    (s, dir) => {
      val v = when(col("event_type") === "purchase", col("value"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          last(v, ignoreNulls = true).over(w).as("last_purchase"))
        .orderBy(col("user_id"), col("event_id"))
    })

  /** Right outer join (the one outer-join shape the other packs don't
    * exercise): every part keeps a row even with no lineitem match.
    */
  val qRightJoin: Q = Q(
    "q_right_join",
    Some("""SELECT p_partkey, CAST(count(l_orderkey) AS BIGINT) AS n_lines,
                   round(coalesce(sum(l_quantity), 0.0), 2) AS total_qty
            FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
            GROUP BY p_partkey ORDER BY p_partkey"""),
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      li.join(p, li("l_partkey") === p("p_partkey"), "right")
        .groupBy(col("p_partkey"))
        .agg(
          count(col("l_orderkey")).as("n_lines"),
          round(coalesce(sum(col("l_quantity")), lit(0.0)), 2).as("total_qty"))
        .orderBy(col("p_partkey"))
    })

  /** Bucketed co-located join: orders and lineitem persisted `bucketBy`
    * the join key, then joined WITHOUT an Exchange on either side — at the
    * 100 TB grain this is the difference between re-shuffling both
    * fact tables on every join and paying the layout cost once at
    * ingest. The write happens inside the query so the gate replays the
    * whole build→join cycle; PlanSpec pins the shuffle-free property
    * (merge hint keeps AQE from broadcasting the small-SF orders side,
    * which would hide the co-location being demonstrated). The oracle
    * replays the same join over the raw parquet — bucketing must not
    * change a single row.
    */
  val qBucketedJoin: Q = Q(
    "q_bucketed_join",
    Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
                   round(sum(l_extendedprice * (1 - l_discount)) * 100) / 100 AS revenue
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
            GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    (s, dir) => {
      import org.apache.spark.sql.SaveMode
      val buckets = 16
      def persist(name: String, key: String, cols: Seq[String]): Unit = {
        val tbl = s"bj_$name"
        // a PREVIOUS session's managed table leaves its warehouse dir
        // behind while this session's catalog has no entry for it;
        // CREATE then refuses the non-empty location. Drop both the
        // entry and the orphan location (Hadoop FS: works for any
        // warehouse scheme, not just file:).
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), tbl)
        loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
        t(s, dir, name).select(cols.map(col): _*)
          .write.mode(SaveMode.Overwrite).format("parquet")
          .bucketBy(buckets, key).sortBy(key)
          .saveAsTable(tbl)
      }
      persist("orders", "o_orderkey",
        Seq("o_orderkey", "o_orderstatus", "o_orderpriority"))
      persist("lineitem", "l_orderkey",
        Seq("l_orderkey", "l_extendedprice", "l_discount"))
      s.table("bj_orders")
        .filter(col("o_orderstatus") === "F")
        .hint("merge")
        .join(s.table("bj_lineitem"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          (round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) * 100) / 100)
            .as("revenue"))
        .orderBy(col("o_orderpriority"))
    })

  override def queries: Seq[Q] = Seq(
    qBucketedJoin,
    qIntersectAll, qListagg, qLateralTopk, qGroupingId, qDateSpine,
    qMapRoundtrip, qChunkText, qQuantizeEmbed, qShaAddress,
    qPackSequences, qMixWeights, qTemperatureMix, qLocf, qRightJoin)
}
