package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Equi-DEPTH histogram (quantile buckets) WITHOUT a global sort:
  * exactly the rows-per-bucket split `ntile(n)` over (value, tiebreak…)
  * produces, computed as two-phase exact selection.
  *
  * Why it is exact: with a value-primary total order, the VALUE at any
  * global rank k depends only on per-value counts (tie-breaker keys
  * decide which row holds rank k, never which value), and ntile's
  * bucket sizes are pure arithmetic on N (the first N mod n buckets get
  * one extra row). So the histogram reduces to selecting the values at
  * the 2n bucket-boundary ranks:
  *   1. one aggregation for (N, vmin, vmax);
  *   2. per-(fixed-width-bucket, value) counts — the only corpus-sized
  *      shuffle, on a high-cardinality key;
  *   3. exclusive prefix sums over the tiny bucket frame;
  *   4. resolve each target rank inside its one bucket by folding that
  *      bucket's sorted distinct values.
  * Same machinery as q_percentile_exact, single global group. The
  * window form funnels the whole table through ONE task; this plan's
  * depth is constant in rows.
  *
  * Caveat shared with q_percentile_exact: the B fixed-width buckets
  * bound step 4's collect_list only under roughly-uniform value spread;
  * under extreme skew re-bucket recursively inside an over-full bucket.
  */
object EquiDepth {

  /** (bucket 1..n, n rows, lo = value at first rank, hi = value at last
    * rank) per equi-depth bucket of `value` — ntile semantics, no
    * global sort. `b` = internal fixed-width bucket count.
    */
  def histogram(df: DataFrame, value: Column, n: Int, b: Int = 256): DataFrame = {
    val li = df.select(value.cast("double").as("v")).filter(col("v").isNotNull)
    // materialized once: the 1-row aggregate feeds two subtrees (the
    // bucketing crossJoin and the ntile target derivation) — without the
    // pin the full count/min/max scan executes twice
    val stats = Checkpoints.pin(li.agg(
      count(lit(1)).as("n"), min(col("v")).as("vmin"), max(col("v")).as("vmax")))

    val bucketed = li
      .crossJoin(broadcast(stats)) // 1-row stats: broadcast scalar join
      .withColumn(
        "bucket",
        when(col("vmax") <= col("vmin"), lit(0L))
          .otherwise(least(
            lit((b - 1).toLong),
            floor((col("v") - col("vmin")) / ((col("vmax") - col("vmin")) / b)))))
    val vfreq = bucketed
      .groupBy(col("bucket"), col("v"))
      .agg(count(lit(1)).as("cnt"))

    val bcum = vfreq
      .groupBy(col("bucket"))
      .agg(sum(col("cnt")).as("bcnt"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("bcnt")))).as("bs"))
      .select(explode(expr(
        """transform(bs, (x, i) -> named_struct(
             'bucket', x.bucket, 'bcnt', x.bcnt,
             'cum_before', aggregate(slice(bs, 1, i), 0L, (a, y) -> a + y.bcnt)))""")).as("bc"))
      .select(col("bc.bucket"), col("bc.bcnt"), col("bc.cum_before"))

    // ntile arithmetic: qsz = N/n, r = N mod n; bucket k starts at
    // (k-1)*qsz + min(k-1, r) + 1 and holds qsz (+1 if k <= r) rows.
    val targets = stats
      .select(col("n"), explode(sequence(lit(1L), lit(n.toLong))).as("bucketn"))
      .withColumn("qsz", floor(col("n") / n))
      .withColumn("rr", col("n") % n)
      .withColumn(
        "start", (col("bucketn") - 1) * col("qsz") + least(col("bucketn") - 1, col("rr")) + 1)
      .withColumn(
        "size", col("qsz") + when(col("bucketn") <= col("rr"), 1L).otherwise(0L))
      .filter(col("size") > 0) // n > N: trailing buckets are empty, ntile emits none
      .select(
        col("bucketn"), col("size"),
        explode(array(
          struct(col("start").as("r"), lit("lo").as("role")),
          struct((col("start") + col("size") - 1).as("r"), lit("hi").as("role")))).as("t"))
      .select(col("bucketn"), col("size"), col("t.r").as("r"), col("t.role").as("role"))

    val located = targets
      .join(broadcast(bcum),
        col("cum_before") < col("r") && col("r") <= col("cum_before") + col("bcnt"))
      .select(
        col("bucketn"), col("size"), col("r"), col("role"), col("bucket"),
        (col("r") - col("cum_before")).as("lr"))

    val resolved = vfreq
      .join(broadcast(located), Seq("bucket"))
      .groupBy(col("bucketn"), col("size"), col("role"), col("r"), col("lr"))
      .agg(sort_array(collect_list(struct(col("v"), col("cnt")))).as("vs"))
      .withColumn("val", expr(
        """aggregate(vs,
             named_struct('c', 0L, 'pick', CAST(NULL AS DOUBLE)),
             (acc, x) -> IF(acc.pick IS NOT NULL, acc,
               named_struct('c', acc.c + x.cnt,
                 'pick', IF(acc.c + x.cnt >= lr, x.v, CAST(NULL AS DOUBLE)))),
             acc -> acc.pick)"""))

    resolved
      .groupBy(col("bucketn"))
      .agg(
        max(col("size")).cast("long").as("n"),
        max(when(col("role") === "lo", col("val"))).as("lo"),
        max(when(col("role") === "hi", col("val"))).as("hi"))
      .select(col("bucketn").cast("long").as("bucket"), col("n"), col("lo"), col("hi"))
      .orderBy(col("bucket"))
  }
}
