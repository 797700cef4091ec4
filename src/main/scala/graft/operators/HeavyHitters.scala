package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Exact top-k most-frequent values, at any scale, without a full-width
  * shuffle of the value domain.
  *
  * The naive `GROUP BY value ORDER BY count DESC LIMIT k` shuffles every
  * distinct value; over 100 TB of tokenized text that is the vocabulary
  * of the whole corpus (billions of keys, heavy skew). The classic fix is
  * a two-phase sketch-then-verify plan:
  *
  *   1. per-partition Misra–Gries summaries with `capacity` counters —
  *      one pass, bounded memory. Pigeonhole guarantee: any value with
  *      GLOBAL count > N/(capacity+1) must survive in at least one
  *      partition (if it were evicted everywhere, each partition count
  *      would be ≤ N_p/(capacity+1), which sums below the premise).
  *   2. the merged candidate set (≤ capacity × partitions keys, usually
  *      far fewer) broadcasts back as a semi-join filter, and ONLY the
  *      candidates are exactly recounted and ranked.
  *
  * The pigeonhole guarantee only certifies the result when the k-th
  * item's GLOBAL frequency clears the N/(capacity+1) floor — on
  * near-uniform or extreme-cardinality data it can fail, and a sketch
  * that silently returns a wrong top-k is worse than a slow one. So the
  * operator ENFORCES its own precondition: partition row/eviction
  * totals ride along in the same Misra–Gries pass, and after the exact
  * candidate recount the driver checks
  *   - no partition ever evicted (candidates = the full distinct set,
  *     recount ≡ the naive plan), or
  *   - kth_count · (capacity+1) > N (the pigeonhole floor, in exact
  *     long arithmetic).
  * Certified → the recounted top-k is returned (bit-exact, with the
  * deterministic (count DESC, value ASC) tie-break). Not certified →
  * loud warn + fall back to the naive full GROUP BY, trading the
  * shuffle for guaranteed exactness. At capacity 4096 the floor is
  * 0.025% of rows, ~20× below the frequency of the 20th most common
  * word of any natural corpus, so real text never falls back. The
  * DuckDB oracle runs the naive plan and must hash-match.
  */
object HeavyHitters {

  /** Exact top-k most frequent values of string column `value`.
    * Output: (rank: long, value, n: long), rank 1-based.
    *
    * EAGER — the `collect` prefix is the contract: the certification
    * check is driver-side, so calling this runs the sketch, recount,
    * and (rarely) fallback jobs immediately; the returned frame is a
    * small local result, not a composable lazy plan.
    */
  def collectTopKFrequent(
      values: DataFrame,
      value: Column,
      k: Int,
      capacity: Int = 4096): DataFrame = {
    val spark = values.sparkSession
    import spark.implicits._

    val vals = values.select(value.cast("string").as("value"))
    // one MG pass emits candidates (tag 0) AND per-partition row /
    // eviction totals (tags 1, 2) — no second input scan for N;
    // the pin materializes the tiny summary once for its two
    // consumers below
    val summary = vals
      .mapPartitions { rows =>
        val counters = mutable.HashMap.empty[String, Long]
        var nRows = 0L
        var nEvictions = 0L
        rows.foreach { r =>
          if (!r.isNullAt(0)) {
            nRows += 1
            val v = r.getString(0)
            counters.get(v) match {
              case Some(c) => counters.update(v, c + 1)
              case None if counters.size < capacity => counters.update(v, 1L)
              case None => // Misra–Gries eviction: decrement all, drop zeros
                nEvictions += 1
                val dead = mutable.ArrayBuffer.empty[String]
                counters.foreach { case (key, c) =>
                  if (c == 1L) dead += key else counters.update(key, c - 1)
                }
                dead.foreach(counters.remove)
            }
          }
        }
        counters.keysIterator.map((0, _)) ++
          Iterator((1, nRows.toString), (2, nEvictions.toString))
      }
      .toDF("tag", "value")
      .transform(Checkpoints.pin(_))

    val stats = summary.filter(col("tag") =!= 0)
      .groupBy(col("tag")).agg(sum(col("value").cast("long")).as("total"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = stats.getOrElse(1, 0L)
    val evictions = stats.getOrElse(2, 0L)

    val candidates = summary.filter(col("tag") === 0).select(col("value")).distinct()
    val topRows = vals
      .join(broadcast(candidates), Seq("value"), "left_semi")
      .groupBy(col("value"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("value").asc)
      .limit(k)
      .collect()

    // exact iff nothing was ever evicted (candidates = full distinct
    // set) or the k-th recounted frequency clears the pigeonhole floor
    val certified = evictions == 0L ||
      (topRows.length == k && topRows.last.getLong(1) * (capacity + 1L) > n)

    if (certified) {
      topRows.toSeq.zipWithIndex
        .map { case (r, i) => (i + 1L, r.getString(0), r.getLong(1)) }
        .toDF("rank", "value", "n")
        .orderBy(col("rank"))
    } else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"Misra-Gries sketch (capacity=$capacity) cannot certify top-$k " +
          s"(kth=${topRows.lastOption.map(_.getLong(1))}, floor=N/(cap+1)=${n / (capacity + 1L)}); " +
          "falling back to the exact full GROUP BY")
      vals
        .groupBy(col("value"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("value").asc)
        .limit(k)
        .collect().toSeq.zipWithIndex
        .map { case (r, i) => (i + 1L, r.getString(0), r.getLong(1)) }
        .toDF("rank", "value", "n")
        .orderBy(col("rank"))
    }
  }
}
