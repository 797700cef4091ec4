package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Full-batch logistic regression by gradient descent, trained INSIDE the
  * engine — the CCNet-style move of fitting a lightweight quality
  * classifier on corpus features without exporting data to an ML stack.
  *
  * Each sweep is one distributed aggregation: grad_j = Σ_i (y_i − σ(xβ))
  * · x_ij / n — a handful of sums the planner executes with map-side
  * partial aggregation, so a sweep costs one corpus scan regardless of
  * cluster size; the driver only carries the (tiny) coefficient vector
  * between sweeps, exactly like [[PageRank]] carries ranks. Fixed
  * iteration count + fixed learning rate keep the run deterministic.
  */
object LogisticRegression {

  /** @param data      training frame
    * @param features  feature columns (include a `lit(1.0)` for the bias)
    * @param label     0/1 double label column
    * @return fitted coefficients, one per feature column
    */
  def train(
      data: DataFrame,
      features: Seq[Column],
      label: Column,
      lr: Double = 0.5,
      iterations: Int = 5): Array[Double] = {
    // lazy pin + fused count: the n-count is the materializing action
    // (one job where an eager checkpoint + count was two); sweeps then
    // rescan the pinned feature blocks
    val d = Checkpoints.pin(data.select(
      (features.zipWithIndex.map { case (f, j) => f.cast("double").as(s"x$j") } :+
        label.cast("double").as("y")): _*), eager = false)
    val n = d.count().toDouble
    val beta = Array.fill(features.size)(0.0)
    for (_ <- 1 to iterations) {
      val grads = gradientFrame(d, beta).collect().head
      for (j <- beta.indices)
        beta(j) = beta(j) + lr * grads.getDouble(j) / n
    }
    beta
  }

  /** One gradient sweep as an UNEXECUTED 1-row frame: a single scan of
    * the featurized data with map-side partial aggregation. Shared by
    * [[train]]'s loop and [[graft.Inspect]]'s per-round audit.
    */
  private[graft] def gradientFrame(d: DataFrame, beta: Array[Double]): DataFrame = {
    val z = beta.indices
      .map(j => lit(beta(j)) * col(s"x$j"))
      .reduce(_ + _)
    val err = col("y") - lit(1.0) / (lit(1.0) + exp(-z))
    d.agg(
      sum(err * col("x0")).as("g0"),
      (1 until beta.length).map(j => sum(err * col(s"x$j")).as(s"g$j")): _*)
  }

  /** The audit entry point: featurize + materialize (as [[train]] does —
    * the sweeps rescan the checkpointed feature frame, they do not
    * recompute it) + one zero-β gradient sweep. */
  def roundPlan(data: DataFrame, features: Seq[Column], label: Column): DataFrame = {
    val d = Checkpoints.pin(data.select(
      (features.zipWithIndex.map { case (f, j) => f.cast("double").as(s"x$j") } :+
        label.cast("double").as("y")): _*))
    gradientFrame(d, Array.fill(features.size)(0.0))
  }

  /** Per-row predicted probability for fitted coefficients. */
  def predict(features: Seq[Column], beta: Array[Double]): Column = {
    val z = features.zipWithIndex
      .map { case (f, j) => lit(beta(j)) * f.cast("double") }
      .reduce(_ + _)
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** The identical training run as ANSI SQL: `iterations` unrolled
    * gradient sweeps over `dataSql` (a relation exposing x0..x{p-1}, y),
    * emitting one (feature, beta) row per coefficient. Every literal is
    * CAST to DOUBLE so any engine runs the same IEEE arithmetic as the
    * Column loop (same convention as [[PageRank.unrolledSql]]).
    */
  def unrolledSql(dataSql: String, p: Int, lr: Double, iterations: Int): String = {
    val idx = 0 until p
    def z(b: String) = idx.map(j => s"$b.b$j * d.x$j").mkString(" + ")
    val b0 = idx.map(j => s"CAST(0.0 AS DOUBLE) AS b$j").mkString(", ")
    val one = "CAST(1.0 AS DOUBLE)"
    val sweeps = (1 to iterations).map { i =>
      val gsums = idx.map(j =>
        s"sum((d.y - $one / ($one + exp(-(${z("b")})))) * d.x$j) AS g$j").mkString(",\n           ")
      val updates = idx.map(j =>
        s"b.b$j + CAST($lr AS DOUBLE) * g.g$j / (SELECT cnt FROM n) AS b$j").mkString(",\n           ")
      s"""g$i AS (
         |  SELECT $gsums
         |  FROM d CROSS JOIN b${i - 1} b),
         |b$i AS (
         |  SELECT $updates
         |  FROM b${i - 1} b CROSS JOIN g$i g)""".stripMargin
    }.mkString(",\n")
    val out = idx.map(j => s"SELECT ${j} AS fidx, b$j AS beta FROM b$iterations")
      .mkString("\nUNION ALL\n")
    s"""WITH d AS ($dataSql),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM d),
       |b0 AS (SELECT $b0),
       |$sweeps
       |$out""".stripMargin
  }
}
