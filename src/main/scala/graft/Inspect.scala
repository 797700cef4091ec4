package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftshim.Listeners

/** Dev tool for optimization work. On the bench's session conf
  * ([[GraftSession]]), for each selected query it:
  *
  *  1. counts the SPARK JOBS (driver barriers) of the contract-function
  *     build (eager pins, index writes, streaming drains) plus the
  *     noop-sink materialization — exactly what one bench iteration pays
  *     — and prints `[jobs] <name> <count>`;
  *  1. writes the `.explain("formatted")` output of the frame the query
  *     returns to `<outDir>/<name><suffix>.txt` (the plans/rNN/ evidence);
  *  1. prints a plan-shape row (shuffles / broadcasts / sort-merge joins /
  *     codegen spans). A driver-coordinated iterative query's returned
  *     frame is only its collected trace, so a query with [[RoundPlans]]
  *     gets one row per representative round instead.
  *
  * Usage: java -cp ... graft.Inspect <sfDir> <outDir> <suffix> <q1,q_tri*,...>
  *
  * Names resolve, and queries run in the order, of Verify's filter
  * ([[Verify.select]]).
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: graft.Inspect <sfDir> <outDir> <suffix> <q1,q_tri*,...>")
    val Array(dir, outArg, suffix, filter) = args
    val outDir = Files.createDirectories(Paths.get(outArg))
    val spark = GraftSession.builder("graft-inspect").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.validate(spark, dir)
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    for (name <- Verify.select(filter)) {
      try {
        // the previous query's plan passes may have run jobs of their own
        Listeners.waitUntilEmpty(spark.sparkContext)
        jobs.set(0)
        val df = SparkEntry.queries(name)(spark, dir)
        df.write.format("noop").mode("overwrite").save()
        Listeners.waitUntilEmpty(spark.sparkContext)
        println(s"[jobs] $name ${jobs.get()}")

        Files.write(
          outDir.resolve(s"$name$suffix.txt"),
          (s"-- $name ($suffix) @ $dir\n" +
            df.queryExecution.explainString(FormattedMode)).getBytes("UTF-8"))
        println(s"[explain] wrote $name$suffix.txt")

        shapeRows(spark, dir, name, df).foreach(println)
      } catch {
        case e: Throwable => println(s"[inspect] ERROR $name: ${e.toString.take(200)}")
      }
    }
    spark.stop()
  }

  /** With AQE on, executedPlan.toString is the AdaptiveSparkPlan's INITIAL
    * plan — comparable round over round, but pre-codegen. The codegen span
    * count comes from a second planning pass with AQE off, whose static
    * plan carries the `*(id)` star prefixes CollapseCodegenStages assigns.
    * (AQE-off also inserts ReusedExchange, so its Exchange counts are NOT
    * comparable — only the star ids are read from it.) A Dataset caches
    * its QueryExecution, so the static plan needs a FRESH frame built
    * under the flipped conf.
    */
  private def shapeRows(
      spark: SparkSession, dir: String, name: String, df: DataFrame): Seq[String] = {
    def plan(f: DataFrame): String = f.queryExecution.executedPlan.toString
    def withAqeOff[A](body: => A): A = {
      val conf = spark.sessionState.conf
      val key = "spark.sql.adaptive.enabled"
      val prev = conf.getConfString(key)
      conf.setConfString(key, "false")
      try body finally conf.setConfString(key, prev)
    }
    RoundPlans.plans.get(name) match {
      case Some(rounds) =>
        // the two passes are zipped POSITIONALLY: per-round labels are
        // not required to be unique, and a keyed map would silently
        // print one round's codegen spans against another's AQE plan
        val aqe = rounds(spark, dir).map { case (l, f) => l -> plan(f) }
        val static = withAqeOff(rounds(spark, dir).map { case (_, f) => plan(f) })
        require(aqe.length == static.length,
          s"$name: AQE pass emitted ${aqe.length} rounds, static pass ${static.length}")
        aqe.zip(static).map { case ((l, p), s) => shapeRow(s"$name@$l", p, s) }
      case None =>
        Seq(shapeRow(name, plan(df), withAqeOff(plan(SparkEntry.queries(name)(spark, dir)))))
    }
  }

  private def shapeRow(label: String, p: String, staticP: String): String = {
    val shuffles = "Exchange (hash|range)partitioning|Exchange SinglePartition".r.findAllIn(p).length
    val bcast = "BroadcastExchange".r.findAllIn(p).length
    val smj = "SortMergeJoin".r.findAllIn(p).length
    val wsc = "\\*\\((\\d+)\\)".r.findAllMatchIn(staticP).map(_.group(1)).toSet.size
    f"$label%-22s shuffles=$shuffles%-3d bcast=$bcast%-3d smj=$smj%-3d codegenSpans=$wsc"
  }
}
