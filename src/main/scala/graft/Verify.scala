package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional filter, args(2) = comma-separated tokens. A token with a
    // trailing '*' is an EXPLICIT prefix (q_tri* selects the family); a
    // bare token that exactly names a query selects ONLY that query
    // (the at-scale board runner passes exact names — q_asof must not
    // also re-select its longer sibling q_asof_forward). A bare token
    // naming NO query still falls back to prefix semantics for dev
    // convenience — but that inference is registry-dependent: adding a
    // future query literally named like someone's dev prefix silently
    // flips the token to exact and drops the siblings. Scripted callers
    // should use '*'. The oracle dump is filtered too, so
    // scripts/check.py agrees.
    val names = select(if (args.length > 2) args(2) else "")
    // spill-aware override for at-scale waves: global sorts of corpus-
    // width outputs (600M-row row-grain results) need partitions sized
    // to executor memory, not to the core count — at 32 partitions a
    // sf100 sort partition is ~1.5 GB and the UnsafeExternalSorter
    // spill alone exceeds local scratch; at 256 it sorts in memory
    val spark = GraftSession.builder("graft-verify")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", GraftSession.cpus.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.validate(spark, sfDir) // fail loud + early on a data-contract drift
    new java.io.File(outDir).mkdirs()
    // coalesce(1) keeps the driver's DuckDB compare reading one file per
    // query; at sf100-grade outputs (600M-row per-entity results) that
    // single-threaded write IS the wall-clock, and the replication-
    // invariance checker globs dir/*.parquet anyway — so the at-scale
    // wave runs set GRAFT_VERIFY_COALESCE=0 to write with full
    // parallelism
    val singleFile = sys.env.getOrElse("GRAFT_VERIFY_COALESCE", "1") != "0"
    // Per-entry window-quality control (BASELINE.md round-18 protocol,
    // extended to the at-scale board per the r18 verdict): when
    // GRAFT_CONTROL_QUERY + GRAFT_CONTROL_DIR are set, a FIXED-SIZE
    // control query runs before every entry and its wall time is
    // emitted for the runner to stamp into the entry. The control runs
    // against its own (small, constant) dir regardless of this run's
    // SF, so the stamp measures the host window, not the data — board
    // entries measured in different sessions become comparable by
    // construction via their control ratios.
    val controlQ = sys.env.get("GRAFT_CONTROL_QUERY")
      .flatMap(n => SparkEntry.queries.get(n).map(n -> _))
    val controlDir = sys.env.getOrElse("GRAFT_CONTROL_DIR", "/root/testdata/sf0.1")
    def runControl(): Double = {
      val t0 = System.nanoTime()
      controlQ.foreach { case (_, fn) =>
        fn(spark, controlDir).write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e9
    }
    // one un-timed control first so entry 1's stamp isn't JIT-skewed
    if (controlQ.isDefined)
      try runControl() catch { case _: Throwable => () }
    // Run in the caller's args(2) order: the at-scale board runner
    // passes exact names cheapest-first so a wall-clock-bounded pass
    // completes the most queries.
    val queries = SparkEntry.queries
    names.foreach { name =>
      if (controlQ.isDefined)
        try System.err.println(f"[verify] control $name ${runControl()}%.2fs")
        catch { case _: Throwable => () }
      val t0 = System.nanoTime()
      try {
        val res = queries(name)(spark, sfDir)
        (if (singleFile) res.coalesce(1) else res).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val chosen = names.toSet
    val json = SparkEntry.oracleSql.filter(q => chosen(q._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Registered query names chosen by a comma-separated filter (doc at
    * the call site in [[main]]), in filter-token order; ties keep
    * registry order, so an empty filter selects everything in map order.
    */
  private[graft] def select(filter: String): Seq[String] = {
    val tokens = filter.split(',').toSeq
    val all = SparkEntry.queries.keySet
    all.toSeq.map(n => n -> matchIndex(tokens, all, n))
      .filter(_._2 >= 0).sortBy(_._2).map(_._1)
  }

  /** Filter-token resolution for args(2) (doc at the call site in
    * [[main]]): first matching token's index, or -1. Extracted pure so
    * VerifyFilterSpec can pin the precedence — explicit `*` prefix
    * beats exact beats legacy bare-prefix inference — without a
    * SparkSession.
    */
  private[graft] def matchIndex(
      tokens: Seq[String], allNames: Set[String], name: String): Int = {
    val starred = tokens.indexWhere(t =>
      t.endsWith("*") && name.startsWith(t.dropRight(1)))
    if (starred >= 0) starred
    else {
      val exact = tokens.indexOf(name)
      if (exact >= 0) exact
      else tokens.indexWhere(t => !allNames.contains(t) && name.startsWith(t))
    }
  }
}
