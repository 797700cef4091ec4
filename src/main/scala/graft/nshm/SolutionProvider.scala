package graft.nshm

import graft.nshm.Ingest.Solution
import org.apache.spark.sql.SparkSession

/** Branch-archive resolution shim completing the
  * `download_composite_solution` shape end-to-end
  * (≙ /root/reference/nshmdb/api.py:41-176,595-622) with the network
  * fetch swapped for pluggable local resolution. The HTTP/GraphQL client
  * itself is deliberately out of engine scope (SURVEY §2.1): fetching is
  * driver-side glue, not a distributed source — what the engine owns is
  * everything AFTER the bytes exist. A provider answers the one question
  * the API answers: for a model version, which weighted branch archives
  * make up each fault-system group?
  */
trait SolutionProvider {

  /** Grouped (weight, zip-path) branch lists keyed by branch-set short
    * name (≙ `_get_grouped_source_ids`, api.py:41-113: the GraphQL
    * logic-tree walk that yields `dict[short_name, list[(weight, id)]]`,
    * with inversion ids already resolved to local archive paths).
    * Duplicate archive paths within a group keep the first weight, as
    * the reference's `seen_ids` dedup does (api.py:100-110).
    */
  def groupedSources(version: SemVer): Map[String, Seq[(Double, String)]]
}

/** Manifest-file provider: one line per branch, `group,weight,zip-path`
  * (format and errors as [[SolutionProvider.parseManifest]]). The
  * manifest is the local stand-in for the logic-tree API response.
  */
final class ManifestSolutionProvider(manifestPath: String) extends SolutionProvider {
  override def groupedSources(version: SemVer): Map[String, Seq[(Double, String)]] = {
    val src = scala.io.Source.fromFile(manifestPath)
    val lines =
      try src.getLines().toVector
      finally src.close()
    SolutionProvider.parseManifest(lines, manifestPath)
  }
}

/** HTTP-backed provider (≙ the reference's live fetch path,
  * api.py:41-176: logic-tree walk + archive download): GET
  * `base/manifest/<version>` for the grouped-branch manifest (same CSV
  * contract as [[ManifestSolutionProvider]], zip paths relative to
  * `base`), then GET each distinct referenced archive ONCE into
  * `cacheDir` and resolve the group lists to the local copies. The
  * fetch is driver-side glue by design — nothing distributed happens
  * until the bytes exist locally — and the module stays outside the
  * core correctness gate exactly as the reference excludes its api
  * module from CI coverage (pyproject.toml:92-96); the loopback-served
  * SourcesSpec case is its correctness anchor.
  */
final class HttpSolutionProvider(
    baseUrl: String,
    cacheDir: java.nio.file.Path) extends SolutionProvider {

  private val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()

  private def get(url: String): Array[Byte] = {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
    require(resp.statusCode() == 200, s"GET $url -> HTTP ${resp.statusCode()}")
    resp.body()
  }

  override def groupedSources(version: SemVer): Map[String, Seq[(Double, String)]] = {
    val base = baseUrl.stripSuffix("/")
    val manifest = new String(
      get(s"$base/manifest/$version"), java.nio.charset.StandardCharsets.UTF_8)
    val grouped = SolutionProvider.parseManifest(
      manifest.linesIterator.toVector, s"$base/manifest/$version")
    // download each DISTINCT archive once (groups may share branches)
    val localOf = grouped.valuesIterator.flatMap(_.map(_._2)).distinct.map { remote =>
      val target = cacheDir.resolve(java.nio.file.Paths.get(remote).getFileName)
      if (!java.nio.file.Files.exists(target))
        java.nio.file.Files.write(target, get(s"$base/${remote.stripPrefix("/")}"))
      remote -> target.toString
    }.toMap
    grouped.view.mapValues(_.map { case (w, p) => (w, localOf(p)) }).toMap
  }
}

object SolutionProvider {

  /** Shared manifest parse: one line per branch `group,weight,zip-path`
    * (blank lines and `#` comments ignored). Only the first remaining
    * line may be a header, recognized by a non-numeric weight field; any
    * other line that is not a non-empty group, a finite non-negative
    * weight and a non-empty path throws one IllegalArgumentException
    * naming `source`, the line number and the line, instead of silently
    * dropping a branch or merging NaN rates. First-seen weight wins per
    * (group, path) — the reference's `seen_ids` dedup (api.py:100-110).
    */
  def parseManifest(
      rawLines: Seq[String], source: String): Map[String, Seq[(Double, String)]] = {
    val lines = rawLines.map(_.trim).zipWithIndex
      .filter { case (l, _) => l.nonEmpty && !l.startsWith("#") }
    val parsed = lines.zipWithIndex.flatMap { case ((line, i), k) =>
      line.split(",", 3).map(_.trim) match {
        case Array(group, weight, path) if group.nonEmpty && path.nonEmpty &&
            weight.toDoubleOption.exists(w => w >= 0 && !w.isInfinite) =>
          Some((group, weight.toDouble, path))
        case Array(_, weight, _) if k == 0 && weight.toDoubleOption.isEmpty => None
        case _ => throw new IllegalArgumentException(
          s"$source line ${i + 1}: expected group,weight,path with a finite non-negative weight, got '$line'")
      }
    }
    parsed
      .groupBy(_._1)
      .view
      .mapValues { branches =>
        val seen = scala.collection.mutable.LinkedHashMap.empty[String, Double]
        branches.foreach { case (_, w, p) => if (!seen.contains(p)) seen(p) = w }
        seen.toSeq.map { case (p, w) => (w, p) }
      }
      .toMap
  }

  /** ≙ `download_composite_solution` (api.py:595-622) minus the fetch:
    * resolve the version's grouped branches, weighted-merge each
    * non-empty group (`Ingest.mergeSolutionZips` ≙ `_merge_branches`),
    * and return the per-system solutions ready for
    * `Ingest.loadComposite` (≙ `_stack_fault_systems` + the generator's
    * insert loop). Groups come in name order, not manifest order; that
    * order fixes the surrogate ids.
    */
  def downloadCompositeSolution(
      spark: SparkSession,
      provider: SolutionProvider,
      version: SemVer): Seq[Solution] = {
    val grouped = provider.groupedSources(version)
    grouped.toSeq.sortBy(_._1).collect {
      case (_, branches) if branches.nonEmpty =>
        Ingest.mergeSolutionZips(spark, branches)
    }
  }
}
