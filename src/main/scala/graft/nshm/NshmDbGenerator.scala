package graft.nshm

import org.apache.spark.sql.SparkSession

/** CLI database generator
  * (≙ /root/reference/nshmdb/scripts/nshm_db_generator.py:49-94): parse
  * the model version, resolve + weighted-merge the branch archives, and
  * populate a parquet-backed store with faults, ruptures, and MFDs —
  * each insert skippable by flag exactly like the reference CLI.
  *
  * Usage:
  * {{{
  * graft.nshm.NshmDbGenerator <version> <out-dir> --manifest <file>
  *   [--skip-faults-creation] [--skip-rupture-creation] [--skip-mfds-creation]
  *   [--master local[N]]
  * }}}
  *
  * `<version>` is `major.minor[.patch]`; `--manifest` lists branch
  * archives as `group,weight,zip-path` lines (the local stand-in for the
  * reference's Weka GraphQL logic-tree walk — see [[SolutionProvider]]).
  */
object NshmDbGenerator {

  final case class Config(
      version: SemVer,
      outDir: String,
      manifest: String,
      skipFaults: Boolean = false,
      skipRuptures: Boolean = false,
      skipMfds: Boolean = false,
      master: Option[String] = None)

  def parseArgs(args: Seq[String]): Config = {
    require(args.length >= 2, usage)
    var cfg = Config(SemVer.parse(args(0)), args(1), manifest = "")
    var rest = args.drop(2).toList
    while (rest.nonEmpty) rest match {
      case "--manifest" :: v :: tl => cfg = cfg.copy(manifest = v); rest = tl
      case "--skip-faults-creation" :: tl => cfg = cfg.copy(skipFaults = true); rest = tl
      case "--skip-rupture-creation" :: tl => cfg = cfg.copy(skipRuptures = true); rest = tl
      case "--skip-mfds-creation" :: tl => cfg = cfg.copy(skipMfds = true); rest = tl
      case "--master" :: v :: tl => cfg = cfg.copy(master = Some(v)); rest = tl
      case other :: _ => throw new IllegalArgumentException(s"Unknown argument: $other\n$usage")
      case Nil => ()
    }
    require(cfg.manifest.nonEmpty, s"--manifest is required\n$usage")
    cfg
  }

  private val usage =
    "usage: NshmDbGenerator <version> <out-dir> --manifest <file> " +
      "[--skip-faults-creation] [--skip-rupture-creation] [--skip-mfds-creation] [--master local[N]]"

  def run(spark: SparkSession, cfg: Config): NshmDb = {
    val systems = SolutionProvider.downloadCompositeSolution(
      spark, new ManifestSolutionProvider(cfg.manifest), cfg.version)
    require(systems.nonEmpty, s"Manifest ${cfg.manifest} resolved no branch groups")
    val db = NshmDb.open(spark, cfg.outDir)
    // the generator's insert loop with its skip flags
    // (nshm_db_generator.py:81-94)
    Ingest.loadComposite(db, systems, cfg.skipFaults, cfg.skipRuptures, cfg.skipMfds)
    db
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args.toIndexedSeq)
    val builder = graft.GraftSession.builder("nshm-db-generator")
    val spark = cfg.master.fold(builder)(builder.master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val db = run(spark, cfg)
      val nFaults = db.store.table("fault").count()
      val nRuptures = db.store.table("rupture").count()
      println(s"[nshm-db-generator] v${cfg.version} -> ${cfg.outDir}: " +
        s"$nFaults faults, $nRuptures ruptures")
    } finally spark.stop()
  }
}
