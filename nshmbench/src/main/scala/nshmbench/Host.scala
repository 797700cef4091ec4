package nshmbench

/** Host-window stamps, recorded beside the metrics so a run taken while
  * the host was stealing CPU or running another engine JVM can be told
  * apart. Same sources as `graft.Bench`: the aggregate steal field of
  * `/proc/stat`, and `/proc/<pid>/cmdline` of other java processes.
  */
object Host {
  private val clkTck: Long =
    try scala.sys.process.Process(Seq("getconf", "CLK_TCK")).!!.trim.toLong
    catch { case _: Throwable => 100L }

  def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toLong
      finally src.close()
    } catch { case _: Throwable => -1L }

  def stealSeconds(before: Long, after: Long): Option[Double] =
    if (before < 0 || after < 0) None else Some((after - before).toDouble / clkTck)

  /** Number of other JVMs running `graft.*` or `nshmbench.*` classes. */
  def stamp(): Int = {
    val self = ProcessHandle.current().pid()
    try {
      new java.io.File("/proc").listFiles((_, n) => n.forall(_.isDigit)).toSeq
        .filter(_.getName.toLong != self)
        .count { d =>
          try {
            val cmd = new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(d.getPath, "cmdline")), "UTF-8").replace('\u0000', ' ').trim
            (cmd.contains("graft.") || cmd.contains("nshmbench.")) &&
              cmd.takeWhile(_ != ' ').endsWith("java")
          } catch { case _: Throwable => false }
        }
    } catch { case _: Throwable => -1 }
  }
}
