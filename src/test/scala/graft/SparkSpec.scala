package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** An empty NSHM store in a fresh temp dir (≙ the reference tests'
    * SQLite file in a tmp dir).
    */
  def freshDb(): graft.nshm.NshmDb = graft.nshm.NshmDb.open(spark, SparkSpec.tempDir("nshmstore_"))
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", tempDir("warehouse_"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Per-JVM root of every [[tempDir]], deleted recursively at exit. */
  private lazy val tempRoot: Path = {
    val root = Files.createTempDirectory("graft-test-")
    sys.addShutdownHook {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
    root
  }

  /** A fresh, empty directory that is gone once the test JVM exits. */
  def tempDir(prefix: String): String = Files.createTempDirectory(tempRoot, prefix).toString
}
