package graft.nshm

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import scala.collection.concurrent.TrieMap

/** The six NSHM tables, one parquet directory per table under `dir`
  * (≙ the reference's single SQLite file, `nshmdb.py:104-123`; `create`
  * ≙ `executescript(schema.sql)`'s create-if-not-exists). Opened through
  * [[NshmDb.open]].
  *
  * Each table's relation is resolved once per table version: `table`
  * returns a memoized `spark.read.schema(Schemas.all(name)).parquet(..)`
  * frame, keyed on the table directory's modification time. The declared
  * schema is the files' schema (every write goes through `conform`), so no
  * footer-inference job runs; the memo holds the file listing and the
  * schema only, never data or results, and every action still scans the
  * parquet. The key is one `getFileStatus` stat, so a write from another
  * process or store instance re-resolves the table; this store's own
  * writes drop the entry outright, whatever the mtime granularity.
  */
final class NshmStore private[nshm] (val spark: SparkSession, dir: String) {
  private val relations = TrieMap.empty[String, (Long, DataFrame)]

  private def path(name: String) = new Path(s"$dir/$name")
  private def fs(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // existence through the path's own FileSystem, so `file:` and `hdfs://`
  // dirs are seen too (java.io.File sees neither)
  private[nshm] def create(): Unit = Schemas.all.keys.foreach { n =>
    val p = path(n)
    if (!fs(p).exists(p))
      writing(n)(Schemas.empty(spark, n).write.mode(SaveMode.Overwrite).parquet(p.toString))
  }

  // stat before resolving: an entry's listing is never older than its key,
  // and a race between readers only costs an extra resolve
  def table(name: String): DataFrame = {
    val p = path(name)
    val mtime = fs(p).getFileStatus(p).getModificationTime
    relations.get(name) match {
      case Some((t, df)) if t == mtime => df
      case _ =>
        val df = spark.read.schema(Schemas.all(name)).parquet(p.toString)
        relations.put(name, (mtime, df))
        df
    }
  }

  /** Append rows (any column order; cast to the table schema). */
  def append(name: String, rows: DataFrame): Unit =
    writing(name)(conform(name, rows).write.mode(SaveMode.Append).parquet(path(name).toString))

  private def writing(name: String)(write: => Unit): Unit =
    try write finally relations.remove(name)

  private def conform(name: String, rows: DataFrame): DataFrame = {
    val schema = Schemas.all(name)
    rows.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
  }
}
