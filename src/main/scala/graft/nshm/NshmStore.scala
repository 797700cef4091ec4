package graft.nshm

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import scala.collection.concurrent.TrieMap

/** Storage abstraction ≙ the reference's single SQLite file
  * (`/root/reference/nshmdb/nshmdb.py:104-123`). Two implementations:
  * in-memory DataFrames (tests / scratch) and a parquet directory per
  * table (the scale path — on a cluster these would be catalog tables,
  * `rupture`/`fault` partitioned by `fault_system`).
  */
trait NshmStore {
  def spark: SparkSession
  def table(name: String): DataFrame
  /** Append rows (any column order; cast to the table schema). */
  def append(name: String, rows: DataFrame): Unit

  /** MERGE-style upsert on a natural key (the Delta `MERGE WHEN MATCHED
    * THEN UPDATE WHEN NOT MATCHED THEN INSERT` alternative SURVEY §2.1
    * names for S9; the default insert path stays left-anti + append):
    * key-matched existing rows are replaced by the incoming version,
    * unmatched existing rows are kept, unmatched incoming rows are
    * inserted — so re-running the same batch is idempotent. Incoming
    * batches are expected key-unique, as Delta MERGE requires (duplicate
    * keys collapse to one arbitrary row rather than erroring). The merged
    * frame is pinned ([[graft.operators.Checkpoints.pin]]) before the
    * swap so the replace never overwrites storage it is still lazily
    * reading; on a real cluster this operation is where a transactional
    * table format (Delta/Iceberg) takes over — the plan shape
    * (anti-join + union) is identical there.
    */
  def merge(name: String, rows: DataFrame, keyCols: Seq[String]): Unit = {
    val incoming = conform(name, rows).dropDuplicates(keyCols)
    val kept = table(name).join(incoming.select(keyCols.map(col): _*), keyCols, "left_anti")
    replace(name, graft.operators.Checkpoints.pin(kept.unionByName(incoming)))
  }

  /** Swap a table's full contents (only reachable via [[merge]], which
    * materializes `df` first).
    */
  protected def replace(name: String, df: DataFrame): Unit

  protected def conform(name: String, rows: DataFrame): DataFrame = {
    val schema = Schemas.all(name)
    rows.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
  }
}

final class InMemoryNshmStore(val spark: SparkSession) extends NshmStore {
  private val tables = scala.collection.mutable.Map[String, DataFrame](
    Schemas.all.keys.map(n => n -> Schemas.empty(spark, n)).toSeq: _*)
  def table(name: String): DataFrame = tables(name)
  def append(name: String, rows: DataFrame): Unit =
    tables(name) = tables(name).unionByName(conform(name, rows))
  protected def replace(name: String, df: DataFrame): Unit = tables(name) = df
}

/** One parquet directory per table under `dir` (create-if-not-exists ≙
  * `executescript(schema.sql)`, nshmdb.py:104-117).
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
final class ParquetNshmStore(val spark: SparkSession, dir: String) extends NshmStore {
  private val relations = TrieMap.empty[String, (Long, DataFrame)]

  private def path(name: String) = new Path(s"$dir/$name")
  private def fs(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // existence through the path's own FileSystem, so `file:` and `hdfs://`
  // dirs are seen too (java.io.File sees neither)
  def create(): Unit = Schemas.all.keys.foreach { n =>
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

  def append(name: String, rows: DataFrame): Unit =
    writing(name)(conform(name, rows).write.mode(SaveMode.Append).parquet(path(name).toString))
  // safe to overwrite in place: merge() hands over a materialized frame
  protected def replace(name: String, df: DataFrame): Unit =
    writing(name)(df.write.mode(SaveMode.Overwrite).parquet(path(name).toString))

  private def writing(name: String)(write: => Unit): Unit =
    try write finally relations.remove(name)
}
