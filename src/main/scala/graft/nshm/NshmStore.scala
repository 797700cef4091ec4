package graft.nshm

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

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
  */
final class ParquetNshmStore(val spark: SparkSession, dir: String) extends NshmStore {
  def create(): Unit = Schemas.all.keys.foreach { n =>
    if (!new java.io.File(s"$dir/$n").exists())
      Schemas.empty(spark, n).write.mode(SaveMode.Overwrite).parquet(s"$dir/$n")
  }
  def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name")
  def append(name: String, rows: DataFrame): Unit =
    conform(name, rows).write.mode(SaveMode.Append).parquet(s"$dir/$name")
  // safe to overwrite in place: merge() hands over a materialized frame
  protected def replace(name: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name")
}
