package graft.streaming

import java.io.{DataInputStream, DataOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.sources.Compaction

/** The one commit log of every `foreachBatch` loop's persisted state
  * ([[StreamingReport]], [[StreamingHeavyHitters]], the [[PairIndex]]
  * loops, [[StreamingDistinct]], [[StreamingCuration]]). A table is a root
  * directory with one subdirectory per trigger (`batch_id=<id>`) or per
  * compaction (`gen=<n>`). The log is `$dir/_commits`, one small file per
  * entry named by its sequence number; the newest entry is the only commit
  * point and names the committed batch ids, each table's schema and live
  * subdirectories, and an opaque `meta` map.
  *
  * Replay contract. `foreachBatch` is at-least-once: after a crash Spark
  * re-delivers the batch under the same id. [[trigger]] skips a committed
  * id without a Spark job; otherwise it overwrites `batch_id=<id>` in each
  * table it writes, then commits one entry naming them. A crash before the
  * commit leaves directories no entry names, and the retry rewrites them.
  * Readers read only what the newest entry names, so every batch counts
  * once. [[replace]] writes a new generation, commits it in place of the
  * table's directories, and only then deletes what no entry names: a crash
  * before that commit leaves the old generation live, one after it leaves
  * leftovers the next [[replace]] deletes. A live directory is never
  * rewritten. An entry is written to a hidden temp file and renamed into
  * place (the `HDFSMetadataLog` convention), so a torn commit is simply not
  * there. Compaction runs between triggers, never concurrently with them.
  */
private[streaming] final case class StateLog(spark: SparkSession, dir: String) {
  import StateLog._

  private val log = new Path(s"$dir/_commits")
  private def fs = log.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The newest complete entry (a torn commit leaves only a hidden temp). */
  def last: Entry = {
    val names = if (fs.exists(log)) fs.listStatus(log).map(_.getPath.getName) else Array.empty[String]
    names.filter(n => n.nonEmpty && n.forall(_.isDigit)).maxByOption(_.toLong)
      .fold(Entry(0L, Set.empty, Map.empty, Map.empty)) { name =>
        val in = new DataInputStream(fs.open(new Path(log, name)))
        def strings() = Seq.fill(in.readInt())(in.readUTF())
        try Entry(name.toLong, Seq.fill(in.readInt())(in.readLong()).toSet,
          Seq.fill(in.readInt())(in.readUTF() -> Live(
            DataType.fromJson(in.readUTF()).asInstanceOf[StructType], strings())).toMap,
          Seq.fill(in.readInt())(in.readUTF() -> strings()).toMap)
        finally in.close()
      }
  }

  /** The directories `e` names for `table`, read with its recorded schema.
    * Spark lists more than `parallelPartitionDiscovery.threshold` paths, or
    * subdirectories of one root, with a Spark job: reading groups of at
    * most that many leaf directories launches none.
    */
  def read(table: String, e: Entry = last): Option[DataFrame] = e.tables.get(table).map { t =>
    val group = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    t.dirs.map(d => s"$table/$d").grouped(group)
      .map(spark.read.schema(t.schema).parquet(_: _*)).reduce(_ union _)
  }

  /** Run `body` as the trigger of `batchId` and commit what it wrote, or
    * return None without running it when the id is already committed.
    */
  def trigger[T](batchId: Long)(body: Trigger => T): Option[T] = {
    val e = last
    if (e.batchIds(batchId)) None
    else {
      val t = new Trigger(this, e, s"batch_id=$batchId")
      val out = body(t)
      commit(e.copy(batchIds = e.batchIds + batchId, meta = t.meta,
        tables = e.tables ++ t.written.map { case (table, schema) =>
          table -> Live(schema, e.tables.get(table).fold(Seq.empty[String])(_.dirs) :+ t.name)
        }))
      Some(out)
    }
  }

  /** Replace the directories `e` names for each table with one generation
    * holding its frame, commit, then delete what the new entry does not
    * name under those tables.
    */
  def replace(e: Entry, frames: Seq[(String, DataFrame)]): Unit = if (frames.nonEmpty) {
    val gen = s"gen=${e.seq + 1}"
    frames.foreach { case (table, df) => df.write.mode("overwrite").parquet(s"$table/$gen") }
    commit(e.copy(tables = e.tables ++ frames.map { case (t, df) => t -> Live(df.schema, Seq(gen)) }))
    for ((table, _) <- frames; st <- fs.listStatus(new Path(table))
         if st.isDirectory && st.getPath.getName.contains("=") && st.getPath.getName != gen)
      fs.delete(st.getPath, true)
  }

  /** [[replace]] each table with its rows in ~`targetFileBytes` files,
    * range-laid on its sort columns. The file count floors at `minFiles`
    * (default `defaultParallelism`) so a small compacted table still fans
    * out across the executor slots (the r13 lesson,
    * [[StreamingNearDedup.compactIndex]]). Returns table -> files written,
    * 0 for a table the log does not name yet.
    */
  def compact(tables: Seq[(String, Seq[String])], targetFileBytes: Long, minFiles: Int): Map[String, Int] = {
    val e = last
    val floor = math.max(1, if (minFiles > 0) minFiles else spark.sparkContext.defaultParallelism)
    val laid = for ((table, keys) <- tables; df <- read(table, e)) yield {
      val bytes = e.tables(table).dirs.map(d => Compaction.dataBytes(spark, s"$table/$d")).sum
      table -> Compaction.layout(df, bytes,
        math.max(1L, math.min(targetFileBytes, (bytes + floor - 1) / floor)), keys)
    }
    replace(e, laid.map { case (table, (df, _)) => table -> df })
    tables.map(_._1 -> 0).toMap ++ laid.map { case (table, (_, files)) => table -> files }
  }

  /** Write `e` as the entry after it: a hidden temp, renamed into place. */
  private[streaming] def commit(e: Entry): Unit = {
    val tmp = new Path(log, s".${e.seq + 1}.tmp")
    val out = new DataOutputStream(fs.create(tmp, true))
    def strings(ss: Seq[String]): Unit = { out.writeInt(ss.size); ss.foreach(out.writeUTF) }
    try {
      out.writeInt(e.batchIds.size); e.batchIds.foreach(out.writeLong)
      out.writeInt(e.tables.size)
      e.tables.foreach { case (t, l) => out.writeUTF(t); out.writeUTF(l.schema.json); strings(l.dirs) }
      out.writeInt(e.meta.size)
      e.meta.foreach { case (k, v) => out.writeUTF(k); strings(v) }
    } finally out.close()
    val done = new Path(log, (e.seq + 1).toString)
    require(fs.rename(tmp, done), s"commit rename $tmp -> $done failed")
    fs.listStatus(log).map(_.getPath).filter(_.getName != done.getName).foreach(fs.delete(_, false))
  }
}

private[streaming] object StateLog {

  /** A table's recorded schema and live subdirectories. */
  final case class Live(schema: StructType, dirs: Seq[String])

  /** One log entry; `seq` is its file name. */
  final case class Entry(
      seq: Long, batchIds: Set[Long], tables: Map[String, Live], meta: Map[String, Seq[String]])

  /** An uncommitted trigger: it reads the entry it started from and writes
    * each table's frame into `name` under the table's root.
    */
  final class Trigger private[StateLog] (
      log: StateLog, last: Entry, private[StateLog] val name: String) {
    private[StateLog] var written = Seq.empty[(String, StructType)]
    var meta: Map[String, Seq[String]] = last.meta
    def read(table: String): Option[DataFrame] = log.read(table, last)
    def write(table: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$table/$name")
      written :+= table -> df.schema
    }
  }
}
