package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DELTA-BASED row-level SQL DML for snapshot tables with DECLARED ROW
  * IDENTITY — the merge-on-read write path surfaced through Spark's own
  * `SupportsDelta` machinery. Where the copy-on-write operation rewrites
  * the whole table per statement, this one writes O(delta):
  *
  *  - Spark's delta rewrites (`RewriteUpdateTable`/`RewriteMergeIntoTable`/
  *    `RewriteDeleteFromTable`) read ONLY the touched rows (the command's
  *    condition pushes into the scan — safe here, unlike the COW scan,
  *    because unread rows are by definition unchanged) and hand the writer
  *    per-row DELETE/INSERT instructions keyed by [[rowId]].
  *  - updates arrive PRE-SPLIT as delete(old id) + insert(new row)
  *    ([[representUpdateAsDeleteAndInsert]] = true), which is exactly the
  *    thin-version algebra: `_deletes` removes the old key, `_upserts`
  *    lands the new row — a SQL UPDATE that mutates the key itself is
  *    correct for free.
  *  - tasks write the two delta sets straight into a staging folder (one
  *    parquet `OutputWriter` per set per task — the delta is written ONCE,
  *    no driver round-trip), and the commit publishes the staged folder as
  *    a thin version through the same FENCED claim publish every thin
  *    writer uses ([[graft.operators.Sinks.publishThinStagedDelta]]):
  *    integrity gate on duplicate upsert keys, `_base` marker, abort on a
  *    concurrent writer, change-data-feed landing.
  *
  * `MERGE INTO snap.t` at 100 TB therefore costs one pruned scan of the
  * matched rows plus O(batch) bytes written — the CDC ingest cost model,
  * reachable from plain SQL. */
private[sources] class ThinDeltaOperation(
    spark: SparkSession,
    tableDir: String,
    boundVersion: Int,
    keyCols: Seq[String],
    cmd: Command,
    tableScan: CaseInsensitiveStringMap => ScanBuilder)
  extends RowLevelOperation with SupportsDelta {

  override def command(): Command = cmd
  override def description(): String =
    s"graft thin delta $cmd ($tableDir v=$boundVersion)"

  override def rowId(): Array[NamedReference] =
    keyCols.map(Expressions.column).toArray
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  /** The table's REAL scan builder: delta ops only need the touched rows,
    * so predicate pushdown and row-group pruning are safe and wanted. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    tableScan(options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def description(): String =
          s"graft thin delta $cmd write ($tableDir)"
        override def toBatch: DeltaBatchWrite =
          new ThinDeltaBatchWrite(spark, tableDir, boundVersion, keyCols, info)
      }
    }
}

private case object ThinDeltaCommit extends WriterCommitMessage

/** Driver side: stage `_deletes`/`_upserts` parquet, publish thin. */
private class ThinDeltaBatchWrite(spark: SparkSession, tableDir: String,
                                  boundVersion: Int, keyCols: Seq[String],
                                  info: LogicalWriteInfo) extends DeltaBatchWrite {

  private val staged = new Path(tableDir,
    s".dml_staging_${java.util.UUID.randomUUID().toString.take(8)}")
  // delta parts are data files of the table: they carry its field ids,
  // and the version records the record they are stamped under
  private val record = graft.operators.Sinks.recordOf(spark, tableDir)
  private val rowSchema: StructType =
    ColumnIds.withDeclaredIds(info.schema(), Some(record))
  private val idSchema: StructType = ColumnIds.withDeclaredIds(
    info.rowIdSchema().orElseThrow(() =>
      new IllegalStateException("delta write without a rowId schema")), Some(record))

  override def createBatchWriterFactory(p: PhysicalWriteInfo): DeltaWriterFactory = {
    def factory(schema: StructType): (OutputWriterFactory, SerializableHadoopConf) = {
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val owf = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
      // per-JOB micros override after prepareWrite stamped the session
      // default — delta files are data files too (Sinks.microsBound)
      job.getConfiguration.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      (owf, new SerializableHadoopConf(job.getConfiguration))
    }
    val (upF, upC) = factory(rowSchema)
    val (delF, delC) = factory(idSchema)
    new ThinDeltaWriterFactory(staged.toString, rowSchema, idSchema,
      upF, upC, delF, delC)
  }

  override def commit(msgs: Array[WriterCommitMessage]): Unit =
    graft.operators.Sinks.publishThinStagedDelta(
      spark, tableDir, keyCols, boundVersion, staged, record): Unit

  override def abort(msgs: Array[WriterCommitMessage]): Unit = {
    val f = staged.getFileSystem(spark.sessionState.newHadoopConf())
    if (f.exists(staged)) f.delete(staged, true): Unit
  }
}

/** Executor side: one lazily-created parquet writer per delta set per
  * task. Rows are serialized on arrival (parquet write consumes the row
  * immediately — no InternalRow reference retention). */
private class ThinDeltaWriterFactory(
    stagedDir: String,
    rowSchema: StructType,
    idSchema: StructType,
    upFactory: OutputWriterFactory, upConf: SerializableHadoopConf,
    delFactory: OutputWriterFactory, delConf: SerializableHadoopConf)
  extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private def ctx(conf: SerializableHadoopConf) =
        new TaskAttemptContextImpl(conf.value,
          new TaskAttemptID(new TaskID(new JobID("graft_delta", 0),
            TaskType.MAP, partitionId), 0))
      private var upWriter: OutputWriter = _
      private var delWriter: OutputWriter = _
      private def up(): OutputWriter = {
        if (upWriter == null) {
          val c = ctx(upConf)
          upWriter = upFactory.newInstance(
            s"$stagedDir/_upserts/part-$partitionId-$taskId-" +
              s"${java.util.UUID.randomUUID().toString.take(8)}" +
              upFactory.getFileExtension(c), rowSchema, c)
        }
        upWriter
      }
      private def del(): OutputWriter = {
        if (delWriter == null) {
          val c = ctx(delConf)
          delWriter = delFactory.newInstance(
            s"$stagedDir/_deletes/part-$partitionId-$taskId-" +
              s"${java.util.UUID.randomUUID().toString.take(8)}" +
              delFactory.getFileExtension(c), idSchema, c)
        }
        delWriter
      }

      override def delete(meta: InternalRow, id: InternalRow): Unit =
        del().write(id)
      override def update(meta: InternalRow, id: InternalRow,
                          row: InternalRow): Unit = {
        // unreachable with representUpdateAsDeleteAndInsert = true, but
        // the thin algebra handles it anyway: replace = delete + upsert
        del().write(id); up().write(row)
      }
      override def insert(row: InternalRow): Unit = up().write(row)

      override def commit(): WriterCommitMessage = {
        if (upWriter != null) upWriter.close()
        if (delWriter != null) delWriter.close()
        ThinDeltaCommit
      }

      /** A failed attempt must leave NOTHING in the shared staging dir: a
        * task retry writes its own attempt-unique files, and this
        * attempt's orphans would either trip the duplicate-upsert-key gate
        * (failing the statement for a transient task failure) or publish
        * duplicate delete keys silently. */
      override def abort(): Unit =
        Seq(upWriter -> upConf, delWriter -> delConf).foreach { case (w, c) =>
          if (w != null) {
            try w.close() catch { case scala.util.control.NonFatal(_) => () }
            try {
              val p = new org.apache.hadoop.fs.Path(w.path())
              p.getFileSystem(c.value).delete(p, false): Unit
            } catch { case scala.util.control.NonFatal(_) => () }
          }
        }
      override def close(): Unit = ()
    }
}
