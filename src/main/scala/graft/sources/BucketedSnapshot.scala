package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsReportPartitioning, HasPartitionKey}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The engine's bucket transform as a DSv2 catalog function — what lets
  * Spark PROVE two tables are co-partitioned: both sides' scans report
  * `KeyGroupedPartitioning(graft_bucket(n, key))`, the planner matches the
  * transforms by canonical name, and the join plans with ZERO exchange
  * (storage-partitioned join). The function itself is the write side's
  * exact math: `((key mod n) + n) mod n` (`pmod`). */
private[sources] object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, key): non-negative key mod n — the bucketed snapshot layout"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.length == 2 && inputType(0).dataType == IntegerType &&
        Seq(IntegerType, LongType).contains(inputType(1).dataType),
      s"bucket expects (INT n, INT|BIGINT key), got $inputType")
    val keyType = inputType(1).dataType
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket.pmod"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): Integer = {
        val n = input.getInt(0)
        val key = keyType match {
          case LongType => input.getLong(1)
          case _ => input.getInt(1).toLong
        }
        (((key % n) + n) % n).toInt
      }
    }
  }
}

/** A BUCKETED snapshot version served for storage-partitioned joins: rows
  * live in `__bucket=i` subfolders ([[graft.operators.Sinks.writeSnapshotBucketed]]),
  * the scan plans ONE key-tagged group of file splits per bucket
  * ([[HasPartitionKey]]), and reports
  * `KeyGroupedPartitioning(graft_bucket(n, key))` — with
  * `spark.sql.sources.v2.bucketing.enabled=true`, a join of two tables
  * bucketed the same way runs WITHOUT shuffling either side (the 100 TB
  * co-located merge). File reading itself is Spark's own vectorized
  * parquet reader: the inner per-bucket `ParquetScan`s supply the splits
  * and the shared reader factory, this class only re-groups them by
  * bucket and tags the key. Read-only by design — bucketed versions are
  * immutable layout artifacts; republish to change them. */
private[graft] class BucketedSnapshotTable(
    tableName: String,
    spark: SparkSession,
    tableDir: String,
    version: Int,
    keyCol: String,
    buckets: Int)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsDelete {

  private def vDir = s"$tableDir/v=$version"

  /** The bucketed × MOR contract, stated where a SQL user hits it: DML on
    * a bucketed head is REFUSED with guidance rather than silently
    * degrading the layout. A thin hop chained on a bucketed base is
    * CORRECT (the resolver reads through it) but the chain head is a
    * resolved multi-scan plan, not a single key-grouped scan — the
    * zero-exchange join property would vanish without a word. Takedowns
    * and upserts go through the programmatic thin publishes (which log
    * the degradation), and `Sinks.rebucketSnapshot` re-materializes the
    * chain into a fresh bucketed version to restore the layout. */
  private def refuseDml(): Nothing =
    throw new UnsupportedOperationException(
      s"$tableName is a BUCKETED snapshot version (zero-exchange layout " +
        s"artifact, bucket($buckets, $keyCol)) — SQL DML would silently " +
        "chain a merge-on-read hop and drop the reported bucket layout. " +
        "Apply deltas with Sinks.deleteSnapshotKeys/upsertSnapshotRows " +
        "(thin hops; joins shuffle until re-bucketed), then restore the " +
        "layout with Sinks.rebucketSnapshot — or republish bucketed " +
        "(Sinks.writeSnapshotBucketed)")

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo):
      org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    refuseDml()

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = true
  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = refuseDml()

  private def bucketDirs(): Seq[(Int, String)] = {
    val root = new org.apache.hadoop.fs.Path(vDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("__bucket="))
      .map { st =>
        val frag = st.getPath.getName.stripPrefix("__bucket=")
        frag.toIntOption.getOrElse(throw new IllegalStateException(
          s"$tableName: non-numeric bucket directory '$frag' under $vDir — " +
            "the bucketed layout is corrupt (was the version written by " +
            "Sinks.writeSnapshotBucketed?)")) -> st.getPath.toString
      }
      .sortBy(_._1)
  }

  // one footer on the driver, not a throwaway relation + inference job
  // (FooterSchema scaladoc) — bucket dirs are engine-written and uniform
  private lazy val dataSchema: StructType =
    FooterSchema.of(spark, bucketDirs().map(_._2)).getOrElse(
      throw new IllegalStateException(
        s"no parquet data file in any bucket dir of $tableName"))

  override def name(): String = tableName
  override def schema(): StructType = dataSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def partitioning():
      Array[org.apache.spark.sql.connector.expressions.Transform] =
    Array(Expressions.bucket(buckets, keyCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new BucketedScan(spark, tableName, vDir, bucketDirs(), dataSchema,
          keyCol, buckets)
    }
}

private case class BucketInputPartition(bucket: Int, inner: InputPartition)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

private class BucketedScan(spark: SparkSession, label: String, vDir: String,
                           dirs: Seq[(Int, String)], dataSchema: StructType,
                           keyCol: String, buckets: Int)
  extends Scan with Batch with SupportsReportPartitioning {

  private def innerScan(paths: Seq[String]): Scan = {
    // field-id reads ride along: bucketed workspace tables and snapshot
    // versions carry ids (metadata-only RENAME/DROP)
    val opts = ColumnIds.withReadOption(CaseInsensitiveStringMap.empty())
    ParquetTable(s"${label}__bucket", spark, opts,
      paths, Some(dataSchema), classOf[ParquetFileFormat])
      .newScanBuilder(opts).build()
  }

  override def readSchema(): StructType = dataSchema
  override def description(): String =
    s"$label bucketed scan (graft_bucket($buckets, $keyCol))"
  override def toBatch: Batch = this

  private lazy val partitions: Array[InputPartition] =
    dirs.flatMap { case (bucket, dir) =>
      innerScan(Seq(dir)).toBatch.planInputPartitions()
        .map(p => BucketInputPartition(bucket, p): InputPartition)
    }.toArray

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory = {
    // one shared factory (schema/conf identical across buckets), unwrapping
    // the bucket tag before delegating to Spark's vectorized parquet reader
    val inner = innerScan(dirs.map(_._2)).toBatch.createReaderFactory()
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        inner.createReader(p.asInstanceOf[BucketInputPartition].inner)
      override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
        inner.createColumnarReader(p.asInstanceOf[BucketInputPartition].inner)
      override def supportColumnarReads(p: InputPartition): Boolean =
        inner.supportColumnarReads(p.asInstanceOf[BucketInputPartition].inner)
    }
  }

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.bucket(buckets, keyCol)), partitions.length)
}
