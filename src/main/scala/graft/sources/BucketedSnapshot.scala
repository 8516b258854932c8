package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportPartitioning, HasPartitionKey}
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

private case class BucketInputPartition(bucket: Int, inner: InputPartition)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** A BUCKETED scan for storage-partitioned joins: one key-tagged group of
  * file splits per bucket directory ([[HasPartitionKey]]), reporting
  * `KeyGroupedPartitioning(graft_bucket(n, key))` — with
  * `spark.sql.sources.v2.bucketing.enabled=true`, a join of two tables
  * bucketed the same way runs WITHOUT shuffling either side (the 100 TB
  * co-located merge). File reading itself is Spark's own vectorized
  * parquet reader: the inner per-bucket `ParquetScan`s supply the splits
  * and the shared reader factory, this class only re-groups them by
  * bucket and tags the key. Serves the bucketed flat snapshot versions
  * ([[FlatSnapshotTable]]), the bucket-partitioned snapshots and the
  * bucketed workspace tables.
  *
  * `read` is the flat snapshot store's request (`ColumnIds.readSchema`:
  * `dataSchema`'s columns under the files' own names, output column for
  * column); without it the files are read under `dataSchema` by Spark's
  * field-id reader, as the partitioned and workspace surfaces do. */
private class BucketedScan(spark: SparkSession, label: String,
                           dirs: Seq[(Int, String)], dataSchema: StructType,
                           keyCol: String, buckets: Int,
                           read: Option[StructType] = None)
  extends Scan with Batch with SupportsReportPartitioning {

  private def innerScan(paths: Seq[String]): Scan = {
    val opts =
      if (read.isDefined) CaseInsensitiveStringMap.empty()
      else ColumnIds.withReadOption(CaseInsensitiveStringMap.empty())
    ParquetTable(s"${label}__bucket", spark, opts,
      paths, Some(read.getOrElse(dataSchema)), classOf[ParquetFileFormat])
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
