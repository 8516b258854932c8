package graft.sources

import java.util.OptionalLong
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.Filter
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

/** A split of group `group` of a [[GroupedScan]], keyed by its bucket. */
private case class GroupedInputPartition(group: Int, bucket: Int, inner: InputPartition)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Reads each split with its group's reader. */
private case class GroupedReaderFactory(groups: Seq[PartitionReaderFactory])
  extends PartitionReaderFactory {
  private def on[T](p: InputPartition)(f: (PartitionReaderFactory, InputPartition) => T): T = {
    val g = p.asInstanceOf[GroupedInputPartition]
    f(groups(g.group), g.inner)
  }
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    on(p)(_.createReader(_))
  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    on(p)(_.createColumnarReader(_))
  override def supportColumnarReads(p: InputPartition): Boolean =
    on(p)(_.supportColumnarReads(_))
}

/** One scan over groups of Spark's own parquet scans, each group reading
  * files of one own schema and sharing one reader: splits concatenate,
  * rows come out as `schema`, column for column. With `bucketing` it is a
  * BUCKETED scan for storage-partitioned joins: each inner scan is one
  * bucket directory whose splits carry the bucket as their key, and the
  * scan reports `KeyGroupedPartitioning(graft_bucket(n, key))` — with
  * `spark.sql.sources.v2.bucketing.enabled=true` two tables bucketed
  * alike join WITHOUT shuffling either side, also where a bucket spans
  * several groups. It then reports no size, as before, so a co-located
  * join is never swapped for a broadcast; else its groups' summed size. */
private class GroupedScan(label: String, schema: StructType,
                          groups: Seq[Seq[(Int, Scan)]],
                          bucketing: Option[(String, Int)])
  extends Scan with Batch with SupportsReportPartitioning
  with SupportsReportStatistics {

  private val scans = groups.filter(_.nonEmpty)

  override def readSchema(): StructType = schema
  override def description(): String = bucketing.fold(
    scans.flatten.map(_._2.description()).mkString(" + ")) { case (keyCol, n) =>
    s"$label bucketed scan (graft_bucket($n, $keyCol))" }
  override def toBatch: Batch = this

  private lazy val partitions: Array[InputPartition] =
    scans.zipWithIndex.flatMap { case (g, i) =>
      g.flatMap { case (bucket, s) =>
        s.toBatch.planInputPartitions().map(GroupedInputPartition(i, bucket, _))
      }
    }.toArray

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    GroupedReaderFactory(scans.map(_.head._2.toBatch.createReaderFactory()))

  override def outputPartitioning(): Partitioning = bucketing.fold[Partitioning](
    new UnknownPartitioning(partitions.length)) { case (keyCol, n) =>
    new KeyGroupedPartitioning(Array(Expressions.bucket(n, keyCol)), partitions.length) }

  override def estimateStatistics(): Statistics = new Statistics {
    private val sizes = if (bucketing.isDefined) Nil else scans.flatten.collect {
      case (_, s: SupportsReportStatistics) => s.estimateStatistics().sizeInBytes() }
    override def sizeInBytes(): OptionalLong =
      if (sizes.isEmpty || !sizes.forall(_.isPresent)) OptionalLong.empty()
      else OptionalLong.of(sizes.map(_.getAsLong).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }
}

private object GroupedScan {

  /** The bucketed scan of `(read schema, (bucket, dir) list)` groups: one
    * parquet scan per bucket dir, reading its group's schema. */
  def bucketed(spark: SparkSession, label: String, schema: StructType,
               groups: Seq[(StructType, Seq[(Int, String)])], keyCol: String,
               n: Int, options: CaseInsensitiveStringMap): Scan =
    new GroupedScan(label, schema, groups.map { case (read, dirs) =>
      dirs.map { case (b, d) => b -> ParquetTable(s"${label}__bucket", spark,
        options, Seq(d), Some(read), classOf[ParquetFileFormat])
        .newScanBuilder(options).build() }
    }, Some(keyCol -> n))
}

/** The bucket-partitioned tables' scan builder: filters prune whole bucket
  * dirs by the level's hash and all stay residual; `groups` splits the
  * kept `(bucket, dir)` list by the schema its files are read under. */
private class BucketScanBuilder(spark: SparkSession, label: String,
                                dirs: Seq[(Int, String)], level: BucketLevel,
                                declared: StructType, options: CaseInsensitiveStringMap)(
    groups: (Seq[(Int, String)], StructType) => Seq[(StructType, Seq[(Int, String)])])
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns {
  private var kept = dirs
  private var required = declared
  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    kept = kept.filter { case (b, _) => fs.forall(level.mayMatch(_, b.toString)) }
    fs
  }
  override def pushedFilters(): Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fields.map(f =>
      declared.fields.find(_.name.equalsIgnoreCase(f.name)).getOrElse(f)))
  override def build(): Scan = GroupedScan.bucketed(spark, label, required,
    groups(kept, required), level.col, level.n, options)
}
