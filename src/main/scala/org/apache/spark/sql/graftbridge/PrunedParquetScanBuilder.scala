package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.metric.CustomMetric
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.{FileScan, FileScanBuilder}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.{SupportsMetadata, SupportsPushDownCatalystFilters}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Path-pruning scan builder: the pushed predicates first prune the scan's
  * PATH LIST on the driver through the caller-supplied `prune` function
  * (file-manifest stats skipping, hidden-partition day-range pruning),
  * then a genuine `ParquetScanBuilder` is constructed over only the
  * surviving paths and the SAME catalyst filters replay into it — so
  * row-group pushdown, column pruning, vectorization and the
  * `PushedFilters` plan surface are all Spark's own, and every predicate
  * re-applies post-scan exactly as with an unpruned parquet scan. The
  * `prune` contract: drop a path ONLY when the pushed conjunction is
  * provably false for every row under it (skipping is an optimization,
  * never the correctness path).
  *
  * `read` is what the parquet reader is asked for: `declared`'s columns
  * in order, each under the name of the file column that serves it (the
  * snapshot stores' field-id resolution, `ColumnIds.readSchema`).
  * Pushed filters, the paths' `prune` and column pruning are renamed onto
  * it, and the built scan reports the result under the declared names
  * ([[RenamedScan]]). Without `read` nothing is renamed.
  *
  * Lives in this bridge package because the catalyst-filter pushdown
  * surface of file sources (`SupportsPushDownCatalystFilters`,
  * `FileScanBuilder.pushFilters`) is `private[sql]` — the same
  * re-exporting escape hatch [[Bridge]] documents; no Spark internals are
  * modified.
  *
  * Ordering contract (matches `V2ScanRelationPushDown`): `pushFilters`
  * runs before `pruneColumns` before `build()`. The inner builder is
  * created on FIRST use so a filter-less scan (no `pushFilters` call, or
  * an empty one) still serves every path. A zero-survivor prune still
  * builds a real scan: the declared schema makes an empty path list
  * plannable (no footer inference) and the scan plans zero partitions. */
class PrunedParquetScanBuilder(
    tableName: String,
    spark: SparkSession,
    declared: StructType,
    options: CaseInsensitiveStringMap,
    prune: Seq[org.apache.spark.sql.sources.Filter] => Seq[String],
    read: Option[StructType] = None)
  extends ScanBuilder with SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns {

  private val requested = read.getOrElse(declared)
  private val readField: Map[String, StructField] =
    declared.fieldNames.map(_.toLowerCase).zip(requested.fields).toMap
  private val declaredField: Map[String, StructField] =
    requested.fieldNames.map(_.toLowerCase).zip(declared.fields).toMap

  private def onRead(e: Expression): Expression =
    e.transform { case a: AttributeReference =>
      readField.get(a.name.toLowerCase).fold(a)(f => a.withName(f.name))
    }

  private var inner: FileScanBuilder = _

  private def ensureInner(filters: Seq[Expression]): FileScanBuilder = {
    if (inner == null) {
      val v1 = filters.flatMap(e =>
        DataSourceStrategy.translateFilter(onRead(e), supportNestedPredicatePushdown = true))
      inner = ParquetTable(tableName, spark, options, prune(v1), Some(requested),
        classOf[ParquetFileFormat]).newScanBuilder(options)
    }
    inner
  }

  /** Every filter stays post-scan, as with Spark's own file scans: the
    * parquet pushdown is row-group grain, never exact. */
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    ensureInner(filters).pushFilters(filters.map(onRead))
    filters
  }

  override def pushedFilters: Array[Predicate] =
    ensureInner(Nil).pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit =
    ensureInner(Nil).pruneColumns(StructType(requiredSchema.fields.map(f =>
      readField.get(f.name.toLowerCase).fold(f)(_.copy(dataType = f.dataType)))))

  override def build(): Scan = {
    val scan = ensureInner(Nil).build()
    val served = StructType(scan.readSchema().fields.map(f =>
      declaredField.get(f.name.toLowerCase).fold(f)(_.copy(dataType = f.dataType))))
    if (served == scan.readSchema()) scan
    else RenamedScan(scan.asInstanceOf[FileScan], served)
  }
}

/** Several [[PrunedParquetScanBuilder]]s served as one scan: filters and
  * column pruning reach every part, and `combine` joins their scans. */
class PrunedParquetScanBuilders(parts: Seq[PrunedParquetScanBuilder],
                                combine: Seq[Scan] => Scan)
  extends ScanBuilder with SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns {
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    parts.map(_.pushFilters(filters)).head
  override def pushedFilters: Array[Predicate] = parts.head.pushedFilters
  override def pruneColumns(requiredSchema: StructType): Unit =
    parts.foreach(_.pruneColumns(requiredSchema))
  override def build(): Scan = combine(parts.map(_.build()))
}

/** A file scan reporting its columns under other names, column for
  * column: splits, reading, statistics, metrics and the plan text are
  * `inner`'s. */
case class RenamedScan(inner: FileScan, override val readSchema: StructType)
  extends Scan with SupportsReportStatistics with SupportsMetadata {
  override def description(): String = inner.description()
  override def toBatch: Batch = inner.toBatch
  override def estimateStatistics(): Statistics = inner.estimateStatistics()
  override def getMetaData(): Map[String, String] = inner.getMetaData()
  override def supportedCustomMetrics(): Array[CustomMetric] = inner.supportedCustomMetrics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode = inner.columnarSupportMode()
}
