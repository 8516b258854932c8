package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression bridge. Spark 4 scopes `ExpressionUtils`
  * `private[sql]`, so third-party native expressions reach it from a
  * sub-package of org.apache.spark.sql — the standard extension escape hatch
  * (no Spark internals are modified, only re-exported). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Catalyst predicate → data-source `Filter`, when expressible
    * (`DataSourceStrategy.translateFilter` is `private[sql]`-packaged).
    * None = untranslatable — callers treat that as "prunes nothing",
    * never as "matches nothing". */
  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** The live `SparkContext`, if there is one (`SparkContext.getActive` is
    * `private[spark]`); never creates one. */
  def activeContext: Option[org.apache.spark.SparkContext] =
    org.apache.spark.SparkContext.getActive

  /** Register a temp SQL function on a live session (the
    * `FunctionRegistry` is `private[sql]` too). */
  def registerTempFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                           builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Re-root a DataFrame's ANALYZED plan onto another session of the same
    * `SparkContext` (`Dataset.ofRows` is `private[sql]`). What it buys: a
    * write can run under an ISOLATED session's conf (e.g. a per-writer
    * parquet `outputTimestampType`) without mutating the caller's shared
    * session conf, which every concurrent query on that session would
    * observe. The analyzed plan is session-independent at this point
    * (relations are resolved; re-analysis under the target session is a
    * pass-through), so the rebind costs one analyzer run, no data moves. */
  def rebind(df: org.apache.spark.sql.DataFrame,
             session: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      classicDs(df).queryExecution.analyzed)

  /** Unwrap Spark's `RowLevelOperationTable` (the row-level rewrites'
    * read-side table wrapper, `private[sql]`) back to the wrapped table —
    * lets an external resolution rule recognize its own table behind the
    * wrapper. */
  def unwrapRowLevelTable(t: org.apache.spark.sql.connector.catalog.Table):
      Option[org.apache.spark.sql.connector.catalog.Table] = t match {
    case r: org.apache.spark.sql.connector.write.RowLevelOperationTable =>
      Some(r.table)
    case _ => None
  }

  // ---- Arrow exchange (Dataset.toArrowBatchRdd & friends are private[sql]) --

  private def classicDs(df: org.apache.spark.sql.DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]

  /** One serialized Arrow record batch per partition — computed on the
    * executors; nothing is row-materialized on the driver. */
  def toArrowBatchRdd(df: org.apache.spark.sql.DataFrame): org.apache.spark.rdd.RDD[Array[Byte]] =
    classicDs(df).toArrowBatchRdd

  /** Stream the whole DataFrame as Arrow IPC (schema header + batches) into
    * `out`. Partitions are pulled one at a time (`toLocalIterator`), so
    * driver memory holds a single partition's batch at peak — the same
    * shape Spark uses for its own Python/R collects. */
  def writeArrowStream(df: org.apache.spark.sql.DataFrame, out: java.io.OutputStream): Unit = {
    val ds = classicDs(df)
    val tz = ds.sparkSession.sessionState.conf.sessionLocalTimeZone
    val writer = new org.apache.spark.sql.execution.arrow.ArrowBatchStreamWriter(
      ds.schema, out, tz, true, false)
    writer.writeBatches(ds.toArrowBatchRdd.toLocalIterator)
    writer.end()
  }

  /** Rebuild a DataFrame from serialized Arrow record batches. */
  def fromArrowBatches(spark: org.apache.spark.sql.SparkSession, schemaJson: String,
                       batches: Iterator[Array[Byte]]): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.execution.arrow.ArrowConverters.toDataFrame(
      batches, schemaJson, spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
}
