package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table access layer.
  *
  * The reference resolves (workspace, table-name) pairs against an ambient
  * "current workspace" (`/root/reference/smartpy_arc/arc_utils.py:93-118`,
  * `arc_pandas.py:17-21`). Here a workspace is simply a directory of parquet
  * files; a table is `dir/name.parquet`. All driver fixtures
  * (`/root/repo/TESTDATA.md`) follow this layout.
  *
  * At cluster scale this is the thinnest possible veneer over Spark's
  * parquet reader. Spark 4.1's default `spark.sql.sources.useV1SourceList`
  * names parquet, so a load plans a V1 `LogicalRelation` over a
  * `HadoopFsRelation` (the node [[SplitAwareRepartition]] matches);
  * predicate pushdown, column pruning and partition pruning all apply
  * unchanged.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Scan one table: a parquet batch read planned from the table's footer
    * ([[graft.sources.FooterSchema.read]]) — no schema-inference job, no
    * eager materialization; Catalyst handles pruning/pushdown from whatever
    * the caller stacks on.
    *
    * The `events.ts` column is normalized to session-timezone TIMESTAMP
    * whatever the fixture generation wrote — see [[normalizeEventTs]]. */
  // Analyzed-plan cache: a repeated load of the same table would again
  // stat and list the path, open its footer and resolve a new relation
  // (a few ms each, no Spark job). DataFrames are immutable lazy plans, so
  // caching per (session, dir, name) is safe and hands every caller the
  // same plan; this mirrors what a catalog-backed table (WorkspaceCatalog /
  // metastore) gives for free.
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.getOrElseUpdate((spark, dir, name), {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = graft.sources.FooterSchema.read(spark, path(dir, name))
      if (name == "events") normalizeEventTs(df) else df
    })

  /** Normalize the events `ts` column to session-timezone TIMESTAMP across
    * the fixture encodings the driver has generated over the rounds:
    *
    *  - TIMESTAMP(NANOS) parquet, which Spark's reader only accepts as raw
    *    int64 (`spark.sql.legacy.parquet.nanosAsLong`): integer ns→µs
    *    truncation (`ts div 1000`) — exactly DuckDB's `CAST(ts_ns AS
    *    TIMESTAMP)`. Integer `div`, not `/`: epoch-ns exceeds 2^53 and
    *    would lose precision as a double.
    *  - TIMESTAMP(MICROS) parquet (read as TIMESTAMP_NTZ): cast to
    *    TIMESTAMP — an exact wall-clock identity under the UTC session
    *    timezone, matching DuckDB's tz-less TIMESTAMP semantics.
    *
    * Works on batch AND streaming DataFrames (schema-dispatched, no action
    * triggered), so the file-stream readers share it. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  /** Register every fixture table as a temp view so SQL surface tests can
    * reference them by name (the reference's "workspace" catalog,
    * `arc_utils.py:33-39`). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    All.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
