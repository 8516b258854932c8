package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, MergeIntoTable, Project, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.operators.Sinks

/** One version of a FLAT snapshot table served through the SQL catalog:
  * the head (`pinned = false`, the committed pointer at load time, served
  * under the table's current record) or a `VERSION/TIMESTAMP AS OF` read
  * (`pinned = true`, served under the record its version carries — history
  * is immutable, including its names and types — and read-only). What
  * the version holds decides the scan and the DML contract:
  *
  *  - THIN (a `_base.json` marker): the table is a MARKER that
  *    [[ResolveThinSnapshots]] (injected by `graft.GraftExtensions`)
  *    expands during ANALYSIS into the chain resolver's logical plan —
  *    base parquet scan, one LEFT ANTI join per thin hop, upsert unions
  *    ([[graft.operators.Sinks.readSnapshot]]). Expanding at analysis time
  *    (not a custom Scan) keeps the 100 TB plan shape: predicates push
  *    THROUGH the anti joins into the base file scan, key lists
  *    broadcast, and whole-stage codegen spans the joins. A session
  *    without the extensions cannot serve it (guided error at load).
  *  - BUCKETED (a `_buckets` marker): one key-grouped partition per
  *    bucket, reporting `KeyGroupedPartitioning(bucket(n, key))` for
  *    storage-partitioned joins ([[GroupedScan]]); read-only.
  *  - MANIFEST-BEARING (`_manifest/v=N`): the pushed predicates prune the
  *    version's FILE LIST through [[ManifestPrune.keptFiles]] before
  *    Spark's own parquet scan plans the survivors.
  *  - otherwise one parquet scan of the version folder.
  *
  * A materialized version folder is one write, so all its files share one
  * own schema. Its scans resolve columns by field id inside the scan: each
  * served column is requested under the own name of the file column with
  * its id, with its served type, or under an absent placeholder that the
  * reader fills with NULL ([[ColumnIds.readSchema]]); pushed filters and
  * manifest stat lookups are renamed the same way. No reader setting is
  * involved, so the serving holds in any session.
  *
  * DML on the head publishes a NEW version, never touching the one read
  * (the pre-DML version stays pinned-readable, a crash leaves an invisible
  * orphan, concurrent writers serialize on version claims). Row identity
  * is the declared `_keycols`, else a thin head's `_base` keys. With keys,
  * DELETE publishes an O(keys) thin hop and UPDATE/MERGE an O(delta) one
  * ([[ThinDeltaOperation]]); without keys a materialized head runs
  * copy-on-write ([[CowOperation]], fenced on the bound version) and a
  * keyless thin chain refuses row-level DML. `INSERT INTO` chains a
  * keyless thin APPEND, `INSERT OVERWRITE` publishes a materialized
  * version.
  *
  * A plain `Table` by COMPOSITION, deliberately (r13 bugfix): Spark's
  * `FallBackFileSourceV2` rewrites INSERT on any `FileTable` into a V1
  * insert that writes INTO the version folder, silently mutating pinned
  * history. */
private[graft] class FlatSnapshotTable(
    tableName: String,
    spark: SparkSession,
    tableDir: String,
    version: Int,
    pinned: Boolean)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with SupportsRowLevelOperations {

  private val vDir = s"$tableDir/v=$version"

  /** The (base, key tokens) marker of a thin version. */
  private val thin = Sinks.thinBase(spark, tableDir, version)
  if (thin.isDefined && !ResolveThinSnapshots.activeIn(spark))
    throw new UnsupportedOperationException(
      s"$tableDir v=$version is a merge-on-read chain; this session lacks " +
        "the MOR-aware resolution rule — set spark.sql.extensions=" +
        "graft.GraftExtensions to serve it, or materialize it first " +
        "(Sinks.compactSnapshot; Sinks.readSnapshot resolves it directly)")
  private[sources] def isThin: Boolean = thin.isDefined

  private lazy val bucketed = Sinks.bucketedLayout(spark, tableDir, version)

  /** The record this read serves, tombstones included. */
  private lazy val record: StructType =
    if (pinned) Sinks.versionSchema(spark, tableDir, version)
    else Sinks.headSchema(spark, tableDir, version)

  /** Row-identity columns: the declared keys, else a thin head's own
    * `_base` marker keys; empty for a keyless table. */
  private lazy val keyCols: Seq[String] =
    Sinks.snapshotDeclaredKeys(spark, tableDir)
      .orElse(thin.map(_._2).filter(_.nonEmpty).map(ColumnIds.keyNames(record, _)))
      .getOrElse(Nil)

  /** The live columns; on the head the key columns are NON-NULLABLE —
    * rows exist by their identity, and Spark's delta rewrite refuses
    * nullable row IDs. */
  override lazy val schema: StructType = {
    val served = ColumnIds.live(record)
    if (pinned) served
    else StructType(served.map(f =>
      if (keyCols.exists(_.equalsIgnoreCase(f.name))) f.copy(nullable = false)
      else f))
  }

  override def name(): String = tableName
  override def capabilities(): util.Set[TableCapability] =
    if (pinned || bucketed.isDefined) Set(TableCapability.BATCH_READ).asJava
    else Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.TRUNCATE).asJava
  override def partitioning(): Array[Transform] =
    bucketed.map { case (keyCol, n) => Expressions.bucket(n, keyCol): Transform }
      .toArray

  /** The resolved chain of a thin version as an ANALYZED logical plan —
    * what [[ResolveThinSnapshots]] splices in place of this table's
    * relation. Recomputed per call: a plan is single-use (its expression
    * IDs must be fresh per splice). */
  private[sources] def resolvedPlan(): LogicalPlan = rows().queryExecution.analyzed

  /** The version's rows under [[record]], resolved by the chain resolver. */
  private def rows(): DataFrame =
    if (pinned) Sinks.readSnapshot(spark, tableDir, Some(version))
    else Sinks.readSnapshotServed(spark, tableDir, version)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (thin.isDefined) markerScan
    else bucketed match {
      case Some((keyCol, n)) =>
        val dirs = bucketDirs()
        val own = FooterSchema.of(spark, dirs.map(_._2)).getOrElse(
          throw new IllegalStateException(
            s"no parquet data file in any bucket dir of $tableName"))
        () => GroupedScan.bucketed(spark, tableName, schema,
          Seq(ColumnIds.readSchema(own, schema) -> dirs), keyCol, n, options)
      case None =>
        val prune: Seq[sources.Filter] => Seq[String] =
          if (ManifestPrune.exists(spark, tableDir, version))
            ManifestPrune.prunedPaths(spark, tableDir, version, _)
          else _ => Seq(vDir)
        new org.apache.spark.sql.graftbridge.PrunedParquetScanBuilder(
          tableName, spark, schema, options, prune,
          read = Some(ColumnIds.readSchema(
            Sinks.ownSchema(spark, tableDir, version, ""), schema)))
    }

  /** A thin version's scan must be HARMLESS to PLAN: the optimizer's
    * pushdown pass builds a scan for every V2 relation eagerly —
    * including the target of a `DELETE FROM`, whose scan never executes
    * (the metadata-only delete calls [[deleteWhere]] instead). Only
    * EXECUTING it means a genuine read reached the marker un-expanded. */
  private def markerScan: ScanBuilder = () => new Scan {
    override def readSchema(): StructType = schema
    override def description(): String =
      s"$tableName (merge-on-read marker; expanded by ResolveThinSnapshots)"
    override def toBatch: org.apache.spark.sql.connector.read.Batch =
      throw new UnsupportedOperationException(
        s"$tableName is a merge-on-read chain: serving it through SQL " +
          "needs the graft extensions (spark.sql.extensions=" +
          "graft.GraftExtensions, which injects ResolveThinSnapshots) — " +
          "or materialize it first with Sinks.compactSnapshot")
  }

  /** The `__bucket=i` directories of a bucketed version, by bucket. */
  private def bucketDirs(): Seq[(Int, String)] = {
    val root = new Path(vDir)
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

  /** Why this handle takes no DML, if it takes none. A bucketed version
    * refuses rather than silently degrading the layout: a thin hop
    * chained on a bucketed base is CORRECT (the resolver reads through
    * it) but the chain head is a resolved multi-scan plan, not a single
    * key-grouped scan — the zero-exchange join property would vanish
    * without a word. */
  private def refusal: Option[String] =
    if (pinned)
      Some(s"$tableName is a pinned VERSION/TIMESTAMP AS OF read — history " +
        "is immutable; DML targets the table head")
    else bucketed.map { case (keyCol, n) =>
      s"$tableName is a BUCKETED snapshot version (zero-exchange layout " +
        s"artifact, bucket($n, $keyCol)) — SQL DML would silently " +
        "chain a merge-on-read hop and drop the reported bucket layout. " +
        "Apply deltas with Sinks.deleteSnapshotKeys/upsertSnapshotRows " +
        "(thin hops; joins shuffle until re-bucketed), then restore the " +
        "layout with Sinks.rebucketSnapshot — or republish bucketed " +
        "(Sinks.writeSnapshotBucketed)"
    }

  private def refuse(): Unit =
    refusal.foreach(m => throw new UnsupportedOperationException(m))

  /** SQL INSERT publishes a VERSION: `INSERT INTO` = a keyless thin
    * APPEND (O(batch) bytes, fenced on this handle's version);
    * `INSERT OVERWRITE` = a new MATERIALIZED version holding exactly the
    * query result. Only the head advertises write capabilities. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsOverwrite {
      private var overwriteAll = false
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def overwrite(filters: Array[sources.Filter]): WriteBuilder = {
        require(filters.forall(_.isInstanceOf[sources.AlwaysTrue]),
          "snapshot tables support full INSERT OVERWRITE only (a new " +
            "materialized version); use DML for partial rewrites")
        overwriteAll = true; this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: sources.InsertableRelation =
          (data: DataFrame, overwrite: Boolean) =>
            if (overwrite || overwriteAll) Sinks.writeSnapshot(data, tableDir): Unit
            else Sinks.appendSnapshotRows(spark, tableDir, data,
              expectedBase = Some(version)): Unit
      }
    }

  /** A translatable DELETE on a keyed table is an O(keys) thin hop, on a
    * keyless materialized head a copy-on-write version; a keyless thin
    * chain takes the row-level path, which refuses it. Refused handles
    * answer true so the guided error comes from [[deleteWhere]]. */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    refusal.isDefined || (keyCols.nonEmpty || thin.isEmpty) &&
      filters.forall(WorkspaceDml.toColumn(_).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    refuse()
    val cond = coalesce(filters.flatMap(WorkspaceDml.toColumn)
      .reduceOption(_ && _).getOrElse(lit(true)), lit(false))
    // one filtered read of the version under the served schema: a
    // predicate on an ALTER-added column resolves (NULL in older files),
    // and filters push into the base scan
    if (keyCols.nonEmpty)
      Sinks.deleteSnapshotKeys(spark, tableDir,
        rows().filter(cond).select(keyCols.map(col): _*), keyCols,
        expectedBase = Some(version)): Unit
    else {
      // stage the new version's full contents, then the fenced publish
      val staged = stagingPath()
      try {
        Sinks.microsBound(rows().filter(!cond)).write.parquet(staged.toString)
        publishIfUnconflicted(staged)
      } catch { case t: Throwable => discard(staged); throw t }
    }
  }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    refuse()
    if (keyCols.isEmpty && thin.isDefined)
      throw new UnsupportedOperationException(
        s"$tableName: a keyless append chain has no row identity — declare " +
          "keys (Sinks.declareSnapshotKeys) or compact before row-level DML")
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        if (keyCols.nonEmpty)
          new ThinDeltaOperation(spark, tableDir, version, keyCols,
            info.command(), newScanBuilder)
        else
          new CowOperation(newScanBuilder,
            SnapshotRecord.at(spark, tableDir, version), info.command(),
            s"${tableName}__vdml", () => stagingPath(), publishIfUnconflicted,
            discard)
    }
  }

  private def stagingPath(): Path =
    new Path(tableDir,
      s".dml_staging_${java.util.UUID.randomUUID().toString.take(8)}")

  private def discard(p: Path): Unit = {
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (f.exists(p)) f.delete(p, true): Unit
  }

  /** OPTIMISTIC CONFLICT DETECTION: a copy-on-write version derives from
    * this handle's version — publishing it after another writer committed
    * would silently DISCARD that writer's changes. The pointer pre-check
    * catches a conflict that already committed; the FENCED publish
    * ([[graft.operators.Sinks.publishStagedSnapshotFenced]]) closes the
    * rest (it lands only if its claim is `version + 1`). A conflicted
    * statement aborts with its staging discarded. */
  private def publishIfUnconflicted(staged: Path): Unit = {
    val cur = Sinks.snapshotCommitted(spark, tableDir)
    if (!cur.contains(version)) {
      discard(staged)
      throw new java.util.ConcurrentModificationException(
        s"$tableName: table moved from v=$version to v=${cur.getOrElse(0)} " +
          "during DML — re-read and retry the statement")
    }
    SnapshotRecord.at(spark, tableDir, version)
      .foreach(SnapshotRecord.stage(spark, staged.toString, _))
    Sinks.publishStagedSnapshotFenced(spark, tableDir, staged, version): Unit
  }
}

/** Analysis rule (injected via `graft.GraftExtensions`): expand every
  * READ of a thin [[FlatSnapshotTable]] relation into the chain resolver's
  * logical plan, aliased back onto the relation's output attribute IDs so
  * every reference above stays bound. DML targets are deliberately left
  * intact — `DELETE FROM` needs the relation to survive to the
  * `SupportsDelete` path (the thin O(keys) delete), and UPDATE/MERGE on a
  * thin head must fail Spark's capability check, not silently rewrite a
  * projection. */
case class ResolveThinSnapshots(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!containsThin(plan)) plan else rewrite(plan)

  /** The thin marker behind a relation's table, if any: bare, or wrapped
    * in Spark's `RowLevelOperationTable` (the row-level rewrites' READ
    * side — expanding it is what makes UPDATE/MERGE on a thin head read
    * the resolved chain; the WRITE side keeps the wrapped table, which is
    * a non-child field of the write command and is never expanded). */
  private def thinOf(r: DataSourceV2Relation): Option[FlatSnapshotTable] =
    (r.table match {
      case t: FlatSnapshotTable => Some(t)
      case w => org.apache.spark.sql.graftbridge.Bridge.unwrapRowLevelTable(w)
        .collect { case t: FlatSnapshotTable => t }
    }).filter(_.isThin)

  private def containsThin(p: LogicalPlan): Boolean =
    p.exists {
      case r: DataSourceV2Relation => thinOf(r).isDefined
      case other => other.subqueries.exists(containsThin)
    }

  private def rewrite(p: LogicalPlan): LogicalPlan = p match {
    // un-rewritten DML commands keep their target relation (DELETE needs
    // SupportsDelete on it; UPDATE/MERGE are rewritten by Spark into
    // WriteDelta/ReplaceData in the same fixpoint, whose QUERY side this
    // rule then expands); only their sources/conditions rewrite here
    case d: DeleteFromTable => d
    case u: UpdateTable => u
    case m: MergeIntoTable =>
      val src = rewrite(m.sourceTable)
      if (src eq m.sourceTable) m else m.copy(sourceTable = src)
    case r: DataSourceV2Relation if thinOf(r).isDefined =>
      val resolved = thinOf(r).get.resolvedPlan()
      // positional alias onto the relation's attribute IDs (the resolver
      // preserves base column order; the marker schema IS the resolved
      // schema, so names/types line up by construction)
      Project(r.output.zip(resolved.output).map { case (out, in) =>
        Alias(in, out.name)(exprId = out.exprId, qualifier = out.qualifier)
      }, resolved)
    case other =>
      val kids = other.children.map(rewrite)
      val withKids =
        if (kids.zip(other.children).forall { case (a, b) => a eq b }) other
        else other.withNewChildren(kids)
      withKids.transformExpressions {
        case se: SubqueryExpression if containsThin(se.plan) =>
          se.withNewPlan(rewrite(se.plan))
      }
  }
}

object ResolveThinSnapshots {

  /** Is the rule active in `spark`? It rides
    * `spark.sql.extensions=graft.GraftExtensions`; a session without it
    * cannot serve a thin version. */
  def activeIn(spark: SparkSession): Boolean =
    spark.sessionState.analyzer.extendedResolutionRules
      .exists(_.isInstanceOf[ResolveThinSnapshots])
}
