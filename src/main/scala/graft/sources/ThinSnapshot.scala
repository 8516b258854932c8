package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, MergeIntoTable, Project, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A THIN merge-on-read snapshot version served through the SQL catalog —
  * the Iceberg MOR-reader contract the r12 catalog deferred behind a
  * guided error. The table itself is a lightweight MARKER: it carries the
  * (tableDir, version) handle and the resolved schema, and
  * [[ResolveThinSnapshots]] (injected by `graft.GraftExtensions`) expands
  * its relation during ANALYSIS into the chain resolver's logical plan —
  * base parquet scan, one LEFT ANTI join per thin hop, upsert unions
  * ([[graft.operators.Sinks.readSnapshot]]). Expanding at analysis time
  * (not a custom Scan) is what keeps the 100 TB plan shape: the full
  * optimizer runs over the expanded tree, so predicates push THROUGH the
  * anti joins into the base file scan, key lists broadcast, and
  * whole-stage codegen spans the joins — none of which a row-resolving
  * DSv2 reader could offer.
  *
  * The UNPINNED thin head is also DELETE-capable ([[SupportsDelete]]):
  * `DELETE FROM snap.t WHERE p` publishes ANOTHER thin version whose cost
  * is O(matched keys) — the matched keys come from one filtered read of
  * the resolved chain (pushdown applies), and the publish is fenced on
  * this handle's bound version, so a concurrent writer aborts the
  * statement instead of losing its delta. Key columns are the table's
  * declared keys, else the head's own `_base` marker keys. UPDATE/MERGE
  * on a thin head chain ANOTHER thin hop through the delta rewrite
  * ([[ThinDeltaOperation]]; the rule expands the row-level read relation
  * too), and INSERT INTO/OVERWRITE publish append/materialized versions —
  * only a KEYLESS chain with no declared identity refuses row-level DML
  * (declare keys or compact).
  */
private[graft] class ThinSnapshotTable(
    tableName: String,
    spark: SparkSession,
    val tableDir: String,
    val pinnedVersion: Int,
    deletable: Boolean)
  extends Table with SupportsRead with SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** The resolved chain: the HEAD under the table's current record
    * (renames, drops and ADDs applied by field id), a pinned marker under
    * the schema recorded for its version (history is immutable, including
    * its columns). */
  private def resolved(): org.apache.spark.sql.DataFrame =
    if (deletable)
      graft.operators.Sinks.readSnapshotServed(spark, tableDir, pinnedVersion)
    else graft.operators.Sinks.readSnapshot(spark, tableDir, Some(pinnedVersion))

  /** The resolved chain as an ANALYZED logical plan — what the resolution
    * rule splices in place of this table's relation. Recomputed per call:
    * a plan is single-use (its expression IDs must be fresh per splice). */
  def resolvedPlan(): LogicalPlan = resolved().queryExecution.analyzed

  /** Row-identity columns: the table's declared keys if any, else the
    * thin head's own `_base` marker keys. Empty for a KEYLESS append
    * chain with no declaration — such a table has no row identity, so
    * row-level DML is refused with guidance. */
  private def keyCols: Seq[String] =
    graft.operators.Sinks.snapshotDeclaredKeys(spark, tableDir)
      .orElse(graft.operators.Sinks.thinBase(spark, tableDir, pinnedVersion)
        .map(_._2).filter(_.nonEmpty)
        .map(ColumnIds.keyNames(graft.operators.Sinks.recordOf(spark, tableDir), _)))
      .getOrElse(Seq.empty)

  /** Resolved-chain schema with the chain's key columns NON-NULLABLE —
    * thin versions exist by row identity, and Spark's delta rewrite
    * refuses nullable row IDs. */
  private lazy val resolvedSchema: StructType = {
    val base =
      (if (deletable) graft.operators.Sinks.servedSnapshotSchema(spark, tableDir)
       else None).getOrElse(resolved().schema)
    val keys = keyCols
    StructType(base.map(f =>
      if (keys.exists(_.equalsIgnoreCase(f.name))) f.copy(nullable = false)
      else f))
  }

  override def name(): String = tableName
  override def schema(): StructType = resolvedSchema
  override def capabilities(): util.Set[TableCapability] =
    if (deletable)
      Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
        TableCapability.OVERWRITE_BY_FILTER, TableCapability.TRUNCATE).asJava
    else Set(TableCapability.BATCH_READ).asJava

  /** INSERT on a thin head keeps the version discipline: `INSERT INTO`
    * chains another keyless thin APPEND; `INSERT OVERWRITE` publishes a
    * new MATERIALIZED version. Identical contract to the materialized
    * head's ([[SnapshotDmlTable.newWriteBuilder]]). */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo):
      org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var overwriteAll = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwriteAll = true; this
      }
      override def overwrite(filters: Array[sources.Filter]):
          org.apache.spark.sql.connector.write.WriteBuilder = {
        require(filters.forall(_.isInstanceOf[sources.AlwaysTrue]),
          "snapshot tables support full INSERT OVERWRITE only (a new " +
            "materialized version); use DML for partial rewrites")
        overwriteAll = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: sources.InsertableRelation =
            new sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                                  overwrite: Boolean): Unit = {
                if (overwrite || overwriteAll)
                  graft.operators.Sinks.writeSnapshot(data, tableDir): Unit
                else
                  graft.operators.Sinks.appendSnapshotRows(spark, tableDir, data,
                    expectedBase = Some(pinnedVersion)): Unit
              }
            }
        }
    }

  /** Builder and scan must be HARMLESS to PLAN: the optimizer's pushdown
    * pass builds a scan for every V2 relation eagerly — including the
    * target of a `DELETE FROM`, whose scan never executes (the metadata-
    * only delete calls [[deleteWhere]] instead). Only EXECUTING the scan
    * means a genuine read reached the marker un-expanded — a session
    * without the extensions — and that gets the guided error. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new org.apache.spark.sql.connector.read.Scan {
      override def readSchema(): StructType = resolvedSchema
      override def description(): String =
        s"$tableName (merge-on-read marker; expanded by ResolveThinSnapshots)"
      override def toBatch: org.apache.spark.sql.connector.read.Batch =
        throw new UnsupportedOperationException(
          s"$tableName is a merge-on-read chain: serving it through SQL " +
            "needs the graft extensions (spark.sql.extensions=" +
            "graft.GraftExtensions, which injects ResolveThinSnapshots) — " +
            "or materialize it first with Sinks.compactSnapshot")
    }

  /** UPDATE/MERGE/non-translatable DELETE on the thin HEAD: another thin
    * hop through Spark's delta rewrite ([[ThinDeltaOperation]]). The
    * rewrite's READ side is this marker's relation wrapped in Spark's
    * `RowLevelOperationTable` — [[ResolveThinSnapshots]] expands that too,
    * so the touched rows come off the RESOLVED chain (filters push through
    * the anti joins); the WRITE side publishes `_deletes`/`_upserts`
    * fenced on this handle's bound version. Row identity = the chain's own
    * `_base` marker keys. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo):
      org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (!deletable)
      throw new UnsupportedOperationException(
        s"$tableName: DML on a pinned version is not a thing — history is immutable")
    if (keyCols.isEmpty)
      throw new UnsupportedOperationException(
        s"$tableName: a keyless append chain has no row identity — declare " +
          "keys (Sinks.declareSnapshotKeys) or compact before row-level DML")
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build(): org.apache.spark.sql.connector.write.RowLevelOperation =
        new ThinDeltaOperation(spark, tableDir, pinnedVersion, keyCols,
          info.command(), opts => ThinSnapshotTable.this.newScanBuilder(opts))
    }
  }

  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    deletable && keyCols.nonEmpty &&
      filters.forall(WorkspaceDml.toColumn(_).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    val cond = filters.flatMap(WorkspaceDml.toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    // one filtered read of the resolved chain (predicates reach the base
    // scan through the anti joins) emits only the MATCHED KEYS; the thin
    // publish is O(keys) and fenced on this handle's bound version. The
    // served schema binds, so a predicate on an ALTER-added column
    // resolves (null in pre-ALTER rows).
    val keys = resolved()
      .filter(coalesce(cond, lit(false)))
      .select(keyCols.map(org.apache.spark.sql.functions.col): _*)
    graft.operators.Sinks.deleteSnapshotKeys(
      spark, tableDir, keys, keyCols, expectedBase = Some(pinnedVersion)): Unit
  }
}

/** Analysis rule (injected via `graft.GraftExtensions`): expand every
  * READ of a [[ThinSnapshotTable]] relation into the chain resolver's
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
  private def thinOf(r: DataSourceV2Relation): Option[ThinSnapshotTable] =
    r.table match {
      case t: ThinSnapshotTable => Some(t)
      case w => org.apache.spark.sql.graftbridge.Bridge.unwrapRowLevelTable(w)
        .collect { case t: ThinSnapshotTable => t }
    }

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
