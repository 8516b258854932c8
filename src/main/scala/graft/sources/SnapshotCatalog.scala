package graft.sources

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The versioned snapshot store ([[graft.operators.Sinks.writeSnapshot]]
  * protocol: immutable `v=N` folders + an atomically-renamed `_latest`
  * pointer) surfaced as a Spark `TableCatalog` with SQL TIME TRAVEL:
  *
  * {{{
  *   spark.sql.catalog.snap           = graft.sources.SnapshotCatalog
  *   spark.sql.catalog.snap.workspace = /data/snapshots
  *
  *   SELECT * FROM snap.docs                   -- the committed pointer
  *   SELECT * FROM snap.docs VERSION AS OF 3   -- pinned version
  * }}}
  *
  * `VERSION AS OF` maps to DSv2's `loadTable(ident, version)`; an unpinned
  * read resolves ONLY through the `_latest` pointer (never folder listings
  * — the [[graft.operators.Sinks.readSnapshot]] crash-orphan rule), so a
  * concurrent or crashed writer is invisible to SQL readers too. Each
  * resolved version of a flat table is served by one table class,
  * [[FlatSnapshotTable]] (head or pinned; thin, bucketed and
  * manifest-bearing versions are properties of its scan and DML
  * contract), whose scans are Spark's own parquet scans with columns
  * resolved by field id inside the scan, so pushdown / pruning /
  * vectorization apply unchanged; a partitioned table's by
  * [[PartitionedSnapshotTable]], one such scan per own schema.
  *
  * Every WRITE is a VERSION (r13): `CREATE TABLE`/CTAS publish v=1 through
  * the atomic protocol, `INSERT INTO` publishes a keyless thin APPEND,
  * `INSERT OVERWRITE` a new materialized version, and DML
  * (DELETE/UPDATE/MERGE) publishes copy-on-write or O(delta) thin
  * versions ([[FlatSnapshotTable]]/[[ThinDeltaOperation]]) — nothing ever
  * reopens a committed `v=N` folder. `TIMESTAMP AS OF` resolves through
  * the per-version `_commits/` records the protocol writes just before
  * each pointer swap (newest version committed ≤ ts; versions remain the
  * reproducible handle a training run should store). Bucketed versions
  * ([[graft.operators.Sinks.writeSnapshotBucketed]]) serve with reported
  * key-grouped partitioning for storage-partitioned joins.
  */
class SnapshotCatalog extends TableCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  private var catalogName: String = _
  private var workspace: String = _

  // ---- FunctionCatalog: the bucket transform behind storage-partitioned
  // joins. Spark resolves a scan-reported KeyGroupedPartitioning's
  // transform through the TABLE'S catalog — serving `bucket` here is
  // what lets the planner match two bucketed tables' layouts and join them
  // with zero exchange.
  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
    Array(Identifier.of(Array.empty, "bucket"))
  }
  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name().equalsIgnoreCase("bucket"))
      GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(
      ident)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    workspace = options.get("workspace")
    require(workspace != null,
      s"spark.sql.catalog.$name.workspace must point to a directory of snapshot tables")
  }
  override def name(): String = catalogName

  // All path probing goes through the Hadoop FileSystem API — the snapshot
  // protocol targets hdfs:// / s3a:// workspaces, which java.io.File can't
  // see (Sinks.commitPointerCas's atomicity claim is specifically about HDFS).
  private def fs(path: org.apache.hadoop.fs.Path) =
    path.getFileSystem(SparkSession.active.sessionState.newHadoopConf())

  private def dirEntries(): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(workspace)
    val f = fs(root)
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        f.exists(new org.apache.hadoop.fs.Path(st.getPath, "_latest")))
      .map(_.getPath.getName)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
    dirEntries().map(n => Identifier.of(Array.empty, n)).toArray
  }

  private def resolve(ident: Identifier): String =
    dirEntries().find(_.equalsIgnoreCase(ident.name()))
      .getOrElse(throw new NoSuchTableException(ident.namespace() :+ ident.name()))

  /** The table serving `version` of table `t`: the head (`pinned = false`,
    * DML-capable — each statement publishes a NEW version, the one read is
    * never touched) or a read-only `VERSION/TIMESTAMP AS OF` read. */
  private def serve(t: String, version: Int, pinned: Boolean): Table = {
    val spark = SparkSession.active
    val dir = s"$workspace/$t"
    val vPath = new org.apache.hadoop.fs.Path(s"$dir/v=$version")
    if (!fs(vPath).exists(vPath) || !fs(vPath).getFileStatus(vPath).isDirectory)
      throw (
        if (pinned) new IllegalArgumentException(
          s"snapshot version $version does not exist under $t")
        else new IllegalStateException(
          s"committed snapshot v=$version missing under $t"))
    if (PartitionedSnapshot.partSpec(spark, dir).isDefined)
      new PartitionedSnapshotTable(s"$t@v$version", spark, dir, version, pinned)
    else new FlatSnapshotTable(s"$t@v$version", spark, dir, version, pinned)
  }

  override def loadTable(ident: Identifier): Table = {
    val t = resolve(ident)
    val committed = graft.operators.Sinks
      .snapshotCommitted(SparkSession.active, s"$workspace/$t")
      .getOrElse(throw new IllegalStateException(s"no committed snapshot for $t"))
    serve(t, committed, pinned = false)
  }

  /** SQL `VERSION AS OF <v>`. `toIntOption`, not digits-then-`toInt`: an
    * all-digit string past Int.MaxValue must get the same guided error,
    * not a raw NumberFormatException. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = version.toIntOption.filter(_ >= 0).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot versions are non-negative integers, got '$version'"))
    serve(resolve(ident), v, pinned = true)
  }

  /** SQL `TIMESTAMP AS OF <ts>`: resolve to the newest version committed
    * at or before `ts` via the `_commits/` records the publish protocol
    * writes just before each pointer swap. Orphans (folders above the
    * committed pointer) never resolve; pre-history timestamps and tables
    * published before commit records existed get guided errors
    * ([[graft.operators.Sinks.snapshotVersionAt]]). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val t = resolve(ident)
    serve(t, graft.operators.Sinks.snapshotVersionAt(
      SparkSession.active, s"$workspace/$t", timestampMicros), pinned = true)
  }

  /** SQL-native table lifecycle (r13): `CREATE TABLE` publishes v=1 as an
    * empty schema-bearing snapshot (the atomic publish protocol — never a
    * bare directory), so CTAS composes as CREATE + the V1 append write
    * (v=2 = the query result as a keyless thin append) and every later
    * `INSERT INTO`/`OVERWRITE` is one more immutable version. Partitioning
    * is rejected: a snapshot version is one immutable folder by design. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (dirEntries().exists(_.equalsIgnoreCase(ident.name())))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        ident.namespace() :+ ident.name())
    require(!schema.fieldNames.exists(ColumnIds.isTombstone),
      s"'${ColumnIds.DroppedPrefix}' is a reserved column-name " +
        "prefix (dropped-column tombstones)")
    val spark = SparkSession.active
    if (partitions.nonEmpty) {
      // CREATE TABLE ... PARTITIONED BY (days(ts)|hours(ts)|months(ts)|
      // bucket(n, c)) → an EMPTY partitioned snapshot v=1 (r18): the
      // hidden-layout version protocol, SQL-native from birth — INSERT
      // INTO then appends fenced O(touched) versions. PARTITIONED BY
      // (src, days(ts)) maps identity columns onto `key:` levels (the
      // versioned store's identity flavor — the column STAYS in the data
      // files, since cross-version leaf reads cannot re-attach hive
      // values), composing the standard lake nesting on versioned data.
      require(partitions.forall(t => t.name() == "identity" ||
          Set("days", "hours", "months", "bucket").contains(t.name())),
        "snapshot tables take identity columns (served as key: levels) " +
          "over at most one days(ts)/hours(ts)/months(ts)/bucket(n, col) " +
          "transform; an unpartitioned snapshot version is one immutable " +
          "folder")
      val spec = partitions.toSeq.map { t =>
        require(t.references().length == 1 &&
            t.references()(0).fieldNames().length == 1,
          s"partition transforms must reference one top-level column, got $t")
        val pc = t.references()(0).fieldNames()(0)
        val f = schema.fields.find(_.name.equalsIgnoreCase(pc)).getOrElse(
          throw new IllegalArgumentException(
            s"partition column $pc not in schema"))
        t.name() match {
          case "identity" => s"key:${f.name}"
          case "bucket" =>
            val n = t.arguments().collectFirst {
              case l: org.apache.spark.sql.connector.expressions.Literal[_]
                  if l.value().isInstanceOf[Number] =>
                l.value().asInstanceOf[Number].intValue()
            }.getOrElse(throw new IllegalArgumentException(
              s"bucket transform needs a literal bucket count, got $t"))
            s"bucket:$n:${f.name}"
          case kind => s"$kind:${f.name}"
        }
      }.mkString(",")
      PartitionedSnapshot.writePartitioned(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
        s"$workspace/${ident.name()}", spec): Unit
    } else
      graft.operators.Sinks.writeSnapshot(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
        s"$workspace/${ident.name()}"): Unit
    loadTable(ident)
  }

  /** METADATA-ONLY schema evolution: ADD COLUMN, RENAME COLUMN, DROP
    * COLUMN and widening ALTER COLUMN TYPE record the evolved schema as
    * the ALTER layer of `_schema.json`
    * ([[graft.operators.Sinks.alterSnapshotSchema]]), one path for flat
    * and partitioned tables alike, and touch NO version folder. Every data file
    * carries parquet field ids and every unpinned read resolves columns by id
    * ([[ColumnIds]]): a renamed column keeps matching old files, a
    * dropped one stays recorded as a `__dropped_<id>` tombstone that
    * serving filters out, and a re-ADD of its name takes a fresh id, so
    * old bytes read as NULL under it. Pinned `VERSION/TIMESTAMP AS OF`
    * reads keep the schema recorded for their version — history is
    * immutable, including its shape. A partitioned table's level SOURCE
    * columns are immutable by name AND type: the level derivation and
    * every directory on disk bind them. The reference's own silent field
    * tolerance (`arc_utils.py:685-689`) is the spec lineage — made
    * explicit and loss-free here. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = resolve(ident)
    val spark = SparkSession.active
    val dir = s"$workspace/$t"
    val partitioned = PartitionedSnapshot.partSpec(spark, dir).isDefined
    val surface = ColumnIds.Surface(
      if (partitioned) "partitioned snapshots" else "snapshot tables",
      ident.name(), "evolve by publishing new versions")
    // DDL fence: ALTER is a read-modify-write of the schema record — two
    // concurrent ALTERs would silently drop one's change (last write
    // wins). The statement lock serializes them, and a publish that
    // changes the shape takes it too; readers never do.
    WorkspaceDmlLock.withLock(spark, dir) {
      if (!partitioned) {
        val committed = graft.operators.Sinks.snapshotCommitted(spark, dir)
          .getOrElse(throw new IllegalStateException(
            s"no committed snapshot for ${ident.name()}"))
        if (graft.operators.Sinks.bucketedLayout(spark, dir, committed).isDefined)
          throw new UnsupportedOperationException(
            s"${ident.name()}'s head is a BUCKETED layout artifact — ALTER would desync the " +
              "declared schema from the key-grouped scan; rebucketSnapshot " +
              "after evolving, or evolve before bucketing")
        val keys = graft.operators.Sinks.snapshotDeclaredKeys(spark, dir)
          .getOrElse(Nil)
        changes.collect { case d: TableChange.DeleteColumn => d.fieldNames() }
          .find(n => n.length == 1 && keys.exists(_.equalsIgnoreCase(n(0))))
          .foreach(n => throw new UnsupportedOperationException(
            s"cannot DROP declared row-identity column ${n(0)} of " +
              s"${ident.name()} — thin versions resolve by it; redeclare " +
              "keys (Sinks.declareSnapshotKeys) first"))
      }
      val layout =
        if (!partitioned) surface
        else surface.copy(
          frozen = PartitionedSnapshot.levelsOf(spark, dir)
            .map(_.sourceCol.toLowerCase).toSet,
          frozenRole = "partition source column",
          frozenWhy = "the level derivation and every directory on disk " +
            "bind it; republish (writePartitioned) to change the axis")
      // the FULL record, tombstones included, and the id floor: no id is
      // ever reused by a later ADD
      graft.operators.Sinks.alterSnapshotSchema(spark, dir)(
        ColumnIds.evolve(_, changes, layout, _))
      loadTable(ident)
    }
  }

  /** DROP removes the whole version store — the table's entire history.
    * For retention within a live table use `Sinks.expireSnapshots`. */
  override def dropTable(ident: Identifier): Boolean =
    dirEntries().find(_.equalsIgnoreCase(ident.name())) match {
      case None => false
      case Some(actual) =>
        val p = new org.apache.hadoop.fs.Path(s"$workspace/$actual")
        if (!fs(p).delete(p, true))
          throw new IllegalStateException(s"DROP failed: could not delete $p")
        // a re-created same-named table restarts at v=1 — cached markers
        // of the dropped incarnation must not classify the new one
        graft.operators.Sinks.invalidateMarkerCache(s"$workspace/$actual")
        true
    }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "snapshot table renames would break pinned references; copy via CTAS")
}

private[graft] object SnapshotCatalog {
  import org.apache.spark.sql.types._

  /** The metadata-only widening lattice: value-exact, order-preserving
    * transitions Spark 4's parquet reader serves natively over old-typed
    * files (vectorized type promotion). Equal types are NOT a widening
    * (a no-op ALTER is a user error worth surfacing). Decimal precision
    * may grow only at the SAME scale — a scale change re-scales the
    * unscaled value, which is a rewrite, not a reinterpretation. */
  def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case (d1: DecimalType, d2: DecimalType) =>
      d2.scale == d1.scale && d2.precision > d1.precision
    case _ => false
  }
}
