package graft.sources

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
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
  * resolved version is served as Spark's own `ParquetTable`, so pushdown /
  * pruning / vectorization apply unchanged.
  *
  * Every WRITE is a VERSION (r13): `CREATE TABLE`/CTAS publish v=1 through
  * the atomic protocol, `INSERT INTO` publishes a keyless thin APPEND,
  * `INSERT OVERWRITE` a new materialized version, and DML
  * (DELETE/UPDATE/MERGE) publishes copy-on-write or O(delta) thin
  * versions ([[SnapshotDmlTable]]/[[ThinDeltaOperation]]) — nothing ever
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

  /** Is this session MOR-aware? Thin chains are served through a marker
    * table that [[ResolveThinSnapshots]] expands at analysis time — the
    * rule rides `spark.sql.extensions=graft.GraftExtensions`. A session
    * without it gets the r12 guided error instead of an unscannable
    * marker. */
  private def morAware: Boolean =
    SparkSession.active.sessionState.analyzer.extendedResolutionRules
      .exists(_.isInstanceOf[ResolveThinSnapshots])

  /** Serving a thin merge-on-read version needs the MOR-aware resolution
    * rule (the chain resolver cannot be expressed as a DSv2 file scan —
    * the same contract Iceberg puts on non-MOR-aware readers): with the
    * graft extensions active a marker table expands into the resolver's
    * plan; without them, compact to serve. */
  private def thinTable(tableDir: String, version: Int,
                        deletable: Boolean): Table = {
    if (!morAware)
      throw new UnsupportedOperationException(
        s"$tableDir v=$version is a merge-on-read chain; this session lacks " +
          "the MOR-aware resolution rule — set spark.sql.extensions=" +
          "graft.GraftExtensions to serve it, or materialize it first " +
          "(Sinks.compactSnapshot; Sinks.readSnapshot resolves it directly)")
    new ThinSnapshotTable(s"$tableDir@v$version", SparkSession.active,
      s"$workspace/$tableDir", version, deletable)
  }

  private def serve(tableDir: String, version: Int): Table = {
    val vDir = s"$workspace/$tableDir/v=$version"
    val vPath = new org.apache.hadoop.fs.Path(vDir)
    if (!fs(vPath).exists(vPath) || !fs(vPath).getFileStatus(vPath).isDirectory)
      throw new IllegalArgumentException(
        s"snapshot version $version does not exist under $tableDir")
    if (PartitionedSnapshot.partSpec(SparkSession.active,
        s"$workspace/$tableDir").isDefined)
      new PartitionedSnapshotTable(s"$tableDir@v$version", SparkSession.active,
        s"$workspace/$tableDir", version, pinned = true)
    else if (graft.operators.Sinks.thinBase(SparkSession.active,
        s"$workspace/$tableDir", version).isDefined)
      thinTable(tableDir, version, deletable = false)
    // no rename routing for PINNED serving: a pinned read only sees
    // renames declared before its version's commit, which are already
    // baked into the folder's own physical names (the folder was written
    // after them) — pinned versions keep the plain/manifest/bucketed
    // fast paths unconditionally
    else graft.operators.Sinks.bucketedLayout(SparkSession.active,
        s"$workspace/$tableDir", version) match {
      case Some((keyCol, n)) =>
        new BucketedSnapshotTable(s"$tableDir@v$version", SparkSession.active,
          s"$workspace/$tableDir", version, keyCol, n)
      case None if ManifestPrune.exists(SparkSession.active,
          s"$workspace/$tableDir", version) =>
        // manifest-bearing version: file skipping from the driver-side
        // stats manifest reaches SQL readers (the r13 gap — the manifest
        // existed but only Sinks.readSnapshotPruned consulted it)
        new ManifestSnapshotTable(s"$tableDir@v$version", SparkSession.active,
          s"$workspace/$tableDir", version)
      case None =>
        ParquetTable(s"$tableDir@v$version", SparkSession.active,
          CaseInsensitiveStringMap.empty(), Seq(vDir), None,
          classOf[ParquetFileFormat])
    }
  }

  override def loadTable(ident: Identifier): Table = {
    val t = resolve(ident)
    val committed = graft.operators.Sinks
      .snapshotCommitted(SparkSession.active, s"$workspace/$t")
      .getOrElse(throw new IllegalStateException(s"no committed snapshot for $t"))
    // the UNPINNED table is DML-capable: DELETE/UPDATE/MERGE publish a NEW
    // immutable version through the claim-CAS protocol — the version being
    // read is never touched (see [[SnapshotDmlTable]]). Pinned reads
    // (VERSION/TIMESTAMP AS OF via serve()) stay read-only. A thin HEAD is
    // served through the MOR marker — readable, INSERT-capable, and
    // row-level-DML-capable (each statement chains another thin hop).
    val vDir = s"$workspace/$t/v=$committed"
    val vPath = new org.apache.hadoop.fs.Path(vDir)
    if (!fs(vPath).exists(vPath))
      throw new IllegalStateException(
        s"committed snapshot v=$committed missing under $t")
    if (PartitionedSnapshot.partSpec(SparkSession.active,
        s"$workspace/$t").isDefined)
      // the partitioned-snapshot HEAD is INSERT-capable (each statement a
      // fenced O(touched) appendRows version, r18); retention/rewrites
      // stay the explicit PartitionedSnapshot maintenance calls + TVFs
      new PartitionedSnapshotTable(s"$t@v$committed", SparkSession.active,
        s"$workspace/$t", committed, pinned = false)
    else if (graft.operators.Sinks.thinBase(SparkSession.active,
        s"$workspace/$t", committed).isDefined)
      thinTable(t, committed, deletable = true)
    else if (graft.operators.Sinks.renameAffected(SparkSession.active,
        s"$workspace/$t", committed))
      // a RENAMED head whose files still carry the old name serves through
      // the resolver marker (new names via the plan-time replay). DML on
      // it is the thin-hop path (declared keys required, like any MOR
      // head); the next compaction/overwrite rewrites physical names and
      // the full materialized fast path returns
      thinTable(t, committed, deletable = true)
    else graft.operators.Sinks.bucketedLayout(SparkSession.active,
        s"$workspace/$t", committed) match {
      case Some((keyCol, n)) =>
        // bucketed versions are read-only LAYOUT artifacts (the point is
        // the reported partitioning); republish to change them
        new BucketedSnapshotTable(s"$t@v$committed", SparkSession.active,
          s"$workspace/$t", committed, keyCol, n)
      case None =>
        new SnapshotDmlTable(s"$t@v$committed", SparkSession.active,
          s"$workspace/$t", vDir)
    }
  }

  /** SQL `VERSION AS OF <v>`. `toIntOption`, not digits-then-`toInt`: an
    * all-digit string past Int.MaxValue must get the same guided error,
    * not a raw NumberFormatException. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = version.toIntOption.filter(_ >= 0).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot versions are non-negative integers, got '$version'"))
    serve(resolve(ident), v)
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
      SparkSession.active, s"$workspace/$t", timestampMicros))
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
    require(!schema.fieldNames.exists(
        _.startsWith(WorkspaceCatalog.DroppedPrefix)),
      s"'${WorkspaceCatalog.DroppedPrefix}' is a reserved column-name " +
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

  /** METADATA-ONLY schema evolution (r15): `ALTER TABLE ADD COLUMN`
    * publishes NO data and touches NO version folder — it records the
    * evolved schema as the table's `_schema.json`
    * ([[graft.operators.Sinks.declareSnapshotSchema]]). Unpinned reads
    * serve the evolved schema with pre-ALTER files null-filled (Spark's
    * parquet reader resolves requested-but-absent columns to null
    * natively); pinned `VERSION/TIMESTAMP AS OF` reads keep their
    * version's own schema — history is immutable, including its shape.
    * ADD COLUMN only, nullable only, flat only: a drop/retype would
    * reinterpret bytes already pinned by history. The reference's own
    * silent field tolerance (`arc_utils.py:685-689`) is the spec lineage —
    * made explicit and loss-free here. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = resolve(ident)
    val spark = SparkSession.active
    val dir = s"$workspace/$t"
    // DDL fence: ALTER is a read-modify-write of _schema.json — two
    // concurrent ALTERs would silently drop one's column (last write
    // wins). The statement lock serializes them; DML and readers never
    // take this lock on snapshot tables, so they are unaffected.
    WorkspaceDmlLock.withLock(spark, dir) { alterTableLocked(ident, dir, changes) }
  }

  private def alterTableLocked(ident: Identifier, dir: String,
                               changes: Seq[TableChange]): Table = {
    val spark = SparkSession.active
    PartitionedSnapshot.partSpec(spark, dir).foreach(spec =>
      return alterPartitioned(ident, dir, spec, changes))
    val committed = graft.operators.Sinks.snapshotCommitted(spark, dir)
      .getOrElse(throw new IllegalStateException(
        s"no committed snapshot for ${ident.name()}"))
    if (graft.operators.Sinks.bucketedLayout(spark, dir, committed).isDefined)
      throw new UnsupportedOperationException(
        s"${ident.name()}'s head is a BUCKETED layout artifact — ALTER would desync the " +
          "declared schema from the key-grouped scan; rebucketSnapshot " +
          "after evolving, or evolve before bucketing")
    // fold over the FULL declared schema — WITH dropped-column tombstones:
    // their rename chains are what keep pre-drop folders resolving, and an
    // ALTER that silently shed them would resurrect dropped bytes under a
    // later re-ADD of the name. Serving filters them (servedSnapshotSchema).
    val current = graft.operators.Sinks.declaredSnapshotSchema(spark, dir)
      .getOrElse(graft.operators.Sinks.readSnapshot(spark, dir).schema)
    def liveNames(s: StructType): Array[String] = s.fieldNames
      .filterNot(_.startsWith(WorkspaceCatalog.DroppedPrefix))
    val renames = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val evolved = changes.foldLeft(current) {
      case (schema, add: TableChange.AddColumn) =>
        require(add.fieldNames().length == 1,
          "snapshot tables are flat; nested ADD COLUMN is not supported")
        require(add.isNullable,
          "added columns must be nullable (pinned history has no value for them)")
        require(add.position() == null,
          "ADD COLUMN ... FIRST/AFTER is not supported on snapshot tables " +
            "(added columns append; files on disk are never reshaped)")
        val colName = add.fieldNames()(0)
        require(!colName.startsWith(WorkspaceCatalog.DroppedPrefix),
          s"'${WorkspaceCatalog.DroppedPrefix}' is a reserved column-name " +
            "prefix (dropped-column tombstones)")
        if (schema.fieldNames.exists(_.equalsIgnoreCase(colName)))
          throw new IllegalArgumentException(
            s"column $colName already exists in ${ident.name()}")
        schema.add(org.apache.spark.sql.types.StructField(
          colName, add.dataType(), nullable = true))
      case (schema, ren: TableChange.RenameColumn) =>
        // METADATA-ONLY rename (r16): no version folder is touched, no
        // byte rewritten — the rename lands in `_renames` (a chronological
        // history the resolver replays over files written under old names)
        // plus the evolved `_schema.json`. Unpinned reads serve the new
        // name with old files resolving through the replay; pinned reads
        // BELOW the rename keep their version's own names (the history
        // entry carries the committed version it was declared at). Needs
        // the MOR-aware session: rename-affected versions serve through
        // the resolution rule, exactly like thin chains.
        require(ren.fieldNames().length == 1,
          "snapshot tables are flat; nested RENAME COLUMN is not supported")
        if (!morAware)
          throw new UnsupportedOperationException(
            s"RENAME COLUMN serves old-named files through the MOR-aware " +
              "resolution rule — set spark.sql.extensions=" +
              "graft.GraftExtensions on sessions using ${ident.name()}")
        val to = ren.newName()
        require(!to.startsWith(WorkspaceCatalog.DroppedPrefix),
          s"'${WorkspaceCatalog.DroppedPrefix}' is a reserved column-name " +
            "prefix (dropped-column tombstones)")
        val fromField = schema.fields
          .find(f => f.name.equalsIgnoreCase(ren.fieldNames()(0)) &&
            !f.name.startsWith(WorkspaceCatalog.DroppedPrefix))
          .getOrElse(throw new IllegalArgumentException(
            s"no column ${ren.fieldNames()(0)} in ${ident.name()}"))
        if (schema.fieldNames.exists(_.equalsIgnoreCase(to)))
          throw new IllegalArgumentException(
            s"column $to already exists in ${ident.name()}")
        renames += ((fromField.name, to))
        org.apache.spark.sql.types.StructType(schema.fields.map(f =>
          if (f.name.equalsIgnoreCase(fromField.name))
            // final name + the chain entry, carried IN the field metadata
            // (schema and rename history are one atomic _schema.json)
            graft.operators.Sinks.appendRenameChain(f, committed, to)
          else f))
      case (schema, upd: TableChange.UpdateColumnType) =>
        // METADATA-ONLY type WIDENING (r16): no version folder is touched —
        // only the declared `_schema.json` changes. Safe because every
        // allowed transition is value-exact AND order-preserving, and
        // Spark 4's parquet reader natively serves old-typed files under
        // the widened schema (vectorized type promotion) — so unpinned
        // reads, thin-chain resolution (union coercion agrees), manifest
        // pruning (stats compare kind-wise, not type-wise), and DML all
        // just work; pinned VERSION/TIMESTAMP AS OF reads keep their
        // version's own physical types — history is immutable, including
        // its width. Anything non-widening gets the guided error below.
        require(upd.fieldNames().length == 1,
          "snapshot tables are flat; nested ALTER COLUMN is not supported")
        val f = schema.fields
          .find(x => x.name.equalsIgnoreCase(upd.fieldNames()(0)) &&
            !x.name.startsWith(WorkspaceCatalog.DroppedPrefix))
          .getOrElse(throw new IllegalArgumentException(
            s"no column ${upd.fieldNames()(0)} in ${ident.name()}"))
        val to = upd.newDataType()
        if (!SnapshotCatalog.widens(f.dataType, to))
          throw new UnsupportedOperationException(
            s"ALTER COLUMN ${f.name} TYPE ${to.simpleString}: only lossless " +
              s"WIDENINGS (tinyint/smallint/int->bigint, float->double, " +
              s"decimal precision growth at the same scale) are " +
              s"metadata-only; ${f.dataType.simpleString} -> " +
              s"${to.simpleString} would reinterpret pinned history — " +
              "evolve by publishing new versions")
        org.apache.spark.sql.types.StructType(schema.fields.map(x =>
          if (x.name.equalsIgnoreCase(f.name)) x.copy(dataType = to) else x))
      case (schema, del: TableChange.DeleteColumn) =>
        // METADATA-ONLY DROP COLUMN (r17, verdict r16 missing #1): the
        // drop is recorded as a RENAME onto a reserved `__dropped_<k>`
        // tombstone name inside `_schema.json` — the same per-field chain
        // machinery that serves RENAME then does all three jobs at once:
        // (a) reads pinned at or below the drop's committed version keep
        // the column (the chain entry carries that version, exactly like a
        // rename), (b) pre-drop folders' physical bytes replay onto the
        // TOMBSTONE during resolution — which serving filters out
        // (Sinks.servedSnapshotSchema / dropTombstones) — and (c) a later
        // re-ADD of the same name is a brand-new field: old bytes resolve
        // onto the tombstone, never onto it, so dropped data can never
        // resurrect. No version folder is touched; the next compaction
        // (which reads through the served projection) retires the bytes
        // physically.
        require(del.fieldNames().length == 1,
          "snapshot tables are flat; nested DROP COLUMN is not supported")
        if (!morAware)
          throw new UnsupportedOperationException(
            "DROP COLUMN serves pre-drop files through the MOR-aware " +
              "resolution rule — set spark.sql.extensions=" +
              "graft.GraftExtensions on sessions using " + ident.name())
        val dn = del.fieldNames()(0)
        val df = schema.fields
          .find(f => f.name.equalsIgnoreCase(dn) &&
            !f.name.startsWith(WorkspaceCatalog.DroppedPrefix))
          .getOrElse(throw new IllegalArgumentException(
            s"no column $dn in ${ident.name()}"))
        graft.operators.Sinks.snapshotDeclaredKeys(spark, dir).foreach { keys =>
          if (keys.exists(_.equalsIgnoreCase(dn)))
            throw new UnsupportedOperationException(
              s"cannot DROP declared row-identity column $dn of " +
                s"${ident.name()} — thin versions resolve by it; redeclare " +
                "keys (Sinks.declareSnapshotKeys) first")
        }
        require(liveNames(schema).length > 1,
          s"cannot drop the last column of ${ident.name()}")
        // tombstone names are unique by a monotone counter (tombstones
        // never leave the sidecar)
        val tomb = s"${WorkspaceCatalog.DroppedPrefix}${schema.fields
          .count(_.name.startsWith(WorkspaceCatalog.DroppedPrefix)) + 1}"
        StructType(schema.fields.map(f =>
          if (f eq df)
            graft.operators.Sinks.appendRenameChain(f, committed, tomb)
          else f))
      case (_, other) =>
        throw new UnsupportedOperationException(
          s"snapshot tables support ALTER TABLE ADD COLUMN, RENAME " +
            s"COLUMN, DROP COLUMN and widening ALTER COLUMN TYPE only (got " +
            s"${other.getClass.getSimpleName}); anything " +
            "else would reinterpret pinned history — evolve by publishing " +
            "new versions")
    }
    graft.operators.Sinks.declareSnapshotSchema(spark, dir, evolved)
    // declared row-identity keys follow the rename (thin DML binds them);
    // ordered after the schema write — a crash in between leaves old-named
    // keys that the next DML statement fails loudly on, never silently
    renames.foreach { case (from, to) =>
      graft.operators.Sinks.snapshotDeclaredKeys(spark, dir).foreach { keys =>
        if (keys.exists(_.equalsIgnoreCase(from)))
          graft.operators.Sinks.declareSnapshotKeys(spark, dir,
            keys.map(k => if (k.equalsIgnoreCase(from)) to else k))
      }
    }
    loadTable(ident)
  }

  /** METADATA-ONLY schema evolution for PARTITIONED snapshots (r18, the
    * q249/q250 matrix on the versioned hidden-layout store): ADD / RENAME /
    * widening ALTER COLUMN TYPE / DROP all land in `_partschema.json`
    * alone — no version folder is touched. Safe because every data file
    * carries parquet FIELD IDS (stamped at `writePartitioned`) and every
    * read — SQL scan, maintenance, change diff — resolves columns by id:
    * a renamed column keeps matching old files, and a DROP + re-ADD of
    * the same name takes a FRESH id (the dropped field stays in the
    * sidecar as a `__dropped_<id>` tombstone), so old bytes null-fill
    * rather than resurrect. Pinned `VERSION AS OF` reads below the ALTER
    * keep their version's own `_pinschema.json` — history is immutable,
    * including its shape. The PARTITION SOURCE column is immutable by
    * name AND type: its name feeds the level derivation and its values
    * are baked into every directory (the workspace guardrail, q250). */
  private def alterPartitioned(ident: Identifier, dir: String, spec: String,
                               changes: Seq[TableChange]): Table = {
    val spark = SparkSession.active
    // segment-wise parse (mixed 'key:src,days:ts' markers): EVERY level's
    // source column is layout-baked
    val sourceCols = spec.split(',').map(_.trim).map(seg =>
      if (seg.contains(":")) seg.split(':').last else seg)
      .map(_.toLowerCase).toSet
    def requireNotSource(name: String, what: String): Unit =
      if (sourceCols.contains(name.toLowerCase))
        throw new UnsupportedOperationException(
          s"$what $name: it is a partition source column of " +
            s"${ident.name()} — the level derivation and every directory " +
            "on disk bind it; republish (writePartitioned) to change the axis")
    val current = PartitionedSnapshot.declaredSchema(spark, dir)
    def idStamped = current.fields.nonEmpty &&
      current.fields.forall(_.metadata.contains("parquet.field.id"))
    def liveNames(s: StructType): Array[String] = s.fieldNames
      .filterNot(_.startsWith(WorkspaceCatalog.DroppedPrefix))
    val evolved = changes.foldLeft(current) {
      case (schema, add: TableChange.AddColumn) =>
        require(add.fieldNames().length == 1,
          "partitioned snapshots are flat; nested ADD COLUMN is not supported")
        require(add.isNullable,
          "added columns must be nullable (pinned history has no value for them)")
        require(add.position() == null,
          "ADD COLUMN ... FIRST/AFTER is not supported (added columns " +
            "append; files on disk are never reshaped)")
        val name = add.fieldNames()(0)
        require(!name.startsWith(WorkspaceCatalog.DroppedPrefix),
          s"'${WorkspaceCatalog.DroppedPrefix}' is a reserved column-name " +
            "prefix (dropped-column tombstones)")
        if (schema.fieldNames.exists(_.equalsIgnoreCase(name)))
          throw new IllegalArgumentException(
            s"column $name already exists in ${ident.name()}")
        // max over the FULL sidecar including tombstones: a reused id
        // would resolve the dropped column's old bytes as the new column
        val meta =
          if (!idStamped) org.apache.spark.sql.types.Metadata.empty
          else new org.apache.spark.sql.types.MetadataBuilder().putLong(
            "parquet.field.id",
            schema.fields.map(_.metadata.getLong("parquet.field.id")).max + 1L
          ).build()
        schema.add(org.apache.spark.sql.types.StructField(
          name, add.dataType(), nullable = true, meta))
      case (schema, ren: TableChange.RenameColumn) =>
        require(ren.fieldNames().length == 1,
          "partitioned snapshots are flat; nested RENAME COLUMN is not supported")
        if (!idStamped)
          throw new UnsupportedOperationException(
            s"RENAME COLUMN needs parquet field ids on ${ident.name()} " +
              "(tables written by writePartitioned carry them); republish " +
              "to adopt them")
        val from = ren.fieldNames()(0)
        requireNotSource(from, "cannot RENAME")
        val to = ren.newName()
        require(!to.startsWith(WorkspaceCatalog.DroppedPrefix) &&
            !from.startsWith(WorkspaceCatalog.DroppedPrefix),
          s"'${WorkspaceCatalog.DroppedPrefix}' is a reserved column-name " +
            "prefix (dropped-column tombstones)")
        if (!schema.fieldNames.exists(_.equalsIgnoreCase(from)))
          throw new IllegalArgumentException(
            s"no column $from in ${ident.name()}")
        if (schema.fieldNames.exists(_.equalsIgnoreCase(to)))
          throw new IllegalArgumentException(
            s"column $to already exists in ${ident.name()}")
        StructType(schema.fields.map(f =>
          if (f.name.equalsIgnoreCase(from)) f.copy(name = to) else f))
      case (schema, upd: TableChange.UpdateColumnType) =>
        require(upd.fieldNames().length == 1,
          "partitioned snapshots are flat; nested ALTER COLUMN is not supported")
        val fn = upd.fieldNames()(0)
        // the source column's VALUES feed the path derivation — a width
        // change could re-derive differently (bucket hashes by type)
        requireNotSource(fn, "cannot ALTER TYPE of")
        val f = schema.fields
          .find(x => x.name.equalsIgnoreCase(fn) &&
            !x.name.startsWith(WorkspaceCatalog.DroppedPrefix))
          .getOrElse(throw new IllegalArgumentException(
            s"no column $fn in ${ident.name()}"))
        val to = upd.newDataType()
        if (!SnapshotCatalog.widens(f.dataType, to))
          throw new UnsupportedOperationException(
            s"ALTER COLUMN ${f.name} TYPE ${to.simpleString}: only lossless " +
              "WIDENINGS (tinyint/smallint/int->bigint, float->double, " +
              "decimal precision growth at the same scale) are " +
              s"metadata-only; ${f.dataType.simpleString} -> " +
              s"${to.simpleString} would reinterpret pinned history — " +
              "evolve by publishing new versions")
        StructType(schema.fields.map(x =>
          if (x.name.equalsIgnoreCase(f.name)) x.copy(dataType = to) else x))
      case (schema, del: TableChange.DeleteColumn) =>
        require(del.fieldNames().length == 1,
          "partitioned snapshots are flat; nested DROP COLUMN is not supported")
        if (!idStamped)
          throw new UnsupportedOperationException(
            s"DROP COLUMN needs parquet field ids on ${ident.name()} " +
              "(tables written by writePartitioned carry them); republish " +
              "to adopt them")
        val dn = del.fieldNames()(0)
        requireNotSource(dn, "cannot DROP")
        val df = schema.fields
          .find(f => f.name.equalsIgnoreCase(dn) &&
            !f.name.startsWith(WorkspaceCatalog.DroppedPrefix))
          .getOrElse(throw new IllegalArgumentException(
            s"no column $dn in ${ident.name()}"))
        require(liveNames(schema).length > 1,
          s"cannot drop the last column of ${ident.name()}")
        val id = df.metadata.getLong("parquet.field.id")
        StructType(schema.fields.map(f =>
          if (f eq df) f.copy(name = s"${WorkspaceCatalog.DroppedPrefix}$id")
          else f))
      case (_, other) =>
        throw new UnsupportedOperationException(
          s"partitioned snapshots support ALTER TABLE ADD COLUMN, RENAME " +
            s"COLUMN, DROP COLUMN and widening ALTER COLUMN TYPE only (got " +
            s"${other.getClass.getSimpleName}); anything else would " +
            "reinterpret pinned history — evolve by publishing new versions")
    }
    PartitionedSnapshot.declareSchema(spark, dir, evolved)
    loadTable(ident)
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
