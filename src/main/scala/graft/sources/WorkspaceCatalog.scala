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

/** The reference's *workspace* as a Spark `TableCatalog` — "DataFrame I/O
  * with custom connectors" (BASELINE.json `spark_approach`).
  *
  * A workspace is a directory; a table is `<dir>/<name>.parquet`
  * (`/root/reference/smartpy_arc/arc_pandas.py:17-21` — folder/.gdb/.sde
  * workspaces; `arc_utils.py:33-39` — tables addressed by name within the
  * current workspace). Registering
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.WorkspaceCatalog
  *   spark.sql.catalog.graft.workspace = /data/sf0.01
  * }}}
  *
  * makes every fixture table addressable as `graft.<name>` from SQL and
  * `spark.table`. Name resolution is case-insensitive with the on-disk
  * spelling winning (§1.2 semantics); a miss raises `NoSuchTableException`
  * like the reference's uniqueness-checked lookup (`pro_utils.py:99-103`).
  *
  * `loadTable` returns Spark's OWN `ParquetTable`, so every DSv2
  * optimization — filter pushdown, column pruning, vectorized reads,
  * partition pruning — applies unchanged (asserted in the spec). The
  * catalog adds the *naming and catalog semantics*, not a byte-level
  * reader; that is exactly the split the reference has (arcpy executes,
  * smartpy_arc names and coerces).
  */
class WorkspaceCatalog extends TableCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  private var catalogName: String = _
  private var workspace: String = _

  // ---- FunctionCatalog: the bucket transform behind storage-partitioned
  // joins. Spark resolves a scan-reported KeyGroupedPartitioning's
  // transform through the TABLE'S catalog — serving `bucket` here is what
  // lets the planner match two bucket-partitioned workspace tables'
  // layouts and join them with zero exchange (same contract as the
  // snapshot catalog's).
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
      s"spark.sql.catalog.$name.workspace must point to a directory of parquet tables")
  }
  override def name(): String = catalogName

  // Path probing via the Hadoop FileSystem API, not java.io.File — a
  // workspace may live on hdfs://, s3a://, or any configured filesystem.
  private def fs(path: org.apache.hadoop.fs.Path) =
    path.getFileSystem(SparkSession.active.sessionState.newHadoopConf())

  private def dirEntries(): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(workspace)
    val f = fs(root)
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
  }

  // ---- schema sidecars ------------------------------------------------------
  // Catalog-created tables record their schema at
  // `<workspace>/_graft_schema/<name>.json`, OUTSIDE the table directory:
  // INSERT OVERWRITE's truncate (V1 InsertIntoHadoopFsRelation fallback)
  // deletes the table dir wholesale, so anything inside it — including the
  // empty seed parquet — does not survive a zero-row overwrite. The sidecar
  // does, and it is what makes (a) a zero-row table readable (no footers
  // needed) and (b) ALTER TABLE ADD COLUMN metadata-only (old footers
  // reconcile missing columns to null under the declared read schema).
  // Fixture workspaces never get sidecars — the catalog only writes them on
  // DDL, which a read-only fixture workspace never receives.
  private def sidecarPath(name: String) =
    new org.apache.hadoop.fs.Path(s"$workspace/_graft_schema/$name.json")

  private def sidecarEntries(): Seq[String] = {
    val d = new org.apache.hadoop.fs.Path(s"$workspace/_graft_schema")
    val f = fs(d)
    if (!f.exists(d)) Nil
    else f.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json"))
  }

  private def readSidecar(name: String): Option[StructType] =
    MetaFs.read(SparkSession.active, sidecarPath(name)).map(
      org.apache.spark.sql.types.DataType.fromJson(_).asInstanceOf[StructType])

  /** Replaced atomically: every `loadTable` parses the sidecar, so a
    * write torn by a crash (CREATE, ALTER) must never be observable. */
  private def writeSidecar(name: String, schema: StructType): Unit =
    MetaFs.replace(SparkSession.active, sidecarPath(name), schema.json)

  private def allNames(): Seq[String] = (dirEntries() ++ sidecarEntries()).distinct

  // ---- partitioned tables ---------------------------------------------------
  // A `_graft_schema/<name>.part` marker holds the partition spec; its
  // presence routes loadTable to [[PartitionedWorkspaceTable]] (hive
  // layout, partition-grained DML). Written only by CREATE TABLE ...
  // PARTITIONED BY — fixture tables stay flat. Format: comma-joined
  // identity column names (the r13 single-name marker parses as the
  // one-element case), or `days:<col>` for the hidden days(ts) transform.
  private def partMarkerPath(name: String) =
    new org.apache.hadoop.fs.Path(s"$workspace/_graft_schema/$name.part")

  private def readPartSpec(name: String): Option[String] =
    MetaFs.read(SparkSession.active, partMarkerPath(name)).map(_.trim)

  /** Marker text → partition levels (needs the declared schema to type the
    * temporal source columns). */
  private def levelsOf(marker: String, declared: StructType): Seq[PartLevel] =
    PartitionedWorkspace.levelsOf(marker, declared)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
    allNames().map(n => Identifier.of(Array.empty, n)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    // case-insensitive resolve, on-disk spelling wins (SURVEY §1.2);
    // sidecar-only entries (zero-row-overwritten tables whose dir the
    // truncate removed) still resolve
    val actual = allNames().find(_.equalsIgnoreCase(ident.name()))
      .getOrElse(throw new NoSuchTableException(ident.namespace() :+ ident.name()))
    // a crashed partition-spec evolution left its journal: converge the
    // swap (forward or back) before trusting marker + layout — lock-aware,
    // one exists() probe on the common path
    PartitionEvolution.recoverSafe(SparkSession.active, workspace, actual)
    val declared = readSidecar(actual).map(ColumnIds.live)
    val dir = tablePath(actual)
    // a truncate may have left no directory at all — the scan's file index
    // requires the root path to exist, so re-place the (empty) directory
    if (declared.isDefined && !fs(dir).exists(dir)) fs(dir).mkdirs(dir): Unit
    readPartSpec(actual) match {
      case Some(marker) =>
        val schema = declared.getOrElse(throw new IllegalStateException(
          s"partitioned table $actual lost its schema sidecar"))
        val t = new PartitionedWorkspaceTable(actual, SparkSession.active,
          dir.toString, schema, levelsOf(marker, schema))
        // journal recovery on open: a crash mid-publish leaves renamed-aside
        // partition copies; restoring them here is what makes the rename
        // publish protocol crash-safe for readers. LOCK-AWARE: a live
        // publish's transient parked copies are never touched (the repair
        // only runs when the table's DML lock can be acquired)
        t.repairRetiredPartitionsSafe()
        t
      case None =>
        // GraftWorkspaceTable IS a ParquetTable (every DSv2 read/write
        // optimization unchanged, V1 insert fallback included) plus the
        // row-level DML hooks — DELETE/UPDATE/MERGE via [[WorkspaceDml]]
        new GraftWorkspaceTable(actual, SparkSession.active, dir.toString, declared)
    }
  }

  // ---- write path (round 10) ----------------------------------------------
  // The reference's workspace is READ-WRITE: `pandas_to_arc` lands a table
  // in the current workspace (`arc_utils.py:815-898`) honoring the overwrite
  // flag (`arc_utils.py:121-135`). The Spark-catalog face of that is SQL DDL
  // + DML against `graft.<name>`: CREATE TABLE AS SELECT, INSERT INTO,
  // INSERT OVERWRITE, DROP TABLE, ALTER TABLE RENAME. Spark's non-atomic
  // DSv2 exec nodes (CreateTableAsSelectExec etc.) drive exactly these
  // hooks; the returned `ParquetTable` is a `SupportsWrite` FileTable, so
  // appends/truncates go through Spark's own vectorized parquet writer with
  // full executor-side parallelism — the catalog only places the directory.

  private def tablePath(name: String) =
    new org.apache.hadoop.fs.Path(s"$workspace/$name.parquet")

  /** CREATE TABLE: place `<workspace>/<name>.parquet` and seed it with an
    * empty parquet file carrying the declared schema, so the table survives
    * a session restart (schema lives in the parquet footer, not in catalog
    * memory) and an immediate read returns zero rows rather than a
    * schema-inference failure. CTAS appends its query result right after.
    * The declared schema is field-id-stamped ([[ColumnIds.stamp]]): the
    * identity that makes RENAME and DROP COLUMN metadata-only. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (allNames().exists(_.equalsIgnoreCase(ident.name())))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        ident.namespace() :+ ident.name())
    require(!schema.fieldNames.exists(ColumnIds.isTombstone),
      s"'${ColumnIds.DroppedPrefix}' is a reserved column-name " +
        "prefix (dropped-column tombstones)")
    if (partitions.nonEmpty) return createPartitioned(ident, schema, partitions)
    val spark = SparkSession.active
    val stamped = ColumnIds.stamp(schema)
    // seed an empty schema-bearing parquet (plain spark.read.parquet on the
    // dir works before the first INSERT) AND the sidecar (survives the
    // truncate that removes every file in the dir — see sidecar scaladoc).
    // The write option pins id-writing on even if the session disabled it —
    // an id-stamped table with id-less files would fail id-reads loudly.
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stamped)
      .write.mode("overwrite")
      .option("spark.sql.parquet.fieldId.write.enabled", "true")
      .parquet(tablePath(ident.name()).toString)
    writeSidecar(ident.name(), stamped)
    loadTable(ident)
  }

  /** `CREATE TABLE ... PARTITIONED BY (...)`: hive layout under the table
    * directory. Two specs are supported — the layouts a landing workspace
    * actually shards by:
    *
    *  - one or more top-level IDENTITY columns (string/int/long: source,
    *    tenant, day number), nested in declaration order. The declared
    *    schema is canonicalized with the partition columns LAST (the order
    *    the file index serves and the write path produces).
    *  - `days(ts)` — ONE hidden date transform over a timestamp/date
    *    column (the first thing a time-series user creates; the
    *    reference's own scans are date-clamped, `arc_utils.py:717-724`).
    *    The source column stays a plain schema/data column; directories
    *    are the synthetic `<ts>_day=<epochDay>`.
    *
    * Schemas are field-id-stamped like flat tables and recorded in the
    * sidecar plus a `.part` marker. No seed file: hive layout has no
    * root-level files, and the sidecar makes the empty table readable. */
  private def createPartitioned(ident: Identifier, schema: StructType,
                                partitions: Array[Transform]): Table = {
    def oneRef(t: Transform): String = {
      require(t.references().length == 1 &&
          t.references()(0).fieldNames().length == 1,
        s"partition transforms must reference one top-level column, got $t")
      t.references()(0).fieldNames()(0)
    }
    val hiddenNames = Set("days", "hours", "months", "bucket")
    require(partitions.forall(t =>
        t.name() == "identity" || hiddenNames.contains(t.name())),
      "workspace tables support identity partition columns, one " +
        "days(ts)/hours(ts)/months(ts)/bucket(n, col) transform, or the " +
        "mixed 'identity..., hidden' nesting (hidden LAST), got " +
        partitions.mkString(", "))
    // each declared transform → one level, in declaration order; the
    // composition rules (at most ONE hidden, hidden LAST, no duplicate
    // sources) are validateLevels' — shared with the marker parse
    val levels: Seq[PartLevel] = partitions.toSeq.map { t =>
      val pc = oneRef(t)
      val f = schema.fields.find(_.name.equalsIgnoreCase(pc)).getOrElse(
        throw new IllegalArgumentException(s"partition column $pc not in schema"))
      val isDate = f.dataType == org.apache.spark.sql.types.DateType
      t.name() match {
        case "identity" => IdentityLevel(f.name)
        case "days" => DaysLevel(f.name, isDate)
        case "hours" => HoursLevel(f.name)
        case "months" => MonthsLevel(f.name, isDate)
        case "bucket" =>
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.value().isInstanceOf[Number] =>
              l.value().asInstanceOf[Number].intValue()
          }.getOrElse(throw new IllegalArgumentException(
            s"bucket transform needs a literal bucket count, got $t"))
          BucketLevel(f.name, n)
      }
    }
    PartitionedWorkspace.validateLevels(schema, levels)
    val idCols = levels.collect { case IdentityLevel(c) => c }
    // canonical hive order: IDENTITY columns last, in level order (hidden
    // sources are plain data columns and keep their declared position)
    val canonical = StructType(
      schema.fields.filterNot(fd => idCols.exists(_.equalsIgnoreCase(fd.name))) ++
        idCols.flatMap(c => schema.fields.find(_.name.equalsIgnoreCase(c))))
    val marker = levels.map(PartitionedWorkspace.markerOf).mkString(",")
    val stamped = ColumnIds.stamp(canonical)
    val dir = tablePath(ident.name())
    fs(dir).mkdirs(dir): Unit
    writeSidecar(ident.name(), stamped)
    MetaFs.replace(SparkSession.active, partMarkerPath(ident.name()), marker)
    loadTable(ident)
  }

  /** DROP: reports honestly — a deletion the filesystem refuses (held
    * locks, permissions) throws rather than returning a false success. */
  override def dropTable(ident: Identifier): Boolean =
    allNames().find(_.equalsIgnoreCase(ident.name())) match {
      case None => false
      case Some(actual) =>
        val p = tablePath(actual)
        if (fs(p).exists(p) && !fs(p).delete(p, true))
          throw new IllegalStateException(s"DROP failed: could not delete $p")
        val sc = sidecarPath(actual)
        if (fs(sc).exists(sc) && !fs(sc).delete(sc, false))
          throw new IllegalStateException(s"DROP failed: could not delete $sc")
        val pm = partMarkerPath(actual)
        if (fs(pm).exists(pm) && !fs(pm).delete(pm, false))
          throw new IllegalStateException(s"DROP failed: could not delete $pm")
        // a stale DML lock must not outlive the table: a re-created
        // same-named table would inherit it and block statements until
        // the grace deadline
        val lk = WorkspaceDmlLock.lockPath(p.toString)
        if (fs(lk).exists(lk)) fs(lk).delete(lk, false): Unit
        // same for leftover partition claims (r16): a re-created
        // same-named table must not inherit them
        val cd = WorkspaceDmlLock.claimsDir(p.toString)
        if (fs(cd).exists(cd)) fs(cd).delete(cd, true): Unit
        // and the change feed (r17): a re-created table must not inherit
        // the dropped incarnation's change history
        val cf = PartitionChangeFeed.feedRoot(p.toString)
        if (fs(cf).exists(cf)) fs(cf).delete(cf, true): Unit
        true
    }

  /** RENAME is two filesystem renames (data dir, then sidecar) and hence
    * NOT atomic: a sidecar-rename FAILURE is compensated by renaming the
    * data dir back (the table stays whole under the old name); a CRASH
    * between the two renames can still leave the sidecar under the old
    * name — the declared (post-ALTER) schema falls back to footer
    * inference until the sidecar is moved by hand. Single-writer DDL is
    * the contract, as with the snapshot publish protocol — no retry loop
    * can close a crash window the filesystem cannot express atomically. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val actual = allNames().find(_.equalsIgnoreCase(oldIdent.name()))
      .getOrElse(throw new NoSuchTableException(oldIdent.namespace() :+ oldIdent.name()))
    if (allNames().exists(_.equalsIgnoreCase(newIdent.name())))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        newIdent.namespace() :+ newIdent.name())
    val (from, to) = (tablePath(actual), tablePath(newIdent.name()))
    val movedData = fs(from).exists(from)
    if (movedData && !fs(from).rename(from, to))
      throw new IllegalStateException(
        s"rename ${oldIdent.name()} -> ${newIdent.name()} failed")
    val (scFrom, scTo) = (sidecarPath(actual), sidecarPath(newIdent.name()))
    if (fs(scFrom).exists(scFrom) && !fs(scFrom).rename(scFrom, scTo)) {
      if (movedData) fs(to).rename(to, from): Unit // compensate: keep old name whole
      throw new IllegalStateException(
        s"rename sidecar ${oldIdent.name()} -> ${newIdent.name()} failed; table left at ${oldIdent.name()}")
    }
    // the change feed follows its table's name (best-effort: a feed left
    // under the old name only strands already-consumed history — readers
    // of the new name start a fresh feed)
    val (cfFrom, cfTo) = (PartitionChangeFeed.feedRoot(from.toString),
      PartitionChangeFeed.feedRoot(to.toString))
    if (fs(cfFrom).exists(cfFrom)) fs(cfFrom).rename(cfFrom, cfTo): Unit
    val (pmFrom, pmTo) = (partMarkerPath(actual), partMarkerPath(newIdent.name()))
    if (fs(pmFrom).exists(pmFrom) && !fs(pmFrom).rename(pmFrom, pmTo)) {
      // a lost partition marker would silently degrade the table to FLAT
      // (hive layout served as a flat dir, COW DML corrupting it) —
      // compensate BOTH moves and fail loudly
      fs(scTo).rename(scTo, scFrom): Unit
      if (movedData) fs(to).rename(to, from): Unit
      throw new IllegalStateException(
        s"rename partition marker ${oldIdent.name()} -> ${newIdent.name()} " +
          s"failed; table left whole at ${oldIdent.name()}")
    }
  }

  /** METADATA-ONLY schema evolution ([[ColumnIds.evolve]]): ADD COLUMN,
    * RENAME COLUMN, DROP COLUMN and widening ALTER COLUMN TYPE change the
    * declared sidecar schema alone — no data file is rewritten. Every
    * catalog-created table is field-id-stamped and every read resolves by
    * id, so old footers null-fill an added column, a renamed column keeps
    * matching files written under its old name, and a dropped column
    * stays in the sidecar as a `__dropped_<id>` tombstone whose id a
    * re-ADD never reuses. At 100 TB this is the only acceptable shape: an
    * add-column that rewrote the table would be a full-corpus write for a
    * nullable default. A partitioned table's level source columns never
    * rename or drop — their names are baked into every directory on disk
    * (`col=value` / `<ts>_day=`), so that is a relayout
    * (PartitionEvolution.repartition) — but they MAY widen: identity
    * values live in directory names, which parse under the declared type,
    * so no byte is reinterpreted. The read-modify-write of the sidecar
    * runs under the table's DDL lock, the one the snapshot catalog's
    * ALTER takes: two concurrent ADDs would otherwise both allocate
    * max(id) + 1. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val actual = allNames().find(_.equalsIgnoreCase(ident.name()))
      .getOrElse(throw new NoSuchTableException(ident.namespace() :+ ident.name()))
    val spark = SparkSession.active
    val dir = tablePath(actual).toString
    WorkspaceDmlLock.withLock(spark, dir) { alterLocked(ident, actual, changes) }
    loadTable(ident)
  }

  private def alterLocked(ident: Identifier, actual: String,
                          changes: Seq[TableChange]): Unit = {
    val partMarker = readPartSpec(actual)
    val current = readSidecar(actual).getOrElse {
      // pre-existing (non-DDL-created) table: adopt its footer schema as
      // the declared schema, then evolve that
      FooterSchema.require(SparkSession.active, tablePath(actual).toString)
    }
    val evolved = ColumnIds.evolve(current, changes, ColumnIds.Surface(
      "workspace tables", ident.name(), "rewrite via CREATE TABLE ... AS",
      frozen = partMarker.toSeq
        .flatMap(PartitionedWorkspace.levelsOf(_, current))
        .map(_.sourceCol.toLowerCase).toSet,
      frozenRole = "partition column",
      frozenWhy = "its name is baked into the directory layout; respec the " +
        "table (PartitionEvolution.repartition) to change partitioning",
      frozenMayWiden = true))
    // restore canonical hive order: IDENTITY partition columns stay LAST
    // in partition order (hidden segments — ':'-bearing — are plain data
    // columns with no schema-position constraint; a MIXED marker's
    // identity segments still reorder)
    val canonical = partMarker match {
      case Some(m) =>
        val pcs = m.split(',').toSeq.map(_.trim).filterNot(_.contains(":"))
        if (pcs.isEmpty) evolved
        else StructType(
          evolved.fields.filterNot(f => pcs.exists(_.equalsIgnoreCase(f.name))) ++
            pcs.flatMap(pc => evolved.fields.find(_.name.equalsIgnoreCase(pc))))
      case _ => evolved
    }
    writeSidecar(actual, canonical)
    // the per-leaf manifest opt-in (`.stats_cols`) records column NAMES —
    // follow any rename so post-ALTER republishes keep stamping stats for
    // the column (pre-ALTER leaf manifests keep the old name and serve
    // conservatively until their leaf republishes; a DROPPED stats column
    // simply stops resolving and is skipped by writeLeafManifest)
    val renamePairs = changes.collect {
      case r: TableChange.RenameColumn if r.fieldNames().length == 1 =>
        (r.fieldNames()(0), r.newName())
    }
    if (renamePairs.nonEmpty && partMarker.isDefined) {
      val spark = SparkSession.active
      val dir = tablePath(actual).toString
      PartitionManifest.statsCols(spark, dir).foreach { cols =>
        val mapped = cols.map(c => renamePairs.foldLeft(c) { case (n, (f, t)) =>
          if (n.equalsIgnoreCase(f)) t else n })
        // replaced atomically, like the sidecar: a marker torn by a crash
        // would silently corrupt the per-leaf manifest pruning opt-in
        if (mapped != cols)
          MetaFs.replace(spark, PartitionManifest.markerPath(dir),
            mapped.mkString(","))
      }
    }
  }
}
