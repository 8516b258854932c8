package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PARTITION-SPEC EVOLUTION for workspace tables (VERDICT r14 missing #5):
  * one LOCKED, crash-recoverable republish that moves a table between
  * layouts — flat → identity(a[,b…]) → days(ts) and back — as a single
  * statement, instead of the manual CTAS + directory shuffle + marker
  * surgery a user otherwise performs by hand.
  *
  * Protocol (all under the table's DML statement lock, so concurrent
  * row-level DML aborts cleanly instead of racing the swap):
  *
  *  1. stage the FULL table rewritten in the new layout into a
  *     dot-prefixed sibling (`.repart_<tag>`) — a failure here aborts
  *     with the table untouched;
  *  2. write a JOURNAL (`_graft_schema/<name>.repart`: tag, new marker,
  *     new sidecar JSON) — the commit intent;
  *  3. retire the live directory by RENAME (`.repart_old_<tag>`);
  *  4. rename the staged layout in;
  *  5. write the new sidecar + partition marker;
  *  6. delete the retired copy, then the journal.
  *
  * Crash recovery ([[recoverSafe]], run from the catalog's `loadTable`
  * under a non-blocking lock attempt, and by [[repartition]] itself
  * before starting): the journal plus the filesystem state identify the
  * crash point unambiguously — staged + live ⇒ pre-swap, ROLL BACK
  * (delete staged + journal; markers were never touched); parked present
  * ⇒ post-retire, ROLL FORWARD (finish steps 4–6, all idempotent);
  * journal alone ⇒ post-publish, finish steps 5–6. At no instant is the
  * only copy of the table's rows in a destroyable place.
  *
  * Reader caveat (the catalog's documented single-writer-DDL contract,
  * same as RENAME): a reader planning EXACTLY inside the swap window can
  * see an empty directory; writers are fenced by the lock. */
object PartitionEvolution {

  private[sources] def tableDir(ws: String, name: String) = new Path(s"$ws/$name.parquet")
  private[sources] def sidecar(ws: String, name: String) =
    new Path(s"$ws/_graft_schema/$name.json")
  private[sources] def partMarker(ws: String, name: String) =
    new Path(s"$ws/_graft_schema/$name.part")
  private def journal(ws: String, name: String) =
    new Path(s"$ws/_graft_schema/$name.repart")

  private[sources] def levelsOf(marker: String, declared: StructType): Seq[PartLevel] =
    PartitionedWorkspace.levelsOf(marker, declared)

  /** Re-lay `<ws>/<table>` out per `newSpec` — the marker grammar:
    * `"a,b"` (nested identity), `"days:ts"` (one hidden transform), or
    * `""` (flat). Content identity holds by construction (one read, one
    * write, no filters); field-id metadata rides through, so prior
    * RENAME COLUMN history keeps resolving. */
  def repartition(spark: SparkSession, ws: String, table: String,
                  newSpec: String): Unit = {
    val dir = tableDir(ws, table)
    var lock = WorkspaceDmlLock.acquire(spark, dir.toString)
    try {
      // whole-table operation: wait (bounded) for any row-level
      // statement's partition claim to drain (its copy phase reads
      // retire-able leaves) — every table read below happens AFTER this
      // gate, so the wait's transient lock release is safe (r17)
      lock = WorkspaceDmlLock.awaitNoLiveClaims(spark, dir.toString, lock)
      recoverLocked(spark, ws, table)
      val f = MetaFs.fs(spark, dir)
      require(f.exists(dir), s"no table directory $dir")
      val oldMarker = MetaFs.read(spark, partMarker(ws, table)).map(_.trim)
      val declared = MetaFs.read(spark, sidecar(ws, table))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(FooterSchema.read(spark, dir.toString).schema)
      val oldLevels = levelsOf(oldMarker.getOrElse(""), declared)

      // COMPOSE WITH THE DML CRASH PROTOCOL before reading a byte: a
      // partitioned statement that crashed post-retire parks the ONLY copy
      // of its partitions' rows under `.retired_*` INSIDE the table dir
      // (PartitionedWorkspace.retiredRoot). The full-table read below sees
      // only the live directory (dot-dirs invisible), so without repair
      // the respec'd layout would publish WITHOUT those rows — and
      // finishSwap's recursive delete of the parked old dir would then
      // destroy their only copy. The lock is already held, so the DIRECT
      // repair variant is correct (same discipline as publishPartitioned).
      if (oldLevels.nonEmpty)
        new PartitionedWorkspaceTable(table, spark, dir.toString,
          declared, oldLevels).repairRetiredPartitions()
      val unrepaired = f.listStatus(dir).toSeq.filter(st =>
        st.isDirectory && st.getPath.getName.startsWith(".retired_"))
      if (unrepaired.nonEmpty)
        throw new IllegalStateException(
          s"repartition: unrepairable crashed-DML debris under $dir " +
            s"(${unrepaired.map(_.getPath.getName).mkString(", ")}) — these " +
            "parked directories may hold the only copy of retired rows and " +
            "a respec would delete them with the old layout. Load the " +
            "table through its catalog to repair, or inspect by hand, " +
            "then retry")

      // current rows, partition columns re-attached as data columns.
      // FIELD-ID read (r17): renamed/re-added columns must resolve by id
      // through the respec rewrite (SQLConf key — isolated session)
      val iso = ColumnIds.readSession(spark)
      val rows: DataFrame =
        if (oldLevels.isEmpty) iso.read.schema(declared).parquet(dir.toString)
        else if (oldLevels.forall(_.inSchema))
          iso.read.schema(declared).parquet(dir.toString) // hive inference
        else
          // hidden or MIXED old layout: leaf-dir reads with identity
          // values re-attached (shared rule — readHive)
          PartitionedWorkspace.readHive(iso, dir.toString, declared,
            oldLevels, PartitionManifest.leafDirsOf(f, dir).map(_.toString))

      // canonicalize for the NEW spec: identity partition columns LAST in
      // spec order; field metadata (parquet ids) preserved. Per-kind
      // source-type rules shared with the table constructor.
      val newLevels = levelsOf(newSpec, declared)
      PartitionedWorkspace.validateLevels(declared, newLevels)
      val idCols = newLevels.collect { case IdentityLevel(c) => c }
      val canonical = StructType(
        declared.fields.filterNot(fd => idCols.exists(_.equalsIgnoreCase(fd.name))) ++
          idCols.flatMap(c => declared.fields.find(_.name.equalsIgnoreCase(c))))

      // 1. stage the rewritten layout (null partition values rejected —
      // a NULL key has no directory the DML paths could ever match)
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val staged = new Path(ws, s".repart_${table}_$tag")
      val targetRows = spark.conf
        .get("graft.repartition.targetRowsPerFile", "5000000").trim.toLong
      stageLayoutWrite(spark, rows, canonical, newLevels, staged, targetRows)

      // carry the per-leaf manifest OPT-IN through the respec: the
      // `.stats_cols` marker lives INSIDE the table dir and would retire
      // (and delete) with the parked copy, silently turning in-leaf file
      // skipping OFF table-wide. Re-resolve against the new FILE schema
      // (identity partition values live in directory names, not files),
      // stamp every staged leaf's manifest from its footers, and land the
      // marker in the staged dir — marker + manifests then ride
      // finishSwap's single rename, crash-atomic with the data (the
      // journal is written AFTER, so roll-forward recovery publishes them
      // together).
      PartitionManifest.statsCols(spark, dir.toString).foreach { cols =>
        val fileSchema = StructType(canonical.fields.filterNot(fd =>
          idCols.exists(_.equalsIgnoreCase(fd.name))))
        val resolved = FooterStats.resolveCols(fileSchema,
          cols.filter(c => fileSchema.fieldNames.exists(_.equalsIgnoreCase(c))))
        if (newLevels.nonEmpty)
          PartitionManifest.leafDirsOf(f, staged).foreach(
            PartitionManifest.writeLeafManifest(spark, _, fileSchema, resolved))
        MetaFs.stage(spark, PartitionManifest.markerPath(staged.toString),
          resolved.mkString(","))
      }

      // 2. journal the commit intent, then the rename dance (3..6). The
      // journal is replaced atomically: a half-written intent must read as
      // NO intent, never as a parse crash that bricks every loadTable
      MetaFs.replace(spark, journal(ws, table),
        s"$tag\n$newSpec\n${canonical.json}")
      finishSwap(spark, ws, table, tag, newSpec, canonical.json)
    } finally WorkspaceDmlLock.release(spark, lock)
  }

  /** Stage `rows` in the layout `levels` describes, SIZED (the small-files
    * defense at rewrite scale): a bare partitionBy write emits one file per
    * (task × leaf) — 32k tasks × 3650 days would be a 100M-file bomb.
    * Cluster rows by the path columns first (each leaf lands in ONE task,
    * so one file), with `maxRecordsPerFile` splitting genuinely giant
    * leaves — the same shaping contract as Sinks.writeCompacted. Flat
    * layouts size by the record cap alone (no extra count() pass over
    * 100 TB). NULL partition values are rejected (a NULL key has no
    * directory the DML paths could ever match); field-id metadata rides
    * through so RENAME COLUMN history keeps resolving. Shared by the
    * respec rewrite and [[PartitionCompaction]]. */
  private[sources] def stageLayoutWrite(spark: SparkSession, rows: DataFrame,
                                        canonical: StructType,
                                        levels: Seq[PartLevel], dest: Path,
                                        targetRows: Long): Unit = {
    val ordered = rows.select(canonical.fields.map(fd =>
      col(fd.name).as(fd.name, fd.metadata)).toIndexedSeq: _*)
    var shaped = ordered
    val pathNames = levels.map {
      case IdentityLevel(c) =>
        shaped = shaped.withColumn(c,
          when(col(c).isNull, raise_error(lit(
            s"partitioned rewrite: NULL in partition column $c")).cast(
            canonical(c).dataType)).otherwise(col(c)))
        c
      case hidden =>
        val c = hidden.sourceCol
        // no cast on the error branch: raise_error is NullType, which
        // unifies with ANY derived type — a key: level derives the source
        // column itself (possibly string), not an integral
        shaped = shaped.withColumn(hidden.pathName,
          when(col(c).isNull, raise_error(lit(
            s"partitioned rewrite: NULL in partition source $c")))
            .otherwise(hidden.deriveColumn(col(c))))
        hidden.pathName
    }
    val sized =
      if (pathNames.nonEmpty) shaped.repartition(pathNames.map(col): _*)
      else shaped
    val w = graft.operators.Sinks.microsBound(sized).write
      .option("spark.sql.parquet.fieldId.write.enabled", "true")
      .option("maxRecordsPerFile", targetRows)
    (if (pathNames.nonEmpty) w.partitionBy(pathNames: _*) else w)
      .parquet(dest.toString)
  }

  /** Steps 3–6, shared by the live path and roll-forward recovery. Every
    * step is idempotent against partial prior completion. */
  private def finishSwap(spark: SparkSession, ws: String, table: String,
                         tag: String, newSpec: String,
                         sidecarJson: String): Unit = {
    val dir = tableDir(ws, table)
    val f = MetaFs.fs(spark, dir)
    val staged = new Path(ws, s".repart_${table}_$tag")
    val parked = new Path(ws, s".repart_old_${table}_$tag")
    if (f.exists(staged)) {
      if (f.exists(dir) && !f.rename(dir, parked))
        throw new IllegalStateException(s"repartition: could not retire $dir")
      if (!f.rename(staged, dir))
        throw new IllegalStateException(s"repartition: could not publish $staged")
    }
    MetaFs.replace(spark, sidecar(ws, table), sidecarJson)
    if (newSpec.isEmpty) {
      val mp = partMarker(ws, table)
      if (f.exists(mp)) f.delete(mp, false): Unit
    } else MetaFs.replace(spark, partMarker(ws, table), newSpec)
    if (f.exists(parked)) f.delete(parked, true): Unit
    f.delete(journal(ws, table), false): Unit
    spark.catalog.refreshByPath(dir.toString)
  }

  /** Recovery under an ALREADY-HELD lock (see [[recoverSafe]]). */
  private def recoverLocked(spark: SparkSession, ws: String,
                            table: String): Unit =
    MetaFs.read(spark, journal(ws, table)).foreach { txt =>
      val lines = txt.split('\n')
      if (lines.length < 3) {
        // malformed journal (pre-atomic-write legacy torn file, or hand
        // damage): the write is temp+rename so a complete journal is
        // all-or-nothing — treat as NO intent; markers were never touched
        // before the journal existed, so dropping it restores the old spec
        // and any staged dirs become journal-less debris for the janitor
        MetaFs.fs(spark, journal(ws, table)).delete(journal(ws, table), false): Unit
      } else {
        val (tag, newSpec, sidecarJson) =
          (lines(0).trim, lines(1).trim, lines.drop(2).mkString("\n"))
        val dir = tableDir(ws, table)
        val f = MetaFs.fs(spark, dir)
        val staged = new Path(ws, s".repart_${table}_$tag")
        val parked = new Path(ws, s".repart_old_${table}_$tag")
        if (f.exists(staged) && f.exists(dir) && !f.exists(parked)) {
          // crashed BEFORE the retire: nothing moved, markers untouched —
          // roll back (the staged copy is a duplicate, the journal a stale
          // intent)
          f.delete(staged, true): Unit
          f.delete(journal(ws, table), false): Unit
        } else
          // any post-retire state rolls FORWARD: the staged layout is the
          // only complete copy (or already live) — finish the swap
          finishSwap(spark, ws, table, tag, newSpec, sidecarJson)
      }
    }

  /** Load-time recovery: non-blocking lock attempt (a LIVE repartition's
    * transient states must never be "repaired" under it — same discipline
    * as the partition-republish repair). */
  def recoverSafe(spark: SparkSession, ws: String, table: String): Unit = {
    val j = journal(ws, table)
    if (!MetaFs.fs(spark, j).exists(j)) return
    val lock =
      try WorkspaceDmlLock.acquire(spark, tableDir(ws, table).toString)
      catch { case _: java.util.ConcurrentModificationException => return }
    try recoverLocked(spark, ws, table)
    finally WorkspaceDmlLock.release(spark, lock)
  }
}
