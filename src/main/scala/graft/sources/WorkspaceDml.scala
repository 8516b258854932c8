package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRowLevelOperations}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Row-level SQL DML for [[WorkspaceCatalog]] tables — `DELETE FROM`,
  * `UPDATE`, and `MERGE INTO graft.<t>` land through Spark's own DSv2
  * row-level machinery (the reference's workspace is read-write,
  * `arc_utils.py:815-898`; row deletion is the takedown-compliance shape a
  * landing workspace needs at the SQL surface — the operator pack answers
  * it semantically via `EventOps.latestSnapshot`/`Sinks.snapshotDiff`, this
  * answers it for a user typing SQL).
  *
  * A workspace table is ONE flat, unpartitioned parquet directory (a table
  * is `<dir>/<name>.parquet`, like the reference's folder workspace), so
  * the only physically possible row-level strategy is group-based
  * COPY-ON-WRITE with the whole table as the single group: the rewrite
  * query computes the table's full post-DML contents, every task writes
  * into a STAGING directory, and the job-level commit swaps staging into
  * place (rename-rename; the crash window between the two renames is
  * documented exactly like [[WorkspaceCatalog.renameTable]]'s — no retry
  * loop can close what the filesystem cannot express atomically). At
  * 100 TB, point deletes against a FLAT table are the wrong layout no
  * matter the engine — route hot-delete tables to the partitioned/snapshot
  * catalogs; this surface exists so the SQL works and is honest about
  * rewriting one table directory.
  *
  * Two paths, both Spark-planned:
  *  - [[SupportsDelete.deleteWhere]]: `DELETE FROM t WHERE <p>` whose
  *    predicates all translate to V1 filters arrives here directly
  *    (Spark's `OptimizeMetadataOnlyDeleteFromTable` picks this over the
  *    full rewrite) — one filtered scan, COW swap.
  *  - [[SupportsRowLevelOperations]]: everything else (UPDATE, MERGE,
  *    non-translatable DELETE) goes through the group-based `ReplaceData`
  *    rewrite. The operation's scan builder DELIBERATELY refuses filter
  *    pushdown: parquet pushdown is row-group-level and INEXACT (a
  *    skipped row group's rows would vanish from the rewritten table,
  *    since the write replaces the whole directory) — the replacement
  *    query must see every surviving row, so the scan reads the full
  *    table by construction.
  */
/** Per-table, per-statement DML FENCE for workspace tables: one exclusive
  * claim file (`.<table>.__dml_lock`, atomic create-exclusive — the same
  * primitive as the snapshot claim CAS, MetaFs.createExclusive) acquired
  * BEFORE any statement task reads table data, released after publish or
  * abort. Two concurrent row-level statements against one table therefore
  * never interleave their read-copy-publish cycles: the loser aborts with
  * `ConcurrentModificationException` and the winner's result is intact —
  * the lost-update/interleaved-partition-loss failure shape becomes a
  * clean retryable error. A CRASHED holder ages out: an acquire finding a
  * lock older than `graft.workspace.dmlLockGraceMs` (default 15 min)
  * breaks it — the standard optimistic-concurrency deadline, sized well
  * past any real statement. Scope is row-level DML (UPDATE/MERGE/DELETE);
  * plain INSERT keeps the append contract (task-unique files).
  *
  * Ownership is TOKENIZED: acquire writes a per-statement UUID into the
  * lock file and every delete (release, stale-break) verifies the token
  * immediately first. Without it both paths are check-then-act on the
  * PATH alone: a breaker that passed the mtime check could delete a
  * FRESH lock re-acquired in the window (two statements proceed
  * concurrently), and a holder whose lock was broken-and-retaken would
  * release the NEW holder's lock on the way out. A token mismatch is
  * treated as lock-held; re-verifying at the delete shrinks the
  * remaining check-to-delete window from statement-length to
  * microseconds (a local rename-based conditional delete can't close it
  * fully; a real object store closes it with If-Match). */
private[graft] object WorkspaceDmlLock {

  /** Proof of ownership: the lock path plus the UUID this acquire wrote
    * into it. Only the handle that created a lock file may delete it. */
  final case class Handle(path: Path, token: String)

  def lockPath(dir: String): Path = {
    val real = new Path(dir)
    new Path(real.getParent, s".${real.getName}.__dml_lock")
  }

  /** The token currently in the lock or claim file — None when the file
    * is gone or unreadable (racing delete), Some("") for a legacy/manual
    * empty lock. Comparisons treat any read failure as "unknown ≠ mine".
    * The lock is created exclusively WITH its token as content; on a store
    * where the token write follows the creation ([[MetaFs.createExclusive]])
    * a racing reader can observe an empty just-created file — "token
    * unknown", treated as held (never as breakable). */
  private def tokenOf(spark: SparkSession, p: Path): Option[String] =
    try MetaFs.read(spark, p).map(_.trim)
    catch { case scala.util.control.NonFatal(_) => None }

  def acquire(spark: SparkSession, dir: String): Handle = {
    val p = lockPath(dir)
    val fs = MetaFs.fs(spark, p)
    val token = java.util.UUID.randomUUID().toString
    if (MetaFs.createExclusive(spark, p, token)) return Handle(p, token)
    val graceMs = spark.conf
      .get("graft.workspace.dmlLockGraceMs", "900000").trim.toLong
    // snapshot the STALE holder's identity before deciding to break: if
    // the file's token changes between this read and the delete, the old
    // holder released and a NEW statement re-acquired — deleting then
    // would break a fresh lock, not a crashed one
    val staleToken = tokenOf(spark, p)
    val stale =
      try System.currentTimeMillis() -
        fs.getFileStatus(p).getModificationTime > graceMs
      catch { case _: java.io.FileNotFoundException => true }
    if (stale) {
      val now = tokenOf(spark, p)
      if (now == staleToken || now.isEmpty) {
        // token unchanged (or file already gone) — still the crashed
        // holder's lock as far as the store can tell; break it
        fs.delete(p, false): Unit
        if (MetaFs.createExclusive(spark, p, token)) return Handle(p, token)
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"another DML statement holds the lock on $dir ($p); retry after it " +
        s"commits, or break a crashed holder's lock past " +
        s"graft.workspace.dmlLockGraceMs")
  }

  /** Delete ONLY a lock this handle created: a holder whose lock was
    * stale-broken and re-taken must not release the new holder's lock on
    * its way out — a token mismatch leaves the file alone. */
  def release(spark: SparkSession, h: Handle): Unit = {
    if (tokenOf(spark, h.path).contains(h.token))
      MetaFs.fs(spark, h.path).delete(h.path, false): Unit
  }

  /** HEARTBEAT: refresh the lock's mtime so the stale-break deadline
    * measures from the last sign of life, not from acquisition. Called at
    * the entry of the publish/swap phases — a statement may legitimately
    * SCAN for longer than the grace, and without the refresh a concurrent
    * load-time repair could break the lock exactly while the parked
    * copies exist (restoring a partition the publisher just retired →
    * duplicated rows when the staged replacement then appends). */
  def refresh(spark: SparkSession, dir: String): Unit = {
    val p = lockPath(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try fs.setTimes(p, System.currentTimeMillis(), -1)
    catch { case scala.util.control.NonFatal(_) => () }
  }

  def withLock[T](spark: SparkSession, dir: String)(body: => T): T = {
    val p = acquire(spark, dir)
    try body finally release(spark, p)
  }

  // ---- partition-grained claims (r16) --------------------------------------
  // The table lock serializes STATEMENTS; for partitioned tables that is
  // too coarse — two UPDATEs touching DISJOINT days have no reason to
  // serialize their (long) copy phases. The r16 protocol splits the grain:
  //
  //  - the TABLE LOCK serializes only the SHORT phases — the runtime
  //    group-filter probe (which scans across partitions), per-leaf claim
  //    acquisition/release, and the publish renames. Every probe and every
  //    publish holds it, so a probe can never race a publish's transient
  //    renames (the FileNotFound torn-read class);
  //  - per-leaf CLAIM FILES (`.<table>.__dml_claims/<urlenc rel>`, token
  //    content) gate the LONG copy phase. All claim mutations happen UNDER
  //    the table lock, so acquisition conflicts are decided race-free: a
  //    fresh foreign claim aborts the statement instantly (statement-length
  //    waits are not bounded); a stale one (crashed holder past
  //    `graft.workspace.dmlLockGraceMs`) is broken;
  //  - whole-table operations (translatable DELETE's cross-partition
  //    discovery scan, partition-spec evolution, compaction, manifest
  //    enable) keep the table lock for their whole duration AND refuse to
  //    run while any live claim exists ([[requireNoLiveClaims]]) — they
  //    are the "take all claims" side of the protocol.
  //
  // Waiting: the COW path's short phases use [[acquireWait]] (bounded by
  // `graft.workspace.dmlLockWaitMs`, default 15 s) so two statements
  // launched together serialize through the probe window instead of one
  // aborting; everything else keeps the instant abort (retryable).

  /** [[acquire]] with bounded retry — for the partitioned COW path's SHORT
    * table-lock windows (probe, claim, publish) and a flat snapshot publish
    * that records a changed schema. */
  def acquireWait(spark: SparkSession, dir: String): Handle = {
    val waitMs = spark.conf
      .get("graft.workspace.dmlLockWaitMs", "15000").trim.toLong
    val deadline = System.currentTimeMillis() + waitMs
    var backoff = 25L
    while (true) {
      try return acquire(spark, dir)
      catch { case e: java.util.ConcurrentModificationException =>
        if (System.currentTimeMillis() >= deadline) throw e
        Thread.sleep(backoff); backoff = math.min(backoff * 2, 250L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def claimsDir(dir: String): Path = {
    val real = new Path(dir)
    new Path(real.getParent, s".${real.getName}.__dml_claims")
  }

  def claimPathOf(dir: String, rel: String): Path =
    new Path(claimsDir(dir), java.net.URLEncoder.encode(rel, "UTF-8"))

  private def graceMsOf(spark: SparkSession): Long = spark.conf
    .get("graft.workspace.dmlLockGraceMs", "900000").trim.toLong

  /** Relative leaf paths with a LIVE (non-stale) claim. Call under the
    * table lock for a stable read — all claim mutations happen under it. */
  def liveClaims(spark: SparkSession, dir: String): Seq[String] = {
    val cd = claimsDir(dir)
    val fs = cd.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(cd)) return Nil
    val grace = graceMsOf(spark)
    val now = System.currentTimeMillis()
    fs.listStatus(cd).toSeq
      .filter(st => now - st.getModificationTime <= grace)
      .map(st => java.net.URLDecoder.decode(st.getPath.getName, "UTF-8"))
      .sorted
  }

  /** Whole-table-operation gate (call under the table lock): refuse while
    * any row-level statement's claim is live; sweep stale claim debris of
    * crashed holders on the way through. */
  def requireNoLiveClaims(spark: SparkSession, dir: String): Unit = {
    val live = liveClaims(spark, dir)
    if (live.nonEmpty) throw new java.util.ConcurrentModificationException(
      s"row-level DML statements hold partition claims on $dir " +
        s"(${live.take(5).mkString(", ")}${if (live.size > 5) ", ..." else ""}); " +
        "retry after they commit, or break crashed holders' claims past " +
        "graft.workspace.dmlLockGraceMs")
    val cd = claimsDir(dir)
    val fs = cd.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(cd))
      fs.listStatus(cd).foreach(st => fs.delete(st.getPath, false): Unit)
  }

  /** [[requireNoLiveClaims]] with a BOUNDED WAIT (r17, verdict r16 #7):
    * whole-table maintenance (compaction, respec, manifest enable, INSERT
    * OVERWRITE, non-pinned translatable DELETE) no longer flaps on a busy
    * table — it waits for live row-level claims to drain, up to
    * `graft.workspace.dmlLockWaitMs`, then throws the same retryable
    * error. The TABLE LOCK IS RELEASED WHILE SLEEPING, deliberately: a
    * claim holder needs the table lock to publish and release its claims,
    * so waiting while holding it would deadlock the drain this is waiting
    * for. Consequently the caller MUST re-read any table state it derived
    * before the call (leaf listings, file indexes) — another statement may
    * have published during a sleep window. Contract: on success the
    * returned handle is held (replace the caller's); on ANY throw the lock
    * this call was holding has been released (the caller's own release of
    * its now-stale handle is a token-checked no-op). */
  def awaitNoLiveClaims(spark: SparkSession, dir: String,
                        held: Handle): Handle = {
    var h = held
    val waitMs = spark.conf
      .get("graft.workspace.dmlLockWaitMs", "15000").trim.toLong
    val deadline = System.currentTimeMillis() + waitMs
    var backoff = 25L
    while (true) {
      try { requireNoLiveClaims(spark, dir); return h }
      catch { case e: java.util.ConcurrentModificationException =>
        release(spark, h)
        if (System.currentTimeMillis() >= deadline) throw e
        Thread.sleep(backoff); backoff = math.min(backoff * 2, 250L)
        h = acquireWait(spark, dir)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[withLock]] for whole-table operations: acquire, wait (bounded) for
    * row-level claims to drain, run, release. The body must derive ALL its
    * table state after entry (the wait can release the lock transiently —
    * see [[awaitNoLiveClaims]]). */
  def withLockNoClaims[T](spark: SparkSession, dir: String)(body: => T): T = {
    var h = acquire(spark, dir)
    try {
      h = awaitNoLiveClaims(spark, dir, h)
      body
    } finally release(spark, h)
  }

  /** Verify every claim file still carries THIS statement's token — called
    * under the re-taken table lock at publish entry, BEFORE heartbeating
    * (ADVICE r16): a claim that outlived the grace, was broken and retaken
    * by another statement must abort this publish — and must not have the
    * NEW holder's file heartbeated by [[refreshClaims]]. The check is
    * race-free for the publish window: claim mutations only happen under
    * the table lock, which the caller holds. */
  def verifyClaims(spark: SparkSession, paths: Seq[Path],
                   token: String): Unit = {
    // bounded parallel fan-out (graft.Par): one token read per touched
    // partition is a serial driver round-trip train on wide statements
    graft.Par.each(paths) { p =>
      if (!tokenOf(spark, p).contains(token))
        throw new java.util.ConcurrentModificationException(
          s"partition claim $p was broken past graft.workspace.dmlLockGraceMs " +
            "and retaken by another statement during this statement's copy " +
            "phase — aborting the publish (staged output discarded); retry " +
            "the statement")
    }
  }

  /** Acquire per-leaf claims — CALLER HOLDS THE TABLE LOCK. A fresh
    * foreign claim on any rel aborts with everything acquired here
    * released (the table stays untouched); a stale one is broken. Returns
    * the claim paths for release/refresh. */
  def acquireClaims(spark: SparkSession, dir: String, rels: Seq[String],
                    token: String): Seq[Path] = {
    val cd = claimsDir(dir)
    val fs = cd.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(cd): Unit
    val grace = graceMsOf(spark)
    val acquired = scala.collection.mutable.Buffer.empty[Path]
    try {
      rels.distinct.sorted.foreach { rel =>
        val p = claimPathOf(dir, rel)
        if (fs.exists(p)) {
          val fresh = System.currentTimeMillis() -
            fs.getFileStatus(p).getModificationTime <= grace
          if (fresh) throw new java.util.ConcurrentModificationException(
            s"another DML statement holds the partition claim '$rel' on " +
              s"$dir; retry after it commits, or break a crashed holder's " +
              "claim past graft.workspace.dmlLockGraceMs")
          fs.delete(p, false): Unit
        }
        val out = fs.create(p, false)
        try out.write(token.getBytes("UTF-8")) finally out.close()
        acquired += p
      }
      acquired.toSeq
    } catch { case t: Throwable =>
      acquired.foreach(p => fs.delete(p, false): Unit); throw t
    }
  }

  /** Delete ONLY claims still carrying `token` (a stale-broken-and-retaken
    * claim belongs to the new holder). */
  def releaseClaims(spark: SparkSession, paths: Seq[Path],
                    token: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    graft.Par.each(paths) { p =>
      val fs = p.getFileSystem(conf)
      if (tokenOf(spark, p).contains(token)) fs.delete(p, false): Unit
    }
  }

  /** Heartbeat the claims' mtimes at publish entry — the copy phase may
    * have outlived the grace (the table-lock [[refresh]] tradeoff).
    * Callers under the table lock verify tokens first ([[verifyClaims]]);
    * lock-free callers use the token-checked overload. */
  def refreshClaims(spark: SparkSession, paths: Seq[Path]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    graft.Par.each(paths) { p =>
      val fs = p.getFileSystem(conf)
      try fs.setTimes(p, System.currentTimeMillis(), -1)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** [[refreshClaims]] that only touches claims still carrying `token` —
    * for heartbeats taken WITHOUT the table lock (a broken-and-retaken
    * claim belongs to the new holder; extending its deadline is not this
    * statement's business). Best-effort: the token re-check at publish
    * remains the arbiter. */
  def refreshClaims(spark: SparkSession, paths: Seq[Path],
                    token: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    graft.Par.each(paths) { p =>
      val fs = p.getFileSystem(conf)
      try {
        if (tokenOf(spark, p).contains(token))
          fs.setTimes(p, System.currentTimeMillis(), -1)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}

private[graft] object WorkspaceDml {

  /** A session whose runtime conf is a private COPY of `spark`'s (same
    * SparkContext, shared catalog state) plus the given overrides — the
    * scoped alternative to set/restore on the shared session conf, which
    * every concurrent query on the session would observe (and which an
    * exception in another thread interleaves badly with). Static confs
    * that refuse runtime set are skipped: they are identical across
    * sessions by definition. */
  def isolatedSession(spark: SparkSession,
                      overrides: (String, String)*): SparkSession = {
    val iso = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      try iso.conf.set(k, v)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    overrides.foreach { case (k, v) => iso.conf.set(k, v) }
    iso
  }

  /** V1 `sources.Filter` → `Column`; None marks a filter this table cannot
    * evaluate (Spark then falls back to the row-level rewrite). */
  def toColumn(f: sources.Filter): Option[Column] = {
    def c(attr: String): Column = col(s"`${attr.replace("`", "``")}`")
    f match {
      case sources.EqualTo(a, v) => Some(c(a) === lit(v))
      case sources.EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
      case sources.GreaterThan(a, v) => Some(c(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
      case sources.LessThan(a, v) => Some(c(a) < lit(v))
      case sources.LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
      case sources.In(a, vs) => Some(c(a).isin(vs.toIndexedSeq: _*))
      case sources.IsNull(a) => Some(c(a).isNull)
      case sources.IsNotNull(a) => Some(c(a).isNotNull)
      case sources.StringStartsWith(a, v) => Some(c(a).startsWith(v))
      case sources.StringEndsWith(a, v) => Some(c(a).endsWith(v))
      case sources.StringContains(a, v) => Some(c(a).contains(v))
      case sources.AlwaysTrue() => Some(lit(true))
      case sources.AlwaysFalse() => Some(lit(false))
      case sources.And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
      case sources.Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
      case sources.Not(x) => toColumn(x).map(!_)
      case _ => None
    }
  }

  /** [[LogicalWriteInfo]] with a substituted schema (see [[ColumnIds.withDeclaredIds]]). */
  def withSchema(info: LogicalWriteInfo, s: StructType): LogicalWriteInfo =
    new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap = info.options()
      override def queryId(): String = info.queryId()
      override def schema(): StructType = s
      override def rowIdSchema(): java.util.Optional[StructType] = info.rowIdSchema()
      override def metadataSchema(): java.util.Optional[StructType] = info.metadataSchema()
    }
}

/** The [[WorkspaceCatalog]] table: Spark's own `ParquetTable` (every DSv2
  * read/write optimization unchanged) plus the row-level DML hooks. */
private[sources] class GraftWorkspaceTable(
    tableName: String,
    spark: SparkSession,
    dir: String,
    declared: Option[StructType])
  extends ParquetTable(tableName, spark, CaseInsensitiveStringMap.empty(),
    Seq(dir), declared, classOf[ParquetFileFormat])
  with SupportsDelete with SupportsRowLevelOperations {

  private[sources] def declaredSchema: Option[StructType] = declared

  /** Field-id reads ride EVERY scan of a workspace table: catalog-created
    * tables are id-stamped ([[ColumnIds.stamp]]), which makes
    * RENAME COLUMN metadata-only — the parquet reader matches columns by id
    * when the requested schema carries ids, so files written under an old
    * name still resolve. The option merges into the scan's hadoop conf
    * (never the session); id-less tables (fixtures) are untouched because
    * id-matching only engages when the requested schema has ids. */
  override def newScanBuilder(options: CaseInsensitiveStringMap):
      org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder =
    super.newScanBuilder(ColumnIds.withReadOption(options))

  /** V2 writes (the CTAS append) carry the query's metadata-less schema —
    * re-stamp the declared field ids so every file of an id-stamped table
    * carries them ([[ColumnIds.withDeclaredIds]]). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    super.newWriteBuilder(WorkspaceDml.withSchema(info,
      ColumnIds.withDeclaredIds(info.schema(), declared)))

  /** Fresh staging directory INSIDE the workspace (same filesystem, so the
    * commit swap is two renames, never a copy). The name is dot-prefixed
    * and suffixed past `.parquet`, so `listTables` never surfaces it. */
  private[sources] def stagingPath(): Path = {
    val real = new Path(dir)
    new Path(real.getParent,
      s".${real.getName}.__cow_${java.util.UUID.randomUUID().toString.take(8)}")
  }

  /** Commit: staging replaces the live directory. rename(live→trash),
    * rename(staging→live), delete(trash). A failed second rename
    * compensates by restoring the live dir; a CRASH between the renames
    * leaves the table readable from the trash name by hand — single-writer
    * DML is the contract (see class scaladoc). */
  private[sources] def swapIn(staging: Path): Unit = {
    val real = new Path(dir)
    val f = MetaFs.fs(spark, real)
    val trash = new Path(real.getParent,
      s".${real.getName}.__replaced_${java.util.UUID.randomUUID().toString.take(8)}")
    val hadLive = f.exists(real)
    if (hadLive && !f.rename(real, trash))
      throw new IllegalStateException(s"DML commit: could not retire $real")
    if (!f.rename(staging, real)) {
      if (hadLive) f.rename(trash, real): Unit // compensate
      throw new IllegalStateException(s"DML commit: could not publish $staging")
    }
    if (hadLive) f.delete(trash, true): Unit
    spark.catalog.refreshByPath(dir)
  }

  private[sources] def dropStaging(staging: Path): Unit = {
    val f = MetaFs.fs(spark, staging)
    if (f.exists(staging)) f.delete(staging, true): Unit
  }

  // ---- metadata-translatable DELETE (OptimizeMetadataOnlyDeleteFromTable) --

  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    filters.forall(WorkspaceDml.toColumn(_).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    // DELETE removes rows where the condition is TRUE; NULL keeps the row —
    // the kept set is NOT(coalesce(cond, false))
    val cond = filters.flatMap(WorkspaceDml.toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    // field-id reads for renamed columns: DataFrameReader OPTIONS are
    // case-insensitively lowercased and never match this SQLConf key, and
    // mutating the SHARED session conf around the job would leak the
    // altered value to every concurrent query on the session — so run the
    // read+write on an ISOLATED session (same SparkContext and catalog,
    // cloned runtime conf) with the key set only there
    val iso = WorkspaceDml.isolatedSession(spark,
      ColumnIds.ReadConf,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    WorkspaceDmlLock.withLock(spark, dir) {
      // the file LISTING happens at DataFrameReader.parquet — it must run
      // under the lock too, or a statement committing in between leaves
      // this one writing from a stale index (the fence's contract is
      // "acquired before any statement task reads table data")
      val remaining = declared.map(s => iso.read.schema(s)).getOrElse(iso.read)
        .parquet(dir).filter(!coalesce(cond, lit(false)))
      val staging = stagingPath()
      try {
        remaining.write.parquet(staging.toString)
        swapIn(staging)
      } catch { case t: Throwable => dropStaging(staging); throw t }
    }
  }

  // ---- group-based COW (UPDATE / MERGE / non-translatable DELETE) ---------

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = new CowOperation(
        opts => GraftWorkspaceTable.this.newScanBuilder(opts),
        declared, info.command(), s"${tableName}__cow",
        () => stagingPath(), swapIn, dropStaging, lockDir = Some(dir))
    }
}

/** Whole-group copy-on-write operation (see [[WorkspaceDml]]), shared by
  * the workspace catalog (the one group = the table directory, publish =
  * directory swap) and the snapshot catalog (publish = NEW immutable
  * version + pointer commit — old versions stay readable). Parametrized by
  * the full scan, the staging allocator, and the publish/discard moves. */
private[sources] class CowOperation(
    scanOf: CaseInsensitiveStringMap => ScanBuilder,
    declared: Option[StructType],
    cmd: Command,
    label: String,
    stage: () => Path,
    publish: Path => Unit,
    discard: Path => Unit,
    lockDir: Option[String] = None) extends RowLevelOperation {

  override def command(): Command = cmd
  override def description(): String = s"graft COW $cmd ($label)"

  /** FULL-table scan: a bare builder that implements NO pushdown trait, so
    * Spark keeps every predicate in the plan and the replacement query
    * sees every surviving row (inexact parquet row-group pruning under the
    * pushed command condition would DROP rows of skipped groups — the
    * whole-group replace makes any scan-side pruning a data-loss bug,
    * not an optimization). */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        scanOf(options).build()
    }

  /** Write = parquet batch write into a staging dir (Spark's own
    * vectorized writer, full task parallelism), job-commit = publish. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def description(): String = s"graft COW $cmd write ($label)"
        override def toBatch: BatchWrite = {
          // the DML fence (workspace tables only): acquired HERE — on the
          // driver, before any statement task reads table data — so two
          // concurrent statements never interleave read-copy-publish; the
          // loser aborts cleanly at its own toBatch
          val lock = lockDir.map(d =>
            WorkspaceDmlLock.acquire(SparkSession.active, d))
          val staging = stage()
          // re-stamp declared field ids: the COW rewrite's row schema comes
          // from the query plan and may have shed the id metadata
          val stamped = ColumnIds.withDeclaredIds(info.schema(), declared)
          // the staged files are DATA files a footer-built manifest may
          // later index — the write must emit INT64 TIMESTAMP_MICROS (see
          // Sinks.microsBound). FileWrite captures its conf from the
          // THREAD-LOCAL active session at toBatch, so an isolated session
          // swapped in around this one call is exactly per-writer scope
          val iso = WorkspaceDml.isolatedSession(SparkSession.active,
            "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
          val stagingTable = ParquetTable(
            label, iso,
            CaseInsensitiveStringMap.empty(), Seq(staging.toString),
            Some(stamped), classOf[ParquetFileFormat])
          val inner = {
            val prev = SparkSession.getActiveSession
            SparkSession.setActiveSession(iso)
            try stagingTable
              .newWriteBuilder(WorkspaceDml.withSchema(info, stamped))
              .build().toBatch
            finally prev match {
              case Some(p) => SparkSession.setActiveSession(p)
              case None => SparkSession.clearActiveSession()
            }
          }
          new BatchWrite {
            private def unlock(): Unit =
              lock.foreach(WorkspaceDmlLock.release(SparkSession.active, _))
            override def createBatchWriterFactory(
                p: PhysicalWriteInfo): DataWriterFactory =
              new OpStrippingWriterFactory(
                inner.createBatchWriterFactory(p), info.schema())
            override def useCommitCoordinator(): Boolean =
              inner.useCommitCoordinator()
            override def commit(msgs: Array[WriterCommitMessage]): Unit =
              try {
                inner.commit(msgs)
                publish(staging)
              } finally unlock()
            override def abort(msgs: Array[WriterCommitMessage]): Unit =
              try inner.abort(msgs)
              finally { discard(staging); unlock() }
          }
        }
      }
    }
}

/** Group-based `ReplaceData` rows arrive tagged: the rewrite prepends a
  * `__row_operation` INT (RowDeltaUtils.OPERATION_COLUMN) to every row, and
  * Spark's write exec only strips it when the operation requires METADATA
  * attributes (DataAndMetadataWritingSparkTask applies the row projection;
  * the metadata-less path hands the tagged row straight to the writer).
  * This table needs no metadata — the whole directory is the one group —
  * so the factory strips the tag itself: rows with exactly one extra
  * leading field project to the declared write schema via Spark's own
  * [[ProjectingInternalRow]] (ordinals 1..n, the rewrite's documented
  * layout `operation ++ dataAttrs`); rows already at the write schema pass
  * through untouched. Anything else is a loud error, never silent
  * misalignment. */
private class OpStrippingWriterFactory(
    inner: DataWriterFactory, writeSchema: StructType)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long):
      org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] {
      private val n = writeSchema.length
      private lazy val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
        writeSchema, (1 to n).toIndexedSeq)
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        if (row.numFields == n) w.write(row)
        else {
          require(row.numFields == n + 1,
            s"COW write expected $n or ${n + 1} fields, got ${row.numFields}")
          proj.project(row)
          w.write(proj)
        }
      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
      override def currentMetricsValues():
          Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        w.currentMetricsValues()
    }
  }
}
