package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import graft.compat.Compat
import graft.sources.{ColumnIds, FooterSchema, MetaFs, SnapshotRecord}

/** Sink / materialization operators — SURVEY §2.1 S4/S5/S8/S9 + §2.8 C2/C3.
  *
  * The reference's write path (`/root/reference/smartpy_arc/arc_utils.py:815-898`
  * `pandas_to_arc`) applies write-side type coercions (§1.2: int64→int32 when
  * in range else float64, bool→int32 — `arc_utils.py:792-800`), optionally
  * derives a point geometry from two scalar columns + a spatial reference id
  * (`x_col`/`y_col`/`srs`, `arc_utils.py:846-875`), honors an overwrite flag
  * (`TempOverwrite`, `arc_utils.py:121-135`), and can hand back a readback
  * cursor (`get_cursor`, `arc_utils.py:883-892`).
  * `pandas_to_features` (`arc_utils.py:901-953`) composes write + equi-join +
  * materialize; `polars_to_arc` (`arc_utils.py:1054-1120`) attaches geometry
  * encoding + CRS WKT as field metadata on the way out.
  *
  * Spark design: everything is one lazy plan ending in a parquet
  * `DataFrameWriter` — the coercion `select`, the point-struct `withColumn`,
  * and the join all stay inside whole-stage codegen and write directly from
  * executors (no driver materialization, unlike the reference's
  * numpy-in-driver round trip). At cluster scale the write parallelism equals
  * the upstream partitioning; callers repartition by a key column first when
  * downstream reads want co-location.
  */
object Sinks {

  /** Field-metadata keys the Arrow sink attaches (`arc_utils.py:1104-1112`). */
  val EncodingKey = "esri.encoding"
  val SrWktKey = "esri.sr_wkt"

  /** Every sink-owned parquet DATA write emits INT64 TIMESTAMP_MICROS
    * regardless of the session default. Spark 4 still defaults to
    * deprecated INT96, whose footer statistics are order-unreliable —
    * [[graft.sources.FooterStats]] must ignore them, so timestamp FILE
    * SKIPPING (manifests, per-leaf partition manifests) would be inert on
    * every table a default session writes. Per-WRITER, not session-wide:
    * the frame is re-rooted ([[org.apache.spark.sql.graftbridge.Bridge
    * .rebind]]) onto an ISOLATED session (same context/catalog, cloned
    * runtime conf — the [[graft.sources.WorkspaceDml.isolatedSession]]
    * pattern) with the key set only there, so concurrent queries on the
    * caller's session never observe the override and the driver contract's
    * own result dumps keep their session-default timestamp encoding.
    * Values are unaffected either way (both encodings round-trip Spark's
    * microsecond timestamps exactly); only footer-stats usability changes. */
  private[graft] def microsBound(df: DataFrame): DataFrame = {
    val key = "spark.sql.parquet.outputTimestampType"
    if (df.sparkSession.conf.getOption(key).contains("TIMESTAMP_MICROS")) df
    else org.apache.spark.sql.graftbridge.Bridge.rebind(df,
      graft.sources.WorkspaceDml.isolatedSession(
        df.sparkSession, key -> "TIMESTAMP_MICROS"))
  }

  /** S4 XY→point: derive a point-geometry struct from two scalar columns and
    * a spatial-reference id (`arc_utils.py:846-875`). */
  def withPointGeom(df: DataFrame, xCol: String, yCol: String, srid: Int,
                    geomCol: String = "geom"): DataFrame =
    df.withColumn(geomCol, struct(
      col(xCol).cast("double").as("x"),
      col(yCol).cast("double").as("y"),
      lit(srid).cast(IntegerType).as("srid")))

  /** S4 `pandas_to_arc`: coerce (write-side type rules) → optional XY→point →
    * write. `overwrite=false` reproduces the reference's default
    * error-on-existing (`arcpy` overwriteOutput, C2 `TempOverwrite`).
    * `format`: parquet (default; the only one carrying nested structs and
    * column stats), csv (header written), or json — mirroring the
    * reference's folder-workspace formats (SURVEY §2.1 note). */
  def writeTable(df: DataFrame, dir: String, name: String,
                 overwrite: Boolean = true,
                 xy: Option[(String, String, Int)] = None,
                 coerce: Boolean = true,
                 format: String = "parquet",
                 varcharMode: String = "truncate"): String = {
    val sized = enforceVarchar(df, varcharMode)
    val coerced = if (coerce) Compat.downcastLongs(sized) else sized
    val out = xy match {
      case Some((x, y, srid)) => withPointGeom(coerced, x, y, srid)
      case None => coerced
    }
    val path = s"$dir/$name.$format"
    val bound = if (format == "parquet") microsBound(out) else out
    val w = bound.write.mode(if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
    (if (format == "csv") w.option("header", "true") else w).format(format).save(path)
    path
  }

  /** Compacted parquet write — the small-files defense. A 1000-executor
    * job that writes one file per task leaves thousands of KB-sized files
    * per day; every later scan then pays a footer read and a scheduler
    * round per file (the classic small-files collapse). This sizes the
    * file count from the data: ceil(rows / targetRows) round-robin
    * partitions (even ±1 row spread, so every file lands within one row of
    * target), belt-and-braces capped by `maxRecordsPerFile`. The row count
    * is one driver-side scalar (the Compat min/max pattern); production
    * variants can size from SizeEstimator bytes or table statistics
    * instead. Returns the file count written. */
  def writeCompacted(df: DataFrame, path: String, targetRows: Long): Int = {
    val n = df.count()
    val files = math.max(1L, (n + targetRows - 1) / targetRows).toInt
    microsBound(df.repartition(files)).write.mode("overwrite")
      .option("maxRecordsPerFile", targetRows).parquet(path)
    files
  }

  /** Enforce `String(n)` lengths declared by [[FieldMap]] varchar metadata at
    * write time — the semantic of `copy_feats`' `fld_lens` resize
    * (`arc_utils.py:414-415` sets `outputField.length`; arcpy then truncates
    * longer values on copy). `mode`: "truncate" (arcpy behavior, default),
    * "error" (reject the write on the first oversize value — `raise_error`
    * stays codegen'd and distributed), "ignore" (length stays metadata-only).
    * Columns without the metadata key pass through untouched, so plain
    * writes never pay for this. */
  def enforceVarchar(df: DataFrame, mode: String = "truncate"): DataFrame = {
    val needsWork = df.schema.fields.exists(f =>
      f.dataType == org.apache.spark.sql.types.StringType &&
        f.metadata.contains(FieldMap.VarcharLenKey))
    if (!needsWork || mode == "ignore") df
    else {
      val cols = df.schema.fields.map { f =>
        if (f.dataType == org.apache.spark.sql.types.StringType &&
            f.metadata.contains(FieldMap.VarcharLenKey)) {
          val n = f.metadata.getLong(FieldMap.VarcharLenKey).toInt
          val c = mode match {
            case "truncate" => substring(col(f.name), 1, n)
            case "error" =>
              when(length(col(f.name)) > n, raise_error(concat(
                lit(s"value exceeds String($n) for field '${f.name}': "), col(f.name))))
                .otherwise(col(f.name))
            case other =>
              throw new IllegalArgumentException(s"unknown varcharMode '$other'")
          }
          c.as(f.name, f.metadata)
        } else col(f.name)
      }
      df.select(cols.toSeq: _*)
    }
  }

  /** S4 `get_cursor` readback: scan what was just written. Schema is
    * self-describing for parquet; pass one for csv/json (schema-on-read
    * formats infer strings otherwise). */
  def readBack(spark: SparkSession, dir: String, name: String,
               format: String = "parquet",
               schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.format(format)
    val r2 = schema.map(r.schema).getOrElse(r)
    (if (format == "csv") r2.option("header", "true") else r2)
      .load(s"$dir/$name.$format")
  }

  /** S9 `pandas_to_features`: write the attribute df to scratch, equi-join it
    * to the feature table, materialize the joined result, read it back. The
    * reference's scratch-gdb + AddIndex + AddJoin + CopyFeatures pipeline
    * (`arc_utils.py:923-953`) collapses to one Catalyst plan whose exchange
    * replaces the scratch round-trip; the through-scratch write is kept so
    * the on-disk artifact exists like the reference's (and so the join input
    * is the *written* table — write-side coercions included). */
  def joinMaterialize(spark: SparkSession,
                      attrs: DataFrame, features: DataFrame,
                      attrKey: String, featureKey: String,
                      keepCommon: Boolean,
                      scratchDir: String, outName: String): DataFrame = {
    writeTable(attrs, scratchDir, s"__build_$outName")
    val build = readBack(spark, scratchDir, s"__build_$outName")
    val joined = Joins.joinToFeatures(features, build, featureKey, attrKey,
      if (keepCommon) Joins.KeepCommon else Joins.KeepAll)
    Sinks.microsBound(joined).write.mode(SaveMode.Overwrite).parquet(s"$scratchDir/$outName.parquet")
    readBack(spark, scratchDir, outName)
  }

  // ---- versioned snapshot sink (atomic publish + time travel) -------------

  /** Versioned snapshot writes — the minimal atomic-publish / time-travel
    * protocol a 100 TB training-data pipeline needs when a full table
    * format (Iceberg/Delta) isn't in play. Every call lands a COMPLETE new
    * version under `<table>/v=N/` (a plain parquet folder, written with
    * full upstream parallelism), then commits by swapping the one-line
    * `_latest` pointer file atomically ([[MetaFs.replace]]).
    * Safe for GENUINELY CONCURRENT
    * independent writers — optimistic concurrency in two moves, the one
    * protocol every flat publisher shares (claim, then [[commitClaimed]]):
    *
    *  1. ALLOCATION is a compare-and-swap loop ([[claimNextVersion]]):
    *     compute next = max(folders, claims, pointer) + 1 and try to claim
    *     it with an atomic exclusive create of `_claims/v=N`
    *     ([[MetaFs.createExclusive]]). A lost race
    *     means another writer owns that number — its claim file is now
    *     visible, so the retry allocates past it. Claimed versions are
    *     exclusively owned: no two writers ever write the same `v=N`
    *     folder, and the committed sequence stays contiguous. On a table
    *     nobody else claims, this is max(folders) + 1.
    *  2. COMMIT is a REPAIR LOOP, not a blind swap ([[commitPointerCas]]):
    *     record `_commits/v=N` (create-if-absent, after the data lands),
    *     then loop — read the pointer, target = max(recorded commits), swap
    *     to the target if the pointer is behind, re-check. Each swap is one
    *     atomic rename ([[MetaFs.replace]]), so a read sees the old pointer
    *     or the new one; but the rename is last-writer-wins, so a slower
    *     writer whose target was listed before a newer record landed can
    *     demote the pointer. Its re-check sees the regression (the newer
    *     record is durable) and repairs it: every writer exits only when
    *     pointer ≥ max(recorded), so among writers that finish the pointer
    *     CONVERGES to the newest recorded commit. A writer that crashes
    *     right after a demoting swap leaves the pointer below a commit
    *     another writer already returned, until the next commit repairs it.
    *
    * Consequences:
    *  - a writer crash before the record leaves `_latest` on the previous
    *    complete version — readers NEVER see partial data; the orphaned
    *    folder is skipped (its number is not reused) until
    *    [[vacuumOrphans]] prunes it. A crash between record and swap
    *    leaves a complete, recorded version that the NEXT successful
    *    commit promotes;
    *  - published folders are immutable, so concurrent readers of any
    *    versions never conflict and a training run can pin the exact
    *    snapshot it consumed (reproducibility);
    *  - time travel = reading an explicit older version.
    *
    * `commitTsMicros` INJECTS the commit timestamp (micros since epoch) —
    * `None` records wall-clock. Injection exists so deterministic pipelines
    * (and the repo's own oracle faces) can pin `TIMESTAMP AS OF`
    * resolution without reading the system clock.
    *
    * Scale note: the claim/commit files are empty markers — per commit this
    * is O(1) tiny-file round-trips against the store, amortized over a
    * full-parallelism snapshot write; the loops retry only under actual
    * contention on the SAME table. Every version's data files carry the
    * table's parquet field ids ([[publishWithIds]]). Returns the
    * committed version number. */
  def writeSnapshot(df: DataFrame, tableDir: String,
                    commitTsMicros: Option[Long] = None): Int =
    publishWithIds(df.sparkSession, tableDir, df.schema, full = true) { rec =>
      publishClaimed(df.sparkSession, tableDir, commitTsMicros) { v =>
        microsBound(stamped(df, rec)).write.mode(SaveMode.Overwrite)
          .parquet(s"$tableDir/v=$v")
        SnapshotRecord.stage(df.sparkSession, s"$tableDir/v=$v", rec)
      }
    }

  // ---- column identity: every flat version is field-id-stamped -------------

  /** [[SnapshotRecord.publish]] onto the committed head. */
  private[graft] def publishWithIds[T](spark: SparkSession, tableDir: String,
                                       incoming: StructType, full: Boolean)(
      publish: StructType => T): T =
    SnapshotRecord.publish(spark, tableDir,
      // a pointer that cannot be read fails this publish's commit anyway;
      // binding no record then allocates fresh ids above the floor, which
      // are still unique
      try snapshotCommitted(spark, tableDir)
      catch { case scala.util.control.NonFatal(_) => None },
      incoming, full)(publish)

  /** `df` with the ids of `record` on its columns (by name). */
  private def stamped(df: DataFrame, record: StructType): DataFrame = {
    val s = ColumnIds.withDeclaredIds(df.schema, Some(record))
    if (s == df.schema) df
    else df.select(s.fields.toSeq.map(f =>
      df.col(ColumnIds.quoted(f.name)).as(f.name, f.metadata)): _*)
  }

  /** The `_commits/v=N` timestamp record, CREATE-IF-ABSENT: a
    * [[writeSnapshotAs]] REPLAY (crash recovery) re-commits an
    * already-committed version; overwriting its record would move the
    * wall-clock a prior TIMESTAMP AS OF resolved against. */
  private def writeCommitRecord(spark: SparkSession, tableDir: String,
                                version: Int, tsMicros: Option[Long]): Unit = {
    val ts = tsMicros.getOrElse(System.currentTimeMillis() * 1000L)
    // losing the create race to a replay IS the success outcome: the
    // record is present
    MetaFs.createExclusive(spark,
      new org.apache.hadoop.fs.Path(s"$tableDir/_commits/v=$version"),
      ts.toString): Unit
  }

  /** Atomic pointer swap ([[MetaFs.replace]]). */
  private def swapPointer(spark: SparkSession, tableDir: String,
                          version: Int): Unit =
    MetaFs.replace(spark,
      new org.apache.hadoop.fs.Path(tableDir, "_latest"), version.toString)

  /** Commit timestamps (micros) per version from the `_commits/` records,
    * restricted to versions AT OR BELOW the committed pointer (a
    * timestamped orphan — writer crashed between record and swap — must
    * not resolve). Tables published before timestamp records exist return
    * an empty map. */
  def snapshotCommitTimes(spark: SparkSession, tableDir: String): Map[Int, Long] = {
    val committed = snapshotCommitted(spark, tableDir).getOrElse(return Map.empty)
    recordedCommits(spark, tableDir).filter(_ <= committed)
      .flatMap(v => MetaFs.read(spark,
        new org.apache.hadoop.fs.Path(s"$tableDir/_commits/v=$v"))
        .map(ts => v -> ts.trim.toLong))
      .toMap
  }

  /** `TIMESTAMP AS OF` resolution: the newest committed version whose
    * commit time is ≤ `tsMicros`. Guided errors for pre-history timestamps
    * and for tables without commit records (pin by version there). */
  def snapshotVersionAt(spark: SparkSession, tableDir: String,
                        tsMicros: Long): Int = {
    val times = snapshotCommitTimes(spark, tableDir)
    if (times.isEmpty)
      throw new IllegalArgumentException(
        s"$tableDir has no commit-timestamp records (published before they existed, " +
          "or never committed); pin by VERSION AS OF <n> instead")
    val at = times.filter(_._2 <= tsMicros)
    if (at.isEmpty)
      throw new IllegalArgumentException(
        s"timestamp ${tsMicros}us predates the first commit of $tableDir " +
          s"(earliest ${times.values.min}us); no snapshot existed then")
    at.keys.max
  }

  /** OPTIMIZE for the snapshot sink: rewrite the committed version's ROWS
    * unchanged through [[writeCompacted]] (file count sized from the data)
    * into a NEW version and commit it — readers mid-compaction keep the
    * old version, the swap is the usual atomic pointer move, and the
    * small-files debt of many incremental publishes is paid without a
    * write outage. Returns the committed compacted version.
    *
    * Safe beside live writers (the SQL `snapshot_compact` face runs it, and
    * a SQL user cannot audit what else is committing to the table): the
    * compaction is a base-derived publish ([[publishDerived]]), so a
    * concurrent commit re-stages it against the new head, and a busy
    * table defers with `ConcurrentModificationException` — it never
    * overwrites a concurrent commit. */
  def compactSnapshot(spark: SparkSession, tableDir: String,
                      targetRows: Long): Int = {
    require(graft.sources.PartitionedSnapshot.partSpec(spark, tableDir).isEmpty,
      s"$tableDir is a PARTITIONED snapshot — a flat compaction would " +
        "destroy its layout; use PartitionedSnapshot.compactTable " +
        "(SQL snapshot_compact routes there)")
    publishDerived(spark, tableDir, "snapshot_compact", CompactStaging)(
      stageCompactedVersion(spark, tableDir, targetRows))
  }

  private val CompactStaging = ".compact_staging_"

  /** The rows a compaction of committed `base` must materialize: resolved
    * under the table's recorded schema, head names and served columns
    * only — a dropped column's bytes retire physically, and the compacted
    * files carry the ids of `record`, the record `base` serves. The fence
    * publishes only onto `base` itself (v == base + 1), so head semantics
    * OF base is exactly the unpinned read, race-free. */
  private def compactionRows(spark: SparkSession, tableDir: String,
                             base: Int, record: StructType): DataFrame =
    stamped(readSnapshotServed(spark, tableDir, base), record)

  /** Stage a compaction of committed `base` into `staged`: the
    * [[writeCompacted]] output plus its `_compaction` provenance stamp and
    * the record `base` serves, so all of them appear as `v=N` in the
    * fenced publish's ONE rename — the marker is visible from the folder's
    * first observable instant, preserving [[cachedMarker]]'s invariant
    * (markers appear atomically with their folder; a probe of a
    * half-written folder could otherwise permanently negative-cache the
    * `compact` kind). */
  private def stageCompactedVersion(spark: SparkSession, tableDir: String,
                                    targetRows: Long)(
      base: Int, staged: org.apache.hadoop.fs.Path): Boolean = {
    val record = headSchema(spark, tableDir, base)
    writeCompacted(compactionRows(spark, tableDir, base, record),
      staged.toString, targetRows): Unit
    MetaFs.stage(spark,
      new org.apache.hadoop.fs.Path(staged, "_compaction"), base.toString)
    SnapshotRecord.stage(spark, staged.toString, record)
    true
  }

  /** The version this compacted version materialized, if `v` was written
    * by a compaction (None for genuine rewrites — INSERT OVERWRITE — and
    * for pre-marker history). */
  def compactionBase(spark: SparkSession, tableDir: String,
                     v: Int): Option[Int] =
    cachedMarker[Int](spark, tableDir, v, "compact") {
      MetaFs.read(spark,
        new org.apache.hadoop.fs.Path(s"$tableDir/v=$v/_compaction"))
        .flatMap(_.trim.toIntOption)
    }

  /** [[writeSnapshot]] at a CALLER-CHOSEN version — the exactly-once hook
    * for streaming publishes: derive `version` deterministically from the
    * micro-batch id and a replayed batch (restart after a crash anywhere
    * between sink write and checkpoint commit) rewrites the SAME immutable
    * folder and re-swaps the pointer to the SAME value — idempotent by
    * construction, no side ledger. The pointer only ever moves forward:
    * the commit is the shared repair loop ([[commitPointerCas]]), which
    * leaves a pointer already at or past the newest recorded commit alone,
    * so a replay of an old batch can't demote a newer commit.
    *
    * Concurrency contract: the version is the CALLER's, not claimed, so
    * folder ownership rests on the caller's deterministic numbering — the
    * streaming-sink model this hook exists for, where a replay is a
    * re-execution of the same (single) writer. Independent writers on one
    * table use [[writeSnapshot]], whose claim files serialize allocation. */
  def writeSnapshotAs(df: DataFrame, tableDir: String, version: Int): Int =
    publishWithIds(df.sparkSession, tableDir, df.schema, full = true) { rec =>
      microsBound(stamped(df, rec)).write.mode(SaveMode.Overwrite)
        .parquet(s"$tableDir/v=$version")
      SnapshotRecord.stage(df.sparkSession, s"$tableDir/v=$version", rec)
      // a REPLAY rewrote the version's data files under new names, so any
      // manifest from the previous attempt enumerates files that no longer
      // exist — drop it first, then carry fresh (stale skipping would be
      // wrong; a missing manifest merely serves unpruned)
      val mp = new org.apache.hadoop.fs.Path(s"$tableDir/_manifest/v=$version")
      val mfs = mp.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
      if (mfs.exists(mp)) mfs.delete(mp, true): Unit
      carryManifest(df.sparkSession, tableDir, version)
      commitPointerCas(df.sparkSession, tableDir, version, tsMicros = None)
      version
    }

  // ---- optimistic multi-writer commits -------------------------------------

  /** Versions already CLAIMED by some writer (data may not exist yet). */
  private def claimedVersions(spark: SparkSession, tableDir: String): Seq[Int] =
    MetaFs.versions(spark, new org.apache.hadoop.fs.Path(s"$tableDir/_claims"))

  /** Every version with a commit RECORD, pointer-independent (unlike
    * [[snapshotCommitTimes]], which is the read-side view). */
  private def recordedCommits(spark: SparkSession, tableDir: String): Seq[Int] =
    MetaFs.versions(spark, new org.apache.hadoop.fs.Path(s"$tableDir/_commits"))

  /** The publish every unfenced flat writer shares: claim the next version
    * ([[claimNextVersion]]), `land` its folder, then [[commitClaimed]]. */
  private[graft] def publishClaimed(spark: SparkSession, tableDir: String,
                                    tsMicros: Option[Long] = None)
                                   (land: Int => Unit): Int =
    commitClaimed(spark, tableDir, claimNextVersion(spark, tableDir),
      tsMicros)(land)

  /** Commit a version this writer has CLAIMED: `land` its folder, carry
    * the manifest, then the repair-loop pointer commit. Any failure
    * releases the claim unless the commit already recorded. */
  private def commitClaimed(spark: SparkSession, tableDir: String, v: Int,
                            tsMicros: Option[Long])(land: Int => Unit): Int = {
    val claim = new org.apache.hadoop.fs.Path(s"$tableDir/_claims/v=$v")
    val beat = ClaimBeats.scheduleWithFixedDelay(() =>
      try MetaFs.touch(spark, claim)
      catch { case scala.util.control.NonFatal(_) => () },
      ClaimBeatMs, ClaimBeatMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    try {
      land(v)
      carryManifest(spark, tableDir, v)
      commitPointerCas(spark, tableDir, v, tsMicros)
    } catch { case scala.util.control.NonFatal(e) =>
      releaseClaimIfUnpublished(spark, tableDir, v); throw e
    } finally beat.cancel(false)
    v
  }

  /** While [[commitClaimed]] lands and commits, the holder refreshes its
    * claim's modification time every [[ClaimBeatMs]], so a waiting
    * [[publishDerived]] can tell a live writer from a crashed one: a claim
    * not refreshed for [[ClaimLeaseMs]] (ten missed beats) has no live
    * holder. A lapse on a live one only makes the waiter defer early. */
  private val ClaimBeatMs = 200L
  private val ClaimLeaseMs = 10 * ClaimBeatMs

  private lazy val ClaimBeats =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-claim-heartbeat"); t.setDaemon(true); t
    }

  /** Waits while the claim at `bound + 1` is live — until the pointer
    * leaves `bound`, the claim goes, or its lease lapses. */
  private def awaitClaim(spark: SparkSession, tableDir: String,
                         bound: Int): Unit = {
    val claim = new org.apache.hadoop.fs.Path(s"$tableDir/_claims/v=${bound + 1}")
    val fs = MetaFs.fs(spark, claim)
    def live = try System.currentTimeMillis() -
        fs.getFileStatus(claim).getModificationTime <= ClaimLeaseMs
      catch { case _: java.io.FileNotFoundException => false }
    while (live && snapshotCommitted(spark, tableDir).contains(bound))
      Thread.sleep(ClaimBeatMs)
  }

  /** Publish an ALREADY-STAGED data folder as the next snapshot version,
    * with a COMPLETE lost-update fence for writers whose staged output
    * DERIVES from a specific base version (thin merge-on-read deltas,
    * copy-on-write DML, partitioned-snapshot publishes): the claim must be
    * the IMMEDIATE successor of `expectedBase` — claims serialize
    * allocation (atomic exclusive create), so `v == base + 1` proves no
    * other writer even CLAIMED since the caller bound the base; any
    * intervening claim aborts the publish (claim released, staging
    * deleted, `ConcurrentModificationException`) instead of silently
    * chaining past the other writer's changes. This closes the window a
    * committed-pointer re-read leaves open (two writers can both pass a
    * pointer check before either swaps; they cannot both claim
    * `base + 1`). On success: ONE same-filesystem rename of the staged
    * folder into `v=N`, then [[commitClaimed]]. A crash after the rename
    * but before the record leaves an unrecorded orphan that never
    * resolves.
    *
    * Liveness trade: a CRASHED claimed writer holds `base + 1` and fails
    * every fenced publish until [[vacuumOrphans]] ages its claim out —
    * the standard optimistic-concurrency deadline, not a correctness
    * hole. */
  def publishStagedSnapshotFenced(spark: SparkSession, tableDir: String,
                                  staged: org.apache.hadoop.fs.Path,
                                  expectedBase: Int,
                                  tsMicros: Option[Long] = None): Int = {
    val f = staged.getFileSystem(spark.sessionState.newHadoopConf())
    val v = claimNextVersion(spark, tableDir)
    if (v != expectedBase + 1) {
      releaseClaim(spark, tableDir, v)
      f.delete(staged, true)
      throw new java.util.ConcurrentModificationException(
        s"fenced publish at $tableDir: staged output derives from " +
          s"v=$expectedBase but another writer claimed in between; " +
          "re-read and retry")
    }
    commitClaimed(spark, tableDir, v, tsMicros) { v =>
      val dest = new org.apache.hadoop.fs.Path(tableDir, s"v=$v")
      if (!f.rename(staged, dest))
        throw new IllegalStateException(s"publish: rename $staged -> $dest failed")
    }
  }

  /** Attempts a base-derived publish makes before it defers. */
  private val DerivedAttempts = 5

  /** The one retry shell of every publish whose output DERIVES from the
    * committed head — compaction and the partitioned appends, drops, row
    * deletes and compactions: bind the head (`base` instead, on the first
    * attempt, when given), `stage` against it into a fresh staging dir
    * (`prefix` plus a random suffix) that this shell OWNS — deleted on a
    * throw, and when `stage` returns false (nothing to publish: the bound
    * head is returned) — then [[publishStagedSnapshotFenced]]. A lost fence means another writer
    * claimed in between, so the staged output derives from a stale base:
    * re-bind and re-stage, `attempts` times in all, then throw
    * `ConcurrentModificationException` — a busy table defers, it never
    * overwrites a concurrent commit. An attempt whose bound head already
    * has a claim or a folder at head+1 cannot win the fence: it is lost
    * without staging, and the next one first waits while that claim is
    * live ([[awaitClaim]]: a live writer's commit moves the head). A
    * crashed writer's claim lapses after [[ClaimLeaseMs]], and from then
    * on every attempt is lost at once until [[vacuumOrphans]] ages the
    * claim out — even one that would have had nothing to publish, since
    * only staging would tell. */
  private[graft] def publishDerived(spark: SparkSession, tableDir: String,
                                    op: String, prefix: String,
                                    attempts: Int = DerivedAttempts,
                                    base: Option[Int] = None)(
      stage: (Int, org.apache.hadoop.fs.Path) => Boolean): Int = {
    val fs = MetaFs.fs(spark, new org.apache.hadoop.fs.Path(tableDir))
    var attempt = 0
    while (attempt < attempts) {
      val bound = base.filter(_ => attempt == 0)
        .orElse(snapshotCommitted(spark, tableDir))
        .getOrElse(throw new IllegalStateException(
          s"no committed snapshot at $tableDir"))
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$tableDir/_claims/v=${bound + 1}")) ||
          fs.exists(new org.apache.hadoop.fs.Path(s"$tableDir/v=${bound + 1}"))) {
        attempt += 1
        if (attempt < attempts) awaitClaim(spark, tableDir, bound)
      } else {
        val staging = new org.apache.hadoop.fs.Path(tableDir,
          prefix + java.util.UUID.randomUUID().toString.take(8))
        try {
          if (!stage(bound, staging)) return bound
          try return publishStagedSnapshotFenced(spark, tableDir, staging, bound)
          catch { case _: java.util.ConcurrentModificationException =>
            attempt += 1 }
        } finally if (fs.exists(staging)) fs.delete(staging, true): Unit
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"$op at $tableDir: lost the claim race $attempts times to concurrent " +
        "writers; retry when the table quiesces")
  }

  /** MANIFEST CONTINUITY: a DML/overwrite/compaction on a manifest-bearing
    * table must not silently lose the planning index — at 100 TB the
    * manifest IS the difference between a one-file planning read and a
    * full footer sweep, and one UPDATE dropping it would be invisible
    * until the latency regression. Called with the new version's data in
    * place but BEFORE the pointer commit (readers never observe a
    * manifest-less window, and a partial manifest of an uncommitted
    * version can never mis-skip — uncommitted versions never resolve).
    * Carries the stats columns of the newest older manifest-bearing
    * version, restricted to columns the new schema still has; THIN and
    * BUCKETED versions are skipped (they serve through the resolver /
    * bucketed scan, not the manifest path). NON-FATAL: the manifest is an
    * optimization — a failure must not fail a statement whose data is
    * already correct. */
  private def carryManifest(spark: SparkSession, tableDir: String,
                            v: Int): Unit =
    try {
      // manifest-less tables short-circuit on ONE listing — never an
      // O(#versions) probe walk per commit
      val mroot = new org.apache.hadoop.fs.Path(s"$tableDir/_manifest")
      val fs = mroot.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(mroot)) return
      if (graft.sources.ManifestPrune.exists(spark, tableDir, v)) return
      if (thinBase(spark, tableDir, v).isDefined ||
          bucketedLayout(spark, tableDir, v).isDefined) return
      val prev = snapshotVersions(spark, tableDir).filter(_ < v).reverse
        .find(p => graft.sources.ManifestPrune.exists(spark, tableDir, p))
        .getOrElse(return)
      val statsCols = FooterSchema
        .require(spark, graft.sources.ManifestPrune.manifestDir(tableDir, prev))
        .fieldNames.filter(_.startsWith("min_")).map(_.drop(4)).toSeq
      // schema inference reads footers, not data — the whole carry stays
      // metadata-only (the r14 wart was a FULL data re-read of the version
      // just published, a 2× write-path I/O tax at 100 TB; the footers
      // already hold the same min/max, plus null counts the agg never had)
      val writtenSchema = FooterSchema.require(spark, s"$tableDir/v=$v")
      val cols = statsCols.filter(writtenSchema.fieldNames.contains)
      if (cols.isEmpty) return
      // temp dir + ONE rename: a manifest must appear COMPLETE or not at
      // all — ManifestPrune trusts it to enumerate every file, so a
      // half-written directory would silently skip rows (and an empty one
      // would fail every read on schema inference)
      val tmp = new org.apache.hadoop.fs.Path(mroot,
        s".carry_v${v}_${java.util.UUID.randomUUID().toString.take(8)}")
      try {
        graft.sources.FooterStats
          .manifestFrame(spark, s"$tableDir/v=$v", writtenSchema, cols)
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        val dest = new org.apache.hadoop.fs.Path(mroot, s"v=$v")
        if (!fs.exists(dest) && !fs.rename(tmp, dest))
          throw new IllegalStateException(s"manifest carry: rename to $dest failed")
      } finally if (fs.exists(tmp)) fs.delete(tmp, true): Unit
    } catch {
      case scala.util.control.NonFatal(e) =>
        // belt and braces: never leave a PARTIAL manifest behind — a
        // missing manifest degrades to unpruned planning, a broken one
        // breaks every read
        try {
          val p = new org.apache.hadoop.fs.Path(s"$tableDir/_manifest/v=$v")
          val f = p.getFileSystem(spark.sessionState.newHadoopConf())
          if (f.exists(p)) f.delete(p, true): Unit
        } catch { case scala.util.control.NonFatal(_) => () }
        org.slf4j.LoggerFactory.getLogger(Sinks.getClass).warn(
          s"manifest carry for $tableDir v=$v failed; the version commits " +
            "without a manifest (unpruned planning) — rewrite it with " +
            "writeSnapshotWithManifest to restore file skipping", e)
    }

  /** Delete OUR claim file — claims are exclusively owned, so the holder
    * may release unconditionally. */
  private def releaseClaim(spark: SparkSession, tableDir: String,
                           v: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$tableDir/_claims/v=$v")
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, false): Unit
  }

  /** Failure-path claim release for every post-claim publish body: a
    * claim whose publish never LANDED (no commit record) must not outlive
    * the failure — a leaked claim at `base+1` makes every later fenced
    * publish forfeit with `ConcurrentModificationException` until a
    * janitor runs, silently wedging the table (the triggering error is
    * often swallowed by a non-fatal wrapper). Releasing is always safe
    * here: allocation maxes over FOLDERS too, so a partially-written
    * `v=N` folder still blocks number reuse until [[vacuumOrphans]]
    * retires both together; a RECORDED commit keeps its claim (the repair
    * loop will promote it — that publish did land). Never throws — this
    * runs inside failure paths that must surface the original error. */
  private def releaseClaimIfUnpublished(spark: SparkSession, tableDir: String,
                                        v: Int): Unit =
    try {
      if (!recordedCommits(spark, tableDir).contains(v))
        releaseClaim(spark, tableDir, v)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The CAS allocation loop (move 1 of [[writeSnapshot]]'s protocol),
    * shared by every claiming publisher: max over folders, claims and the
    * pointer, then try to claim — a lost race re-reads past the winner's
    * now-visible claim. */
  private def claimNextVersion(spark: SparkSession, tableDir: String): Int = {
    var v = 0
    while (v == 0) {
      val next = (snapshotVersions(spark, tableDir) ++
        claimedVersions(spark, tableDir) ++
        snapshotCommitted(spark, tableDir).toSeq).foldLeft(0)(math.max) + 1
      if (MetaFs.createExclusive(spark,
          new org.apache.hadoop.fs.Path(s"$tableDir/_claims/v=$next"))) v = next
    }
    v
  }

  /** Repair-loop attempts without pointer progress before the commit gives
    * up and surfaces the last swap error. */
  private val CommitStallLimit = 100

  /** The repair-loop commit (move 2 of [[writeSnapshot]]'s protocol), the
    * ONE pointer commit every snapshot publisher shares. The commit
    * timestamp record (`_commits/v=N`, the `TIMESTAMP AS OF` resolution
    * metadata) lands BEFORE any swap, so a commit is never visible without
    * its time; a crash between record and swap leaves a timestamped orphan
    * that stays invisible (resolution only considers versions at or below
    * the pointer) until the next commit promotes it. The loop then swaps
    * the pointer to max(recorded commits) until it reads at or past it — a
    * pointer already there is left alone; a swap whose listing a newer
    * record overtook can demote it, and the re-check repairs that (the
    * crash window this leaves is in [[writeSnapshot]]'s protocol).
    * Bounded: after [[CommitStallLimit]] attempts in a row without pointer
    * progress (a `_latest` the store refuses to replace, say) it rethrows
    * the last swap error, backing off between failed swaps. */
  private def commitPointerCas(spark: SparkSession, tableDir: String,
                               version: Int, tsMicros: Option[Long]): Unit = {
    writeCommitRecord(spark, tableDir, version, tsMicros)
    var best = Int.MinValue
    var stalled = 0
    var last: Throwable = null
    while (true) {
      // a pointer that cannot be read counts as behind: the swap below
      // replaces it
      val cur =
        try snapshotCommitted(spark, tableDir).getOrElse(0)
        catch { case scala.util.control.NonFatal(_) => -1 }
      val target = recordedCommits(spark, tableDir).foldLeft(version)(math.max)
      if (cur >= target) return
      if (cur > best) { best = cur; stalled = 0 }
      else if (stalled >= CommitStallLimit)
        throw Option(last).getOrElse(new IllegalStateException(
          s"snapshot commit at $tableDir: the pointer did not reach v=$target"))
      stalled += 1
      // the loop's re-check IS the retry: convergence only needs SOME
      // writer's swap to land
      try swapPointer(spark, tableDir, target)
      catch { case scala.util.control.NonFatal(e) =>
        last = e
        Thread.sleep(math.min(2L * stalled, 50L))
      }
    }
  }

  /** Version folders present on disk (committed or orphaned), ascending.
    * Folder presence drives version-number allocation; ONLY the `_latest`
    * pointer decides what an unpinned read serves. */
  def snapshotVersions(spark: SparkSession, tableDir: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(tableDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .flatMap(st => MetaFs.versionOf(st.getPath.getName))
      .sorted
  }

  /** The version `_latest` points at; None before the first commit. */
  def snapshotCommitted(spark: SparkSession, tableDir: String): Option[Int] =
    MetaFs.read(spark,
      new org.apache.hadoop.fs.Path(tableDir, "_latest")).map(_.trim.toInt)

  /** Read the committed snapshot, or an explicit pinned `version` (time
    * travel). Unpinned reads NEVER trust folder listings — only the
    * atomically-swapped pointer — so a concurrent or crashed writer is
    * invisible. Columns resolve by parquet field id ([[ColumnIds]]): an
    * UNPINNED read serves the head's record after any metadata-only
    * ALTER ([[declaredSnapshotSchema]] — files written before an ADD
    * null-fill, renamed columns keep matching old files); a PINNED read
    * serves the schema recorded for its version (history is immutable,
    * including its shape and names). */
  def readSnapshot(spark: SparkSession, tableDir: String,
                   version: Option[Int] = None): DataFrame = {
    // PARTITIONED snapshots resolve through their carry manifests — a
    // flat folder read of a carry-bearing version would silently miss
    // every carried partition
    if (graft.sources.PartitionedSnapshot.partSpec(spark, tableDir).isDefined)
      return graft.sources.PartitionedSnapshot.read(spark, tableDir, version)
    val v = version.orElse(snapshotCommitted(spark, tableDir)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $tableDir"))
    if (version.isDefined) resolveAt(spark, tableDir, v, versionSchema(spark, tableDir, v))
    else readSnapshotServed(spark, tableDir, v)
  }

  /** [[SnapshotRecord.alter]] on the committed head; the caller holds
    * the table's DDL lock. */
  def alterSnapshotSchema(spark: SparkSession, tableDir: String)(
      change: (StructType, Long) => StructType): Unit = {
    val head = snapshotCommitted(spark, tableDir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $tableDir"))
    SnapshotRecord.alter(spark, tableDir, head,
      versionSchema(spark, tableDir, head))(change)
  }

  /** Replace the record the committed head serves by `schema` (an ALTER
    * whose result is given whole), as [[alterSnapshotSchema]]. */
  def declareSnapshotSchema(spark: SparkSession, tableDir: String,
                            schema: StructType): Unit =
    alterSnapshotSchema(spark, tableDir)((_, _) => schema)

  /** The record an unpinned read serves now, tombstones included; None
    * for a table with no committed version, or one published before ids
    * were recorded. */
  def declaredSnapshotSchema(spark: SparkSession, tableDir: String):
      Option[StructType] =
    snapshotCommitted(spark, tableDir)
      .flatMap(SnapshotRecord.at(spark, tableDir, _))

  /** The schema an UNPINNED read serves: the record minus dropped-column
    * tombstones. */
  def servedSnapshotSchema(spark: SparkSession, tableDir: String):
      Option[StructType] =
    declaredSnapshotSchema(spark, tableDir).map(ColumnIds.live)

  // ---- merge-on-read deletes (thin versions) -------------------------------

  /** Declare the snapshot table's ROW-IDENTITY columns (Iceberg's
    * "identifier fields"): once declared, the SQL catalog's DELETE takes
    * the THIN merge-on-read path — the matched rows' keys are published as
    * an O(keys) delta instead of a whole-table copy-on-write rewrite.
    * Declaring keys ASSERTS uniqueness: a thin delete removes every row
    * sharing a matched key, which equals predicate-delete exactly when the
    * key identifies one row (the same contract thin upserts already
    * enforce batch-side). Stored as a one-line `_keycols` file of field
    * ids (a RENAME never touches it), replaced atomically (every DELETE
    * plan parses it); idempotent re-declaration overwrites. */
  def declareSnapshotKeys(spark: SparkSession, tableDir: String,
                          keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "key columns must be non-empty")
    MetaFs.replace(spark, new org.apache.hadoop.fs.Path(tableDir, "_keycols"),
      ColumnIds.idsOf(recordOf(spark, tableDir), keyCols)
        .mkString(","))
  }

  /** The declared row-identity columns under their current names, None if
    * never declared. */
  def snapshotDeclaredKeys(spark: SparkSession,
                           tableDir: String): Option[Seq[String]] =
    MetaFs.read(spark,
      new org.apache.hadoop.fs.Path(tableDir, "_keycols"))
      .map(txt => ColumnIds.keyNames(recordOf(spark, tableDir),
        txt.trim.split(',').toSeq.map(_.trim)))

  /** [[declaredSnapshotSchema]], required. */
  private[graft] def recordOf(spark: SparkSession, tableDir: String): StructType =
    declaredSnapshotSchema(spark, tableDir).getOrElse(
      throw new IllegalStateException(s"$tableDir records no schema — " +
        "publish a version first"))

  /** Publish a TASK-STAGED thin delta (the `SupportsDelta` SQL DML path:
    * executors already wrote `_deletes`/`_upserts` parquet parts into
    * `staged` — the delta is written exactly once). Same contract as
    * [[deleteSnapshotKeys]]/[[upsertSnapshotRows]]: duplicate-upsert-key
    * integrity gate, `_base` marker, FENCED claim publish (abort on a
    * concurrent writer), change-data-feed landing. An empty delta (the
    * statement matched nothing) publishes NO version and returns the
    * bound base — replayed no-op statements leave history untouched. */
  private[graft] def publishThinStagedDelta(spark: SparkSession,
                                            tableDir: String,
                                            keyCols: Seq[String],
                                            expectedBase: Int,
                                            staged: org.apache.hadoop.fs.Path,
                                            record: StructType): Int = {
    val fs = staged.getFileSystem(spark.sessionState.newHadoopConf())
    def deltaDir(name: String): Option[String] = {
      val p = new org.apache.hadoop.fs.Path(staged, name)
      if (!fs.exists(p)) None
      else if (!fs.listStatus(p).exists(st =>
          st.isFile && st.getPath.getName.endsWith(".parquet"))) {
        // a zero-row part set: the dir must go, or the resolver would try
        // to infer a schema from an empty folder
        fs.delete(p, true): Unit
        None
      } else Some(p.toString)
    }
    val ups = deltaDir("_upserts")
    val dels = deltaDir("_deletes")
    if (ups.isEmpty && dels.isEmpty) {
      fs.delete(staged, true): Unit
      return expectedBase
    }
    ups.foreach { u =>
      val kc = keyCols.map(col)
      val dup = FooterSchema.read(spark, u).groupBy(kc: _*)
        .count().filter(col("count") > 1)
      if (!dup.isEmpty) {
        fs.delete(staged, true): Unit
        throw new IllegalArgumentException(
          "delta carries duplicate upsert keys (first: " + dup.head().toString +
            ") — a MERGE source must be unique per key")
      }
    }
    stageThinMeta(spark, staged, expectedBase, keyCols, record)
    val v = publishStagedSnapshotFenced(spark, tableDir, staged, expectedBase)
    if (changeFeedEnabled(spark, tableDir))
      landChangeFeedSafe(spark, tableDir, v, thinChangeRows(spark, tableDir, v))
    autoCompactIfDeep(spark, tableDir, v)
    v
  }

  /** A thin version's metadata riders, staged so they arrive with its
    * delta parts in ONE rename: the `_base.json` marker — two lines,
    * "<base>\n<key field ids>", an empty second line for a keyless
    * APPEND — and the version's own record ([[SnapshotRecord.stage]]). */
  private def stageThinMeta(spark: SparkSession,
                            staged: org.apache.hadoop.fs.Path, base: Int,
                            keyCols: Seq[String],
                            record: StructType): Unit = {
    MetaFs.stage(spark, new org.apache.hadoop.fs.Path(staged, "_base.json"),
      s"$base\n${ColumnIds.idsOf(record, keyCols).mkString(",")}")
    SnapshotRecord.stage(spark, staged.toString, record)
  }

  // ---- change data feed -----------------------------------------------------

  /** Opt a snapshot table into a CHANGE DATA FEED: every subsequent thin
    * commit ([[deleteSnapshotKeys]]/[[upsertSnapshotRows]]) also lands ONE
    * parquet file of its change rows into the table's visible `cdf/`
    * directory — schema = base columns + `__change` ('delete'|'upsert') +
    * `__version`. Spark's own FILE STREAMING SOURCE over `cdf/` is then
    * the change stream: exactly-once via the stream's file log, atomic
    * per-commit visibility via the single-file rename, zero extra reads of
    * the table. This is the Delta/Iceberg CDF trade stated plainly: the
    * writer pays O(delta) once so every downstream incremental consumer
    * (index refresh, cache invalidation, re-embedding) avoids re-diffing
    * 100 TB. Thin commits ONLY — a materialized rewrite is a snapshot, not
    * a change set; diff those with [[snapshotDiff]]. A crash between the
    * version commit and the feed landing drops that version's feed file;
    * [[repairChangeFeed]] re-derives it from the version's own
    * `_deletes`/`_upserts` (idempotent by file name). */
  def enableChangeFeed(spark: SparkSession, tableDir: String): Unit = {
    val cdf = new org.apache.hadoop.fs.Path(tableDir, "cdf")
    MetaFs.fs(spark, cdf).mkdirs(cdf): Unit
    // record the ENABLE POINT (the committed version at enable time): the
    // feed starts here — repair must never fabricate feed files for older
    // commits, which live consumers would replay OUT OF ORDER. Already
    // enabled keeps its original point.
    MetaFs.createExclusive(spark,
      new org.apache.hadoop.fs.Path(tableDir, "_cdf_enabled"),
      snapshotCommitted(spark, tableDir).getOrElse(0).toString): Unit
  }

  def changeFeedEnabled(spark: SparkSession, tableDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(tableDir, "_cdf_enabled")
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** The version the feed was enabled AT — commits at or below it never
    * feed (an empty/legacy marker reads as 0: everything feeds). */
  private def changeFeedSince(spark: SparkSession, tableDir: String): Int =
    MetaFs.read(spark,
      new org.apache.hadoop.fs.Path(tableDir, "_cdf_enabled"))
      .map(_.trim.toIntOption.getOrElse(0)).getOrElse(Int.MaxValue)

  /** The feed's read schema for a table (base columns + change metadata) —
    * what a `readStream.schema(...)` consumer passes. */
  def changeFeedSchema(spark: SparkSession, tableDir: String):
      StructType = {
    // UNPINNED read: an evolved table's feed carries the served schema
    val committed = snapshotCommitted(spark, tableDir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $tableDir"))
    ColumnIds.live(headSchema(spark, tableDir, committed))
      .add("__change", org.apache.spark.sql.types.StringType)
      .add("__version", org.apache.spark.sql.types.IntegerType)
  }

  /** Change rows of committed thin version `v`, derived from its own
    * delta parts under the schema recorded for it: live columns +
    * `__change` + `__version`, delete rows null-filling the non-key
    * columns. Every column keeps its field id, so later RENAMEs and
    * DROPs resolve feed files like data files. */
  private def thinChangeRows(spark: SparkSession, tableDir: String,
                             v: Int): DataFrame = {
    val schema = versionSchema(spark, tableDir, v)
    val live = ColumnIds.live(schema)
    val (dels, ups) = deltaParts(spark, tableDir, v, schema,
      ColumnIds.keyNames(schema, thinBase(spark, tableDir, v).map(_._2).getOrElse(Nil)))
    def conform(df: DataFrame, change: String): DataFrame =
      df.select(live.fields.toSeq.map(f =>
        (if (df.columns.contains(f.name)) col(ColumnIds.quoted(f.name))
         else lit(null).cast(f.dataType)).as(f.name, f.metadata)): _*)
        .withColumn("__change", lit(change))
        .withColumn("__version", lit(v))
    (dels.map(d => conform(d.distinct(), "delete")).toSeq ++
      ups.map(conform(_, "upsert")).toSeq).reduce(_ unionByName _)
  }

  /** Land one committed thin version's change rows as `cdf/v{N}.parquet`
    * (single file per commit — the commit's delta IS the grain): write to
    * a staging dir, ONE rename in. Idempotent: an existing feed file for
    * the version is left untouched. */
  private def landChangeFeed(spark: SparkSession, tableDir: String, v: Int,
                             rows: DataFrame): Unit = {
    val dest = new org.apache.hadoop.fs.Path(s"$tableDir/cdf/v$v.parquet")
    val fs = dest.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(dest)) return
    val tmp = new org.apache.hadoop.fs.Path(tableDir,
      s".cdf_staging_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      microsBound(rows.coalesce(1)).write.parquet(tmp.toString)
      val part = fs.listStatus(tmp).toSeq
        .find(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no parquet part in $tmp"))
      fs.mkdirs(dest.getParent): Unit
      if (!fs.rename(part.getPath, dest) && !fs.exists(dest))
        throw new IllegalStateException(s"change feed: rename to $dest failed")
    } finally { if (fs.exists(tmp)) fs.delete(tmp, true): Unit }
  }

  /** Batch SQL face of the change feed — Delta's `table_changes` TVF shape
    * (`SELECT * FROM table_changes('snap.t', fromV, toV)` once the graft
    * extensions are active): the change rows of every thin commit with
    * `fromV <= version <= toV`, read straight off the landed `cdf/`
    * files — zero table reads, zero re-diffing; the result is exactly the
    * per-commit grain the stream consumer sees, now addressable from
    * batch SQL by version range. Guardrails are Delta's too: the feed
    * must be enabled, the range must start past the enable point, and a
    * MATERIALIZED version inside the range (INSERT OVERWRITE, compaction)
    * errors with guidance — a rewrite has no change grain; diff it with
    * [[snapshotDiff]]. A committed thin version whose feed file is
    * missing (landing crash) errors toward [[repairChangeFeed]] rather
    * than silently dropping its changes. */
  def tableChanges(spark: SparkSession, tableDir: String,
                   fromV: Int, toV: Int): DataFrame = {
    require(changeFeedEnabled(spark, tableDir),
      s"change feed is not enabled on $tableDir (Sinks.enableChangeFeed)")
    val committed = snapshotCommitted(spark, tableDir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $tableDir"))
    require(fromV >= 1 && toV >= fromV && toV <= committed,
      s"table_changes range [$fromV, $toV] must be within [1, $committed]")
    val since = changeFeedSince(spark, tableDir)
    require(fromV > since,
      s"change feed on $tableDir starts after v=$since (the enable point); " +
        s"requested from v=$fromV")
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val files: Seq[String] = (fromV to toV).flatMap { v =>
      val feed = new org.apache.hadoop.fs.Path(s"$tableDir/cdf/v$v.parquet")
      if (thinBase(spark, tableDir, v).isEmpty) {
        // a COMPACTION's change grain is exactly empty (its rows are the
        // prior committed state, re-materialized) — it contributes nothing
        // and the range keeps spanning it; a genuine rewrite has no grain
        if (compactionBase(spark, tableDir, v).isDefined) None
        else throw new UnsupportedOperationException(
          s"v=$v of $tableDir is a MATERIALIZED version (overwrite)" +
            " — it has no change grain; diff it with Sinks.snapshotDiff")
      } else if (!fs.exists(feed))
        throw new IllegalStateException(
          s"feed file for committed thin v=$v is missing (a landing crash) " +
            "— run Sinks.repairChangeFeed first")
      else Some(feed.toString)
    }
    if (files.isEmpty)
      // every version in range was a compaction: the change set is empty
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        changeFeedSchema(spark, tableDir))
    else {
      // every feed file resolved onto the served schema by field id:
      // files from before an ALTER ADD COLUMN null-fill, renamed columns
      // keep their bytes, dropped ones are never served, and int-era files
      // cast up under a widening ALTER COLUMN TYPE. Cost is the TVF's own
      // grain: O(requested files) footer reads over per-commit deltas.
      val target = changeFeedSchema(spark, tableDir)
      // BALANCED union (ADVICE r16): a left-deep reduce over a wide version
      // range builds an O(files)-deep plan tree that stresses the analyzer/
      // optimizer; pairing halves the depth to O(log files) with the same
      // result (union is associative)
      def fold(xs: Seq[DataFrame]): DataFrame =
        if (xs.lengthCompare(1) == 0) xs.head
        else fold(xs.grouped(2).map {
          case Seq(a, b) => a.union(b)
          case Seq(a) => a
        }.toSeq)
      fold(files.map(f =>
        ColumnIds.resolve(FooterSchema.read(spark, f), target)))
    }
  }

  /** [[landChangeFeed]] for the POST-COMMIT call sites: by the time the
    * feed lands, `v=N` is already committed, so a thrown filesystem error
    * here would misreport an applied statement as failed — a SQL caller's
    * retry would then double-apply the delta. A failed landing is exactly
    * the crash window [[repairChangeFeed]] already closes (it re-derives
    * the feed file from the version's own `_deletes`/`_upserts`), so the
    * failure is logged and left to repair, never propagated. */
  private def landChangeFeedSafe(spark: SparkSession, tableDir: String,
                                 v: Int, rows: => DataFrame): Unit =
    try landChangeFeed(spark, tableDir, v, rows)
    catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(Sinks.getClass).warn(
          s"change-feed landing for $tableDir v=$v failed AFTER the commit; " +
            s"the version is live — run Sinks.repairChangeFeed to land the " +
            s"feed file", e)
    }

  /** Thin-hop count from `v` back to its nearest materialized ancestor
    * (0 = `v` itself is materialized). Cost: one marker-file read per hop,
    * bounded by the resolver's own 64-hop stop. */
  def chainDepth(spark: SparkSession, tableDir: String, v: Int): Int = {
    var d = 0
    var cur = thinBase(spark, tableDir, v)
    while (cur.isDefined && d <= 64) { d += 1; cur = thinBase(spark, tableDir, cur.get._1) }
    d
  }

  /** Rows per file for an auto-compaction — sized so a compacted 100 TB
    * version lands in parquet files big enough to scan efficiently without
    * any single partition outgrowing executor memory. */
  private val AutoCompactTargetRows = 5000000L

  /** The resolver hard-stops at 64 thin hops, so without a backstop ~64
    * consecutive `INSERT INTO` statements (each a keyless thin append)
    * would make EVERY read of the table throw until someone manually runs
    * [[compactSnapshot]] — a correctness cliff reachable from plain SQL.
    * Once a commit pushes the chain to the threshold
    * (`graft.snapshot.autoCompactDepth`, default 48; <= 0 disables), the
    * chain auto-materializes into a new full version. Post-commit and
    * NON-FATAL by design: the statement's own version is already live, a
    * compaction failure only defers the debt to the next commit. */
  private def autoCompactIfDeep(spark: SparkSession, tableDir: String,
                                v: Int): Unit =
    // the ENTIRE body is non-fatal: this runs POST-COMMIT, so any throw —
    // an unparseable conf value, a transient FS error in the chain walk,
    // the compaction itself — would misreport an already-applied statement
    // as failed and invite a double-applying retry
    try {
      val threshold = spark.conf
        .get("graft.snapshot.autoCompactDepth", "48").trim.toInt
      if (threshold > 0 && chainDepth(spark, tableDir, v) >= threshold)
        autoCompactCas(spark, tableDir, v)
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(Sinks.getClass).warn(
          s"auto-compaction check for $tableDir failed; v=$v is committed " +
            s"and readable, but compact before the chain reaches the " +
            s"64-hop resolver stop", e)
    }

  /** Auto-compaction of the triggering commit `base`: ONE fenced attempt
    * of [[compactSnapshot]]'s publish, staged from `base` itself. Any
    * intervening claim — i.e. any concurrent writer since — forfeits
    * without a throw: the claim is released and the depth debt defers to
    * THAT writer's own auto-compaction check. Any other failure throws
    * with no claim and no staging left behind (the caller swallows the
    * error post-commit; a leaked claim would wedge every later fenced
    * publish). On a change-feed-enabled table the
    * compacted version's empty change grain is declared via the
    * `_compaction` stamp, so `table_changes` ranges keep spanning the
    * history a plain INSERT transparently triggered compaction on.
    * (private[graft] for the fence spec: the forfeit branch needs a
    * foreign claim wedged between the triggering commit and this call —
    * unreachable from the public surface in one thread, because a
    * pre-existing claim fences the triggering statement itself.) */
  private[graft] def autoCompactCas(spark: SparkSession, tableDir: String,
                                    base: Int): Unit =
    try publishDerived(spark, tableDir, "auto-compaction", CompactStaging,
      attempts = 1, base = Some(base))(
      stageCompactedVersion(spark, tableDir, AutoCompactTargetRows)): Unit
    catch { case _: java.util.ConcurrentModificationException => () }

  /** Re-derive and land any committed THIN version whose feed file is
    * missing (writer crashed between the version commit and the landing).
    * Returns the versions repaired. */
  def repairChangeFeed(spark: SparkSession, tableDir: String): Seq[Int] = {
    if (!changeFeedEnabled(spark, tableDir)) return Seq.empty
    val committed = snapshotCommitted(spark, tableDir).getOrElse(return Seq.empty)
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // only commits AFTER the enable point: fabricating feed files for
    // pre-enable history would replay ancient changes into live consumers
    val since = changeFeedSince(spark, tableDir)
    ((since + 1) to committed).filter { v =>
      thinBase(spark, tableDir, v).isDefined &&
        !fs.exists(new org.apache.hadoop.fs.Path(s"$tableDir/cdf/v$v.parquet"))
    }.map { v =>
      // derived exactly as the original landing did: the version's own
      // delta parts under the schema recorded for it
      landChangeFeed(spark, tableDir, v, thinChangeRows(spark, tableDir, v))
      v
    }
  }

  /** The (base, keyCols) marker of a THIN delete version, None for a
    * materialized one. */
  // ---- immutable-version marker cache --------------------------------------

  /** Committed version folders are IMMUTABLE (the protocol's core), so
    * their kind markers (`_base.json`, `_buckets`, `_compaction`) memoize
    * process-wide: every statement's chain resolution, depth check and
    * history/serving classification re-walks the same markers, and at
    * per-commit grain those FS round-trips are the measurable tax
    * (VERDICT r14 item 5 — the thin faces' residual). Safety:
    *  - a marker appears ATOMICALLY with its folder (thin/staged publishes
    *    rename a complete staged dir in; plain writes create materialized
    *    folders, whose marker absence is the correct answer mid-write);
    *  - a NEGATIVE result is cached only when the version FOLDER exists —
    *    probing a yet-unpublished version never poisons the cache — and
    *    never when `negative` is off, for a marker a plain write adds
    *    after its data (the version's record);
    *  - the only way a (dir, version) pair can change kind is folder
    *    DELETION followed by number reuse — every deleting path
    *    ([[expireSnapshots]], [[vacuumOrphans]], the SQL catalog's DROP)
    *    calls [[invalidateMarkerCache]].
    * Bounded; clears wholesale on overflow (it is a cache, not a ledger). */
  private val MarkerCacheMax = 16384
  private val markerCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, String), Option[Any]]()

  private[graft] def cachedMarker[T](spark: SparkSession, tableDir: String,
                                     version: Int, kind: String,
                                     negative: Boolean = true)(
      read: => Option[T]): Option[T] = {
    val k = (tableDir, version, kind)
    val hit = markerCache.get(k)
    if (hit != null) return hit.asInstanceOf[Option[T]]
    val res = read
    val cacheable = res.isDefined || negative && {
      val vp = new org.apache.hadoop.fs.Path(s"$tableDir/v=$version")
      vp.getFileSystem(spark.sessionState.newHadoopConf()).exists(vp)
    }
    if (cacheable) {
      if (markerCache.size >= MarkerCacheMax) markerCache.clear()
      markerCache.put(k, res.asInstanceOf[Option[Any]]): Unit
    }
    res
  }

  /** Drop every cached marker of `tableDir` — called by the paths that
    * DELETE version folders, after which a version number can be reused.
    * Clears the registry memo too (a DROP + re-CREATE of the same name
    * must not inherit the dropped incarnation's schema). */
  private[graft] def invalidateMarkerCache(tableDir: String): Unit = {
    val it = markerCache.keySet.iterator
    while (it.hasNext) if (it.next()._1 == tableDir) it.remove()
    SnapshotRecord.forget(tableDir)
  }

  /** The (base, key tokens) marker of a THIN version, None for a
    * materialized one; no keys = a keyless APPEND version. The tokens are
    * field ids ([[ColumnIds.keyNames]] resolves them). */
  def thinBase(spark: SparkSession, tableDir: String,
               version: Int): Option[(Int, Seq[String])] =
    cachedMarker[(Int, Seq[String])](spark, tableDir, version, "thin") {
      MetaFs.read(spark,
        new org.apache.hadoop.fs.Path(s"$tableDir/v=$version/_base.json")).map { txt =>
        val lines = txt.trim.split('\n')
        val keys =
          if (lines.length < 2 || lines(1).trim.isEmpty) Seq.empty[String]
          else lines(1).trim.split(',').toSeq.map(_.trim)
        (lines(0).trim.toInt, keys)
      }
    }

  /** The schema recorded for version `v` — what a pinned read serves: its
    * own record ([[SnapshotRecord.own]], tombstones included); for a
    * version published without one, the folder's own footer (names and
    * types as committed; bucketed folders minus their `__bucket` layout
    * column), or the table's record for a thin one. Memoized through the
    * immutable-version cache: resolving a depth-D chain otherwise pays D
    * footer reads per statement. */
  private[graft] def versionSchema(spark: SparkSession, tableDir: String,
                                   v: Int): StructType =
    SnapshotRecord.own(spark, tableDir, v).getOrElse {
      if (thinBase(spark, tableDir, v).isDefined)
        declaredSnapshotSchema(spark, tableDir).getOrElse(
          throw new IllegalStateException(s"$tableDir/v=$v records no schema"))
      else StructType(
        ownSchema(spark, tableDir, v, "").filterNot(_.name == "__bucket"))
    }

  /** A version folder's (or delta sub-dir's) own data-file schema — names,
    * types and field ids as written — memoized through the
    * immutable-version cache: one footer, no inference job (FooterSchema
    * scaladoc); BUCKETED folders keep their data under __bucket=K subdirs
    * (no direct data file), where full inference runs. */
  private def ownSchema(spark: SparkSession, tableDir: String, v: Int,
                        sub: String): StructType = {
    val path = if (sub.isEmpty) s"$tableDir/v=$v" else s"$tableDir/v=$v/$sub"
    cachedMarker[StructType](
        spark, tableDir, v, if (sub.isEmpty) "schema" else s"schema:$sub") {
      Some(FooterSchema.of(spark, Seq(path))
        .getOrElse(FooterSchema.read(spark, path).schema))
    }.get
  }

  /** A folder (or delta sub-dir) of `v` read under its own names and
    * resolved onto `schema` by field id ([[ColumnIds.resolve]]). */
  private def readResolved(spark: SparkSession, tableDir: String, v: Int,
                           sub: String,
                           schema: StructType): DataFrame = {
    val path = if (sub.isEmpty) s"$tableDir/v=$v" else s"$tableDir/v=$v/$sub"
    ColumnIds.resolve(
      spark.read.schema(ownSchema(spark, tableDir, v, sub)).parquet(path), schema)
  }

  /** Would Spark's own field-id reader mis-resolve materialized version `v`
    * under the served schema? It matches a requested column by NAME when
    * a file column of that name is requested under another id — the
    * folder predates a `RENAME x TO y` followed by `ADD COLUMN x`. Such a
    * head serves through the resolver ([[ColumnIds.resolve]]) until a
    * rewrite. One memoized footer read. */
  def idNameClash(spark: SparkSession, tableDir: String, v: Int): Boolean = {
    val served = ColumnIds.live(headSchema(spark, tableDir, v))
      .fields.filter(_.metadata.contains(ColumnIds.Key))
    ownSchema(spark, tableDir, v, "").fields.exists(g =>
      g.metadata.contains(ColumnIds.Key) &&
        served.exists(f => ColumnIds.idOf(f) == ColumnIds.idOf(g)) &&
        served.exists(f => f.name.equalsIgnoreCase(g.name) &&
          ColumnIds.idOf(f) != ColumnIds.idOf(g)))
  }

  /** The full record an unpinned read of committed `v` resolves under. */
  private def headSchema(spark: SparkSession, tableDir: String,
                         v: Int): StructType =
    SnapshotRecord.at(spark, tableDir, v)
      .getOrElse(versionSchema(spark, tableDir, v))

  /** The resolver at HEAD (unpinned) semantics: `v`'s rows under the
    * table's current record — what the catalog's head markers splice into
    * SQL plans. */
  def readSnapshotServed(spark: SparkSession, tableDir: String,
                         v: Int): DataFrame =
    resolveAt(spark, tableDir, v, headSchema(spark, tableDir, v))

  /** `v`'s rows under `schema`, served columns only. */
  private def resolveAt(spark: SparkSession, tableDir: String, v: Int,
                        schema: StructType): DataFrame = {
    val df = resolveVersionR(spark, tableDir, v, 0, schema)
    df.select(ColumnIds.live(schema).fieldNames.toSeq
      .map(n => col(ColumnIds.quoted(n))): _*)
  }

  /** Resolve `v`'s chain with EVERY folder resolved onto one `schema` by
    * field id — renamed, dropped and re-added columns resolve alike at
    * every hop, and the frames of one merge always line up. Tombstones
    * stay in `schema` (a thin hop may key on a since-dropped column);
    * callers project them away. */
  private def resolveVersionR(spark: SparkSession, tableDir: String,
                              v: Int, depth: Int,
                              schema: StructType): DataFrame = {
    require(depth <= 64,
      s"merge-on-read chain deeper than 64 at $tableDir v=$v — compact it")
    thinBase(spark, tableDir, v) match {
      // a bucketed version's synthetic __bucket layout column is physical,
      // not logical: the resolution projects it away
      case None => readResolved(spark, tableDir, v, "", schema)
      case Some((base, keyTokens)) =>
        val baseDf = resolveVersionR(spark, tableDir, base, depth + 1, schema)
        val keyCols = ColumnIds.keyNames(schema, keyTokens)
        val (dels, ups) = deltaParts(spark, tableDir, v, schema, keyCols)
        val kc = keyCols.map(c => col(ColumnIds.quoted(c)))
        // keyless APPEND version: nothing ever leaves the base
        val gone =
          if (keyCols.isEmpty) None
          else (dels.toSeq ++ ups.map(_.select(kc: _*)).toSeq)
            .reduceOption(_ unionByName _)
        val kept = gone.fold(baseDf)(g =>
          baseDf.join(g.distinct(), keyCols, "left_anti"))
        ups.fold(kept)(kept.unionByName(_))
    }
  }

  /** A thin version's `_deletes` (columns `keys`) and `_upserts` (every
    * column of `schema`), resolved by field id. */
  private def deltaParts(spark: SparkSession, tableDir: String, v: Int,
                         schema: StructType,
                         keys: Seq[String]): (Option[DataFrame], Option[DataFrame]) = {
    val hconf = spark.sessionState.newHadoopConf()
    def part(name: String, s: StructType) = {
      val p = new org.apache.hadoop.fs.Path(s"$tableDir/v=$v/$name")
      if (p.getFileSystem(hconf).exists(p))
        Some(readResolved(spark, tableDir, v, name, s))
      else None
    }
    (part("_deletes", StructType(
        keys.map(k => schema.fields.find(_.name == k).get))),
      part("_upserts", schema))
  }

  /** TAKEDOWN AT 100 TB: publish the next version as a THIN merge-on-read
    * delete — only the removal KEYS are written (a `_deletes/` parquet and
    * a two-line `_base` marker inside the new version folder; zero data
    * files), and [[readSnapshot]] resolves the chain base-first with one
    * LEFT ANTI join per thin hop. The copy-on-write alternative (q217's
    * SQL DELETE) rewrites the whole table per takedown — right for tables
    * that fit a rewrite, wrong at 100 TB where a daily key-list removal
    * must cost O(keys), not O(corpus). The trade is the classic MOR one:
    * reads pay an anti-join per uncompacted hop (the resolver hard-stops
    * at 64), so [[compactSnapshot]] — which reads through the same
    * resolver — materializes the chain back to a full version on the
    * operator's schedule. Version semantics are unchanged: thin versions
    * commit through the same claim-CAS publish, pinned bases stay
    * immutable and readable, [[snapshotDiff]] diffs resolved content, and
    * [[expireSnapshots]] refuses to drop a base a surviving thin version
    * still needs. NULL keys never match an anti join — a null-keyed delete
    * row removes nothing, by SQL semantics. SQL catalog serving of thin
    * chains is native since r13 ([[graft.sources.ResolveThinSnapshots]]
    * expands the marker relation at analysis); sessions without the graft
    * extensions still need materialized versions — compact first, the
    * contract Iceberg puts on non-MOR-aware readers. */
  def deleteSnapshotKeys(spark: SparkSession, tableDir: String,
                         keys: DataFrame, keyCols: Seq[String],
                         commitTsMicros: Option[Long] = None,
                         expectedBase: Option[Int] = None): Int =
    publishThin(spark, tableDir, keyCols, commitTsMicros,
      deletes = Some(keys), upserts = None, expectedBase = expectedBase)

  /** The UPSERT half of the thin-version story — CDC INGEST at O(batch)
    * per commit: publish the next version as base minus the touched keys
    * plus the new rows (`_upserts/` parquet; optional tombstones ride the
    * same version's `_deletes/`). The upsert is LAST-WRITER-WINS against
    * the base — callers enforcing an ordering residual (q108's (ts, tie))
    * compute the EFFECTIVE delta against the current resolved state first,
    * which is the standard CDC ingest shape anyway. Everything else is
    * [[deleteSnapshotKeys]]'s contract: claim-CAS commit, chain resolution,
    * diff over resolved content, compaction, base protection. */
  def upsertSnapshotRows(spark: SparkSession, tableDir: String,
                         rows: DataFrame, keyCols: Seq[String],
                         deletes: Option[DataFrame] = None,
                         commitTsMicros: Option[Long] = None,
                         expectedBase: Option[Int] = None): Int =
    publishThin(spark, tableDir, keyCols, commitTsMicros,
      deletes = deletes, upserts = Some(rows), expectedBase = expectedBase)

  /** `INSERT INTO` at the MOR cost model: publish the next version as a
    * KEYLESS thin APPEND — only the new rows are written (`_upserts/` +
    * an empty-keys `_base` marker; zero base bytes move), and the resolver
    * serves base ∪ appended with no anti join (nothing ever leaves the
    * base). No identity semantics: duplicates are the caller's to mean. */
  def appendSnapshotRows(spark: SparkSession, tableDir: String,
                         rows: DataFrame,
                         commitTsMicros: Option[Long] = None,
                         expectedBase: Option[Int] = None): Int =
    publishThin(spark, tableDir, Seq.empty, commitTsMicros,
      deletes = None, upserts = Some(rows), expectedBase = expectedBase)

  private def publishThin(spark: SparkSession, tableDir: String,
                          keyCols: Seq[String], commitTsMicros: Option[Long],
                          deletes: Option[DataFrame],
                          upserts: Option[DataFrame],
                          expectedBase: Option[Int] = None): Int = {
    require(keyCols.nonEmpty || (deletes.isEmpty && upserts.nonEmpty),
      "keyless thin versions are APPENDs: upserts only, no deletes")
    // a duplicate key inside ONE upsert batch would materialize as
    // duplicate rows in every resolved read downstream — reject the
    // corrupt commit up front (one batch-sized grouped count; the cost of
    // an integrity gate, not of the corpus). Keyless appends have no
    // identity to gate.
    if (keyCols.nonEmpty) upserts.foreach { u =>
      val kc = keyCols.map(org.apache.spark.sql.functions.col)
      val dup = u.groupBy(kc: _*)
        .count().filter(org.apache.spark.sql.functions.col("count") > 1)
      if (!dup.isEmpty)
        throw new IllegalArgumentException(
          "upsert batch carries duplicate keys (first: " +
            dup.head().toString + ") — compact the batch per key first")
    }
    // base binds ONCE, up front: the delta the caller computed (effective
    // upserts, takedown keys) was derived against this version, so this
    // version is what the chain must reference. Callers that derived their
    // delta against an EARLIER read (SQL DML handles) pass that version as
    // `expectedBase` to extend the fence back to their read. The FENCED
    // publish proves at claim time that no other writer got in between —
    // two concurrent thin writers can both bind the same base, but only
    // one can claim base+1; the loser aborts with its staging discarded
    // instead of silently dropping the winner's delta (the lost update).
    val base = expectedBase.orElse(snapshotCommitted(spark, tableDir))
      .getOrElse(throw new IllegalStateException(
        s"no committed snapshot at $tableDir — nothing to derive from"))
    // bucketed × MOR: a thin hop on a bucketed base stays correct (the
    // resolver reads through it) but the new head is no longer a single
    // key-grouped scan — storage-partitioned joins shuffle until
    // rebucketSnapshot re-materializes the layout. Degrading SILENTLY is
    // the failure mode; say it once per commit.
    if (bucketedLayout(spark, tableDir, base).isDefined)
      org.slf4j.LoggerFactory.getLogger(Sinks.getClass).warn(
        s"thin commit on BUCKETED base v=$base of $tableDir: readers stay " +
          "correct but the zero-exchange join layout is gone until " +
          "Sinks.rebucketSnapshot re-materializes it")
    val keyRows = deletes.map(
      _.select(keyCols.map(c => col(ColumnIds.quoted(c))): _*).distinct())
    val v = publishWithIds(spark, tableDir,
        upserts.getOrElse(keyRows.get).schema, full = false) { rec =>
      val staged = new org.apache.hadoop.fs.Path(tableDir,
        s".dml_staging_${java.util.UUID.randomUUID().toString.take(8)}")
      keyRows.foreach(d => microsBound(stamped(d, rec)).write
        .parquet(new org.apache.hadoop.fs.Path(staged, "_deletes").toString))
      upserts.foreach(u => microsBound(stamped(u, rec)).write
        .parquet(new org.apache.hadoop.fs.Path(staged, "_upserts").toString))
      stageThinMeta(spark, staged, base, keyCols, rec)
      publishStagedSnapshotFenced(spark, tableDir, staged, base, commitTsMicros)
    }
    // change data feed (opt-in): land this commit's change rows post-commit
    // — a crash in between is repaired from the version's own delta files
    // (repairChangeFeed), never from a second source of truth
    if (changeFeedEnabled(spark, tableDir))
      landChangeFeedSafe(spark, tableDir, v, thinChangeRows(spark, tableDir, v))
    autoCompactIfDeep(spark, tableDir, v)
    v
  }

  /** Change feed between two snapshot versions — CDC DERIVED from
    * immutable snapshots (the complement of applying CDC, q108/q116):
    * keyed full-outer join of the two folders, each row classified
    * `added` / `removed` / `changed` (any non-key column differs,
    * null-safe). Emits only the delta — what an incremental downstream
    * (index refresh, re-embedding, cache invalidation) consumes instead
    * of re-reading the full table.
    *
    * Scale: ONE join keyed on `keyCols` — both sides shuffle once; with
    * both versions written bucketed on the key the exchange disappears
    * entirely. Non-key columns ride packed in a single struct so the
    * comparison is one codegen'd null-safe struct equality, not N column
    * comparisons with N null branches. Delta output is |changes|-sized. */
  def snapshotDiff(spark: SparkSession, tableDir: String,
                   fromV: Int, toV: Int, keyCols: Seq[String]): DataFrame =
    diffTables(readSnapshot(spark, tableDir, Some(fromV)),
      readSnapshot(spark, tableDir, Some(toV)), keyCols)

  /** [[writeSnapshot]] BUCKETED for storage-partitioned joins: rows land
    * in `__bucket=i` subfolders of the version by `pmod(key, n)` (integral
    * keys — the canonical co-location layout two fact/dim tables share),
    * and the version carries a `_buckets` marker (`keyCol\nn`). The
    * bucketed SQL read ([[graft.sources.BucketedSnapshotTable]]) reports
    * `KeyGroupedPartitioning(graft_bucket(n, key))`, so a join of two
    * tables bucketed the SAME way runs with ZERO exchange on either side
    * (Spark's storage-partitioned join; enable
    * `spark.sql.sources.v2.bucketing.enabled`). At 100 TB this is the
    * difference between a co-located merge and shuffling both corpora. */
  def writeSnapshotBucketed(df: DataFrame, tableDir: String,
                            keyCol: String, buckets: Int): Int = {
    require(buckets > 0, "buckets must be positive")
    val kt = df.schema(keyCol).dataType
    require(Seq(org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(kt),
      s"bucketed snapshots need an integral key, got $kt")
    val spark = df.sparkSession
    publishWithIds(spark, tableDir, df.schema, full = true) { rec =>
      publishClaimed(spark, tableDir) { v =>
        val vDir = s"$tableDir/v=$v"
        // NULL keys are rejected IN the write pass (no extra job): pmod(null)
        // would land rows in __bucket=__HIVE_DEFAULT_PARTITION__ and poison
        // every subsequent bucketed read
        stamped(df, rec).withColumn("__bucket",
            when(col(keyCol).isNull, raise_error(lit(
              s"writeSnapshotBucketed: NULL in bucket key $keyCol — bucketed " +
                "layouts require non-null keys")).cast("int"))
              .otherwise(pmod(col(keyCol).cast("long"), lit(buckets.toLong)).cast("int")))
          .transform(microsBound)
          .write.partitionBy("__bucket").mode(SaveMode.Overwrite).parquet(vDir)
        MetaFs.stage(spark,
          new org.apache.hadoop.fs.Path(vDir, "_buckets"), s"$keyCol\n$buckets")
        SnapshotRecord.stage(spark, vDir, rec)
      }
    }
  }

  /** Restore the ZERO-EXCHANGE layout after merge-on-read DML degraded it:
    * re-materialize the resolved chain into a fresh BUCKETED version (one
    * read through the chain, one bucketed write, one pointer swap). The
    * bucketed × MOR contract in one line: thin hops on a bucketed base
    * stay O(delta)-correct but the chain head is a resolved multi-scan
    * plan, not a single key-grouped scan — storage-partitioned joins
    * shuffle until this re-bucket lands. Returns the committed version. */
  def rebucketSnapshot(spark: SparkSession, tableDir: String,
                       keyCol: String, buckets: Int): Int =
    writeSnapshotBucketed(readSnapshot(spark, tableDir), tableDir,
      keyCol, buckets)

  /** The (keyCol, buckets) marker of a bucketed version, None otherwise. */
  def bucketedLayout(spark: SparkSession, tableDir: String,
                     version: Int): Option[(String, Int)] =
    cachedMarker[(String, Int)](spark, tableDir, version, "buckets") {
      MetaFs.read(spark,
        new org.apache.hadoop.fs.Path(s"$tableDir/v=$version/_buckets")).map { txt =>
        val lines = txt.trim.split('\n')
        (lines(0).trim, lines(1).trim.toInt)
      }
    }

  /** [[writeSnapshot]] + an Iceberg-style FILE MANIFEST: per-file min/max
    * of `statsCols`, computed in one grouped pass over the written files
    * (`input_file_name` groupBy — at production scale this piggybacks on
    * write-task accumulators instead) and committed as
    * `_manifest/v=N.parquet` BEFORE the pointer swap, so manifest and data
    * are one atomic unit. What it buys at 100 TB: [[readSnapshotPruned]]
    * prunes candidate files on the DRIVER from the (tiny) manifest — zero
    * parquet footer round-trips across a 100k-file table, the difference
    * between a sub-second and a minutes-long planning phase on an object
    * store. */
  def writeSnapshotWithManifest(df: DataFrame, tableDir: String,
                                statsCols: Seq[String],
                                maxRecordsPerFile: Long = 0L): Int = {
    val spark = df.sparkSession
    publishWithIds(spark, tableDir, df.schema, full = true) { rec =>
      publishClaimed(spark, tableDir) { v =>
        val w = microsBound(stamped(df, rec)).write.mode(SaveMode.Overwrite)
        (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile)
         else w).parquet(s"$tableDir/v=$v")
        // stats come off the just-written files' FOOTERS (min/max/null-count),
        // not a second full read of the data — the build is O(#files) metadata
        graft.sources.FooterStats
          .manifestFrame(spark, s"$tableDir/v=$v",
            FooterSchema.require(spark, s"$tableDir/v=$v"), statsCols)
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/_manifest/v=$v")
        SnapshotRecord.stage(spark, s"$tableDir/v=$v", rec)
      }
    }
  }

  /** Manifest-pruned snapshot read: keep only files whose [min,max] range
    * on `statCol` intersects [lo,hi] (closed interval; a file with a NULL
    * min/max — all-null column chunk — is conservatively kept), hand Spark
    * the surviving file list directly, and re-apply the exact predicate.
    * Pruning correctness never depends on the manifest: it only SKIPS
    * files the range test proves empty for the predicate. Returns the
    * pruned DataFrame plus (files kept, files total) for audits. */
  def readSnapshotPruned(spark: SparkSession, tableDir: String,
                         statCol: String, lo: Long, hi: Long,
                         version: Option[Int] = None): (DataFrame, Int, Int) = {
    val v = version.orElse(snapshotCommitted(spark, tableDir)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $tableDir"))
    val manifest = FooterSchema.read(spark, s"$tableDir/_manifest/v=$v")
      .select(col("file"), col(s"min_$statCol").cast("long").as("lo"),
        col(s"max_$statCol").cast("long").as("hi"))
      .collect()
    val total = manifest.length
    val kept = manifest.filter { r =>
      r.isNullAt(1) || r.isNullAt(2) ||
        (r.getLong(1) <= hi && r.getLong(2) >= lo)
    }.map(_.getString(0))
    // the served columns by field id, like every read; all files pruned
    // (valid predicate range matching no data) serves an empty frame
    val schema = ColumnIds.live(
      if (version.isDefined) versionSchema(spark, tableDir, v)
      else headSchema(spark, tableDir, v))
    val df =
      if (kept.isEmpty)
        ColumnIds.resolve(
          FooterSchema.read(spark, s"$tableDir/v=$v"), schema).where(lit(false))
      else ColumnIds.resolve(
          FooterSchema.read(spark, kept.toIndexedSeq: _*), schema)
        .filter(col(statCol).between(lo, hi))
    (df, kept.length, total)
  }

  /** `DESCRIBE HISTORY` for the snapshot store: one row per version
    * folder at or below the committed pointer (expired versions are gone;
    * orphans above the pointer never show), classified by the version's
    * own on-disk markers — the same records every reader trusts:
    *
    *  - `kind`: 'thin' (`_base.json`), 'bucketed' (`_buckets`), else
    *    'materialized';
    *  - `operation`: thin → 'append' (keyless) / 'delete' (tombstones
    *    only) / 'upsert'; bucketed → 'rebucket'; materialized →
    *    'compact' (`_compaction` stamp), 'create' (v=1), 'overwrite';
    *  - `base_version`: the thin hop's base or the compaction's source;
    *  - `committed_at`: micros from the `_commits/` record (null for
    *    tables published before commit records existed);
    *  - `files`/`bytes`: the version folder's data-file footprint.
    *
    * Cost: one folder listing + marker probes per version — O(history),
    * zero data reads. SQL face: `SELECT * FROM snapshot_history('snap.t')`
    * with the graft extensions active. */
  def snapshotHistory(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val committed = snapshotCommitted(spark, tableDir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $tableDir"))
    val times = snapshotCommitTimes(spark, tableDir)
    val hconf = spark.sessionState.newHadoopConf()
    val partitioned =
      graft.sources.PartitionedSnapshot.partSpec(spark, tableDir).isDefined
    val rows = snapshotVersions(spark, tableDir).filter(_ <= committed).map { v =>
      val dir = new org.apache.hadoop.fs.Path(s"$tableDir/v=$v")
      val fs = dir.getFileSystem(hconf)
      def sub(name: String): Boolean =
        fs.exists(new org.apache.hadoop.fs.Path(dir, name))
      // footprint includes thin versions' delta subdirs (_upserts/_deletes)
      // — the version KIND this face classifies stores its bytes there —
      // and, for PARTITIONED snapshots, the hive leaf dirs the version
      // OWNS, walked to any nesting depth (mixed `key:src,days:ts`
      // layouts nest; carried partitions live in — and are billed to —
      // the folder that physically owns them; a zero-copy drop reports
      // 0 files)
      def walkParquet(p: org.apache.hadoop.fs.Path):
          Seq[org.apache.hadoop.fs.FileStatus] =
        fs.listStatus(p).toSeq.flatMap { st =>
          if (st.isFile && st.getPath.getName.endsWith(".parquet")) Seq(st)
          else if (st.isDirectory) walkParquet(st.getPath)
          else Nil
        }
      val dataFiles =
        if (partitioned) walkParquet(dir)
        else fs.listStatus(dir).toSeq.flatMap { st =>
          if (st.isFile && st.getPath.getName.endsWith(".parquet")) Seq(st)
          else if (st.isDirectory && st.getPath.getName.startsWith("_"))
            fs.listStatus(st.getPath).toSeq.filter(c =>
              c.isFile && c.getPath.getName.endsWith(".parquet"))
          else Nil
        }
      val (kind, operation, base) =
        if (partitioned)
          graft.sources.PartitionedSnapshot.versionMeta(spark, tableDir, v) match {
            case Some((op, b)) => ("partitioned", op, b)
            case None => // pre-r18 folder without an _op record
              ("partitioned", if (v == 1) "create" else "overwrite",
                None: Option[Int])
          }
        else thinBase(spark, tableDir, v) match {
        case Some((b, keys)) =>
          val op =
            if (keys.isEmpty) "append"
            else if (sub("_upserts")) "upsert"
            else "delete"
          ("thin", op, Some(b))
        case None if bucketedLayout(spark, tableDir, v).isDefined =>
          ("bucketed", "rebucket", None)
        case None => compactionBase(spark, tableDir, v) match {
          case Some(b) => ("materialized", "compact", Some(b))
          case None =>
            ("materialized", if (v == 1) "create" else "overwrite", None)
        }
      }
      (v, times.get(v), kind, operation, base,
        dataFiles.length, dataFiles.map(_.getLen).sum)
    }
    rows.toDF("version", "committed_at", "kind", "operation",
      "base_version", "files", "bytes")
  }

  /** Retention janitor: delete all but the newest `keep` committed-or-older
    * version folders (and their manifests). The committed version itself
    * and anything NEWER than it (an in-flight writer's folder) are never
    * touched, so the janitor is safe to run concurrently with readers
    * pinned to the retained window and with an active writer. Returns the
    * versions dropped. Time travel obviously shortens to the retained
    * window — pin + copy before expiring if a snapshot must outlive it. */
  def expireSnapshots(spark: SparkSession, tableDir: String,
                      keep: Int): Seq[Int] = {
    require(keep >= 1, "keep at least the committed version")
    val committed = snapshotCommitted(spark, tableDir).getOrElse(return Seq.empty)
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val all = snapshotVersions(spark, tableDir)
    val toDrop0 = all.filter(_ <= committed).dropRight(keep)
    // a surviving THIN version resolves through its base chain — dropping
    // a needed base would orphan readable history; protect transitively
    val survivors = all.toSet -- toDrop0
    val needed = survivors.flatMap { v =>
      Iterator.iterate(thinBase(spark, tableDir, v).map(_._1)) {
        case Some(b) => thinBase(spark, tableDir, b).map(_._1)
        case None => None
      }.takeWhile(_.isDefined).flatten.toSeq
    }
    // a PARTITIONED snapshot's surviving versions CARRY partition dirs
    // from older folders (single-hop refs) — those folders must survive
    // too, exactly like thin bases (r17)
    val carried: Set[Int] =
      if (graft.sources.PartitionedSnapshot.partSpec(spark, tableDir).isEmpty)
        Set.empty
      else graft.sources.PartitionedSnapshot
        .referencedVersions(spark, tableDir, survivors.toSeq)
    val toDrop = toDrop0.filterNot(v => needed(v) || carried(v))
    toDrop.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$tableDir/v=$v"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$tableDir/_manifest/v=$v"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$tableDir/_commits/v=$v"), false)
      // concurrent writers' claim markers expire with their versions —
      // re-allocation stays impossible (allocation maxes over folders,
      // claims AND the pointer, and newer versions survive by contract)
      fs.delete(new org.apache.hadoop.fs.Path(s"$tableDir/_claims/v=$v"), false)
      // an expired version's change-feed file retires with it (consumers
      // past it have their offsets in the stream checkpoint, not here)
      fs.delete(new org.apache.hadoop.fs.Path(s"$tableDir/cdf/v$v.parquet"), false)
    }
    if (toDrop.nonEmpty) invalidateMarkerCache(tableDir)
    toDrop
  }

  /** Janitor for crashed-writer debris: version FOLDERS without a commit
    * record never resolve (readers go through the pointer; TIMESTAMP AS OF
    * through the records) but hold disk forever. An unrecorded folder is
    * dropped only when OLDER than `graceMs` (folder modification time) —
    * position relative to the pointer proves nothing about liveness: a
    * slow concurrent writer can sit mid-write on a claimed version BELOW a
    * faster writer's committed pointer, and deleting under it would let
    * its later record resolve to missing data. The age discipline is the
    * same one every object-store janitor needs; size `graceMs` well past
    * the longest plausible write. Returns the dropped version numbers. */
  def vacuumOrphans(spark: SparkSession, tableDir: String,
                    graceMs: Long = 24L * 3600 * 1000): Seq[Int] = {
    val recorded = recordedCommits(spark, tableDir).toSet
    val root = new org.apache.hadoop.fs.Path(tableDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Seq.empty
    val now = System.currentTimeMillis()
    val dropped = snapshotVersions(spark, tableDir)
      .filterNot(recorded)
      .filter { v =>
        val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$tableDir/v=$v"))
        now - st.getModificationTime > graceMs
      }
    dropped.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$tableDir/v=$v"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$tableDir/_claims/v=$v"), false)
      // the orphan's manifest must die with it: vacuuming an ABOVE-pointer
      // orphan lets its version NUMBER be re-allocated, and a later writer
      // reusing it would inherit a STALE manifest enumerating deleted
      // files (carryManifest's exists-check would then keep it)
      fs.delete(new org.apache.hadoop.fs.Path(s"$tableDir/_manifest/v=$v"), true)
    }
    // number reuse after a vacuum is real (an above-pointer orphan frees
    // its number) — the marker cache must forget this table
    if (dropped.nonEmpty) invalidateMarkerCache(tableDir)
    // crashed writers that never reached publish leave `.dml_staging_*`
    // folders (publish renames staging into v=N; a JVM crash mid-stage
    // orphans it), a crash inside the change-feed landing leaves
    // `.cdf_staging_*`, and a crashed compaction leaves
    // `.compact_staging_*` — same age discipline, same grace window
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory &&
        (s.getPath.getName.startsWith(".dml_staging_") ||
          s.getPath.getName.startsWith(".cdf_staging_") ||
          s.getPath.getName.startsWith(".compact_staging_") ||
          s.getPath.getName.startsWith(".psnap_staging_")) &&
        now - s.getModificationTime > graceMs)
      .foreach(s => fs.delete(s.getPath, true))
    // FOLDER-LESS claims: a writer that crashed after claiming but before
    // any byte of `v=N` landed (or a pre-fix failure path that leaked its
    // claim) leaves a claim file no folder-keyed cleanup above ever
    // reaches — and a leaked claim at `base+1` wedges every fenced publish
    // indefinitely. Age-out by the claim FILE's mtime: a live writer's
    // heartbeat keeps its claim younger than any sane grace, and its
    // folder (once a byte lands) protects the number regardless.
    val claimsDir = new org.apache.hadoop.fs.Path(s"$tableDir/_claims")
    Seq(root, claimsDir, new org.apache.hadoop.fs.Path(s"$tableDir/_commits"))
      .foreach(MetaFs.vacuumTemps(spark, _, graceMs))
    if (fs.exists(claimsDir)) {
      val folders = snapshotVersions(spark, tableDir).toSet
      fs.listStatus(claimsDir).toSeq
        .filter(s => MetaFs.versionOf(s.getPath.getName)
          .exists(v => !folders.contains(v) && !recorded.contains(v)) &&
          now - s.getModificationTime > graceMs)
        .foreach(s => fs.delete(s.getPath, false))
    }
    dropped
  }

  /** Workspace-side staging janitor: COW DML on workspace tables stages
    * as `.{table}.__cow_*` siblings of the table directory (rename-swapped
    * in on commit, discarded on failure) — a JVM CRASH mid-write orphans
    * the staging folder with neither path taken. Age-out with the same
    * grace discipline as [[vacuumOrphans]]: modification time, never
    * position (a slow writer can legitimately sit mid-stage for the length
    * of its longest job). Returns the deleted paths. */
  def vacuumWorkspaceStaging(spark: SparkSession, workspaceDir: String,
                             graceMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(workspaceDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Seq.empty
    val now = System.currentTimeMillis()
    // a `.repart_*` sibling is only DEBRIS while its table has no
    // `.repart` journal: with the journal present it is a live/crashed
    // partition-spec evolution's transient state — the parked or staged
    // copy may be the ONLY copy of the table's rows, and recovery (not
    // the janitor) owns it. Name shape: `.repart[_old]_<table>_<8hex>`.
    // the name grammar is AMBIGUOUS for tables whose own name starts with
    // "old_" (`.repart_old_x_t` = staged-of-"old_x" OR parked-of-"x") —
    // probe EVERY interpretation and protect the dir if any journal
    // exists: deleting a live swap's staged copy is total data loss
    def repartJournalExists(n: String): Boolean = {
      def tableOf(core: String): Option[String] = {
        val i = core.lastIndexOf('_')
        if (i <= 0) None else Some(core.take(i))
      }
      val candidates =
        (if (n.startsWith(".repart_old_"))
          tableOf(n.stripPrefix(".repart_old_")).toSeq
        else Nil) ++ tableOf(n.stripPrefix(".repart_")).toSeq
      candidates.exists(t => fs.exists(new org.apache.hadoop.fs.Path(
        s"$workspaceDir/_graft_schema/$t.repart")))
    }
    val debris = fs.listStatus(root).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isDirectory && n.startsWith(".") &&
        (n.contains(".__cow_") || n.startsWith(".dml_staging_") ||
          (n.startsWith(".repart_") && !repartJournalExists(n))) &&
        now - s.getModificationTime > graceMs
    }
    debris.foreach(s => fs.delete(s.getPath, true))
    // crashed lock and sidecar writes leave metadata temp siblings
    val temps = Seq(root, new org.apache.hadoop.fs.Path(root, "_graft_schema"))
      .flatMap(MetaFs.vacuumTemps(spark, _, graceMs))
    (debris.map(_.getPath) ++ temps).map(_.toString)
  }

  /** [[snapshotDiff]]'s engine over any two same-schema tables. */
  def diffTables(a: DataFrame, b: DataFrame, keyCols: Seq[String]): DataFrame = {
    val valCols = a.columns.filterNot(keyCols.contains).toSeq
    val av = a.select(keyCols.map(col) :+ struct(valCols.map(col): _*).as("__a"): _*)
    val bv = b.select(keyCols.map(col) :+ struct(valCols.map(col): _*).as("__b"): _*)
    av.join(bv, keyCols, "full_outer")
      .withColumn("change",
        when(col("__a").isNull, lit("added"))
          .when(col("__b").isNull, lit("removed"))
          .when(!(col("__a") <=> col("__b")), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("change") =!= "unchanged")
      .select(keyCols.map(col) :+ col("change"): _*)
  }
}
