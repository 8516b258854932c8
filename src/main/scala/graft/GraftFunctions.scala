package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.IntegerType
import graft.functions.{CosineSim, DotProduct, MinhashSig, ShingleHashes, SimHash16}
import graft.operators.{PointWkb, WkbCoord}

/** SQL surface for the engine's native expressions.
  *
  * Two registration paths, same builders:
  *  - [[GraftExtensions]] via `spark.sql.extensions=graft.GraftExtensions`
  *    (cluster-wide, survives session cloning) — the
  *    `SparkSessionExtensions.injectFunction` route;
  *  - [[GraftFunctions.register]] on a live session (temp functions).
  *
  * After either, SQL users get the same kernels the DataFrame API uses:
  * {{{
  *   SELECT graft_cosine(a.embedding, b.embedding) FROM ...
  *   SELECT doc_id, graft_simhash16(text, 5) FROM documents
  *   SELECT explode(graft_shingle_hashes(text, 5)) FROM documents
  * }}}
  */
object GraftFunctions {

  private[graft] def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an INTEGER literal, got $other")
  }

  /** (name, builder) for every SQL-exposed native expression. */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" -> { es => CosineSim(es(0), es(1)) },
    "graft_dot" -> { es => DotProduct(es(0), es(1)) },
    "graft_minhash_sig" -> { es =>
      MinhashSig(es(0), intLit(es(1), "graft_minhash_sig", "w"),
        intLit(es(2), "graft_minhash_sig", "k")) },
    "graft_simhash16" -> { es =>
      SimHash16(es(0), intLit(es(1), "graft_simhash16", "w")) },
    "graft_shingle_hashes" -> { es =>
      ShingleHashes(es(0), intLit(es(1), "graft_shingle_hashes", "w")) },
    "graft_char_shingle_hashes" -> { es =>
      graft.functions.CharShingleHashes(es(0),
        intLit(es(1), "graft_char_shingle_hashes", "n")) },
    "graft_split_rect" -> { es => graft.operators.SplitRectGenerator(es) },
    "graft_split_rings" -> { es => graft.operators.SplitRingsGenerator(es) },
    "graft_point_wkb" -> { es => PointWkb(es(0), es(1)) },
    "graft_wkb_x" -> { es => WkbCoord(es(0), isX = true) },
    "graft_wkb_y" -> { es => WkbCoord(es(0), isX = false) },
    "graft_polygon_wkb" -> { es => graft.operators.PolygonWkb(es(0)) },
    "graft_wkb_polygon_rings" -> { es => graft.operators.WkbPolygonRings(es(0)) },
    "graft_wkt_polygon_rings" -> { es => graft.operators.WktPolygonRings(es(0)) },
    "graft_polygon_stats" -> { es => graft.operators.PolygonStats(es(0)) },
    "graft_rings_clip_rect" -> { es =>
      graft.operators.RingsClipRect(es(0), es(1), es(2), es(3), es(4)) },
    "graft_png_encode" -> { es => graft.operators.PngEncode(es(0)) },
    "graft_png_pixels" -> { es => graft.operators.PngPixels(es(0)) },
    "graft_png_resize" -> { es => graft.operators.PngResize(es(0), es(1), es(2)) },
    "graft_gray_hist16" -> { es => graft.operators.GrayHist16(es(0), es(1)) },
    "graft_wav_encode" -> { es => graft.operators.WavEncode(es(0)) },
    "graft_wav_stats" -> { es => graft.operators.WavStats(es(0)) },
    "graft_nearest_pivot" -> { es => graft.functions.NearestPivot(es(0), es(1)) },
    "graft_top_k" -> { es =>
      graft.functions.TopKByScore(es(0), es(1), intLit(es(2), "graft_top_k", "k"))
        .toAggregateExpression() },
    "graft_vector_mean" -> { es =>
      graft.functions.VectorMean(es(0)).toAggregateExpression() })

  /** Register everything as temp functions on a live session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, b) => Bridge.registerTempFunction(spark, name, b) }
}

/** `spark.sql.extensions` entry point: the native SQL functions, the
  * MOR-aware resolution rule that serves thin snapshot chains through the
  * SQL catalog ([[graft.sources.ResolveThinSnapshots]]), the
  * `table_changes` table-valued function over the change data feed, the
  * one place that decides scan-side parallelism
  * ([[SplitAwareRepartition]]: a costly per-row expression over a scan of
  * too few splits gets a round-robin exchange below it, for every operator
  * a user calls) — and
  * `file:` I/O: the live context's Hadoop configuration is pointed at
  * [[graft.sources.LocalFs]], unless the user named their own `file:`
  * classes. Without Hadoop's native library, its local filesystem forks a
  * `chmod` or `readlink` process on every file created and every
  * `FileContext` rename — every write, commit and streaming checkpoint;
  * `LocalFs` makes those calls through java.nio. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** `table_changes('<catalog>.<table>' | '<tableDir>', fromV [, toV])`:
    * the change rows of thin commits in the version range, straight off
    * the landed `cdf/` files ([[graft.operators.Sinks.tableChanges]]).
    * A `catalog.table` first argument resolves through the catalog's
    * registered workspace directory on the ACTIVE session; `toV` defaults
    * to the committed head. */
  private def strLit(e: Expression, fn: String, arg: String): String = e match {
    case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
      s.toString
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a STRING literal, got $other")
  }

  /** Integer-valued literal of either width (SQL `5` parses as INT,
    * `5000000000` as BIGINT — a long-typed argument must accept both). */
  private def longLit(e: Expression, fn: String, arg: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, org.apache.spark.sql.types.LongType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  /** Resolve a TVF's table reference — `catalog.table` through the
    * catalog's registered workspace on the ACTIVE session, or a direct
    * directory path. */
  private def resolveRef(fn: String, ref: String): String = {
    val spark = SparkSession.active
    if (ref.contains("/")) ref
    else ref.split('.') match {
      case Array(cat, tbl) =>
        val ws = spark.conf.getOption(s"spark.sql.catalog.$cat.workspace")
          .getOrElse(throw new IllegalArgumentException(
            s"$fn: no catalog '$cat' with a workspace on this session"))
        s"$ws/$tbl"
      case _ => throw new IllegalArgumentException(
        s"$fn: table must be 'catalog.table' or a directory path, got '$ref'")
    }
  }

  private def tableChangesPlan(es: Seq[Expression]):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(es.length == 2 || es.length == 3,
      "table_changes(table, fromVersion [, toVersion])")
    val spark = SparkSession.active
    val dir = resolveRef("table_changes", strLit(es.head, "table_changes", "table"))
    val fromV = GraftFunctions.intLit(es(1), "table_changes", "fromVersion")
    val toV = es.lift(2)
      .map(GraftFunctions.intLit(_, "table_changes", "toVersion"))
      .orElse(graft.operators.Sinks.snapshotCommitted(spark, dir))
      .getOrElse(throw new IllegalStateException(
        s"table_changes: no committed snapshot at $dir"))
    if (graft.sources.PartitionedSnapshot.partSpec(spark, dir).isDefined) {
      // PARTITIONED snapshot handle (r18): serve the metadata-driven diff
      // — `changesBetween(f-1, t]` is exactly "the changes versions f..t
      // made". v=1 is the creating write: like a materialized flat
      // version it has no change grain, so ranges must start past it.
      require(fromV >= 2,
        s"table_changes on partitioned snapshot $dir: v=1 is the creating " +
          "write (no change grain) — start the range at 2, or read v=1 " +
          "directly (VERSION AS OF 1)")
      graft.sources.PartitionedSnapshot
        .changesBetween(spark, dir, fromV - 1, toV).queryExecution.logical
    } else
      graft.operators.Sinks.tableChanges(spark, dir, fromV, toV)
        .queryExecution.logical
  }

  /** `snapshot_history('snap.t' | '<dir>')` — DESCRIBE HISTORY for the
    * versioned store ([[graft.operators.Sinks.snapshotHistory]]): version,
    * commit micros, thin/materialized/bucketed kind, operation, base
    * version, file footprint. Read-only, O(history) metadata. */
  private def snapshotHistoryPlan(es: Seq[Expression]):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(es.length == 1, "snapshot_history(table)")
    val dir = resolveRef("snapshot_history",
      strLit(es.head, "snapshot_history", "table"))
    graft.operators.Sinks.snapshotHistory(SparkSession.active, dir)
      .queryExecution.logical
  }

  /** Procedure-style maintenance TVFs — the SQL faces of the operator
    * APIs a table's owner otherwise needs a JVM for: OPTIMIZE
    * (`snapshot_compact('t' [, targetRows])` → the committed compacted
    * version), retention (`snapshot_expire('t', keep)` → versions
    * dropped), and orphan cleanup (`snapshot_vacuum('t' [, graceMs])` →
    * orphans dropped). Like every injected TVF these resolve — and hence
    * EXECUTE — at analysis time: `spark.sql(...)` on a procedure IS the
    * invocation (the Iceberg `CALL` semantics), so don't EXPLAIN one —
    * plan-only inspection (EXPLAIN, `df.schema`, a notebook's eager
    * display of an unexecuted query) performs the maintenance. Flat
    * compaction is the claim-fenced
    * [[graft.operators.Sinks.compactSnapshot]] (safe beside concurrent
    * writers — a SQL user cannot audit what else is committing). */
  private def snapshotCompactPlan(es: Seq[Expression]):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(es.length == 1 || es.length == 2,
      "snapshot_compact(table [, targetRows])")
    val spark = SparkSession.active
    val dir = resolveRef("snapshot_compact",
      strLit(es.head, "snapshot_compact", "table"))
    val targetOpt = es.lift(1).map(longLit(_, "snapshot_compact", "targetRows"))
    // partitioned handles route to the layout-preserving rewrite (r18):
    // every partition re-clustered into a fully-OWNED fenced version —
    // carry indirection and small-files debt retired, pinned history kept.
    // An explicit targetRows threads into BOTH routes (ADVICE r18: the
    // partitioned route silently ignored it)
    val v =
      if (graft.sources.PartitionedSnapshot.partSpec(spark, dir).isDefined)
        graft.sources.PartitionedSnapshot.compactTable(spark, dir, targetOpt)
      else graft.operators.Sinks.compactSnapshot(spark, dir,
        targetOpt.getOrElse(5000000L))
    import spark.implicits._
    Seq(v).toDF("version").queryExecution.logical
  }

  /** `workspace_compact('cat.table' [, targetRows [, minFiles]])` — the
    * partitioned-workspace OPTIMIZE
    * ([[graft.sources.PartitionCompaction.compactPartitions]]): rewrite
    * every leaf holding >= minFiles small files through the retire-by-
    * rename protocol (manifests re-stamped, untouched leaves keep their
    * mtimes). Returns one row per compacted leaf. Executes at analysis
    * time like every procedure TVF. */
  private def workspaceCompactPlan(es: Seq[Expression]):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(es.nonEmpty && es.length <= 3,
      "workspace_compact(table [, targetRows [, minFiles]])")
    val spark = SparkSession.active
    val ref = strLit(es.head, "workspace_compact", "table")
    val (ws, tbl) =
      if (ref.contains("/")) {
        // a direct table directory `<ws>/<name>.parquet`
        val p = new org.apache.hadoop.fs.Path(ref)
        require(p.getName.endsWith(".parquet"),
          s"workspace_compact: directory must be a <ws>/<table>.parquet " +
            s"workspace table dir, got '$ref'")
        (p.getParent.toString, p.getName.stripSuffix(".parquet"))
      } else ref.split('.') match {
        case Array(cat, t) =>
          val w = spark.conf.getOption(s"spark.sql.catalog.$cat.workspace")
            .getOrElse(throw new IllegalArgumentException(
              s"workspace_compact: no catalog '$cat' with a workspace on " +
                "this session"))
          (w, t)
        case _ => throw new IllegalArgumentException(
          s"workspace_compact: table must be 'catalog.table' or a " +
            s"directory path, got '$ref'")
      }
    val target = es.lift(1)
      .map(longLit(_, "workspace_compact", "targetRows")).getOrElse(5000000L)
    val minFiles = es.lift(2)
      .map(GraftFunctions.intLit(_, "workspace_compact", "minFiles"))
      .getOrElse(2)
    val res = graft.sources.PartitionCompaction
      .compactPartitions(spark, ws, tbl, target, minFiles)
    spark.catalog.refreshByPath(s"$ws/$tbl.parquet")
    import spark.implicits._
    res.toDF("partition", "files_before", "files_after")
      .queryExecution.logical
  }

  /** `snapshot_partitions('snap.t' | '<dir>')` — the partitioned store's
    * ops view (r19): one row per partition of the COMMITTED version with
    * its chain depth (dirs in the carry graph — the delta-append cost
    * model made inspectable: depth near `graft.snapshot.
    * partitionAppendDepth` means the next append collapses it; high
    * depths table-wide say "run snapshot_compact"), file count, and the
    * exact row count from parquet footers. O(files) metadata reads, zero
    * data pages, zero Spark jobs, read-only. */
  private def snapshotPartitionsPlan(es: Seq[Expression]):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(es.length == 1 || es.length == 2,
      "snapshot_partitions(table [, version])")
    val spark = SparkSession.active
    val dir = resolveRef("snapshot_partitions",
      strLit(es.head, "snapshot_partitions", "table"))
    require(graft.sources.PartitionedSnapshot.partSpec(spark, dir).isDefined,
      s"snapshot_partitions: $dir is not a PARTITIONED snapshot — flat " +
        "version stores have no partition grain (snapshot_history lists " +
        "their versions)")
    val version = es.lift(1)
      .map(GraftFunctions.intLit(_, "snapshot_partitions", "version"))
    import spark.implicits._
    graft.sources.PartitionedSnapshot.partitionStats(spark, dir, version)
      .toDF("partition", "depth", "files", "rows")
      .queryExecution.logical
  }

  /** `snapshot_enable_manifests('snap.t' | '<dir>', 'col1,col2')` — the
    * SQL face of [[graft.sources.PartitionedSnapshot.enableManifests]]:
    * opt the partitioned snapshot into per-partition file manifests and
    * backfill the committed version's dirs. Returns the dirs indexed.
    * Executes at analysis like every procedure TVF. */
  private def snapshotEnableManifestsPlan(es: Seq[Expression]):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(es.length == 2, "snapshot_enable_manifests(table, cols)")
    val spark = SparkSession.active
    val dir = resolveRef("snapshot_enable_manifests",
      strLit(es.head, "snapshot_enable_manifests", "table"))
    require(graft.sources.PartitionedSnapshot.partSpec(spark, dir).isDefined,
      s"snapshot_enable_manifests: $dir is not a PARTITIONED snapshot — " +
        "flat stores index through Sinks.writeSnapshotWithManifest")
    val cols = strLit(es(1), "snapshot_enable_manifests", "cols")
      .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    val n = graft.sources.PartitionedSnapshot
      .enableManifests(spark, dir, cols)
    import spark.implicits._
    Seq(n).toDF("dirs_indexed").queryExecution.logical
  }

  private def snapshotExpirePlan(es: Seq[Expression]):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(es.length == 2, "snapshot_expire(table, keep)")
    val spark = SparkSession.active
    val dir = resolveRef("snapshot_expire",
      strLit(es.head, "snapshot_expire", "table"))
    val keep = GraftFunctions.intLit(es(1), "snapshot_expire", "keep")
    val dropped = graft.operators.Sinks.expireSnapshots(spark, dir, keep)
    import spark.implicits._
    dropped.toDF("dropped_version").queryExecution.logical
  }

  private def snapshotVacuumPlan(es: Seq[Expression]):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(es.length == 1 || es.length == 2,
      "snapshot_vacuum(table [, graceMs])")
    val spark = SparkSession.active
    val dir = resolveRef("snapshot_vacuum",
      strLit(es.head, "snapshot_vacuum", "table"))
    val grace = es.lift(1)
      .map(longLit(_, "snapshot_vacuum", "graceMs")).getOrElse(86400000L)
    val dropped = graft.operators.Sinks.vacuumOrphans(spark, dir, grace)
    import spark.implicits._
    dropped.toDF("dropped_version").queryExecution.logical
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    Bridge.activeContext.foreach(sc =>
      graft.sources.LocalFs.install(sc.hadoopConfiguration))
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.GraftFunctions", name),
        builder))
    }
    Seq[(String, Seq[Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)](
      "table_changes" -> tableChangesPlan,
      "snapshot_history" -> snapshotHistoryPlan,
      "snapshot_compact" -> snapshotCompactPlan,
      "snapshot_expire" -> snapshotExpirePlan,
      "snapshot_vacuum" -> snapshotVacuumPlan,
      "snapshot_partitions" -> snapshotPartitionsPlan,
      "snapshot_enable_manifests" -> snapshotEnableManifestsPlan,
      "workspace_compact" -> workspaceCompactPlan
    ).foreach { case (name, plan) =>
      ext.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.operators.Sinks", name),
        plan))
    }
    ext.injectResolutionRule(graft.sources.ResolveThinSnapshots(_))
    ext.injectOptimizerRule(SplitAwareRepartition(_))
  }
}
