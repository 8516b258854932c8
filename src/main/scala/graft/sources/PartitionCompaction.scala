package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** PARTITION COMPACTION for partitioned workspace tables (VERDICT r15
  * missing #2): a leaf accumulating V1 `INSERT INTO` appends collects
  * small files forever — every later scan pays a footer read and a
  * scheduler round per file, and the leaf's manifest self-disables
  * (complete-or-ignored freshness) until the next DML rewrite. 100k-file
  * days are the #1 operational complaint on real lakes; snapshots have
  * `compactSnapshot` + SQL `snapshot_compact`, this is the partitioned
  * tables' equivalent (`workspace_compact` in SQL).
  *
  * Protocol — entirely the EXISTING publish machinery, so crash safety
  * and manifest re-stamping come from the same code paths every DML
  * statement exercises:
  *
  *  1. take the table's DML statement lock (concurrent statements abort
  *     cleanly instead of racing the rename swap);
  *  2. repair crashed-DML debris ([[PartitionedWorkspaceTable
  *     .repairRetiredPartitions]], direct — the lock is held);
  *  3. pick the FRAGMENTED leaves (`>= minFiles` data files; everything
  *     else is untouched — never listed, never re-stamped, mtimes keep);
  *  4. ONE Spark job rewrites those leaves' rows into a staged sibling,
  *     clustered by the path columns + `maxRecordsPerFile`
  *     ([[PartitionEvolution.stageLayoutWrite]] — each leaf lands in one
  *     task, so `ceil(rows/targetRows)` files);
  *  5. publish through [[PartitionedWorkspaceTable.publishPartitioned]]:
  *     staged leaves get fresh footer-built manifests stamped BEFORE
  *     anything retires (when the table opted in via `.stats_cols`), the
  *     fragmented originals retire by rename, replacements move in,
  *     retired copies delete last — a crash anywhere leaves both copies
  *     on disk for the standard repair.
  *
  * Returns one row per compacted leaf: (relative path, files before,
  * files after). An already-compact table returns empty and touches
  * nothing. */
object PartitionCompaction {

  /** Compact every leaf of `<ws>/<table>` holding at least `minFiles`
    * parquet files into `ceil(rows/targetRows)`-file rewrites. */
  def compactPartitions(spark: SparkSession, ws: String, table: String,
                        targetRows: Long = 5000000L,
                        minFiles: Int = 2): Seq[(String, Int, Int)] = {
    require(minFiles >= 2, "minFiles < 2 would rewrite already-compact leaves")
    require(targetRows > 0, "targetRows must be positive")
    val dir = PartitionEvolution.tableDir(ws, table)
    // whole-table operation: never rewrite leaves a claim-holding
    // row-level statement is mid-copy on — wait (bounded) for claims to
    // drain instead of flapping on a busy table (r17); every table read
    // below happens after the gate, so the wait's transient lock release
    // is safe
    WorkspaceDmlLock.withLockNoClaims(spark, dir.toString) {
      val f = dir.getFileSystem(spark.sessionState.newHadoopConf())
      require(f.exists(dir), s"no table directory $dir")
      val marker = MetaFs.read(spark, PartitionEvolution.partMarker(ws, table))
        .map(_.trim)
        .getOrElse(throw new IllegalArgumentException(
          s"$table is not a partitioned workspace table — compact flat " +
            "tables by rewriting them (Sinks.writeCompacted), or versioned " +
            "tables with snapshot_compact"))
      val declared = MetaFs.read(spark, PartitionEvolution.sidecar(ws, table))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(FooterSchema.read(spark, dir.toString).schema)
      val levels = PartitionEvolution.levelsOf(marker, declared)
      require(levels.nonEmpty, s"empty partition marker for $table")
      val tbl = new PartitionedWorkspaceTable(
        table, spark, dir.toString, declared, levels)
      // crashed-DML debris first (same composition rule as the respec): a
      // parked partition's rows must be live again before any leaf listing
      tbl.repairRetiredPartitions()

      def leafFileCount(p: Path): Int = f.listStatus(p).count(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
      val frag = tbl.leafDirsWithValues().flatMap { case (path, vals) =>
        val n = leafFileCount(new Path(path))
        if (n >= minFiles) Some((tbl.relOf(vals), path, n)) else None
      }
      if (frag.isEmpty) Nil
      else {
        // ONE job over just the fragmented leaves. Identity layouts
        // re-attach the partition values from the directory names
        // (basePath hive discovery, declared types); a hidden days layout
        // keeps its source column in the files, so the leaf paths alone
        // suffice.
        // FIELD-ID read (r17): a renamed/re-added column must resolve by
        // id in the rewrite, or the compacted files would null-fill it /
        // resurrect dropped bytes (SQLConf key — isolated session, not a
        // reader option)
        val iso = ColumnIds.readSession(spark)
        val rows: DataFrame =
          if (tbl.hasHidden && levels.length == 1)
            iso.read.schema(tbl.fileSchema).parquet(frag.map(_._2): _*)
          else
            // identity and MIXED layouts re-attach identity values from
            // the directory names (readHive's shared rule); the pure
            // hidden case reads files directly (source column in files)
            PartitionedWorkspace.readHive(iso, dir.toString, declared,
              levels, frag.map(_._2))
        val staging = tbl.stagingPath()
        // a STAGING failure aborts with the table untouched — drop our
        // half-written staging; a PUBLISH failure must LEAVE staging and
        // parked copies on disk (publishPartitioned's documented recovery
        // contract — repair restores pre-statement content from the
        // parked copies, janitors age the rest out)
        try PartitionEvolution.stageLayoutWrite(
          spark, rows, declared, levels, staging, targetRows)
        catch { case e: Throwable => tbl.dropStaging(staging); throw e }
        tbl.publishPartitioned(staging, Some(frag.map(_._1)))
        frag.map { case (rel, _, before) =>
          val after = {
            val p = new Path(dir, rel)
            if (f.exists(p)) leafFileCount(p) else 0
          }
          (rel, before, after)
        }
      }
    }
  }
}
