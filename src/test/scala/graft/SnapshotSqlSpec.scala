package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Sinks

/** Snapshot versions served through the SQL snapshot catalog: every flat
  * version, head or pinned, through one table class (FlatSnapshotTable) —
  * thin merge-on-read chains as the marker ResolveThinSnapshots expands,
  * materialized ones as parquet scans resolving columns by field id,
  * manifest-bearing ones with file skipping — plus its DML paths (thin
  * O(keys)/O(delta) hops with keys, copy-on-write without), schema
  * evolution, the change feed and the partitioned snapshots. */
class SnapshotSqlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Distinct data-file paths in the PLANNED scan set (pre-AQE tree). */
  private def plannedFileSet(sql: String): Seq[String] =
    spark.sql(sql).queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.flatMap(_.inputPartitions).flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.map(_.filePath.toString)
      case _ => Nil
    }.distinct

  private def freshCatalog(): (String, String) = {
    val s = new graft.Session.Scratch
    val cat = "snapsql_" + java.lang.Long.toHexString(
      System.nanoTime() & 0xffffffL)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.workspace", s.dir)
    (cat, s.dir)
  }

  private def seed(ws: String, tbl: String): Unit = {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, s"doc$i", i % 7)).toDF("id", "txt", "grp")
    assert(Sinks.writeSnapshot(df, s"$ws/$tbl") == 1)
  }

  test("thin head: unpinned and pinned SQL reads resolve the chain") {
    val (cat, ws) = freshCatalog()
    seed(ws, "t1")
    import spark.implicits._
    Sinks.deleteSnapshotKeys(spark, s"$ws/t1",
      Seq(1L, 2L, 3L).toDF("id"), Seq("id")): Unit
    // unpinned read resolves the thin head (v=2)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t1").first().getLong(0) == 97)
    // pinned thin read and pinned base read both work
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t1 VERSION AS OF 2")
      .first().getLong(0) == 97)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t1 VERSION AS OF 1")
      .first().getLong(0) == 100)
    // content, not just counts: the deleted keys are gone, others intact
    val ids = spark.sql(s"SELECT id FROM $cat.t1 WHERE id <= 5 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(4L, 5L))
  }

  test("thin head SQL DELETE publishes an O(keys) thin version, fenced") {
    val (cat, ws) = freshCatalog()
    seed(ws, "t2")
    import spark.implicits._
    Sinks.deleteSnapshotKeys(spark, s"$ws/t2",
      Seq(Tuple1(50L)).toDF("id"), Seq("id")): Unit
    // SQL DELETE on the thin head takes SupportsDelete → another thin hop
    spark.sql(s"DELETE FROM $cat.t2 WHERE grp = 3")
    assert(Sinks.snapshotCommitted(spark, s"$ws/t2").contains(3))
    // the published version is THIN: _deletes + _base only, no data files
    val fs = new org.apache.hadoop.fs.Path(ws)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val entries = fs.listStatus(new org.apache.hadoop.fs.Path(s"$ws/t2/v=3"))
      .map(_.getPath.getName).toSet
    assert(entries.forall(n => n.startsWith("_") || n.startsWith(".")),
      s"thin version must hold only markers/deltas, got $entries")
    val expect = (1L to 100L).filterNot(_ == 50L).filterNot(_ % 7 == 3)
    val got = spark.sql(s"SELECT id FROM $cat.t2 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == expect)
  }

  test("declared keys: SQL DELETE on a materialized head goes thin") {
    val (cat, ws) = freshCatalog()
    seed(ws, "t3")
    Sinks.declareSnapshotKeys(spark, s"$ws/t3", Seq("id"))
    spark.sql(s"DELETE FROM $cat.t3 WHERE id <= 10")
    assert(Sinks.snapshotCommitted(spark, s"$ws/t3").contains(2))
    assert(Sinks.thinBase(spark, s"$ws/t3", 2).map(_._1).contains(1),
      "declared-keys DELETE must publish a thin version, not a COW rewrite")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t3").first().getLong(0) == 90)
    // and the thin version is byte-thin: no parquet data files
    val fs = new org.apache.hadoop.fs.Path(ws)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$ws/t3/v=2"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    assert(dataFiles.isEmpty)
  }

  test("declared keys: UPDATE publishes an O(delta) thin version via the delta rewrite") {
    val (cat, ws) = freshCatalog()
    seed(ws, "t7")
    Sinks.declareSnapshotKeys(spark, s"$ws/t7", Seq("id"))
    spark.sql(s"UPDATE $cat.t7 SET txt = 'patched' WHERE grp = 3")
    assert(Sinks.snapshotCommitted(spark, s"$ws/t7").contains(2))
    assert(Sinks.thinBase(spark, s"$ws/t7", 2).map(_._1).contains(1),
      "declared-keys UPDATE must publish a thin version, not a COW rewrite")
    val fs = new org.apache.hadoop.fs.Path(ws)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the delta is O(matched): _deletes + _upserts subfolders, zero
    // root-level data files
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(s"$ws/t7/v=2"))
      .exists(st => st.isFile && st.getPath.getName.endsWith(".parquet")))
    val up = spark.read.parquet(s"$ws/t7/v=2/_upserts")
    assert(up.count() == 14 && up.columns.toSeq == Seq("id", "txt", "grp"))
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.t7 WHERE txt = 'patched'").first().getLong(0) == 14)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t7").first().getLong(0) == 100)
    // a statement matching NOTHING publishes NO version (replay-safe no-op)
    spark.sql(s"UPDATE $cat.t7 SET txt = 'x' WHERE id < 0")
    assert(Sinks.snapshotCommitted(spark, s"$ws/t7").contains(2),
      "an empty delta must not publish a version")
  }

  test("declared keys: MERGE publishes one thin version (update+insert+delete)") {
    val (cat, ws) = freshCatalog()
    seed(ws, "t8")
    Sinks.declareSnapshotKeys(spark, s"$ws/t8", Seq("id"))
    import spark.implicits._
    // updates ids 1-5, deletes ids 96-100, inserts ids 101-103
    ((1L to 5L) ++ (96L to 103L)).map(i => (i, s"m$i", i % 7))
      .toDF("id", "txt", "grp").createOrReplaceTempView("t8_src")
    spark.sql(
      s"""MERGE INTO $cat.t8 t USING t8_src s ON t.id = s.id
         |WHEN MATCHED AND s.id > 90 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET txt = s.txt
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(Sinks.snapshotCommitted(spark, s"$ws/t8").contains(2))
    assert(Sinks.thinBase(spark, s"$ws/t8", 2).isDefined,
      "declared-keys MERGE must publish a thin version")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t8").first().getLong(0) == 98)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t8 WHERE txt LIKE 'm%'")
      .first().getLong(0) == 8) // 5 updates + 3 inserts
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t8 WHERE id > 95 AND id <= 100")
      .first().getLong(0) == 0)
    // an UPDATE that mutates the KEY itself: delete(old) + insert(new)
    spark.sql(s"UPDATE $cat.t8 SET id = 1000 WHERE id = 1")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t8 WHERE id = 1").first().getLong(0) == 0)
    assert(spark.sql(s"SELECT txt FROM $cat.t8 WHERE id = 1000").first().getString(0) == "m1")
    // v1 history stays pinned through it all
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t8 VERSION AS OF 1")
      .first().getLong(0) == 100)
  }

  test("thin head: UPDATE chains another thin hop; reads in joins/subqueries expand") {
    val (cat, ws) = freshCatalog()
    seed(ws, "t4")
    import spark.implicits._
    Sinks.deleteSnapshotKeys(spark, s"$ws/t4",
      Seq(Tuple1(1L)).toDF("id"), Seq("id")): Unit
    // UPDATE on the thin head reads the RESOLVED chain and publishes v=3
    // as a thin delta (row identity = the chain's own marker keys)
    spark.sql(s"UPDATE $cat.t4 SET txt = 'x' WHERE id = 2")
    assert(Sinks.snapshotCommitted(spark, s"$ws/t4").contains(3))
    assert(Sinks.thinBase(spark, s"$ws/t4", 3).map(_._1).contains(2))
    assert(spark.sql(s"SELECT txt FROM $cat.t4 WHERE id = 2")
      .first().getString(0) == "x")
    // thin relation as a JOIN side and inside a subquery both expand
    assert(spark.sql(
      s"""SELECT COUNT(*) FROM $cat.t4 a JOIN $cat.t4 b ON a.id = b.id"""
    ).first().getLong(0) == 99)
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.t4 WHERE id IN (SELECT id FROM $cat.t4 WHERE grp = 0)"
    ).first().getLong(0) == 14)
  }

  test("SQL lifecycle: CREATE/CTAS, INSERT appends thin versions, OVERWRITE materializes, DROP") {
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.life (id BIGINT, v STRING)")
    assert(Sinks.snapshotCommitted(spark, s"$ws/life").contains(1))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.life").first().getLong(0) == 0)
    // INSERT INTO = keyless thin APPEND version: O(batch) bytes, base
    // never reopened, pinned history per insert
    spark.sql(s"INSERT INTO $cat.life VALUES (1, 'a'), (2, 'b')")
    assert(Sinks.snapshotCommitted(spark, s"$ws/life").contains(2))
    assert(Sinks.thinBase(spark, s"$ws/life", 2).exists(_._2.isEmpty),
      "INSERT INTO must publish a KEYLESS thin append, not rewrite")
    val fs = new org.apache.hadoop.fs.Path(ws)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(s"$ws/life/v=2"))
      .exists(st => st.isFile && st.getPath.getName.endsWith(".parquet")))
    spark.sql(s"INSERT INTO $cat.life VALUES (3, 'c')")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.life").first().getLong(0) == 3)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.life VERSION AS OF 2")
      .first().getLong(0) == 2)
    // v=1 (pre-insert) is still exactly empty — the r13 bugfix: the old
    // FileTable fallback wrote INTO the committed folder, mutating history
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.life VERSION AS OF 1")
      .first().getLong(0) == 0)
    // INSERT OVERWRITE = a new MATERIALIZED version, history intact
    spark.sql(s"INSERT OVERWRITE $cat.life VALUES (9, 'z')")
    assert(Sinks.snapshotCommitted(spark, s"$ws/life").contains(4))
    assert(Sinks.thinBase(spark, s"$ws/life", 4).isEmpty)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.life").first().getLong(0) == 1)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.life VERSION AS OF 3")
      .first().getLong(0) == 3)
    // CTAS composes CREATE + append; DROP removes the version store
    spark.sql(s"CREATE TABLE $cat.life2 AS SELECT * FROM $cat.life")
    assert(spark.sql(s"SELECT v FROM $cat.life2").first().getString(0) == "z")
    spark.sql(s"DROP TABLE $cat.life2")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$ws/life2")))
    intercept[Exception] { spark.table(s"$cat.life2").count() }
  }

  test("manifest-bearing snapshot: SQL scans plan ONLY surviving files") {
    val (cat, ws) = freshCatalog()
    import spark.implicits._
    val df = (0L until 400L).map(i => (i, s"d$i")).toDF("id", "txt")
    // one sorted write task + maxRecordsPerFile=50 → 8 files of 50
    // CONSECUTIVE ids each: file k spans exactly [50k, 50k+49]
    Sinks.writeSnapshotWithManifest(
      df.coalesce(1).sortWithinPartitions("id"), s"$ws/mt", Seq("id"),
      maxRecordsPerFile = 50L): Unit

    def plannedFiles(sql: String): Seq[String] = plannedFileSet(sql)

    // range hits exactly files [100,149] and [150,199]
    val q = s"SELECT id, txt FROM $cat.mt WHERE id BETWEEN 120 AND 170"
    assert(plannedFiles(q).size == 2,
      s"expected 2 surviving files, planned: ${plannedFiles(q)}")
    // results stay EXACT (the predicate re-applies after the skip)
    val got = spark.sql(q).orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got == (120L to 170L).toSeq)
    // unfiltered scan keeps every file
    assert(plannedFiles(s"SELECT id FROM $cat.mt").size == 8)
    // zero-survivor predicate plans NO files and returns no rows
    val none = s"SELECT id FROM $cat.mt WHERE id > 100000"
    assert(plannedFiles(none).isEmpty)
    assert(spark.sql(none).count() == 0)
    // the pinned path (VERSION AS OF) prunes the same way
    val pinned = s"SELECT id FROM $cat.mt VERSION AS OF 1 WHERE id < 40"
    assert(plannedFiles(pinned).size == 1)
    assert(spark.sql(pinned).count() == 40)
    // row-group pushdown still rides the inner parquet scan
    val physical = spark.sql(q).queryExecution.executedPlan.toString
    assert(raw"PushedFilters: \[[^\]]*id".r.findFirstIn(physical).isDefined,
      physical.take(1200))
    // DML keeps working on a manifest-bearing committed version (the COW
    // scan rides the pruned builder; skipping is provably-empty-only)
    spark.sql(s"UPDATE $cat.mt SET txt = 'u' WHERE id BETWEEN 0 AND 49")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.mt").first().getLong(0) == 400)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.mt WHERE txt = 'u'")
      .first().getLong(0) == 50)
  }

  test("table_changes TVF: version-range reads off cdf files, guardrails") {
    val (cat, ws) = freshCatalog()
    seed(ws, "tc")
    import spark.implicits._
    val tdir = s"$ws/tc"
    Sinks.declareSnapshotKeys(spark, tdir, Seq("id"))
    Sinks.enableChangeFeed(spark, tdir)
    spark.sql(s"DELETE FROM $cat.tc WHERE id <= 3")                // v2
    Sinks.upsertSnapshotRows(spark, tdir,
      Seq((50L, "DOC50", 1L)).toDF("id", "txt", "grp"), Seq("id")): Unit // v3
    // explicit range: one version's changes only
    val v2 = spark.sql(s"SELECT id, __change FROM table_changes('$cat.tc', 2, 2)")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(v2.toSeq == Seq((1L, "delete"), (2L, "delete"), (3L, "delete")))
    // 2-arg form defaults to the committed head
    assert(spark.sql(s"SELECT COUNT(*) FROM table_changes('$cat.tc', 2)")
      .first().getLong(0) == 4)
    // a directory path works as the first argument too
    assert(spark.sql(s"SELECT COUNT(*) FROM table_changes('$tdir', 3, 3)")
      .first().getLong(0) == 1)
    // materialized version inside the range → guided error
    spark.sql(s"INSERT OVERWRITE $cat.tc VALUES (9, 'z', 0)")      // v4
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM table_changes('$cat.tc', 2, 4)").collect()
    }
    assert(e.getMessage.contains("MATERIALIZED"), e.getMessage)
    // range below the enable point → guided error
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM table_changes('$cat.tc', 1, 2)").collect()
    }
    assert(e2.getMessage.contains("enable point"), e2.getMessage)
  }

  test("manifest skipping prunes on TIMESTAMP and STRING stats, not just numerics") {
    val (cat, ws) = freshCatalog()
    import spark.implicits._
    // 4 files of 25 consecutive hours each + a lang that sorts with ts
    val df = (0L until 100L).map { i =>
      (i, java.sql.Timestamp.valueOf(java.time.LocalDateTime
        .of(2024, 3, 1, 0, 0).plusHours(i.toInt)),
        f"lang${i / 25}%02d")
    }.toDF("id", "ts", "lang")
    Sinks.writeSnapshotWithManifest(
      df.coalesce(1).sortWithinPartitions("id"), s"$ws/tm",
      Seq("ts", "lang"), maxRecordsPerFile = 25L): Unit
    def planned(sql: String): Int = plannedFileSet(sql).size
    // hours 30..40 live ONLY in file 1 (hours 25-49)
    val tsQ = s"SELECT id FROM $cat.tm WHERE " +
      s"ts >= timestamp'2024-03-02 06:00:00' AND ts < timestamp'2024-03-02 17:00:00'"
    assert(planned(tsQ) == 1, s"ts-range should touch one file: ${planned(tsQ)}")
    assert(spark.sql(tsQ).count() == 11)
    // one lang value lives in one file
    val strQ = s"SELECT id FROM $cat.tm WHERE lang = 'lang02'"
    assert(planned(strQ) == 1)
    assert(spark.sql(strQ).count() == 25)
    // midnight boundary prunes exactly (ts < file-2 start keeps files 0-1)
    val edgeQ = s"SELECT id FROM $cat.tm WHERE ts < timestamp'2024-03-03 02:00:00'"
    assert(planned(edgeQ) == 2)
    assert(spark.sql(edgeQ).count() == 50)
  }

  test("manifest continuity: COW DML, INSERT OVERWRITE and compaction carry the manifest") {
    val (cat, ws) = freshCatalog()
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, s"v$i")).toDF("id", "txt")
    Sinks.writeSnapshotWithManifest(
      df.coalesce(1).sortWithinPartitions("id"), s"$ws/mc", Seq("id"),
      maxRecordsPerFile = 50L): Unit
    def planned(sql: String): Int = plannedFileSet(sql).size
    import graft.sources.ManifestPrune
    // COW UPDATE (whole-table rewrite) → the NEW version has a manifest
    spark.sql(s"UPDATE $cat.mc SET txt = 'u' WHERE id < 10")
    val v2 = Sinks.snapshotCommitted(spark, s"$ws/mc").get
    assert(ManifestPrune.exists(spark, s"$ws/mc", v2),
      "COW DML must carry the manifest to the new version")
    // the rewritten layout differs, but SOME pruning must still apply
    val q = s"SELECT id FROM $cat.mc WHERE id BETWEEN 60 AND 70"
    assert(spark.sql(q).count() == 11)
    // INSERT OVERWRITE with the same schema carries it too
    spark.sql(s"INSERT OVERWRITE $cat.mc " +
      s"SELECT id, txt FROM $cat.mc VERSION AS OF 1 WHERE id < 100")
    val v3 = Sinks.snapshotCommitted(spark, s"$ws/mc").get
    assert(ManifestPrune.exists(spark, s"$ws/mc", v3))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.mc").first().getLong(0) == 100)
    // compaction carries it as well
    val v4 = Sinks.compactSnapshot(spark, s"$ws/mc", targetRows = 25L)
    assert(ManifestPrune.exists(spark, s"$ws/mc", v4))
    assert(planned(s"SELECT id FROM $cat.mc WHERE id < 20") <
      planned(s"SELECT id FROM $cat.mc"),
      "the carried manifest must actually skip files on the compacted layout")
    assert(spark.sql(s"SELECT id FROM $cat.mc WHERE id < 20").count() == 20)
    // a schema-changing overwrite that DROPS the stats column commits
    // WITHOUT a manifest (never a broken one) and still serves
    Sinks.writeSnapshot(
      df.select(col("txt")), s"$ws/mc"): Unit
    val v5 = Sinks.snapshotCommitted(spark, s"$ws/mc").get
    assert(!ManifestPrune.exists(spark, s"$ws/mc", v5))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.mc").first().getLong(0) == 200)
  }

  test("manifest carry and build are metadata-only: zero data pages re-read") {
    val (cat, ws) = freshCatalog()
    import spark.implicits._
    val n = 50000L
    // IN-MEMORY source: any file-input records observed below can only
    // come from the manifest machinery itself, never the statement's scan
    val df = spark.range(n).select(col("id"), (col("id") % 97).as("grp"))
    // file-input BYTES: the in-memory Range source reads zero bytes, so
    // any volume observed here is file reads — a data-page re-scan of the
    // published version would read the version's full size, the footer
    // path only tiny metadata (prev-manifest schema + footers, driver-side)
    var bytesRead = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          bytesRead += t.taskMetrics.inputMetrics.bytesRead
    }
    spark.sparkContext.addSparkListener(listener)
    def settle(): Long = {
      // the listener bus is async: wait for the counter to go quiet
      var prev = -1L
      var same = 0
      while (same < 3) {
        Thread.sleep(60)
        if (bytesRead == prev) same += 1 else { same = 0; prev = bytesRead }
      }
      bytesRead
    }
    def dataBytes(v: Int): Long =
      new java.io.File(s"$ws/meta_only/v=$v").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    try {
      // initial manifest build: stats must come from footers, not a re-scan
      Sinks.writeSnapshotWithManifest(
        df.repartitionByRange(8, col("id")), s"$ws/meta_only", Seq("id")): Unit
      val afterBuild = settle()
      assert(afterBuild < dataBytes(1) / 4,
        s"manifest BUILD re-read data pages ($afterBuild bytes of ${dataBytes(1)})")
      // carry on a full rewrite publish: ditto (the r14 wart was exactly
      // a spark.read.parquet(v=N) + groupBy over the fresh version here)
      bytesRead = 0
      Sinks.writeSnapshot(
        df.withColumn("grp", col("grp") + 1).repartitionByRange(8, col("id")),
        s"$ws/meta_only"): Unit
      val afterCarry = settle()
      assert(graft.sources.ManifestPrune.exists(spark, s"$ws/meta_only", 2))
      assert(afterCarry < dataBytes(2) / 4,
        s"manifest CARRY re-read data pages ($afterCarry bytes of ${dataBytes(2)})")
      // and the carried manifest still actually prunes
      val kept = plannedFileSet(
        s"SELECT id FROM $cat.meta_only WHERE id < ${n / 8 / 2}").size
      val total = plannedFileSet(s"SELECT id FROM $cat.meta_only").size
      assert(kept < total, s"carried manifest must prune ($kept/$total)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("null-count stats: IS NULL and IS NOT NULL prune files") {
    val (cat, ws) = freshCatalog()
    import spark.implicits._
    // 4 files: ids 0-99 with txt fully null, 100-199 mixed, 200-299 and
    // 300-399 fully non-null — built as one sorted write so file ranges
    // are disjoint on id
    val df = (0L until 400L).map { i =>
      (i, if (i < 100 || (i < 200 && i % 2 == 0)) null else s"t$i")
    }.toDF("id", "txt")
    Sinks.writeSnapshotWithManifest(
      df.coalesce(1).sortWithinPartitions("id"), s"$ws/nulls",
      Seq("id", "txt"), maxRecordsPerFile = 100L): Unit
    val man = spark.read.parquet(s"$ws/nulls/_manifest/v=1")
    assert(man.columns.contains("nullcount_txt") && man.columns.contains("rowcount"))
    assert(man.agg(sum("nullcount_txt")).first().getLong(0) == 150L)
    // IS NULL keeps only the two files that HAVE nulls
    val qNull = s"SELECT id FROM $cat.nulls WHERE txt IS NULL"
    assert(plannedFileSet(qNull).size == 2, plannedFileSet(qNull).toString)
    assert(spark.sql(qNull).count() == 150)
    // IS NOT NULL drops only the all-null file
    val qNotNull = s"SELECT id FROM $cat.nulls WHERE txt IS NOT NULL"
    assert(plannedFileSet(qNotNull).size == 3, plannedFileSet(qNotNull).toString)
    assert(spark.sql(qNotNull).count() == 250)
    // null-safe equality: <=> NULL prunes like IS NULL
    assert(spark.sql(s"SELECT id FROM $cat.nulls WHERE txt <=> NULL").count() == 150)
  }

  test("SQL maintenance faces: snapshot_history, compact, expire, vacuum") {
    val (cat, ws) = freshCatalog()
    import spark.implicits._
    val dir = s"$ws/hist"
    Sinks.writeSnapshot((1L to 60L).map(i => (i, s"d$i")).toDF("id", "txt"),
      dir, commitTsMicros = Some(1000000L))                              // v1
    Sinks.declareSnapshotKeys(spark, dir, Seq("id"))
    Sinks.deleteSnapshotKeys(spark, dir, Seq(1L, 2L).toDF("id"), Seq("id"),
      commitTsMicros = Some(2000000L))                                   // v2
    Sinks.upsertSnapshotRows(spark, dir, Seq((3L, "u")).toDF("id", "txt"),
      Seq("id"), commitTsMicros = Some(3000000L))                        // v3
    Sinks.appendSnapshotRows(spark, dir, Seq((99L, "n")).toDF("id", "txt"),
      commitTsMicros = Some(4000000L))                                   // v4
    // history BEFORE compaction: classification + injected commit times
    val h = spark.sql(
      s"""SELECT version, committed_at, kind, operation, base_version
         |FROM snapshot_history('$cat.hist') ORDER BY version""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2),
        r.getString(3), if (r.isNullAt(4)) -1 else r.getInt(4)))
    assert(h.toSeq == Seq(
      (1, 1000000L, "materialized", "create", -1),
      (2, 2000000L, "thin", "delete", 1),
      (3, 3000000L, "thin", "upsert", 2),
      (4, 4000000L, "thin", "append", 3)))
    // footprint covers the thin versions' delta subdirs, not just v=N/*.parquet
    assert(spark.sql(s"SELECT MIN(files), MIN(bytes) FROM " +
      s"snapshot_history('$cat.hist')").collect().head match {
        case r => r.getInt(0) >= 1 && r.getLong(1) > 0L
      }, "thin versions must report their _deletes/_upserts footprint")
    // SQL compaction: preserves content identity, drops the chain depth
    val beforeRows = spark.sql(s"SELECT id, txt FROM $cat.hist ORDER BY id")
      .collect().toSeq
    val vc = spark.sql(s"SELECT version FROM snapshot_compact('$cat.hist')")
      .first().getInt(0)
    assert(vc == 5)
    assert(Sinks.chainDepth(spark, dir, vc) == 0)
    assert(spark.sql(s"SELECT id, txt FROM $cat.hist ORDER BY id")
      .collect().toSeq == beforeRows)
    assert(spark.sql(s"SELECT operation FROM snapshot_history('$cat.hist') " +
      "WHERE version = 5").first().getString(0) == "compact")
    // expire through SQL: the old tail drops, the thin-protected rule holds
    val dropped = spark.sql(
      s"SELECT dropped_version FROM snapshot_expire('$cat.hist', 1)")
      .collect().map(_.getInt(0)).toSeq
    assert(dropped == Seq(1, 2, 3, 4))
    assert(spark.sql(s"SELECT COUNT(*) FROM snapshot_history('$cat.hist')")
      .first().getLong(0) == 1)
    // vacuum through SQL: an aged unrecorded orphan folder drops
    (1L to 3L).map(Tuple1(_)).toDF("id")
      .write.parquet(s"$dir/v=9")
    val vac = spark.sql(
      s"SELECT dropped_version FROM snapshot_vacuum('$cat.hist', -1)")
      .collect().map(_.getInt(0)).toSeq
    assert(vac == Seq(9))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.hist").first().getLong(0) == 59)
  }

  test("ALTER TABLE ADD COLUMN is metadata-only: pinned history keeps its shape") {
    val (cat, ws) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.ev (id BIGINT, txt STRING)")            // v1
    spark.sql(s"INSERT INTO $cat.ev VALUES (1, 'a'), (2, 'b')")           // v2 thin
    def vFiles(v: Int) = new java.io.File(s"$ws/ev/v=$v").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(f => f.getName -> f.lastModified()).toMap
    val before = (1 to 2).map(vFiles)
    val versionsBefore = Sinks.snapshotVersions(spark, s"$ws/ev")
    spark.sql(s"ALTER TABLE $cat.ev ADD COLUMN score DOUBLE")
    // METADATA-ONLY: no new version, no byte of any pinned folder touched
    assert(Sinks.snapshotVersions(spark, s"$ws/ev") == versionsBefore)
    assert((1 to 2).map(vFiles) == before, "ALTER touched version folders")
    // unpinned read serves the evolved schema, old rows null-filled
    val evolved = spark.sql(s"SELECT id, txt, score FROM $cat.ev ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.isNullAt(2)))
    assert(evolved.toSeq == Seq((1L, "a", true), (2L, "b", true)))
    // pinned read keeps the version's own schema — no score column
    assert(!spark.sql(s"SELECT * FROM $cat.ev VERSION AS OF 2")
      .columns.contains("score"))
    // new-schema INSERT lands full rows; the mixed chain serves both
    spark.sql(s"INSERT INTO $cat.ev VALUES (3, 'c', 0.5)")                // v3 thin
    val mixed = spark.sql(
      s"SELECT id, score FROM $cat.ev ORDER BY id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1)))
    assert(mixed.toSeq == Seq((1L, -1.0), (2L, -1.0), (3L, 0.5)))
    // DML interop across mixed-schema files: predicates and SETs on the
    // added column work (COW — no declared keys), old rows null-filled.
    // (Compact first: a KEYLESS thin chain refuses row-level DML by the
    // standing identity contract; the materialized head takes the COW
    // path. The compaction itself reads the evolved unpinned schema, so
    // the new version materializes the null-filled column.)
    Sinks.compactSnapshot(spark, s"$ws/ev", targetRows = 1000000L): Unit
    assert(spark.sql(s"SELECT id FROM $cat.ev").count() == 3)
    spark.sql(s"UPDATE $cat.ev SET score = 9.0 WHERE score IS NULL")
    assert(spark.sql(s"SELECT SUM(score) FROM $cat.ev").first().getDouble(0)
      == 18.5)
    spark.sql(s"DELETE FROM $cat.ev WHERE score = 9.0")
    assert(spark.sql(s"SELECT id FROM $cat.ev").collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    // guardrails: duplicates and non-ADD changes refuse with guidance
    val dup = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ev ADD COLUMN score DOUBLE") }
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
    // (DROP COLUMN graduated to a supported metadata-only ALTER in r17 —
    // its own spec below; a column COMMENT is still out of the matrix)
    val cmt = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ev ALTER COLUMN txt COMMENT 'nope'") }
    assert(cmt.getMessage.contains("widening ALTER COLUMN TYPE only"),
      cmt.getMessage)
  }

  test("ALTER COLUMN TYPE widening is metadata-only: pinned history keeps " +
       "its width, thin chains and manifests serve mixed-typed files") {
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.wd (id BIGINT, n INT, f FLOAT)")        // v1
    Sinks.enableChangeFeed(spark, s"$ws/wd")
    spark.sql(s"INSERT INTO $cat.wd VALUES (1, 10, CAST(1.5 AS FLOAT)), " +
      "(2, 20, CAST(2.5 AS FLOAT))")                                     // v2 thin
    Sinks.declareSnapshotKeys(spark, s"$ws/wd", Seq("id"))
    def vFiles(v: Int) = new java.io.File(s"$ws/wd/v=$v").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(f => f.getName -> f.lastModified()).toMap
    val before = (1 to 2).map(vFiles)
    spark.sql(s"ALTER TABLE $cat.wd ALTER COLUMN n TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.wd ALTER COLUMN f TYPE DOUBLE")
    // METADATA-ONLY: no new version, no byte of pinned history touched
    assert(Sinks.snapshotVersions(spark, s"$ws/wd") == Seq(1, 2))
    assert((1 to 2).map(vFiles) == before, "ALTER touched version folders")
    // unpinned reads serve the widened schema over the old-typed files
    val served = spark.table(s"$cat.wd").schema
    assert(served("n").dataType.simpleString == "bigint")
    assert(served("f").dataType.simpleString == "double")
    assert(spark.sql(s"SELECT SUM(n) FROM $cat.wd").first().getLong(0) == 30L)
    // pinned reads keep the version's own physical width
    val pinned = spark.sql(s"SELECT * FROM $cat.wd VERSION AS OF 2").schema
    assert(pinned("n").dataType.simpleString == "int")
    assert(pinned("f").dataType.simpleString == "float")
    // post-ALTER DML binds the widened type: a value only BIGINT can hold
    // rides a thin INSERT, a keyed UPDATE merges over the int-typed base
    spark.sql(s"INSERT INTO $cat.wd VALUES (3, ${1L << 40}, 3.5)")        // v3
    spark.sql(s"UPDATE $cat.wd SET n = n + ${1L << 41} WHERE id = 1")     // v4
    val got = spark.sql(s"SELECT id, n, f FROM $cat.wd ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 10L + (1L << 41), 1.5), (2L, 20L, 2.5),
      (3L, 1L << 40, 3.5)))
    // the change feed SPANS the widening: int-era feed files (v2) union
    // with bigint-era ones (v3/v4) into one bigint-typed change set — the
    // old mergeSchema fast path failed the parquet merge on this straddle
    val ch = Sinks.tableChanges(spark, s"$ws/wd", 2, 4)
    assert(ch.schema("n").dataType.simpleString == "bigint")
    val upserts = ch.filter(org.apache.spark.sql.functions.col("__change")
        === "upsert")
      .select("__version", "id", "n").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(upserts == Set((2, 1L, 10L), (2, 2L, 20L), (3, 3L, 1L << 40),
      (4, 1L, 10L + (1L << 41))), upserts.toString)
    // manifest skipping across mixed-typed files: int-era stats still
    // prune against bigint predicates (stats compare kind-wise)
    val t2 = s"$ws/wd2"
    import spark.implicits._
    Sinks.writeSnapshotWithManifest(
      (1 to 100).map(i => (i.toLong, i)).toDF("id", "n")
        .coalesce(1).sortWithinPartitions("id"),
      t2, Seq("n"), maxRecordsPerFile = 25L): Unit
    Sinks.declareSnapshotSchema(spark, t2, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType))))
    val (pruned, kept, total) = Sinks.readSnapshotPruned(spark, t2, "n", 30L, 40L)
    assert(total == 4 && kept == 1, s"kept $kept of $total")
    assert(pruned.count() == 11)
    // guardrails: Spark's analyzer rejects narrowings outright; an
    // up-castable change that is NOT a native-read widening (int→decimal)
    // hits this catalog's own lattice with guidance
    val nar = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.wd ALTER COLUMN n TYPE INT") }
    assert(nar.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      nar.getMessage)
    val dec = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.wd ALTER COLUMN id TYPE DECIMAL(30, 0)") }
    assert(dec.getMessage.contains("only lossless"), dec.getMessage)
  }

  test("schema evolution composes with thin identity DML and the change feed") {
    val (cat, ws) = freshCatalog()
    import spark.implicits._
    val dir = s"$ws/evk"
    Sinks.writeSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "txt"), dir)  // v1
    Sinks.declareSnapshotKeys(spark, dir, Seq("id"))
    Sinks.enableChangeFeed(spark, dir)
    spark.sql(s"ALTER TABLE $cat.evk ADD COLUMN score DOUBLE")
    // thin keyed MERGE through the delta rewrite, on the evolved schema
    Seq((2L, "b2", 2.0), (9L, "i", 9.0)).toDF("id", "txt", "score")
      .createOrReplaceTempView("src_evk")
    spark.sql(
      s"""MERGE INTO $cat.evk t USING src_evk s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET t.txt = s.txt, t.score = s.score
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql(
      s"SELECT id, txt, score FROM $cat.evk ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "a", -1.0), (2L, "b2", 2.0), (9L, "i", 9.0)))
    // the head is a thin hop on a NARROWER base — the resolver widened it;
    // the feed row for the merge carries the new column, and table_changes
    // spans the pre/post-ALTER feed shapes
    val head = Sinks.snapshotCommitted(spark, dir).get
    assert(Sinks.thinBase(spark, dir, head).isDefined)
    val feed = Sinks.tableChanges(spark, dir, head, head)
      .filter(col("__change") === "upsert")
      .select("id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(feed.toSeq == Seq((2L, 2.0), (9L, 9.0)))
    // pinned v1 read stays two-column
    assert(spark.sql(s"SELECT * FROM $cat.evk VERSION AS OF 1")
      .columns.toSeq == Seq("id", "txt"))
  }

  test("randomized evolution × MOR: resolved content ≡ model under arbitrary op sequences") {
    // the round's riskiest interplay, exercised the way the r12 MOR
    // property exercises thin chains: random upserts / deletes / ALTER
    // ADD COLUMN / compactions against a key-value model whose column
    // set GROWS mid-history — every resolved read must equal the model
    // under the then-current declared schema, with pre-ALTER rows
    // null-filling the added columns through thin hops AND compactions
    val (cat, ws) = freshCatalog()
    import org.apache.spark.sql.types._
    val dir = s"$ws/evr"
    val rnd = new scala.util.Random(91507)
    def schemaOf(cols: Seq[String]) = StructType(
      StructField("id", LongType) +: cols.map(StructField(_, StringType)))
    var cols = Vector("c0")
    val model = scala.collection.mutable.Map[Long,
      scala.collection.mutable.Map[String, String]]()
    val init = (1L to 20L).map { i =>
      model(i) = scala.collection.mutable.Map("c0" -> s"v$i")
      org.apache.spark.sql.Row(i, s"v$i")
    }
    Sinks.writeSnapshot(
      spark.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(init).asJava, schemaOf(cols)), dir): Unit
    Sinks.declareSnapshotKeys(spark, dir, Seq("id"))
    def check(tag: String): Unit = {
      val got = Sinks.readSnapshot(spark, dir).collect().map { r =>
        r.getLong(0) -> cols.map(c =>
          if (r.isNullAt(r.fieldIndex(c))) null else r.getString(r.fieldIndex(c)))
      }.toMap
      val want = model.map { case (k, m) =>
        k -> cols.map(c => m.getOrElse(c, null))
      }.toMap
      assert(got == want, s"divergence after $tag: got=$got want=$want")
    }
    (1 to 30).foreach { step =>
      rnd.nextInt(6) match {
        case 0 | 1 => // upsert: random ids, random values per CURRENT col
          val ids = Seq.fill(rnd.nextInt(5) + 1)(rnd.nextLong(40) + 1).distinct
          val rows = ids.map { i =>
            val vals = cols.map(c =>
              if (rnd.nextBoolean()) s"$c-$step-$i" else null)
            model(i) = scala.collection.mutable.Map(
              cols.zip(vals).collect { case (c, v) if v != null => c -> v }: _*)
            // last-writer-wins REPLACES the row, so the model row holds
            // exactly the upserted values (nulls stay null)
            org.apache.spark.sql.Row.fromSeq(i +: vals)
          }
          Sinks.upsertSnapshotRows(spark,  dir,
            spark.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schemaOf(cols)), Seq("id")): Unit
        case 2 => // delete a mix of present and absent keys
          val ids = Seq.fill(rnd.nextInt(4) + 1)(rnd.nextLong(40) + 1)
          import spark.implicits._
          Sinks.deleteSnapshotKeys(spark, dir,
            ids.map(Tuple1(_)).toDF("id"), Seq("id")): Unit
          ids.foreach(model.remove)
        case 3 if cols.size < 5 => // metadata-only evolution mid-history
          val c = s"c${cols.size}"
          spark.sql(s"ALTER TABLE $cat.evr ADD COLUMN $c STRING")
          cols = cols :+ c
        case 4 => // materialize the chain (conform-on-unpinned-read path)
          Sinks.compactSnapshot(spark, dir, targetRows = 1000000L): Unit
        case _ => // SQL thin DELETE through the catalog serving path
          val bound = rnd.nextLong(40) + 1
          spark.sql(s"DELETE FROM $cat.evr WHERE id = $bound")
          model.remove(bound): Unit
      }
      check(s"step $step")
    }
    // pinned v1 keeps its original two-column shape through it all
    assert(spark.sql(s"SELECT * FROM $cat.evr VERSION AS OF 1")
      .columns.toSeq == Seq("id", "c0"))
  }

  test("thin SQL read plan: predicate pushdown reaches the base scan, keys ride broadcast") {
    val (cat, ws) = freshCatalog()
    seed(ws, "t5")
    import spark.implicits._
    Sinks.deleteSnapshotKeys(spark, s"$ws/t5",
      Seq(1L, 2L).toDF("id"), Seq("id")): Unit
    val df = spark.sql(s"SELECT id, txt FROM $cat.t5 WHERE grp = 2")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("LeftAnti"), physical.take(800))
    assert(physical.contains("Broadcast"),
      "delete-key side must broadcast:\n" + physical.take(800))
    // AQE wraps the tree, so assert on the plan string (FileScan lines
    // carry their PushedFilters inline)
    assert(raw"PushedFilters: \[[^\]]*grp".r.findFirstIn(physical).isDefined,
      "grp predicate must reach the base parquet scan:\n" + physical.take(1200))
  }

  test("RENAME COLUMN is metadata-only: field ids resolve old files, pinned names, thin DML, compaction") {
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.rn AS " +
      "SELECT id AS doc_id, CONCAT('d', id) AS body FROM RANGE(50)")
    val dir = s"$ws/rn"
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def vMtimes(): Map[String, Long] = f.listStatus(
      new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val before = vMtimes()
    Thread.sleep(1100)
    spark.sql(s"ALTER TABLE $cat.rn RENAME COLUMN body TO text")
    assert(vMtimes() == before, "RENAME touched a version folder")
    // unpinned read: new name, old rows resolve by field id
    assert(spark.table(s"$cat.rn").columns.toSeq == Seq("doc_id", "text"))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.rn WHERE text = 'd7'")
      .first().getLong(0) == 1)
    // pinned read BELOW the rename keeps its version's own names
    assert(spark.sql(s"SELECT * FROM $cat.rn VERSION AS OF 2")
      .columns.toSeq == Seq("doc_id", "body"))
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.rn VERSION AS OF 2 WHERE body = 'd7'")
      .first().getLong(0) == 1)
    // a thin commit binds the NEW name
    spark.sql(s"INSERT INTO $cat.rn SELECT 100L AS doc_id, 'fresh' AS text")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.rn").first().getLong(0) == 51)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.rn WHERE text = 'fresh'")
      .first().getLong(0) == 1)
    // row-level DML binds the new name (thin hop via declared keys)
    Sinks.declareSnapshotKeys(spark, dir, Seq("doc_id"))
    spark.sql(s"UPDATE $cat.rn SET text = 'patched' WHERE doc_id = 5")
    assert(spark.sql(s"SELECT text FROM $cat.rn WHERE doc_id = 5")
      .first().getString(0) == "patched")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.rn").first().getLong(0) == 51)
    // ADD COLUMN reusing the RETIRED name takes a fresh field id: old
    // 'body' bytes must not leak into the new 'body' column
    spark.sql(s"ALTER TABLE $cat.rn ADD COLUMN body DOUBLE")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.rn WHERE body IS NOT NULL")
      .first().getLong(0) == 0, "old-named bytes leaked into the reused name")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.rn WHERE text = 'd7'")
      .first().getLong(0) == 1, "the renamed column lost its old files")
    // chained rename: text -> txt composes over the same old files
    spark.sql(s"ALTER TABLE $cat.rn RENAME COLUMN text TO txt")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.rn WHERE txt = 'd7'")
      .first().getLong(0) == 1)
    assert(spark.table(s"$cat.rn").columns.toSeq ==
      Seq("doc_id", "txt", "body"))
    // compaction materializes the chain: the head serves as one parquet
    // scan again (no merge-on-read join), row-level DML included
    val vc = Sinks.compactSnapshot(spark, dir, targetRows = 1000000L)
    assert(Sinks.thinBase(spark, dir, vc).isEmpty)
    val headPlan = spark.sql(s"SELECT * FROM $cat.rn").queryExecution.executedPlan
      .toString
    assert(raw"BatchScan \S*rn@v$vc".r.findAllIn(headPlan).size == 1 &&
      !headPlan.contains("Join"), s"compacted head v=$vc planned as:\n$headPlan")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.rn WHERE txt = 'patched'")
      .first().getLong(0) == 1)
    spark.sql(s"UPDATE $cat.rn SET txt = 'cow' WHERE doc_id = 6")
    assert(spark.sql(s"SELECT txt FROM $cat.rn WHERE doc_id = 6")
      .first().getString(0) == "cow")
    // pinned history across the whole dance: v2 still serves 'body'
    assert(spark.sql(s"SELECT * FROM $cat.rn VERSION AS OF 2")
      .columns.toSeq == Seq("doc_id", "body"))
  }

  test("RENAME on a keyless materialized head: the head stays a COW DML table") {
    val (cat, ws) = freshCatalog()
    import spark.implicits._
    val dir = s"$ws/rnk"
    Sinks.writeSnapshot(
      (1L to 10L).map(i => (i, s"b$i")).toDF("id", "body"), dir)   // v1
    spark.sql(s"ALTER TABLE $cat.rnk RENAME COLUMN body TO text")
    // no declared keys: the UPDATE is a copy-on-write version publish
    spark.sql(s"UPDATE $cat.rnk SET text = 'patched' WHERE id = 3")
    val got = spark.sql(s"SELECT id, text FROM $cat.rnk ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.length == 10)
    assert(got(2) == ((3L, "patched")))
    assert(got(3) == ((4L, "b4")), "old-named files must resolve by field id")
    assert(Sinks.thinBase(spark, dir, 2).isEmpty, "COW publishes a materialized v=2")
    assert(spark.sql(s"SELECT * FROM $cat.rnk VERSION AS OF 1")
      .columns.toSeq == Seq("id", "body"))
    // RENAME then re-ADD of the old name on a materialized head: the
    // pre-rename files' 'body' column must stay under 'text'
    Sinks.writeSnapshot(
      (1L to 10L).map(i => (i, s"b$i")).toDF("id", "body"), s"$ws/rnk2")
    spark.sql(s"ALTER TABLE $cat.rnk2 RENAME COLUMN body TO text")
    spark.sql(s"ALTER TABLE $cat.rnk2 ADD COLUMN body DOUBLE")
    val readd = spark.sql(s"SELECT id, text, body FROM $cat.rnk2 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.isNullAt(2)))
    assert(readd.toSeq == (1L to 10L).map(i => (i, s"b$i", true)))
  }

  test("a session without the graft extensions can RENAME and read the head") {
    val (cat, ws) = freshCatalog()
    import spark.implicits._
    Sinks.writeSnapshot(
      (1L to 5L).map(i => (i, s"b$i")).toDF("id", "body"), s"$ws/plain")
    // a session whose state is built with NO extensions (no
    // ResolveThinSnapshots rule), sharing the test context and catalogs
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val plain = classOf[org.apache.spark.sql.classic.SparkSession]
      .getConstructors.find(_.getParameterCount == 6).get
      .newInstance(classic.sparkContext, Some(classic.sharedState), None,
        new org.apache.spark.sql.SparkSessionExtensions,
        Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    assert(!plain.sessionState.analyzer.extendedResolutionRules
      .exists(_.isInstanceOf[graft.sources.ResolveThinSnapshots]))
    plain.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
    plain.conf.set(s"spark.sql.catalog.$cat.workspace", ws)
    org.apache.spark.sql.SparkSession.setActiveSession(plain)
    try {
      plain.sql(s"ALTER TABLE $cat.plain RENAME COLUMN body TO text")
      val got = plain.sql(s"SELECT id, text FROM $cat.plain ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(got.toSeq == (1L to 5L).map(i => (i, s"b$i")))
      // the head's files still carry the old name 'body' under the renamed
      // column's id: the re-added 'body' must read NULL, 'text' the bytes
      plain.sql(s"ALTER TABLE $cat.plain ADD COLUMN body STRING")
      val readd = plain.sql(s"SELECT id, text, body FROM $cat.plain ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.isNullAt(2)))
      assert(readd.toSeq == (1L to 5L).map(i => (i, s"b$i", true)))
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
  }

  test("table_changes spans a RENAME: feed files unify under the new name") {
    val (cat, ws) = freshCatalog()
    import spark.implicits._
    val dir = s"$ws/rncdf"
    Sinks.writeSnapshot(
      (1L to 20L).map(i => (i, s"v$i")).toDF("id", "val0"), dir)   // v1
    Sinks.declareSnapshotKeys(spark, dir, Seq("id"))
    Sinks.enableChangeFeed(spark, dir)
    Sinks.upsertSnapshotRows(spark, dir,
      Seq((21L, "pre")).toDF("id", "val0"), Seq("id")): Unit      // v2 (old name)
    spark.sql(s"ALTER TABLE $cat.rncdf RENAME COLUMN val0 TO val1")
    Sinks.upsertSnapshotRows(spark, dir,
      Seq((22L, "post")).toDF("id", "val1"), Seq("id")): Unit     // v3 (new name)
    val changes = spark.sql(
      s"SELECT * FROM table_changes('$cat.rncdf', 2, 3)")
    assert(changes.columns.count(_.startsWith("val")) == 1,
      s"feed must unify old and new names: ${changes.columns.toSeq}")
    assert(changes.columns.contains("val1"))
    val rows = changes.select("id", "val1", "__version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted
    assert(rows.toSeq == Seq((21L, "pre", 2), (22L, "post", 3)))
    // ADD of the retired name: feed files written under 'val0' keep their
    // bytes under 'val1'; the new 'val0' reads NULL in them
    spark.sql(s"ALTER TABLE $cat.rncdf ADD COLUMN val0 STRING")
    Sinks.upsertSnapshotRows(spark, dir,
      Seq((23L, "again", "new")).toDF("id", "val1", "val0"), Seq("id")): Unit // v4
    val readd = spark.sql(s"SELECT * FROM table_changes('$cat.rncdf', 2, 4)")
    assert(readd.columns.filter(_.startsWith("val")).toSeq == Seq("val1", "val0"))
    val rows4 = readd.select("id", "val1", "val0", "__version").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)), r.getInt(3)))
      .sortBy(_._1)
    assert(rows4.toSeq == Seq((21L, "pre", None, 2), (22L, "post", None, 3),
      (23L, "again", Some("new"), 4)))
  }

  test("manifest-bearing head after RENAME x TO y + ADD COLUMN x: stats resolve by field id") {
    val (cat, ws) = freshCatalog()
    import spark.implicits._
    // 4 files of 50 consecutive x values each, stats on x
    Sinks.writeSnapshotWithManifest(
      (0L until 200L).map(i => (i, i)).toDF("id", "x")
        .coalesce(1).sortWithinPartitions("id"),
      s"$ws/mrn", Seq("x"), maxRecordsPerFile = 50L): Unit
    spark.sql(s"ALTER TABLE $cat.mrn RENAME COLUMN x TO y")
    spark.sql(s"ALTER TABLE $cat.mrn ADD COLUMN x BIGINT")
    // the manifest's stats are keyed by the old name x (zero nulls): a
    // by-name lookup would skip every file for the new, all-NULL x
    val isNull = s"SELECT COUNT(*) FROM $cat.mrn WHERE x IS NULL"
    assert(spark.sql(isNull).first().getLong(0) == 200L)
    assert(plannedFileSet(isNull).size == 4)
    // y resolves to the files' x by id: its stats still skip files
    val range = s"SELECT y FROM $cat.mrn WHERE y BETWEEN 60 AND 70"
    assert(spark.sql(range).collect().map(_.getLong(0)).sorted.toSeq ==
      (60L to 70L))
    assert(plannedFileSet(range).size == 1,
      s"expected 1 of 4 files, planned: ${plannedFileSet(range)}")
    // the programmatic pruned read looks its stats up the same way
    val (py, keptY, totalY) = Sinks.readSnapshotPruned(spark, s"$ws/mrn", "y", 60L, 70L)
    assert((keptY, totalY, py.count()) == ((1, 4, 11L)))
    val (px, keptX, totalX) = Sinks.readSnapshotPruned(spark, s"$ws/mrn", "x", 0L, 10L)
    assert((keptX, totalX, px.count()) == ((4, 4, 0L)))
  }

  test("partitioned snapshots: zero-copy day drops, O(touched) appends, " +
       "pinned history, carry-aware expire, pruned SQL serving") {
    import spark.implicits._
    val (cat, ws) = freshCatalog()
    val dir = s"$ws/ps"
    val t0 = java.time.LocalDateTime.of(2024, 5, 1, 0, 0)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val day0 = java.time.LocalDate.of(2024, 5, 1).toEpochDay
    val df = (0L until 40L).map(i => (i,
        new java.sql.Timestamp(t0 + (i % 4) * 86400000L + i * 1000L),
        s"v$i")).toDF("id", "ts", "v")
    assert(graft.sources.PartitionedSnapshot
      .writePartitioned(df, dir, "days:ts") == 1)
    val f = new org.apache.hadoop.fs.Path(ws)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(v: Int): Seq[String] = {
      def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
        if (!f.exists(p)) Nil
        else f.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else if (st.getPath.getName.endsWith(".parquet"))
            Seq(st.getPath.toString) else Nil
        }
      walk(new org.apache.hadoop.fs.Path(s"$dir/v=$v"))
    }
    def mtimes(v: Int): Map[String, Long] = dataFiles(v).map { p0 =>
      val p = new org.apache.hadoop.fs.Path(p0)
      p0 -> f.getFileStatus(p).getModificationTime
    }.toMap
    assert(dataFiles(1).nonEmpty)
    val v1Times = mtimes(1)
    // ZERO-COPY day drop: v=2 is one carry manifest, no data file written,
    // no other day's bytes touched
    val dropVal = graft.sources.PartitionedSnapshot
      .partitionValueOf(spark, dir, java.sql.Date.valueOf("2024-05-02"))
    assert(dropVal == (day0 + 1).toString)
    assert(graft.sources.PartitionedSnapshot
      .dropPartitions(spark, dir, Seq(dropVal)) == 2)
    assert(dataFiles(2).isEmpty, "a day drop wrote data files")
    assert(mtimes(1) == v1Times, "a day drop touched v=1 bytes")
    assert(graft.sources.PartitionedSnapshot.read(spark, dir).count() == 30)
    // pinned history intact
    assert(graft.sources.PartitionedSnapshot
      .read(spark, dir, Some(1)).count() == 40)
    // SQL serving: unpinned + pinned + day pruning across version folders
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ps").first().getLong(0) == 30)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ps VERSION AS OF 1")
      .first().getLong(0) == 40)
    def q = spark.sql(s"SELECT id FROM $cat.ps WHERE " +
      "ts >= TIMESTAMP '2024-05-03 00:00:00' AND " +
      "ts < TIMESTAMP '2024-05-04 00:00:00'")
    assert(q.count() == 10)
    val planned = q.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.flatMap(_.inputPartitions).flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.map(_.filePath.toString)
      case _ => Nil
    }
    assert(planned.nonEmpty &&
      planned.forall(_.contains(s"ts_day=${day0 + 2}")),
      s"day prune failed: $planned")
    // O(touched) append: only day 0 rewrites; days 2,3 keep riding v=1
    val add = Seq((100L, new java.sql.Timestamp(t0 + 3600000L), "new"))
      .toDF("id", "ts", "v")
    assert(graft.sources.PartitionedSnapshot.appendRows(spark, dir, add) == 3)
    assert(mtimes(1) == v1Times, "append touched carried bytes")
    val parts3 = graft.sources.PartitionedSnapshot
      .resolvedPartitions(spark, dir, 3).toMap
    assert(parts3(day0.toString).startsWith("v=3/"), parts3.toString)
    assert(parts3((day0 + 2).toString).startsWith("v=1/"), parts3.toString)
    assert(graft.sources.PartitionedSnapshot.read(spark, dir).count() == 31)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ps WHERE v = 'new'")
      .first().getLong(0) == 1)
    // expire protects carried-from folders AND inheritance hops: keep=1
    // would drop v=1/v=2, but v=3 carries days out of v=1 (data) and its
    // `#base 2` carry resolves THROUGH the drop anchor v=2 (metadata,
    // r19) — nothing may drop while the head inherits; a later
    // materializing publish (checkpoint/compact/removal) releases the
    // anchor (PartitionedSnapshotDeltaSpec proves the release)
    val dropped = Sinks.expireSnapshots(spark, dir, keep = 1)
    assert(dropped.isEmpty,
      s"expire broke a live inheritance chain: dropped $dropped")
    assert(graft.sources.PartitionedSnapshot.read(spark, dir).count() == 31)
    // row-level SQL DELETE is native (r19): a non-partition predicate
    // routes to the fenced partition-pruned rewrite
    spark.sql(s"DELETE FROM $cat.ps WHERE id = 3")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ps").first().getLong(0) == 30)
    assert(Sinks.snapshotCommitted(spark, dir).contains(4))
    // INSERT INTO is SQL-native (r18): one fenced O(touched) append version
    spark.sql(s"INSERT INTO $cat.ps VALUES " +
      "(200, TIMESTAMP '2024-05-04 01:00:00', 'sqlins')")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ps").first().getLong(0) == 31)
    assert(Sinks.snapshotCommitted(spark, dir).contains(5))
    // INSERT OVERWRITE refuses at analysis (no truncate capability —
    // a full rewrite is the explicit writePartitioned)
    val eo = intercept[Throwable] {
      spark.sql(s"INSERT OVERWRITE $cat.ps SELECT * FROM $cat.ps LIMIT 1")
    }
    assert(eo.getMessage.contains("does not support truncate"), eo.toString)
    // metadata-only ALTER ADD (r18): head null-fills, pinned shape kept
    spark.sql(s"ALTER TABLE $cat.ps ADD COLUMN extra INT")
    assert(spark.sql(s"SELECT extra FROM $cat.ps").collect()
      .forall(_.isNullAt(0)))
    assert(!spark.sql(s"SELECT * FROM $cat.ps VERSION AS OF 4")
      .columns.contains("extra"),
      "pinned pre-ALTER version must keep its own shape")
  }

  test("partitioned snapshots: row-level deleteRowsWhere rewrites only " +
       "touched days; an all-matching day disappears; hours spec works") {
    import spark.implicits._
    val (cat, ws) = freshCatalog()
    val dir = s"$ws/pr"
    val t0 = java.time.LocalDateTime.of(2024, 6, 1, 0, 0)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val day0 = java.time.LocalDate.of(2024, 6, 1).toEpochDay
    val df = (0L until 30L).map(i => (i,
        new java.sql.Timestamp(t0 + (i % 3) * 86400000L + i * 1000L),
        if (i % 2 == 0) "even" else "odd")).toDF("id", "ts", "v")
    graft.sources.PartitionedSnapshot.writePartitioned(df, dir, "days:ts"): Unit
    val f = new org.apache.hadoop.fs.Path(ws)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def v1Times: Map[String, Long] = {
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long)] =
        f.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else if (st.getPath.getName.endsWith(".parquet"))
            Seq(st.getPath.toString -> st.getModificationTime) else Nil
        }
      walk(new org.apache.hadoop.fs.Path(s"$dir/v=1")).toMap
    }
    val before = v1Times
    // row-level delete pinned to day 1: only that day rewrites
    assert(graft.sources.PartitionedSnapshot.deleteRowsWhere(spark, dir,
      col("v") === "even" &&
        col("ts") >= lit("2024-06-02 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-06-03 00:00:00").cast("timestamp")) == 2)
    assert(v1Times == before, "deleteRowsWhere touched carried bytes")
    assert(graft.sources.PartitionedSnapshot.read(spark, dir).count() == 25)
    val parts2 = graft.sources.PartitionedSnapshot
      .resolvedPartitions(spark, dir, 2).toMap
    assert(parts2((day0 + 1).toString).startsWith("v=2/"), parts2.toString)
    assert(parts2(day0.toString).startsWith("v=1/"), parts2.toString)
    // pinned history intact
    assert(graft.sources.PartitionedSnapshot
      .read(spark, dir, Some(1)).count() == 30)
    // a predicate matching a WHOLE day removes its directory from v=3
    assert(graft.sources.PartitionedSnapshot.deleteRowsWhere(spark, dir,
      col("ts") >= lit("2024-06-03 00:00:00").cast("timestamp")) == 3)
    val parts3 = graft.sources.PartitionedSnapshot
      .resolvedPartitions(spark, dir, 3).toMap
    assert(!parts3.contains((day0 + 2).toString), parts3.toString)
    assert(graft.sources.PartitionedSnapshot.read(spark, dir).count() == 15)
    // a no-match predicate publishes nothing
    assert(graft.sources.PartitionedSnapshot.deleteRowsWhere(spark, dir,
      col("v") === "never") == 3)
    // metadata-driven incremental changes: (1, 3] = the day-1 row delete
    // (5 'even' deletes at v=2) + the whole-day-2 removal (10 deletes at
    // v=3); carried partitions contribute nothing
    val ch = graft.sources.PartitionedSnapshot
      .changesBetween(spark, dir, 1, 3)
    assert(ch.filter(col("_change_type") === "insert").count() == 0)
    val byV = ch.groupBy("_version").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(byV == Map(2 -> 5L, 3 -> 10L), byV.toString)
    assert(ch.filter(col("_version") === 2)
      .select("v").distinct().collect().map(_.getString(0)).toSeq == Seq("even"))
    // an UPDATE-shaped rewrite (append into an existing day) yields
    // insert rows only for the appended content
    graft.sources.PartitionedSnapshot.appendRows(spark, dir,
      Seq((100L, new java.sql.Timestamp(t0 + 5000L), "new"))
        .toDF("id", "ts", "v")): Unit
    val ch2 = graft.sources.PartitionedSnapshot
      .changesBetween(spark, dir, 3, 4)
    assert(ch2.collect().map(r =>
      (r.getLong(0), r.getString(2), r.getString(3))).toSeq ==
      Seq((100L, "new", "insert")))
    // hours spec rides the same machinery
    val hdir = s"$ws/ph"
    graft.sources.PartitionedSnapshot.writePartitioned(
      (0L until 12L).map(i => (i,
          new java.sql.Timestamp(t0 + (i % 2) * 3600000L + i * 1000L)))
        .toDF("id", "ts"), hdir, "hours:ts"): Unit
    assert(f.exists(new org.apache.hadoop.fs.Path(
      s"$hdir/v=1/ts_hour=${t0 / 3600000L}")))
    graft.sources.PartitionedSnapshot.dropPartitions(spark, hdir,
      Seq((t0 / 3600000L).toString)): Unit
    assert(graft.sources.PartitionedSnapshot.read(spark, hdir).count() == 6)
  }

  test("DROP COLUMN is metadata-only: pinned history intact, re-ADD never " +
       "resurrects, compaction retires the bytes, guardrails") {
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.dc AS SELECT id AS doc_id, " +
      "CONCAT('d', id) AS secret, CAST(id * 2 AS BIGINT) AS score " +
      "FROM RANGE(50)")
    val dir = s"$ws/dc"
    Sinks.declareSnapshotKeys(spark, dir, Seq("doc_id"))
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def vMtimes(): Map[String, Long] = f.listStatus(
      new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val before = vMtimes()
    Thread.sleep(1100)
    spark.sql(s"ALTER TABLE $cat.dc DROP COLUMN secret")
    assert(vMtimes() == before, "DROP touched a version folder")
    // unpinned read: the column is gone (never a tombstone name)
    assert(spark.table(s"$cat.dc").columns.toSeq == Seq("doc_id", "score"))
    // pinned read BELOW the drop keeps the column AND its values
    assert(spark.sql(s"SELECT * FROM $cat.dc VERSION AS OF 2")
      .columns.toSeq == Seq("doc_id", "secret", "score"))
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.dc VERSION AS OF 2 WHERE secret = 'd7'")
      .first().getLong(0) == 1)
    // thin INSERT and thin UPDATE bind the post-drop shape
    spark.sql(s"INSERT INTO $cat.dc SELECT 100L AS doc_id, 999L AS score")
    spark.sql(s"UPDATE $cat.dc SET score = -1 WHERE doc_id = 5")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.dc").first().getLong(0) == 51)
    assert(spark.sql(s"SELECT score FROM $cat.dc WHERE doc_id = 5")
      .first().getLong(0) == -1L)
    // guardrails: declared key, last live column, reserved prefix
    val e1 = intercept[Throwable] {
      spark.sql(s"ALTER TABLE $cat.dc DROP COLUMN doc_id")
    }
    assert(e1.getMessage.contains("row-identity"), e1.getMessage)
    val e2 = intercept[Throwable] {
      spark.sql(s"ALTER TABLE $cat.dc ADD COLUMN __dropped_9 STRING")
    }
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
    // re-ADD of the dropped name: a brand-new field — the pre-drop bytes
    // replay onto the tombstone, never onto it
    spark.sql(s"ALTER TABLE $cat.dc ADD COLUMN secret STRING")
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.dc WHERE secret IS NOT NULL")
      .first().getLong(0) == 0, "dropped bytes resurrected under the re-ADD")
    spark.sql(s"UPDATE $cat.dc SET secret = 'fresh' WHERE doc_id = 6")
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.dc WHERE secret IS NOT NULL")
      .first().getLong(0) == 1)
    // compaction retires the dropped bytes PHYSICALLY (no tombstone column
    // in the compacted files) and the head is unchanged
    val vc = Sinks.compactSnapshot(spark, dir, targetRows = 1000000L)
    val phys = spark.read.parquet(s"$dir/v=$vc").columns.toSeq
    assert(!phys.exists(_.startsWith("__dropped_")), phys.toString)
    assert(phys.toSet == Set("doc_id", "score", "secret"))
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.dc WHERE secret IS NOT NULL")
      .first().getLong(0) == 1)
    // pinned history across the whole dance: v2 still serves 'd7'
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.dc VERSION AS OF 2 WHERE secret = 'd7'")
      .first().getLong(0) == 1)
  }

  test("CAS compaction materializes HEAD names — a renamed or dropped " +
       "column never null-fills or resurrects through snapshot_compact") {
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.cc AS SELECT id AS doc_id, " +
      "CONCAT('x', id) AS lang FROM RANGE(30)")
    val dir = s"$ws/cc"
    Sinks.declareSnapshotKeys(spark, dir, Seq("doc_id"))
    spark.sql(s"ALTER TABLE $cat.cc RENAME COLUMN lang TO language")
    // pre-r17 this compacted a PINNED read (old physical names): the
    // compacted folder then served with an empty replay window, so the
    // head null-filled 'language' entirely
    val v1 = Sinks.compactSnapshot(spark, dir, targetRows = 1000000L)
    assert(spark.read.parquet(s"$dir/v=$v1").columns.contains("language"),
      "CAS compaction kept the pre-rename physical name")
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.cc WHERE language = 'x7'")
      .first().getLong(0) == 1, "renamed column null-filled after CAS compact")
    // drop + re-ADD + CAS compact: the old bytes must retire, not resurrect
    spark.sql(s"ALTER TABLE $cat.cc DROP COLUMN language")
    spark.sql(s"ALTER TABLE $cat.cc ADD COLUMN language STRING")
    val v2 = Sinks.compactSnapshot(spark, dir, targetRows = 1000000L)
    val phys = spark.read.parquet(s"$dir/v=$v2").columns.toSeq
    assert(!phys.exists(_.startsWith("__dropped_")), phys.toString)
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.cc WHERE language IS NOT NULL")
      .first().getLong(0) == 0,
      "dropped bytes resurrected through CAS compaction")
  }
}
