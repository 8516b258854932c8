package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partitioned workspace tables: hive layout, partition-pruned reads,
  * partition-grained SQL DML (untouched partitions keep their mtimes —
  * the q197 dynamic-overwrite discipline applied to DML). */
class PartitionedWorkspaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshCatalog(): (String, String) = {
    val s = new graft.Session.Scratch
    val cat = "pws_" + java.lang.Long.toHexString(System.nanoTime() & 0xffffffL)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.WorkspaceCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.workspace", s.dir)
    (cat, s.dir)
  }

  private def fs(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sessionState.newHadoopConf())

  /** (path → mtime) of every data file under the partition dir. */
  private def fileTimes(ws: String, tbl: String, part: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$ws/$tbl.parquet/$part")
    val f = fs(ws)
    if (!f.exists(p)) Map.empty
    else f.listStatus(p).filter(_.isFile)
      .map(st => st.getPath.toString -> st.getModificationTime).toMap
  }

  private def seed(cat: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $cat.pt")
    spark.sql(
      s"CREATE TABLE $cat.pt (id BIGINT, v STRING, src STRING) PARTITIONED BY (src)")
    spark.sql(
      s"""INSERT INTO $cat.pt
         |SELECT id, CONCAT('v', id) AS v, CONCAT('s', id % 3) AS src
         |FROM RANGE(30)""".stripMargin)
  }

  test("create + insert: hive layout, partition column last, pruned reads") {
    val (cat, ws) = freshCatalog()
    seed(cat)
    val f = fs(ws)
    val dirs = f.listStatus(new org.apache.hadoop.fs.Path(s"$ws/pt.parquet"))
      .filter(_.isDirectory).map(_.getPath.getName).sorted
    assert(dirs.toSeq == Seq("src=s0", "src=s1", "src=s2"))
    assert(spark.table(s"$cat.pt").count() == 30)
    assert(spark.table(s"$cat.pt").columns.toSeq == Seq("id", "v", "src"))
    // partition pruning reaches the scan
    val df = spark.sql(s"SELECT id FROM $cat.pt WHERE src = 's1'")
    assert(df.count() == 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(600))
    // data files do NOT contain the partition column
    val aFile = f.listStatus(new org.apache.hadoop.fs.Path(s"$ws/pt.parquet/src=s0"))
      .filter(_.isFile).head.getPath.toString
    assert(!spark.read.parquet(aFile).columns.contains("src"))
  }

  test("UPDATE WHERE src='s1' rewrites ONE partition; others keep file mtimes") {
    val (cat, ws) = freshCatalog()
    seed(cat)
    val before0 = fileTimes(ws, "pt", "src=s0")
    val before2 = fileTimes(ws, "pt", "src=s2")
    Thread.sleep(1100) // local-fs mtime granularity can be 1s
    spark.sql(s"UPDATE $cat.pt SET v = 'patched' WHERE src = 's1'")
    assert(fileTimes(ws, "pt", "src=s0") == before0,
      "untouched partition s0 was rewritten")
    assert(fileTimes(ws, "pt", "src=s2") == before2,
      "untouched partition s2 was rewritten")
    val rows = spark.table(s"$cat.pt")
      .groupBy("src").agg(count(when(col("v") === "patched", 1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("s0" -> 0L, "s1" -> 10L, "s2" -> 0L))
  }

  test("non-partition-key UPDATE is still group-filtered to matched partitions") {
    val (cat, ws) = freshCatalog()
    seed(cat)
    val before0 = fileTimes(ws, "pt", "src=s0")
    Thread.sleep(1100)
    // ids 1,4,..,28 ≡ 1 (mod 3) live ONLY in src=s1 (id%3 drives src) —
    // the runtime group filter discovers that from the DATA, not the
    // predicate (no src constraint in the statement)
    spark.sql(s"UPDATE $cat.pt SET v = 'm' WHERE id % 3 = 1")
    assert(fileTimes(ws, "pt", "src=s0") == before0,
      "group filter failed: unmatched partition was rewritten")
    assert(spark.table(s"$cat.pt").filter(col("v") === "m").count() == 10)
  }

  test("UPDATE moving rows ACROSS partitions keeps both sides exact") {
    val (cat, _) = freshCatalog()
    seed(cat)
    spark.sql(s"UPDATE $cat.pt SET src = 's9' WHERE src = 's2' AND id < 10")
    val bySrc = spark.table(s"$cat.pt").groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // s2 holds ids ≡ 2 (mod 3): 2,5,8 move (< 10), 7 stay
    assert(bySrc == Map("s0" -> 10L, "s1" -> 10L, "s2" -> 7L, "s9" -> 3L), bySrc)
    assert(spark.table(s"$cat.pt").count() == 30)
  }

  test("translatable DELETE: per-partition rewrite, untouched mtimes survive") {
    val (cat, ws) = freshCatalog()
    seed(cat)
    val before0 = fileTimes(ws, "pt", "src=s0")
    Thread.sleep(1100)
    spark.sql(s"DELETE FROM $cat.pt WHERE src = 's1' AND id <= 13")
    assert(fileTimes(ws, "pt", "src=s0") == before0)
    assert(spark.table(s"$cat.pt").filter(col("src") === "s1").count() == 5)
    // full-partition delete drops the directory
    spark.sql(s"DELETE FROM $cat.pt WHERE src = 's2'")
    assert(!fs(ws).exists(
      new org.apache.hadoop.fs.Path(s"$ws/pt.parquet/src=s2")))
    assert(spark.table(s"$cat.pt").count() == 15)
  }

  test("MERGE INTO partitioned target: matched update + not-matched insert") {
    val (cat, _) = freshCatalog()
    seed(cat)
    spark.range(0, 40, 5).selectExpr("id", "'merged' AS v",
      "CONCAT('s', id % 3) AS src").createOrReplaceTempView("pt_updates")
    spark.sql(
      s"""MERGE INTO $cat.pt t USING pt_updates s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val out = spark.table(s"$cat.pt")
    assert(out.count() == 32) // 30 + ids 30,35
    assert(out.filter(col("v") === "merged").count() == 8)
    assert(out.filter(col("id") === 35).select("src").first().getString(0) == "s2")
  }

  test("ALTER ADD COLUMN is metadata-only and keeps the partition column last") {
    val (cat, ws) = freshCatalog()
    seed(cat)
    val before = (0 to 2).map(i => fileTimes(ws, "pt", s"src=s$i"))
    spark.sql(s"ALTER TABLE $cat.pt ADD COLUMN extra INT")
    // zero data files rewritten — the evolution is a sidecar edit
    assert((0 to 2).forall(i => fileTimes(ws, "pt", s"src=s$i") == before(i)))
    val t = spark.table(s"$cat.pt")
    assert(t.columns.toSeq == Seq("id", "v", "extra", "src"),
      "new columns insert BEFORE the partition column (canonical hive order)")
    assert(t.filter(col("extra").isNotNull).count() == 0)
    spark.sql(s"INSERT INTO $cat.pt VALUES (100, 'n', 7, 's1')")
    assert(spark.table(s"$cat.pt").filter(col("extra") === 7).count() == 1)
    // partition-grained DML still works on the evolved schema
    spark.sql(s"UPDATE $cat.pt SET extra = 1 WHERE src = 's0'")
    assert(spark.table(s"$cat.pt").filter(col("extra") === 1).count() == 10)
    // RENAME of DATA columns graduated to supported in r17 (the ALTER-
    // matrix spec below); renaming a PARTITION column stays rejected
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.pt RENAME COLUMN src TO origin")
    }
  }

  test("zero-match UPDATE is a NO-OP: no duplication, no rewrite") {
    val (cat, ws) = freshCatalog()
    seed(cat)
    val before = (0 to 2).map(i => fileTimes(ws, "pt", s"src=s$i"))
    Thread.sleep(1100)
    // matches NOTHING: the runtime group filter pins an EMPTY partition
    // set — before the fix the scan fell back to the whole table and the
    // publish APPENDED a full copy of every row (30 → 60)
    spark.sql(s"UPDATE $cat.pt SET v = 'never' WHERE v = 'no_such_value'")
    assert(spark.table(s"$cat.pt").count() == 30, "zero-match UPDATE duplicated rows")
    assert(spark.table(s"$cat.pt").select("id").distinct().count() == 30)
    assert((0 to 2).forall(i => fileTimes(ws, "pt", s"src=s$i") == before(i)),
      "zero-match UPDATE rewrote partitions")
  }

  test("zero-match MERGE still lands NOT MATCHED inserts, without duplication") {
    val (cat, ws) = freshCatalog()
    seed(cat)
    val before0 = fileTimes(ws, "pt", "src=s0")
    Thread.sleep(1100)
    // source matches NO target row — the group filter pins zero partitions,
    // but the NOT MATCHED inserts come from the SOURCE side and must land
    spark.range(100, 102).selectExpr("id", "'ins' AS v",
      "CONCAT('s', id % 3) AS src").createOrReplaceTempView("pt_nomatch")
    spark.sql(
      s"""MERGE INTO $cat.pt t USING pt_nomatch s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val out = spark.table(s"$cat.pt")
    assert(out.count() == 32, "inserts lost or rows duplicated")
    assert(out.select("id").distinct().count() == 32)
    assert(out.filter(col("v") === "ins").count() == 2)
    // s0 received no insert (100%3=1 → s1, 101%3=2 → s2) and was not read:
    // its files must be byte-identical
    assert(fileTimes(ws, "pt", "src=s0") == before0)
  }

  test("crash between retire and publish: repair restores pre-statement content") {
    val (cat, ws) = freshCatalog()
    seed(cat)
    val f = fs(ws)
    val pdir = new org.apache.hadoop.fs.Path(s"$ws/pt.parquet/src=s1")
    // simulate a writer killed AFTER the retire rename, BEFORE the staged
    // replacement moved in: the partition sits parked under the
    // dot-prefixed retired root, its staging (the would-be replacement)
    // abandoned
    val aside = new org.apache.hadoop.fs.Path(
      s"$ws/pt.parquet/.retired_deadbeef/src=s1")
    f.mkdirs(aside.getParent): Unit
    assert(f.rename(pdir, aside))
    spark.catalog.refreshByPath(s"$ws/pt.parquet")
    // next catalog load runs journal recovery: the partition is restored
    // and the table reads its full pre-statement content
    assert(spark.table(s"$cat.pt").count() == 30)
    assert(f.exists(pdir) && !f.exists(aside))
    assert(spark.table(s"$cat.pt").filter(col("src") === "s1").count() == 10)
    // the other crash side: replacement already live, retired copy left —
    // recovery must DELETE the stale copy, never resurrect it
    val aside2 = new org.apache.hadoop.fs.Path(
      s"$ws/pt.parquet/.retired_cafe0123/src=s2")
    f.mkdirs(aside2): Unit
    assert(spark.table(s"$cat.pt").count() == 30)
    assert(!f.exists(aside2.getParent),
      "stale retired copy must be cleared, not restored")
  }

  test("multi-column PARTITIONED BY: nested layout, pruning, partition-grained DML") {
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.mp (id BIGINT, v STRING, region STRING, " +
      s"tier INT) PARTITIONED BY (region, tier)")
    spark.sql(
      s"""INSERT INTO $cat.mp
         |SELECT id, CONCAT('v', id), CONCAT('r', id % 2), CAST(id % 3 AS INT)
         |FROM RANGE(60)""".stripMargin)
    val f = fs(ws)
    // nested hive layout region=*/tier=*
    val lvl1 = f.listStatus(new org.apache.hadoop.fs.Path(s"$ws/mp.parquet"))
      .filter(_.isDirectory).map(_.getPath.getName).sorted
    assert(lvl1.toSeq == Seq("region=r0", "region=r1"))
    val lvl2 = f.listStatus(
      new org.apache.hadoop.fs.Path(s"$ws/mp.parquet/region=r0"))
      .filter(_.isDirectory).map(_.getPath.getName).sorted
    assert(lvl2.toSeq == Seq("tier=0", "tier=1", "tier=2"))
    assert(spark.table(s"$cat.mp").count() == 60)
    // both-level pruning reaches the scan
    val df = spark.sql(
      s"SELECT id FROM $cat.mp WHERE region = 'r1' AND tier = 2")
    assert(df.count() == 10)
    assert(df.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    // partition-grained UPDATE: only the matched (region, tier) leaf moves
    val before = fileTimes(ws, "mp", "region=r0/tier=0")
    Thread.sleep(1100)
    spark.sql(s"UPDATE $cat.mp SET v = 'patched' WHERE region = 'r1' AND tier = 1")
    assert(fileTimes(ws, "mp", "region=r0/tier=0") == before,
      "untouched leaf was rewritten")
    assert(spark.table(s"$cat.mp").filter(col("v") === "patched").count() == 10)
    // translatable DELETE drops one leaf directory
    spark.sql(s"DELETE FROM $cat.mp WHERE region = 'r0' AND tier = 2")
    assert(!f.exists(
      new org.apache.hadoop.fs.Path(s"$ws/mp.parquet/region=r0/tier=2")))
    assert(spark.table(s"$cat.mp").count() == 50)
  }

  test("days(ts) hidden partitioning: derived dirs, ts-range pruning, day-grained DML") {
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.ev (event_id BIGINT, ts TIMESTAMP, " +
      s"kind STRING) PARTITIONED BY (days(ts))")
    spark.sql(
      s"""INSERT INTO $cat.ev
         |SELECT id, timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*3600),
         |       CONCAT('k', id % 2)
         |FROM RANGE(96)""".stripMargin) // 96 hours → 4 days: Jan 1-4
    val f = fs(ws)
    val dirs = f.listStatus(new org.apache.hadoop.fs.Path(s"$ws/ev.parquet"))
      .filter(_.isDirectory).map(_.getPath.getName).sorted
    // 2024-01-01 = epoch day 19723
    assert(dirs.toSeq == Seq("ts_day=19723", "ts_day=19724",
      "ts_day=19725", "ts_day=19726"), dirs.toSeq)
    val t = spark.table(s"$cat.ev")
    // the synthetic path column never surfaces
    assert(t.columns.toSeq == Seq("event_id", "ts", "kind"))
    assert(t.count() == 96)
    // ts-range predicates prune DIRECTORIES (hidden-partition pruning):
    // planned file set covers only the two matching days
    val q = spark.sql(s"SELECT event_id FROM $cat.ev WHERE " +
      s"ts >= timestamp'2024-01-02 00:00:00' AND ts < timestamp'2024-01-04 00:00:00'")
    val planned = q.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.flatMap(_.inputPartitions).flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.map(_.filePath.toString)
      case _ => Nil
    }.distinct
    assert(planned.nonEmpty &&
      planned.forall(p => p.contains("ts_day=19724") || p.contains("ts_day=19725")),
      planned)
    assert(q.count() == 48)
    // day-grained UPDATE: untouched day keeps its mtimes
    val before = fileTimes(ws, "ev", "ts_day=19723")
    Thread.sleep(1100)
    spark.sql(s"UPDATE $cat.ev SET kind = 'u' WHERE " +
      s"ts >= timestamp'2024-01-03 00:00:00' AND ts < timestamp'2024-01-04 00:00:00'")
    assert(fileTimes(ws, "ev", "ts_day=19723") == before,
      "untouched day was rewritten")
    assert(spark.table(s"$cat.ev").filter(col("kind") === "u").count() == 24)
    assert(spark.table(s"$cat.ev").count() == 96)
    // translatable DELETE of one whole day drops its directory
    spark.sql(s"DELETE FROM $cat.ev WHERE ts < timestamp'2024-01-02 00:00:00'")
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$ws/ev.parquet/ts_day=19723")))
    assert(spark.table(s"$cat.ev").count() == 72)
    // MULTI-day translatable DELETE in one statement: the per-leaf rewrite
    // must stage every survivor set BEFORE any leaf is republished — on a
    // hidden layout the scan cannot partition-prune a stale file index, so
    // swapping leaf 1 first used to make leaf 2's read throw mid-statement
    spark.sql(s"DELETE FROM $cat.ev WHERE " +
      s"ts >= timestamp'2024-01-02 06:00:00' AND ts < timestamp'2024-01-03 18:00:00'")
    assert(spark.table(s"$cat.ev").count() == 72 - 36)
    assert(spark.table(s"$cat.ev")
      .filter(col("ts") >= lit("2024-01-02 06:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-03 18:00:00").cast("timestamp")).count() == 0)
  }

  test("load-time repair is LOCK-AWARE: a live statement's parked copies are never restored") {
    val (cat, ws) = freshCatalog()
    seed(cat)
    val f = fs(ws)
    val pdir = new org.apache.hadoop.fs.Path(s"$ws/pt.parquet/src=s1")
    val aside = new org.apache.hadoop.fs.Path(
      s"$ws/pt.parquet/.retired_live01/src=s1")
    val lock = new org.apache.hadoop.fs.Path(s"$ws/.pt.parquet.__dml_lock")
    // simulate an IN-FLIGHT publish: lock held, leaf parked, replacement
    // not yet moved in — a load-time repair restoring the leaf here would
    // make the publisher APPEND next to the restored originals (dup rows)
    f.create(lock, false).close()
    f.mkdirs(aside.getParent): Unit
    assert(f.rename(pdir, aside))
    spark.catalog.refreshByPath(s"$ws/pt.parquet")
    assert(spark.table(s"$cat.pt").count() == 20,
      "repair must SKIP while the statement lock is held")
    assert(f.exists(aside) && !f.exists(pdir))
    // the statement crashes (lock ages out) → repair restores on next load
    f.delete(lock, false)
    assert(spark.table(s"$cat.pt").count() == 30)
    assert(f.exists(pdir) && !f.exists(aside))
  }

  test("DML fence: a held lock aborts the statement cleanly; stale locks break") {
    val (cat, ws) = freshCatalog()
    seed(cat)
    val f = fs(ws)
    val lock = new org.apache.hadoop.fs.Path(s"$ws/.pt.parquet.__dml_lock")
    f.create(lock, false).close()
    def rootCauses(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).filter(_ != null).toSeq
    // COW UPDATE aborts at its own write start — table untouched
    val e = intercept[Throwable] {
      spark.sql(s"UPDATE $cat.pt SET v = 'locked_out' WHERE src = 's1'")
    }
    assert(rootCauses(e).exists(_.contains("DML statement holds the lock")),
      e.toString)
    assert(spark.table(s"$cat.pt").filter(col("v") === "locked_out").count() == 0)
    assert(spark.table(s"$cat.pt").count() == 30)
    // translatable DELETE aborts the same way
    val e2 = intercept[Throwable] {
      spark.sql(s"DELETE FROM $cat.pt WHERE src = 's2'")
    }
    assert(rootCauses(e2).exists(_.contains("DML statement holds the lock")))
    assert(spark.table(s"$cat.pt").count() == 30)
    // a CRASHED holder's lock ages out: grace 0 → breakable immediately
    spark.conf.set("graft.workspace.dmlLockGraceMs", "0")
    try {
      spark.sql(s"UPDATE $cat.pt SET v = 'recovered' WHERE src = 's1'")
      assert(spark.table(s"$cat.pt").filter(col("v") === "recovered").count() == 10)
      assert(!f.exists(lock), "lock must release after the statement commits")
    } finally spark.conf.unset("graft.workspace.dmlLockGraceMs")
  }

  test("DML fence race: concurrent statements never lose or duplicate rows") {
    val (cat, _) = freshCatalog()
    seed(cat)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    def run(src: String, tag: String) = scala.concurrent.Future {
      try Right(spark.sql(
        s"UPDATE $cat.pt SET v = '$tag' WHERE src = '$src'"): Unit)
      catch { case t: Throwable => Left(t) }
    }
    val results = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(Seq(
        run("s1", "a"), run("s2", "b"))),
      scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    // invariants: no row loss/duplication, each statement all-or-nothing,
    // a loser failed with the fence's clean abort
    val t = spark.table(s"$cat.pt")
    assert(t.count() == 30)
    assert(t.select("id").distinct().count() == 30)
    val na = t.filter(col("v") === "a").count()
    val nb = t.filter(col("v") === "b").count()
    assert(na == 0 || na == 10, s"statement a torn: $na rows")
    assert(nb == 0 || nb == 10, s"statement b torn: $nb rows")
    val wins = results.count(_.isRight)
    assert(wins >= 1, "at least one statement must commit")
    assert((na == 10) == results(0).isRight &&
      (nb == 10) == results(1).isRight,
      "reported outcome must match on-disk state")
  }

  test("randomized days-partitioned DML: table content tracks a key-value model") {
    import spark.implicits._
    // seeded, reproducible: arbitrary interleavings of predicate UPDATE,
    // ts-range UPDATE, cross-day ts MOVE, translatable DELETE, INSERT and
    // MERGE against a days(ts) table must keep (content ≡ model) AND
    // (leaf-directory set ≡ the model's day set) after every statement —
    // the layout is part of the contract, not just the rows
    val rnd = new scala.util.Random(20260815L)
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.rp (id BIGINT, ts TIMESTAMP, v BIGINT) " +
      s"PARTITIONED BY (days(ts))")
    val epoch0 = java.time.LocalDateTime.of(2024, 6, 1, 0, 0)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    def tsOf(hours: Long) = new java.sql.Timestamp(epoch0 + hours * 3600000L)
    val model = scala.collection.mutable.Map.empty[Long, (Long, Long)] // id -> (tsMillis, v)
    (0L until 60L).foreach(i => model(i) = (tsOf(i * 2).getTime, i))
    model.toSeq.map { case (id, (t, v)) => (id, new java.sql.Timestamp(t), v) }
      .toDF("id", "ts", "v").createOrReplaceTempView("rp_seed")
    spark.sql(s"INSERT INTO $cat.rp SELECT id, ts, v FROM rp_seed")
    var nextId = 1000L
    def check(tag: String): Unit = {
      val got = spark.table(s"$cat.rp").as[(Long, java.sql.Timestamp, Long)]
        .collect().map { case (i, t, v) => i -> (t.getTime, v) }.toMap
      assert(got == model.toMap, s"content diverged after $tag")
      val dirs = fs(ws).listStatus(
          new org.apache.hadoop.fs.Path(s"$ws/rp.parquet"))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("ts_day="))
        .map(_.getPath.getName.stripPrefix("ts_day=").toLong).toSet
      val want = model.values.map(t => Math.floorDiv(t._1, 86400000L)).toSet
      assert(dirs == want, s"layout diverged after $tag: $dirs vs $want")
    }
    (1 to 10).foreach { step =>
      val op = rnd.nextInt(6)
      op match {
        case 0 => // predicate UPDATE (runtime group filter on matched days)
          val (m, r, c) = (rnd.nextInt(5) + 2, rnd.nextInt(3), rnd.nextLong(1000))
          spark.sql(s"UPDATE $cat.rp SET v = $c WHERE id % $m = $r")
          model.keys.filter(_ % m == r).toSeq
            .foreach(k => model(k) = (model(k)._1, c))
        case 1 => // ts-range UPDATE (days pinned straight from the range)
          val lo = rnd.nextInt(5) * 24L
          val loTs = tsOf(lo); val hiTs = tsOf(lo + 24)
          spark.sql(s"UPDATE $cat.rp SET v = v + 1 WHERE ts >= " +
            s"timestamp'$loTs' AND ts < timestamp'$hiTs'")
          model.foreach { case (k, (t, v)) =>
            if (t >= loTs.getTime && t < hiTs.getTime) model(k) = (t, v + 1)
          }
        case 2 => // cross-day MOVE: the ts itself shifts a day forward
          val (m, r) = (rnd.nextInt(7) + 5, rnd.nextInt(5))
          spark.sql(s"UPDATE $cat.rp SET ts = ts + INTERVAL 1 DAY " +
            s"WHERE id % $m = $r")
          model.keys.filter(_ % m == r).toSeq
            .foreach(k => model(k) = (model(k)._1 + 86400000L, model(k)._2))
        case 3 => // translatable DELETE on a ts bound + key residue
          val (m, r) = (rnd.nextInt(4) + 2, rnd.nextInt(2))
          val bound = tsOf((rnd.nextInt(6) + 1) * 24L)
          spark.sql(s"DELETE FROM $cat.rp WHERE ts < timestamp'$bound' " +
            s"AND id % $m = $r")
          model.keys.filter(k => model(k)._1 < bound.getTime && k % m == r)
            .toSeq.foreach(model.remove)
        case 4 => // INSERT of fresh ids, possibly into brand-new days
          val rows = (0 until rnd.nextInt(4) + 1).map { _ =>
            nextId += 1
            val t = tsOf(rnd.nextInt(10) * 24L + rnd.nextInt(24))
            (nextId, t, rnd.nextLong(1000))
          }
          rows.toDF("id", "ts", "v").createOrReplaceTempView("rp_ins")
          spark.sql(s"INSERT INTO $cat.rp SELECT id, ts, v FROM rp_ins")
          rows.foreach { case (i, t, v) => model(i) = (t.getTime, v) }
        case 5 => // MERGE: update a sample of existing + insert fresh
          val updates = rnd.shuffle(model.keys.toSeq)
            .take(rnd.nextInt(4) + 1)
            .map(k => (k, new java.sql.Timestamp(model(k)._1), rnd.nextLong(1000)))
          nextId += 1
          val ins = (nextId, tsOf(rnd.nextInt(12) * 24L), rnd.nextLong(1000))
          (updates :+ ins).toDF("id", "ts", "v")
            .createOrReplaceTempView("rp_src")
          spark.sql(
            s"""MERGE INTO $cat.rp t USING rp_src s ON t.id = s.id
               |WHEN MATCHED THEN UPDATE SET v = s.v
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          updates.foreach { case (k, _, v) => model(k) = (model(k)._1, v) }
          model(ins._1) = (ins._2.getTime, ins._3)
      }
      check(s"step $step op $op")
    }
  }

  test("randomized multi-col identity DML with path-hostile values tracks a model") {
    import spark.implicits._
    // partition values that need ESCAPING in directory names (space,
    // slash, colon, percent, equals) ride through CREATE/INSERT/UPDATE/
    // DELETE/MERGE end to end — Spark's dynamic-partition writer and the
    // table's own partDirName/unescape must agree on every path, and the
    // leaf-directory set must track the model's live (region, tier) set
    val rnd = new scala.util.Random(20260815L)
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.rq (id BIGINT, v BIGINT, region STRING, " +
      s"tier INT) PARTITIONED BY (region, tier)")
    val regions = Seq("r 0", "r/1", "r:2", "r%3", "r=4")
    val model = scala.collection.mutable.Map.empty[Long, (String, Int, Long)]
    (0L until 50L).foreach(i =>
      model(i) = (regions(rnd.nextInt(regions.size)), rnd.nextInt(3), i))
    model.toSeq.map { case (id, (r, t, v)) => (id, v, r, t) }
      .toDF("id", "v", "region", "tier").createOrReplaceTempView("rq_seed")
    spark.sql(s"INSERT INTO $cat.rq SELECT id, v, region, tier FROM rq_seed")
    var nextId = 1000L
    def check(tag: String): Unit = {
      val got = spark.table(s"$cat.rq").as[(Long, Long, String, Int)]
        .collect().map { case (i, v, r, t) => i -> (r, t, v) }.toMap
      assert(got == model.toMap, s"content diverged after $tag")
      val f = fs(ws)
      val leaves = f.listStatus(new org.apache.hadoop.fs.Path(s"$ws/rq.parquet"))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("region="))
        .flatMap { r1 =>
          val region = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(r1.getPath.getName.stripPrefix("region="))
          f.listStatus(r1.getPath).filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("tier="))
            .map(t1 => (region, t1.getPath.getName.stripPrefix("tier=").toInt))
        }.toSet
      val want = model.values.map(x => (x._1, x._2)).toSet
      assert(leaves == want, s"layout diverged after $tag: $leaves vs $want")
    }
    check("seed")
    (1 to 8).foreach { step =>
      val op = rnd.nextInt(5)
      op match {
        case 0 => // UPDATE pinned to one hostile region value
          val r = regions(rnd.nextInt(regions.size))
          val c = rnd.nextLong(1000)
          spark.sql(s"UPDATE $cat.rq SET v = $c WHERE region = '${r.replace("'", "''")}'")
          model.foreach { case (k, (rg, t, _)) =>
            if (rg == r) model(k) = (rg, t, c)
          }
        case 1 => // cross-partition MOVE: rewrite the region value itself
          val from = regions(rnd.nextInt(regions.size))
          val to = regions(rnd.nextInt(regions.size))
          spark.sql(s"UPDATE $cat.rq SET region = '${to.replace("'", "''")}' " +
            s"WHERE region = '${from.replace("'", "''")}' AND id % 2 = 0")
          model.foreach { case (k, (rg, t, v)) =>
            if (rg == from && k % 2 == 0) model(k) = (to, t, v)
          }
        case 2 => // translatable two-level DELETE
          val r = regions(rnd.nextInt(regions.size))
          val t = rnd.nextInt(3)
          spark.sql(s"DELETE FROM $cat.rq WHERE region = '${r.replace("'", "''")}' " +
            s"AND tier = $t")
          model.keys.filter(k => model(k)._1 == r && model(k)._2 == t)
            .toSeq.foreach(model.remove)
        case 3 => // INSERT fresh ids into random (possibly new) leaves
          val rows = (0 until rnd.nextInt(4) + 1).map { _ =>
            nextId += 1
            (nextId, rnd.nextLong(1000),
              regions(rnd.nextInt(regions.size)), rnd.nextInt(4))
          }
          rows.toDF("id", "v", "region", "tier").createOrReplaceTempView("rq_ins")
          spark.sql(s"INSERT INTO $cat.rq SELECT id, v, region, tier FROM rq_ins")
          rows.foreach { case (i, v, r, t) => model(i) = (r, t, v) }
        case 4 => // MERGE: update sample + insert one
          val ups = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3) + 1)
            .map(k => (k, rnd.nextLong(1000), model(k)._1, model(k)._2))
          nextId += 1
          val ins = (nextId, rnd.nextLong(1000),
            regions(rnd.nextInt(regions.size)), rnd.nextInt(3))
          (ups :+ ins).toDF("id", "v", "region", "tier")
            .createOrReplaceTempView("rq_src")
          spark.sql(
            s"""MERGE INTO $cat.rq t USING rq_src s ON t.id = s.id
               |WHEN MATCHED THEN UPDATE SET v = s.v
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          ups.foreach { case (k, v, r, t) => model(k) = (r, t, v) }
          model(ins._1) = (ins._3, ins._4, ins._2)
      }
      check(s"step $step op $op")
    }
  }

  test("guardrails: bad partition specs rejected") {
    val (cat, _) = freshCatalog()
    seed(cat)
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.pt2 (a INT, b DOUBLE) PARTITIONED BY (b)")
    }
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.pt4 (a INT, ts TIMESTAMP, b STRING) " +
        s"PARTITIONED BY (days(ts), b)") // hidden + identity mix
    }
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.pt5 (a INT, b STRING) " +
        s"PARTITIONED BY (days(b))") // days over a non-temporal column
    }
  }

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.flatMap(_.inputPartitions).flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.map(_.filePath.toString)
      case _ => Nil
    }.distinct

  test("per-leaf file manifests: predicates skip files INSIDE surviving days") {
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.pm (event_id BIGINT, ts TIMESTAMP, " +
      s"kind STRING) PARTITIONED BY (days(ts))")
    // 3 inserts → 3 disjoint event_id ranges → ≥3 files per day, each
    // covering a narrow id band (the shape file skipping exploits)
    (0 until 3).foreach { b =>
      spark.sql(
        s"""INSERT INTO $cat.pm
           |SELECT id + ${b * 1000},
           |  timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,(id % 48)*3600),
           |  CONCAT('k', id % 2)
           |FROM RANGE(48)""".stripMargin) // 2 days per insert
    }
    def leafFiles(day: Long): Int = fs(ws)
      .listStatus(new org.apache.hadoop.fs.Path(s"$ws/pm.parquet/ts_day=$day"))
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    assert(leafFiles(19723) >= 3)
    val n = graft.sources.PartitionManifest.enable(spark, s"$ws/pm.parquet",
      Seq("event_id"))
    assert(n == 2, s"expected 2 indexed leaves, got $n")
    // day prune picks ts_day=19723; the manifest then skips the two files
    // whose event_id range excludes the band
    val q = spark.sql(s"SELECT event_id, kind FROM $cat.pm WHERE " +
      s"ts < timestamp'2024-01-02 00:00:00' AND event_id BETWEEN 2000 AND 2047")
    val planned = plannedFiles(q)
    assert(planned.size < leafFiles(19723),
      s"no file skipping inside the day: $planned")
    assert(planned.forall(_.contains("ts_day=19723")))
    assert(q.count() == 24) // 48 ids in band, half in day 19723
    // stale manifest self-disables: an INSERT INTO appends files without
    // touching manifests — the leaf serves unpruned, rows stay exact
    spark.sql(s"INSERT INTO $cat.pm VALUES " +
      s"(5000, timestamp'2024-01-01 05:00:00', 'x')")
    // def, not val: a DataFrame memoizes its physical plan — the manifest
    // is consulted at PLAN time, so each check needs a fresh plan
    def q2 = spark.sql(s"SELECT event_id FROM $cat.pm WHERE " +
      s"ts < timestamp'2024-01-02 00:00:00' AND event_id = 5000")
    assert(plannedFiles(q2).size == leafFiles(19723),
      "stale manifest must serve the whole leaf")
    assert(q2.count() == 1)
    // re-enable restores skipping over the appended layout
    graft.sources.PartitionManifest.enable(spark, s"$ws/pm.parquet",
      Seq("event_id")): Unit
    assert(plannedFiles(q2).size < leafFiles(19723))
    assert(q2.count() == 1)
    // day-grained DML republishes its leaf WITH a fresh manifest (it rides
    // the same rename as the data); the untouched day keeps pruning
    spark.sql(s"UPDATE $cat.pm SET kind = 'u' WHERE " +
      s"ts < timestamp'2024-01-02 00:00:00' AND event_id >= 2000")
    val q3 = spark.sql(s"SELECT event_id FROM $cat.pm WHERE " +
      s"ts < timestamp'2024-01-02 00:00:00' AND kind = 'u'")
    assert(q3.count() == 25)
    // the republished leaf carries a FRESH manifest (it rode the same
    // rename as the data): complete against the new layout, and able to
    // prove an impossible band empty — regardless of how the COW writer
    // laid the files out
    val leaf = new org.apache.hadoop.fs.Path(s"$ws/pm.parquet/ts_day=19723")
    val pruned = graft.sources.PartitionManifest.prunedFiles(spark, leaf,
      Seq(org.apache.spark.sql.sources.GreaterThan("event_id", 999999L)))
    assert(pruned.isDefined, "republished leaf lost its manifest (stale)")
    assert(pruned.get.isEmpty, "impossible band must prune every file")
    // and the untouched day kept its manifest through the statement
    val leaf2 = new org.apache.hadoop.fs.Path(s"$ws/pm.parquet/ts_day=19724")
    assert(graft.sources.PartitionManifest.prunedFiles(spark, leaf2,
      Seq(org.apache.spark.sql.sources.GreaterThan("event_id", 999999L)))
      .exists(_.isEmpty))
    val q4 = spark.sql(s"SELECT event_id FROM $cat.pm WHERE " +
      s"ts >= timestamp'2024-01-01 00:00:00' AND ts < timestamp'2024-01-02 00:00:00'" +
      s" AND event_id BETWEEN 0 AND 47")
    assert(q4.count() == 24)
    // the translatable-DELETE path republishes its leaf with a fresh
    // manifest too (it stages survivor copies outside publishPartitioned)
    spark.sql(s"DELETE FROM $cat.pm WHERE " +
      s"ts >= timestamp'2024-01-02 00:00:00' AND event_id < 1000")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.pm WHERE " +
      s"ts >= timestamp'2024-01-02 00:00:00'").first().getLong(0) == 48)
    assert(graft.sources.PartitionManifest.prunedFiles(spark, leaf2,
      Seq(org.apache.spark.sql.sources.GreaterThan("event_id", 999999L)))
      .exists(_.isEmpty), "DELETE-republished leaf must carry a fresh manifest")
  }

  test("partition-spec evolution: identity -> days -> flat, content identity throughout") {
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.pe (event_id BIGINT, ts TIMESTAMP, " +
      s"src STRING) PARTITIONED BY (src)")
    spark.sql(
      s"""INSERT INTO $cat.pe
         |SELECT id, timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,(id % 72)*3600),
         |       CONCAT('s', id % 3)
         |FROM RANGE(72)""".stripMargin)
    spark.sql(s"UPDATE $cat.pe SET src = 'sX' WHERE event_id = 10")
    def content() = spark.sql(
      s"SELECT event_id, ts, src FROM $cat.pe ORDER BY event_id")
      .collect().map(_.toString).toSeq
    val before = content()
    val f = fs(ws)
    def topDirs() = f.listStatus(new org.apache.hadoop.fs.Path(s"$ws/pe.parquet"))
      .filter(_.isDirectory).map(_.getPath.getName).sorted.toSeq
    assert(topDirs().forall(_.startsWith("src=")))
    // identity(src) -> days(ts): one locked republish
    graft.sources.PartitionEvolution.repartition(spark, ws, "pe", "days:ts")
    assert(topDirs().forall(_.startsWith("ts_day=")), topDirs().toString)
    assert(topDirs().size == 3) // 72 hours = 3 days
    assert(content() == before, "content identity broke across the respec")
    // the new layout's semantics are live: ts-range day pruning + day DML
    val q = spark.sql(s"SELECT event_id FROM $cat.pe WHERE " +
      s"ts >= timestamp'2024-01-02 00:00:00' AND ts < timestamp'2024-01-03 00:00:00'")
    assert(plannedFiles(q).forall(_.contains("ts_day=19724")))
    assert(q.count() == 24)
    spark.sql(s"DELETE FROM $cat.pe WHERE ts >= timestamp'2024-01-03 00:00:00'")
    assert(spark.table(s"$cat.pe").count() == 48)
    // days(ts) -> flat
    graft.sources.PartitionEvolution.repartition(spark, ws, "pe", "")
    assert(topDirs().isEmpty, topDirs().toString)
    assert(spark.table(s"$cat.pe").count() == 48)
    assert(spark.sql(s"SELECT event_id FROM $cat.pe ORDER BY event_id")
      .collect().map(_.getLong(0)).toSeq == (0L until 48L))
    // flat -> identity again; DML still works on the final layout
    graft.sources.PartitionEvolution.repartition(spark, ws, "pe", "src")
    assert(topDirs().forall(_.startsWith("src=")) && topDirs().nonEmpty)
    spark.sql(s"UPDATE $cat.pe SET src = 'sY' WHERE event_id = 11")
    assert(spark.table(s"$cat.pe").filter(col("src") === "sY").count() == 1)
  }

  test("partition-spec evolution: concurrent DML aborts; crash states recover") {
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.pe2 (event_id BIGINT, ts TIMESTAMP, " +
      s"src STRING) PARTITIONED BY (src)")
    spark.sql(
      s"""INSERT INTO $cat.pe2
         |SELECT id, timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,(id % 48)*3600),
         |       CONCAT('s', id % 2)
         |FROM RANGE(48)""".stripMargin)
    val f = fs(ws)
    // a held DML lock makes the repartition abort cleanly, table untouched
    val lock = new org.apache.hadoop.fs.Path(s"$ws/.pe2.parquet.__dml_lock")
    f.create(lock, false).close()
    intercept[java.util.ConcurrentModificationException] {
      graft.sources.PartitionEvolution.repartition(spark, ws, "pe2", "days:ts")
    }
    f.delete(lock, false)
    assert(spark.table(s"$cat.pe2").count() == 48)
    // crash BEFORE the retire: staged + journal present, live intact →
    // recovery rolls BACK (staged deleted, journal dropped, marker intact)
    val jr = new org.apache.hadoop.fs.Path(s"$ws/_graft_schema/pe2.repart")
    val staged = new org.apache.hadoop.fs.Path(s"$ws/.repart_pe2_deadbeef")
    f.mkdirs(staged): Unit
    val out = f.create(jr, true)
    out.write("deadbeef\ndays:ts\n{}".getBytes("UTF-8")); out.close()
    spark.catalog.refreshByPath(s"$ws/pe2.parquet")
    assert(spark.table(s"$cat.pe2").count() == 48) // loadTable ran recovery
    assert(!f.exists(jr) && !f.exists(staged), "pre-retire crash must roll back")
    // crash AFTER the retire: parked + staged + journal, live missing →
    // recovery rolls FORWARD (staged published, markers applied)
    graft.sources.PartitionEvolution.repartition(spark, ws, "pe2", "days:ts")
    val before = spark.sql(s"SELECT event_id, ts, src FROM $cat.pe2 ORDER BY event_id")
      .collect().map(_.toString).toSeq
    // simulate: re-stage the CURRENT layout as if a respec to identity
    // crashed mid-swap — park the live dir, leave the staged copy + journal
    val dir = new org.apache.hadoop.fs.Path(s"$ws/pe2.parquet")
    val sidecarJson = {
      val sp = new org.apache.hadoop.fs.Path(s"$ws/_graft_schema/pe2.json")
      val in = f.open(sp)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    }
    val staged2 = new org.apache.hadoop.fs.Path(s"$ws/.repart_pe2_cafe0001")
    val parked2 = new org.apache.hadoop.fs.Path(s"$ws/.repart_old_pe2_cafe0001")
    assert(f.rename(dir, staged2))   // the "staged" copy IS the full layout
    val out2 = f.create(jr, true)
    out2.write(s"cafe0001\ndays:ts\n$sidecarJson".getBytes("UTF-8")); out2.close()
    f.mkdirs(parked2): Unit          // retired remnant of the "old" layout
    spark.catalog.refreshByPath(s"$ws/pe2.parquet")
    assert(spark.sql(s"SELECT event_id, ts, src FROM $cat.pe2 ORDER BY event_id")
      .collect().map(_.toString).toSeq == before,
      "post-retire crash must roll forward to the staged layout")
    assert(!f.exists(jr) && !f.exists(parked2) && !f.exists(staged2))
  }

  test("respec repairs crashed-DML debris first: parked rows survive into the new layout") {
    val (cat, ws) = freshCatalog()
    seed(cat)
    val f = fs(ws)
    // a partitioned DML statement crashed POST-RETIRE: src=s1's only copy
    // sits parked under `.retired_*` inside the table dir (staging never
    // published; the statement's lock has since aged out). Pre-fix, a
    // direct repartition() read only the live directory — the respec'd
    // layout published WITHOUT s1's 10 rows and finishSwap's recursive
    // delete of the parked old dir destroyed their only copy.
    val pdir = new org.apache.hadoop.fs.Path(s"$ws/pt.parquet/src=s1")
    val aside = new org.apache.hadoop.fs.Path(
      s"$ws/pt.parquet/.retired_crash001/src=s1")
    f.mkdirs(aside.getParent): Unit
    assert(f.rename(pdir, aside))
    // direct call — NO intervening catalog loadTable (its load-time repair
    // would mask the bug)
    graft.sources.PartitionEvolution.repartition(spark, ws, "pt", "")
    spark.catalog.refreshByPath(s"$ws/pt.parquet")
    val out = spark.table(s"$cat.pt")
    assert(out.count() == 30, "parked rows were baked out of the respec")
    assert(out.filter(col("src") === "s1").count() == 10,
      "the crashed statement's partition must survive with its " +
        "pre-statement content")
    // no debris anywhere: the parked dir was repaired, not destroyed
    assert(!f.listStatus(new org.apache.hadoop.fs.Path(s"$ws/pt.parquet"))
      .exists(_.getPath.getName.startsWith(".retired_")))
  }

  test("respec carries the manifest opt-in and sizes staged files") {
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.pr (event_id BIGINT, ts TIMESTAMP, " +
      s"kind STRING) PARTITIONED BY (kind)")
    (0 until 3).foreach { b =>
      spark.sql(
        s"""INSERT INTO $cat.pr
           |SELECT id + ${b * 1000},
           |  timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,(id % 72)*3600),
           |  CONCAT('k', id % 2)
           |FROM RANGE(48)""".stripMargin)
    }
    val tdir = s"$ws/pr.parquet"
    graft.sources.PartitionManifest.enable(spark, tdir, Seq("event_id")): Unit
    val f = fs(ws)
    assert(f.exists(graft.sources.PartitionManifest.markerPath(tdir)))
    def content() = spark.sql(
      s"SELECT event_id, ts, kind FROM $cat.pr ORDER BY event_id")
      .collect().map(_.toString).toSeq
    val before = content()
    // respec identity(kind) -> days(ts), with a tiny per-file row target so
    // the write must SPLIT leaves into multiple bounded files
    spark.conf.set("graft.repartition.targetRowsPerFile", "10")
    try graft.sources.PartitionEvolution.repartition(spark, ws, "pr", "days:ts")
    finally spark.conf.unset("graft.repartition.targetRowsPerFile")
    spark.catalog.refreshByPath(tdir)
    assert(content() == before, "content identity broke across the respec")
    // 1. the `.stats_cols` opt-in survived the swap (pre-fix: retired and
    //    recursively deleted with the parked old layout)
    assert(f.exists(graft.sources.PartitionManifest.markerPath(tdir)),
      "respec silently destroyed the manifest opt-in")
    // 2. every new leaf carries a COMPLETE manifest (stamped pre-swap,
    //    published by the same rename): an impossible band prunes to zero
    val leaves = f.listStatus(new org.apache.hadoop.fs.Path(tdir))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("ts_day="))
      .map(_.getPath).toSeq
    assert(leaves.size == 2, s"48 hours should respec into 2 days: $leaves")
    leaves.foreach { leaf =>
      val pruned = graft.sources.PartitionManifest.prunedFiles(spark, leaf,
        Seq(org.apache.spark.sql.sources.GreaterThan("event_id", 999999L)))
      assert(pruned.isDefined, s"$leaf lost in-leaf file skipping after respec")
      assert(pruned.get.isEmpty, s"$leaf manifest failed to prune")
      // 3. staged files are SIZED: ~48 rows per day at 10 rows/file must
      //    split into several bounded files, never one-per-upstream-task
      val nFiles = f.listStatus(leaf)
        .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      assert(nFiles >= 2 && nFiles <= 12,
        s"$leaf has $nFiles files — staged rewrite is not sized")
    }
    // 4. in-leaf skipping serves through SQL on the NEW layout (the hidden
    //    days scan consults leaf manifests at plan time)
    def q = spark.sql(s"SELECT event_id FROM $cat.pr WHERE " +
      s"ts < timestamp'2024-01-02 00:00:00' AND event_id > 999999")
    assert(plannedFiles(q).isEmpty, "post-respec manifest must prune the plan")
    assert(q.count() == 0)
  }

  test("compactPartitions: fragmented leaves rewrite, compact leaves untouched, manifests re-stamped") {
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.pc (event_id BIGINT, ts TIMESTAMP, " +
      s"kind STRING) PARTITIONED BY (days(ts))")
    // 3 single-task inserts → 2 days × 3 files each
    (0 until 3).foreach { b =>
      spark.sql(
        s"""INSERT INTO $cat.pc
           |SELECT /*+ REPARTITION(1) */ id + ${b * 1000},
           |  timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,(id % 48)*3600),
           |  CONCAT('k', id % 2)
           |FROM RANGE(48)""".stripMargin)
    }
    // one already-compact day (single file) that must stay untouched
    spark.sql(s"INSERT INTO $cat.pc VALUES " +
      s"(9000, timestamp'2024-01-10 12:00:00', 'solo')")
    val tdir = s"$ws/pc.parquet"
    graft.sources.PartitionManifest.enable(spark, tdir, Seq("event_id")): Unit
    // one MORE append fragments day 19723 further AND stales its manifest
    spark.sql(s"INSERT INTO $cat.pc VALUES " +
      s"(9001, timestamp'2024-01-01 05:00:00', 'late')")
    def content() = spark.sql(
      s"SELECT event_id, ts, kind FROM $cat.pc ORDER BY event_id")
      .collect().map(_.toString).toSeq
    val before = content()
    val f = fs(ws)
    val soloBefore = fileTimes(ws, "pc", "ts_day=19732") // Jan 10
    Thread.sleep(1100)
    val res = graft.sources.PartitionCompaction
      .compactPartitions(spark, ws, "pc").sortBy(_._1)
    spark.catalog.refreshByPath(tdir)
    // only the two fragmented days compacted: 4 and 3 files → 1 each
    assert(res.map(_._1) == Seq("ts_day=19723", "ts_day=19724"), res)
    assert(res.map(_._2) == Seq(4, 3), s"before counts: $res")
    assert(res.map(_._3) == Seq(1, 1), s"after counts: $res")
    assert(content() == before, "compaction changed content")
    // the compact day was never listed, never rewritten
    assert(fileTimes(ws, "pc", "ts_day=19732") == soloBefore,
      "already-compact leaf was touched")
    // fresh complete manifests on the compacted leaves: skipping restored
    // (the appended file had STALED day 19723's manifest into no-op)
    Seq(19723L, 19724L).foreach { day =>
      val leaf = new org.apache.hadoop.fs.Path(s"$tdir/ts_day=$day")
      assert(graft.sources.PartitionManifest.prunedFiles(spark, leaf,
        Seq(org.apache.spark.sql.sources.GreaterThan("event_id", 999999L)))
        .exists(_.isEmpty), s"day $day manifest not re-stamped")
    }
    // second run is a no-op: everything is compact now
    assert(graft.sources.PartitionCompaction
      .compactPartitions(spark, ws, "pc").isEmpty)
    // content still serves correctly through SQL
    assert(spark.table(s"$cat.pc").count() == before.size)
  }

  test("workspace_compact TVF: identity layout, planned-file count drops") {
    val (cat, ws) = freshCatalog()
    seed(cat) // pt partitioned by src, 3 leaves, 30 rows
    // fragment src=s1 with appends
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO $cat.pt VALUES (${100 + i}, 'extra', 's1')")
    }
    val f = fs(ws)
    def leafFiles(rel: String): Int = f.listStatus(
      new org.apache.hadoop.fs.Path(s"$ws/pt.parquet/$rel"))
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val beforeFiles = leafFiles("src=s1")
    assert(beforeFiles >= 4)
    val beforeRows = spark.table(s"$cat.pt").orderBy("id")
      .collect().map(_.toString).toSeq
    val res = spark.sql(s"SELECT * FROM workspace_compact('$cat.pt')")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(res.exists(_._1 == "src=s1"), res.toSeq)
    assert(leafFiles("src=s1") == 1, "fragmented identity leaf not compacted")
    spark.catalog.refreshByPath(s"$ws/pt.parquet")
    assert(spark.table(s"$cat.pt").orderBy("id")
      .collect().map(_.toString).toSeq == beforeRows)
    // DML still works post-compaction (protocol state intact)
    spark.sql(s"UPDATE $cat.pt SET v = 'z' WHERE src = 's1' AND id = 100")
    assert(spark.table(s"$cat.pt").filter(col("v") === "z").count() == 1)
  }

  test("partition-grained claims: disjoint-day UPDATEs run CONCURRENTLY; " +
       "conflicts abort at the claim; whole-table ops refuse") {
    import spark.implicits._
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.cl (id BIGINT, ts TIMESTAMP, v STRING) " +
      "PARTITIONED BY (days(ts))")
    val epoch0 = java.time.LocalDateTime.of(2024, 6, 1, 0, 0)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    (0L until 20L).map(i => (i,
        new java.sql.Timestamp(epoch0 + (i % 2) * 86400000L + i * 1000L),
        "x")).toSeq
      .toDF("id", "ts", "v").createOrReplaceTempView("cl_seed")
    // ONE file per day (one writer task): statement A's gated copy stage
    // must be a single blocked task, or it would occupy every local[4]
    // slot and starve the concurrent statement this test is about
    spark.sql(
      s"INSERT INTO $cat.cl SELECT /*+ REPARTITION(1) */ id, ts, v FROM cl_seed")
    def rootCauses(t: Throwable): Seq[String] = {
      var cur: Throwable = t
      val out = scala.collection.mutable.Buffer.empty[String]
      while (cur != null) { out += String.valueOf(cur.getMessage); cur = cur.getCause }
      out.toSeq
    }
    val tdir = s"$ws/cl.parquet"
    val claimsDir = graft.sources.WorkspaceDmlLock.claimsDir(tdir)
    val f = fs(ws)
    def liveClaimNames: Seq[String] =
      if (!f.exists(claimsDir)) Nil
      else f.listStatus(claimsDir).map(st =>
        java.net.URLDecoder.decode(st.getPath.getName, "UTF-8")).toSeq
    // a latch-gated UDF in the SET expression: the group-filter PROBE only
    // evaluates the WHERE, so statement A parks in its COPY phase — table
    // lock already downgraded to the day-1 claim
    PartitionClaimGate.latch = new java.util.concurrent.CountDownLatch(1)
    spark.udf.register("claim_gate",
      (v: String) => { PartitionClaimGate.latch.await(); v })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val a = scala.concurrent.Future {
      spark.sql(s"UPDATE $cat.cl SET v = claim_gate('a') " +
        "WHERE ts >= TIMESTAMP '2024-06-01 00:00:00' " +
        "AND ts < TIMESTAMP '2024-06-02 00:00:00'")
    }
    try {
      // wait until A holds its day claim (probe done, copy parked)
      val deadline = System.currentTimeMillis() + 60000
      while (liveClaimNames.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(25)
      assert(liveClaimNames.exists(_.startsWith("ts_day=")),
        s"statement A never claimed its day: $liveClaimNames")
      // 1) a DISJOINT-day UPDATE lands to COMPLETION while A is mid-copy —
      //    the two statements' copy phases provably overlap
      spark.sql(s"UPDATE $cat.cl SET v = 'b' " +
        "WHERE ts >= TIMESTAMP '2024-06-02 00:00:00' " +
        "AND ts < TIMESTAMP '2024-06-03 00:00:00'")
      assert(spark.table(s"$cat.cl").filter(col("v") === "b").count() == 10,
        "disjoint-day statement must commit while the other is mid-copy")
      assert(!a.isCompleted, "A must still be parked in its copy phase")
      // 2) a CONFLICTING same-day UPDATE aborts cleanly at the claim
      val e1 = intercept[Throwable] {
        spark.sql(s"UPDATE $cat.cl SET v = 'c' " +
          "WHERE ts >= TIMESTAMP '2024-06-01 00:00:00' " +
          "AND ts < TIMESTAMP '2024-06-02 00:00:00'")
      }
      assert(rootCauses(e1).exists(_.contains("partition claim")),
        rootCauses(e1).mkString(" | "))
      // 3) whole-table operations wait (bounded, r17) then refuse while
      //    the claim stays live — shrink the budget so the spec measures
      //    the refusal, not the wait
      spark.conf.set("graft.workspace.dmlLockWaitMs", "300")
      try {
        val e2 = intercept[Throwable] {
          spark.sql(s"DELETE FROM $cat.cl WHERE v = 'never'")
        }
        assert(rootCauses(e2).exists(_.contains("partition claims")),
          rootCauses(e2).mkString(" | "))
        val e3 = intercept[Throwable] {
          graft.sources.PartitionCompaction.compactPartitions(spark, ws, "cl")
        }
        assert(rootCauses(e3).exists(_.contains("partition claims")),
          rootCauses(e3).mkString(" | "))
      } finally spark.conf.unset("graft.workspace.dmlLockWaitMs")
    } finally PartitionClaimGate.latch.countDown()
    scala.concurrent.Await.result(a,
      scala.concurrent.duration.Duration(120, "s")): Unit
    pool.shutdown()
    // both statements' effects intact, nothing lost or duplicated
    val t = spark.table(s"$cat.cl")
    assert(t.count() == 20)
    assert(t.filter(col("v") === "a").count() == 10, "statement A torn")
    assert(t.filter(col("v") === "b").count() == 10, "statement B torn")
    // the protocol cleans up after itself
    assert(liveClaimNames.isEmpty, s"claims leaked: $liveClaimNames")
    assert(!f.exists(graft.sources.WorkspaceDmlLock.lockPath(tdir)),
      "table lock leaked")
    // and the table still serves DML (state machine intact)
    spark.sql(s"UPDATE $cat.cl SET v = 'd' WHERE id = 3")
    assert(spark.table(s"$cat.cl").filter(col("v") === "d").count() == 1)
  }

  test("two-grain translatable DELETE: partition-pinning predicates claim " +
       "only their leaves; foreign claims block only overlapping deletes") {
    import spark.implicits._
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.dg (id BIGINT, ts TIMESTAMP, v STRING) " +
      "PARTITIONED BY (days(ts))")
    val epoch0 = java.time.LocalDateTime.of(2024, 7, 1, 0, 0)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    (0L until 30L).map(i => (i,
        new java.sql.Timestamp(epoch0 + (i % 3) * 86400000L + i * 1000L),
        if (i % 2 == 0) "even" else "odd")).toSeq
      .toDF("id", "ts", "v").createOrReplaceTempView("dg_seed")
    spark.sql(s"INSERT INTO $cat.dg SELECT id, ts, v FROM dg_seed")
    val tdir = s"$ws/dg.parquet"
    val f = fs(ws)
    def rootCauses(t: Throwable): Seq[String] = {
      var cur: Throwable = t
      val out = scala.collection.mutable.Buffer.empty[String]
      while (cur != null) { out += String.valueOf(cur.getMessage); cur = cur.getCause }
      out.toSeq
    }
    // a FOREIGN claim on day 1 (epoch day of 2024-07-02)
    val day1 = java.time.LocalDate.of(2024, 7, 2).toEpochDay
    val claim = graft.sources.WorkspaceDmlLock.claimPathOf(tdir, s"ts_day=$day1")
    f.mkdirs(claim.getParent): Unit
    val out = f.create(claim, false)
    out.write("foreign-token".getBytes("UTF-8")); out.close()
    // 1) a DISJOINT-day DELETE claims only its own leaf and proceeds —
    //    before r16's two-grain DELETE this aborted on any live claim
    spark.sql(s"DELETE FROM $cat.dg WHERE " +
      "ts >= TIMESTAMP '2024-07-03 00:00:00' AND " +
      "ts < TIMESTAMP '2024-07-04 00:00:00'")
    assert(spark.table(s"$cat.dg").count() == 20)
    assert(!f.exists(new org.apache.hadoop.fs.Path(
      s"$tdir/ts_day=${day1 + 1}")), "day-2 leaf must be gone")
    // 2) an OVERLAPPING-day DELETE aborts cleanly at the foreign claim
    val e1 = intercept[Throwable] {
      spark.sql(s"DELETE FROM $cat.dg WHERE " +
        "ts >= TIMESTAMP '2024-07-02 00:00:00' AND " +
        "ts < TIMESTAMP '2024-07-03 00:00:00'")
    }
    assert(rootCauses(e1).exists(_.contains("partition claim")),
      rootCauses(e1).mkString(" | "))
    // 3) a predicate that pins NO partition stays whole-table grain and —
    //    after the bounded wait (shrunk here) — refuses while the claim
    //    stays live
    spark.conf.set("graft.workspace.dmlLockWaitMs", "300")
    val e2 =
      try intercept[Throwable] {
        spark.sql(s"DELETE FROM $cat.dg WHERE v = 'even'")
      } finally spark.conf.unset("graft.workspace.dmlLockWaitMs")
    assert(rootCauses(e2).exists(_.contains("partition claims")),
      rootCauses(e2).mkString(" | "))
    // 4) claim released: both proceed; content tracks the model
    f.delete(claim, false): Unit
    spark.sql(s"DELETE FROM $cat.dg WHERE " +
      "ts >= TIMESTAMP '2024-07-02 00:00:00' AND " +
      "ts < TIMESTAMP '2024-07-03 00:00:00'")
    spark.sql(s"DELETE FROM $cat.dg WHERE v = 'even'")
    val left = spark.table(s"$cat.dg").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(left == (0L until 30L).filter(i => i % 3 == 0 && i % 2 == 1),
      left.toString)
    // the statements cleaned their own claims and the lock
    val cd = graft.sources.WorkspaceDmlLock.claimsDir(tdir)
    assert(!f.exists(cd) || f.listStatus(cd).isEmpty, "claims leaked")
    assert(!f.exists(graft.sources.WorkspaceDmlLock.lockPath(tdir)),
      "table lock leaked")
    // identity layout: same grain decision on the identity value
    spark.sql(s"CREATE TABLE $cat.di (id BIGINT, src STRING) " +
      "PARTITIONED BY (src)")
    spark.sql(s"INSERT INTO $cat.di SELECT id, CONCAT('s', id % 2) " +
      "FROM RANGE(10)")
    val c2 = graft.sources.WorkspaceDmlLock.claimPathOf(
      s"$ws/di.parquet", "src=s0")
    f.mkdirs(c2.getParent): Unit
    f.create(c2, false).close()
    spark.sql(s"DELETE FROM $cat.di WHERE src = 's1'") // disjoint: proceeds
    assert(spark.table(s"$cat.di").count() == 5)
    val e3 = intercept[Throwable] {
      spark.sql(s"DELETE FROM $cat.di WHERE src = 's0'")
    }
    assert(rootCauses(e3).exists(_.contains("partition claim")),
      rootCauses(e3).mkString(" | "))
    f.delete(c2, false): Unit
  }

  test("partitioned ALTER matrix (r17): RENAME/WIDEN/DROP metadata-only, " +
       "old files resolve by field id through every DML path, partition " +
       "columns immutable") {
    import spark.implicits._
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.pa (id BIGINT, ts TIMESTAMP, v STRING, " +
      "score INT) PARTITIONED BY (days(ts))")
    val epoch0 = java.time.LocalDateTime.of(2024, 10, 1, 0, 0)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    (0L until 30L).map(i => (i,
        new java.sql.Timestamp(epoch0 + (i % 3) * 86400000L + i * 1000L),
        if (i % 10 == 4) "zap" else s"w$i", (i % 100).toInt)).toSeq
      .toDF("id", "ts", "v", "score").createOrReplaceTempView("pa_seed")
    spark.sql(s"INSERT INTO $cat.pa SELECT id, ts, v, score FROM pa_seed")
    val f = fs(ws)
    def dataFileTimes: Map[String, Long] = {
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long)] =
        f.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else if (st.getPath.getName.endsWith(".parquet"))
            Seq(st.getPath.toString -> st.getModificationTime)
          else Nil
        }
      walk(new org.apache.hadoop.fs.Path(s"$ws/pa.parquet")).toMap
    }
    val before = dataFileTimes
    spark.sql(s"ALTER TABLE $cat.pa RENAME COLUMN v TO label")
    spark.sql(s"ALTER TABLE $cat.pa ALTER COLUMN score TYPE BIGINT")
    assert(dataFileTimes == before, "ALTER touched a data file")
    assert(spark.table(s"$cat.pa").columns.toSeq ==
      Seq("id", "ts", "label", "score"))
    // old files resolve the renamed column by FIELD ID (DSv2 scan)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.pa WHERE label = 'w7'")
      .first().getLong(0) == 1)
    // day-grained UPDATE binds the new name and the widened type (a value
    // only BIGINT holds)
    spark.sql(s"UPDATE $cat.pa SET score = score + 5000000000 " +
      "WHERE ts >= TIMESTAMP '2024-10-01 00:00:00' " +
      "AND ts < TIMESTAMP '2024-10-02 00:00:00' AND label = 'w9'")
    assert(spark.sql(s"SELECT score FROM $cat.pa WHERE id = 9")
      .first().getLong(0) == 5000000009L)
    // translatable DELETE: the V1 discovery/survivor reads resolve the
    // renamed column by field id too (whole-table grain — label pins no
    // partition); old-file 'zap' rows must match and go
    spark.sql(s"DELETE FROM $cat.pa WHERE label = 'zap'")
    assert(spark.table(s"$cat.pa").count() == 27)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.pa WHERE label = 'zap'")
      .first().getLong(0) == 0)
    // DROP + re-ADD of the name: pre-drop bytes stay dark — including in
    // the leaves the DELETE just rewrote (their files carry field ids)
    spark.sql(s"ALTER TABLE $cat.pa DROP COLUMN label")
    spark.sql(s"ALTER TABLE $cat.pa ADD COLUMN label STRING")
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.pa WHERE label IS NOT NULL")
      .first().getLong(0) == 0, "dropped bytes resurrected")
    spark.sql(s"UPDATE $cat.pa SET label = 'fresh' WHERE id = 3")
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.pa WHERE label = 'fresh'")
      .first().getLong(0) == 1)
    // guardrails: partition columns are immutable
    def msg(t: Throwable): String = {
      var cur: Throwable = t; var out = ""
      while (cur != null) { out += " | " + cur.getMessage; cur = cur.getCause }
      out
    }
    val e1 = intercept[Throwable] {
      spark.sql(s"ALTER TABLE $cat.pa RENAME COLUMN ts TO t2") }
    assert(msg(e1).contains("partition column"), msg(e1))
    val e2 = intercept[Throwable] {
      spark.sql(s"ALTER TABLE $cat.pa DROP COLUMN ts") }
    assert(msg(e2).contains("partition column"), msg(e2))
    // identity layout: the partition column may WIDEN (values live in
    // directory names), never rename
    spark.sql(s"CREATE TABLE $cat.pa2 (id BIGINT, v STRING, src INT) " +
      "PARTITIONED BY (src)")
    spark.sql(s"INSERT INTO $cat.pa2 " +
      "SELECT id, CONCAT('v', id), CAST(id % 2 AS INT) FROM RANGE(10)")
    spark.sql(s"ALTER TABLE $cat.pa2 ALTER COLUMN src TYPE BIGINT")
    assert(spark.table(s"$cat.pa2").schema("src").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.pa2 WHERE src = 1")
      .first().getLong(0) == 5)
    spark.sql(s"DELETE FROM $cat.pa2 WHERE src = 0")
    assert(spark.table(s"$cat.pa2").count() == 5)
    val e3 = intercept[Throwable] {
      spark.sql(s"ALTER TABLE $cat.pa2 RENAME COLUMN src TO origin") }
    assert(msg(e3).contains("partition column"), msg(e3))
  }

  test(".stats_cols follows a RENAME; manifests stay conservative for " +
       "pre-rename leaves and prune again after a republish") {
    import spark.implicits._
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.pm (id BIGINT, ts TIMESTAMP, n BIGINT) " +
      "PARTITIONED BY (days(ts))")
    val epoch0 = java.time.LocalDateTime.of(2024, 11, 1, 0, 0)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    (0L until 40L).map(i => (i,
        new java.sql.Timestamp(epoch0 + (i % 2) * 86400000L + i * 1000L),
        i)).toSeq
      .toDF("id", "ts", "n").createOrReplaceTempView("pm_seed")
    spark.sql(
      s"INSERT INTO $cat.pm SELECT /*+ REPARTITION(1) */ id, ts, n FROM pm_seed")
    val tdir = s"$ws/pm.parquet"
    graft.sources.PartitionManifest.enable(spark, tdir, Seq("n")): Unit
    spark.sql(s"ALTER TABLE $cat.pm RENAME COLUMN n TO num")
    // the opt-in marker followed the rename
    assert(graft.sources.PartitionManifest
      .statsCols(spark, tdir).contains(Seq("num")))
    // pre-rename manifests serve their leaves conservatively (no wrong
    // prune): a filter excluding every row still returns zero correctly
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.pm WHERE num > 1000")
      .first().getLong(0) == 0)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.pm WHERE num = 7")
      .first().getLong(0) == 1)
    // a DML republish re-stamps the touched leaf's manifest under the new
    // name — and old-file stats must resolve by FIELD ID if consulted
    spark.sql(s"UPDATE $cat.pm SET num = num + 1 WHERE " +
      "ts >= TIMESTAMP '2024-11-02 00:00:00' AND num % 2 = 1")
    // day 1 holds the odd ids; each gained +1 → sum = 780 + 20
    assert(spark.sql(s"SELECT SUM(num) FROM $cat.pm").first().getLong(0) == 800L)
  }

  test("hours(ts) and months(ts) hidden transforms: layout, directory " +
       "pruning, partition-grained DML") {
    import spark.implicits._
    val (cat, ws) = freshCatalog()
    // hours
    spark.sql(s"CREATE TABLE $cat.hh (id BIGINT, ts TIMESTAMP, v STRING) " +
      "PARTITIONED BY (hours(ts))")
    val h0 = java.time.LocalDateTime.of(2025, 1, 1, 0, 0)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    (0L until 24L).map(i => (i,
        new java.sql.Timestamp(h0 + (i % 4) * 3600000L + i * 1000L), "x")).toSeq
      .toDF("id", "ts", "v").createOrReplaceTempView("hh_seed")
    spark.sql(s"INSERT INTO $cat.hh SELECT id, ts, v FROM hh_seed")
    val f = fs(ws)
    val epochHour = h0 / 3600000L
    (0 until 4).foreach { h =>
      assert(f.exists(new org.apache.hadoop.fs.Path(
        s"$ws/hh.parquet/ts_hour=${epochHour + h}")), s"missing hour $h")
    }
    // an hour-clamped predicate prunes to ONE directory
    def q1 = spark.sql(s"SELECT id FROM $cat.hh WHERE " +
      "ts >= TIMESTAMP '2025-01-01 02:00:00' AND " +
      "ts < TIMESTAMP '2025-01-01 03:00:00'")
    assert(q1.count() == 6)
    val planned1 = q1.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.flatMap(_.inputPartitions).flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.map(_.filePath.toString)
      case _ => Nil
    }
    assert(planned1.forall(_.contains(s"ts_hour=${epochHour + 2}")),
      s"hour prune failed: $planned1")
    // hour-pinned DELETE is partition-grained (other hours' mtimes keep)
    val before = f.listStatus(new org.apache.hadoop.fs.Path(
      s"$ws/hh.parquet/ts_hour=$epochHour")).map(_.getModificationTime).toSeq
    spark.sql(s"DELETE FROM $cat.hh WHERE " +
      "ts >= TIMESTAMP '2025-01-01 03:00:00' AND " +
      "ts < TIMESTAMP '2025-01-01 04:00:00'")
    assert(!f.exists(new org.apache.hadoop.fs.Path(
      s"$ws/hh.parquet/ts_hour=${epochHour + 3}")))
    assert(f.listStatus(new org.apache.hadoop.fs.Path(
      s"$ws/hh.parquet/ts_hour=$epochHour")).map(_.getModificationTime).toSeq
      == before, "untouched hour rewritten")
    assert(spark.table(s"$cat.hh").count() == 18)
    // months (date source): UTC month boundaries, leap February
    spark.sql(s"CREATE TABLE $cat.mm (id BIGINT, d DATE, v STRING) " +
      "PARTITIONED BY (months(d))")
    Seq((1L, "2024-01-15"), (2L, "2024-01-31"), (3L, "2024-02-29"),
        (4L, "2024-03-01"), (5L, "2024-12-31"))
      .map { case (i, d) => (i, java.sql.Date.valueOf(d), "x") }.toSeq
      .toDF("id", "d", "v").createOrReplaceTempView("mm_seed")
    spark.sql(s"INSERT INTO $cat.mm SELECT id, d, v FROM mm_seed")
    // 2024-01 is month index (2024-1970)*12 = 648
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$ws/mm.parquet/d_month=648")))
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$ws/mm.parquet/d_month=649")))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.mm WHERE " +
      "d >= DATE '2024-02-01' AND d < DATE '2024-03-01'")
      .first().getLong(0) == 1)
    // month-pinned DELETE drops exactly its directory
    spark.sql(s"DELETE FROM $cat.mm WHERE " +
      "d >= DATE '2024-01-01' AND d < DATE '2024-02-01'")
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$ws/mm.parquet/d_month=648")))
    assert(spark.table(s"$cat.mm").count() == 3)
  }

  test("bucket(n, col) hidden transform: layout, bucket-pinned DML grain, " +
       "zero-exchange storage-partitioned join") {
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.bf (id BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql(s"INSERT INTO $cat.bf SELECT id, CONCAT('v', id) FROM RANGE(40)")
    spark.sql(s"CREATE TABLE $cat.bd (id BIGINT, tag STRING) " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql(s"INSERT INTO $cat.bd SELECT id, CONCAT('t', id) FROM RANGE(40)")
    val f = fs(ws)
    (0 until 4).foreach { b =>
      assert(f.exists(new org.apache.hadoop.fs.Path(
        s"$ws/bf.parquet/id_bucket=$b")), s"missing bucket $b")
    }
    assert(spark.table(s"$cat.bf").count() == 40)
    // bucket-pinned DML: an id-equality DELETE claims/rewrites ONE bucket
    val other = (0 until 4).filter(_ != (7 % 4))
    val beforeTimes = other.map(b => f.listStatus(
      new org.apache.hadoop.fs.Path(s"$ws/bf.parquet/id_bucket=$b"))
      .map(_.getModificationTime).toSeq)
    spark.sql(s"DELETE FROM $cat.bf WHERE id = 7")
    assert(spark.table(s"$cat.bf").count() == 39)
    assert(other.map(b => f.listStatus(
      new org.apache.hadoop.fs.Path(s"$ws/bf.parquet/id_bucket=$b"))
      .map(_.getModificationTime).toSeq) == beforeTimes,
      "an id-pinned DELETE rewrote foreign buckets")
    // zero-exchange join of two same-bucketed tables
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "true"); spark.conf.set(keys(1), "-1")
    try {
      val joined = spark.sql(
        s"SELECT f.id, f.v, d.tag FROM $cat.bf f JOIN $cat.bd d ON f.id = d.id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed workspace join shuffled:\n${plan.take(2000)}")
      assert(joined.count() == 39)
      // negative control: joining against a FLAT table shuffles
      spark.sql(s"CREATE TABLE $cat.bn AS SELECT id, CONCAT('n', id) AS nn " +
        s"FROM RANGE(40)")
      val mixed = spark.sql(
        s"SELECT f.id FROM $cat.bf f JOIN $cat.bn n ON f.id = n.id")
      assert(mixed.queryExecution.executedPlan.toString.contains("Exchange"),
        "negative control: flat-side join must shuffle")
      assert(mixed.count() == 39)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // UPDATE binds through the bucket grain too
    spark.sql(s"UPDATE $cat.bf SET v = 'patched' WHERE id = 8")
    assert(spark.table(s"$cat.bf").filter(col("v") === "patched").count() == 1)
  }

  test("CROSS-CATALOG storage-partitioned join: bucketed workspace table " +
       "x bucketed snapshot version, zero exchange") {
    import spark.implicits._
    val (cat, ws) = freshCatalog()
    val snapCat = "pwsnap_" + java.lang.Long.toHexString(
      System.nanoTime() & 0xffffffL)
    val s2 = new graft.Session.Scratch
    spark.conf.set(s"spark.sql.catalog.$snapCat",
      "graft.sources.SnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$snapCat.workspace", s2.dir)
    spark.sql(s"CREATE TABLE $cat.xf (id BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql(s"INSERT INTO $cat.xf SELECT id, CONCAT('v', id) FROM RANGE(40)")
    graft.operators.Sinks.writeSnapshotBucketed(
      (0L until 40L).map(i => (i, s"t$i")).toDF("id", "tag"),
      s"${s2.dir}/xd", "id", 4): Unit
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "true"); spark.conf.set(keys(1), "-1")
    try {
      // both scans report KeyGroupedPartitioning(bucket(4, id)) with the
      // SAME canonical function (graft.bucket.pmod), each served by its
      // own catalog — the planner matches them across catalogs
      val joined = spark.sql(
        s"SELECT f.id, f.v, d.tag FROM $cat.xf f JOIN $snapCat.xd d " +
          "ON f.id = d.id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"cross-catalog bucketed join shuffled:\n${plan.take(1500)}")
      assert(joined.count() == 40)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partition change feed: per-statement grain, minimal COW diff, " +
       "no-op statements feed nothing, OVERWRITE marks a discontinuity, " +
       "maintenance never feeds, DROP cleans up") {
    import spark.implicits._
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.cf (id BIGINT, ts TIMESTAMP, v STRING) " +
      "PARTITIONED BY (days(ts))")
    val epoch0 = java.time.LocalDateTime.of(2024, 12, 1, 0, 0)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    (0L until 20L).map(i => (i,
        new java.sql.Timestamp(epoch0 + (i % 2) * 86400000L + i * 1000L),
        if (i % 4 == 0) "x" else "y")).toSeq
      .toDF("id", "ts", "v").createOrReplaceTempView("cf_seed")
    spark.sql(s"INSERT INTO $cat.cf SELECT id, ts, v FROM cf_seed") // pre-enable
    val tdir = s"$ws/cf.parquet"
    graft.sources.PartitionChangeFeed.enable(spark, tdir)
    val declared = spark.table(s"$cat.cf").schema
    def feed() = graft.sources.PartitionChangeFeed
      .read(spark, tdir, declared)
    assert(feed().count() == 0, "the pre-enable seed load must not feed")
    // INSERT feeds its appended rows
    spark.sql(s"INSERT INTO $cat.cf VALUES (100, TIMESTAMP '2024-12-01 06:00:00', 'n')")
    assert(feed().filter(col("_change_type") === "insert").count() == 1)
    // COW UPDATE feeds the MINIMAL diff: only rows the SET actually
    // changed appear (carried-over rows of the touched day cancel)
    spark.sql(s"UPDATE $cat.cf SET v = 'z' WHERE " +
      "ts >= TIMESTAMP '2024-12-01 00:00:00' AND " +
      "ts < TIMESTAMP '2024-12-02 00:00:00' AND v = 'x'")
    val afterUpd = feed()
    assert(afterUpd.filter(col("_change_type") === "delete")
      .filter(col("v") === "x").count() == 5)   // ids 0,4,8,12,16
    assert(afterUpd.filter(col("_change_type") === "insert")
      .filter(col("v") === "z").count() == 5)
    assert(afterUpd.filter(col("v") === "y").count() == 0,
      "carried-over rows leaked into the feed")
    // a zero-match statement feeds nothing
    val n0 = feed().count()
    spark.sql(s"UPDATE $cat.cf SET v = 'q' WHERE v = 'never'")
    spark.sql(s"DELETE FROM $cat.cf WHERE v = 'never'")
    assert(feed().count() == n0, "no-op statements fed rows")
    // translatable day DELETE feeds its pre-image
    spark.sql(s"DELETE FROM $cat.cf WHERE " +
      "ts >= TIMESTAMP '2024-12-02 00:00:00' AND " +
      "ts < TIMESTAMP '2024-12-03 00:00:00'")
    assert(feed().filter(col("_change_type") === "delete").count() == 5 + 10)
    // compaction is not a logical change: no feed entries
    spark.sql(s"INSERT INTO $cat.cf VALUES (101, TIMESTAMP '2024-12-01 07:00:00', 'frag')")
    val n1 = feed().count()
    graft.sources.PartitionCompaction.compactPartitions(spark, ws, "cf"): Unit
    assert(feed().count() == n1, "compaction fed rows")
    // INSERT OVERWRITE records a discontinuity, never a table-sized feed
    assert(graft.sources.PartitionChangeFeed.discontinuities(spark, tdir).isEmpty)
    spark.sql(s"INSERT OVERWRITE $cat.cf SELECT id, ts, v FROM cf_seed")
    assert(feed().count() == n1, "a rewrite fed rows")
    assert(graft.sources.PartitionChangeFeed
      .discontinuities(spark, tdir).size == 1)
    // DROP removes the feed with its table
    spark.sql(s"DROP TABLE $cat.cf")
    val f = fs(ws)
    assert(!f.exists(graft.sources.PartitionChangeFeed.feedRoot(tdir)),
      "feed outlived its table")
  }

  test("change feed INSERT executes the source query exactly once: a " +
       "non-deterministic insert feeds exactly what landed") {
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.nd (id BIGINT, ts TIMESTAMP, r BIGINT) " +
      "PARTITIONED BY (days(ts))")
    val tdir = s"$ws/nd.parquet"
    graft.sources.PartitionChangeFeed.enable(spark, tdir)
    // rand() would differ between two executions with near-certainty
    spark.sql(s"INSERT INTO $cat.nd SELECT id, " +
      "TIMESTAMP '2024-01-01 00:00:00' + MAKE_INTERVAL(0,0,0,0,0,0,id), " +
      "CAST(rand() * 1000000000 AS BIGINT) FROM RANGE(50)")
    val landed = spark.table(s"$cat.nd").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val fed = graft.sources.PartitionChangeFeed
      .read(spark, tdir, spark.table(s"$cat.nd").schema)
      .filter(col("_change_type") === "insert").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(landed.length == 50)
    assert(fed == landed, "feed rows diverged from the landed append")
  }

  test("translatable DELETE stages ALL survivor leaves in ONE job " +
       "(never one job per touched leaf), one sized file per leaf") {
    import spark.implicits._
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.oj (id BIGINT, ts TIMESTAMP, v STRING) " +
      "PARTITIONED BY (days(ts))")
    val epoch0 = java.time.LocalDateTime.of(2024, 8, 1, 0, 0)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    // 8 days, both parities in every day — a `v = 'even'` DELETE pins no
    // leaf (whole-table grain) and touches all 8
    (0L until 64L).map(i => (i,
        new java.sql.Timestamp(epoch0 + (i % 8) * 86400000L + i * 1000L),
        if ((i / 8) % 2 == 0) "even" else "odd")).toSeq
      .toDF("id", "ts", "v").createOrReplaceTempView("oj_seed")
    spark.sql(s"INSERT INTO $cat.oj SELECT id, ts, v FROM oj_seed")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sql(s"DELETE FROM $cat.oj WHERE v = 'even'")
      Thread.sleep(500) // let the async listener bus drain
    } finally spark.sparkContext.removeSparkListener(listener)
    // pre-r17 shape: 1 discovery + 8 × (isEmpty + write) = 17+ jobs. The
    // one-job staging needs only discovery + broadcast-build + the
    // clustered write (+ nothing per leaf) — leaf-count-independent.
    assert(jobs.get() <= 6, s"DELETE ran ${jobs.get()} jobs — per-leaf staging?")
    assert(spark.table(s"$cat.oj").count() == 32)
    assert(spark.table(s"$cat.oj").filter(col("v") === "even").count() == 0)
    // each surviving leaf was re-clustered into ONE file
    val f = fs(ws)
    (0 until 8).foreach { d =>
      val day = java.time.LocalDate.of(2024, 8, 1).toEpochDay + d
      val leaf = new org.apache.hadoop.fs.Path(s"$ws/oj.parquet/ts_day=$day")
      val files = f.listStatus(leaf).count(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
      assert(files == 1, s"leaf ts_day=$day has $files files")
    }
    // a leaf whose rows ALL match is deleted outright by the same job
    spark.sql(s"DELETE FROM $cat.oj WHERE id % 8 = 1") // all of day 1 left
    assert(!f.exists(new org.apache.hadoop.fs.Path(
      s"$ws/oj.parquet/ts_day=${java.time.LocalDate.of(2024, 8, 1).toEpochDay + 1}")))
  }

  test("whole-table maintenance WAITS for live claims to drain (bounded) " +
       "instead of refusing outright") {
    val (cat, ws) = freshCatalog()
    seed(cat) // 3 identity leaves
    // fragment one leaf so compaction has work
    spark.sql(s"INSERT INTO $cat.pt SELECT id + 100, CONCAT('w', id), 's1' " +
      "FROM RANGE(5)")
    val tdir = s"$ws/pt.parquet"
    val f = fs(ws)
    val claim = graft.sources.WorkspaceDmlLock.claimPathOf(tdir, "src=s0")
    f.mkdirs(claim.getParent): Unit
    val o = f.create(claim, false)
    try o.write("foreign".getBytes("UTF-8")) finally o.close()
    // the claim releases ~700 ms in — well inside the 15 s default budget
    val t = new Thread(() => {
      Thread.sleep(700); f.delete(claim, false): Unit
    })
    t.start()
    val res = graft.sources.PartitionCompaction
      .compactPartitions(spark, ws, "pt")
    t.join()
    assert(res.exists(_._1 == "src=s1"),
      s"compaction must land once the claim drains, got $res")
    assert(spark.table(s"$cat.pt").count() == 35)
  }

  test("whole-table COW statement (group filter disabled) refuses under a " +
       "live foreign claim — never silently overwrites its partitions") {
    val (cat, ws) = freshCatalog()
    seed(cat)
    val tdir = s"$ws/pt.parquet"
    val f = fs(ws)
    val claim = graft.sources.WorkspaceDmlLock.claimPathOf(tdir, "src=s2")
    f.mkdirs(claim.getParent): Unit
    val o = f.create(claim, false)
    try o.write("foreign".getBytes("UTF-8")) finally o.close()
    val before = spark.table(s"$cat.pt").orderBy("id")
      .collect().map(_.toString).toSeq
    // group filter OFF ⇒ readRels never engages ⇒ whole-table mode, whose
    // publish would retire EVERY leaf — including the claim holder's
    spark.conf.set(
      "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled",
      "false")
    val e =
      try intercept[Throwable] {
        spark.sql(s"UPDATE $cat.pt SET v = 'clobber' WHERE src = 's0'")
      } finally spark.conf.unset(
        "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled")
    def msgs(t: Throwable): Seq[String] = {
      var cur: Throwable = t
      val out = scala.collection.mutable.Buffer.empty[String]
      while (cur != null) { out += String.valueOf(cur.getMessage); cur = cur.getCause }
      out.toSeq
    }
    assert(msgs(e).exists(_.contains("partition claims")),
      msgs(e).mkString(" | "))
    // the factory-creation throw released the table lock (no abort() runs
    // there) and nothing changed
    assert(!f.exists(graft.sources.WorkspaceDmlLock.lockPath(tdir)),
      "table lock leaked by the refused whole-table statement")
    assert(spark.table(s"$cat.pt").orderBy("id")
      .collect().map(_.toString).toSeq == before)
    f.delete(claim, false): Unit
    // with the claim gone the same statement lands
    spark.conf.set(
      "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled",
      "false")
    try spark.sql(s"UPDATE $cat.pt SET v = 'clobber' WHERE src = 's0'")
    finally spark.conf.unset(
      "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled")
    assert(spark.table(s"$cat.pt").filter(col("v") === "clobber").count() == 10)
  }

  test("a claim broken and RETAKEN mid-copy aborts the publish (token " +
       "verify) — the retaken holder's claim is never heartbeated over") {
    import spark.implicits._
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.tk (id BIGINT, ts TIMESTAMP, v STRING) " +
      "PARTITIONED BY (days(ts))")
    val epoch0 = java.time.LocalDateTime.of(2024, 9, 1, 0, 0)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    (0L until 10L).map(i => (i,
        new java.sql.Timestamp(epoch0 + i * 1000L), "x")).toSeq
      .toDF("id", "ts", "v").createOrReplaceTempView("tk_seed")
    spark.sql(
      s"INSERT INTO $cat.tk SELECT /*+ REPARTITION(1) */ id, ts, v FROM tk_seed")
    val tdir = s"$ws/tk.parquet"
    val f = fs(ws)
    val day = java.time.LocalDate.of(2024, 9, 1).toEpochDay
    val claim = graft.sources.WorkspaceDmlLock.claimPathOf(tdir, s"ts_day=$day")
    PartitionClaimGate.latch = new java.util.concurrent.CountDownLatch(1)
    spark.udf.register("claim_gate",
      (v: String) => { PartitionClaimGate.latch.await(); v })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val a = scala.concurrent.Future {
      spark.sql(s"UPDATE $cat.tk SET v = claim_gate('a') WHERE " +
        s"ts >= TIMESTAMP '2024-09-01 00:00:00' AND " +
        s"ts < TIMESTAMP '2024-09-02 00:00:00'")
    }
    // wait until A holds its claim (parked in copy), then simulate a
    // grace-break + retake: same path, DIFFERENT token. Poll for CONTENT,
    // not existence — the local checksum FS makes the path visible inside
    // create(), and swapping mid-create races A's own claim write
    def claimToken: String =
      if (!f.exists(claim)) ""
      else try {
        val in = f.open(claim)
        try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim
        finally in.close()
      } catch { case scala.util.control.NonFatal(_) => "" }
    val deadline = System.currentTimeMillis() + 60000
    while (claimToken.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(25)
    assert(claimToken.nonEmpty, "statement A never claimed its day")
    f.delete(claim, false): Unit
    val o = f.create(claim, false)
    try o.write("retaker-token".getBytes("UTF-8")) finally o.close()
    PartitionClaimGate.latch.countDown()
    val e = intercept[Throwable] {
      scala.concurrent.Await.result(a,
        scala.concurrent.duration.Duration(120, "s"))
    }
    pool.shutdown()
    def msgs(t: Throwable): Seq[String] = {
      var cur: Throwable = t
      val out = scala.collection.mutable.Buffer.empty[String]
      while (cur != null) { out += String.valueOf(cur.getMessage); cur = cur.getCause }
      out.toSeq
    }
    assert(msgs(e).exists(m => m.contains("retaken")),
      msgs(e).mkString(" | "))
    // A published NOTHING; the retaker's claim file is untouched (never
    // heartbeated, never released by A's token-checked cleanup)
    assert(spark.table(s"$cat.tk").filter(col("v") === "a").count() == 0)
    assert(f.exists(claim), "the retaken holder's claim must survive")
    // and A's abort dropped its staging
    val parent = new org.apache.hadoop.fs.Path(tdir).getParent
    val leftover = f.listStatus(parent).map(_.getPath.getName)
      .filter(_.contains("__cow_"))
    assert(leftover.isEmpty, s"staging leaked: ${leftover.mkString(",")}")
    f.delete(claim, false): Unit
  }
}

/** JVM-singleton latch for the claims spec's gated UDF (a closure-captured
  * latch would have to serialize; the object is re-resolved statically on
  * the executor side — same instance in local mode). */
object PartitionClaimGate {
  @volatile var latch: java.util.concurrent.CountDownLatch = _
}
