package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Sinks
import graft.sources.PartitionedSnapshot

/** r18: the claim-CAS protocol lifted onto partitioned snapshots
  * (VERDICT r17 next #1), the SQL-native lifecycle (#2-#4), and the
  * ADVICE r17 publish-ordering fixes. */
class PartitionedSnapshotCasSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshCatalog(): (String, String) = {
    val s = new graft.Session.Scratch
    val cat = "pscas_" + java.lang.Long.toHexString(
      System.nanoTime() & 0xffffffL)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.workspace", s.dir)
    (cat, s.dir)
  }

  private val t0 = java.time.LocalDateTime.of(2024, 7, 1, 0, 0)
    .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
  private val day0 = java.time.LocalDate.of(2024, 7, 1).toEpochDay

  private def seed(dir: String, days: Int = 4, perDay: Int = 10): Unit = {
    import spark.implicits._
    val df = (0L until (days * perDay).toLong).map(i => (i,
        new java.sql.Timestamp(t0 + (i % days) * 86400000L + i * 1000L),
        s"v$i")).toDF("id", "ts", "v")
    assert(PartitionedSnapshot.writePartitioned(df, dir, "days:ts") == 1)
  }

  private def row(id: Long, dayOffset: Int, v: String) = {
    import spark.implicits._
    Seq((id, new java.sql.Timestamp(t0 + dayOffset * 86400000L), v))
      .toDF("id", "ts", "v")
  }

  test("concurrent appendRows land as DISTINCT consecutive versions " +
       "(claim-fenced, loser re-stages)") {
    val (_, ws) = freshCatalog()
    val dir = s"$ws/race1"
    seed(dir)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val fs = (0 until 2).map { k =>
      scala.concurrent.Future {
        start.await()
        PartitionedSnapshot.appendRows(spark, dir,
          row(1000L + k, 10 + k, s"racer$k"))
      }
    }
    start.countDown()
    val versions = fs.map(f =>
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(
        "120s")))
    pool.shutdown()
    // both publishes landed, on distinct consecutive versions
    assert(versions.toSet == Set(2, 3), versions.toString)
    assert(Sinks.snapshotCommitted(spark, dir).contains(3))
    val head = PartitionedSnapshot.read(spark, dir)
    assert(head.count() == 42)
    assert(head.filter(col("v").startsWith("racer")).count() == 2)
    // no claim debris for committed versions is required; importantly no
    // staging debris survives the race
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!f.listStatus(new org.apache.hadoop.fs.Path(dir)).exists(
      _.getPath.getName.startsWith(".psnap_staging_")), "staging debris")
    // history classifies both as appends with their true bases
    val metas = Seq(2, 3).flatMap(v =>
      PartitionedSnapshot.versionMeta(spark, dir, v))
    assert(metas.map(_._1).toSet == Set("append"), metas.toString)
    assert(metas.map(_._2) == Seq(Some(1), Some(2)), metas.toString)
  }

  test("drop-vs-append interleave serializes: final state equals a serial " +
       "order, versions stay contiguous") {
    val (_, ws) = freshCatalog()
    val dir = s"$ws/race2"
    seed(dir)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val fDrop = scala.concurrent.Future {
      start.await()
      PartitionedSnapshot.dropPartitions(spark, dir, Seq(day0.toString))
    }
    val fApp = scala.concurrent.Future {
      start.await()
      PartitionedSnapshot.appendRows(spark, dir, row(2000L, 20, "late"))
    }
    start.countDown()
    val d = java.time.Duration.ofSeconds(120)
    val vDrop = scala.concurrent.Await.result(fDrop,
      scala.concurrent.duration.Duration("120s"))
    val vApp = scala.concurrent.Await.result(fApp,
      scala.concurrent.duration.Duration("120s"))
    pool.shutdown(); val _ = d
    assert(Set(vDrop, vApp) == Set(2, 3), s"$vDrop / $vApp")
    assert(Sinks.snapshotCommitted(spark, dir).contains(3))
    // both serial orders agree on the final content: day0 gone, 'late' in
    val head = PartitionedSnapshot.read(spark, dir)
    assert(head.count() == 31, head.count().toString)
    assert(head.filter(col("v") === "late").count() == 1)
    assert(head.filter(col("ts") < lit("2024-07-02 00:00:00")
      .cast("timestamp")).count() == 0)
    // pinned history: v=1 still serves everything
    assert(PartitionedSnapshot.read(spark, dir, Some(1)).count() == 40)
  }

  test("writePartitioned refuses converting a dir with FLAT snapshot " +
       "versions; crash-before-publish leaves no routing markers") {
    import spark.implicits._
    val (_, ws) = freshCatalog()
    val dir = s"$ws/conv"
    Sinks.writeSnapshot((1 to 5).map(i => (i.toLong, s"d$i"))
      .toDF("id", "txt"), dir): Unit
    val e = intercept[IllegalArgumentException] {
      PartitionedSnapshot.writePartitioned(
        row(1L, 0, "x"), dir, "days:ts")
    }
    assert(e.getMessage.contains("FLAT snapshot versions"), e.getMessage)
    // the refusal happened BEFORE any write: no _partspec marker landed,
    // and the committed flat version still serves
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!f.exists(new org.apache.hadoop.fs.Path(dir, "_partspec")))
    assert(Sinks.readSnapshot(spark, dir).count() == 5)
  }

  test("drop's carry manifest is staged: it rides the version rename, " +
       "never an in-place create") {
    val (_, ws) = freshCatalog()
    val dir = s"$ws/stagedcarry"
    seed(dir)
    PartitionedSnapshot.dropPartitions(spark, dir, Seq(day0.toString)): Unit
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the committed v=2 holds _carry + _op + _pinschema.json and no data
    val v2 = f.listStatus(new org.apache.hadoop.fs.Path(s"$dir/v=2"))
      .map(_.getPath.getName).toSet
    assert(v2.contains("_carry") && v2.contains("_op") &&
      v2.contains("_pinschema.json"), v2.toString)
    assert(!f.listStatus(new org.apache.hadoop.fs.Path(dir)).exists(
      _.getPath.getName.startsWith(".psnap_staging_")), "staging debris")
  }

  test("vacuumOrphans ages out crashed psnap staging debris; young " +
       "staging survives") {
    val (_, ws) = freshCatalog()
    val dir = s"$ws/vac"
    seed(dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val old = new org.apache.hadoop.fs.Path(dir, ".psnap_staging_deadbeef")
    val young = new org.apache.hadoop.fs.Path(dir, ".psnap_staging_f0e1d2c3")
    f.mkdirs(old); f.mkdirs(young)
    f.setTimes(old, 1000L, -1)
    Sinks.vacuumOrphans(spark, dir, graceMs = 3600000L): Unit
    assert(!f.exists(old), "aged staging debris survived vacuum")
    assert(f.exists(young), "young (possibly live) staging was deleted")
    f.delete(young, true): Unit
  }

  test("SQL lifecycle: CREATE TABLE PARTITIONED BY days(ts) + INSERT INTO " +
       "+ snapshot_history with carry-aware footprints") {
    val (cat, ws) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.lh (id BIGINT, ts TIMESTAMP, v STRING) " +
      "PARTITIONED BY (days(ts))")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.lh").first().getLong(0) == 0)
    spark.sql(s"INSERT INTO $cat.lh VALUES " +
      "(1, TIMESTAMP '2024-07-01 01:00:00', 'a'), " +
      "(2, TIMESTAMP '2024-07-02 01:00:00', 'b')")
    spark.sql(s"INSERT INTO $cat.lh VALUES " +
      "(3, TIMESTAMP '2024-07-02 02:00:00', 'c')")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.lh").first().getLong(0) == 3)
    val dir = s"$ws/lh"
    // day drop through the API; history reads it all back through SQL
    PartitionedSnapshot.dropPartitions(spark, dir, Seq(
      PartitionedSnapshot.partitionValueOf(
        spark, dir, java.sql.Date.valueOf("2024-07-01")))): Unit
    val hist = spark.sql(s"SELECT * FROM snapshot_history('$cat.lh')")
      .orderBy("version")
      .select("version", "kind", "operation", "base_version", "files")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) -1 else r.getInt(3), r.getInt(4))).toSeq
    assert(hist.map(_._2).forall(_ == "partitioned"), hist.toString)
    assert(hist.map(h => (h._1, h._3, h._4)) ==
      Seq((1, "create", -1), (2, "append", 1), (3, "append", 2),
        (4, "drop_partitions", 3)), hist.toString)
    // footprint: the creating version owns no files (empty), appends own
    // their touched days' files, the zero-copy drop owns none
    assert(hist.head._5 == 0 && hist.last._5 == 0, hist.toString)
    assert(hist(1)._5 > 0 && hist(2)._5 > 0, hist.toString)
    // INSERT INTO keeps serving after the drop
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.lh").first().getLong(0) == 2)
  }

  test("table_changes routes to the metadata-driven diff on partitioned " +
       "handles and hash-equals the API result") {
    val (cat, ws) = freshCatalog()
    val dir = s"$ws/tc"
    seed(dir)
    PartitionedSnapshot.dropPartitions(spark, dir, Seq(day0.toString)): Unit
    PartitionedSnapshot.appendRows(spark, dir, row(500L, 2, "new")): Unit
    val viaTvf = spark.sql(s"SELECT * FROM table_changes('$cat.tc', 2, 3)")
      .orderBy("_version", "_change_type", "id")
      .collect().map(_.toSeq).toSeq
    val viaApi = PartitionedSnapshot.changesBetween(spark, dir, 1, 3)
      .orderBy("_version", "_change_type", "id")
      .collect().map(_.toSeq).toSeq
    assert(viaTvf == viaApi)
    assert(viaTvf.nonEmpty)
    // v=1 has no change grain: guided error
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM table_changes('$cat.tc', 1, 3)")
    }
    assert(e.getMessage.contains("no change grain"), e.getMessage)
  }

  test("snapshot_compact on a partitioned handle materializes a fully-" +
       "owned fenced version; the flat compaction APIs refuse") {
    val (cat, ws) = freshCatalog()
    val dir = s"$ws/cpt"
    seed(dir)
    PartitionedSnapshot.dropPartitions(spark, dir, Seq(day0.toString)): Unit
    PartitionedSnapshot.appendRows(spark, dir, row(600L, 1, "x")): Unit
    val before = PartitionedSnapshot.read(spark, dir)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val v = spark.sql(s"SELECT * FROM snapshot_compact('$cat.cpt')")
      .first().getInt(0)
    assert(v == 4)
    // fully owned: zero carries, every partition under v=4
    val parts = PartitionedSnapshot.resolvedPartitions(spark, dir, 4)
    assert(parts.nonEmpty && parts.forall(_._2.startsWith("v=4/")),
      parts.toString)
    assert(PartitionedSnapshot.read(spark, dir)
      .orderBy("id").collect().map(_.toSeq).toSeq == before)
    assert(PartitionedSnapshot.versionMeta(spark, dir, 4)
      .contains(("compact", Some(3))))
    val e = intercept[IllegalArgumentException] {
      Sinks.compactSnapshot(spark, dir, 1000000L)
    }
    assert(e.getMessage.contains("PARTITIONED"), e.getMessage)
  }

  test("bucket-partitioned snapshots serve KEY-GROUPED scans: the " +
       "zero-exchange join survives appendRows (buckets spanning two " +
       "version folders) and a zero-copy bucket drop") {
    import spark.implicits._
    val (cat, ws) = freshCatalog()
    val w = (0L until 200L).map(i => (i, i % 37, s"t$i"))
      .toDF("event_id", "user_id", "v")
    val prof = w.select(col("user_id")).distinct()
      .select(col("user_id"), concat(lit("u"), col("user_id")).as("uname"))
    PartitionedSnapshot.writePartitioned(
      w, s"$ws/bf", "bucket:4:user_id"): Unit
    PartitionedSnapshot.writePartitioned(
      prof, s"$ws/bd", "bucket:4:user_id"): Unit
    PartitionedSnapshot.appendRows(spark, s"$ws/bf",
      Seq((1000L, 3L, "late")).toDF("event_id", "user_id", "v")): Unit
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k,
      if (k.endsWith("Threshold")) "-1" else "true"))
    try {
      def j = spark.sql(s"SELECT f.event_id, p.uname FROM $cat.bf f " +
        s"JOIN $cat.bd p ON f.user_id = p.user_id")
      assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
        j.queryExecution.executedPlan.toString.take(1500))
      assert(j.count() == 201)
      // zero-copy bucket drop: the carry-only version still joins
      // exchange-free (pushPartValues covers the now-missing bucket)
      PartitionedSnapshot.dropPartitions(spark, s"$ws/bf", Seq("1")): Unit
      def j2 = spark.sql(s"SELECT f.event_id, p.uname FROM $cat.bf f " +
        s"JOIN $cat.bd p ON f.user_id = p.user_id")
      assert(!j2.queryExecution.executedPlan.toString.contains("Exchange"),
        j2.queryExecution.executedPlan.toString.take(1500))
      val expected = w.filter(col("user_id") % 4 =!= 1).count() + 1
      assert(j2.count() == expected)
      // delta-append CHAIN depth (r19): two more appends leave bucket 3
      // spanning FOUR version folders — the key-grouped scan reports one
      // key across all its splits and the join still plans no exchange
      PartitionedSnapshot.appendRows(spark, s"$ws/bf",
        Seq((1001L, 7L, "l2")).toDF("event_id", "user_id", "v")): Unit
      PartitionedSnapshot.appendRows(spark, s"$ws/bf",
        Seq((1002L, 7L, "l3")).toDF("event_id", "user_id", "v")): Unit
      assert(PartitionedSnapshot
        .resolvedDirLists(spark, s"$ws/bf", 5).toMap.apply("3").length >= 3)
      def j3 = spark.sql(s"SELECT f.event_id, p.uname FROM $cat.bf f " +
        s"JOIN $cat.bd p ON f.user_id = p.user_id")
      assert(!j3.queryExecution.executedPlan.toString.contains("Exchange"),
        j3.queryExecution.executedPlan.toString.take(1500))
      assert(j3.count() == expected + 2)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("metadata-only ALTER matrix on partitioned snapshots: rename " +
       "resolves old files by field id, widen serves old ints as longs, " +
       "drop + re-ADD never resurrects, pinned history keeps its shape") {
    import spark.implicits._
    val (cat, ws) = freshCatalog()
    val dir = s"$ws/alt"
    val df = (0L until 20L).map(i => (i,
        new java.sql.Timestamp(t0 + (i % 2) * 86400000L + i * 1000L),
        i.toInt, s"d$i")).toDF("id", "ts", "n", "txt")
    PartitionedSnapshot.writePartitioned(df, dir, "days:ts"): Unit
    def v1Files: Map[String, Long] = {
      val f = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long)] =
        f.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else Seq(st.getPath.toString -> st.getModificationTime)
        }
      walk(new org.apache.hadoop.fs.Path(s"$dir/v=1")).toMap
    }
    val before = v1Files
    // RENAME: old files resolve by id — values preserved under the new name
    spark.sql(s"ALTER TABLE $cat.alt RENAME COLUMN txt TO body")
    assert(spark.sql(s"SELECT body FROM $cat.alt WHERE id = 3")
      .first().getString(0) == "d3")
    // WIDEN int -> bigint: old int files serve as longs
    spark.sql(s"ALTER TABLE $cat.alt ALTER COLUMN n TYPE BIGINT")
    assert(spark.sql(s"SELECT SUM(n) FROM $cat.alt").first().getLong(0) == 190)
    // DROP + re-ADD same name: fresh id, old bytes null-fill
    spark.sql(s"ALTER TABLE $cat.alt DROP COLUMN body")
    assert(!spark.table(s"$cat.alt").columns.contains("body"))
    spark.sql(s"ALTER TABLE $cat.alt ADD COLUMN body STRING")
    assert(spark.sql(s"SELECT body FROM $cat.alt").collect()
      .forall(_.isNullAt(0)), "dropped bytes resurrected under re-ADD")
    // appends after the matrix write the evolved shape; old rows null-fill
    spark.sql(s"INSERT INTO $cat.alt VALUES " +
      "(900, TIMESTAMP '2024-07-01 05:00:00', 7, 'fresh')")
    assert(spark.sql(s"SELECT body FROM $cat.alt WHERE id = 900")
      .first().getString(0) == "fresh")
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.alt WHERE body IS NULL")
      .first().getLong(0) == 20)
    // pinned v=1 keeps its ORIGINAL shape and content
    val v1 = spark.sql(s"SELECT * FROM $cat.alt VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("id", "ts", "n", "txt"), v1.columns.toSeq)
    assert(v1.filter(col("txt") === "d3").count() == 1)
    // every ALTER was metadata-only: v=1 bytes untouched
    assert(v1Files == before, "ALTER touched version bytes")
    // partition source guardrails
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.alt RENAME COLUMN ts TO t2") }
    assert(e1.getMessage.contains("partition source"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.alt DROP COLUMN ts") }
    assert(e2.getMessage.contains("partition source"), e2.getMessage)
    // the compaction physically sheds the tombstoned column and keeps
    // the served content
    val headBefore = spark.sql(s"SELECT id, n, body FROM $cat.alt")
      .orderBy("id").collect().map(_.toSeq).toSeq
    PartitionedSnapshot.compactTable(spark, dir): Unit
    assert(spark.sql(s"SELECT id, n, body FROM $cat.alt")
      .orderBy("id").collect().map(_.toSeq).toSeq == headBefore)
  }

  test("a partitioned rewrite whose commit fails leaves the committed " +
       "shape as it was; its ids are never reused") {
    import spark.implicits._
    import graft.sources.ColumnIds
    val (cat, ws) = freshCatalog()
    val dir = s"$ws/failshape"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val ts = new java.sql.Timestamp(t0)
    PartitionedSnapshot.writePartitioned(Seq((1L, ts, "a", 10))
      .toDF("id", "ts", "v", "extra"), dir, "days:ts"): Unit
    // a FILE where the commit records go: the next commit fails after its
    // version folder has landed
    val commits = new org.apache.hadoop.fs.Path(s"$dir/_commits")
    fs.delete(commits, true): Unit
    fs.create(commits, false).close()
    // a rewrite that omits `extra` (would retire it), retypes `v` and adds
    // `more` (allocates an id)
    intercept[Exception] {
      PartitionedSnapshot.writePartitioned(Seq((2L, ts, 7, "m"))
        .toDF("id", "ts", "v", "more"), dir, "days:ts")
    }
    assert(Sinks.snapshotCommitted(spark, dir).contains(1))
    val head = PartitionedSnapshot.read(spark, dir)
    assert(head.columns.toSeq == Seq("id", "ts", "v", "extra"),
      head.columns.toSeq)
    assert(head.collect().map(r => (r.getLong(0), r.getString(2), r.getInt(3)))
      .toSeq == Seq((1L, "a", 10)))
    fs.delete(commits, true): Unit
    // the column the failed rewrite would have retired still renames
    spark.sql(s"ALTER TABLE $cat.failshape RENAME COLUMN extra TO kept")
    assert(PartitionedSnapshot.read(spark, dir).columns.toSeq ==
      Seq("id", "ts", "v", "kept"))
    // id 5 went to the failed rewrite's `more`: the next new column gets 6
    PartitionedSnapshot.writePartitioned(Seq((3L, ts, "c", 30, "o"))
      .toDF("id", "ts", "v", "kept", "other"), dir, "days:ts"): Unit
    val ids = Sinks.declaredSnapshotSchema(spark, dir).get.fields
      .map(f => f.name -> ColumnIds.idOf(f)).toMap
    assert(ids == Map("id" -> 1L, "ts" -> 2L, "v" -> 3L, "kept" -> 4L,
      "other" -> 6L), ids)
  }

  test("a wedged foreign claim defers partitioned derived publishes: " +
       "no pointer move, no staging debris, no claim of their own left") {
    val (_, ws) = freshCatalog()
    val dir = s"$ws/wedged"
    seed(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // another writer holds v=2: claimed, never committed
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_claims/v=2"), false)
      .close()
    Seq[(String, () => Int)](
      "compactTable" -> (() => PartitionedSnapshot.compactTable(spark, dir)),
      "dropPartitions" -> (() =>
        PartitionedSnapshot.dropPartitions(spark, dir, Seq(day0.toString)))
    ).foreach { case (name, publish) =>
      intercept[java.util.ConcurrentModificationException](publish())
      assert(Sinks.snapshotCommitted(spark, dir).contains(1), name)
      assert(!fs.listStatus(new org.apache.hadoop.fs.Path(dir)).exists(
        _.getPath.getName.startsWith(".psnap_staging_")), s"$name: staging debris")
      val claims = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_claims"))
        .map(_.getPath.getName).filter(_.startsWith("v=")).toSet
      assert(claims == Set("v=1", "v=2"), s"$name: $claims")
    }
    assert(PartitionedSnapshot.read(spark, dir).count() == 40)
  }

  /** RENAME body TO text, then ADD COLUMN body (`bodyType`), on a table
    * partitioned by `spec` whose manifests cover `body` from before the
    * ALTER; an INSERT after the ALTER makes the head span two shapes and a
    * row DELETE rewrites one partition across both. The head (with and
    * without filters), the pre-ALTER version, the API read and SQL
    * `table_changes` must all serve the renamed bytes under `text` and
    * NULL for the old rows' `body`. */
  private def renameReAdd(spec: String, bodyType: String,
                          lit100: String, lit101: String,
                          body100: Any, body101: Any)(
      more: (String, String) => Unit = (_, _) => ()): Unit = {
    import spark.implicits._
    val (cat, ws) = freshCatalog()
    val dir = s"$ws/rr"
    val df = (0L until 12L).map(i => (i, i % 5,
        new java.sql.Timestamp(t0 + (i % 2) * 86400000L + i * 1000L), s"d$i"))
      .toDF("id", "user_id", "ts", "body")
    PartitionedSnapshot.writePartitioned(df, dir, spec): Unit
    PartitionedSnapshot.enableManifests(spark, dir, Seq("body")): Unit
    spark.sql(s"ALTER TABLE $cat.rr RENAME COLUMN body TO text")
    spark.sql(s"ALTER TABLE $cat.rr ADD COLUMN body $bodyType")
    spark.sql(s"INSERT INTO $cat.rr VALUES " +
      s"(100, 0, TIMESTAMP '2024-07-01 05:00:00', 'n100', $lit100), " +
      s"(101, 3, TIMESTAMP '2024-07-03 05:00:00', 'n101', $lit101)")
    spark.sql(s"DELETE FROM $cat.rr WHERE id = 0")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "text", "body").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.get(2))).toSeq
    val head = (1L until 12L).map(i => (i, s"d$i", null: Any)) ++
      Seq((100L, "n100", body100), (101L, "n101", body101))
    assert(rows(spark.table(s"$cat.rr")) == head)
    assert(rows(PartitionedSnapshot.read(spark, dir)) == head)
    // `body` alone, and filters through the manifests and the scan
    def bodies(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "body").orderBy("id").collect()
        .map(r => (r.getLong(0), r.get(1))).toSeq
    assert(bodies(spark.sql(s"SELECT id, body FROM $cat.rr")) == head.map(h => (h._1, h._3)))
    assert(bodies(PartitionedSnapshot.read(spark, dir)) == head.map(h => (h._1, h._3)))
    assert(spark.sql(s"SELECT id FROM $cat.rr WHERE body IS NULL").count() == 11)
    assert(PartitionedSnapshot.read(spark, dir).where("body IS NULL").count() == 11)
    assert(spark.sql(s"SELECT id FROM $cat.rr WHERE text = 'd5'").count() == 1)
    val v1 = spark.sql(s"SELECT * FROM $cat.rr VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("id", "user_id", "ts", "body"))
    assert(v1.select("id", "body").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      (0L until 12L).map(i => (i, s"d$i")))
    def changes(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "text", "body", "_change_type", "_version")
        .orderBy("_version", "id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.get(2), r.getString(3),
          r.getInt(4))).toSeq
    val viaSql = changes(spark.sql(s"SELECT * FROM table_changes('$cat.rr', 2, 3)"))
    assert(viaSql == Seq((100L, "n100", body100, "insert", 2),
      (101L, "n101", body101, "insert", 2), (0L, "d0", null, "delete", 3)))
    assert(viaSql == changes(PartitionedSnapshot.changesBetween(spark, dir, 1, 3)))
    more(cat, dir)
  }

  test("RENAME then re-ADD of the old name under another type on a days " +
       "table: head, pinned, API and table_changes resolve by field id") {
    renameReAdd("days:ts", "INT", "7", "8", 7, 8)()
  }

  test("RENAME then re-ADD of the old name under the same type on a days " +
       "table: the renamed bytes never serve under the re-added name") {
    renameReAdd("days:ts", "STRING", "'x100'", "'x101'", "x100", "x101")()
  }

  /** The bucket table's self-join spans both shapes and plans no
    * exchange; its rows are the API read's self-join. */
  private def bucketSelfJoin(cat: String, dir: String): Unit = {
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k,
      if (k.endsWith("Threshold")) "-1" else "true"))
    try {
      assert(PartitionedSnapshot.resolvedDirLists(spark, dir, 3)
        .exists(_._2.map(_.takeWhile(_ != '/')).distinct.length > 1))
      def j = spark.sql(s"SELECT a.id, b.id, b.text, b.body FROM $cat.rr a " +
        s"JOIN $cat.rr b ON a.user_id = b.user_id")
      assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
        j.queryExecution.executedPlan.toString.take(1500))
      val api = PartitionedSnapshot.read(spark, dir)
      def sorted(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          Option(r.get(3)).map(_.toString))).toSeq.sorted
      assert(sorted(j) == sorted(api.as("a").join(api.as("b"), "user_id")
        .select("a.id", "b.id", "b.text", "b.body")))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("RENAME then re-ADD of the old name under another type on a bucket " +
       "table: reads resolve by id and the two-shape self-join stays " +
       "exchange-free") {
    renameReAdd("bucket:4:user_id", "INT", "7", "8", 7, 8)(bucketSelfJoin)
  }

  test("RENAME then re-ADD of the old name under the same type on a bucket " +
       "table: reads resolve by id and the two-shape self-join stays " +
       "exchange-free") {
    renameReAdd("bucket:4:user_id", "STRING", "'x100'", "'x101'",
      "x100", "x101")(bucketSelfJoin)
  }

  test("a table in the earlier partitioned format still serves: " +
       "_partschema.json is read as the registry until the next ALTER") {
    import spark.implicits._
    import graft.sources.ColumnIds
    val (cat, ws) = freshCatalog()
    val dir = s"$ws/legacy"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def put(rel: String, txt: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/$rel"), true)
      try out.write(txt.getBytes("UTF-8")) finally out.close()
    }
    val ts = new java.sql.Timestamp(t0)
    PartitionedSnapshot.writePartitioned(Seq((1L, ts, "a", 10))
      .toDF("id", "ts", "v", "extra"), dir, "days:ts"): Unit
    spark.sql(s"ALTER TABLE $cat.legacy DROP COLUMN extra")
    PartitionedSnapshot.appendRows(spark, dir,
      Seq((2L, ts, "b")).toDF("id", "ts", "v")): Unit
    // rewrite the table into the earlier format: each version records its
    // live schema only, the table-level `_partschema.json` holds the
    // evolved schema with its tombstone, and there is no `_schema.json`
    val full = Sinks.declaredSnapshotSchema(spark, dir).get
    assert(full.fieldNames.toSeq == Seq("id", "ts", "v", "__dropped_4"))
    put("v=2/_pinschema.json", ColumnIds.live(full).json)
    put("_partschema.json", full.json)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_schema.json"), false): Unit
    Sinks.invalidateMarkerCache(dir)
    // unpinned: the evolved schema; pinned: each version's own shape
    val head = PartitionedSnapshot.read(spark, dir)
    assert(head.columns.toSeq == Seq("id", "ts", "v"))
    assert(head.count() == 2)
    val v1 = spark.sql(s"SELECT * FROM $cat.legacy VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("id", "ts", "v", "extra"))
    assert(v1.collect().map(_.getInt(3)).toSeq == Seq(10))
    assert(spark.sql(s"SELECT * FROM $cat.legacy VERSION AS OF 2")
      .columns.toSeq == Seq("id", "ts", "v"))
    // a re-ADD of the dropped name allocates above the tombstone and
    // null-fills; the ALTER writes the registry in the current format
    spark.sql(s"ALTER TABLE $cat.legacy ADD COLUMN extra INT")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_schema.json")))
    assert(ColumnIds.idOf(Sinks.declaredSnapshotSchema(spark, dir).get("extra")) == 5L)
    assert(spark.sql(s"SELECT extra FROM $cat.legacy").collect()
      .forall(_.isNullAt(0)), "dropped bytes resurrected")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.legacy").first().getLong(0) == 2)
  }
}
