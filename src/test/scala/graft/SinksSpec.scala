package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{FieldMap, FieldSpec, Joins, Sinks}
import graft.sources.Jdbc

/** SURVEY §2.1 sinks (S4/S7/S9) + U1 expression surface. */
class SinksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("S4 writeTable: write-side coercions + XY→point + overwrite flag (arc_utils.py:815-898)") {
    Session.withScratch { s =>
      val df = Tables.load(spark, sf, "supplier")
        .select(col("s_suppkey"), col("s_acctbal"), (col("s_acctbal") > 0).as("pos"))
      Sinks.writeTable(df, s.dir, "t", xy = Some(("s_acctbal", "s_suppkey", 4326)))
      val back = Sinks.readBack(spark, s.dir, "t")
      // int64 in range → int32; bool → int32; point struct present with srid
      assert(back.schema("s_suppkey").dataType.typeName == "integer")
      assert(back.schema("pos").dataType.typeName == "integer")
      val g = back.select("geom.x", "geom.y", "geom.srid").first()
      assert(g.getInt(2) == 4326)
      // overwrite=false on existing path must fail (C2 TempOverwrite default)
      intercept[Exception] { Sinks.writeTable(df, s.dir, "t", overwrite = false) }
      // overwrite=true succeeds
      Sinks.writeTable(df, s.dir, "t", overwrite = true)
    }
  }

  test("S9 joinMaterialize: KEEP_COMMON row count matches inner join (arc_utils.py:936-947)") {
    Session.withScratch { s =>
      val cust = Tables.load(spark, sf, "customer")
      val attrs = Tables.load(spark, sf, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      val out = Sinks.joinMaterialize(spark, attrs, cust,
        "o_custkey", "c_custkey", keepCommon = true, s.dir, "cm")
      val expected = cust.join(attrs, cust("c_custkey") === attrs("o_custkey")).count()
      assert(out.count() == expected)
      // materialized artifact exists on disk (the reference's CopyFeatures output)
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s.dir, "cm.parquet")))
    }
  }

  test("S7 JDBC connection builder (arc_utils.py:339-373)") {
    assert(Jdbc.sqlServerUrl("srv01", "gisdb") ==
      "jdbc:sqlserver://srv01;databaseName=gisdb;integratedSecurity=true")
    assert(Jdbc.sqlServerUrl("srv01", "gisdb", integratedSecurity = false) ==
      "jdbc:sqlserver://srv01;databaseName=gisdb")
    assert(Jdbc.props().getProperty("graft.version") == "sde.DEFAULT")
    assert(Jdbc.props("sde.EDIT").getProperty("graft.version") == "sde.EDIT")
  }

  test("U1 calculateField: SQL expression string → native column (arc_utils.py:601-606)") {
    val df = FieldMap.calculateField(
      Tables.load(spark, sf, "part"),
      "ap_ratio", "p_size * 4.0 / (2.0 * sqrt(pi() * p_retailprice))")
    val r = df.select("p_size", "p_retailprice", "ap_ratio").first()
    val expect = r.getInt(0) * 4.0 / (2.0 * math.sqrt(math.Pi * r.getDouble(1)))
    assert(math.abs(r.getDouble(2) - expect) < 1e-12)
  }

  test("CSV and JSON round-trip with explicit schema (folder-workspace formats)") {
    Session.withScratch { s =>
      val df = Tables.load(spark, sf, "nation")
      Sinks.writeTable(df, s.dir, "n_csv", format = "csv", coerce = false)
      Sinks.writeTable(df, s.dir, "n_json", format = "json", coerce = false)
      val csv = Sinks.readBack(spark, s.dir, "n_csv", "csv", Some(df.schema))
      val json = Sinks.readBack(spark, s.dir, "n_json", "json", Some(df.schema))
      assert(csv.schema == df.schema)
      assert(csv.orderBy("n_nationkey").collect().toSeq ==
             df.orderBy("n_nationkey").collect().toSeq)
      assert(json.orderBy("n_nationkey").collect().toSeq ==
             df.orderBy("n_nationkey").collect().toSeq)
    }
  }

  test("String(n) varchar lengths are enforced on write (fld_lens, arc_utils.py:414-415,477-519)") {
    import spark.implicits._
    Session.withScratch { s =>
      val df = FieldMap(
        Seq((1L, "short", "x"), (2L, "definitely-longer-than-eight", "y"))
          .toDF("id", "name", "tag"),
        Seq(FieldSpec("id", "id"), FieldSpec("name", "name", varcharLen = Some(8)),
            FieldSpec("tag", "tag")))
      // truncate (arcpy behavior, default): oversize values cut to n
      Sinks.writeTable(df, s.dir, "vl")
      val back = Sinks.readBack(spark, s.dir, "vl")
      assert(back.orderBy("id").collect().map(_.getString(1)).toSeq ==
        Seq("short", "definite"))
      // the length metadata survives the parquet round-trip
      assert(back.schema("name").metadata.getLong(FieldMap.VarcharLenKey) == 8L)
      // untouched column untouched
      assert(back.orderBy("id").collect().map(_.getString(2)).toSeq == Seq("x", "y"))
      // error mode: the write fails on the first oversize value
      val ex = intercept[Exception] {
        Sinks.writeTable(df, s.dir, "vl_err", varcharMode = "error")
      }
      assert(ex.getMessage.contains("String(8)") ||
        Option(ex.getCause).exists(_.getMessage.contains("String(8)")))
      // ignore mode: value written in full, metadata retained
      Sinks.writeTable(df, s.dir, "vl_ig", varcharMode = "ignore")
      assert(Sinks.readBack(spark, s.dir, "vl_ig").orderBy("id").collect()
        .map(_.getString(1)).toSeq == Seq("short", "definitely-longer-than-eight"))
    }
  }

  test("S5 field metadata rides through the parquet sink (arc_utils.py:1104-1112)") {
    Session.withScratch { s =>
      import org.apache.spark.sql.types.MetadataBuilder
      val md = new MetadataBuilder()
        .putString(Sinks.EncodingKey, "WKB").putString(Sinks.SrWktKey, "EPSG:4326").build()
      val df = Tables.load(spark, sf, "nation")
        .select(col("n_nationkey"), col("n_name").as("n_name", md))
      df.write.parquet(s"${s.dir}/md.parquet")
      val back = spark.read.parquet(s"${s.dir}/md.parquet")
      assert(back.schema("n_name").metadata.getString(Sinks.EncodingKey) == "WKB")
      assert(back.schema("n_name").metadata.getString(Sinks.SrWktKey) == "EPSG:4326")
    }
  }

  test("writeCompacted: ceil(n/target) files, each within target, rows intact") {
    val s = new graft.Session.Scratch
    val df = Tables.load(spark, sf, "customer") // 150 rows at sf0.001
    val n = df.count()
    val target = 40L
    val path = s"${s.dir}/compacted"
    val declared = Sinks.writeCompacted(df, path, target)
    assert(declared == ((n + target - 1) / target).toInt)
    val files = new java.io.File(path).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.length == declared, files.map(_.getName).mkString(","))
    // round-robin even spread: no file exceeds the target cap
    files.foreach { f =>
      val rows = spark.read.parquet(f.getAbsolutePath).count()
      assert(rows <= target && rows > 0, s"${f.getName}: $rows")
    }
    assert(spark.read.parquet(path).count() == n)
  }

  test("snapshot sink: atomic publish, pointer-only reads, time travel, crash orphans") {
    val s = new graft.Session.Scratch
    val table = s"${s.dir}/versioned"
    val df1 = Tables.load(spark, sf, "region")           // 5 rows
    val df2 = Tables.load(spark, sf, "nation")           // 25 rows
    // nothing committed yet
    assert(Sinks.snapshotCommitted(spark, table).isEmpty)
    intercept[IllegalStateException](Sinks.readSnapshot(spark, table))
    // two publishes: versions 1, 2; unpinned read serves the pointer
    assert(Sinks.writeSnapshot(df1, table) == 1)
    assert(Sinks.writeSnapshot(df2, table) == 2)
    assert(Sinks.snapshotVersions(spark, table) == Seq(1, 2))
    assert(Sinks.snapshotCommitted(spark, table).contains(2))
    assert(Sinks.readSnapshot(spark, table).count() == 25)
    // time travel: explicit pin reaches the immutable older folder
    assert(Sinks.readSnapshot(spark, table, Some(1)).count() == 5)
    // crash simulation: a data folder lands but the pointer swap never ran —
    // unpinned readers must keep seeing v2, and the orphaned number must
    // not be reused by the next successful publish
    df1.write.parquet(s"$table/v=3")
    assert(Sinks.snapshotCommitted(spark, table).contains(2))
    assert(Sinks.readSnapshot(spark, table).count() == 25)
    assert(Sinks.writeSnapshot(df2, table) == 4)
    assert(Sinks.snapshotCommitted(spark, table).contains(4))
    assert(Sinks.readSnapshot(spark, table).count() == 25)
  }

  test("manifest pruning: files are skipped by range, results stay exact") {
    val s = new graft.Session.Scratch
    val table = s"${s.dir}/manifested"
    val df = Tables.load(spark, sf, "customer").select("c_custkey", "c_name")
    Sinks.writeSnapshotWithManifest(
      df.repartitionByRange(6, col("c_custkey")), table, Seq("c_custkey"))
    val (pruned, kept, total) =
      Sinks.readSnapshotPruned(spark, table, "c_custkey", 10L, 30L)
    assert(total == 6 && kept < total, s"kept=$kept total=$total")
    val want = df.filter(col("c_custkey").between(10, 30))
      .orderBy("c_custkey").collect().map(_.getLong(0)).toSeq
    assert(pruned.orderBy("c_custkey").collect().map(_.getLong(0)).toSeq == want)
    // all-files-pruned range: empty result with the snapshot schema, no crash
    val (none, k0, t0) =
      Sinks.readSnapshotPruned(spark, table, "c_custkey", -500L, -400L)
    assert(k0 == 0 && t0 == 6 && none.count() == 0)
    assert(none.schema == pruned.schema)
    // a stray non-numeric v= directory must not brick version allocation
    new java.io.File(s"$table/v=3.bak").mkdirs()
    assert(!Sinks.snapshotVersions(spark, table).contains(3))
    assert(Sinks.snapshotVersions(spark, table).nonEmpty)
  }

  test("SnapshotCatalog: SQL time travel, pointer-only unpinned reads, orphan invisibility") {
    val s = new graft.Session.Scratch
    spark.conf.set("spark.sql.catalog.snaptest", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.snaptest.workspace", s.dir)
    val df1 = Tables.load(spark, sf, "region")   // 5 rows
    val df2 = Tables.load(spark, sf, "nation")   // 25 rows
    Sinks.writeSnapshot(df1.select(col("r_regionkey").as("k")), s"${s.dir}/t")
    Sinks.writeSnapshot(df2.select(col("n_nationkey").as("k")), s"${s.dir}/t")
    // unpinned SQL read = the committed pointer (v2)
    assert(spark.sql("SELECT count(*) AS n FROM snaptest.t").first().getLong(0) == 25)
    // VERSION AS OF pins the immutable v1
    assert(spark.sql("SELECT count(*) AS n FROM snaptest.t VERSION AS OF 1")
      .first().getLong(0) == 5)
    // a crashed writer's orphan folder (v3, no pointer swap) stays invisible
    df1.select(col("r_regionkey").as("k")).write.parquet(s"${s.dir}/t/v=3")
    assert(spark.sql("SELECT count(*) AS n FROM snaptest.t").first().getLong(0) == 25)
    // ... but an explicit pin can still inspect it
    assert(spark.sql("SELECT count(*) AS n FROM snaptest.t VERSION AS OF 3")
      .first().getLong(0) == 5)
    // a pre-history TIMESTAMP AS OF gets the guided rejection (these
    // commits recorded wall-clock times, all after 2020)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM snaptest.t TIMESTAMP AS OF '2020-01-01'").collect()
    }
    assert(e.getMessage.contains("predates the first commit"), e.getMessage)
    new java.io.File(s"${s.dir}/plain").mkdirs()
    intercept[Exception] { spark.sql("SELECT * FROM snaptest.plain").collect() }
  }

  test("TIMESTAMP AS OF: injected commit times resolve newest-≤, orphans and gaps guided") {
    val s = new graft.Session.Scratch
    spark.conf.set("spark.sql.catalog.snapts", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.snapts.workspace", s.dir)
    val table = s"${s.dir}/tt"
    val base = java.time.Instant.parse("2026-03-01T00:00:00Z").toEpochMilli * 1000L
    val day = 86_400_000_000L
    val df1 = Tables.load(spark, sf, "region")   // 5 rows
    val df2 = Tables.load(spark, sf, "nation")   // 25 rows
    Sinks.writeSnapshot(df1.select(col("r_regionkey").as("k")), table, Some(base + 1 * day))
    Sinks.writeSnapshot(df2.select(col("n_nationkey").as("k")), table, Some(base + 2 * day))
    // mid-gap pins v1; exactly-at pins that version; after-last pins v2
    assert(spark.sql("SELECT count(*) AS n FROM snapts.tt TIMESTAMP AS OF '2026-03-02 12:00:00'")
      .first().getLong(0) == 5)
    assert(spark.sql("SELECT count(*) AS n FROM snapts.tt TIMESTAMP AS OF '2026-03-02 00:00:00'")
      .first().getLong(0) == 5)
    assert(spark.sql("SELECT count(*) AS n FROM snapts.tt TIMESTAMP AS OF '2026-03-09 00:00:00'")
      .first().getLong(0) == 25)
    // a timestamped ORPHAN (commit record written, pointer never swapped —
    // the crash window) must NOT resolve: v3's record exists, folder
    // exists, but the pointer still says v2
    df1.select(col("r_regionkey").as("k")).write.parquet(s"$table/v=3")
    val rec = new java.io.File(s"$table/_commits"); rec.mkdirs()
    val w = new java.io.PrintWriter(s"$table/_commits/v=3")
    w.print((base + 3 * day).toString); w.close()
    assert(spark.sql("SELECT count(*) AS n FROM snapts.tt TIMESTAMP AS OF '2026-03-09 00:00:00'")
      .first().getLong(0) == 25)
    assert(Sinks.snapshotVersionAt(spark, table, base + 9 * day) == 2)
    // pre-history and record-less tables get guided errors
    val pre = intercept[Exception] {
      spark.sql("SELECT * FROM snapts.tt TIMESTAMP AS OF '2026-02-01'").collect()
    }
    assert(pre.getMessage.contains("predates the first commit"), pre.getMessage)
    val bare = s"${s.dir}/bare"
    df1.select(col("r_regionkey").as("k")).write.parquet(s"$bare/v=1")
    val w2 = new java.io.PrintWriter(s"$bare/_latest"); w2.print("1"); w2.close()
    val none = intercept[Exception] { Sinks.snapshotVersionAt(spark, bare, base) }
    assert(none.getMessage.contains("VERSION AS OF"), none.getMessage)
    // the retention janitor prunes commit records with their versions
    // (version allocation skips the orphan folder: next publishes are 4..6)
    (3 to 5).foreach(v =>
      Sinks.writeSnapshot(df1.select(col("r_regionkey").as("k")), table, Some(base + v * day)))
    Sinks.expireSnapshots(spark, table, keep = 2)
    assert(Sinks.snapshotCommitTimes(spark, table).keySet == Set(5, 6))
  }

  test("writeSnapshotAs: replay-idempotent, pointer only moves forward") {
    val s = new graft.Session.Scratch
    val table = s"${s.dir}/replayed"
    val df1 = Tables.load(spark, sf, "region")   // 5 rows
    val df2 = Tables.load(spark, sf, "nation")   // 25 rows
    Sinks.writeSnapshotAs(df1, table, 1)
    Sinks.writeSnapshotAs(df2, table, 2)
    assert(Sinks.snapshotCommitted(spark, table).contains(2))
    // replay of batch 1 (crash-restart semantics): same folder rewritten,
    // the newer commit is NOT demoted
    Sinks.writeSnapshotAs(df1, table, 1)
    assert(Sinks.snapshotCommitted(spark, table).contains(2))
    assert(Sinks.readSnapshot(spark, table).count() == 25)
    assert(Sinks.readSnapshot(spark, table, Some(1)).count() == 5)
  }

  test("expireSnapshots: drops the old tail, never the committed or newer") {
    val s = new graft.Session.Scratch
    val table = s"${s.dir}/expired"
    val df = Tables.load(spark, sf, "region")
    (1 to 4).foreach(_ => Sinks.writeSnapshot(df, table))
    // an in-flight (uncommitted, newer) folder must survive the janitor
    df.write.parquet(s"$table/v=9")
    assert(Sinks.expireSnapshots(spark, table, keep = 2) == Seq(1, 2))
    assert(Sinks.snapshotVersions(spark, table) == Seq(3, 4, 9))
    assert(Sinks.snapshotCommitted(spark, table).contains(4))
    assert(Sinks.readSnapshot(spark, table).count() == 5)
    assert(Sinks.readSnapshot(spark, table, Some(3)).count() == 5)
  }

  test("compactSnapshot: fewer files, identical rows, old version untouched") {
    val s = new graft.Session.Scratch
    val table = s"${s.dir}/optimize"
    val df = Tables.load(spark, sf, "customer")  // 150 rows
    Sinks.writeSnapshot(df.repartition(10), table)
    def files(v: Int) = new java.io.File(s"$table/v=$v").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files(1) == 10)
    val v2 = Sinks.compactSnapshot(spark, table, targetRows = 100L)
    assert(v2 == 2 && Sinks.snapshotCommitted(spark, table).contains(2))
    assert(files(2) == 2 && files(1) == 10) // ceil(150/100); v1 immutable
    val got = Sinks.readSnapshot(spark, table)
      .orderBy("c_custkey").collect().map(_.getLong(0)).toSeq
    val want = df.orderBy("c_custkey").collect().map(_.getLong(0)).toSeq
    assert(got == want)
  }

  test("deep thin chains auto-compact on the append path (SQL INSERT cliff guard)") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val table = s"${s.dir}/autocompact"
    Sinks.writeSnapshot(Seq((1L, "a")).toDF("id", "v"), table)
    spark.conf.set("graft.snapshot.autoCompactDepth", "3")
    try {
      // without the backstop, every INSERT INTO chains one more keyless hop
      // and hop 65 makes ALL reads throw; with it the chain materializes at
      // the threshold and keeps growing shallowly
      (2 to 6).foreach { i =>
        Sinks.appendSnapshotRows(spark, table,
          Seq((i.toLong, "a")).toDF("id", "v")): Unit
      }
      val head = Sinks.snapshotCommitted(spark, table).get
      assert(Sinks.chainDepth(spark, table, head) < 3,
        s"chain did not auto-compact (depth ${Sinks.chainDepth(spark, table, head)})")
      assert(Sinks.readSnapshot(spark, table).count() == 6)
      assert(Sinks.readSnapshot(spark, table).select("id").distinct().count() == 6)
    } finally spark.conf.unset("graft.snapshot.autoCompactDepth")
  }

  test("diffTables: null-safe change classification on every class") {
    import spark.implicits._
    val a = Seq((1L, Some("x"), 10), (2L, None: Option[String], 20),
      (3L, Some("z"), 30), (4L, Some("w"), 40))
      .toDF("id", "s", "n")
    val b = Seq((2L, None: Option[String], 20),       // null==null → unchanged
      (3L, None: Option[String], 30),                 // z→null → changed
      (4L, Some("w"), 41),                            // n bump → changed
      (5L, Some("v"), 50))                            // new → added
      .toDF("id", "s", "n")
    val got = Sinks.diffTables(a, b, Seq("id"))
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got == Seq(1L -> "removed", 3L -> "changed", 4L -> "changed",
      5L -> "added"))
  }

  test("snapshot catalog DML: DELETE/UPDATE/MERGE publish new versions, history stays pinned") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    spark.conf.set("spark.sql.catalog.snapdml", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.snapdml.workspace", s.dir)
    val dir = s"${s.dir}/vt"
    Sinks.writeSnapshot(
      Seq.tabulate(10)(i => (i.toLong, s"r$i", i.toLong * 10)).toDF("k", "name", "v"), dir)
    // DELETE → v=2 (new version), v=1 untouched
    spark.sql("DELETE FROM snapdml.vt WHERE k >= 7")
    assert(Sinks.snapshotCommitted(spark, dir).contains(2))
    assert(spark.sql("SELECT count(*) AS n FROM snapdml.vt").first().getLong(0) == 7)
    assert(spark.sql("SELECT count(*) AS n FROM snapdml.vt VERSION AS OF 1")
      .first().getLong(0) == 10, "pre-DML version must stay readable")
    // UPDATE → v=3 via the COW rewrite
    spark.sql("UPDATE snapdml.vt SET v = v + 1 WHERE k = 0")
    assert(Sinks.snapshotCommitted(spark, dir).contains(3))
    assert(spark.sql("SELECT v FROM snapdml.vt WHERE k = 0").first().getLong(0) == 1L)
    assert(spark.sql("SELECT v FROM snapdml.vt VERSION AS OF 2 WHERE k = 0")
      .first().getLong(0) == 0L)
    // MERGE → v=4; the snapshot diff between v=3 and v=4 IS the change audit
    Seq((0L, "r0", 99L), (50L, "new", 500L)).toDF("k", "name", "v")
      .createOrReplaceTempView("vt_delta")
    spark.sql(
      """MERGE INTO snapdml.vt t USING vt_delta s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, name, v) VALUES (s.k, s.name, s.v)
        |""".stripMargin)
    assert(Sinks.snapshotCommitted(spark, dir).contains(4))
    val diff = Sinks.snapshotDiff(spark, dir, 3, 4, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(diff == Set(0L -> "changed", 50L -> "added"), diff.toString)
    // versions stayed contiguous, no DML left staging debris
    assert(Sinks.snapshotVersions(spark, dir) == Seq(1, 2, 3, 4))
    val debris = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith(".dml_staging_"))
    assert(debris.isEmpty, debris.mkString(","))
    // pinned tables are read-only: DML against VERSION AS OF has no path
    intercept[Exception] {
      spark.sql("DELETE FROM snapdml.vt VERSION AS OF 2 WHERE k = 0")
    }
    // optimistic conflict detection: a handle bound to v=4 must ABORT its
    // DML once another writer commits v=5 — publishing would silently
    // discard that writer's changes (the lost update)
    import org.apache.spark.sql.connector.catalog.{Identifier, SupportsDelete, TableCatalog}
    val stale = spark.sessionState.catalogManager.catalog("snapdml")
      .asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array.empty, "vt"))
      .asInstanceOf[SupportsDelete]
    Sinks.writeSnapshot(Seq((99L, "z", 0L)).toDF("k", "name", "v"), dir) // v=5
    intercept[java.util.ConcurrentModificationException] {
      stale.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("k", 1L)))
    }
    assert(Sinks.snapshotCommitted(spark, dir).contains(5),
      "conflicted DML must not move the pointer")
    assert(Sinks.readSnapshot(spark, dir, None).count() == 1,
      "conflicted DML must not alter the newer commit")
    // a FRESH statement re-resolves and succeeds
    spark.sql("DELETE FROM snapdml.vt WHERE k = 99")
    assert(Sinks.readSnapshot(spark, dir, None).count() == 0)
    s.close()
  }

  test("writeSnapshot: racing writers get distinct contiguous versions, pointer converges") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val dir = s"${s.dir}/cas_tbl"
    val writers = 4
    val barrier = new java.util.concurrent.CyclicBarrier(writers)
    val results = new Array[Int](writers)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ths = (0 until writers).map { i =>
      new Thread(() => {
        try {
          val df = Seq.tabulate(10)(j => (i.toLong, j.toLong)).toDF("writer", "n")
          barrier.await()
          results(i) = Sinks.writeSnapshot(df, dir, Some(1000L * (i + 1)))
        } catch { case t: Throwable => errors.add(t): Unit }
      })
    }
    ths.foreach(_.start()); ths.foreach(_.join())
    assert(errors.isEmpty, errors.toString)
    // every writer won a DISTINCT version and the sequence is contiguous —
    // the claim CAS serialized allocation (losers retried cleanly)
    assert(results.sorted.toSeq == (1 to writers).toSeq, results.toSeq.toString)
    // the pointer converged to the newest recorded commit, no demotion
    assert(Sinks.snapshotCommitted(spark, dir).contains(writers))
    // each version holds exactly ONE writer's rows — no folder was shared
    (1 to writers).foreach { v =>
      val w = Sinks.readSnapshot(spark, dir, Some(v))
        .select("writer").distinct().collect().map(_.getLong(0))
      assert(w.length == 1, s"v=$v holds writers ${w.toSeq}")
      assert(results(w.head.toInt) == v)
      assert(Sinks.readSnapshot(spark, dir, Some(v)).count() == 10)
    }
    // unpinned read serves the pointer's version
    assert(Sinks.readSnapshot(spark, dir, None).count() == 10)
    // commit records exist for every version (TIMESTAMP AS OF stays whole)
    assert(Sinks.snapshotCommitTimes(spark, dir).keySet == (1 to writers).toSet)
    // a later sequential write continues the contiguous sequence
    val v5 = Sinks.writeSnapshot(
      Seq((9L, 9L)).toDF("writer", "n"), dir, Some(99000L))
    assert(v5 == writers + 1)
    assert(Sinks.snapshotCommitted(spark, dir).contains(writers + 1))
    // expiry drops claim markers with their versions (no unbounded marker
    // accumulation); surviving versions keep theirs
    assert(Sinks.expireSnapshots(spark, dir, keep = 2) == (1 to writers - 1))
    val claims = new java.io.File(s"$dir/_claims").listFiles().map(_.getName).toSet
    assert(claims == Set(s"v=$writers", s"v=${writers + 1}"), claims.toString)
    s.close()
  }

  test("merge-on-read deletes: thin versions cost O(keys), chains resolve, compaction materializes") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val dir = s"${s.dir}/mor"
    spark.conf.set("spark.sql.catalog.snapmor", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.snapmor.workspace", s.dir)
    val rows = Seq.tabulate(1000)(i => (i.toLong, s"payload_$i" * 20, i.toLong % 7))
    Sinks.writeSnapshot(rows.toDF("k", "body", "g"), dir)
    // thin delete #1: 10 keys — the version folder must carry NO data files
    val v2 = Sinks.deleteSnapshotKeys(spark, dir,
      (0L until 10L).toDF("k"), Seq("k"))
    assert(v2 == 2)
    def dirBytes(v: Int): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum else f.length
      walk(new java.io.File(s"$dir/v=$v"))
    }
    assert(dirBytes(2) * 10 < dirBytes(1),
      s"thin delete wrote ${dirBytes(2)}B vs table ${dirBytes(1)}B — not O(keys)")
    assert(!new java.io.File(s"$dir/v=2").listFiles()
      .exists(f => f.isFile && f.getName.endsWith(".parquet")),
      "thin version must hold no data files at top level")
    // thin delete #2 chains on the first
    val v3 = Sinks.deleteSnapshotKeys(spark, dir,
      Seq(500L, 501L, 0L).toDF("k"), Seq("k")) // 0 already gone — idempotent
    assert(v3 == 3)
    val got = Sinks.readSnapshot(spark, dir, None).select("k")
      .collect().map(_.getLong(0)).toSet
    assert(got == (0L until 1000L).toSet -- (0L until 10L) - 500L - 501L)
    // intermediate thin version reads correctly too
    assert(Sinks.readSnapshot(spark, dir, Some(2)).count() == 990)
    // the diff machinery sees resolved content: v2 -> v3 removed exactly 2
    val diff = Sinks.snapshotDiff(spark, dir, 2, 3, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(diff == Set(500L -> "removed", 501L -> "removed"), diff.toString)
    // SQL serving of the THIN head resolves the chain (r13: the MOR-aware
    // marker + ResolveThinSnapshots — no guided error, no compaction needed)
    assert(spark.sql("SELECT count(*) AS n FROM snapmor.mor")
      .first().getLong(0) == 988)
    // compaction still materializes the chain for plain file readers
    val v4 = Sinks.compactSnapshot(spark, dir, targetRows = 100000)
    assert(v4 == 4)
    assert(spark.sql("SELECT count(*) AS n FROM snapmor.mor").first().getLong(0) == 988)
    // expiry never drops a base a surviving thin version still needs:
    // keep=3 would normally drop v=1, but thin v=2/v=3 resolve through it
    assert(Sinks.expireSnapshots(spark, dir, keep = 3).isEmpty,
      "v=1 is the base of surviving thin v=2/v=3 — must not drop")
    assert(Sinks.readSnapshot(spark, dir, Some(3)).count() == 988)
    // once the survivors are materialized-only, the whole thin tail can go
    assert(Sinks.expireSnapshots(spark, dir, keep = 1) == Seq(1, 2, 3))
    assert(Sinks.readSnapshot(spark, dir, None).count() == 988)
    s.close()
  }

  test("thin upserts: last-writer-wins vs base, tombstones ride along, chains compose") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val dir = s"${s.dir}/morup"
    Sinks.writeSnapshot(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("k", "name", "v"), dir)
    // one thin version: update k=2, insert k=4, tombstone k=3
    val v2 = Sinks.upsertSnapshotRows(spark, dir,
      Seq((2L, "b2", 21L), (4L, "d", 40L)).toDF("k", "name", "v"), Seq("k"),
      deletes = Some(Seq(3L).toDF("k")))
    assert(v2 == 2)
    val got2 = Sinks.readSnapshot(spark, dir, None)
    assert(got2.columns.toSeq == Seq("k", "name", "v"), "column order must survive")
    assert(got2.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ==
      Set((1L, "a", 10L), (2L, "b2", 21L), (4L, "d", 40L)))
    // a second thin upsert chains on the first
    val v3 = Sinks.upsertSnapshotRows(spark, dir,
      Seq((4L, "d", 41L)).toDF("k", "name", "v"), Seq("k"))
    assert(v3 == 3)
    assert(Sinks.readSnapshot(spark, dir, None)
      .filter("k = 4").first().getLong(2) == 41L)
    assert(Sinks.readSnapshot(spark, dir, Some(2))
      .filter("k = 4").first().getLong(2) == 40L, "pinned thin version drifted")
    // the diff machinery classifies the thin hop correctly
    val diff = Sinks.snapshotDiff(spark, dir, 1, 2, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(diff == Set(2L -> "changed", 3L -> "removed", 4L -> "added"), diff.toString)
    // compaction materializes the whole upsert chain
    Sinks.compactSnapshot(spark, dir, targetRows = 100000)
    assert(Sinks.readSnapshot(spark, dir, None).count() == 3)
    // integrity gate: a duplicate key inside one upsert batch would
    // materialize as duplicate rows in every resolved read — rejected
    val before = Sinks.snapshotVersions(spark, dir)
    val e = intercept[IllegalArgumentException] {
      Sinks.upsertSnapshotRows(spark, dir,
        Seq((7L, "x", 1L), (7L, "y", 2L)).toDF("k", "name", "v"), Seq("k"))
    }
    assert(e.getMessage.contains("duplicate keys"), e.getMessage)
    assert(Sinks.snapshotVersions(spark, dir) == before, "rejected commit left debris")
    s.close()
  }

  test("vacuumOrphans: aged unrecorded folders drop, recorded and fresh ones survive") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val dir = s"${s.dir}/vac"
    assert(Sinks.writeSnapshot(Seq((1L, 1L)).toDF("a", "b"), dir) == 1)
    // crashed writer: data landed (v=2 exists), record/swap never happened
    Seq((2L, 2L)).toDF("a", "b").write.parquet(s"$dir/v=2")
    assert(Sinks.snapshotVersions(spark, dir) == Seq(1, 2))
    // fresh orphan survives any reasonable grace
    assert(Sinks.vacuumOrphans(spark, dir, graceMs = 60000L).isEmpty)
    // aged orphan drops; the recorded v=1 survives at ANY grace
    assert(Sinks.vacuumOrphans(spark, dir, graceMs = -1L) == Seq(2))
    assert(Sinks.snapshotVersions(spark, dir) == Seq(1))
    assert(Sinks.readSnapshot(spark, dir, None).count() == 1)
    s.close()
  }

  test("fenced publish: stale base aborts with staging discarded and claim released") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val dir = s"${s.dir}/fence"
    assert(Sinks.writeSnapshot(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir) == 1)
    assert(Sinks.writeSnapshot(Seq((1L, "a"), (3L, "c")).toDF("k", "v"), dir) == 2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a writer whose output derives from v=1 must NOT publish over v=2
    val staleStaged = new org.apache.hadoop.fs.Path(dir, ".dml_staging_stale")
    Seq((9L, "x")).toDF("k", "v").write.parquet(staleStaged.toString)
    intercept[java.util.ConcurrentModificationException] {
      Sinks.publishStagedSnapshotFenced(spark, dir, staleStaged, expectedBase = 1)
    }
    assert(!fs.exists(staleStaged), "conflicted staging must be discarded")
    // the aborted claim must be RELEASED: a correctly-based publish right
    // after lands at v=3 (not v=4), proving no dead claim blocks the slot
    val okStaged = new org.apache.hadoop.fs.Path(dir, ".dml_staging_ok")
    Seq((9L, "x")).toDF("k", "v").write.parquet(okStaged.toString)
    assert(Sinks.publishStagedSnapshotFenced(spark, dir, okStaged, expectedBase = 2) == 3)
    assert(Sinks.snapshotCommitted(spark, dir).contains(3))
    s.close()
  }

  test("concurrent thin writers: the fence turns a lost update into an abort, retry chains correctly") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val dir = s"${s.dir}/thinrace"
    assert(Sinks.writeSnapshot(
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"), dir) == 1)
    // two deltas both DERIVED from v=1, racing: under the old bind-at-
    // commit scheme the second publish silently chained on v=1 and dropped
    // the first delta; under the fence exactly one wins and the loser
    // throws. Run them on two threads, retry the loser (re-deriving) once.
    val keysA = Seq(Tuple1(1L)).toDF("k")
    val keysB = Seq(Tuple1(2L)).toDF("k")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def attempt(keys: org.apache.spark.sql.DataFrame): Runnable = () =>
      try Sinks.deleteSnapshotKeys(spark, dir, keys, Seq("k")): Unit
      catch { case t: Throwable => errs.add(t): Unit }
    val ts = Seq(new Thread(attempt(keysA)), new Thread(attempt(keysB)))
    ts.foreach(_.start()); ts.foreach(_.join())
    // any loser is a ConcurrentModificationException, never a silent drop
    errs.forEach(t => assert(
      t.isInstanceOf[java.util.ConcurrentModificationException], t.toString))
    if (!errs.isEmpty) { // retry the aborted delta against the new base
      errs.clear()
      Sinks.deleteSnapshotKeys(spark, dir,
        if (Sinks.readSnapshot(spark, dir).filter(col("k") === 1L).count() > 0)
          keysA else keysB, Seq("k")): Unit
    }
    val kept = Sinks.readSnapshot(spark, dir)
      .select("k").as[Long].collect().sorted.toSeq
    assert(kept == (3L to 10L).toSeq,
      s"both deltas must survive, got ${kept.mkString(",")}")
    s.close()
  }

  test("janitors: aged staging debris drops (snapshot + workspace), fresh survives") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val dir = s"${s.dir}/debris"
    assert(Sinks.writeSnapshot(Seq((1L, 1L)).toDF("a", "b"), dir) == 1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, ".dml_staging_crashed"))
    assert(Sinks.vacuumOrphans(spark, dir, graceMs = 60000L).isEmpty)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, ".dml_staging_crashed")),
      "fresh staging must survive the grace window")
    Sinks.vacuumOrphans(spark, dir, graceMs = -1L): Unit
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, ".dml_staging_crashed")))
    // workspace-side: .{table}.__cow_* siblings
    val ws = s"${s.dir}/ws_debris"
    fs.mkdirs(new org.apache.hadoop.fs.Path(ws, ".t.__cow_deadbeef"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(ws, "t"))
    assert(Sinks.vacuumWorkspaceStaging(spark, ws, graceMs = 60000L).isEmpty)
    val gone = Sinks.vacuumWorkspaceStaging(spark, ws, graceMs = -1L)
    assert(gone.size == 1 && gone.head.endsWith(".t.__cow_deadbeef"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(ws, "t")),
      "real table dirs are never janitor targets")
    s.close()
  }

  test("randomized MOR chains: resolved content ≡ key-value model under arbitrary op sequences") {
    import spark.implicits._
    // seeded, reproducible: arbitrary interleavings of materialize / thin
    // delete / thin upsert(+tombstones) / keyless append / compact must
    // keep the RESOLVED read equal to a plain key-value model, and every
    // pinned version must keep meaning what it meant
    val rnd = new scala.util.Random(20260815L)
    val s = new graft.Session.Scratch
    val dir = s"${s.dir}/morprop"
    val model = scala.collection.mutable.Map.empty[Long, Long]
    var nextFresh = 1000L
    def df(rows: Seq[(Long, Long)]) = rows.toDF("k", "v")
    def resolvedNow(): Map[Long, Long] =
      Sinks.readSnapshot(spark, dir).as[(Long, Long)].collect().toMap
    // v1: a materialized base
    (1L to 40L).foreach(k => model(k) = k * 10)
    Sinks.writeSnapshot(df(model.toSeq), dir): Unit
    val history = scala.collection.mutable.Map(1 -> model.toMap)
    var v = 1
    (1 to 12).foreach { _ =>
      rnd.nextInt(5) match {
        case 0 => // thin delete of a mix of present and absent keys
          val keys = Seq.fill(rnd.nextInt(5) + 1)(rnd.nextLong(60) + 1)
          v = Sinks.deleteSnapshotKeys(spark, dir, keys.map(Tuple1(_)).toDF("k"), Seq("k"))
          keys.foreach(model.remove)
        case 1 => // thin upsert: updates + inserts, optional tombstones
          val ups = Seq.fill(rnd.nextInt(5) + 1)(rnd.nextLong(60) + 1)
            .distinct.map(k => k -> rnd.nextLong(1000))
          val dels =
            if (rnd.nextBoolean()) Some(Seq.fill(rnd.nextInt(3) + 1)(
              rnd.nextLong(60) + 1).map(Tuple1(_)).toDF("k"))
            else None
          v = Sinks.upsertSnapshotRows(spark, dir, df(ups), Seq("k"), deletes = dels)
          dels.foreach(_.as[Long].collect().foreach(model.remove))
          ups.foreach { case (k, value) => model(k) = value }
        case 2 => // keyless append of FRESH keys (appends carry no identity)
          val rows = Seq.fill(rnd.nextInt(4) + 1) {
            nextFresh += 1; nextFresh -> rnd.nextLong(1000)
          }
          v = Sinks.appendSnapshotRows(spark, dir, df(rows))
          rows.foreach { case (k, value) => model(k) = value }
        case 3 => // re-materialize the full state (writer-side compaction)
          v = Sinks.writeSnapshot(df(model.toSeq), dir)
        case 4 => // operator-side compaction reads through the resolver
          v = Sinks.compactSnapshot(spark, dir, targetRows = 1000000)
      }
      assert(resolvedNow() == model.toMap, s"divergence at v=$v")
      history(v) = model.toMap
    }
    // pinned history: three random committed versions still serve exactly
    // the state they served when committed
    val vs = history.keys.toSeq.sorted
    Seq(vs.head, vs(vs.size / 2), vs.last).foreach { pv =>
      val got = Sinks.readSnapshot(spark, dir, Some(pv)).as[(Long, Long)]
        .collect().toMap
      assert(got == history(pv), s"pinned v=$pv drifted")
    }
    s.close()
  }

  test("writeSnapshot repair: a stalled older writer cannot demote a newer commit") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val dir = s"${s.dir}/cas_repair"
    // writer A claims+records v=1 but "stalls" before any pointer movement:
    // simulate by landing data + record through the private path pieces —
    // here simply commit v=1 fully, then hand-demote the pointer to mimic
    // the lost-update interleaving (rename is last-writer-wins), and prove
    // the next concurrent commit repairs past it
    assert(Sinks.writeSnapshot(
      Seq((1L, 1L)).toDF("writer", "n"), dir, Some(1000L)) == 1)
    assert(Sinks.writeSnapshot(
      Seq((2L, 2L)).toDF("writer", "n"), dir, Some(2000L)) == 2)
    // demote the pointer by hand (the transient state a slow writer's
    // blind rename would leave) — through the Hadoop FS API so the
    // checksum sidecar stays consistent
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/_latest"), true)
    out.write("1".getBytes("UTF-8")); out.close()
    assert(Sinks.snapshotCommitted(spark, dir).contains(1))
    // the next commit's repair loop must land the pointer at the MAX
    // recorded commit, not merely its own version
    assert(Sinks.writeSnapshot(
      Seq((3L, 3L)).toDF("writer", "n"), dir, Some(3000L)) == 3)
    assert(Sinks.snapshotCommitted(spark, dir).contains(3))
    s.close()
  }

  test("auto-compaction is claim-fenced: a concurrent writer's claim defers it") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val table = s"${s.dir}/ac_fence"
    Sinks.writeSnapshot(Seq((1L, "a")).toDF("id", "v"), table)   // v1
    val head = Sinks.appendSnapshotRows(spark, table,
      Seq((2L, "a")).toDF("id", "v"))                            // v2, thin
    // a concurrent writer claims head+1 between the triggering commit and
    // the auto-compaction check: the check's claim CAS then hands it
    // head+2 ≠ head+1 — it must forfeit (no compacted version, its own
    // claim released), never write into the other writer's number or
    // regress the pointer past the other writer's coming commit
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$table/_claims")): Unit
    fs.create(new org.apache.hadoop.fs.Path(
      s"$table/_claims/v=${head + 1}"), false).close()
    Sinks.autoCompactCas(spark, table, head)
    assert(Sinks.snapshotCommitted(spark, table).contains(head),
      "the pointer must stay on the triggering commit")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$table/v=${head + 1}")),
      "auto-compaction wrote into a version another writer claimed")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$table/_claims/v=${head + 2}")),
      "a forfeited auto-compaction must release its claim")
    assert(Sinks.chainDepth(spark, table, head) == 1, "chain stays uncompacted")
    // with the foreign claim gone the same check compacts: immediate
    // successor, provenance stamped, repair-loop commit
    fs.delete(new org.apache.hadoop.fs.Path(s"$table/_claims/v=${head + 1}"),
      false): Unit
    Sinks.autoCompactCas(spark, table, head)
    val newHead = Sinks.snapshotCommitted(spark, table).get
    assert(newHead == head + 1 && Sinks.chainDepth(spark, table, newHead) == 0)
    assert(Sinks.compactionBase(spark, table, newHead).contains(head))
    assert(Sinks.readSnapshot(spark, table).as[(Long, String)].collect()
      .map(_._1).sorted.toSeq == Seq(1L, 2L))
    s.close()
  }

  test("table_changes spans compactions: empty change grain, auto or manual") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val table = s"${s.dir}/ac_cdf"
    Sinks.writeSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), table) // v1
    Sinks.enableChangeFeed(spark, table)
    spark.conf.set("graft.snapshot.autoCompactDepth", "2")
    try {
      Sinks.upsertSnapshotRows(spark, table,
        Seq((3L, "c")).toDF("id", "v"), Seq("id")): Unit        // v2 thin
      Sinks.upsertSnapshotRows(spark, table,
        Seq((4L, "d")).toDF("id", "v"), Seq("id")): Unit        // v3 thin → auto-compacts v4
      val head = Sinks.snapshotCommitted(spark, table).get
      assert(Sinks.compactionBase(spark, table, head).isDefined,
        s"expected an auto-compacted head, got v=$head")
      // the range spanning the compacted version still serves: the thin
      // commits' rows, the compaction contributing exactly nothing
      val changes = Sinks.tableChanges(spark, table, 2, head)
        .select("id", "__change", "__version")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted
      assert(changes.toSeq == Seq((3L, "upsert", 2), (4L, "upsert", 3)))
      // a range of ONLY the compacted version is an empty frame, feed schema
      val only = Sinks.tableChanges(spark, table, head, head)
      assert(only.count() == 0)
      assert(only.columns.contains("__change") && only.columns.contains("__version"))
      // manual compaction carries the same contract
      val vc = Sinks.compactSnapshot(spark, table, targetRows = 1000L)
      assert(Sinks.compactionBase(spark, table, vc).contains(head))
      assert(Sinks.tableChanges(spark, table, 2, vc).count() == 2)
      // a genuine rewrite still severs the grain with the guided error
      Sinks.writeSnapshot(Seq((9L, "z")).toDF("id", "v"), table)
      val vw = Sinks.snapshotCommitted(spark, table).get
      val e = intercept[UnsupportedOperationException] {
        Sinks.tableChanges(spark, table, 2, vw)
      }
      assert(e.getMessage.contains("MATERIALIZED"))
    } finally spark.conf.unset("graft.snapshot.autoCompactDepth")
    s.close()
  }

  test("a failed fenced publish releases its claim — the table does not wedge") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val table = s"${s.dir}/claim_release"
    Sinks.writeSnapshot(Seq((1L, "a")).toDF("id", "v"), table)       // v1
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a staged path that does not exist makes the publish's rename fail
    // AFTER the claim CAS handed out v=2 — pre-fix, _claims/v=2 leaked and
    // every later fenced publish forfeited forever
    intercept[Exception] {
      Sinks.publishStagedSnapshotFenced(spark, table,
        new org.apache.hadoop.fs.Path(s"${s.dir}/nope_never_staged"),
        expectedBase = 1)
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$table/_claims/v=2")),
      "the failed publish leaked its claim")
    // the wedge regression: the next thin commit must land, not forfeit
    val v2 = Sinks.appendSnapshotRows(spark, table,
      Seq((2L, "b")).toDF("id", "v"))
    assert(v2 == 2 && Sinks.snapshotCommitted(spark, table).contains(2))
    assert(Sinks.readSnapshot(spark, table).count() == 2)
    s.close()
  }

  test("a failed auto-compaction releases its claim (the caller swallows the error)") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val table = s"${s.dir}/ac_claim_release"
    Sinks.writeSnapshot(Seq((1L, "a")).toDF("id", "v"), table)       // v1
    val head = Sinks.appendSnapshotRows(spark, table,
      Seq((2L, "b")).toDF("id", "v"))                                // v2 thin
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // destroy the thin chain's base so the compaction's resolver read
    // throws after the claim landed
    fs.delete(new org.apache.hadoop.fs.Path(s"$table/v=1"), true): Unit
    intercept[Exception] { Sinks.autoCompactCas(spark, table, head) }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$table/_claims/v=${head + 1}")),
      "a failed auto-compaction leaked its claim — the table would wedge " +
        "silently (autoCompactIfDeep swallows the error)")
    s.close()
  }

  test("vacuumOrphans ages out folder-less claims; live and recorded claims survive") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val table = s"${s.dir}/claim_vacuum"
    // v1 through the CAS path: its claim has a commit record → protected
    assert(Sinks.writeSnapshot(
      Seq((1L, "a")).toDF("id", "v"), table) == 1)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val stale = new org.apache.hadoop.fs.Path(s"$table/_claims/v=7")
    val fresh = new org.apache.hadoop.fs.Path(s"$table/_claims/v=8")
    fs.create(stale, false).close()
    fs.create(fresh, false).close()
    fs.setTimes(stale, System.currentTimeMillis() - 120000L, -1)
    Sinks.vacuumOrphans(spark, table, graceMs = 60000L): Unit
    assert(!fs.exists(stale), "aged folder-less claim must be vacuumed")
    assert(fs.exists(fresh), "a young claim may belong to a live writer")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$table/_claims/v=1")),
      "a recorded commit's claim is not debris")
    s.close()
  }

  test("compactSnapshot: provenance-stamped commit; a wedged foreign claim defers, never overwrites") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val table = s"${s.dir}/compact_cas"
    assert(Sinks.writeSnapshot(
      Seq((1L, "a")).toDF("id", "v"), table) == 1)
    val head = Sinks.appendSnapshotRows(spark, table,
      Seq((2L, "b")).toDF("id", "v"))                                // v2 thin
    val vc = Sinks.compactSnapshot(spark, table, targetRows = 1000L)
    assert(vc == head + 1)
    assert(Sinks.snapshotCommitted(spark, table).contains(vc))
    assert(Sinks.compactionBase(spark, table, vc).contains(head),
      "the _compaction provenance must ride the folder")
    assert(Sinks.chainDepth(spark, table, vc) == 0)
    assert(Sinks.readSnapshot(spark, table).as[(Long, String)].collect()
      .map(_._1).sorted.toSeq == Seq(1L, 2L))
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(table)).exists(
      _.getPath.getName.startsWith(".compact_staging_")),
      "staged compaction must leave no residue")
    // a foreign claim at head+1 that never commits: the CAS compactor must
    // defer (bounded retries → ConcurrentModificationException), release
    // every claim it transiently took, and leave the pointer untouched
    fs.create(new org.apache.hadoop.fs.Path(
      s"$table/_claims/v=${vc + 1}"), false).close()
    intercept[java.util.ConcurrentModificationException] {
      Sinks.compactSnapshot(spark, table, targetRows = 1000L)
    }
    assert(Sinks.snapshotCommitted(spark, table).contains(vc))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$table/v=${vc + 1}")),
      "never write into another writer's claimed number")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$table/_claims/v=${vc + 2}")),
      "the deferring compactor must release its own transient claims")
    s.close()
  }

  test("a derived publish under a wedged foreign claim defers without staging") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val table = s"${s.dir}/wedged_stage"
    val head = Sinks.writeSnapshot(Seq((1L, "a")).toDF("id", "v"), table)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a crashed writer's claim at head+1: every fence onto head is lost
    fs.create(new org.apache.hadoop.fs.Path(
      s"$table/_claims/v=${head + 1}"), false).close()
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    intercept[java.util.ConcurrentModificationException] {
      Sinks.publishDerived(spark, table, "probe", ".probe_staging_") { (_, _) =>
        stages.incrementAndGet(); true
      }
    }
    assert(stages.get == 0, s"staged ${stages.get} times under a claim it cannot win")
    assert(Sinks.snapshotCommitted(spark, table).contains(head))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$table/_claims/v=${head + 2}")))
    s.close()
  }

  test("a derived publish waits out a live writer's claim at head+1, then commits onto its version") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val table = s"${s.dir}/live_claim"
    Sinks.writeSnapshot(Seq((1L, "a")).toDF("id", "v"), table)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // a flat writer that holds its claim at head+1 for 3 s, longer than
    // the claim lease: its rows take that long to compute
    def slowWriter(id: Long): (Int, scala.concurrent.Future[Int]) = {
      val head = Sinks.snapshotCommitted(spark, table).get
      val rows = spark.range(1).map { _ => Thread.sleep(3000L); (id, "w") }
        .toDF("id", "v")
      val w = scala.concurrent.Future(Sinks.writeSnapshot(rows, table))
      val claim = new org.apache.hadoop.fs.Path(s"$table/_claims/v=${head + 1}")
      while (!fs.exists(claim)) Thread.sleep(10L)
      (head, w)
    }
    def done(w: scala.concurrent.Future[Int]): Int = scala.concurrent.Await
      .result(w, scala.concurrent.duration.Duration("120s"))
    val (h1, w1) = slowWriter(2L)
    val compacted = Sinks.compactSnapshot(spark, table, targetRows = 1000L)
    assert(done(w1) == h1 + 1)
    assert(compacted == h1 + 2, "the compaction must commit after the writer")
    assert(Sinks.compactionBase(spark, table, compacted).contains(h1 + 1))
    assert(Sinks.readSnapshot(spark, table).as[(Long, String)].collect()
      .toSeq == Seq((2L, "w")))
    // a derived publish with nothing to publish returns the writer's head
    val (h2, w2) = slowWriter(3L)
    val noop = Sinks.publishDerived(spark, table, "probe", ".probe_staging_") {
      (_, _) => false }
    assert(done(w2) == h2 + 1)
    assert(noop == h2 + 1)
    s.close()
  }

  test("janitors: aged metadata temp siblings drop (table and workspace), fresh survive") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val table = s"${s.dir}/temps"
    val head = Sinks.writeSnapshot(Seq((1L, "a")).toDF("id", "v"), table)
    val ws = s"${s.dir}/ws_temps"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val old = System.currentTimeMillis() - 120000L
    def put(p: String, aged: Boolean): org.apache.hadoop.fs.Path = {
      val f = new org.apache.hadoop.fs.Path(p)
      fs.create(f, false).close()
      if (aged) fs.setTimes(f, old, -1)
      f
    }
    // what a crash between a temp write and its link or rename leaves
    val aged = Seq(s"$table/_claims/.v=9.tmp.0123abcd",
      s"$table/_commits/.v=9.tmp.4567cdef", s"$table/._latest.tmp.89abcdef",
      s"$ws/..t.__dml_lock.tmp.deadbeef",
      s"$ws/_graft_schema/.t.json.tmp.cafef00d").map(put(_, aged = true))
    val fresh = put(s"$table/_claims/.v=10.tmp.00000000", aged = false)
    val named = put(s"$ws/.t.tmp.notatemp", aged = true)
    Sinks.vacuumOrphans(spark, table, graceMs = 60000L): Unit
    val gone = Sinks.vacuumWorkspaceStaging(spark, ws, graceMs = 60000L)
    assert(gone.size == 2 && gone.forall(_.contains(".tmp.")), gone)
    aged.foreach(p => assert(!fs.exists(p), s"$p must be vacuumed"))
    assert(fs.exists(fresh) && fs.exists(named))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$table/_claims/v=$head")))
    assert(Sinks.snapshotCommitted(spark, table).contains(head))
    s.close()
  }

  test("every flat publish claims its version: a foreign claim at head+1 is never written into") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val table = s"${s.dir}/claimed_head"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val df = Seq((1L, "a")).toDF("id", "v")
    assert(Sinks.writeSnapshot(df, table) == 1)
    val publishers: Seq[(String, () => Int)] = Seq(
      "writeSnapshot" -> (() => Sinks.writeSnapshot(df, table)),
      "writeSnapshotBucketed" -> (() => Sinks.writeSnapshotBucketed(df, table, "id", 2)),
      "writeSnapshotWithManifest" -> (() =>
        Sinks.writeSnapshotWithManifest(df, table, Seq("id"))))
    publishers.foreach { case (name, publish) =>
      val head = Sinks.snapshotCommitted(spark, table).get
      // another writer holds head+1: claimed, nothing landed yet
      fs.create(new org.apache.hadoop.fs.Path(
        s"$table/_claims/v=${head + 1}"), false).close()
      val v = publish()
      assert(v >= head + 2, s"$name committed v=$v over the claimed v=${head + 1}")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$table/v=${head + 1}")),
        s"$name wrote into the claimed v=${head + 1}")
      assert(Sinks.snapshotCommitted(spark, table).contains(v))
      assert(Sinks.readSnapshot(spark, table).count() == 1)
    }
    s.close()
  }

  test("a pointer swap that keeps failing surfaces as an error, not a hang") {
    import spark.implicits._
    val s = new graft.Session.Scratch
    val table = s"${s.dir}/stuck_pointer"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a non-empty DIRECTORY named _latest: no pointer rename can replace it
    fs.create(new org.apache.hadoop.fs.Path(s"$table/_latest/blocker"), false)
      .close()
    val df = Seq((1L, "a")).toDF("id", "v")
    // a TimeoutException here (rather than the expected failure) means the
    // commit's repair loop spun without bound
    def failsWithin(publish: => Int): Unit = {
      val done = new java.util.concurrent.CompletableFuture[Int]()
      val writer = new Thread(() =>
        try done.complete(publish): Unit
        catch { case t: Throwable => done.completeExceptionally(t): Unit })
      writer.setDaemon(true)
      writer.start()
      intercept[java.util.concurrent.ExecutionException] {
        done.get(90, java.util.concurrent.TimeUnit.SECONDS)
      }: Unit
    }
    failsWithin(Sinks.writeSnapshot(df, table))
    // a caller-chosen version skips allocation: its data lands and its
    // commit goes straight into the repair loop, which must give up
    failsWithin(Sinks.writeSnapshotAs(df, table, 1))
    assert(Sinks.snapshotVersions(spark, table) == Seq(1))
    // every failed swap attempt cleaned up its temp pointer file
    val leftover = fs.listStatus(new org.apache.hadoop.fs.Path(table))
      .map(_.getPath.getName).filter(_.contains("_latest.tmp."))
    assert(leftover.isEmpty,
      s"${leftover.length} temp pointer files left, e.g. ${leftover.headOption}")
    s.close()
  }

  test("a publish whose commit fails leaves the committed shape as it was; " +
       "the ids it allocated are never reused") {
    import spark.implicits._
    import graft.sources.ColumnIds
    import org.apache.spark.sql.connector.catalog.TableChange
    val s = new graft.Session.Scratch
    val t = s"${s.dir}/failed_shape"
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Sinks.writeSnapshot(Seq((1L, "a", 10)).toDF("id", "v", "extra"), t): Unit
    // a FILE where the commit records go: every later commit record fails,
    // after the version's data has landed
    val commits = new org.apache.hadoop.fs.Path(s"$t/_commits")
    fs.delete(commits, true): Unit
    fs.create(commits, false).close()
    // a full publish that omits `extra` (would retire it), retypes `v` and
    // adds `more` (allocates an id)
    intercept[Exception] {
      Sinks.writeSnapshot(Seq((2L, 7, "m")).toDF("id", "v", "more"), t)
    }
    assert(Sinks.snapshotCommitted(spark, t).contains(1))
    val head = Sinks.readSnapshot(spark, t)
    assert(head.columns.toSeq == Seq("id", "v", "extra"))
    assert(head.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .toSeq == Seq((1L, "a", 10)))
    fs.delete(commits, true): Unit
    // the column the failed publish would have retired still renames
    Sinks.alterSnapshotSchema(spark, t)(ColumnIds.evolve(_,
      Seq(TableChange.renameColumn(Array("extra"), "kept")),
      ColumnIds.Surface("snapshot tables", "failed_shape", "republish"), _))
    assert(Sinks.readSnapshot(spark, t).columns.toSeq == Seq("id", "v", "kept"))
    // id 4 went to the failed publish's `more`: the next new column gets 5
    Sinks.writeSnapshot(Seq((3L, "c", 30, "o")).toDF("id", "v", "kept", "other"), t): Unit
    val ids = Sinks.declaredSnapshotSchema(spark, t).get.fields
      .map(f => f.name -> ColumnIds.idOf(f)).toMap
    assert(ids == Map("id" -> 1L, "v" -> 2L, "kept" -> 3L, "other" -> 5L), ids)
    s.close()
  }

  test("a thin delta bound before a concurrent RENAME commits under the " +
       "renamed record") {
    import spark.implicits._
    import graft.sources.ColumnIds
    import org.apache.spark.sql.connector.catalog.TableChange
    val s = new graft.Session.Scratch
    val t = s"${s.dir}/alter_race"
    Sinks.writeSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t): Unit
    val bound = Sinks.declaredSnapshotSchema(spark, t).get
    // the delta's parts land under the record it bound...
    val staged = new org.apache.hadoop.fs.Path(t, ".dml_staging_race")
    val ups = Seq((1L, "z")).toDF("id", "v")
    ups.select(ColumnIds.withDeclaredIds(ups.schema, Some(bound)).fields.toSeq
        .map(f => col(f.name).as(f.name, f.metadata)): _*)
      .write.parquet(new org.apache.hadoop.fs.Path(staged, "_upserts").toString)
    // ...an ALTER lands before its publish
    Sinks.alterSnapshotSchema(spark, t)(ColumnIds.evolve(_,
      Seq(TableChange.renameColumn(Array("v"), "w")),
      ColumnIds.Surface("snapshot tables", "alter_race", "republish"), _))
    Sinks.publishThinStagedDelta(spark, t, Seq("id"), 1, staged, bound): Unit
    val head = Sinks.readSnapshot(spark, t)
    assert(head.columns.toSeq == Seq("id", "w"))
    assert(head.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("z", "b"))
    s.close()
  }

  test("key markers written before field ids (column names) still resolve") {
    import spark.implicits._
    import graft.sources.MetaFs
    val s = new graft.Session.Scratch
    val t = s"${s.dir}/name_keys"
    Sinks.writeSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t): Unit
    Sinks.declareSnapshotKeys(spark, t, Seq("id"))
    val v2 = Sinks.deleteSnapshotKeys(spark, t, Seq(1L).toDF("id"), Seq("id"))
    MetaFs.replace(spark, new org.apache.hadoop.fs.Path(t, "_keycols"), "id")
    MetaFs.replace(spark,
      new org.apache.hadoop.fs.Path(s"$t/v=$v2/_base.json"), "1\nid")
    Sinks.invalidateMarkerCache(t)
    assert(Sinks.snapshotDeclaredKeys(spark, t).contains(Seq("id")))
    assert(Sinks.readSnapshot(spark, t).collect().map(_.getLong(0)).toSeq == Seq(2L))
    s.close()
  }

  test("per-writer TIMESTAMP_MICROS: sink writes under an INT96-default " +
       "session carry footer-usable ts stats; the caller's conf is untouched") {
    // a fresh session pinned to Spark's INT96 default — the shared test
    // session sets MICROS session-wide, which would mask the per-writer path
    val s2 = TestSpark.spark.newSession()
    s2.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    import s2.implicits._
    val sc = new graft.Session.Scratch
    try {
      val lo = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
      val df = Seq((1L, lo), (2L, hi)).toDF("id", "ts")
      val tdir = s"${sc.dir}/micros_snap"
      assert(Sinks.writeSnapshotWithManifest(df.coalesce(1), tdir, Seq("ts")) == 1)
      // per-WRITER scope: the caller's session default must survive the write
      assert(s2.conf.get("spark.sql.parquet.outputTimestampType") == "INT96")
      // the footer-built manifest has usable ts bounds — INT96 footers
      // would have degraded both to NULL (FooterStats conservative contract)
      val m = s2.read.parquet(s"$tdir/_manifest/v=1")
        .select("min_ts", "max_ts").first()
      assert(!m.isNullAt(0) && !m.isNullAt(1),
        "ts bounds NULL — the data write fell back to INT96")
      assert(m.getTimestamp(0) == lo && m.getTimestamp(1) == hi)
      // values round-trip identically through the isolated-session write
      assert(s2.read.parquet(s"$tdir/v=1").orderBy("id")
        .collect().map(_.getTimestamp(1)).toSeq == Seq(lo, hi))

      // the partitioned workspace's V1 INSERT path (its own writer) too
      s2.conf.set("spark.sql.catalog.micros_ws",
        "graft.sources.WorkspaceCatalog")
      s2.conf.set("spark.sql.catalog.micros_ws.workspace", sc.dir)
      s2.sql("""CREATE TABLE micros_ws.mt (id BIGINT, ts TIMESTAMP)
               |PARTITIONED BY (days(ts))""".stripMargin)
      s2.sql("INSERT INTO micros_ws.mt VALUES " +
        "(1, TIMESTAMP '2024-01-01 06:00:00'), " +
        "(2, TIMESTAMP '2024-01-01 18:00:00')")
      val leaf = new org.apache.hadoop.fs.Path(s"${sc.dir}/mt.parquet/ts_day=19723")
      val hconf = s2.sessionState.newHadoopConf()
      val file = leaf.getFileSystem(hconf).listStatus(leaf)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .head.getPath
      val (_, stats) = graft.sources.FooterStats.fileStats(hconf, file,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.TimestampType))), Seq("ts"))
      assert(stats("ts").min != null && stats("ts").max != null,
        "leaf file ts bounds NULL — the V1 partitioned insert wrote INT96")
      assert(s2.conf.get("spark.sql.parquet.outputTimestampType") == "INT96")
    } finally sc.close()
  }
}
