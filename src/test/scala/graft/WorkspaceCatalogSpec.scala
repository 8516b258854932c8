package graft

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

/** Workspace TableCatalog: name resolution + full DSv2 pushdown delegation. */
class WorkspaceCatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def enable(): Unit = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.WorkspaceCatalog")
    spark.conf.set("spark.sql.catalog.graft.workspace", sf)
  }

  test("tables resolve by name through the catalog; values match direct reads") {
    enable()
    val viaCatalog = spark.sql("SELECT count(*) AS n FROM graft.nation").first().getLong(0)
    assert(viaCatalog == Tables.load(spark, sf, "nation").count())
  }

  test("case-insensitive resolution (SURVEY §1.2), miss raises like pro_utils.py:99-103") {
    enable()
    assert(spark.sql("SELECT count(*) AS n FROM graft.NATION").first().getLong(0) == 25)
    val e = intercept[AnalysisException] {
      spark.sql("SELECT * FROM graft.no_such_table").collect()
    }
    assert(e.getMessage.toLowerCase.contains("table"))
  }

  test("pushdown and pruning reach the parquet scan through the catalog") {
    enable()
    val df = spark.sql(
      "SELECT l_orderkey FROM graft.lineitem WHERE l_quantity > 45")
    val plan = df.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45"), plan)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema:")).get
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_extendedprice"), readSchema)
    assert(df.count() > 0)
  }

  test("write path: CTAS + INSERT INTO + INSERT OVERWRITE + RENAME + DROP") {
    val scratch = new Session.Scratch
    spark.conf.set("spark.sql.catalog.graftrw", "graft.sources.WorkspaceCatalog")
    spark.conf.set("spark.sql.catalog.graftrw.workspace", scratch.dir)
    // CTAS lands <workspace>/<name>.parquet
    spark.sql(s"CREATE TABLE graftrw.top_nations AS " +
      s"SELECT n_nationkey, n_name FROM parquet.`$sf/nation.parquet` WHERE n_nationkey < 10")
    assert(new java.io.File(s"${scratch.dir}/top_nations.parquet").isDirectory)
    assert(spark.sql("SELECT count(*) AS n FROM graftrw.top_nations").first().getLong(0) == 10)
    // DML append
    spark.sql(s"INSERT INTO graftrw.top_nations " +
      s"SELECT n_nationkey, n_name FROM parquet.`$sf/nation.parquet` WHERE n_nationkey >= 20")
    assert(spark.sql("SELECT count(*) AS n FROM graftrw.top_nations").first().getLong(0) == 15)
    // C2 overwrite semantics
    spark.sql(s"INSERT OVERWRITE graftrw.top_nations " +
      s"SELECT n_nationkey, n_name FROM parquet.`$sf/nation.parquet` WHERE n_nationkey = 0")
    assert(spark.sql("SELECT count(*) AS n FROM graftrw.top_nations").first().getLong(0) == 1)
    // duplicate CREATE raises; RENAME moves the directory; DROP removes it
    intercept[Exception] {
      spark.sql("CREATE TABLE graftrw.TOP_NATIONS (x INT)")
    }
    spark.sql("ALTER TABLE graftrw.top_nations RENAME TO nations_kept")
    assert(!new java.io.File(s"${scratch.dir}/top_nations.parquet").exists())
    assert(spark.sql("SELECT count(*) AS n FROM graftrw.nations_kept").first().getLong(0) == 1)
    spark.sql("DROP TABLE graftrw.nations_kept")
    assert(!new java.io.File(s"${scratch.dir}/nations_kept.parquet").exists())
    spark.sql("DROP TABLE IF EXISTS graftrw.nations_kept") // no-throw on missing
  }

  test("empty created table reads back zero rows with the declared schema") {
    val scratch = new Session.Scratch
    spark.conf.set("spark.sql.catalog.graftrw2", "graft.sources.WorkspaceCatalog")
    spark.conf.set("spark.sql.catalog.graftrw2.workspace", scratch.dir)
    spark.sql("CREATE TABLE graftrw2.empty_t (id BIGINT, name STRING)")
    val df = spark.table("graftrw2.empty_t")
    assert(df.count() == 0)
    assert(df.schema.fieldNames.toSeq == Seq("id", "name"))
  }

  test("zero-row INSERT OVERWRITE leaves a readable empty table (sidecar survives truncate)") {
    val scratch = new Session.Scratch
    spark.conf.set("spark.sql.catalog.graftrw3", "graft.sources.WorkspaceCatalog")
    spark.conf.set("spark.sql.catalog.graftrw3.workspace", scratch.dir)
    spark.sql(s"CREATE TABLE graftrw3.zr AS " +
      s"SELECT n_nationkey, n_name FROM parquet.`$sf/nation.parquet`")
    assert(spark.sql("SELECT count(*) AS n FROM graftrw3.zr").first().getLong(0) == 25)
    // an overwrite whose query yields ZERO rows removes every data file
    // (and possibly the directory) — the table must stay readable with its
    // declared schema, not fail schema inference
    spark.sql(s"INSERT OVERWRITE graftrw3.zr " +
      s"SELECT n_nationkey, n_name FROM parquet.`$sf/nation.parquet` WHERE n_nationkey < 0")
    val df = spark.table("graftrw3.zr")
    assert(df.count() == 0)
    assert(df.schema.fieldNames.toSeq == Seq("n_nationkey", "n_name"))
    // and it comes back to life on the next insert
    spark.sql(s"INSERT INTO graftrw3.zr " +
      s"SELECT n_nationkey, n_name FROM parquet.`$sf/nation.parquet` WHERE n_nationkey < 5")
    assert(spark.sql("SELECT count(*) AS n FROM graftrw3.zr").first().getLong(0) == 5)
  }

  test("ALTER TABLE ADD COLUMN is metadata-only: old rows read null, new inserts carry it") {
    val scratch = new Session.Scratch
    spark.conf.set("spark.sql.catalog.graftalt", "graft.sources.WorkspaceCatalog")
    spark.conf.set("spark.sql.catalog.graftalt.workspace", scratch.dir)
    spark.sql(s"CREATE TABLE graftalt.evo AS " +
      s"SELECT n_nationkey, n_name FROM parquet.`$sf/nation.parquet` WHERE n_nationkey < 3")
    val filesBefore = Option(new java.io.File(s"${scratch.dir}/evo.parquet").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    spark.sql("ALTER TABLE graftalt.evo ADD COLUMN score DOUBLE")
    // metadata-only: no data file rewritten
    val filesAfter = Option(new java.io.File(s"${scratch.dir}/evo.parquet").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    assert(filesAfter == filesBefore, "ADD COLUMN must not rewrite data files")
    // old rows conform with null; new-schema inserts carry the value
    spark.sql("INSERT INTO graftalt.evo VALUES (99, 'NEWLAND', 0.5)")
    val rows = spark.sql(
      "SELECT n_nationkey, score FROM graftalt.evo ORDER BY n_nationkey").collect()
    assert(rows.length == 4)
    assert(rows.take(3).forall(_.isNullAt(1)), "pre-ALTER rows must read null")
    assert(rows.last.getDouble(1) == 0.5)
    // only nullable top-level adds; non-evolvable ALTERs rejected
    intercept[Exception] {
      spark.sql("ALTER TABLE graftalt.evo ALTER COLUMN n_name TYPE DOUBLE") }
    intercept[Exception] { spark.sql("ALTER TABLE graftalt.evo ADD COLUMN score STRING") }
    // FIRST/AFTER would reshape files on disk: refused, sidecar untouched
    val sidecar = new java.io.File(s"${scratch.dir}/_graft_schema/evo.json")
    val declared = java.nio.file.Files.readString(sidecar.toPath)
    val first = intercept[Exception] {
      spark.sql("ALTER TABLE graftalt.evo ADD COLUMN x INT FIRST") }
    assert(first.getMessage.contains("FIRST/AFTER"), first.getMessage)
    assert(java.nio.file.Files.readString(sidecar.toPath) == declared)
  }

  test("concurrent ADD COLUMNs serialize on the DDL lock: none lost, ids distinct") {
    val (scratch, cat) = dmlWorkspace()
    spark.sql(s"CREATE TABLE $cat.cc (k BIGINT)")
    val n = 8
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { i =>
      new Thread(() =>
        try {
          barrier.await()
          // a held lock fails fast, as on the snapshot catalog: the loser
          // retries the statement
          var done = false
          while (!done)
            try { spark.sql(s"ALTER TABLE $cat.cc ADD COLUMN c$i STRING"); done = true }
            catch { case e: Throwable
                if Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(
                  _.isInstanceOf[java.util.ConcurrentModificationException]) =>
              Thread.sleep(10) }
        } catch { case t: Throwable => errors.add(t): Unit })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, errors.toString)
    val sidecar = org.apache.spark.sql.types.DataType.fromJson(
      java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"${scratch.dir}/_graft_schema/cc.json")))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(sidecar.fieldNames.toSet == ((0 until n).map(i => s"c$i") :+ "k").toSet,
      sidecar.fieldNames.toSeq.toString)
    val ids = sidecar.fields.map(_.metadata.getLong("parquet.field.id"))
    assert(ids.distinct.length == ids.length, ids.toSeq.toString)
  }

  test("DROP COLUMN is metadata-only; a re-ADD of the same name reads old " +
       "files as NULL, never as the dropped column's bytes") {
    val (scratch, cat) = dmlWorkspace()
    spark.sql(s"CREATE TABLE $cat.dr AS SELECT CAST(n_nationkey AS BIGINT) " +
      s"AS k, n_name AS name, CAST(n_regionkey AS INT) AS r " +
      s"FROM parquet.`$sf/nation.parquet` WHERE n_nationkey < 5")
    def files() = Option(new java.io.File(s"${scratch.dir}/dr.parquet").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified, f.length)).toSet
    val before = files()
    spark.sql(s"ALTER TABLE $cat.dr DROP COLUMN name")
    assert(files() == before, "DROP COLUMN must not rewrite data files")
    assert(spark.table(s"$cat.dr").columns.toSeq == Seq("k", "r"))
    assert(spark.sql(s"SELECT SUM(r) FROM $cat.dr").first().getLong(0) ==
      spark.read.parquet(s"$sf/nation.parquet").filter("n_nationkey < 5")
        .agg(org.apache.spark.sql.functions.sum("n_regionkey")).first().getLong(0))
    // THE resurrection fact: re-ADD of the dropped NAME takes a fresh
    // field id, so the old files' bytes read as NULL under it
    spark.sql(s"ALTER TABLE $cat.dr ADD COLUMN name STRING")
    val back = spark.sql(s"SELECT k, name FROM $cat.dr ORDER BY k").collect()
    assert(back.length == 5 && back.forall(_.isNullAt(1)),
      "re-added column must NOT resurrect dropped bytes")
    // new writes bind it; DML works over the mixed files
    spark.sql(s"INSERT INTO $cat.dr VALUES (99, 7, 'NEWLAND')")
    spark.sql(s"UPDATE $cat.dr SET name = 'OLD' WHERE k = 1")
    spark.sql(s"DELETE FROM $cat.dr WHERE k = 0")
    val got = spark.sql(s"SELECT k, name FROM $cat.dr ORDER BY k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
    assert(got.toSeq == Seq((1L, "OLD"), (2L, null), (3L, null), (4L, null),
      (99L, "NEWLAND")), got.mkString(","))
    // guardrails: last live column, unknown column, reserved prefix
    spark.sql(s"CREATE TABLE $cat.dr1 (only BIGINT)")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.dr1 DROP COLUMN only") }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.dr DROP COLUMN missing") }
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.dr2 (__dropped_9 BIGINT, x STRING)") }
  }

  test("pushdown and pruning survive the declared-schema (post-ALTER) read path") {
    val scratch = new Session.Scratch
    spark.conf.set("spark.sql.catalog.graftpd", "graft.sources.WorkspaceCatalog")
    spark.conf.set("spark.sql.catalog.graftpd.workspace", scratch.dir)
    spark.sql(s"CREATE TABLE graftpd.pd AS " +
      s"SELECT l_orderkey, l_quantity, l_extendedprice FROM parquet.`$sf/lineitem.parquet`")
    spark.sql("ALTER TABLE graftpd.pd ADD COLUMN note STRING")
    // the table now serves through a user-specified schema (the sidecar);
    // filters must still reach the parquet scan and the read schema must
    // still prune to the requested columns
    val df = spark.sql("SELECT l_orderkey FROM graftpd.pd WHERE l_quantity > 45")
    val plan = df.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45"), plan)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema:")).get
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_extendedprice") &&
      !readSchema.contains("note"), readSchema)
    assert(df.count() > 0)
  }

  test("listTables enumerates the workspace") {
    enable()
    import scala.jdk.CollectionConverters._
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val names = cat.listTables(Array.empty).map(_.name()).toSet
    assert(Tables.All.toSet.subsetOf(names))
  }

  private def dmlWorkspace(): (Session.Scratch, String) = {
    val scratch = new Session.Scratch
    val cat = "graftdml_" + java.lang.Long.toHexString(System.nanoTime() & 0xffffffL)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.WorkspaceCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.workspace", scratch.dir)
    (scratch, cat)
  }

  test("SQL DELETE: translatable predicate takes the deleteWhere path; NULL condition keeps rows") {
    val (_, cat) = dmlWorkspace()
    spark.sql(s"CREATE TABLE $cat.t AS SELECT CAST(n_nationkey AS BIGINT) AS k, " +
      s"CASE WHEN n_nationkey % 5 = 0 THEN CAST(NULL AS BIGINT) ELSE CAST(n_regionkey AS BIGINT) END AS r " +
      s"FROM parquet.`$sf/nation.parquet`")
    spark.sql(s"DELETE FROM $cat.t WHERE r = 2")
    // rows with r IS NULL must SURVIVE a `r = 2` delete (three-valued logic)
    val left = spark.sql(s"SELECT k, r FROM $cat.t").collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1))).toSet
    assert(left.count(_._2 == -1L) == 5, left.toString)
    assert(!left.exists(_._2 == 2L), left.toString)
    assert(left.size == 25 - 5, left.toString) // 5 nations in region 2, none NULL-keyed
    // key-list takedown shape
    spark.sql(s"DELETE FROM $cat.t WHERE k IN (1, 3, 5)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t").first().getLong(0) == 17)
  }

  test("SQL DELETE with a non-translatable predicate goes through the COW rewrite") {
    val (_, cat) = dmlWorkspace()
    spark.sql(s"CREATE TABLE $cat.t AS SELECT n_nationkey AS k, n_name AS name " +
      s"FROM parquet.`$sf/nation.parquet`")
    // length(name) % 2 is not a V1 source filter — forces ReplaceData COW
    spark.sql(s"DELETE FROM $cat.t WHERE length(name) % 2 = 0")
    val want = spark.read.parquet(s"$sf/nation.parquet")
      .filter("length(n_name) % 2 <> 0").count()
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t").first().getLong(0) == want)
  }

  test("SQL UPDATE rewrites matched rows, leaves the rest byte-identical in value") {
    val (_, cat) = dmlWorkspace()
    spark.sql(s"CREATE TABLE $cat.t AS SELECT CAST(n_nationkey AS BIGINT) AS k, CAST(n_regionkey AS BIGINT) AS r, n_name AS name " +
      s"FROM parquet.`$sf/nation.parquet`")
    spark.sql(s"UPDATE $cat.t SET name = concat(name, '!'), r = r + 100 WHERE k < 5")
    val got = spark.sql(s"SELECT k, r, name FROM $cat.t ORDER BY k").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
    assert(got.length == 25)
    got.foreach { case (k, r, name) =>
      if (k < 5) { assert(r >= 100 && name.endsWith("!"), (k, r, name).toString) }
      else { assert(r < 100 && !name.endsWith("!"), (k, r, name).toString) }
    }
  }

  test("SQL MERGE INTO: matched-update, matched-delete, not-matched-insert in one statement") {
    val (_, cat) = dmlWorkspace()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.state AS SELECT CAST(n_nationkey AS BIGINT) AS k, CAST(n_regionkey AS BIGINT) AS v " +
      s"FROM parquet.`$sf/nation.parquet` WHERE n_nationkey < 10")
    Seq((3L, 77L, "upsert"), (5L, 0L, "del"), (40L, 88L, "upsert"), (9L, 99L, "upsert"))
      .toDF("k", "v", "op").createOrReplaceTempView("updates")
    spark.sql(
      s"""MERGE INTO $cat.state t USING updates s ON t.k = s.k
         |WHEN MATCHED AND s.op = 'del' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED AND s.op = 'upsert' THEN INSERT (k, v) VALUES (s.k, s.v)
         |""".stripMargin)
    val got = spark.sql(s"SELECT k, v FROM $cat.state ORDER BY k").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(!got.contains(5L), got.toString)           // matched-delete
    assert(got(3L) == 77L && got(9L) == 99L, got.toString) // matched-update
    assert(got(40L) == 88L, got.toString)             // not-matched-insert
    assert(got.size == 10, got.toString)              // 10 - 1 deleted + 1 inserted
    // untouched rows keep their original values
    assert(got(0L) == spark.read.parquet(s"$sf/nation.parquet")
      .filter("n_nationkey = 0").first().getInt(2).toLong)
  }

  test("SQL MERGE mirror-sync: NOT MATCHED BY SOURCE DELETE converges target to source") {
    val (_, cat) = dmlWorkspace()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.mirror AS SELECT CAST(n_nationkey AS BIGINT) AS k, " +
      s"CAST(n_regionkey AS BIGINT) AS v FROM parquet.`$sf/nation.parquet` WHERE n_nationkey < 15")
    // desired state: keys 5..19, values shifted — target must converge exactly
    spark.read.parquet(s"$sf/nation.parquet")
      .filter("n_nationkey >= 5 AND n_nationkey < 20")
      .selectExpr("CAST(n_nationkey AS BIGINT) AS k", "CAST(n_regionkey + 50 AS BIGINT) AS v")
      .createOrReplaceTempView("mirror_src")
    spark.sql(
      s"""MERGE INTO $cat.mirror t USING mirror_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
         |WHEN NOT MATCHED BY SOURCE THEN DELETE
         |""".stripMargin)
    val got = spark.sql(s"SELECT k, v FROM $cat.mirror ORDER BY k").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val want = spark.table("mirror_src").orderBy("k").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == want, s"target did not converge:\n got=$got\nwant=$want")
  }

  test("COW rewrite scan refuses pushdown: replaced-table query reads every surviving row") {
    // THE data-loss guard: the whole-directory replace write makes any
    // scan-side pruning under the pushed command condition a correctness
    // bug (a skipped row group's rows would vanish), so the row-level
    // operation's scan must show an EMPTY PushedFilters even for a
    // trivially translatable predicate
    val (_, cat) = dmlWorkspace()
    spark.sql(s"CREATE TABLE $cat.guard AS SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name " +
      s"FROM parquet.`$sf/nation.parquet`")
    // the DML plans through the group-based rewrite (not a pushed delete)
    val plan = spark.sql(
      s"EXPLAIN FORMATTED UPDATE $cat.guard SET name = 'x' WHERE k = 3")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("ReplaceData"), plan)
    plan.linesIterator.filter(_.contains("PushedFilters")).foreach(l =>
      assert(l.contains("PushedFilters: []"),
        s"COW scan pushed a filter — data-loss hazard:\n$l"))
    // structural guard: the operation's scan builder must implement NO
    // pushdown trait (filters, v2 predicates, column pruning, runtime
    // filtering) and must read the FULL table schema — any of those under
    // a whole-directory replace silently drops rows
    import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRowLevelOperations, TableCatalog}
    import org.apache.spark.sql.connector.read.{SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsPushDownV2Filters, SupportsRuntimeV2Filtering}
    import org.apache.spark.sql.connector.write.{RowLevelOperation, RowLevelOperationInfo}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val tbl = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array.empty, "guard"))
      .asInstanceOf[SupportsRowLevelOperations]
    val op = tbl.newRowLevelOperationBuilder(new RowLevelOperationInfo {
      override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
      override def command(): RowLevelOperation.Command = RowLevelOperation.Command.UPDATE
    }).build()
    val sb = op.newScanBuilder(CaseInsensitiveStringMap.empty())
    assert(!sb.isInstanceOf[SupportsPushDownFilters], "COW scan accepts V1 filter pushdown")
    assert(!sb.isInstanceOf[SupportsPushDownV2Filters], "COW scan accepts V2 filter pushdown")
    assert(!sb.isInstanceOf[SupportsPushDownRequiredColumns], "COW scan accepts column pruning")
    assert(!sb.isInstanceOf[SupportsRuntimeV2Filtering], "COW scan accepts runtime filtering")
    assert(sb.build().readSchema().fieldNames.toSeq == Seq("k", "name"),
      "COW scan must read the full table schema")
  }

  test("ALTER TABLE RENAME COLUMN: metadata-only via parquet field ids, old files resolve") {
    val (scratch, cat) = dmlWorkspace()
    spark.sql(s"CREATE TABLE $cat.rn AS SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name " +
      s"FROM parquet.`$sf/nation.parquet` WHERE n_nationkey < 5")
    def files() = Option(new java.io.File(s"${scratch.dir}/rn.parquet").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified, f.length)).toSet
    val before = files()
    spark.sql(s"ALTER TABLE $cat.rn RENAME COLUMN name TO nation_name")
    assert(files() == before, "RENAME COLUMN must not rewrite data files")
    // files written under the OLD name resolve by field id under the new one
    val got = spark.sql(s"SELECT k, nation_name FROM $cat.rn ORDER BY k").collect()
    assert(got.length == 5)
    assert(got.forall(r => !r.isNullAt(1)), "old-footer columns must resolve, not null-fill")
    assert(got.head.getString(1) == spark.read.parquet(s"$sf/nation.parquet")
      .filter("n_nationkey = 0").first().getString(1))
    // inserts under the new name land physically with the same field id
    spark.sql(s"INSERT INTO $cat.rn VALUES (99, 'NEWLAND')")
    val all = spark.sql(s"SELECT k, nation_name FROM $cat.rn ORDER BY k").collect()
    assert(all.length == 6 && all.last.getString(1) == "NEWLAND")
    // row-level DML keeps resolving mixed-name files after the rename
    spark.sql(s"DELETE FROM $cat.rn WHERE k = 0")
    spark.sql(s"UPDATE $cat.rn SET nation_name = concat(nation_name, '?') WHERE k = 1")
    val after = spark.sql(s"SELECT k, nation_name FROM $cat.rn ORDER BY k").collect()
    assert(after.length == 5 && after.head.getLong(0) == 1L)
    assert(after.head.getString(1).endsWith("?"))
    assert(!after(1).getString(1).endsWith("?"))
    assert(after.forall(r => !r.isNullAt(1)))
    // a second evolution round: ADD COLUMN takes max(id)+1, then renames too
    spark.sql(s"ALTER TABLE $cat.rn ADD COLUMN extra STRING")
    spark.sql(s"ALTER TABLE $cat.rn RENAME COLUMN extra TO note")
    assert(spark.table(s"$cat.rn").schema.fieldNames.toSeq ==
      Seq("k", "nation_name", "note"))
    // guardrails
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.rn RENAME COLUMN note TO nation_name")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.rn RENAME COLUMN missing TO x")
    }
  }

  test("flat-table DML fence: held lock aborts UPDATE and DELETE, releases on commit") {
    val (scratch, cat) = dmlWorkspace()
    spark.sql(s"CREATE TABLE $cat.ft AS SELECT id AS k, CAST(id % 3 AS INT) AS g " +
      s"FROM RANGE(30)")
    val lock = new org.apache.hadoop.fs.Path(s"${scratch.dir}/.ft.parquet.__dml_lock")
    val f = lock.getFileSystem(spark.sessionState.newHadoopConf())
    f.create(lock, false).close()
    def causes(t: Throwable) = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).flatMap(x => Option(x.getMessage)).toSeq
    val e = intercept[Throwable] {
      spark.sql(s"UPDATE $cat.ft SET g = 9 WHERE k < 5") // COW rewrite path
    }
    assert(causes(e).exists(_.contains("DML statement holds the lock")), e.toString)
    val e2 = intercept[Throwable] {
      spark.sql(s"DELETE FROM $cat.ft WHERE g = 1")      // deleteWhere path
    }
    assert(causes(e2).exists(_.contains("DML statement holds the lock")), e2.toString)
    assert(spark.table(s"$cat.ft").count() == 30, "aborted statements must not apply")
    f.delete(lock, false)
    spark.sql(s"UPDATE $cat.ft SET g = 9 WHERE k < 5")
    assert(spark.table(s"$cat.ft").filter(org.apache.spark.sql.functions
      .col("g") === 9).count() == 5)
    assert(!f.exists(lock), "lock must release after commit")
  }

  test("DML leaves no staging debris and the sidecar-declared schema survives a DELETE") {
    val (scratch, cat) = dmlWorkspace()
    spark.sql(s"CREATE TABLE $cat.t AS SELECT n_nationkey AS k FROM parquet.`$sf/nation.parquet`")
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN note STRING")
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 20")
    // declared (post-ALTER) schema still drives the read after the COW swap
    val df = spark.sql(s"SELECT * FROM $cat.t")
    assert(df.schema.fieldNames.toSeq == Seq("k", "note"), df.schema.treeString)
    assert(df.count() == 20)
    val debris = new java.io.File(scratch.dir).listFiles()
      .map(_.getName).filter(n => n.contains("__cow_") || n.contains("__replaced_"))
    assert(debris.isEmpty, debris.mkString(","))
  }

  test("ALTER COLUMN TYPE widening: metadata-only on flat tables, mixed-typed " +
       "files serve; partitioned stay ADD-only") {
    val (scratch, cat) = dmlWorkspace()
    spark.sql(s"CREATE TABLE $cat.wd AS SELECT CAST(n_nationkey AS BIGINT) " +
      s"AS k, CAST(n_regionkey AS INT) AS r FROM parquet.`$sf/nation.parquet` " +
      "WHERE n_nationkey < 5")
    def files() = Option(new java.io.File(s"${scratch.dir}/wd.parquet").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified, f.length)).toSet
    val before = files()
    spark.sql(s"ALTER TABLE $cat.wd ALTER COLUMN r TYPE BIGINT")
    assert(files() == before, "widening must not rewrite data files")
    assert(spark.table(s"$cat.wd").schema("r").dataType.simpleString == "bigint")
    // old int-typed files serve natively under the widened schema
    assert(spark.sql(s"SELECT SUM(r) FROM $cat.wd").first().getLong(0) ==
      spark.read.parquet(s"$sf/nation.parquet").filter("n_nationkey < 5")
        .agg(org.apache.spark.sql.functions.sum("n_regionkey")).first().getLong(0))
    // a bigint-only value lands; DML reads the mixed-typed directory
    spark.sql(s"INSERT INTO $cat.wd VALUES (99, ${1L << 40})")
    spark.sql(s"UPDATE $cat.wd SET r = r + ${1L << 41} WHERE k = 0")
    spark.sql(s"DELETE FROM $cat.wd WHERE k = 1")
    val got = spark.sql(s"SELECT k, r FROM $cat.wd ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 5 && got.last == ((99L, 1L << 40)))
    assert(got.head._2 >= (1L << 41), got.head.toString)
    // guardrails: non-widening refused with guidance; partitioned tables
    // widen DATA columns too since r17 (their own ALTER-matrix spec) —
    // here just the non-widening refusal on one
    val bad = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.wd ALTER COLUMN k TYPE DECIMAL(30, 0)") }
    assert(bad.getMessage.contains("only lossless"), bad.getMessage)
    spark.sql(s"CREATE TABLE $cat.wp (id BIGINT, n INT, src STRING) " +
      "PARTITIONED BY (src)")
    spark.sql(s"ALTER TABLE $cat.wp ALTER COLUMN n TYPE BIGINT")
    assert(spark.table(s"$cat.wp").schema("n").dataType.simpleString == "bigint")
    val part = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.wp ALTER COLUMN id TYPE DECIMAL(30, 0)") }
    assert(part.getMessage.contains("only lossless"), part.getMessage)
  }
}
