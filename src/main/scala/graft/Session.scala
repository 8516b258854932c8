package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Session / catalog / state management — SURVEY §2.8 (C1-C7).
  *
  * The reference manages ambient state (current workspace, overwrite flag,
  * scratch databases with janitor) via context managers
  * (`/root/reference/smartpy_arc/arc_utils.py:93-330`) and resolves names
  * against a project catalog with uniqueness checks (`pro_utils.py:12-130`).
  * Spark equivalents: a current-workspace path (scoped swap), per-write
  * SaveMode, temp dirs under java.io.tmpdir with a prefix-scoped janitor, and
  * temp-view resolution through the session catalog.
  */
object Session {

  /** C1 `TempWork`: scoped current-workspace (directory) swap. */
  final class Workspace(initial: String) {
    @volatile private var current: String = initial
    def dir: String = current
    def table(spark: SparkSession, name: String): DataFrame =
      Tables.load(spark, current, name)
    /** Run `body` with the workspace swapped, restore on exit
      * (`arc_utils.py:93-118`). */
    def withWork[T](tmp: String)(body: => T): T = {
      val prev = current
      current = tmp
      try body finally current = prev
    }
  }

  /** C5 `ScratchGdb`: unique scratch dir, deleted on close; janitor clears
    * leftovers by prefix (`arc_utils.py:179-330`). */
  val ScratchPrefix = "__graft_scratch__"

  /** Owner-liveness marker: each scratch dir records the PID that created
    * it, and the janitor SKIPS dirs whose owner is still running. This is
    * the Spark-world form of the reference janitor's lock tolerance
    * (`arc_utils.py:268-284` skips gdbs it cannot lock): without it, a
    * `clearScratch` in one JVM (a test suite, a second gate run) deletes a
    * concurrently-running JVM's live scratch — which killed a streaming
    * query mid-batch by removing its checkpoint dir (round-8 notes). The
    * dot-prefixed marker file is invisible to Spark's file index. */
  private val OwnerMarker = ".owner_pid"

  final class Scratch extends AutoCloseable {
    val path: Path = Files.createTempDirectory(ScratchPrefix)
    Files.writeString(path.resolve(OwnerMarker),
      ProcessHandle.current().pid().toString)
    def dir: String = path.toString
    override def close(): Unit = deleteRecursively(path)
  }

  def withScratch[T](body: Scratch => T): T = {
    val s = new Scratch
    try body(s) finally s.close()
  }

  /** `list_gdbs`/`clear_gdbs` janitor (`arc_utils.py:303-330`): enumerate /
    * delete scratch dirs left behind by crashed sessions. Lock-tolerant: a
    * dir owned by a LIVE other process is skipped (see [[OwnerMarker]]),
    * and a dir that refuses deletion is skipped, not fatal
    * (`arc_utils.py:268-284`). */
  def listScratch(): Seq[Path] = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val s = Files.list(tmp)
    try s.filter(p => p.getFileName.toString.startsWith(ScratchPrefix))
      .toArray.toSeq.map(_.asInstanceOf[Path])
    finally s.close()
  }

  /** True iff the dir belongs to this process, or its owner is dead or
    * unknown (crashed-session leftovers — the janitor's actual targets). */
  private def reclaimable(p: Path): Boolean = {
    val self = ProcessHandle.current().pid()
    try {
      val marker = p.resolve(OwnerMarker)
      if (!Files.exists(marker)) true // pre-marker leftover
      else {
        val pid = Files.readString(marker).trim.toLong
        val oh = ProcessHandle.of(pid)
        pid == self || !(oh.isPresent && oh.get().isAlive)
      }
    } catch { case _: Exception => true }
  }

  def clearScratch(): Int = {
    var n = 0
    listScratch().filter(reclaimable).foreach { p =>
      try { deleteRecursively(p); n += 1 } catch { case _: Exception => }
    }
    n
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** Run `body` with the session confs `confs` set, then restore each
    * key's previous value — or unset it if it had none. Confs bind when a
    * plan is optimized, so run the action inside `body`. */
  def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** C6 uniqueness-checked temp-view resolution (`pro_utils.py:99-103`):
    * 0 matches or >1 case-insensitive matches → error. */
  def resolveView(spark: SparkSession, name: String): DataFrame = {
    val matches = spark.catalog.listTables().collect()
      .filter(_.name.equalsIgnoreCase(name))
    matches.length match {
      case 1 => spark.table(matches.head.name)
      case 0 => throw new IllegalArgumentException(s"no table/view named '$name'")
      case n => throw new IllegalArgumentException(s"name '$name' is ambiguous ($n matches)")
    }
  }

  /** C7 introspection shims (`arc_utils.py:42-84`). */
  def listFlds(df: DataFrame): Seq[String] = df.columns.toSeq
  def listFldTypes(df: DataFrame): Map[String, String] =
    df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap

  /** C7 `get_oid_fld` (`arc_utils.py:67-72`): the row-id column. Our model:
    * the column marked as index ([[graft.compat.Compat.IndexKey]]) wins,
    * else the conventional names; None when absent (the reference raises —
    * callers decide). */
  def getOidFld(df: DataFrame): Option[String] = {
    val byMeta = df.schema.fields.find(f =>
      f.metadata.contains(graft.compat.Compat.IndexKey))
    lazy val byName = df.columns.find(c =>
      c.equalsIgnoreCase("OBJECTID") || c.equalsIgnoreCase("OID") || c.equalsIgnoreCase("FID"))
    byMeta.map(_.name).orElse(byName)
  }

  /** C7 `get_shp_fld` (`arc_utils.py:75-84`): the geometry column. Our
    * model: a struct column with envelope (xmin..) or point (x,y,srid)
    * fields — SURVEY §1.1. */
  def getShpFld(df: DataFrame): Option[String] =
    df.schema.fields.collectFirst {
      case f @ org.apache.spark.sql.types.StructField(_,
          st: org.apache.spark.sql.types.StructType, _, _)
        if st.fieldNames.contains("xmin") ||
           (st.fieldNames.contains("x") && st.fieldNames.contains("y")) => f.name
    }

  /** C4 `CheckoutExtension` (`arc_utils.py:155-176`): scoped license
    * checkout. No Spark analog — a faithful no-op scope kept for API parity
    * (the reference's callers wrap geoprocessing in it). */
  def withExtension[T](name: String)(body: => T): T = body
}
