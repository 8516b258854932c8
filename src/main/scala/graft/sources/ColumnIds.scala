package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.connector.catalog.TableChange
import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The column-identity contract every storage surface shares (flat and
  * partitioned workspace tables, flat and partitioned snapshots): a
  * column IS its `parquet.field.id`, its name is a label. Every data file
  * carries the ids and every read resolves the table's recorded schema by
  * id, so a metadata-only RENAME keeps matching old files, a DROP keeps
  * the field as a `__dropped_<id>` tombstone (its id is never reused) and
  * a re-ADD of a dropped name takes a fresh id: old bytes read as NULL
  * under it, never resurrected. The snapshot stores, flat and
  * partitioned, decide the matching themselves ([[sources]]): frames
  * resolve by projection ([[read]]) and SQL scans request each file
  * column under its own name ([[readSchema]]), one scan per own schema.
  * Spark's field-id reader ([[ReadConf]]) serves only the workspace
  * tables, which record no own names per write. How ids are assigned,
  * carried onto writes, resolved and evolved by `ALTER TABLE` is decided
  * here and nowhere else. */
private[graft] object ColumnIds {

  /** Field-metadata key of a column's parquet field id. */
  val Key = "parquet.field.id"

  /** Reserved name prefix of dropped-column tombstones. */
  val DroppedPrefix = "__dropped_"

  /** The SQLConf pair that makes Spark's parquet reader match requested
    * columns to file columns by id. Id matching engages only for fields
    * that carry an id, so id-less schemas keep matching by name. */
  val ReadConf: (String, String) = "spark.sql.parquet.fieldId.read.enabled" -> "true"

  /** A session reading by field id, for the workspace tables' V1 reads,
    * whose frames run on that session. The key is a SQLConf
    * that V1 `DataFrameReader` options never reach, so it is an isolated
    * clone; a plan spliced into another session's statement can lose it
    * — frames that travel use [[resolve]]. */
  def readSession(spark: SparkSession): SparkSession =
    WorkspaceDml.isolatedSession(spark, ReadConf)

  /** `df` — files read under their own footer schema — resolved onto
    * `target` by field id: a target column is the file column with its
    * id (by name when either side carries none), under the target's name
    * and type; target columns the file lacks read as NULL. So a renamed
    * column keeps its bytes, a re-added name never matches a dropped
    * column's, and a widened type casts up. A plain projection over a
    * by-name read, it needs no reader setting and holds on every reader
    * path and session the plan later runs on; filters push through it. */
  def resolve(df: DataFrame, target: StructType): DataFrame =
    df.select(target.fields.toSeq.zip(sources(df.schema, target)).map {
      case (t, src) =>
        src.fold(lit(null))(n => col(quoted(n))).cast(t.dataType).as(t.name, t.metadata)
    }: _*)

  /** `paths` (files of own schema `own`) read by name, resolved by id. */
  def read(spark: SparkSession, own: StructType, paths: Seq[String],
           target: StructType): DataFrame =
    resolve(spark.read.schema(own).parquet(paths: _*), target)

  /** The file column that serves each column of `target` in files whose
    * own schema is `own`: the one with the same field id (by name when
    * either side carries none); None when the files lack it. The one id
    * decision behind [[resolve]] and [[readSchema]]. */
  def sources(own: StructType, target: StructType): Seq[Option[String]] = {
    val byId = own.fields.filter(_.metadata.contains(Key)).map(f => idOf(f) -> f.name).toMap
    target.fields.toSeq.map { t =>
      if (t.metadata.contains(Key) && byId.nonEmpty) byId.get(idOf(t))
      else own.find(_.name.equalsIgnoreCase(t.name)).map(_.name)
    }
  }

  /** What a parquet scan of files whose own schema is `own` requests so
    * that its output is `target`, column for column: each column under
    * the own name of the file column that serves it ([[sources]]) with
    * the target's type, or under an unused placeholder name where the
    * files lack it (the reader fills it with NULL). No field-id metadata
    * and every column nullable, so any reader matches by name. */
  def readSchema(own: StructType, target: StructType): StructType = {
    val taken = own.fieldNames.map(_.toLowerCase).toSet
    val absent = Iterator.from(0).map(i => s"__absent_$i").filterNot(taken)
    StructType(target.fields.zip(sources(own, target)).map { case (t, src) =>
      StructField(src.getOrElse(absent.next()), t.dataType, nullable = true)
    })
  }

  /** A column name as a backquoted identifier. */
  def quoted(name: String): String = s"`${name.replace("`", "``")}`"

  /** DSv2 scan options with id matching on (file-source V2 scans merge
    * their options into the per-scan hadoop conf). */
  def withReadOption(options: CaseInsensitiveStringMap): CaseInsensitiveStringMap = {
    val merged = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.put(ReadConf._1, ReadConf._2): Unit
    new CaseInsensitiveStringMap(merged)
  }

  def idOf(f: StructField): Long = f.metadata.getLong(Key)

  private def withId(f: StructField, id: Long): StructField =
    f.copy(metadata = new MetadataBuilder()
      .withMetadata(f.metadata).putLong(Key, id).build())

  def isTombstone(name: String): Boolean = name.startsWith(DroppedPrefix)

  /** The schema minus dropped-column tombstones — what every read serves. */
  def live(schema: StructType): StructType =
    StructType(schema.fields.filterNot(f => isTombstone(f.name)))

  /** Ids 1..n when the schema carries none; untouched otherwise. */
  def stamp(schema: StructType): StructType =
    if (schema.fields.exists(_.metadata.contains(Key))) schema
    else StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      withId(f, i + 1L) })

  def isStamped(schema: StructType): Boolean =
    schema.fields.nonEmpty && schema.fields.forall(_.metadata.contains(Key))

  /** The highest field id `schema` carries, tombstones included; 0 for
    * none. */
  def maxId(schema: StructType): Long =
    schema.fields.filter(_.metadata.contains(Key)).map(idOf).foldLeft(0L)(math.max)

  /** A record's identity: its live columns in order (name, type, id) and
    * its tombstone ids — nullability and other metadata aside. Two
    * records with one fingerprint resolve every data file alike. */
  def fingerprint(schema: StructType): String = {
    def id(f: StructField) = if (f.metadata.contains(Key)) idOf(f).toString else ""
    val key = live(schema).fields.map(f => s"${f.name}:${f.dataType.json}:${id(f)}")
      .mkString("|") + "#" + schema.fields.filter(f => isTombstone(f.name))
      .map(id).sorted.mkString(",")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
  }

  /** A full rewrite's recorded schema: `incoming` re-mapped BY NAME onto
    * the ids `existing` records (ids `incoming` carries are ignored); new
    * names allocate above the max id (tombstones included) and above
    * `floor`, the highest id the table ever allocated; live fields the
    * rewrite lacks become tombstones, so their ids can never be reused. */
  def rebind(incoming: StructType, existing: StructType,
             floor: Long = 0L): StructType = {
    require(incoming.fieldNames.forall(!isTombstone(_)),
      s"'$DroppedPrefix' is a reserved column-name prefix (dropped-column tombstones)")
    val idFor: Map[String, Long] = existing.fields.map(f =>
      f.name.toLowerCase -> idOf(f)).toMap
    var nextId = math.max(floor, maxId(existing))
    val kept = incoming.fields.map { f =>
      withId(f, idFor.getOrElse(f.name.toLowerCase, { nextId += 1; nextId }))
    }
    val tombstones = existing.fields.collect {
      case f if isTombstone(f.name) => f
      case f if !incoming.fieldNames.exists(_.equalsIgnoreCase(f.name)) =>
        f.copy(name = s"$DroppedPrefix${idOf(f)}")
    }
    StructType(kept ++ tombstones)
  }

  /** A delta write's record: `existing` extended by the columns of
    * `incoming` it lacks and widened where `incoming` carries a wider
    * type — the ALTER fold's ADD and ALTER TYPE ([[evolve]]), so a delta
    * allocates ids and widens by the same rules as ALTER. */
  def extend(existing: StructType, incoming: StructType, s: Surface,
             floor: Long = 0L): StructType = {
    val cur = live(existing)
    evolve(existing, incoming.fields.toSeq.flatMap { i =>
      cur.fields.find(_.name.equalsIgnoreCase(i.name)) match {
        case None => Seq(TableChange.addColumn(Array(i.name), i.dataType, true))
        case Some(f) if SnapshotCatalog.widens(f.dataType, i.dataType) =>
          Seq(TableChange.updateColumnType(Array(f.name), i.dataType))
        case _ => Nil
      }
    }, s, floor)
  }

  /** `query` with the ids of `declared` put on by case-insensitive name.
    * Writes carry the query's attributes, whose metadata is whatever the
    * plan produced — nothing, or another table's ids — while every data
    * file of an id-stamped table must carry ITS ids (an id-less file under
    * an id-requesting read fails loudly by design). */
  def withDeclaredIds(query: StructType, declared: Option[StructType]): StructType =
    declared match {
      case Some(d) if d.fields.exists(_.metadata.contains(Key)) =>
        val byName = d.fields.map(f => f.name.toLowerCase -> f).toMap
        StructType(query.fields.map { f =>
          byName.get(f.name.toLowerCase).filter(_.metadata.contains(Key))
            .fold(f)(df => withId(f, idOf(df)))
        })
      case _ => query
    }

  /** The current names of `ids` under `schema`. */
  def namesOf(schema: StructType, ids: Seq[Long]): Seq[String] =
    ids.map(id => schema.fields.find(f =>
        f.metadata.contains(Key) && idOf(f) == id)
      .getOrElse(throw new IllegalStateException(
        s"no column with field id $id in ${schema.simpleString}")).name)

  /** The column names a key marker (`_keycols`, a thin version's
    * `_base.json`) lists: field ids, resolved under `schema`; a marker
    * written before field ids lists the names themselves. */
  def keyNames(schema: => StructType, tokens: Seq[String]): Seq[String] =
    tokens.map(t => t.toLongOption.fold(t)(id => namesOf(schema, Seq(id)).head))

  /** The ids of live columns `names` under `schema`. */
  def idsOf(schema: StructType, names: Seq[String]): Seq[Long] =
    names.map(n => live(schema).fields.find(_.name.equalsIgnoreCase(n))
      .filter(_.metadata.contains(Key))
      .map(idOf)
      .getOrElse(throw new IllegalArgumentException(
        s"no field-id-stamped column $n in ${schema.simpleString}")))

  /** What an ALTER fold needs to know about one storage surface: its
    * wording (`kind` — "snapshot tables"; `remedy` — how to evolve
    * beyond the metadata-only matrix) and its layout-baked columns, which
    * never rename or drop (their names bind directories on disk) and
    * widen only where the surface allows it. */
  final case class Surface(kind: String, table: String, remedy: String,
                           frozen: Set[String] = Set.empty,
                           frozenRole: String = "",
                           frozenWhy: String = "",
                           frozenMayWiden: Boolean = false)

  /** The ALTER fold every surface shares: ADD (nullable, appended, id =
    * max + 1 over the full schema), RENAME (same id), widening ALTER
    * COLUMN TYPE ([[SnapshotCatalog.widens]]) and DROP (renamed onto the
    * `__dropped_<id>` tombstone) applied to a recorded schema, tombstones
    * included; an ADD's id is also above `floor`, the highest id the
    * table ever allocated. RENAME and DROP need an id-stamped schema: on
    * an id-less one reads match by name, so a rename would null-fill old
    * files and a re-ADD would resurrect dropped bytes. */
  def evolve(schema: StructType, changes: Seq[TableChange],
             s: Surface, floor: Long = 0L): StructType = {
    def flat(names: Array[String], op: String): String = {
      require(names.length == 1,
        s"${s.kind} are flat; nested $op is not supported")
      names(0)
    }
    def notReserved(name: String): Unit =
      require(!isTombstone(name),
        s"'$DroppedPrefix' is a reserved column-name prefix (dropped-column tombstones)")
    def notFrozen(name: String, what: String): Unit =
      if (s.frozen.contains(name.toLowerCase))
        throw new UnsupportedOperationException(
          s"$what $name: it is a ${s.frozenRole} of ${s.table} — ${s.frozenWhy}")
    def needIds(cur: StructType, op: String): Unit =
      if (!isStamped(cur))
        throw new UnsupportedOperationException(
          s"$op needs parquet field ids on ${s.table} (tables this engine " +
            s"writes carry them); ${s.remedy}")
    def liveField(cur: StructType, name: String): StructField =
      live(cur).fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"no column $name in ${s.table}"))
    def absent(cur: StructType, name: String): Unit =
      if (cur.fieldNames.exists(_.equalsIgnoreCase(name)))
        throw new IllegalArgumentException(
          s"column $name already exists in ${s.table}")
    def replace(cur: StructType, f: StructField, g: StructField): StructType =
      StructType(cur.fields.map(x => if (x eq f) g else x))
    changes.foldLeft(schema) {
      case (cur, add: TableChange.AddColumn) =>
        val name = flat(add.fieldNames(), "ADD COLUMN")
        require(add.isNullable,
          "added columns must be nullable (existing data has no value for them)")
        require(add.position() == null,
          s"ADD COLUMN ... FIRST/AFTER is not supported on ${s.kind} " +
            "(added columns append; files on disk are never reshaped)")
        notReserved(name)
        absent(cur, name)
        val added = StructField(name, add.dataType(), nullable = true)
        cur.add(
          if (!isStamped(cur)) added
          else withId(added, math.max(floor, maxId(cur)) + 1L))
      case (cur, ren: TableChange.RenameColumn) =>
        val from = flat(ren.fieldNames(), "RENAME COLUMN")
        notFrozen(from, "cannot RENAME")
        needIds(cur, "RENAME COLUMN")
        notReserved(ren.newName())
        val f = liveField(cur, from)
        absent(cur, ren.newName())
        replace(cur, f, f.copy(name = ren.newName()))
      case (cur, upd: TableChange.UpdateColumnType) =>
        val name = flat(upd.fieldNames(), "ALTER COLUMN")
        if (!s.frozenMayWiden) notFrozen(name, "cannot ALTER TYPE of")
        val f = liveField(cur, name)
        val to = upd.newDataType()
        if (!SnapshotCatalog.widens(f.dataType, to))
          throw new UnsupportedOperationException(
            s"ALTER COLUMN ${f.name} TYPE ${to.simpleString}: only lossless " +
              "WIDENINGS (tinyint/smallint/int->bigint, float->double, " +
              "decimal precision growth at the same scale) are " +
              s"metadata-only; ${f.dataType.simpleString} -> " +
              s"${to.simpleString} would reinterpret bytes already on " +
              s"disk — ${s.remedy}")
        replace(cur, f, f.copy(dataType = to))
      case (cur, del: TableChange.DeleteColumn) =>
        val name = flat(del.fieldNames(), "DROP COLUMN")
        notFrozen(name, "cannot DROP")
        needIds(cur, "DROP COLUMN")
        val f = liveField(cur, name)
        require(live(cur).fields.length > 1,
          s"cannot drop the last column of ${s.table}")
        replace(cur, f, f.copy(name = s"$DroppedPrefix${idOf(f)}"))
      case (_, other) =>
        throw new UnsupportedOperationException(
          s"${s.kind} support ALTER TABLE ADD COLUMN, RENAME COLUMN, DROP " +
            "COLUMN and widening ALTER COLUMN TYPE only (got " +
            s"${other.getClass.getSimpleName}); ${s.remedy} for anything else")
    }
  }
}
