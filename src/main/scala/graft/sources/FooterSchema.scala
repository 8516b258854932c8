package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The program's one parquet batch-read planner: a schema from ONE footer,
  * zero Spark jobs.
  *
  * A bare `spark.read.parquet(paths)` plans its relation with a
  * schema-inference pass that runs as a 1-task Spark JOB
  * (`ParquetFileFormat.mergeSchemasInParallel`), ~30 ms of job plus
  * 50–250 ms of driver planning around it, only to learn what one footer
  * holds: once per table open, once per file of a change-feed fold, and
  * dozens of times per multi-statement face in the catalog layer (JobTrace
  * on q234: 10 of 22 jobs were schema-only `parquet at ...` jobs).
  *
  * [[of]] answers the schema question from ONE parquet footer on the
  * driver, the way Spark's own inference does for Spark-written files: the
  * writer embeds the exact Spark `StructType` (field-id metadata included)
  * under the `org.apache.spark.sql.parquet.row.metadata` footer key;
  * falling back to the parquet→Spark converter for foreign files. The
  * result is `.asNullable`-normalized — identical to what
  * `spark.read.parquet(...).schema` returns. [[read]] plans the batch read
  * itself under that schema; every batch parquet read in the program goes
  * through it.
  *
  * Callers pass paths whose files share one schema (engine-written
  * version/partition dirs, fixture tables, sink outputs — uniform by
  * construction); the first data file by name is authoritative, matching
  * inference with `mergeSchema=false`. [[read]] falls back to Spark's own
  * inference, keeping its behaviour and errors, when no direct data file
  * is found (a hive-partitioned layout, a missing path, a glob, an empty
  * directory) or when the session sets `spark.sql.parquet.mergeSchema`.
  */
object FooterSchema {

  private val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The file-relation nullability normalization `DataSource` applies
    * (`StructType.asNullable` is `private[sql]`): every field, nested
    * included, becomes nullable — files can always be missing values. */
  private def allNullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f =>
        f.copy(dataType = allNullable(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = allNullable(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = allNullable(m.keyType),
        valueType = allNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def allNullable(s: StructType): StructType =
    allNullable(s: DataType).asInstanceOf[StructType]

  /** Schema of the first `*.parquet` data file found across `dirs`
    * (searched in order, names sorted; `_`/`.`-prefixed entries skipped,
    * exactly Spark's data-file filter; a path naming a file is that file).
    * None when no data file exists. */
  def of(spark: SparkSession, dirs: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    dirs.iterator.flatMap { d =>
      val dir = new Path(d)
      val fs = dir.getFileSystem(conf)
      // one metadata round trip: a missing path is "no file here"
      val status =
        try Some(fs.getFileStatus(dir))
        catch { case _: java.io.FileNotFoundException => None }
      val files =
        if (status.isEmpty) Seq.empty
        else if (status.get.isFile) Seq(status.get) // a single-file table
        else fs.listStatus(dir).toSeq
          .filter { st =>
            val n = st.getPath.getName
            st.isFile && n.endsWith(".parquet") &&
              !n.startsWith("_") && !n.startsWith(".")
          }
          .sortBy(_.getPath.getName)
      files.headOption.map { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
        try {
          val meta = reader.getFooter.getFileMetaData
          val fromSpark = Option(meta.getKeyValueMetaData.get(SparkRowMetadataKey))
            .flatMap { json =>
              scala.util.Try(DataType.fromJson(json)).toOption.collect {
                case s: StructType => s
              }
            }
          allNullable(fromSpark.getOrElse {
            new org.apache.spark.sql.execution.datasources.parquet
              .ParquetToSparkSchemaConverter(spark.sessionState.conf)
              .convert(meta.getSchema)
          })
        } finally reader.close()
      }
    }.nextOption()
  }

  /** [[of]] over a single dir, throwing with the dir named when it holds
    * no data file — the contract of the `spark.read.parquet(dir).schema`
    * calls this replaces (those threw `PATH_NOT_FOUND`/unable-to-infer). */
  def require(spark: SparkSession, dir: String): StructType =
    of(spark, Seq(dir)).getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under $dir"))

  /** `spark.read.parquet(paths: _*)` planned from [[of]]'s footer schema —
    * no inference job. Plain inference (Spark's behaviour and errors) when
    * no direct data file is found or the session merges schemas. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    (if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
     else of(spark, paths)) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None         => spark.read.parquet(paths: _*)
    }
}
