package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic local fixture scale-up for scale soaks (dev tool):
  * `runMain graft.tools.ScaleUp <srcSfDir> <dstDir> <factor>` unions
  * `factor` key-shifted copies of each driver table so a synthetic
  * sf(src×factor) exists locally without the driver's generator.
  *
  * Properties preserved per copy block:
  *  - key density (each copy occupies `[i·N, (i+1)·N)` for a table with
  *    keys `0..N-1`) and FK integrity (customer/orders/lineitem/part/
  *    supplier shift consistently);
  *  - generator name patterns (`Customer#%09d` / `Supplier#%09d` are
  *    regenerated from the shifted key, so name-derived blocking — q137 —
  *    sees the same block-size distribution, just more blocks);
  *  - payload distributions: document text and embeddings get a tiny
  *    deterministic per-copy perturbation (a copy-token suffix / +i·1e-4)
  *    so dedup and ANN structure scales instead of collapsing into
  *    factor-times exact clones; events keep their time range (more users
  *    in the same window — the realistic growth axis).
  *
  * Dims (region, nation) copy verbatim. Output mirrors the fixture layout —
  * ONE parquet file per table named `<table>.parquet` — so batch loaders
  * and the streaming file-source globs work unchanged.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val (src, dst, factor) = (args(0), args(1), args(2).toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Files.createDirectories(Paths.get(dst))

    def read(name: String): DataFrame =
      graft.sources.FooterSchema.read(spark, s"$src/$name.parquet")

    // Write as ONE file named <name>.parquet (the fixture layout): parquet
    // row groups keep it splittable, so local[32] still parallelizes scans.
    def writeOne(df: DataFrame, name: String): Unit = {
      val tmp = s"$dst/__tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().orElseThrow()
      Files.move(part, Paths.get(s"$dst/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      println(s"[scaleup] $name -> $dst/$name.parquet")
    }

    def keyBase(df: DataFrame, key: String): Long =
      df.agg(max(col(key).cast("long"))).head.getLong(0) + 1L

    /** Union `factor` copies, shifting each key column by i·base and
      * applying a per-copy payload tweak, preserving each column's type. */
    def scaled(name: String, keys: Seq[String],
               tweak: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val df = read(name)
      val bases = keys.map(k => k -> keyBase(df, k)).toMap
      val types = df.schema.map(f => f.name -> f.dataType).toMap
      (0 until factor).map { i =>
        val shifted = keys.foldLeft(df) { (d, k) =>
          d.withColumn(k, (col(k).cast("long") + lit(i * bases(k)))
            .cast(types(k).sql.toLowerCase))
        }
        tweak(shifted, i)
      }.reduce(_ unionByName _)
    }

    writeOne(read("region"), "region")
    writeOne(read("nation"), "nation")
    writeOne(scaled("customer", Seq("c_custkey"),
      (d, _) => d.withColumn("c_name",
        format_string("Customer#%09d", col("c_custkey")))), "customer")
    writeOne(scaled("supplier", Seq("s_suppkey"),
      (d, _) => d.withColumn("s_name",
        format_string("Supplier#%09d", col("s_suppkey")))), "supplier")
    writeOne(scaled("part", Seq("p_partkey")), "part")
    writeOne(scaled("orders", Seq("o_orderkey", "o_custkey")), "orders")
    writeOne(scaled("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")),
      "lineitem")
    writeOne(scaled("events", Seq("event_id", "user_id")), "events")
    writeOne(scaled("documents", Seq("doc_id"), (d, i) =>
      if (i == 0) d
      else d.withColumn("text", concat(col("text"), lit(s" copytoken$i")))
        .withColumn("n_chars", length(col("text")).cast("long"))), "documents")
    writeOne(scaled("embeddings", Seq("vec_id"), (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding",
        transform(col("embedding"), x => x + lit((i * 1e-4).toFloat)))),
      "embeddings")
    spark.stop()
  }
}
