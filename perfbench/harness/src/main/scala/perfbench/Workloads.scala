package perfbench

/** A named list of faces (`SparkEntry.packs` entries) run against one
  * fixture, and the pass time it was sized for on four cores. */
final case class Workload(name: String, fixture: String, nominalPassS: Double, faces: Seq[String]) {

  /** Timed passes after the cold one in a run of `seconds`: a count fixed
    * by the run length, so every commit yields the same number of latency
    * samples and the tail is read at the same percentile; and enough for 25
    * samples with the cold pass's, so the tail (ten samples beyond it, p60)
    * sits above the median. */
  def passes(seconds: Double): Int =
    math.max(math.ceil(25.0 / faces.size).toInt - 1, math.ceil(seconds / nominalPassS).toInt)
}

/** The workloads. A run must fit three set-ups, a cold pass, the timed
  * passes and the output check into under a minute on four cores, and the
  * whole benchmark (twenty-two runs per workload) into under an hour, so
  * each workload is five or six faces, one or two per module, rather than
  * every face a module has. */
object Workloads {
  val all: Seq[Workload] = Seq(
    // The reference's own surface, read and write: a single-task scan with
    // an exact-decimal aggregate, a join, ring tessellation, CTAS
    // write-back, a read of three schema generations conformed to a
    // declared schema (null fill, drop, cast), and a streaming ingest that
    // redacts documents into a parquet sink, on the ten-copy fixture (each
    // table one row group).
    Workload("arc_etl", "x10", 3.3, Seq(
      "q01_pricing_summary", "q04_join_keep_common", "q46_split_rings",
      "q21_ctas_copy", "q141_schema_conform", "q105_streaming_redact")),
    // CPU-bound operator and kernel work with little I/O: MinHash dedup,
    // IVF similarity search, language id, the BPE kernel and audio
    // features. The bypass case for scan and commit changes. Stays on
    // sf0.1: the ten-copy fixture plants 10-copy near-duplicate cliques.
    Workload("llm_curation", "sf0.1", 2.7, Seq(
      "q31_dedup_minhash_lsh", "q43_ivf_search", "q51_lang_id",
      "q188_bpe_kernel_encode", "q72_audio_features")))

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $name; one of ${all.map(_.name).mkString(", ")}"))
}
