package perfbench

/** The per-layer metrics every traced run reports, with their units. A
  * metric of a layer the workload does not call reads 0. */
object Layers {
  val selfLayers: Seq[String] =
    Seq("bench", "core", "pipelines", "sinks.tablelog", "plans", "spark")

  private val units: Seq[(String, String)] = Seq(
    "core.discover_ms" -> "ms",
    "pipelines.convert_cna_ms" -> "ms",
    "pipelines.convert_mutations_ms" -> "ms",
    "pipelines.combine_ms" -> "ms",
    "operators.read_amp" -> "ratio",
    "sinks.parquet.out_bytes_per_in_byte" -> "ratio",
    "sinks.tablelog.jobs_per_append" -> "count",
    "sinks.tablelog.jobs_per_delete" -> "count",
    "sinks.tablelog.jobs_per_merge" -> "count",
    "sinks.tablelog.task_ms_per_commit" -> "ms",
    "sinks.tablelog.driver_gap_ms_per_commit" -> "ms",
    "sinks.tablelog.files_per_commit" -> "count",
    "sinks.tablelog.bytes_written_per_row" -> "B/row",
    "sinks.tablelog.manifest_bytes_per_commit" -> "B",
    "sinks.tablelog.space_amp" -> "ratio",
    "sinks.tablelog.versions_per_commit" -> "count",
    "sinks.tablelog.snapshot_ms" -> "ms",
    "sinks.tablelog.files_read_ratio" -> "ratio",
    "sinks.tablelog.rows_scanned_per_row_returned" -> "ratio",
    "plans.plan_ms" -> "ms",
    "spark.jobs_per_query" -> "count",
    "spark.cpu_util" -> "ratio",
    "spark.gc_ms" -> "ms",
    "spark.storage_peak_mb" -> "MB") ++
    selfLayers.map(l => s"self.${l}_ms" -> "ms") :+
    ("trace.overhead_pct" -> "%")

  val names: Seq[String] = units.map(_._1)
  def unit(name: String): String = units.toMap.getOrElse(name, "count")
}
