package perfbench

/** The per-layer metric names every traced run reports, with units. A
  * layer the workload does not exercise reads 0. */
object Layers {
  private def layer(prefix: String, ms: String*) = ms.map(m => s"$prefix.$m")

  val names: Seq[String] =
    layer("extract", "wall_s", "task_s", "rows_out") ++
    layer("dig", "wall_s", "task_s", "shuffle_mb", "spill_mb", "max_task_s",
      "rows_out") ++
    layer("tile.cover", "wall_s", "task_s", "rows_out") ++
    layer("tile.encode", "self_s", "task_s", "payloads_out", "payload_mb",
      "kept_frac") ++
    layer("tile.merge", "self_s", "task_s", "shuffle_mb", "spill_mb",
      "max_task_s", "median_task_s", "tiles_out", "tile_mb") ++
    layer("run.dig_job", "self_s", "written_mb") ++
    layer("run.pyramid_job", "wall_s", "jobs_per_zoom", "empty_zoom_s",
      "written_mb", "self_s") ++
    Seq("tile", "lookup", "point", "pip").flatMap(q => layer(s"query.$q",
      "p50_ms", "p95_ms", "rows_read", "jobs", "plan_ms")) ++
    Curate.ops.map(_._1).flatMap(op => layer(s"pipeline.$op", "wall_s",
      "task_s", "shuffle_mb", "spill_mb", "max_task_s")) ++
    Seq("pipeline.cache_mb", "jvm.gc_s", "jvm.codegen_ms",
      "jvm.heap_live_mb", "jvm.old_gen_peak_mb",
      "trace.attributed_frac", "trace.overhead_frac")

  def zeros: Map[String, Double] = names.map(_ -> 0.0).toMap

  def unit(name: String): String = name.split('.').last match {
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_frac") => "ratio"
    case _ => "count"
  }
}
