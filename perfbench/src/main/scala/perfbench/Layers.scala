package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.table.{GraftTable, Meta, Pruning, SnapshotMeta}

/** The per-layer metric catalogue. Every traced run reports every name;
  * a layer a workload never calls reads 0. */
object Layers {
  val SelfLayers: Seq[String] =
    Seq("op", "table", "spark", "meta", "pruning", "footer", "plans", "ops", "functions")

  val names: Seq[String] = Seq(
    "meta.read_json_ms", "meta.json_bytes", "meta.versions",
    "meta.read_entries_ms", "meta.manifest_segments", "meta.manifest_bytes",
    "pruning.extract_ms",
    "pruning.files_planned_frac.point", "pruning.files_planned_frac.between",
    "pruning.files_planned_frac.ge_le", "pruning.files_planned_frac.time_travel",
    "table.plan_ms", "table.append_ms", "table.merge_ms", "table.delete_ms",
    "table.maint_ms", "footer.collect_ms", "table.files_added_per_commit",
    "table.overlay_files_live", "table.mor_overhead_ms", "table.cow_rewrite_share",
    "plans.sql_overhead_ms",
    "ops.q_pipeline_e2e_ms", "ops.q_dedup_exact_ms", "ops.q_dedup_minhash_ms",
    "functions.sketch_ms",
    "spark.jobs_per_op", "spark.tasks_per_op", "spark.sched_delay_ms",
    "spark.exec_ms", "spark.task_cpu_ms", "spark.busy_frac",
    "spark.records_read_per_row_returned", "spark.input_bytes",
    "spark.shuffle_bytes", "spark.output_bytes",
    "jvm.gc_ms", "jvm.gc_frac") ++
    SelfLayers.map(l => s"self.${l}_ms") ++
    Seq("trace.overhead_ms", "trace.overhead_frac", "trace.spans")

  def unit(n: String): String =
    if (n.endsWith("_ms")) "ms"
    else if (n.endsWith("_bytes") || n == "meta.json_bytes") "bytes"
    else if (n.endsWith("_frac") || n.contains("_frac.") || n.endsWith("_share")) "ratio"
    else if (n.endsWith("_per_op") || n.endsWith("_per_commit") ||
      n.endsWith("_per_row_returned")) "ratio"
    else "count"

  val defaults: Map[String, Double] = names.map(_ -> 0.0).toMap

  // ---------------------------------------------------------------- probes

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** bytes of the regular files under a directory */
  def dirBytes(p: Path): Long =
    if (!Files.isDirectory(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** metadata footprint of a table: (current version json bytes, version
    * count, head segment count, bytes under manifests/) */
  def metaFootprint(loc: String): Map[String, Double] = {
    val md = Paths.get(loc, "metadata")
    val versions = {
      val s = Files.list(md)
      try s.iterator().asScala.map(_.getFileName.toString)
        .count(_.matches("v\\d+\\.json"))
      finally s.close()
    }
    val cur = Meta.currentVersion(loc).get
    val head = Meta.readJson(loc).head("main")
    Map(
      "meta.json_bytes" -> Files.size(md.resolve(f"v$cur%05d.json")).toDouble,
      "meta.versions" -> versions.toDouble,
      "meta.manifest_segments" -> head.map(_.manifests.size.toDouble).getOrElse(0.0),
      "meta.manifest_bytes" -> dirBytes(Paths.get(loc, "manifests")).toDouble)
  }

  /** the metadata read path timed by itself: (readJson ms, readEntries ms) */
  def metaReadMs(loc: String, tracer: Tracer): (Double, Double) = {
    val (m, jsonMs) = timeMs(tracer.span("meta.read_json")(Meta.readJson(loc)))
    val entriesMs = m.head("main").map(s =>
      timeMs(tracer.span("meta.read_entries")(Meta.readEntries(loc, s)))._2).getOrElse(0.0)
    (jsonMs, entriesMs)
  }

  /** share of the snapshot's data files a filter plans, and the time
    * `Pruning.extract` takes on it */
  def plannedFrac(t: GraftTable, filter: String, snap: Option[SnapshotMeta],
      tracer: Tracer): (Double, Double) = {
    val (preds, extractMs) = timeMs(tracer.span("pruning.extract")(Pruning.extract(filter, t.spark)))
    val frac = tracer.span("pruning.files_planned")(snap match {
      case None =>
        t.prunedFiles(filter).size.toDouble / math.max(1, t.liveFiles().count(_.fileType == "data"))
      case Some(s) =>
        val m = Meta.readJson(t.location)
        val data = Meta.readEntries(t.location, s).filter(_.fileType == "data")
        data.count(f => Pruning.fileMatches(f, m, preds)).toDouble / math.max(1, data.size)
    })
    (frac, extractMs)
  }

  /** Spark counters over a window, per operation */
  def sparkPerOp(d: Map[String, Long], ops: Int, rowsReturned: Long, wallMs: Double,
      cores: Int): Map[String, Double] = {
    val n = math.max(1, ops).toDouble
    Map(
      "spark.jobs_per_op" -> d("jobs") / n,
      "spark.tasks_per_op" -> d("tasks") / n,
      "spark.sched_delay_ms" -> d("sched_delay_ms") / n,
      "spark.task_cpu_ms" -> d("task_cpu_ms") / n,
      "spark.busy_frac" -> d("task_run_ms") / (wallMs * cores),
      "spark.records_read_per_row_returned" ->
        (if (rowsReturned > 0) d("input_records").toDouble / rowsReturned else 0.0),
      "spark.input_bytes" -> d("input_bytes") / n,
      "spark.shuffle_bytes" -> d("shuffle_bytes") / n,
      "spark.output_bytes" -> d("output_bytes") / n)
  }

  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** tracing overhead: median latency of the traced operations minus that
    * of the untraced ones interleaved with them */
  def overhead(traced: Seq[Double], untraced: Seq[Double]): Map[String, Double] = {
    val (t, u) = (p50(traced), p50(untraced))
    Map("trace.overhead_ms" -> (t - u), "trace.overhead_frac" -> (if (u > 0) (t - u) / u else 0.0))
  }
}
