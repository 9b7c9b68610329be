package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What one workload run reports: the contract metrics shared by every
  * workload, the workload's own named end-to-end metrics, and the
  * per-layer metrics of a traced run. */
final case class Outcome(opP50Ms: Double, workPerS: Double, named: Seq[Metric],
    layers: Map[String, Double])

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int,
    val work: Path, val tally: Tally, val probe: SparkProbe) {
  private var n = 0
  /** a fresh directory under the run's work dir */
  def freshDir(prefix: String): String = synchronized {
    n += 1
    val d = work.resolve(s"$prefix-$n")
    Files.createDirectories(d)
    d.toString
  }
}

/** A workload: a fixture built during set-up, then a timed loop. */
trait Workload {
  type Fixture
  /** build the inputs, tables and expected answers into fresh directories */
  def setup(ctx: Ctx): Fixture
  /** untimed operations that let caches fill and lazy set-up finish */
  def warmup(ctx: Ctx, fx: Fixture): Unit
  /** run the loop for `seconds`; with a live tracer, record spans and run
    * the per-layer probes outside each operation's spans */
  def run(ctx: Ctx, fx: Fixture, seconds: Double, tracer: Tracer): Outcome
}

/** Benchmark entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  * Prints human-readable metric lines, then one JSON result line last. */
object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "lookup" -> (() => new Lookup),
    "ingest" -> (() => new Ingest),
    "curate" -> (() => new Curate))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args.getOrElse("workload", sys.error("--workload required"))
    val make = Workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = args.getOrElse("seed", "1").toLong
    val seconds = args.getOrElse("seconds", "10").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args.getOrElse("work", "perfbench/work")).toAbsolutePath
    val out = Paths.get(args.getOrElse("out", "perfbench/out")).toAbsolutePath
    Files.createDirectories(work); Files.createDirectories(out)
    // set-up time counts from the launcher's start when it passes one
    val t0Ms = args.get("t0-ms").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    val code = try runOne(name, make(), seed, seconds, trace, work, out, t0Ms)
    finally Files.walk(work).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => p.toFile.delete())
    sys.exit(code)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.graft.warehouse", work.resolve("warehouse").toString)
      .withExtensions(new graft.functions.GraftExtensions())
    graft.Tables.SessionConfs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
      .getOrCreate()
  }

  private def runOne(name: String, w: Workload, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path, t0Ms: Long): Int = {
    val cores = Runtime.getRuntime.availableProcessors
    // phase timestamps go to stderr (the launcher keeps them in a log)
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] phase $what at ${(System.currentTimeMillis() - t0Ms) / 1000.0}%.2f s")
    val spark = session(cores, work)
    phase("session ready")
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new SparkProbe
    spark.sparkContext.addSparkListener(probe)
    val ctx = new Ctx(spark, seed, cores, work, new Tally, probe)
    try {
      // set-up: process start to the first timed operation (JVM, session,
      // inputs, table build, expected answers, warm-up)
      val fx = w.setup(ctx)
      phase("fixture built")
      w.warmup(ctx, fx)
      phase("warm-up done")
      val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0

      val result: Seq[Metric] =
        if (!trace) {
          val o = w.run(ctx, fx, seconds, new Tracer(false))
          printNamed(name, o.named ++ Seq(
            Metric("setup_s", setupS, "s"), Metric("heap_live_mb", JvmProbe.heapLiveMb(), "MB"),
            Metric("failed_frac", failedFrac(ctx.tally), "ratio")))
          Seq(Metric("setup_s", setupS, "s"), Metric("op_p50_ms", o.opP50Ms, "ms"),
            Metric("work_per_s", o.workPerS, "1/s"))
        } else {
          // workloads trace every other operation and run the per-layer
          // probes after each traced one; the untraced operations in
          // between give the tracing overhead
          val tracer = new Tracer(true)
          val gc0 = JvmProbe.gcMs
          val t0 = System.nanoTime()
          val o = w.run(ctx, fx, seconds, tracer)
          val wallMs = (System.nanoTime() - t0) / 1e6
          val gcMs = (JvmProbe.gcMs - gc0).toDouble
          val spans = tracer.all
          writeSpans(out.resolve(s"spans-$name.jsonl"), spans)
          // self time per traced operation (probe spans are their own roots)
          val ops = spans.count(s => s.parent == 0L && s.layer == "op").max(1)
          val self = Trace.selfMsByLayer(spans).map { case (l, ms) => s"self.${l}_ms" -> ms / ops }
          val layers = Layers.defaults ++ o.layers ++ self ++ Map(
            "jvm.gc_ms" -> gcMs, "jvm.gc_frac" -> gcMs / wallMs,
            "trace.spans" -> spans.size.toDouble)
          val ms = Layers.names.map(n => Metric(n, layers.getOrElse(n, 0.0), Layers.unit(n)))
          writeLayerSummary(out.resolve(s"layers-$name.txt"), name, seed, ms)
          printNamed(name, o.named ++ Seq(Metric("failed_frac", failedFrac(ctx.tally), "ratio")))
          ms
        }
      phase("measured")
      val t = ctx.tally
      t.firstNotes(5).foreach(n => println(s"[perfbench] FAILED $n"))
      val metrics = result.map(m =>
        s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
      println(s"""{"correct": ${t.failed == 0}, "attempted": ${t.attempted max 1}, """ +
        s""""failed": ${t.failed}, "metrics": {$metrics}}""")
      0
    } finally { spark.stop(); phase("session stopped") }
  }

  private def failedFrac(t: Tally): Double = t.failed.toDouble / math.max(1L, t.attempted)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def printNamed(w: String, ms: Seq[Metric]): Unit =
    ms.foreach(m => println(f"[perfbench] $w%-9s ${m.name}%-28s ${m.value}%.4f ${m.unit}"))

  private def writeSpans(p: Path, spans: Seq[Span]): Unit =
    Files.write(p, spans.sortBy(_.startNs).map(Trace.toJsonLine)
      .mkString("", "\n", "\n").getBytes("UTF-8"))

  private def writeLayerSummary(p: Path, w: String, seed: Long, ms: Seq[Metric]): Unit = {
    val lines = s"# workload=$w seed=$seed: per-layer metrics of a traced run" +:
      ms.map(m => f"${m.name}%-40s ${m.value}%.4f ${m.unit}")
    Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
