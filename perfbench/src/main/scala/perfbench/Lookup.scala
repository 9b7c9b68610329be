package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.table.{GraftCatalog, GraftTable}

object Lookup {
  final case class Fx(loc: String, snaps: IndexedSeq[Long], zipf: Gen.Zipf)
  final case class Op(kind: String, filter: String, snap: Option[Int], keys: Seq[Long])
  final case class Sample(kind: String, latMs: Double, planMs: Double,
      execMs: Double, rows: Int, traced: Boolean = false)
}

/** `lookup`: point, range and time-travel reads on an `orders` table sorted
  * by key and built by many small appends; a share of the point reads go
  * through SQL (`graft.db.orders`). Closed loop, 2 clients. */
final class Lookup extends Workload {
  import Lookup._
  val Rows = 150000L // sf0.1 orders
  val Commits = 25
  val Clients = 2
  val RangeWidth = 20
  val WarmupOps = 30
  val Mix: IndexedSeq[String] = IndexedSeq.fill(6)("point") ++
    IndexedSeq("sql_point", "between", "ge_le", "time_travel")

  type Fixture = Fx

  def setup(ctx: Ctx): Fx = {
    val seed = ctx.seed
    val t = new GraftCatalog(ctx.spark, ctx.spark.conf.get("spark.graft.warehouse"))
      .createTable("db", "orders", Gen.OrdersDdl,
        properties = Map("write.sort" -> "o_orderkey", "write.target-partitions" -> "1"))
    val snaps = (0 until Commits).map { b =>
      t.append(Data.frame(ctx.spark, Gen.OrdersSchema, b * Rows / Commits,
        (b + 1) * Rows / Commits, 1)(i => Gen.ordersRow(seed, i))).snapshotId
    }
    Fx(t.location, snaps, new Gen.Zipf(Rows.toInt, 1.1))
  }

  /** keys live in snapshot index s (keys are appended in order) */
  private def keysAt(s: Int): Long = (s + 1) * Rows / Commits

  /** The mix repeats every 10 operations of a client (6 point, 1 SQL point,
    * 1 BETWEEN, 1 `>= AND <=`, 1 time travel) in a seeded order, so every
    * run has the same proportions; keys and snapshots are seeded draws. */
  private def draw(seed: Long, fx: Fx, client: Int, j: Long): Op = {
    val c = client.toLong
    val slot = Mix(((j + Gen.below(seed, 100 + c, j / Mix.size, Mix.size)) % Mix.size).toInt)
    val hot = Gen.scatter(seed, fx.zipf.rank(Gen.unit(seed, 200 + c, j)), Rows)
    lazy val lo = math.min(hot, Rows - RangeWidth)
    lazy val hi = lo + RangeWidth - 1
    slot match {
      case "point" | "sql_point" => Op(slot, s"o_orderkey = $hot", None, Seq(hot))
      case "between" => Op(slot, s"o_orderkey BETWEEN $lo AND $hi", None, lo to hi)
      case "ge_le" => Op(slot, s"o_orderkey >= $lo AND o_orderkey <= $hi", None, lo to hi)
      case _ =>
        val s = Gen.below(seed, 400 + c, j, Commits - 1).toInt
        val k = Gen.below(seed, 500 + c, j, keysAt(s))
        Op(slot, s"o_orderkey = $k", Some(s), Seq(k))
    }
  }

  /** one read, timed from the scan() (or sql()) call through collect() */
  private def once(ctx: Ctx, t: GraftTable, fx: Fx, op: Op, tracer: Tracer): Option[Sample] =
    ctx.tally.run(s"lookup ${op.kind} ${op.filter}") {
      tracer.op(s"op.${op.kind}") {
        val t0 = System.nanoTime()
        val df =
          if (op.kind == "sql_point")
            tracer.span("plans.sql")(ctx.spark.sql(s"SELECT * FROM graft.db.orders WHERE ${op.filter}"))
          else tracer.span("table.scan") {
            t.scan(filter = Some(op.filter), snapshotId = op.snap.map(fx.snaps))
          }
        val t1 = System.nanoTime()
        val rows = tracer.span("spark.collect")(df.collect())
        val t2 = System.nanoTime()
        (df.columns.toSeq, rows, Sample(op.kind, (t2 - t0) / 1e6, (t1 - t0) / 1e6,
          (t2 - t1) / 1e6, rows.length))
      }
    } { case (cols, rows, _) =>
      Gate.diff(cols, op.keys.map(Gen.ordersRow(ctx.seed, _)), cols, rows.toSeq.map(_.toSeq))
    }.map(_._3)

  /** both clients run ops drawn from another seed, so the JIT reaches the
    * timed loop warm */
  def warmup(ctx: Ctx, fx: Fx): Unit = {
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val t = GraftTable.load(ctx.spark, fx.loc)
        (0 until WarmupOps).foreach(j => once(ctx, t, fx, draw(ctx.seed + 1, fx, c, j), Tracer.Off))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
  }

  def run(ctx: Ctx, fx: Fx, seconds: Double, tracer: Tracer): Outcome = {
    val samples = new ConcurrentLinkedQueue[Sample]()
    val probes = new ConcurrentLinkedQueue[(String, Double)]()
    val traced = tracer.enabled
    val s0 = ctx.probe.snapshot
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val t = GraftTable.load(ctx.spark, fx.loc)
        var j = 0L
        while (System.nanoTime() < deadline) {
          val op = draw(ctx.seed, fx, c, j)
          val tr = tracer.alternate(j)
          once(ctx, t, fx, op, tr).foreach(s => samples.add(s.copy(traced = tr.enabled)))
          // per-layer probes run after a traced operation, outside its spans
          if (tr.enabled && op.kind != "sql_point") tracer.op("probe.lookup") {
            val (jsonMs, entriesMs) = Layers.metaReadMs(fx.loc, tracer)
            val snap = op.snap.map(s => graft.table.Meta.readJson(fx.loc).snapshot(fx.snaps(s)))
            val (frac, extractMs) = Layers.plannedFrac(t, op.filter, snap, tracer)
            probes.add("meta.read_json_ms" -> jsonMs)
            probes.add("meta.read_entries_ms" -> entriesMs)
            probes.add("pruning.extract_ms" -> extractMs)
            probes.add(s"pruning.files_planned_frac.${op.kind}" -> frac)
          }
          j += 1
        }
      }, s"lookup-client-$c")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val wallMs = (System.nanoTime() - start) / 1e6
    val d = SparkProbe.delta(s0, ctx.probe.snapshot)
    val ss = samples.asScala.toSeq
    val lat = ss.map(_.latMs)
    val p50 = Layers.p50(lat)
    val tail = Stats.tail(lat)
    val qps = ss.size / (wallMs / 1000)
    def kindP50(k: String) = Layers.p50(ss.filter(_.kind == k).map(_.latMs))
    val byKind = ss.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, xs) =>
      Metric(s"lookup_${k}_p50_ms", Stats.median(xs.map(_.latMs)), "ms")
    }
    val named = Seq(Metric("lookup_p50_ms", p50, "ms")) ++
      tail.toSeq.flatMap(t => Seq(Metric("lookup_tail_ms", t.value, "ms"),
        Metric("lookup_tail_pct", t.percentile, "pct"), Metric("lookup_tail_n", t.n, "count"))) ++
      Seq(Metric("lookup_qps", qps, "1/s"),
        Metric("table_bytes", Layers.dirBytes(java.nio.file.Paths.get(fx.loc)), "bytes")) ++ byKind
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val pr = probes.asScala.toSeq.groupBy(_._1).map { case (k, v) => k -> Layers.p50(v.map(_._2)) }
        pr ++ Layers.metaFootprint(fx.loc) ++
          Layers.overhead(ss.filter(_.traced).map(_.latMs), ss.filterNot(_.traced).map(_.latMs)) ++
          Layers.sparkPerOp(d, ss.size, ss.map(_.rows.toLong).sum, wallMs, ctx.cores) ++ Map(
            "table.plan_ms" -> Layers.p50(ss.filter(_.kind != "sql_point").map(_.planMs)),
            "plans.sql_overhead_ms" -> (kindP50("sql_point") - kindP50("point")),
            "spark.exec_ms" -> Layers.p50(ss.map(_.execMs)))
      }
    Outcome(p50, qps, named, layers)
  }
}
