package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.table.{FooterStats, GraftTable, Meta, WriteMode}

object Ingest {
  val BaseRows = 20000L // sf0.02 events
  val Batch = 1000
  val MergeKeys = 250
  val MergeNewFrac = 0.1
  val DeleteKeys = 25
  /** cycles per maintenance group; the loop runs whole groups */
  val MaintEvery = 2
  val RetainLast = 3
  /** logical bytes of one events row (the schema's defaultSize) */
  val RowBytes: Long = Gen.EventsSchema.defaultSize.toLong
  val NewestDay = "TIMESTAMP '2024-01-30 00:00:00'"

  /** Independent model of the table: live event_id -> (ts ms, value cents),
    * maintained from the generated batches alone. */
  final class Model {
    val live = new mutable.LongMap[(Long, Long)]()
    /** (rows, sum of value cents, key checksum) over ids passing `p` */
    def summary(p: Long => Boolean): (Long, Long, Long) = {
      var n = 0L; var cents = 0L; var ck = 0L
      live.foreach { case (id, (ts, c)) =>
        if (p(ts)) { n += 1; cents += c; ck += keyHash(id) }
      }
      (n, cents, ck)
    }
  }

  def keyHash(id: Long): Long = java.lang.Math.floorMod(id * 2654435761L, 2147483647L)

  /** the same summary computed by the engine over a scan */
  def tableSummary(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(round(col("value") * 100).cast("long")), lit(0L)),
      coalesce(sum(pmod(col("event_id") * 2654435761L, lit(2147483647L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def cents(seed: Long, id: Long, version: Int): Long =
    Gen.below(seed, 33 + 100L * version, id, 50000)
}

/** `ingest`: one writer appending, MERGE-upserting and MoR-deleting on a
  * day-partitioned events table, with freshness reads and periodic
  * compaction + snapshot expiry. Closed loop, 1 writer. */
final class Ingest extends Workload {
  import Ingest._

  final class Fx(val loc: String, val model: Model) {
    var nextId: Long = BaseRows
    var cycle: Int = 0
  }
  type Fixture = Fx

  def setup(ctx: Ctx): Fx = {
    val loc = ctx.freshDir("events")
    val seed = ctx.seed
    val t = GraftTable.create(ctx.spark, loc, Gen.EventsDdl, partitionBy = Seq("day(ts)"))
    t.append(Data.frame(ctx.spark, Gen.EventsSchema, 0, BaseRows, ctx.cores)(
      i => Gen.eventsRow(seed, i, BaseRows)))
    val model = new Model
    (0L until BaseRows).foreach { id =>
      val ts = Gen.eventsRow(seed, id, BaseRows)(1).asInstanceOf[java.sql.Timestamp].getTime
      model.live(id) = (ts, cents(seed, id, 0))
    }
    new Fx(loc, model)
  }

  def warmup(ctx: Ctx, fx: Fx): Unit = {
    val t = GraftTable.load(ctx.spark, fx.loc)
    check(ctx, fx, t, "warmup full check", None)
  }

  /** compare the table (or its newest day) with the model */
  private def check(ctx: Ctx, fx: Fx, t: GraftTable, what: String, day: Option[Long]): Unit =
    ctx.tally.run(what) {
      val df = t.scan(filter = day.map(_ => s"ts >= $NewestDay"))
      (tableSummary(df), fx.model.summary(ts => day.forall(ts >= _)))
    } { case (got, want) => if (got == want) None else Some(s"table $got != model $want") }

  /** `n` distinct live keys: a share `recent` from the newest day, the
    * rest uniform over all ids */
  private def pickLive(ctx: Ctx, fx: Fx, stream: Long, n: Int, recent: Double): Seq[Long] = {
    val recentLo = BaseRows * (Gen.EventDays - 1) / Gen.EventDays
    val out = mutable.LinkedHashSet[Long]()
    var j = 0L
    while (out.size < n) {
      val key = fx.cycle * 100000L + j
      val id =
        if (Gen.unit(ctx.seed, stream, key) < recent)
          recentLo + Gen.below(ctx.seed, stream + 1, key, fx.nextId - recentLo)
        else Gen.below(ctx.seed, stream + 2, key, fx.nextId)
      if (fx.model.live.contains(id)) out += id
      j += 1
    }
    out.toSeq
  }

  private def filesUnder(root: Path): Map[String, Long] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  def run(ctx: Ctx, fx: Fx, seconds: Double, tracer: Tracer): Outcome = {
    val spark = ctx.spark
    val seed = ctx.seed
    val traced = tracer.enabled
    val t = GraftTable.load(spark, fx.loc)
    // (kind, ms, traced)
    val commits = mutable.ArrayBuffer[(String, Double, Boolean)]()
    val fresh = mutable.ArrayBuffer[Double]()
    val cycles = mutable.ArrayBuffer[Double]()
    val maint = mutable.ArrayBuffer[Double]()
    val probes = mutable.ArrayBuffer[(String, Double)]()
    val written = mutable.Map[String, Long]().withDefaultValue(0L)
    var seen = filesUnder(Paths.get(fx.loc))
    var rows = 0L
    var nCommits = 0

    /** bytes of files that appeared under the table since the last call */
    def account(kind: String): Unit = {
      val now = filesUnder(Paths.get(fx.loc))
      written(kind) += now.collect { case (p, sz) if !seen.contains(p) => sz }.sum
      seen = now
    }

    /** one commit: timed, counted, and probed outside its span */
    def commit(kind: String, tr: Tracer)(
        body: => graft.table.SnapshotMeta): Option[graft.table.SnapshotMeta] = {
      nCommits += 1
      val r = ctx.tally.run(s"ingest $kind cycle ${fx.cycle}") {
        val t0 = System.nanoTime()
        val s = tr.op(s"op.$kind")(tr.span(s"table.$kind")(body))
        (s, (System.nanoTime() - t0) / 1e6)
      }(_ => None)
      r.foreach { case (snap, ms) =>
        commits += ((kind, ms, tr.enabled))
        if (tr.enabled) tracer.op("probe.ingest") {
          val (jsonMs, entriesMs) = Layers.metaReadMs(fx.loc, tracer)
          probes += "meta.read_json_ms" -> jsonMs
          probes += "meta.read_entries_ms" -> entriesMs
          probes += "table.files_added_per_commit" ->
            (snap.summary.getOrElse("added-data-files", "0").toDouble +
              snap.summary.getOrElse("added-delete-files", "0").toDouble)
          val m = Meta.readJson(fx.loc)
          val dirs = Option(Paths.get(fx.loc, "data").toFile.listFiles).toSeq.flatten
            .filter(_.getName.startsWith(s"s${snap.snapshotId}-"))
          if (dirs.nonEmpty) probes += "footer.collect_ms" -> Layers.timeMs(dirs.foreach(d =>
            tracer.span("footer.collect")(FooterStats.collect(d.getPath, fx.loc, m.currentSchema,
              m.currentSpec, m.currentSpecId, m.currentSchemaId, snap.sequenceNumber))))._2
        }
      }
      account(kind)
      r.map(_._1)
    }

    val s0 = ctx.probe.snapshot
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || fx.cycle % MaintEvery != 0) {
      val c = fx.cycle
      val cycleT0 = System.nanoTime()
      val tr = tracer.alternate(c)
      // 1. append a batch into the newest day
      val lo = fx.nextId
      commit("append", tr)(t.append(Data.frame(spark, Gen.EventsSchema, lo, lo + Batch, 1)(
        i => Gen.eventsRow(seed, i, BaseRows))))
      (lo until lo + Batch).foreach(id => fx.model.live(id) =
        (Gen.eventsRow(seed, id, BaseRows)(1).asInstanceOf[java.sql.Timestamp].getTime,
          cents(seed, id, 0)))
      fx.nextId += Batch
      rows += Batch

      // 2. MERGE upsert: live keys get a new value, new keys are inserted
      val nNew = (MergeKeys * MergeNewFrac).toInt
      val upd = pickLive(ctx, fx, 600, MergeKeys - nNew, recent = 0.8)
      val ins = (fx.nextId until fx.nextId + nNew)
      val src = upd.map(id => Row.fromSeq(Gen.eventsRowAt(seed, id, fx.model.live(id)._1, c + 1))) ++
        ins.map(id => Row.fromSeq(Gen.eventsRowAt(seed, id,
          Gen.NewestDayMs + Gen.below(seed, 35, id, 86400000L), c + 1)))
      val srcDf = spark.createDataFrame(src.asJava, Gen.EventsSchema)
      val preDelete = commit("merge", tr)(t.merge(srcDf, on = "t.event_id = s.event_id",
        matchedSet = Map("value" -> "s.value"),
        insertValues = Some(Gen.EventsSchema.fieldNames.map(n => n -> s"s.$n").toMap)))
      upd.foreach(id => fx.model.live(id) = (fx.model.live(id)._1, cents(seed, id, c + 1)))
      ins.foreach(id => fx.model.live(id) =
        (Gen.NewestDayMs + Gen.below(seed, 35, id, 86400000L), cents(seed, id, c + 1)))
      fx.nextId += nNew
      rows += MergeKeys

      // 3. merge-on-read delete: retracting recent events
      val del = pickLive(ctx, fx, 700, DeleteKeys, recent = 1.0)
      commit("delete", tr)(t.delete(s"event_id IN (${del.mkString(",")})", WriteMode.MergeOnRead))
      del.foreach(fx.model.live.remove)
      rows += DeleteKeys

      // 4. freshness read of the newest day, checked against the model
      ctx.tally.run(s"ingest fresh read cycle $c") {
        val t0 = System.nanoTime()
        val got = tr.op("op.fresh_read") {
          val df = tr.span("table.scan")(t.scan(filter = Some(s"ts >= $NewestDay")))
          tr.span("spark.collect")(tableSummary(df))
        }
        fresh += (System.nanoTime() - t0) / 1e6
        (got, fx.model.summary(_ >= Gen.NewestDayMs))
      } { case (got, want) => if (got == want) None else Some(s"table $got != model $want") }
      if (tr.enabled) {
        probes += "table.overlay_files_live" -> t.liveFiles().count(_.fileType != "data").toDouble
        preDelete.foreach { s =>
          val (_, head) = Layers.timeMs(tableSummary(t.scan(filter = Some(s"ts >= $NewestDay"))))
          val (_, pre) = Layers.timeMs(tableSummary(
            t.scan(filter = Some(s"ts >= $NewestDay"), snapshotId = Some(s.snapshotId))))
          probes += "table.mor_overhead_ms" -> (head - pre)
        }
      }

      cycles += (System.nanoTime() - cycleT0) / 1e6

      // 5. maintenance every few cycles, then the full model check
      if (c % MaintEvery == MaintEvery - 1) {
        ctx.tally.run(s"ingest maintenance cycle $c") {
          val t0 = System.nanoTime()
          tr.op("op.maint") {
            tr.span("table.compact")(t.compact())
            tr.span("table.expire")(t.expireSnapshots(System.currentTimeMillis(), RetainLast))
          }
          maint += (System.nanoTime() - t0) / 1e6
        }(_ => None)
        account("maint")
        check(ctx, fx, t, s"ingest check after compaction cycle $c", None)
      }
      fx.cycle += 1
    }
    val wallMs = (System.nanoTime() - start) / 1e6
    check(ctx, fx, t, "ingest final check", None)
    val d = SparkProbe.delta(s0, ctx.probe.snapshot)

    val lat = commits.map(_._2).toSeq
    val p50 = Layers.p50(lat)
    val rowsPerS = rows / (wallMs / 1000)
    val userBytes = rows * RowBytes
    val totalWritten = written.values.sum
    val tableBytes = filesUnder(Paths.get(fx.loc)).values.sum
    val liveBytes = fx.model.live.size * RowBytes
    def kindP50(k: String) = Layers.p50(commits.filter(_._1 == k).map(_._2).toSeq)
    val cycleP50 = Layers.p50(cycles.toSeq)
    val named = Seq(Metric("commit_p50_ms", p50, "ms"), Metric("cycle_p50_ms", cycleP50, "ms")) ++
      Stats.tail(lat).toSeq.flatMap(t => Seq(Metric("commit_tail_ms", t.value, "ms"),
        Metric("commit_tail_pct", t.percentile, "pct"), Metric("commit_tail_n", t.n, "count"))) ++
      Seq(Metric("commit_n", lat.size, "count"),
        Metric("ingest_rows_per_s", rowsPerS, "rows/s"),
        Metric("fresh_read_p50_ms", Layers.p50(fresh.toSeq), "ms"),
        Metric("write_amp", totalWritten.toDouble / math.max(1L, userBytes), "ratio"),
        Metric("space_amp", tableBytes.toDouble / math.max(1L, liveBytes), "ratio"),
        Metric("table_bytes", tableBytes, "bytes"),
        Metric("append_p50_ms", kindP50("append"), "ms"),
        Metric("merge_p50_ms", kindP50("merge"), "ms"),
        Metric("delete_p50_ms", kindP50("delete"), "ms"))
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        probes.toSeq.groupBy(_._1).map { case (k, v) => k -> Layers.p50(v.map(_._2)) } ++
          Layers.metaFootprint(fx.loc) ++
          Layers.overhead(commits.filter(_._3).map(_._2).toSeq, commits.filterNot(_._3).map(_._2).toSeq) ++
          Layers.sparkPerOp(d, nCommits, 0L, wallMs, ctx.cores) ++ Map(
            "table.append_ms" -> kindP50("append"),
            "table.merge_ms" -> kindP50("merge"),
            "table.delete_ms" -> kindP50("delete"),
            "table.maint_ms" -> Layers.p50(maint.toSeq),
            "table.cow_rewrite_share" -> written("merge").toDouble / math.max(1L, totalWritten),
            "spark.exec_ms" -> Layers.p50(fresh.toSeq))
      }
    // a cycle (append, merge, delete, freshness read) is the operation the
    // end-to-end median reports: the pooled commit median sits on the
    // short delete commits, whose run-to-run spread is too wide to gate on
    Outcome(cycleP50, rowsPerS, named, layers)
  }
}
