package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry

/** `curate`: the LLM-data operators over a seeded document corpus with
  * planted exact and near duplicates — the registry queries that read only
  * `documents`, plus the sketch aggregates through SQL. No table-format
  * code runs. Closed loop, 1 client; one pass runs every step. */
object Curate {
  final case class Fx(dir: String, expected: Map[String, (Seq[String], Seq[Seq[Any]])])
}

final class Curate extends Workload {
  import Curate._
  val BaseDocs = 1000L // sf0.02 documents
  val Keys = Seq("q_pipeline_e2e", "q_dedup_exact", "q_dedup_minhash")
  val NdvTol = 0.15 // HLL p=9: ~4.6% standard error, ~3 sigma
  val JaccardTol = 0.25 // MinHash K=64: <= 0.0625 standard error, 4 sigma
  /** a warm pass on 4 cores; a run measures ceil(seconds / PassSeconds) passes */
  val PassSeconds = 4.0

  type Fixture = Fx

  private val ShinglesSql =
    "transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"

  def ndvSql: String =
    "SELECT lang, graft_hll_ndv(text).ndv_est AS ndv FROM docs GROUP BY lang"
  def minhashSql: String =
    s"""SELECT lang, graft_minhash(s) AS sig FROM (
       |  SELECT lang, explode($ShinglesSql) AS s
       |  FROM (SELECT lang, split(text, ' ') AS t FROM docs WHERE size(split(text, ' ')) >= 3))
       |GROUP BY lang""".stripMargin

  /** DuckDB side of the sketch check: exact NDV, exact shingle Jaccard */
  private val ndvOracle =
    "SELECT lang, count(DISTINCT text) AS ndv FROM documents GROUP BY lang"
  private val jaccardOracle =
    """WITH t AS (SELECT lang, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT DISTINCT lang, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |  FROM t, UNNEST(range(1, len(w) - 1)) AS u(i))
      |SELECT b.lang AS lang,
      |  CAST((SELECT count(*) FROM sh x JOIN sh y ON x.s = y.s
      |        WHERE x.lang = 'en' AND y.lang = b.lang) AS DOUBLE) /
      |  (SELECT count(DISTINCT s) FROM sh WHERE lang IN ('en', b.lang)) AS jaccard
      |FROM (SELECT DISTINCT lang FROM sh) b""".stripMargin

  def setup(ctx: Ctx): Fx = {
    val spark = ctx.spark
    val seed = ctx.seed
    val dir = ctx.freshDir("corpus")
    val base = BaseDocs
    Data.frame(spark, Gen.DocsSchema, 0, base + base / 10, ctx.cores)(
      Gen.docsRow(seed, _, base)).write.parquet(s"$dir/documents.parquet")
    // reference answers: each step's SparkEntry.oracleSql, run in DuckDB
    val qs = Keys.map(k => k -> SparkEntry.oracleSql(k)) ++
      Seq("sketch_ndv" -> ndvOracle, "sketch_jaccard" -> jaccardOracle)
    val qPath = Paths.get(dir, "oracle_queries.json")
    val aPath = Paths.get(dir, "oracle_answers.json")
    Files.writeString(qPath, JsonMethods.compact(JsonMethods.render(
      JObject(qs.map { case (k, v) => k -> JString(v) }.toList))))
    val home = sys.props.getOrElse("perfbench.home", "perfbench")
    val p = new ProcessBuilder("python3", s"$home/oracle.py", dir, qPath.toString, aPath.toString)
      .inheritIO().start()
    val rc = p.waitFor()
    require(rc == 0, s"DuckDB oracle exited $rc")
    val answers = JsonMethods.parse(Files.readString(aPath)).asInstanceOf[JObject]
    def plain(v: JValue): Any = v match {
      case JInt(i) => i
      case JLong(l) => l
      case JDouble(d) => d
      case JDecimal(d) => d
      case JString(s) => s
      case JBool(b) => b
      case JArray(xs) => xs.map(plain)
      case _ => null
    }
    val expected = answers.obj.map { case (k, o) =>
      val cols = (o \ "cols").asInstanceOf[JArray].arr.map { case JString(s) => s; case x => x.toString }
      val rows = (o \ "rows").asInstanceOf[JArray].arr.map(_.asInstanceOf[JArray].arr.map(plain))
      k -> (cols.toSeq, rows.toSeq.map(_.toSeq))
    }.toMap
    Fx(dir, expected)
  }

  private def collect(df: DataFrame, tracer: Tracer): (Seq[String], Seq[Seq[Any]]) =
    (df.columns.toSeq, tracer.span("spark.collect")(df.collect()).toSeq.map(_.toSeq))

  /** sketch estimates against the exact DuckDB answers */
  private def sketchCheck(fx: Fx, ndv: Seq[Seq[Any]], sigs: Seq[Seq[Any]]): Option[String] = {
    val exactNdv = fx.expected("sketch_ndv")._2.map(r => r(0).toString -> r(1).toString.toDouble).toMap
    val badNdv = ndv.map(r => (r(0).toString, r(1).asInstanceOf[Double])).find { case (l, est) =>
      !exactNdv.get(l).exists(ex => math.abs(est - ex) <= NdvTol * ex)
    }
    val sig = sigs.map(r => r(0).toString -> r(1).asInstanceOf[scala.collection.Seq[Long]]).toMap
    val exactJ = fx.expected("sketch_jaccard")._2.map(r => r(0).toString -> r(1).toString.toDouble).toMap
    val badJ = exactJ.find { case (l, ex) =>
      val est = (sig("en") zip sig(l)).count { case (a, b) => a == b }.toDouble / sig("en").size
      math.abs(est - ex) > JaccardTol
    }
    badNdv.map(b => s"ndv estimate off for $b (exact ${exactNdv.get(b._1)})")
      .orElse(badJ.map(b => s"minhash Jaccard estimate off for ${b._1} (exact ${b._2})"))
  }

  private def pass(ctx: Ctx, fx: Fx, tracer: Tracer,
      times: mutable.Map[String, mutable.ArrayBuffer[Double]]): Unit = {
    val spark: SparkSession = ctx.spark
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      times.getOrElseUpdate(name, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e6
      r
    }
    tracer.op("op.pass") {
      Keys.foreach { k =>
        ctx.tally.run(s"curate $k") {
          timed(k)(tracer.span(s"op.$k") {
            collect(tracer.span(s"ops.$k")(SparkEntry.queries(k)(spark, fx.dir)), tracer)
          })
        } { case (cols, got) =>
          val (ec, er) = fx.expected(k)
          Gate.diff(ec, er, cols, got)
        }
      }
      ctx.tally.run("curate sketches") {
        timed("sketch")(tracer.span("op.sketch") {
          graft.Tables(spark, fx.dir, "documents").createOrReplaceTempView("docs")
          val ndv = collect(tracer.span("functions.sketch")(spark.sql(ndvSql)), tracer)._2
          val sigs = collect(tracer.span("functions.sketch")(spark.sql(minhashSql)), tracer)._2
          (ndv, sigs)
        })
      } { case (ndv, sigs) => sketchCheck(fx, ndv, sigs) }
    }
  }

  def warmup(ctx: Ctx, fx: Fx): Unit =
    (1 to 2).foreach(_ => pass(ctx, fx, new Tracer(false), mutable.Map()))

  def run(ctx: Ctx, fx: Fx, seconds: Double, tracer: Tracer): Outcome = {
    val times = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    // (ms, traced)
    val passes = mutable.ArrayBuffer[(Double, Boolean)]()
    val s0 = ctx.probe.snapshot
    val start = System.nanoTime()
    // a fixed pass count per run length: a pass count that followed the
    // clock would put more, warmer passes into runs on a faster machine
    val nPasses = math.max(1, math.ceil(seconds / PassSeconds).toInt)
    while (passes.size < nPasses) {
      val tr = tracer.alternate(passes.size)
      val t0 = System.nanoTime()
      pass(ctx, fx, tr, times)
      passes += (((System.nanoTime() - t0) / 1e6, tr.enabled))
    }
    val wallMs = (System.nanoTime() - start) / 1e6
    val d = SparkProbe.delta(s0, ctx.probe.snapshot)
    val p50 = Layers.p50(passes.map(_._1).toSeq)
    def q(n: String) = Layers.p50(times.getOrElse(n, mutable.ArrayBuffer()).toSeq)
    val steps = times.values.map(_.size).sum
    val named = Seq(Metric("curate_pass_s", p50 / 1000, "s"),
      Metric("curate_passes", passes.size, "count")) ++
      (Keys :+ "sketch").map(k => Metric(s"${k}_p50_ms", q(k), "ms"))
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else Keys.map(k => s"ops.${k}_ms" -> q(k)).toMap ++
        Layers.sparkPerOp(d, steps, 0L, wallMs, ctx.cores) ++
        Layers.overhead(passes.filter(_._2).map(_._1).toSeq, passes.filterNot(_._2).map(_._1).toSeq) ++ Map(
          "functions.sketch_ms" -> q("sketch"),
          "spark.exec_ms" -> p50)
    Outcome(p50, steps / (wallMs / 1000), named, layers)
  }
}
