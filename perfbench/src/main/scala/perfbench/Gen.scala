package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded, stateless input generators. Every value is a pure function of
  * (seed, stream, index), so a row can be regenerated to check a result,
  * and Spark can generate tables in parallel without shipping state. Shapes follow the TPC-H-style testdata tables the
  * library's queries are written against (TESTDATA.md). Unit-tested. */
object Gen {

  /** SplitMix64 finalizer */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def h(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * 0x9e3779b97f4a7c15L + stream) + i)

  /** uniform in [0, n) */
  def below(seed: Long, stream: Long, i: Long, n: Long): Long =
    java.lang.Math.floorMod(h(seed, stream, i), n)

  /** uniform in [0, 1) */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (h(seed, stream, i) >>> 11) * (1.0 / (1L << 53))

  private val DayMs = 86400000L
  /** 1995-01-01T00:00:00Z */
  val Day1995: Long = 788918400000L
  /** 2024-01-01T00:00:00Z */
  val Day2024: Long = 1704067200000L

  // ---------------------------------------------------------------- orders
  val OrdersDdl = "o_orderkey bigint, o_custkey bigint, o_orderstatus string, " +
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
  val OrdersSchema: StructType = StructType.fromDDL(OrdersDdl)
  private val Status = Array("F", "O", "P")
  private val Priority = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def ordersRow(seed: Long, k: Long): Seq[Any] = Seq(
    k,
    below(seed, 11, k, 15000),
    Status(below(seed, 12, k, 3).toInt),
    (100000L + below(seed, 13, k, 49900000L)) / 100.0,
    new Timestamp(Day1995 + below(seed, 14, k, 2404) * DayMs),
    Priority(below(seed, 15, k, 5).toInt))

  // ---------------------------------------------------------------- events
  val EventsDdl = "event_id bigint, ts timestamp, user_id bigint, " +
    "event_type string, value double, props string"
  val EventsSchema: StructType = StructType.fromDDL(EventsDdl)
  private val EventType = Array("click", "view", "purchase", "signup", "error")
  val EventDays = 30

  /** the first `base` events spread over 30 days of January 2024 in id
    * order; ids past `base` are ingest-loop rows, written into the newest
    * day */
  def eventsRow(seed: Long, id: Long, base: Long): Seq[Any] = {
    val spanMs = EventDays * DayMs
    val ts =
      if (id < base) Day2024 + id * spanMs / base + below(seed, 30, id, spanMs / base max 1)
      else Day2024 + (EventDays - 1) * DayMs + below(seed, 30, id, DayMs)
    eventsRowAt(seed, id, ts, 0)
  }

  /** `version` re-draws value only: the MERGE upsert of an existing key */
  def eventsRowAt(seed: Long, id: Long, tsMs: Long, version: Int): Seq[Any] = Seq(
    id,
    new Timestamp(tsMs),
    below(seed, 31, id, 1500),
    EventType(below(seed, 32, id, 5).toInt),
    below(seed, 33 + 100L * version, id, 50000) / 100.0,
    s"""{"k": ${below(seed, 34, id, 100)}}""")

  /** the newest day's first millisecond */
  val NewestDayMs: Long = Day2024 + (EventDays - 1) * DayMs

  // ------------------------------------------------------------- documents
  val Vocab: Array[String] = Array("agg", "table", "spark", "hash", "sort", "key",
    "vector", "fast", "join", "value", "data", "query", "window", "batch", "filter",
    "the", "group", "line", "column", "customer", "small", "stream", "merge", "scan",
    "big", "order", "slow", "part", "row", "a")
  private val Lang = Array("en", "en", "en", "de", "fr", "es", "zh")
  val DocsDdl = "doc_id bigint, text string, lang string, source string, n_chars bigint"
  val DocsSchema: StructType = StructType.fromDDL(DocsDdl)

  private def baseText(seed: Long, d: Long): String = {
    val n = 10 + below(seed, 40, d, 90).toInt
    (0 until n).map(j => Vocab(below(seed, 41, d * 1000 + j, Vocab.length).toInt))
      .mkString(" ")
  }

  /** `base` random documents, then `base / 10` more: every other one an
    * exact copy of an earlier document's text, the rest near copies (an
    * earlier long document plus a trailing " dup" token) */
  def docsRow(seed: Long, d: Long, base: Long): Seq[Any] = {
    val text =
      if (d < base) baseText(seed, d)
      else {
        val src = below(seed, 42, d, base)
        if (d % 2 == 0) baseText(seed, src)
        else {
          // near copies only of documents long enough that the trailing
          // token keeps Jaccard(3-shingles) far above the 0.5 threshold
          val longSrc = Iterator.iterate(src)(s => (s + 1) % base)
            .find(s => baseText(seed, s).count(_ == ' ') >= 40).get
          baseText(seed, longSrc) + " dup"
        }
      }
    Seq(d, text, Lang(below(seed, 43, d, Lang.length).toInt),
      s"src${below(seed, 44, d, 20)}", text.length.toLong)
  }

  // ------------------------------------------------------------- sampling

  /** Zipf(s) over ranks 1..n by inverse CDF on a precomputed table */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    /** rank in [0, n) for a uniform draw u in [0, 1) */
    def rank(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** seeded permutation step: spreads Zipf ranks over the key space so hot
    * keys are not the lowest keys */
  def scatter(seed: Long, rank: Long, n: Long): Long =
    java.lang.Math.floorMod(rank * 2654435761L + below(seed, 50, 0, n), n)
}

object Data {
  /** a generated table: row i of [lo, hi) is `row(i)` */
  def frame(spark: SparkSession, schema: StructType, lo: Long, hi: Long, parts: Int)(
      row: Long => Seq[Any]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.range(lo, hi, 1, parts).map(i => Row.fromSeq(row(i))), schema)
}
