package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's pure parts: statistics, generators, span arithmetic and
  * the correctness gate. Run with `sbt test` from this directory. */
class PureSpec extends AnyFunSuite {

  // ------------------------------------------------------------ tail rule

  test("tail: highest percentile with exactly ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble).reverse
    val t = Stats.tail(xs).get
    assert(t.value == 90.0)
    assert(xs.count(_ > t.value) == 10)
    assert(t.n == 100 && t.beyond == 10)
    assert(math.abs(t.percentile - 100.0 * 89 / 99) < 1e-9)
  }

  test("tail: undefined until the sample has more than ten values") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    val t = Stats.tail((1 to 11).map(_.toDouble)).get
    assert(t.value == 1.0 && t.percentile == 0.0)
  }

  test("tail: a custom beyond count moves the rank") {
    val xs = (1 to 50).map(_.toDouble)
    assert(Stats.tail(xs, beyond = 5).get.value == 45.0)
  }

  test("quantile and median interpolate linearly") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.25) == 2.5)
  }

  // ----------------------------------------------------------- generators

  private def rows(seed: Long): Seq[Seq[Any]] =
    (0L until 200L).flatMap(i => Seq(Gen.ordersRow(seed, i),
      Gen.eventsRow(seed, i, 100L), Gen.docsRow(seed, i, 150L)))

  test("generators: the same seed gives identical inputs") {
    assert(rows(7L) == rows(7L))
  }

  test("generators: a different seed gives different inputs") {
    val (a, b) = (rows(7L), rows(8L))
    assert(a.zip(b).count { case (x, y) => x != y } > a.size / 2)
  }

  test("generators: documents past the base are exact or near copies") {
    val base = 300L
    val texts = (0L until base).map(Gen.docsRow(3L, _, base)(1).toString).toSet
    (base until base + 30).foreach { d =>
      val t = Gen.docsRow(3L, d, base)(1).toString
      if (d % 2 == 0) assert(texts(t))
      else assert(t.endsWith(" dup") && texts(t.stripSuffix(" dup")))
    }
  }

  test("zipf: ranks stay in range and rank 0 is the hottest") {
    val z = new Gen.Zipf(1000, 1.1)
    val draws = (0 until 20000).map(j => z.rank(Gen.unit(5L, 1L, j)))
    assert(draws.forall(r => r >= 0 && r < 1000))
    val freq = draws.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(freq(0) == freq.values.max)
  }

  test("scatter is a permutation of the key space") {
    val n = 1000L
    assert((0L until n).map(Gen.scatter(9L, _, n)).toSet == (0L until n).toSet)
  }

  // ----------------------------------------------------- span arithmetic

  private def span(id: Long, parent: Long, s: Long, e: Long, name: String = "x.y") =
    Span(id, parent, 1L, name, s, e)

  test("self time: a span minus the union of its children") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 50), span(4, 1, 70, 80))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - 50) // [10,50) and [70,80) covered
    assert(self(2) == 20 && self(3) == 30 && self(4) == 10)
  }

  test("self time: a child outside its parent is clipped, grandchildren are not counted twice") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 90, 130), span(3, 2, 95, 120))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 90)
    assert(self(2) == 40 - 25)
    assert(self(3) == 25)
  }

  test("self time by layer sums the layer's spans") {
    val spans = Seq(span(1, 0, 0, 100, "op.a"), span(2, 1, 0, 60, "table.scan"),
      span(3, 1, 60, 100, "spark.collect"))
    val by = Trace.selfMsByLayer(spans)
    assert(by("op") == 0.0)
    assert(math.abs(by("table") - 60 / 1e6) < 1e-12)
    assert(math.abs(by("spark") - 40 / 1e6) < 1e-12)
  }

  test("tracer: children share the op id and point at their parent; disabled records nothing") {
    val t = new Tracer(true)
    t.op("op.a") { t.span("table.scan")(()); t.span("spark.collect")(()) }
    t.op("op.b")(())
    val all = t.all
    val root = all.find(_.name == "op.a").get
    val kids = all.filter(_.parent == root.id)
    assert(kids.map(_.name).toSet == Set("table.scan", "spark.collect"))
    assert(kids.forall(_.opId == root.opId))
    assert(all.find(_.name == "op.b").get.opId != root.opId)
    val off = new Tracer(false)
    assert(off.op("op.a")(off.span("x.y")(42)) == 42 && off.all.isEmpty)
  }

  // ------------------------------------------------------ correctness gate

  test("gate: accepts the same rows in another row and column order") {
    val exp = Seq(Seq(1L, "a", 2.5), Seq(2L, "b", 3.5))
    val got = Seq(Seq(3.5, "b", 2), Seq(2.5, "a", 1))
    assert(Gate.diff(Seq("k", "s", "v"), exp, Seq("v", "s", "k"), got).isEmpty)
  }

  test("gate: rejects a deliberately wrong expected value") {
    val got = Seq(Seq(1L, "a", 2.5), Seq(2L, "b", 3.5))
    val wrong = Seq(Seq(1L, "a", 2.5), Seq(2L, "b", 3.6))
    assert(Gate.diff(Seq("k", "s", "v"), wrong, Seq("k", "s", "v"), got).isDefined)
    assert(Gate.diff(Seq("k", "s", "v"), wrong.take(1), Seq("k", "s", "v"), got).isDefined)
    assert(Gate.diff(Seq("k", "s", "w"), got, Seq("k", "s", "v"), got).isDefined)
  }

  test("gate: floating values compare within the relative tolerance only") {
    assert(Gate.diff(Seq("v"), Seq(Seq(1.0)), Seq("v"), Seq(Seq(1.0 + 1e-12))).isEmpty)
    assert(Gate.diff(Seq("v"), Seq(Seq(1.0)), Seq("v"), Seq(Seq(1.0 + 1e-6))).isDefined)
  }

  test("tally: wrong results and exceptions both count as failed") {
    val t = new Tally
    t.run("ok")(1)(_ => None)
    t.run("wrong")(2)(v => if (v == 3) None else Some("expected 3"))
    t.run("boom")(throw new IllegalStateException("x"))((_: Int) => None)
    assert(t.attempted == 3 && t.failed == 2)
    assert(t.firstNotes(5).exists(_.startsWith("wrong")))
  }
}
