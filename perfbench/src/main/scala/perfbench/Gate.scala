package perfbench

import java.util.concurrent.atomic.AtomicLong

/** Correctness gate: result rows against an independently computed
  * expected answer. Column order and row order are ignored; floating
  * values compare within a relative tolerance (the engine and the
  * reference may sum in different orders). Pure; unit-tested. */
object Gate {

  private def norm(v: Any): Any = v match {
    case null => null
    case n: java.lang.Byte => n.longValue
    case n: java.lang.Short => n.longValue
    case n: java.lang.Integer => n.longValue
    case n: java.lang.Long => n.longValue
    case n: BigInt => n.toLong
    case n: java.math.BigInteger => n.longValue
    case n: java.lang.Float => n.doubleValue
    case n: java.lang.Double => n.doubleValue
    case n: BigDecimal => n.toDouble
    case n: java.math.BigDecimal => n.doubleValue
    case t: java.sql.Timestamp => t.getTime
    case s: scala.collection.Seq[_] => s.map(norm).toVector
    case a: Array[_] => a.toVector.map(norm)
    case other => other.toString
  }

  private def sortKey(v: Any): String = v match {
    case null => "~null"
    case d: Double => f"$d%.6e"
    case s: Vector[_] => s.map(sortKey).mkString("[", ",", "]")
    case other => other.toString
  }

  /** rows re-ordered to name-sorted columns, values normalized, rows sorted */
  def canon(cols: Seq[String], rows: Seq[Seq[Any]]): (Seq[String], Seq[Vector[Any]]) = {
    val order = cols.indices.sortBy(i => cols(i))
    val out = rows.map(r => order.map(i => norm(r(i))).toVector)
    (order.map(cols), out.sortBy(_.map(sortKey).mkString("|")))
  }

  def valueEq(a: Any, b: Any, relTol: Double): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Long, y: Long) => x == y
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= relTol * math.max(math.abs(x), math.abs(y))
    case (x: Long, y: Double) => valueEq(x.toDouble, y, relTol)
    case (x: Double, y: Long) => valueEq(x, y.toDouble, relTol)
    case (x: Vector[_], y: Vector[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => valueEq(p, q, relTol) }
    case _ => a == b
  }

  /** None when equal, else a one-line description of the first difference */
  def diff(expCols: Seq[String], expected: Seq[Seq[Any]],
      gotCols: Seq[String], got: Seq[Seq[Any]], relTol: Double = 1e-9): Option[String] = {
    val (ec, er) = canon(expCols, expected)
    val (gc, gr) = canon(gotCols, got)
    if (ec != gc) Some(s"columns differ: expected ${ec.mkString(",")} got ${gc.mkString(",")}")
    else if (er.size != gr.size) Some(s"row count differs: expected ${er.size} got ${gr.size}")
    else er.indices.find(i => !valueEq(er(i), gr(i), relTol))
      .map(i => s"row $i differs: expected ${er(i).mkString(",")} got ${gr(i).mkString(",")}")
  }
}

/** Operation accounting: every attempted operation, and every one that
  * failed — wrong result, exception or commit conflict alike. */
final class Tally {
  private val att = new AtomicLong(0L)
  private val bad = new AtomicLong(0L)
  private val notes = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def attempted: Long = att.get
  def failed: Long = bad.get
  def firstNotes(n: Int): Seq[String] = {
    val it = notes.iterator(); val b = Seq.newBuilder[String]
    var k = 0
    while (it.hasNext && k < n) { b += it.next(); k += 1 }
    b.result()
  }

  /** record an operation; `check` returns a failure description or None */
  def run[T](what: String)(body: => T)(check: T => Option[String]): Option[T] = {
    att.incrementAndGet()
    try {
      val r = body
      check(r) match {
        case None => Some(r)
        case Some(why) => fail(s"$what: $why"); None
      }
    } catch {
      case e: Exception => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None
    }
  }

  def fail(note: String): Unit = {
    bad.incrementAndGet()
    if (notes.size < 20) notes.add(note.take(300))
  }
}
