package graft

import graft.table._

/** Driver-only unit coverage of the manifest pruner: predicate extraction
  * from SQL text, stat comparisons per type, transform-aware partition
  * pruning, and the conservative keep-on-unknown contract. */
class PruningSpec extends SparkSpec {

  private val schema = SchemaMeta(0, List(
    FieldMeta(1, "k", "bigint"), FieldMeta(2, "name", "string"),
    FieldMeta(3, "ts", "timestamp"), FieldMeta(4, "price", "double")))

  private def meta(spec: PartSpecMeta = PartSpecMeta(0, Nil)): TableMeta =
    TableMeta(3, "u", 4, 0, 0, 0, 0, 0, 0, 0, List(schema), List(spec),
      Nil, Map.empty, Map.empty)

  private def file(stats: Map[String, ColStats],
      part: Map[String, String] = Map.empty, specId: Int = 0): FileMeta =
    FileMeta("f.parquet", "data", specId, 0, part, 10, 100, 1, stats)

  test("extract handles comparisons, reversed operands, IN, and conjunction") {
    val ps = Pruning.extract(
      "k >= 5 and 10 > k and name = 'a' and k in (1, 2) and (k + 1 > 2)", spark)
    assert(ps.map(p => (p.field, p.op)).toSet ==
      Set(("k", ">="), ("k", "<"), ("name", "="), ("k", "in")))
    // the non-simple conjunct (k + 1 > 2) is skipped, not mis-extracted
    assert(ps.size == 4)
  }

  test("BETWEEN extracts as >= and <= on a bare column; NOT BETWEEN stays unextracted") {
    val ps = Pruning.extract("k BETWEEN 5 AND 9", spark)
    assert(ps.map(p => (p.field, p.op, p.values)).toSet ==
      Set(("k", ">=", Seq(5)), ("k", "<=", Seq(9))))
    assert(Pruning.extract("k NOT BETWEEN 5 AND 9", spark).isEmpty)
    // non-literal bound or qualified column: nothing to prune on
    assert(Pruning.extract("k BETWEEN price AND 9", spark).isEmpty)
    assert(Pruning.extract("t.k BETWEEN 5 AND 9", spark).isEmpty)
    val f = file(Map("1" -> ColStats(Some("100"), Some("200"), 0)))
    def keep(p: String) = Pruning.fileMatches(f, meta(), Pruning.extract(p, spark))
    assert(!keep("k BETWEEN 201 AND 300") && !keep("k BETWEEN 1 AND 99"))
    assert(keep("k BETWEEN 150 AND 160") && keep("k BETWEEN 1 AND 100"))
    assert(keep("k NOT BETWEEN 1 AND 300"))
  }

  test("numeric min/max stats decide ranges; missing stats keep the file") {
    val m = meta()
    val f = file(Map("1" -> ColStats(Some("100"), Some("200"), 0)))
    def keep(p: String) = Pruning.fileMatches(f, m, Pruning.extract(p, spark))
    assert(!keep("k < 100") && keep("k <= 100") && keep("k < 150"))
    assert(!keep("k > 200") && keep("k >= 200"))
    assert(keep("k = 150") && !keep("k = 99") && !keep("k = 201"))
    assert(keep("k in (99, 150)") && !keep("k in (98, 99)"))
    // field with no stats entry: conservative keep
    assert(keep("price > 1e9"))
    // unknown field in predicate: conservative keep
    assert(keep("nope = 1"))
  }

  test("string and timestamp stats compare in their own domains") {
    val m = meta()
    val f = file(Map(
      "2" -> ColStats(Some("alpha"), Some("delta"), 0),
      // timestamps are stored as unix micros
      "3" -> ColStats(Some("1700000000000000"), Some("1700003600000000"), 0)))
    def keep(p: String) = Pruning.fileMatches(f, m, Pruning.extract(p, spark))
    assert(keep("name = 'beta'") && !keep("name = 'zeta'"))
    assert(keep("ts >= timestamp'2023-11-14 22:13:20'"))
    assert(!keep("ts > timestamp'2023-11-14 23:13:20'"))
  }

  test("bucket partition pruning coerces literal types before hashing") {
    val spec = PartSpecMeta(0, List(PartFieldMeta("b", "bucket", List(1), Some(8))))
    val m = meta(spec)
    val bucketOf42 = Transforms.evalLiteral(spec.fields.head, Seq(42L)).get
    val hit = file(Map.empty, Map("b" -> bucketOf42))
    val miss = file(Map.empty, Map("b" -> ((bucketOf42.toInt + 1) % 8).toString))
    // "k = 42" parses as an Int literal; the pruner must hash it as bigint
    val preds = Pruning.extract("k = 42", spark)
    assert(Pruning.fileMatches(hit, m, preds))
    assert(!Pruning.fileMatches(miss, m, preds))
    // range predicates cannot prune buckets: both kept
    val range = Pruning.extract("k > 42", spark)
    assert(Pruning.fileMatches(hit, m, range) && Pruning.fileMatches(miss, m, range))
  }

  test("multi-arg bucket prunes only when every source is equality-bound") {
    val spec = PartSpecMeta(0, List(
      PartFieldMeta("kb", "bucket", List(1, 2), Some(8))))
    val m = meta(spec)
    val pf = spec.fields.head
    val bucket = Transforms.evalLiteral(pf, Seq(42L, "bb")).get
    val hit = file(Map.empty, Map("kb" -> bucket))
    val miss = file(Map.empty, Map("kb" -> ((bucket.toInt + 1) % 8).toString))
    val both = Pruning.extract("k = 42 and name = 'bb'", spark)
    assert(Pruning.fileMatches(hit, m, both))
    assert(!Pruning.fileMatches(miss, m, both))
    // only one source bound: bucket not computable, keep both
    val one = Pruning.extract("k = 42", spark)
    assert(Pruning.fileMatches(hit, m, one) && Pruning.fileMatches(miss, m, one))
  }

  test("monotonic time transforms prune ranges; other spec ids unaffected") {
    val spec = PartSpecMeta(0, List(PartFieldMeta("ts_month", "month", List(3))))
    val m = meta(spec)
    // month ordinal for 2024-03 = (2024-1970)*12 + 2 = 650
    val mar = file(Map.empty, Map("ts_month" -> "650"))
    val keepP = Pruning.extract("ts >= timestamp'2024-03-15 00:00:00'", spark)
    val dropP = Pruning.extract("ts >= timestamp'2024-04-01 00:00:00'", spark)
    assert(Pruning.fileMatches(mar, m, keepP))
    assert(!Pruning.fileMatches(mar, m, dropP))
    // a file written under a DIFFERENT spec id has no such partition value:
    // conservative keep
    val other = file(Map.empty, Map.empty, specId = 0).copy(partition = Map.empty)
    assert(Pruning.fileMatches(other, m, dropP))
  }
}
