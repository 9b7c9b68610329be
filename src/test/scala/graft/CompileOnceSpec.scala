package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics

/** Repeated traffic pays planning costs once per session: generated
  * classes stay in the codegen cache across passes, and a table
  * directory's parquet schema is inferred once until its files change. */
class CompileOnceSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("warm curate passes do not recompile the pass's generated classes") {
    graft.functions.GraftFunctions.register(spark)
    // the curate pass: three registry operators plus the sketch UDAFs
    def pass(): Long = {
      val c0 = compiles
      Seq("q_pipeline_e2e", "q_dedup_exact", "q_dedup_minhash")
        .foreach(k => SparkEntry.queries(k)(spark, sf01).collect())
      Tables(spark, sf01, "documents").createOrReplaceTempView("docs")
      spark.sql("SELECT lang, graft_hll_ndv(text).ndv_est FROM docs GROUP BY lang").collect()
      spark.sql("""SELECT lang, graft_minhash(s) FROM (
        |  SELECT lang, explode(split(text, ' ')) AS s FROM docs)
        |GROUP BY lang""".stripMargin).collect()
      compiles - c0
    }
    val cold = pass()
    // A cache smaller than the pass's working set misses on nearly every
    // access: each warm pass then recompiles most of `cold` again. With
    // the working set cached, a warm pass compiles 0 classes, or a few
    // genuinely new ones when AQE re-plans q_dedup_minhash's cached
    // stages around an in-memory relation materialized at another moment.
    val warm = Seq(pass(), pass())
    spark.catalog.dropTempView("docs")
    assert(warm.sum * 4 < cold, s"cold pass compiled $cold classes, warm passes $warm")
  }

  test("Tables infers a directory's schema once; a rewrite re-infers") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tables").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("id", "s"))
    val (df, jobs) = jobsDuring(Tables(spark, dir, "t"))
    assert(jobs == 0, s"unchanged directory re-inferred ($jobs job(s))")
    assert(df.count() == 2)
    Seq((3L, "c", 1.5)).toDF("id", "s", "x")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val re = Tables(spark, dir, "t")
    assert(re.columns.toSeq == Seq("id", "s", "x"))
    assert(re.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((3L, "c", 1.5)))
  }

  test("Tables re-infers when an inference conf changes") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // a plain parquet BINARY column with no Spark schema in the footer:
    // binaryAsString decides whether it infers as binary or string
    val dir = Files.createTempDirectory("graft-tables").toString
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/t.parquet/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi"))
    finally w.close()
    def bType = Tables(spark, dir, "t").schema("b").dataType.typeName
    val key = "spark.sql.parquet.binaryAsString"
    assert(bType == "binary")
    spark.conf.set(key, "true")
    try assert(bType == "string")
    finally spark.conf.unset(key)
    assert(bType == "binary")
  }
}
