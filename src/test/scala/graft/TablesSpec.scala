package graft

import org.apache.spark.sql.types.LongType

class TablesSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("tables_spec").toString

  test("a second read of a table runs no job") {
    Tables.orders(spark, sf)
    val (df, rec) = QueryMetrics.measure(spark)(Tables.orders(spark, sf))
    assert(rec.jobs === 0)
    assert(df.columns.contains("o_orderkey"))
  }

  test("the memoised schema is the inferred one for every fixture table") {
    Tables.names.foreach { name =>
      val raw = spark.read.parquet(s"$sf/$name.parquet")
      val want = if (name == "events") Tables.normalizeTs(raw) else raw
      assert(Tables(spark, sf, name).schema === want.schema, name)
    }
  }

  test("a table rewritten at the same path with another schema is " +
      "inferred again") {
    val dir = tmpDir()
    Seq(1L, 2L).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").schema.fieldNames.toSeq === Seq("a"))
    Seq("x").toDF("b").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables(spark, dir, "t")
    assert(again.schema.fieldNames.toSeq === Seq("b"))
    assert(again.collect().map(_.getString(0)).toSeq === Seq("x"))
  }

  test("flipping spark.sql.legacy.parquet.nanosAsLong gives the other ts " +
      "type") {
    // a TIMESTAMP(NANOS) column, which Spark's own writer cannot produce
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmpDir()
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$dir/t.parquet/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    def tsType(on: Boolean) = {
      spark.conf.set(key, on.toString)
      scala.util.Try(Tables(spark, dir, "t").schema("ts").dataType)
    }
    val prev = spark.conf.getOption(key)
    try {
      assert(tsType(on = true).get === LongType)
      // without the conf Spark has no type for the column: the memo must
      // not hand back the long
      val off = tsType(on = false)
      assert(off.isFailure || off.get != LongType, off)
      assert(tsType(on = true).get === LongType)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
