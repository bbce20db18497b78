package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

class DriverGateSpec extends SparkSpecBase {

  /** (jobs, tasks) that `body` ran, and its result. */
  private def counted[T](body: => T): (Int, Int, T) = {
    val (out, rec) = QueryMetrics.measure(spark)(body)
    (rec.jobs, rec.tasks, out)
  }

  test("exactly maxRows rows take the driver path, maxRows + 1 do not") {
    val df = spark.range(0, 10, 1, 4).toDF("id")
    val got = DriverGate.rows("spec", df, 10)
    assert(got.map(_.map(_.getLong(0)).sorted.toSeq) === Some(0L until 10L))
    assert(DriverGate.rows("spec", df, 9).isEmpty)
  }

  test("a frame past the byte budget takes the distributed path") {
    val df = spark.range(0, 10, 1, 2).toDF("id")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    try {
      // ten one-long UnsafeRows are 160 bytes
      spark.conf.set(key, "159")
      assert(DriverGate.rows("spec", df, 100).isEmpty)
      spark.conf.set(key, "160")
      assert(DriverGate.rows("spec", df, 100).map(_.length) === Some(10))
      spark.conf.set(key, "-1")
      assert(DriverGate.rows("spec", df, 100).isEmpty)
    } finally spark.conf.unset(key)
  }

  test("an empty frame takes the driver path with no rows") {
    assert(DriverGate.rows("spec", spark.range(0).toDF("id"), 10)
      .map(_.length) === Some(0))
    assert(DriverGate.rows("spec",
      spark.range(0, 100, 1, 4).toDF("id").filter(col("id") < 0), 10, Seq(col("id")))
      .map(_.length) === Some(0))
  }

  test("forced mode decides without running a job") {
    val df = spark.range(0, 10, 1, 4).toDF("id")
    val (jobs, _, got) = counted(withGate(forceDistributed = true) {
      DriverGate.rows("spec", df, 100, Seq(col("id")))
    })
    assert(got.isEmpty)
    assert(jobs === 0)
  }

  test("past the row bound the probe reads fewer partitions than there are") {
    val df = spark.range(0, 64000, 1, 64).toDF("id")
    val (jobs, tasks, got) = counted(DriverGate.rows("spec", df, 100))
    assert(got.isEmpty)
    assert(jobs >= 1 && tasks < 64, s"jobs=$jobs tasks=$tasks")
    // under the bound every partition is read and every row comes back
    val (_, allTasks, all) = counted(DriverGate.rows("spec", df, 64000))
    assert(all.map(_.length) === Some(64000))
    assert(allTasks === 64)
  }

  test("under the bound a frame of one wave's partitions is read in one job") {
    // one wave, capped at spark.sql.limit.scaleUpFactor (4 by default)
    val n = math.min(spark.sparkContext.defaultParallelism, 4)
    val df = spark.range(0, 100, 1, n).toDF("id")
    val (jobs, tasks, got) = counted(DriverGate.rows("spec", df, 1000))
    assert(got.map(_.length) === Some(100))
    assert((jobs, tasks) === ((1, n)))
  }

  test("partitions that each fit the byte budget but not together: the " +
      "first round ships at most scaleUpFactor budgets") {
    // 8 partitions of 375 one-long UnsafeRows (16 bytes each): 6,000 bytes
    // per partition against a 10,000-byte budget, 48,000 in all
    val df = spark.range(0, 3000, 1, 8).toDF("id")
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.limit.scaleUpFactor")
    try {
      spark.conf.set(keys(0), "10000")
      // a cap below the spec session's 4 cores, so an uncapped wave shows
      spark.conf.set(keys(1), "2")
      val (jobs, tasks, p) = counted(
        org.apache.spark.sql.graftbridge.RowProbe(df, 1000000L, Nil))
      assert(p.rows.isEmpty)
      assert((jobs, tasks, p.rounds) === ((1, 2, 1)))
      assert(p.seenBytes === 12000L && p.seenBytes <= 2 * 10000L)
    } finally keys.foreach(spark.conf.unset)
  }

  test("a frame already on the driver is probed without a job, under the " +
      "same budgets and ordering") {
    val rows = new scala.util.Random(3).shuffle((0 until 50).map(i =>
      Row(i % 7, i.toLong)))
    val schema = StructType(Seq(StructField("k", IntegerType),
      StructField("id", LongType)))
    // a local relation plus a literal column plans as a LocalTableScan
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      schema).withColumn("one", org.apache.spark.sql.functions.lit(1L))
    val order = Seq(col("k").desc, col("id"))
    val (jobs, _, got) = counted(DriverGate.rows("spec", local, 100, order))
    assert(jobs === 0)
    val viaJobs = DriverGate.rows("spec", local.repartition(3), 100, order)
    assert(got.map(_.toSeq) === viaJobs.map(_.toSeq))
    assert(got.get.toSeq === local.orderBy(order: _*).collect().toSeq)
    // the row and byte budgets hold as on the job path
    assert(DriverGate.rows("spec", local, 49).isEmpty)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    try {
      spark.conf.set(key, "100")
      val (j, _, p) = counted(
        org.apache.spark.sql.graftbridge.RowProbe(local, 100, Nil))
      assert(p.rows.isEmpty && p.rounds === 0 && j === 0)
    } finally spark.conf.unset(key)
  }

  test("the driver sort equals orderBy for asc/desc, nulls, NaN, -0.0, " +
      "non-ASCII strings and binary") {
    val d: Seq[java.lang.Double] = Seq[java.lang.Double](1.5, -0.0, 0.0,
      Double.NaN, null, -7.25, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.0, Double.NaN, -0.0, 3.0)
    val s = Seq("b", "é", "Z", null, "", "日本", "e", "ß", "a\u0000",
      "é", "z", null)
    val b: Seq[Array[Byte]] = Seq(Array[Byte](1), Array[Byte](-1),
      Array.emptyByteArray, null, Array[Byte](0, -128), Array[Byte](127),
      Array[Byte](-1, 0), Array[Byte](1), null, Array[Byte](-128),
      Array[Byte](0), Array[Byte](1, 1))
    val rows = d.indices.map(i => Row(i, d(i), s(i), b(i)))
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("d", DoubleType), StructField("s", StringType),
      StructField("b", BinaryType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(new scala.util.Random(7).shuffle(rows), 3),
      schema)
    val orders: Seq[Seq[Column]] = Seq(
      Seq(col("d").asc_nulls_first, col("id")),
      Seq(col("d").desc_nulls_last, col("id")),
      Seq(col("d").asc_nulls_last, col("id").desc),
      Seq(col("s").asc_nulls_last, col("id")),
      Seq(col("s").desc_nulls_first, col("id")),
      Seq(col("b").asc, col("id")),
      Seq(col("b").desc, col("id")),
      Seq(col("s").desc, col("d"), col("id")))
    orders.foreach { order =>
      val want = df.orderBy(order: _*).collect().toSeq
      val got = DriverGate.rows("spec", df, 100, order).get.toSeq
      assert(got.map(_.getInt(0)) === want.map(_.getInt(0)), order)
      assert(got === want, order)
    }
  }
}
