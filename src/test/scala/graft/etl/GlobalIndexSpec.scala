package graft.etl

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class GlobalIndexSpec extends SparkSpecBase {
  import spark.implicits._

  test("global index is 1..n, contiguous, and follows the total order") {
    // enough rows to span several range partitions, inserted out of order
    val df = (0 until 5000).map(i => (i * 7919 % 5000).toLong).toDF("k")
    val out = GlobalIndex.withGlobalIndex(df, Seq(col("k")), numPartitions = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length === 5000)
    val byIndex = out.sortBy(_._2)
    assert(byIndex.map(_._2).toSeq === (1L to 5000L)) // contiguous, no gaps
    assert(byIndex.map(_._1).toSeq === byIndex.map(_._1).sorted.toSeq) // order-aligned
    spark.catalog.clearCache()
  }

  test("offsets attach via broadcast join and stay correct at 1000+ partitions") {
    val df = (0 until 6000).map(i => (i * 104729 % 6000).toLong).toDF("k")
    withGate(forceDistributed = true) {
      val out = GlobalIndex.withGlobalIndex(df, Seq(col("k")), numPartitions = 1200)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        "offset attachment must be a broadcast join, not a when-chain")
      assert(!plan.contains("Exchange SinglePartition"),
        "no single-partition exchange anywhere in the index plan")
      val rows = out.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.length === 6000)
      val byIndex = rows.sortBy(_._2)
      assert(byIndex.map(_._2).toSeq === (1L to 6000L))
      assert(byIndex.map(_._1).toSeq === byIndex.map(_._1).sorted.toSeq)
    }
    spark.catalog.clearCache()
  }

  test("global index matches a single-partition row_number exactly") {
    val df = Seq(30L, 10L, 50L, 20L, 40L).toDF("k")
    val dist = GlobalIndex.withGlobalIndex(df, Seq(col("k")), numPartitions = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === Map(10L -> 1L, 20L -> 2L, 30L -> 3L, 40L -> 4L, 50L -> 5L))
    spark.catalog.clearCache()
  }

  test("grouped index: per-group ranks 1..n_g, totals, order-aligned") {
    // 3 groups of uneven size, values inserted out of order, duplicates
    // included (ties must land in one range partition and take a
    // contiguous run of ranks)
    val df = (0 until 6000).map { i =>
      val g = "g" + (i % 7919 % 3)
      (g, (i * 104729 % 500).toLong)
    }.toDF("g", "v")
    val out = GlobalIndex.withGroupedIndex(df, Seq("g"), Seq(col("v")),
        numPartitions = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.length === 6000)
    out.groupBy(_._1).foreach { case (g, rows) =>
      val n = rows.length.toLong
      assert(rows.forall(_._4 === n), s"group $g: totals wrong")
      val byRank = rows.sortBy(_._3)
      assert(byRank.map(_._3).toSeq === (1L to n), s"group $g: ranks not 1..$n")
      assert(byRank.map(_._2).toSeq === byRank.map(_._2).sorted.toSeq,
        s"group $g: rank order not value order")
    }
    spark.catalog.clearCache()
  }

  test("grouped median off the grouped index equals the windowed median") {
    // the q_a14 shape: two middle order statistics per group, averaged —
    // fast path (grouped index) vs the former PARTITION BY g window
    import org.apache.spark.sql.expressions.Window
    val df = (0 until 5001).map { i =>
      ("g" + (i % 3), (i * 7919 % 1000) / 8.0) }.toDF("g", "x")
    def viaWindow = {
      val w = Window.partitionBy("g").orderBy(col("x"))
      val cw = Window.partitionBy("g")
      df.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(cw))
        .filter(col("rn") === floor((col("cnt") + 1) / 2).cast("long") ||
          col("rn") === floor(col("cnt") / 2).cast("long") + 1)
        .groupBy("g").agg(avg("x").as("med"))
    }
    def viaIndex =
      GlobalIndex.withGroupedIndex(df, Seq("g"), Seq(col("x")),
          numPartitions = 8)
        .filter(col("rn") === floor((col("cnt") + 1) / 2).cast("long") ||
          col("rn") === floor(col("cnt") / 2).cast("long") + 1)
        .groupBy("g").agg(avg("x").as("med"))
    val a = viaWindow.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = viaIndex.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a === b)
    spark.catalog.clearCache()
  }

  test("global cumsum matches a single-partition running sum; nulls are 0") {
    val df = (0 until 4000).map { i =>
      val k = (i * 7919 % 4000).toLong
      (k, if (k % 17 == 0) null else java.lang.Long.valueOf(k % 7 + 1))
    }.toDF("k", "v")
    val out = GlobalIndex.withGlobalCumsumReleasable(df, Seq(col("k")),
        col("v"), numPartitions = 8)._1
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2)))
    assert(out.length === 4000)
    val byKey = out.sortBy(_._1)
    // exclusive: first row starts at 0; each next = prev + prev value
    var acc = 0L
    byKey.foreach { case (_, v, cum) =>
      assert(cum === acc); acc += v
    }
    // no single-partition exchange in the plan
    val plan = withGate(forceDistributed = true) {
      GlobalIndex.withGlobalCumsumReleasable(df, Seq(col("k")), col("v"),
        numPartitions = 8)._1.queryExecution.executedPlan.toString
    }
    assert(!plan.contains("Exchange SinglePartition"))
    spark.catalog.clearCache()
  }

  // -- both sides of the measured-size gate ---------------------------------
  // Every parity spec runs the same call with the gate taken (driver path)
  // and skipped (ranged path, spark.graft.gate.forceDistributed=true); the
  // collected outputs must match row for row, schema included.

  private def dump(df: DataFrame, by: String*): (Seq[String], Seq[Seq[Any]]) =
    (df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").toSeq,
      df.orderBy(by.map(col): _*).collect().map(_.toSeq).toSeq)

  private val keys = (0 until 3000).map(i => (i * 7919 % 3000).toLong)

  test("gate parity: global index") {
    val df = keys.map(k => (k, s"s$k")).toDF("k", "s")
    val (a, b) = bothGateModes(dump(GlobalIndex.withGlobalIndex(
      df, Seq(col("k")), numPartitions = 8), "rn"))
    assert(a === b)
    assert(a._2.map(_(2)) === (1L to 3000L))
    assert(a._1 === Seq("k:bigint", "s:string", "rn:bigint"))
  }

  test("gate parity: cumsum counts nulls as 0") {
    val df = keys.map(k =>
      (k, if (k % 13 == 0) null else java.lang.Long.valueOf(k % 5 + 1)))
      .toDF("k", "v")
    val (a, b) = bothGateModes(dump(GlobalIndex.withGlobalCumsumReleasable(
      df, Seq(col("k")), col("v"), "cx", numPartitions = 8)._1, "k"))
    assert(a === b)
    val expected = a._2.map(r => Option(r(1)).fold(0L)(_.asInstanceOf[Long]))
      .scanLeft(0L)(_ + _).init
    assert(a._2.map(_(2)) === expected)
  }

  test("gate parity: running with several sums, totals and n") {
    val df = keys.map(k => (k, k % 7, if (k % 11 == 0) None else Some(k % 3)))
      .toDF("k", "a", "b")
    def run() = {
      val (out, totals, n) = GlobalIndex.withGlobalRunning(df, Seq(col("k")),
        Seq(col("a") -> "xa", col("b") -> "xb", (col("a") * 2) -> "x2a"),
        indexCol = "pos", numPartitions = 8)
      (dump(out, "k"), totals.toSeq, n)
    }
    val (a, b) = bothGateModes(run())
    assert(a === b)
    assert(a._3 === 3000L)
    val sumA = keys.map(_ % 7).sum
    assert(a._2 === Seq(sumA, keys.filter(_ % 11 != 0).map(_ % 3).sum,
      2 * sumA))
    assert(a._1._1 === Seq("k:bigint", "a:bigint", "b:bigint", "xa:bigint",
      "xb:bigint", "x2a:bigint", "pos:bigint"))
  }

  test("gate parity: descending order") {
    val df = keys.toDF("k")
    val (a, b) = bothGateModes(dump(GlobalIndex.withGlobalIndex(
      df, Seq(col("k").desc), numPartitions = 8), "rn"))
    assert(a === b)
    assert(a._2.head === Seq(2999L, 1L))
  }

  test("gate parity: empty input") {
    val df = Seq.empty[(Long, String)].toDF("k", "g")
    val (a, b) = bothGateModes {
      val (run, totals, n) = GlobalIndex.withGlobalRunning(df, Seq(col("k")),
        Seq(col("k") -> "xk"), indexCol = "rn")
      (dump(GlobalIndex.withGlobalIndex(df, Seq(col("k"))), "k"),
        dump(GlobalIndex.withGlobalCumsumReleasable(df, Seq(col("k")),
          col("k"))._1, "k"),
        dump(run, "k"), totals.toSeq, n,
        dump(GlobalIndex.withGroupedIndex(df, Seq("g"), Seq(col("k"))), "k"))
    }
    assert(a === b)
    assert(a._1._2.isEmpty && a._3._2.isEmpty && a._6._2.isEmpty)
    assert(a._4 === Seq(0L) && a._5 === 0L)
  }

  test("gate parity: grouped ranks and totals") {
    val df = (0 until 3000).map(i => ("g" + (i % 4), (i * 7919 % 3000).toLong))
      .toDF("g", "v")
    val (a, b) = bothGateModes(dump(GlobalIndex.withGroupedIndex(
      df, Seq("g"), Seq(col("v")), numPartitions = 8), "g", "rn"))
    assert(a === b)
    assert(a._1 === Seq("g:string", "v:bigint", "rn:bigint", "cnt:bigint"))
  }

  test("grouped index keeps a NULL group, as row_number over PARTITION BY g") {
    import org.apache.spark.sql.expressions.Window
    val df = (0 until 900).map { i =>
      (if (i % 3 == 0) null else "g" + (i % 3), (i * 7919 % 900).toLong)
    }.toDF("g", "v")
    val viaWindow = df
      .withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy("v")).cast("long"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("g")))
    val expected = dump(viaWindow, "g", "rn")._2
    val (a, b) = bothGateModes(dump(GlobalIndex.withGroupedIndex(
      df, Seq("g"), Seq(col("v")), numPartitions = 8), "g", "rn")._2)
    assert(a.length === 900)
    assert(a.count(_.head == null) === 300)
    assert(a === expected)
    assert(b === expected)
  }

  test("a gated call leaves the session's persisted RDDs as it found it") {
    val df = keys.toDF("k")
    withGate(forceDistributed = false) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val (idx, release) = GlobalIndex.withGlobalIndexReleasable(
        df, Seq(col("k")))
      idx.collect()
      GlobalIndex.withGlobalRunning(df, Seq(col("k")), Seq(col("k") -> "x"))
        ._1.collect()
      GlobalIndex.withGroupedIndex(df.withColumn("g", col("k") % 3), Seq("g"),
        Seq(col("k"))).collect()
      release()
      assert(spark.sparkContext.getPersistentRDDs.keySet === before)
    }
  }

  test("the gated plan has no range exchange; the forced plan has one") {
    val df = keys.toDF("k")
    def plan() = GlobalIndex.withGlobalIndex(df, Seq(col("k")))
      .queryExecution.executedPlan.toString
    val gated = withGate(forceDistributed = false)(plan())
    val forced = withGate(forceDistributed = true)(plan())
    assert(!gated.contains("rangepartitioning"), gated)
    assert(forced.contains("rangepartitioning"), forced)
    spark.catalog.clearCache()
  }

  test("past the row bound the ranged path runs with the gate's cache gone") {
    // one row over 2^16: the measurement sends it down the ranged path;
    // the only cache alive is the range cache, which release drops
    val n = GlobalIndex.MaxDriverRows + 1
    val df = spark.range(0, n).select(((col("id") * 7919) % n).as("k"))
    withGate(forceDistributed = false) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val (idx, release) = GlobalIndex.withGlobalIndexReleasable(
        df, Seq(col("k")), numPartitions = 4)
      val ranks = idx.agg(min("rn"), max("rn"), countDistinct("rn"),
        sum(when(col("rn") === col("k") + 1, 1L).otherwise(0L))).head()
      assert(ranks.toSeq === Seq(1L, n, n, n))
      assert((spark.sparkContext.getPersistentRDDs.keySet -- before).size === 1)
      release()
      assert(spark.sparkContext.getPersistentRDDs.keySet === before)
    }
  }
}
