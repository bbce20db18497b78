package graft.stats

import graft.SparkSpecBase
import org.apache.spark.sql.functions.col

class FdrSweepSpec extends SparkSpecBase {
  import spark.implicits._

  test("BH step-up matches the textbook example (jmax = 4 of 5)") {
    // p = .005, .011, .02, .04, .13 at alpha = .05: p*(m/j) =
    // .025, .0275, .0333, .05, .13 -> reject the first four
    val tests = Seq(("t1", 5000L), ("t2", 11000L), ("t3", 20000L),
        ("t4", 40000L), ("t5", 130000L))
      .toDF("id", "p_micro")
    val out = FdrSweep.bhStepUp(tests, "id", alphaMicro = 50000L)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Boolean]("rejected")).toSeq ===
      Seq(true, true, true, true, false))
    assert(out.map(_.getAs[Long]("p_adj_micro")).toSeq ===
      Seq(25000L, 27500L, 33333L, 50000L, 130000L))
  }

  test("all-equal-rank family: every test rejected exactly at the boundary") {
    // p_j = j * alpha / m exactly: the step-up keeps all m
    val tests = Seq(("a", 10000L), ("b", 20000L), ("c", 30000L),
        ("d", 40000L), ("e", 50000L))
      .toDF("id", "p_micro")
    val out = FdrSweep.bhStepUp(tests, "id", alphaMicro = 50000L)
    assert(out.filter(col("rejected")).count() === 5L)
    assert(out.select("p_adj_micro").distinct().collect()
      .map(_.getLong(0)).toSeq === Seq(50000L))
  }

  test("adjusted p is monotone nondecreasing in rank and capped at 1e6") {
    val tests = Seq(("a", 999999L), ("b", 1000000L), ("c", 1L))
      .toDF("id", "p_micro")
    val adj = FdrSweep.bhStepUp(tests, "id", 50000L)
      .orderBy("rank").collect().map(_.getAs[Long]("p_adj_micro"))
    assert(adj.zip(adj.tail).forall { case (x, y) => x <= y })
    assert(adj.forall(_ <= 1000000L))
  }

  test("KS-vs-rest flags the planted shifted group and only it") {
    // A and B share one distribution; C is a SMALL fully-shifted group —
    // small, so its rows barely perturb A's and B's "rest" (a large
    // shifted group would legitimately flag everyone)
    val rows = (1 to 40).map(i => ("A", (i % 10).toLong)) ++
      (1 to 40).map(i => ("B", (i % 10).toLong)) ++
      (1 to 4).map(i => ("C", 1000L + i))
    val swept = FdrSweep.bhStepUp(
      FdrSweep.ksRestSweep(rows.toDF("g", "v"), "g", "v"), "g", 50000L)
      .collect().map(r => r.getAs[String]("g") ->
        r.getAs[Boolean]("rejected")).toMap
    assert(swept("C"))
    assert(!swept("A") && !swept("B"))
  }

  test("identical groups: p capped at 1e6, nothing rejected") {
    val rows = (1 to 30).map(i => (s"g${i % 3}", (i % 5).toLong))
    val out = FdrSweep.bhStepUp(
      FdrSweep.ksRestSweep(rows.toDF("g", "v"), "g", "v"), "g", 50000L)
      .collect()
    assert(out.forall(!_.getAs[Boolean]("rejected")))
    assert(out.forall(_.getAs[Long]("p_micro") === 1000000L))
  }

  // -- both sides of the GlobalIndex measured-size gate ---------------------

  private def bh(tests: org.apache.spark.sql.DataFrame) =
    FdrSweep.bhStepUp(tests, "id", 50000L).orderBy("rank").collect()
      .map(_.toSeq).toSeq

  test("gate parity: BH step-up on the driver equals the ranged plan") {
    // a family with tied p-values (the id breaks them), a boundary
    // rejection, and values above the cap's reach
    val tests = (1 to 400).map(i =>
      ("t%03d".format(i), (i * 7919 % 400).toLong * 250L)).toDF("id", "p_micro")
    val (a, b) = bothGateModes(bh(tests))
    assert(a === b)
    assert(a.length === 400)
    assert(a.map(_(2)) === (1L to 400L))
  }

  test("gate parity: the KS sweep and an empty family") {
    val rows = (1 to 60).map(i => ("A", (i % 10).toLong)) ++
      (1 to 60).map(i => ("B", (i % 12).toLong)) ++
      (1 to 5).map(i => ("C", 1000L + i))
    val (a, b) = bothGateModes(FdrSweep.bhStepUp(
      FdrSweep.ksRestSweep(rows.toDF("g", "v"), "g", "v"), "g", 50000L)
      .orderBy("rank").collect().map(_.toSeq).toSeq)
    assert(a === b)
    val (e1, e2) = bothGateModes(bh(Seq.empty[(String, Long)]
      .toDF("id", "p_micro")))
    assert(e1.isEmpty && e2.isEmpty)
  }

  test("a gated BH pass leaves no cache and no range exchange") {
    val tests = Seq(("t1", 5000L), ("t2", 11000L), ("t3", 20000L))
      .toDF("id", "p_micro")
    withGate(forceDistributed = false) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = FdrSweep.bhStepUp(tests, "id", 50000L)
      assert(!out.queryExecution.executedPlan.toString
        .contains("rangepartitioning"))
      out.collect()
      assert(spark.sparkContext.getPersistentRDDs.keySet === before)
    }
  }
}
