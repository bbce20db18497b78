package graft.stats

import graft.SparkSpecBase

class WassersteinSpec extends SparkSpecBase {
  import spark.implicits._

  private def w1(rows: (String, Long)*) = Wasserstein.oneVsRest(
    rows.toDF("g", "v"), "g", "v").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(r.fieldIndex("w1_micro"))) None
         else Some(r.getAs[Long]("w1_micro")))).toMap

  test("identical distributions are at distance exactly 0") {
    val m = w1("a" -> 1L, "a" -> 5L, "b" -> 1L, "b" -> 5L)
    assert(m("a") === Some(0L))
    assert(m("b") === Some(0L))
  }

  test("point masses one apart are at distance exactly 1") {
    val m = w1("a" -> 0L, "b" -> 1L)
    assert(m("a") === Some(1000000L))
    assert(m("b") === Some(1000000L))
  }

  test("mass and gap both scale the distance") {
    // a = {0,0}, b = {2}: |F diff| = 1 over gap 2 -> W1 = 2
    val m = w1("a" -> 0L, "a" -> 0L, "b" -> 2L)
    assert(m("a") === Some(2000000L))
  }

  test("a pure shift moves W1 by exactly the shift") {
    // {0,10} vs {5,15}: area between CDFs = 5
    val m = w1("a" -> 0L, "a" -> 10L, "b" -> 5L, "b" -> 15L)
    assert(m("a") === Some(5000000L))
    assert(m("b") === Some(5000000L))
  }

  test("three groups: each scored against the pooled rest") {
    // a={0}, b={0}, c={3}: rest of a = {0,3} -> W1 = |1 - 1/2|*3 = 1.5
    val m = w1("a" -> 0L, "b" -> 0L, "c" -> 3L)
    assert(m("a") === Some(1500000L))
    assert(m("b") === Some(1500000L))
    // rest of c = {0,0}: W1 = 3
    assert(m("c") === Some(3000000L))
  }

  test("a single group has an empty rest: null distance") {
    val m = w1("a" -> 1L, "a" -> 2L)
    assert(m("a") === None)
  }

  // -- both sides of the GlobalIndex measured-size gate ---------------------

  test("gate parity: driver-side value grid equals the ranged plan") {
    val rows = (0 until 900).map(i =>
      ("g" + (i % 3), ((i * 7919) % 300 + (i % 3) * 17).toLong))
    val (a, b) = bothGateModes(Wasserstein.oneVsRest(
      rows.toDF("g", "v"), "g", "v").collect().map(_.toSeq).toSeq)
    assert(a === b)
    assert(a.map(_.head) === Seq("g0", "g1", "g2"))
    val (e1, e2) = bothGateModes(Wasserstein.oneVsRest(
      Seq.empty[(String, Long)].toDF("g", "v"), "g", "v").collect().toSeq)
    assert(e1.isEmpty && e2.isEmpty)
  }

  test("a gated W1 leaves no cache and no range exchange") {
    withGate(forceDistributed = false) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = Wasserstein.oneVsRest(
        Seq("a" -> 0L, "a" -> 10L, "b" -> 5L).toDF("g", "v"), "g", "v")
      // the output's own orderBy("g") range-sorts the k result rows; the
      // value grid itself must not range-partition
      assert(!out.queryExecution.executedPlan.toString
        .contains("rangepartitioning(__v"))
      out.collect()
      assert(spark.sparkContext.getPersistentRDDs.keySet === before)
    }
  }
}
