package graft.stats

import graft.SparkSpecBase

class LogRankSpec extends SparkSpecBase {
  import spark.implicits._

  private def lr(subj: (String, Long, Long)*) = LogRank.logRank(
    subj.toDF("arm", "dur", "event"), "arm", "dur", "event").collect()(0)

  test("symmetric arms give O = E exactly and chi2 = 0") {
    val r = lr(("a", 1L, 1L), ("b", 1L, 1L), ("a", 2L, 1L), ("b", 2L, 1L))
    assert(r.getAs[Long]("o_a") === 2L)
    assert(r.getAs[Long]("e_a_micro") === 2000000L)
    assert(r.getAs[Long]("chi2_micro") === 0L)
  }

  test("complete separation: hand-computed chi2 = 3") {
    // arm a dies at t=1 (both), arm b at t=5 (both):
    // t1: n=4, na=2, d=2, da=2 -> e = 1e6, v = 2*(1/2)*(1/2)*(2/3)
    // t5: n=2, na=0 -> e = 0; v = 0 (n-d = 0)
    // chi2 = (2 - 1)^2 / (1/3) = 3
    val r = lr(("a", 1L, 1L), ("a", 1L, 1L), ("b", 5L, 1L), ("b", 5L, 1L))
    assert(r.getAs[Long]("o_a") === 2L)
    assert(r.getAs[Long]("e_a_micro") === 1000000L)
    assert(r.getAs[Long]("v_micro") === 333333L)
    // (1e6)^2 div 333333 = 3000003 (the floored-V propagation)
    assert(r.getAs[Long]("chi2_micro") === 1000000L * 1000000L / 333333L)
  }

  test("censored subjects count at risk but never as deaths") {
    // arm b's subject is censored: t1: n=3, na=2, d=1, da=1
    val r = lr(("a", 1L, 1L), ("a", 2L, 0L), ("b", 2L, 0L))
    assert(r.getAs[Long]("deaths") === 1L)
    assert(r.getAs[Long]("o_a") === 1L)
    // e = floor(1e6 * 1 * 2/3)
    assert(r.getAs[Long]("e_a_micro") === 666666L)
  }

  test("no deaths at all: V = 0, chi2 null") {
    val r = lr(("a", 1L, 0L), ("b", 2L, 0L))
    assert(r.getAs[Long]("deaths") === 0L)
    assert(r.isNullAt(r.fieldIndex("chi2_micro")))
  }

  test("empty input: one row of zeros, n_subjects and chi2 null") {
    val r = lr()
    assert(r.isNullAt(r.fieldIndex("n_subjects")))
    Seq("deaths", "o_a", "e_a_micro", "o_b", "e_b_micro", "v_micro")
      .foreach(c => assert(r.getAs[Long](c) === 0L, c))
    assert(r.isNullAt(r.fieldIndex("chi2_micro")))
  }
}
