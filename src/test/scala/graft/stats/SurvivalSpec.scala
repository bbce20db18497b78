package graft.stats

import graft.SparkSpecBase

class SurvivalSpec extends SparkSpecBase {
  import spark.implicits._

  private def km(subj: (Long, Long)*) = Survival.kaplanMeier(
    subj.toDF("dur", "event"), "dur", "event")
    .orderBy("t").collect()

  /** The operator's own floor chain, replayed on the JVM (Spark's
    * log/exp are java.lang.Math). */
  private def term(nRisk: Long, d: Long): Long =
    math.floor(math.log((nRisk - d).toDouble / nRisk) * 1e6).toLong
  private def surv(lnS: Long): Long =
    math.floor(math.exp(lnS.toDouble / 1e6) * 1e6).toLong

  test("textbook curve: censored subjects leave the risk set silently") {
    // deaths at t=1 (of 4) and t=3 (of 2); censored at t=2 and t=4
    val out = km((1L, 1L), (2L, 0L), (3L, 1L), (4L, 0L))
    assert(out.map(_.getAs[Long]("t")).toSeq === Seq(1L, 3L))
    assert(out.map(_.getAs[Long]("n_risk")).toSeq === Seq(4L, 2L))
    val t1 = term(4, 1)
    val t3 = term(2, 1)
    assert(out(0).getAs[Long]("ln_s_micro") === t1)
    assert(out(0).getAs[Long]("surv_micro") === surv(t1))
    assert(out(1).getAs[Long]("ln_s_micro") === t1 + t3)
    assert(out(1).getAs[Long]("surv_micro") === surv(t1 + t3))
  }

  test("a whole-risk-set death pins survival to exact 0, not -inf") {
    val out = km((1L, 1L), (2L, 1L))
    assert(out(1).getAs[Long]("n_risk") === 1L)
    assert(out(1).isNullAt(out(1).fieldIndex("ln_s_micro")))
    assert(out(1).getAs[Long]("surv_micro") === 0L)
    // the earlier death is unaffected
    assert(out(0).getAs[Long]("surv_micro") === surv(term(2, 1)))
  }

  test("all-censored input yields an empty curve (no death times)") {
    assert(km((5L, 0L), (9L, 0L)).isEmpty)
  }

  test("a censor at a death time still counts at risk for that death") {
    val out = km((2L, 1L), (2L, 0L), (2L, 1L))
    assert(out(0).getAs[Long]("n_risk") === 3L)
    assert(out(0).getAs[Long]("d") === 2L)
    assert(out(0).getAs[Long]("n_censored_at_t") === 1L)
    assert(out(0).getAs[Long]("ln_s_micro") === term(3, 2))
  }

  test("empty input yields an empty curve") {
    assert(km().isEmpty)
  }
}
