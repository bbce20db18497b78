package graft.stats

import graft.SparkSpecBase

class RocAucSpec extends SparkSpecBase {
  import spark.implicits._

  private def aucOf(rows: (Long, Boolean)*) = RocAuc.auc(
    rows.toDF("score", "label"), "score", "label").collect()(0)

  test("perfect ranking gives AUC exactly 1") {
    val r = aucOf(3L -> true, 4L -> true, 1L -> false, 2L -> false)
    assert(r.getAs[Long]("n_pos") === 2L && r.getAs[Long]("n_neg") === 2L)
    assert(r.getAs[Long]("u2") === 8L)
    assert(r.getAs[Long]("auc_micro") === 1000000L)
  }

  test("inverted ranking gives AUC exactly 0") {
    val r = aucOf(1L -> true, 2L -> true, 3L -> false, 4L -> false)
    assert(r.getAs[Long]("auc_micro") === 0L)
  }

  test("constant score gives AUC exactly 1/2 (tie handling)") {
    val r = aucOf(7L -> true, 7L -> true, 7L -> false, 7L -> false)
    assert(r.getAs[Long]("auc_micro") === 500000L)
  }

  test("gains table: deciles, capture and lift on a 10-row ranking") {
    // ids 1..10, score = 11-id (id 1 ranks first); positives = ids 1,2
    val df = (1L to 10L).map(i => (i, 11L - i, i <= 2))
      .toDF("id", "score", "label")
    val g = RocAuc.gainsTable(df, "id", "score", "label")
      .orderBy("decile").collect()
    assert(g.length === 10)
    assert(g.map(_.getAs[Long]("n_rows")).forall(_ === 1L))
    assert(g(0).getAs[Long]("n_pos") === 1L)
    assert(g(0).getAs[Long]("capture_micro") === 500000L)
    // lift of decile 0: (1/1)/(2/10) = 5
    assert(g(0).getAs[Long]("lift_micro") === 5000000L)
    assert(g(1).getAs[Long]("capture_micro") === 1000000L)
    // by decile 9 lift is exactly 1
    assert(g(9).getAs[Long]("lift_micro") === 1000000L)
    assert(g(9).getAs[Long]("cum_rows") === 10L)
  }

  test("gains table: tied scores split deterministically by id") {
    // all scores tied: rank order is pure id order
    val df = (1L to 10L).map(i => (i, 5L, i === 1L)).toDF("id", "s", "y")
    val g = RocAuc.gainsTable(df, "id", "s", "y").orderBy("decile")
      .collect()
    assert(g(0).getAs[Long]("n_pos") === 1L) // id 1 lands in decile 0
    assert(g.map(_.getAs[Long]("n_pos")).sum === 1L)
  }

  test("gains table of an empty input is empty") {
    val df = Seq.empty[(Long, Long, Boolean)].toDF("id", "score", "label")
    assert(RocAuc.gainsTable(df, "id", "score", "label").collect().isEmpty)
  }
}
