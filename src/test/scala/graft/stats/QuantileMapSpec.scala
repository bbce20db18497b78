package graft.stats

import graft.SparkSpecBase

class QuantileMapSpec extends SparkSpecBase {
  import spark.implicits._

  test("rank matching maps each sample value to the reference value at " +
      "the same quantile; mapping is monotone") {
    // sample {1,2,3,4}; ref {10,10,20,40}: ranks 1..4 map straight across
    val s = Seq(1L, 2L, 3L, 4L).toDF("x")
    val r = Seq(10L, 10L, 20L, 40L).toDF("y")
    val out = QuantileMap.quantileMap(s, "x", r, "y")
      .orderBy("v").collect()
      .map(q => q.getLong(0) -> (q.getLong(2), q.getLong(3)))
    // cum 1 -> rank 1 -> 10 (cum 2 covers ranks 1-2); cum 2 -> 10;
    // cum 3 -> 20; cum 4 -> 40
    assert(out.toSeq === Seq(1L -> ((1L, 10L)), 2L -> ((2L, 10L)),
      3L -> ((3L, 20L)), 4L -> ((4L, 40L))))
  }

  test("unequal sizes cross-multiply: 2 sample rows onto a 4-row " +
      "reference hit ranks ceil(1*4/2)=2 and 4") {
    val s = Seq(100L, 200L).toDF("x")
    val r = Seq(1L, 2L, 3L, 4L).toDF("y")
    val out = QuantileMap.quantileMap(s, "x", r, "y")
      .orderBy("v").collect()
      .map(q => (q.getLong(0), q.getLong(2), q.getLong(3)))
    assert(out.toSeq === Seq((100L, 2L, 2L), (200L, 4L, 4L)))
  }

  test("an empty sample or an empty reference maps nothing") {
    val none = Seq.empty[Long].toDF("x")
    val some = Seq(1L, 2L).toDF("x")
    assert(QuantileMap.quantileMap(none, "x", some, "x").collect().isEmpty)
    assert(QuantileMap.quantileMap(some, "x", none, "x").collect().isEmpty)
  }
}
