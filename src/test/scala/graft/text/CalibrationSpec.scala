package graft.text

import graft.SparkSpecBase

class CalibrationSpec extends SparkSpecBase {
  import spark.implicits._

  test("equal-population bins with exact positive rates and score ranges") {
    val scored = Seq((0.0, 1.0), (0.0, 2.0), (1.0, 3.0), (1.0, 4.0))
      .toDF("y", "z")
    val out = QualityClassifier.calibrationTable(scored, "y", "z", 2)
      .orderBy("bin").collect()
    assert(out.length === 2)
    assert(out(0).getLong(0) === 0L && out(0).getLong(1) === 2L &&
      out(0).getLong(2) === 0L && out(0).getLong(3) === 0L)
    assert(out(0).getLong(4) === 1L && out(0).getLong(5) === 2L)
    assert(out(1).getLong(2) === 2L && out(1).getLong(3) === 1000000L)
  }

  test("tied scores land in ONE bin (value-level assignment)") {
    val scored = Seq((1.0, 1.0), (0.0, 1.0), (0.0, 1.0), (1.0, 2.0))
      .toDF("y", "z")
    val out = QualityClassifier.calibrationTable(scored, "y", "z", 2)
      .orderBy("bin").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq ===
      Seq((0L, 3L, 1L, 333333L), (1L, 1L, 1L, 1000000L)))
  }

  test("an empty input yields no bins") {
    val scored = Seq.empty[(Double, Double)].toDF("y", "z")
    assert(QualityClassifier.calibrationTable(scored, "y", "z", 2)
      .collect().isEmpty)
  }
}
