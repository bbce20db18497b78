package graft.etl

import graft.SparkSpecBase

class SplitSkewSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  test("embargo split: nearest-rank boundary, purge band, role counts") {
    // 10 events at seconds 1..10, one group; 70% boundary = second 7;
    // embargo 2s -> train sec <= 5, purged {6, 7}, test {8, 9, 10}
    val df = (1L to 10L).map(s => ("a", ts(s))).toDF("g", "t")
    val m = TemporalSplit.embargoSplitReport(df, "g", "t",
      fracPct = 70, embargoSec = 2L)
      .collect().map(r => r.getString(1) ->
        (r.getLong(2), r.getLong(5))).toMap
    assert(m("train") === ((5L, 7L)))
    assert(m("purged") === ((2L, 7L)))
    assert(m("test") === ((3L, 7L)))
  }

  test("zero embargo degenerates to a plain time cut") {
    val df = (1L to 10L).map(s => ("a", ts(s))).toDF("g", "t")
    val m = TemporalSplit.embargoSplitReport(df, "g", "t", 70, 0L)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(m("train") === 7L)
    assert(m("test") === 3L)
    assert(!m.contains("purged"))
  }

  test("duplicate-heavy seconds shift the nearest-rank boundary") {
    // 7 events at second 1, 3 at second 9: 70% quantile IS second 1
    val df = (Seq.fill(7)(1L) ++ Seq.fill(3)(9L)).map(s => ("a", ts(s)))
      .toDF("g", "t")
    val m = TemporalSplit.embargoSplitReport(df, "g", "t", 70, 0L)
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getLong(5)))
      .toMap
    assert(m("train") === ((7L, 1L)))
    assert(m("test") === ((3L, 1L)))
  }

  test("skew report: hand-checked hot factors and tie-broken ranks") {
    // keys: a x6, b x2, c x2, d x2 -> n_keys 4, total 12, mean 3
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq.fill(2)("c") ++
      Seq.fill(2)("d")).toDF("k")
    val rows = SkewReport.skewReport(df, "k", 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // hot factor of a = 6*4/12 = 2x the mean -> 2_000_000 micro
    assert(rows(0) === (("a", 6L, 1L, 500000L, 2000000L, 4L, 12L)))
    // ties b/c at cnt 2 break by key ascending
    assert(rows(1)._1 === "b" && rows(2)._1 === "c")
    assert(rows(1)._5 === 666666L) // 2*4e6/12 floored
  }

  test("embargo split of an empty input is an empty report") {
    val df = Seq.empty[(String, java.sql.Timestamp)].toDF("g", "t")
    assert(TemporalSplit.embargoSplitReport(df, "g", "t", 70, 2L)
      .collect().isEmpty)
  }
}
