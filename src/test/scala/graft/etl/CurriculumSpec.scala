package graft.etl

import graft.SparkSpecBase

class CurriculumSpec extends SparkSpecBase {
  import spark.implicits._

  test("bands follow the exact global quality rank, highest first") {
    // quality 40, 30, 20, 10 over 4 docs, 2 bands -> {40,30} band 0
    val df = Seq((1L, 10L), (2L, 30L), (3L, 40L), (4L, 20L))
      .toDF("id", "q")
    val m = Curriculum.curriculumOrder(df, "id", "q", nBands = 2, seed = 1L)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("band")).toMap
    assert(m === Map(3L -> 0L, 2L -> 0L, 4L -> 1L, 1L -> 1L))
  }

  test("quality ties break by id: deterministic banding") {
    val df = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L)).toDF("id", "q")
    val m = Curriculum.curriculumOrder(df, "id", "q", 2, 1L)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("band")).toMap
    assert(m === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L))
  }

  test("shuffle keys are seed-stable and change with the seed") {
    val df = Seq((1L, 5L), (2L, 6L)).toDF("id", "q")
    def keys(seed: Long) = Curriculum.curriculumOrder(df, "id", "q", 1, seed)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("shuffle_key"))
      .toMap
    assert(keys(7L) === keys(7L))
    assert(keys(7L) !== keys(8L))
  }

  test("an empty input yields no rows") {
    val df = Seq.empty[(Long, Long)].toDF("id", "q")
    val out = Curriculum.curriculumOrder(df, "id", "q", 2, 1L)
    assert(out.columns.toSeq === Seq("id", "q", "band", "shuffle_key"))
    assert(out.collect().isEmpty)
  }
}
