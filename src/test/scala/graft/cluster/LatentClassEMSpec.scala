package graft.cluster

import graft.{QueryMetrics, SparkSpecBase}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The EM's data-flow contract: one pass per iteration, nothing left
  * cached, reproducible bits, and the labeling's shape and tie rule. */
class LatentClassEMSpec extends SparkSpecBase {
  import spark.implicits._

  // two planted segments on a categorical and a numeric column, spread
  // over four partitions so the per-partition sums are really combined
  private lazy val mixed = spark.range(0, 240, 1, 4).select(
    col("id"),
    when(col("id") % 10 < 8, concat(lit("s"), (col("id") / 120).cast("int")))
      .otherwise(lit("s2")).as("qa"),
    (when(col("id") < 120, -4.0).otherwise(4.0) + (col("id") % 7) * 0.1)
      .as("x"))

  test("fit and selectK leave the session's persisted RDDs as they were") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val (_, labeled) = LatentClassEM.fit(mixed, Seq("qa"), "id", k = 2,
      maxIter = 5, numCols = Seq("x"))
    assert(labeled.count() === 240)
    val (_, best) = LatentClassEM.selectK(mixed, Seq("qa"), "id",
      ks = 2 until 4, maxIter = 5, numCols = Seq("x"), nrep = 2)
    assert(best.count() === 240)
    assert(sc.getPersistentRDDs.keySet.toSet === before)
  }

  test("a 10-iteration fit runs at most 2 jobs per iteration plus set-up") {
    val maxIter = 10
    val (_, rec) = QueryMetrics.measure(spark) {
      LatentClassEM.fit(mixed, Seq("qa"), "id", k = 3, maxIter = maxIter,
        numCols = Seq("x"))
    }
    assert(rec.jobs <= 2 * maxIter + 3, s"jobs ${rec.jobs}: $rec")
  }

  test("two fits with the same seed return bit-identical models") {
    def fitOnce() = LatentClassEM.fit(mixed, Seq("qa"), "id", k = 3,
      maxIter = 8, seed = 7, numCols = Seq("x"))._1
    val (a, b) = (fitOnce(), fitOnce())
    assert(a.priors.toSeq === b.priors.toSeq)
    assert(a.theta === b.theta)
    assert(a.gauss === b.gauss)
    assert(java.lang.Double.doubleToRawLongBits(a.logLik) ===
      java.lang.Double.doubleToRawLongBits(b.logLik))
    assert(a.bic === b.bic)
  }

  test("the labeling: id cast to long first, the other columns, then cluster") {
    val df = Seq(("a", Some("3"), "p", 1.0), ("b", Some("1"), "q", 2.0),
        ("c", None, "p", 3.0), ("d", Some("2"), "q", 4.0))
      .toDF("name", "rid", "qa", "x")
    val (_, labeled) = LatentClassEM.fit(df, Seq("qa"), "rid", k = 2,
      maxIter = 3, numCols = Seq("x"))
    assert(labeled.columns.toSeq === Seq("rid", "name", "qa", "x", "cluster"))
    assert(labeled.schema("rid").dataType === LongType)
    val rows = labeled.orderBy("rid").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L)) // null id dropped
    assert(rows.map(_.getString(1)).toSeq === Seq("b", "d", "a"))
    assert(rows.forall(r => Set(0, 1).contains(r.getInt(4))))
  }

  test("a planted exact tie labels the smaller class") {
    // a one-level column gives θ = 1 for every class, so every row's k
    // responsibilities are equal to the bit: each row must take class 0
    val df = (0 until 30).map(i => (i.toLong, "same")).toDF("id", "q")
    val (model, labeled) = LatentClassEM.fit(df, Seq("q"), "id", k = 3,
      maxIter = 4)
    assert(model.priors.distinct.length === 1)
    assert(labeled.select("cluster").distinct().as[Int].collect().toSeq ===
      Seq(0))
  }
}
