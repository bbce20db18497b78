package graft.metrics

import graft.SparkSpecBase
import graft.cluster.{FeaturePipeline, KMeansSearch}
import graft.etl.Cleaning
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.scalactic.Tolerance._

/** [[ModelMetrics.consistency]] pinned to the values of the two refits it
  * replaced (a full-frame ARI and a train-side ARI, one KMeans fit each). */
class ModelMetricsSpec extends SparkSpecBase {
  import spark.implicits._

  test("consistency on PipelineSpec's planted survey, kmeans path") {
    val survey = (0 until 240).map { i =>
      val seg = i % 3
      val q1 = if (i % 10 < 8) Seq("tech_lover", "tech_neutral", "tech_hater")(seg)
        else "tech_neutral"
      val q2 = if (i % 10 < 7) Seq("urban", "suburban", "rural")(seg) else "urban"
      val opinion = Seq("agree", "neutral", "disagree")(seg)
      (i.toLong, q1, q2, opinion, 1.0)
    }.toDF("alchemer_id", "tech_q1_rb", "geo_q2", "psy_q3_tgt", "weight")
    val (prepared, _) = FeaturePipeline.prepare(
      Cleaning.cleanResponses(survey), Seq("tech_q1_rb", "geo_q2"))
    val sel = KMeansSearch.search(prepared, "features", 3 until 4,
      KMeansSearch.Seeds.take(2))
    val (model, label) = ModelMetrics.consistency(sel.labeled,
      "alchemer_id", "features", sel.k, sel.seed)
    assert(model === 1.0 +- 1e-12)
    assert(label === 1.0 +- 1e-12)
  }

  test("consistency on overlapping blobs: the two ARIs differ") {
    val rnd = new scala.util.Random(11)
    val pts = (0 until 300).map { i =>
      val c = i % 3
      (i.toLong, Vectors.dense(c * 1.5 + rnd.nextGaussian(),
        (c % 2) * 1.5 + rnd.nextGaussian()))
    }.toDF("id", "features")
    val labeled = new KMeans().setK(3).setSeed(1L).setFeaturesCol("features")
      .setPredictionCol("cluster").fit(pts).transform(pts)
    val (model, label) = ModelMetrics.consistency(labeled, "id", "features",
      3, 1L)
    assert(model === 0.9026166930130687 +- 1e-12)
    assert(label === 0.8933528309845776 +- 1e-12)
  }
}
