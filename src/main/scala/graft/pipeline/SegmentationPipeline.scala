package graft.pipeline

import graft.cluster._
import graft.etl.Cleaning
import graft.inference.ChiSquaredInference
import graft.metrics.{ClusterQuality, ModelMetrics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end segmentation run (SURVEY.md §3.1/§3.2 — the reference's
  * `do_segmentation_and_save_to_s3` + `Clusterings.run_all_segmentations`):
  * clean → per-algorithm segmentation battery → χ² deliver stats → business
  * metrics, one result bundle per algorithm.
  *
  * The reference fans algorithms out over joblib process pools; here each
  * algorithm is already a distributed Spark job, so the battery runs
  * sequentially (scheduler-level `Future` concurrency would be a config
  * knob, not a semantic change). The cleaned+encoded frame is cached once
  * and shared by every algorithm — the reference re-copies it per algorithm
  * (§4.2), which is the single biggest waste it has.
  */
object SegmentationPipeline {

  final case class Config(
      idCol: String,
      clusterCols: Seq[String],
      weightCol: Option[String] = None,
      alpha: Double = 0.05,
      ks: Range = 3 until 6,
      seeds: Seq[Long] = KMeansSearch.Seeds.take(2),
      rulesCol: Option[String] = None)

  final case class Result(
      algorithm: String,
      labeled: DataFrame,
      deliver: DataFrame,
      metrics: Map[String, Double])

  /** Business-metric bundle per labeled segmentation — the COMPLETE
    * metrics-CSV field family of the reference's get_all_metrics
    * (metrics.py:814-911, get_cluster_metrics:41-125, random_checker:149-174,
    * uniqueness:311, communicability:340, sig-variables/spread:208,
    * magnitude:636, variability:578, message reach:690). Dict-valued
    * reference fields are flattened to `<key>_<cluster>` plus the scalar the
    * reference derives from them; fields whose inputs are absent carry NaN,
    * exactly where the reference emits np.nan (no "tgt" columns → magnitude/
    * variability/ml·chi2-signal family NaN; no multichoice social column →
    * fb_presence NaN; non-refittable model → consistency NaN).
    *
    * `testedVariables` is the variable universe the χ² pass tested (spread
    * denominators); `consistency` carries (model, label) ARI from the
    * algorithm paths that can refit; `socialCol` is the reference's "mc_"
    * multichoice platform column. */
  def segmentMetrics(labeled: DataFrame, deliver: DataFrame,
      featuresCol: Option[String],
      testedVariables: Seq[String] = Nil,
      consistency: Option[(Double, Double)] = None,
      socialCol: Option[String] = None,
      socialPlatform: String = "facebook",
      nSeed: Double = Double.NaN,
      randomRuns: Int = 3): Map[String, Double] = {
    import org.apache.spark.ml.functions.vector_to_array
    val counts = labeled.groupBy("cluster").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1).toDouble).sortBy(_._1)
    val n = counts.map(_._2).sum
    val shares = counts.map(_._2 / n)
    val k = counts.length.toDouble

    // geometry metrics + random-baseline ratios (get_cluster_metrics +
    // random_checker): real labels vs seeded hash labelings of the same k
    val geo: Map[String, Double] = featuresCol.map { f =>
      val arr = labeled.withColumn("__arr", vector_to_array(col(f)))
      def metricsOf(df: DataFrame): (Double, Double, Double) = (
        ModelMetrics.silhouette(df, f),
        ClusterQuality.daviesBouldin(df, "__arr", "cluster"),
        ClusterQuality.calinskiHarabasz(df, "__arr", "cluster"))
      val (sil, db, ch) = metricsOf(arr)
      val rand = (1 to randomRuns).map { i =>
        metricsOf(arr.withColumn("cluster",
          pmod(hash(col("__arr").cast("array<string>").cast("string"), lit(i)),
            lit(k.toInt)).cast("int")))
      }
      val (rs, rd, rc) = (rand.map(_._1).sum / randomRuns,
        rand.map(_._2).sum / randomRuns, rand.map(_._3).sum / randomRuns)
      Map("silhouette" -> sil, "davies_bouldin" -> db, "calinski_harabasz" -> ch,
        "silhouette_random_ratio" -> (if (rs == 0) Double.NaN else math.abs(sil / rs)),
        "davies_bouldin_random_ratio" -> (if (db == 0) Double.NaN else rd / db),
        "calinski_harabasz_random_ratio" -> (if (rc == 0) Double.NaN else ch / rc))
    }.getOrElse(Map("silhouette" -> Double.NaN, "davies_bouldin" -> Double.NaN,
      "calinski_harabasz" -> Double.NaN,
      "silhouette_random_ratio" -> Double.NaN,
      "davies_bouldin_random_ratio" -> Double.NaN,
      "calinski_harabasz_random_ratio" -> Double.NaN))

    // fb social presence (get_social_presence): per-cluster share + average
    val presence: Map[String, Double] = socialCol.map { c =>
      ModelMetrics.socialPresence(labeled, "cluster", c, socialPlatform)
        .collect().map(r => r.get(0).toString -> r.getDouble(1)).toMap
    }.getOrElse(Map.empty)
    val fbKeys = presence.map { case (c, p) => s"fb_presence_$c" -> p } +
      ("fb_presence" -> (if (presence.isEmpty) Double.NaN
        else presence.values.sum / presence.size))

    val deliverRows = deliver.collect()
    val sigPerCluster = deliverRows.groupBy(_.getAs[String]("cluster"))
      .view.mapValues(_.length.toDouble).toMap
    def isTgt(v: String) = v.toLowerCase.contains("tgt")

    // uniqueness (get_uniqueness): per cluster + average
    val pairs = deliverRows.flatMap { r =>
      r.getAs[scala.collection.Seq[String]]("sig_more_category").toSeq.map(c =>
        (r.getAs[String]("cluster"), r.getAs[String]("variable"), c))
    }
    val uniqPerCluster: Map[String, Double] =
      pairs.groupBy(_._1).map { case (c, ps) =>
        val others = pairs.filter(_._1 != c).map(p => (p._2, p._3)).toSet
        c -> (1.0 - ps.count(p => others.contains((p._2, p._3))).toDouble / ps.length)
      }
    val uniq = if (uniqPerCluster.isEmpty) 1.0
      else uniqPerCluster.values.sum / uniqPerCluster.size

    // communicability (get_communicability): distinct significant psy|ae
    // variables per cluster; avg = total / #clusters with significant rows
    val commPerCluster: Map[String, Double] = deliverRows
      .filter(r => { val v = r.getAs[String]("variable").toLowerCase
        v.contains("psy") || v.contains("ae") })
      .groupBy(_.getAs[String]("cluster"))
      .view.mapValues(_.map(_.getAs[String]("variable")).distinct.length.toDouble)
      .toMap
    val commAvg = if (sigPerCluster.isEmpty) Double.NaN
      else commPerCluster.values.sum / sigPerCluster.size

    // significant variables + spread (get_significant_variables_and_spread):
    // counts per cluster; spread = per-cluster share of the tested universe
    val sigVarsPerCluster = deliverRows.groupBy(_.getAs[String]("cluster"))
      .view.mapValues(_.map(_.getAs[String]("variable")).distinct.length.toDouble)
      .toMap
    val tgtTested = testedVariables.count(isTgt)
    val sigTgtPerCluster = deliverRows.filter(r => isTgt(r.getAs[String]("variable")))
      .groupBy(_.getAs[String]("cluster"))
      .view.mapValues(_.map(_.getAs[String]("variable")).distinct.length.toDouble)
      .toMap
    def avgOr(m: Map[String, Double], denom: Double): Double =
      if (m.isEmpty || denom <= 0) Double.NaN
      else m.values.map(_ / denom).sum / m.size
    val spread = avgOr(sigVarsPerCluster, testedVariables.size.toDouble)
    val spreadTgt = avgOr(sigTgtPerCluster, tgtTested.toDouble)

    // magnitude (get_magnitude): Σ_c share_c · (sig-tgt_c / #tgt); NaN
    // without tgt columns or outside (0, 1]
    val magnitude =
      if (tgtTested == 0) Double.NaN
      else {
        val m = counts.map { case (c, cnt) =>
          math.rint(cnt / n * 100) / 100.0 *
            (sigTgtPerCluster.getOrElse(c, 0.0) / tgtTested)
        }.map(x => math.rint(x * 1000) / 1000.0).sum
        if (m > 0 && m <= 1) math.rint(m * 1000) / 1000.0 else Double.NaN
      }

    // variability (get_variability): overall I² of a Cochran's Q over the
    // binary tgt columns (NaN without tgt columns)
    val tgtCols = labeled.columns.filter(isTgt).toSeq
    val variability =
      if (tgtCols.isEmpty) Double.NaN
      else {
        // try_cast: the reference runs on label-ENCODED data; raw string
        // levels (non-numeric) count as 0 rather than failing the job
        val b = labeled.select(tgtCols.map(c =>
          (coalesce(expr(s"try_cast(`$c` as double)"), lit(0.0)) > 0)
            .cast("int").as(c)): _*)
        val agg = b.agg(
          expr(tgtCols.map(c => s"sum($c)").mkString("array(", ",", ")")).as("cs"),
          sum(pow(tgtCols.map(col).reduce(_ + _), 2)).as("rss")).head()
        val colSums = agg.getAs[scala.collection.Seq[Long]](0).map(_.toDouble).toArray
        val (_, _, i2) = graft.stats.ContingencyMath.cochransQ(
          colSums, agg.getAs[Number](1).doubleValue())
        math.rint(i2 * 1000) / 1000.0
      }

    // ML + χ² signal family (only with tgt columns, like the reference)
    val signalKeys: Map[String, Double] =
      if (tgtCols.isEmpty) Map(
        "ml_signal" -> Double.NaN, "chi2_signal" -> Double.NaN,
        "message_reach_ml_signal" -> Double.NaN,
        "massage_reach_chi2_signal" -> Double.NaN, // sic — reference key
        "chi2_signal_core_columns" -> Double.NaN,
        "message_reach_optimal_signal" -> Double.NaN,
        "core_columns" -> Double.NaN,
        "percent_retained_for_core_cols" -> Double.NaN)
      else {
        val ml = featuresCol.map(f =>
          ModelMetrics.rfSignal(labeled, f)("accuracy")).getOrElse(Double.NaN)
        val (kept, retained) = ModelMetrics.chiSqSlicer(labeled, tgtCols)
        val fb = fbKeys("fb_presence")
        Map(
          "ml_signal" -> ml,
          "chi2_signal" -> retained,
          "message_reach_ml_signal" -> (fb * ml),
          "massage_reach_chi2_signal" -> (fb * retained),
          "chi2_signal_core_columns" -> retained,
          "message_reach_optimal_signal" -> (fb * retained),
          "core_columns" -> kept.size.toDouble,
          "percent_retained_for_core_cols" -> retained)
      }

    Map(
      "n_seed" -> nSeed,
      "n_clusters" -> k,
      "min_share" -> (if (shares.isEmpty) 0.0 else shares.min),
      "max_share" -> (if (shares.isEmpty) 0.0 else shares.max),
      "n_significant" -> deliverRows.length.toDouble,
      "avg_significant_per_cluster" ->
        (if (sigPerCluster.isEmpty) 0.0 else sigPerCluster.values.sum / k),
      "model_consistency" -> consistency.map(_._1).getOrElse(Double.NaN),
      "label_consistency" -> consistency.map(_._2).getOrElse(Double.NaN),
      "uniqueness" -> uniq,
      "communicability_average" -> commAvg,
      "significant_variables" -> sigVarsPerCluster.values.sum,
      "significant_tgt_variables" -> sigTgtPerCluster.values.sum,
      "spread_of_significant_variables" -> spread,
      "spread_of_significant_tgt_variables" -> spreadTgt,
      "magnitude" -> magnitude,
      "variability" -> variability) ++
      geo ++ fbKeys ++ signalKeys ++
      counts.map { case (c, cnt) => s"cluster_proportion_$c" -> cnt / n } ++
      uniqPerCluster.map { case (c, u) => s"uniqueness_$c" -> u } ++
      commPerCluster.map { case (c, v) => s"communicability_$c" -> v } ++
      sigVarsPerCluster.map { case (c, v) => s"significant_variables_$c" -> v }
  }

  /** Run the battery over one cleaned survey frame. */
  def run(spark: SparkSession, raw: DataFrame, config: Config): Map[String, Result] = {
    val cleaned = Cleaning.cleanResponses(raw).cache()
    val variables = Cleaning.inferenceVariables(cleaned, "cluster")
      .filterNot(config.clusterCols.contains) // don't test the inputs on themselves

    def infer(labeled: DataFrame): (DataFrame, Seq[String]) = {
      val vars = Cleaning.inferenceVariables(labeled, "cluster")
        .filter(labeled.columns.contains(_)).filterNot(_ == "features")
      (ChiSquaredInference.deliverStats(spark, labeled, vars,
        "cluster", config.weightCol, config.alpha), vars)
    }

    val results = scala.collection.mutable.Map[String, Result]()

    // kmeans + pca path (M1-M8) — the refittable model, so the consistency
    // pair is computed (reference: only models with .predict)
    val (prepared, _) = FeaturePipeline.prepare(cleaned, config.clusterCols)
    val sel = KMeansSearch.search(prepared, "features", config.ks, config.seeds)
    val kmLabeled = sel.labeled
    val (kmDeliver, kmVars) = infer(kmLabeled
      .drop("features", "__scaled").drop(config.clusterCols.map(c => s"${c}_enc"): _*))
    val kmConsistency = ModelMetrics.consistency(kmLabeled, config.idCol,
      "features", sel.k, sel.seed)
    results += "kmeans" -> Result("kmeans", kmLabeled, kmDeliver,
      segmentMetrics(kmLabeled, kmDeliver, Some("features"),
        testedVariables = kmVars, consistency = Some(kmConsistency),
        nSeed = sel.seed.toDouble) +
        ("chosen_k" -> sel.k.toDouble))

    // kmodes path (M5) over the raw categorical columns
    val (kmModel, kmodesLabeled) = KModes.fit(cleaned, config.clusterCols,
      k = config.ks.head)
    val (kmodesDeliver, kmodesVars) = infer(kmodesLabeled)
    results += "kmodes" -> Result("kmodes", kmodesLabeled, kmodesDeliver,
      segmentMetrics(kmodesLabeled, kmodesDeliver, None,
        testedVariables = kmodesVars) +
        ("cost" -> kmModel.cost))

    // rules-based path (M11)
    config.rulesCol.foreach { rc =>
      val seg = RulesBased.segment(cleaned, rc)
      val (deliver, vars) = infer(seg.labeled)
      results += "rules_based" -> Result("rules_based", seg.labeled, deliver,
        segmentMetrics(seg.labeled, deliver, None, testedVariables = vars))
    }

    // lca path (M10)
    val (lcaModel, lcaLabeled) = LatentClassEM.fit(cleaned, config.clusterCols,
      config.idCol, k = config.ks.head, maxIter = 10)
    val (lcaDeliver, lcaVars) = infer(lcaLabeled)
    results += "lca" -> Result("lca", lcaLabeled, lcaDeliver,
      segmentMetrics(lcaLabeled, lcaDeliver, None, testedVariables = lcaVars) +
        ("bic" -> lcaModel.bic))

    results.toMap
  }
}
