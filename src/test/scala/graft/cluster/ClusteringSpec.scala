package graft.cluster

import graft.SparkSpecBase
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.functions._

class ClusteringSpec extends SparkSpecBase {
  import spark.implicits._

  test("elbow picks the knee of a known curve") {
    // costs: steep drop until k=4, then flat — elbow must be 4
    val costs = Seq(2 -> 100.0, 3 -> 60.0, 4 -> 30.0, 5 -> 28.0, 6 -> 27.0)
    assert(KMeansSearch.elbowK(costs) === 4)
  }

  test("average rank matches pandas semantics on ties") {
    // values 10, 20, 20, 30 -> ranks 1, 2.5, 2.5, 4
    assert(KMeansSearch.averageRank(Seq(10.0, 20.0, 20.0, 30.0), ascending = true)
      === Seq(1.0, 2.5, 2.5, 4.0))
    // descending: 30->1, 20,20 -> 2.5, 10->4
    assert(KMeansSearch.averageRank(Seq(10.0, 20.0, 20.0, 30.0), ascending = false)
      === Seq(4.0, 2.5, 2.5, 1.0))
  }

  test("balance filter rejects dominant clusters") {
    val skewed = ((1 to 98).map(i => (i, 0)) ++ Seq((99, 1), (100, 2)))
      .toDF("id", "cluster")
    assert(!KMeansSearch.isBalanced(skewed)._1)
    val even = (1 to 99).map(i => (i, i % 3)).toDF("id", "cluster")
    assert(KMeansSearch.isBalanced(even)._1)
  }

  private lazy val plantedCats = {
    // 3 planted categorical segments, 100 rows each, near-pure patterns
    val rows = (0 until 300).map { i =>
      val seg = i / 100
      val noise = i % 17 == 0
      val a = if (noise) "x" else Seq("a0", "a1", "a2")(seg)
      val b = if (noise) "y" else Seq("b0", "b1", "b2")(seg)
      val c = Seq("c0", "c1")(i % 2) // uninformative
      (i.toLong, a, b, c)
    }
    rows.toDF("id", "qa", "qb", "qc")
  }

  test("KModes recovers planted categorical segments") {
    val (model, labeled) = KModes.fit(plantedCats, Seq("qa", "qb", "qc"), k = 3)
    assert(model.centroids.length === 3)
    // purity: each planted segment maps to a single dominant cluster
    val purity = labeled.withColumn("seg", (col("id") / 100).cast("int"))
      .groupBy("seg", "cluster").count()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("seg")
          .orderBy(col("count").desc)))
      .filter(col("rn") === 1).agg(sum("count")).head().getLong(0)
    assert(purity >= 270, s"purity $purity/300 too low")
    // deterministic: same input -> same centroids
    val (model2, _) = KModes.fit(plantedCats, Seq("qa", "qb", "qc"), k = 3)
    assert(model.centroids.map(_.toSeq).toSeq === model2.centroids.map(_.toSeq).toSeq)
  }

  test("KPrototypes separates mixed numeric+categorical structure") {
    val rows = (0 until 200).map { i =>
      val seg = i / 100
      (i.toLong, if (seg == 0) -5.0 + (i % 10) * 0.1 else 5.0 + (i % 10) * 0.1,
        Seq("p0", "p1")(seg))
    }
    val df = rows.toDF("id", "num", "cat")
    val (model, labeled) = KPrototypes.fit(df, Seq("num"), Seq("cat"), k = 2)
    val purity = labeled.withColumn("seg", (col("id") / 100).cast("int"))
      .groupBy("seg", "cluster").count()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("seg")
          .orderBy(col("count").desc)))
      .filter(col("rn") === 1).agg(sum("count")).head().getLong(0)
    assert(purity >= 190)
  }

  test("LatentClassEM: log-likelihood improves and planted classes recovered") {
    val (model, labeled) = LatentClassEM.fit(plantedCats, Seq("qa", "qb"),
      "id", k = 3, maxIter = 15)
    assert(model.logLik < 0 && !model.logLik.isNaN)
    assert(model.bic > 0)
    val purity = labeled.withColumn("seg", (col("id") / 100).cast("int"))
      .groupBy("seg", "cluster").count()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("seg")
          .orderBy(col("count").desc)))
      .filter(col("rn") === 1).agg(sum("count")).head().getLong(0)
    assert(purity >= 270, s"LCA purity $purity/300")
  }

  test("mixed-type LCA: planted gaussian+multinomial clusters, k by BIC") {
    // 3 planted segments, each with a dominant categorical level AND a
    // well-separated numeric mean — the depmixS4 mixed-path shape
    val rows = (0 until 180).map { i =>
      val seg = i / 60
      val cat = if (i % 10 < 8) s"dom$seg" else s"dom${(seg + 1) % 3}"
      val x = Seq(-6.0, 0.0, 6.0)(seg) + (i % 7) * 0.1
      (i.toLong, cat, x)
    }
    val df = rows.toDF("id", "qa", "x")
    val (model, labeled) = LatentClassEM.selectK(df, Seq("qa"), "id",
      ks = 2 until 5, maxIter = 12, numCols = Seq("x"), nrep = 2)
    assert(model.k === 3, s"BIC selected k=${model.k}, expected 3")
    assert(model.gauss.size === 3) // one (mu, sd) per class for 'x'
    // recovered class means should cover the three planted means
    val mus = model.gauss.values.map(_._1).toSeq.sorted
    assert(math.abs(mus.head - (-5.7)) < 1.5 && math.abs(mus.last - 6.3) < 1.5)
    val purity = labeled.withColumn("seg", (col("id") / 60).cast("int"))
      .groupBy("seg", "cluster").count()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("seg")
          .orderBy(col("count").desc)))
      .filter(col("rn") === 1).agg(sum("count")).head().getLong(0)
    assert(purity >= 160, s"mixed LCA purity $purity/180")
  }

  test("poLCA-style multi-restart escapes a bad single-seed EM basin") {
    // two conflicting partitions, each supported by a GROUP of 3 binary
    // variables: rows 0-59 vs 60-119 on qa1-3 (90% adherence), even vs odd
    // on qb1-3 (85%) — a six-variable surface with two genuine EM basins.
    // Probed: seed 43 (initLow 0.05) lands in the qb basin (logLik ≈ -471.9),
    // seed 44 in the qa basin (≈ -445.4) — a ~26-unit gap.
    def flip(v: String, yes: Boolean, a: String, b: String) =
      if (yes) (if (v == a) b else a) else v
    val rows = (0 until 120).map { i =>
      val qa = (1 to 3).map { j =>
        flip(if (i < 60) "a0" else "a1", (i * 7 + j * 13) % 10 == 9, "a0", "a1")
      }
      val qb = (1 to 3).map { j =>
        flip(if (i % 2 == 0) "b0" else "b1", (i * 11 + j * 17) % 7 == 6, "b0", "b1")
      }
      (i.toLong, qa(0), qa(1), qa(2), qb(0), qb(1), qb(2))
    }
    val df = rows.toDF("id", "qa1", "qa2", "qa3", "qb1", "qb2", "qb3")
    val cols = Seq("qa1", "qa2", "qa3", "qb1", "qb2", "qb3")
    val (single, _) = LatentClassEM.fit(df, cols, "id", k = 2,
      maxIter = 40, seed = 43, initLow = 0.05)
    // restart grid covering seeds 43..45 must escape seed 43's basin
    val (multi, _) = LatentClassEM.selectK(df, cols, "id", ks = 2 until 3,
      maxIter = 40, nrep = 3, baseSeed = 43)
    assert(multi.logLik > single.logLik + 10.0,
      s"restarts must escape the bad basin: single=${single.logLik} multi=${multi.logLik}")
  }

  test("LCA maxIter=10 default never underperforms the maxIter=2 oracle pin") {
    // q_m10 registers the maxIter=2 parameterization (the LcaOracleSql
    // replay window); this pins the default-depth fit on the SAME bench
    // projection: EM log-likelihood is non-decreasing in iterations, so the
    // certified 2-step fit is a genuine prefix of the production fit (the
    // tolerance absorbs the Laplace-smoothing perturbation of exact EM
    // monotonicity)
    val cats = graft.Tables.customer(spark, sf).select(
      col("c_custkey"),
      col("c_mktsegment"),
      concat(lit("n"), pmod(col("c_nationkey"), lit(5))).as("nat_bucket"),
      when(col("c_acctbal") >= 0, "pos").otherwise("neg").as("bal_sign"))
    val cols = Seq("c_mktsegment", "nat_bucket", "bal_sign")
    val (m2f, _) = LatentClassEM.fit(cats, cols, "c_custkey",
      k = 3, maxIter = 2)
    val (m10f, _) = LatentClassEM.fit(cats, cols, "c_custkey",
      k = 3, maxIter = 10)
    assert(m10f.logLik >= m2f.logLik - 1e-6,
      s"more EM iterations worsened loglik: ${m10f.logLik} vs ${m2f.logLik}")
  }

  test("LCA guards: >100-col subsample rule and the timeout wrapper") {
    val many = (0 until 150).map(i => s"v$i")
    val kept = LatentClassEM.subsampleCols(many)
    assert(kept.size === math.max(70, (150 * 0.3).toInt))
    assert(kept.toSet.subsetOf(many.toSet))
    assert(LatentClassEM.subsampleCols(many) === kept) // seeded: stable
    assert(LatentClassEM.subsampleCols(many.take(100)) === many.take(100))
    // reference tests use a 2 s timer (lca(test_wait_time=True)); an
    // immediate deadline must yield the timed-out branch, not hang
    val tiny = (0 until 30).map(i => (i.toLong, s"c${i % 2}")).toDF("id", "qa")
    val out = LatentClassEM.selectKGuarded(tiny, Seq("qa"), "id",
      ks = 2 until 3, maxIter = 2,
      timeout = scala.concurrent.duration.Duration(1, "ms"))
    assert(out.isEmpty)
  }

  test("rules-based segmentation encodes alphabetically and drops siblings") {
    val df = Seq((1L, "beta", "x"), (2L, "alpha", "y"), (3L, "beta", "z"))
      .toDF("id", "tech_q1_rb", "tech_q1_other")
    val seg = RulesBased.segment(df, "tech_q1_rb")
    assert(seg.labelMapping === Map("alpha" -> 0, "beta" -> 1))
    assert(seg.droppedCols === Seq("tech_q1_other"))
    assert(!seg.labeled.columns.contains("tech_q1_other"))
  }

  test("hierarchical: globally unique labels, small groups get -99") {
    val df = (0 until 120).map { i =>
      val g = if (i < 10) "small" else if (i < 65) "g1" else "g2"
      (i.toLong, g, i.toDouble)
    }.toDF("id", "grp", "v")
      .withColumn("features", array_to_vector(array(col("v"))))
    val out = Hierarchical.nestedSegment(df, "grp", minRows = 20, part => {
      val (_, labeled, _) = KMeansSearch.fitOne(part, "features", 2, 1L)
      labeled
    })
    val byGroup = out.groupBy("grp").agg(collect_set("cluster").as("cs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1).toSet).toMap
    assert(byGroup("small") === Set(Hierarchical.IgnoredLabel))
    assert(byGroup("g1").intersect(byGroup("g2")).isEmpty, "labels must not collide")
    assert((byGroup("g1") ++ byGroup("g2")).size === 4)
  }

  test("closed-form squared-euclid silhouette matches MLlib's evaluator") {
    val emb = Tables_embeddings
    val closed = graft.metrics.ClusterQuality.silhouetteSquaredEuclid(
      emb, "embedding", "label")
    val mllib = new org.apache.spark.ml.evaluation.ClusteringEvaluator()
      .setFeaturesCol("features").setPredictionCol("label")
      .setMetricName("silhouette")
      .evaluate(emb.withColumn("label", col("label").cast("int")))
    assert(math.abs(closed - mllib) < 1e-9,
      s"closed=$closed mllib=$mllib")
  }

  test("FeaturePipeline.pcaAtVariance picks minimal n reaching the threshold") {
    val df = Tables_embeddings
    val (_, n) = FeaturePipeline.pcaAtVariance(df, "features", "p", 0.5, maxK = 16)
    assert(n >= 1 && n <= 16)
    val (_, nAll) = FeaturePipeline.pcaAtVariance(df, "features", "p", 0.999, maxK = 16)
    assert(nAll >= n)
  }

  test("q_m5 registry parameterization: maxIter=2 is not a truncation artifact") {
    // the oracle rows certify the maxIter=2 fit (LloydOracleSql contract);
    // continuing Lloyd to the maxIter=10 default must never worsen cost
    // (monotone descent), and a fit that converged inside the oracle window
    // must have the identical centroids — so the green row reflects the
    // converged behavior, not an artificially frozen one.
    val cats = graft.Tables.customer(spark, sf).select(
      col("c_custkey"), col("c_mktsegment"),
      concat(lit("n"), pmod(col("c_nationkey"), lit(5))).as("nat_bucket"),
      when(col("c_acctbal") >= 0, "pos").otherwise("neg").as("bal_sign"))
    val cols = Seq("c_mktsegment", "nat_bucket", "bal_sign")
    val (m2, _) = KModes.fit(cats, cols, k = 4, maxIter = 2)
    val (m10, _) = KModes.fit(cats, cols, k = 4, maxIter = 10)
    assert(m10.cost <= m2.cost + 1e-9,
      s"longer Lloyd worsened cost: ${m10.cost} vs ${m2.cost}")
    if (m10.iterations <= 2)
      assert(m10.centroids.map(_.toSeq).toSeq === m2.centroids.map(_.toSeq).toSeq)
  }

  test("q_m6 registry parameterization: maxIter=2 vs default, fragile-rounding guard") {
    import org.apache.spark.ml.functions.vector_to_array
    val o = graft.Tables.orders(spark, sf)
    val scaled = FeaturePipeline.standardize(o, Seq("o_totalprice"), "zv")
      .withColumn("z_price", round(vector_to_array(col("zv")).getItem(0), 6))
      .drop("zv")
    def fitAt(mi: Int) = KPrototypes.fit(scaled, Seq("z_price"),
      Seq("o_orderpriority", "o_orderstatus"), k = 3, maxIter = mi,
      gammaOpt = Some(0.5),
      numInitOpt = Some(Array(Array(-0.6745), Array(0.0), Array(0.6745))),
      roundCentroids = Some(6))
    val (m2, _) = fitAt(2)
    val (m10, _) = fitAt(10)
    assert(m10.cost <= m2.cost + 1e-9)
    if (m10.iterations <= 2)
      assert(m10.numCentroids.map(_.toSeq).toSeq === m2.numCentroids.map(_.toSeq).toSeq)
    // the registered bench fit must not sit on a rounding half-boundary —
    // otherwise the DuckDB replay is luck, not determinism (ADVICE round 4)
    assert(!m2.fragileRounding, "q_m6 oracle fit rounds on a half-boundary")
  }

  test("fragile-rounding detector flags a mean on a half-boundary") {
    // two points averaging to exactly 1.5e-6: ROUND(x, 6) sits on the
    // half-way boundary where the two engines may disagree
    val df = Seq((1L, 1.0e-6), (2L, 2.0e-6)).toDF("id", "x")
    val (m, _) = KPrototypes.fit(df, Seq("x"), Nil, k = 1, maxIter = 2,
      gammaOpt = Some(1.0), numInitOpt = Some(Array(Array(0.0))),
      roundCentroids = Some(6))
    assert(m.fragileRounding)
    // far from any boundary: not flagged
    val df2 = Seq((1L, 0.1), (2L, 0.3)).toDF("id", "x")
    val (m2, _) = KPrototypes.fit(df2, Seq("x"), Nil, k = 1, maxIter = 2,
      gammaOpt = Some(1.0), numInitOpt = Some(Array(Array(0.0))),
      roundCentroids = Some(6))
    assert(!m2.fragileRounding)
  }

  private lazy val Tables_embeddings =
    graft.Tables.embeddings(spark, sf)
      .withColumn("features", array_to_vector(col("embedding")))
}
