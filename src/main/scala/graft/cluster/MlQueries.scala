package graft.cluster

import graft.{Q, Tables}
import graft.metrics.{ClusterQuality, ModelMetrics}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ML-operator queries (SURVEY.md §2.8 M1-M26). Deterministic-math stages
  * (label encoding, standardization, rules-based) carry DuckDB oracles;
  * iterative fits (KMeans/KModes/GMM/LCA/RF) are rows-only checked here and
  * pinned by ScalaTest invariants instead.
  */
object MlQueries {

  /** M1: StringIndexer(alphabetAsc) ≡ dense_rank over sorted labels − 1. */
  private val m1 = Q(
    (s, d) => {
      val enc = FeaturePipeline.labelEncode(Tables.customer(s, d), Seq("c_mktsegment"))
      enc.select(col("c_custkey"), col("c_mktsegment"),
          col("c_mktsegment_enc").as("seg_enc"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_mktsegment,
            CAST(dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS DOUBLE) AS seg_enc
            FROM customer ORDER BY c_custkey"""))

  /** M2: StandardScaler(withMean) ≡ (x − μ) / σ_sample. */
  private val m2 = Q(
    (s, d) => {
      val scaled = FeaturePipeline.standardize(
        Tables.customer(s, d), Seq("c_acctbal"), "z")
      scaled.select(col("c_custkey"),
          round(vector_to_array(col("z")).getItem(0), 6).as("z_acctbal"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey,
            ROUND((c_acctbal - AVG(c_acctbal) OVER ())
                  / STDDEV_SAMP(c_acctbal) OVER (), 6) AS z_acctbal
            FROM customer ORDER BY c_custkey"""))

  /** M3: PCA component choice at cumulative explained variance ≥ 0.5, at
    * the closed-form parameterization the oracle can replay: PCA of the
    * 3×3 CORRELATION matrix of (l_quantity, l_extendedprice, l_discount),
    * whose eigenvalues have an exact trigonometric solution evaluated
    * identically by both engines ([[CorrelationPca]]). The distributed part
    * is the one corr() aggregation pass (rounded 6 dp on both sides); the
    * eigensolve and the cumsum-threshold count are deterministic scalar
    * arithmetic. The general d-dim MLlib PCA ladder stays
    * [[FeaturePipeline.pcaAtVariance]] (q_m9's 8-dim reduction + spec). */
  private val m3 = Q(
    (s, d) => {
      import s.implicits._
      val row = Tables.lineitem(s, d).agg(
        corr("l_quantity", "l_extendedprice").as("c12"),
        corr("l_quantity", "l_discount").as("c13"),
        corr("l_extendedprice", "l_discount").as("c23")).head()
      def r6(x: Double) = BigDecimal.valueOf(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val eigs = CorrelationPca.eigenvalues3(
        r6(row.getDouble(0)), r6(row.getDouble(1)), r6(row.getDouble(2)))
      val n = CorrelationPca.componentsAtVariance(eigs, 0.5)
      val cums = Seq(eigs(0) / 3.0, (eigs(0) + eigs(1)) / 3.0,
        ((eigs(0) + eigs(1)) + eigs(2)) / 3.0)
      (1 to 3).map(i => (i, r6(eigs(i - 1)), r6(cums(i - 1)), n))
        .toDF("component", "eigenvalue", "cum_ratio", "n_components")
    },
    Some("""WITH c AS (SELECT ROUND(corr(l_quantity, l_extendedprice), 6) AS c12,
                   ROUND(corr(l_quantity, l_discount), 6) AS c13,
                   ROUND(corr(l_extendedprice, l_discount), 6) AS c23
                 FROM lineitem),
            p AS (SELECT c12, c13, c23,
                   SQRT(2.0 * (c12 * c12 + c13 * c13 + c23 * c23) / 6.0) AS p
                  FROM c),
            e AS (SELECT CASE WHEN p = 0 THEN 1.0 ELSE
                    1.0 + 2.0 * p * COS(ACOS(LEAST(1.0, GREATEST(-1.0,
                      (c12 / p) * (c13 / p) * (c23 / p)))) / 3.0) END AS e1,
                   CASE WHEN p = 0 THEN 1.0 ELSE
                    1.0 + 2.0 * p * COS(ACOS(LEAST(1.0, GREATEST(-1.0,
                      (c12 / p) * (c13 / p) * (c23 / p)))) / 3.0
                      + 2.0943951023931953) END AS e3
                  FROM p),
            ee AS (SELECT e1, 3.0 - e1 - e3 AS e2, e3 FROM e),
            nc AS (SELECT CASE WHEN e1 / 3.0 >= 0.5 THEN 1
                               WHEN (e1 + e2) / 3.0 >= 0.5 THEN 2
                               ELSE 3 END AS n FROM ee)
            SELECT u.component, ROUND(u.eigenvalue, 6) AS eigenvalue,
                   ROUND(u.cum_ratio, 6) AS cum_ratio,
                   CAST((SELECT n FROM nc) AS INT) AS n_components
            FROM (SELECT 1 AS component, e1 AS eigenvalue, e1 / 3.0 AS cum_ratio FROM ee
                  UNION ALL
                  SELECT 2, e2, (e1 + e2) / 3.0 FROM ee
                  UNION ALL
                  SELECT 3, e3, ((e1 + e2) + e3) / 3.0 FROM ee) u
            ORDER BY component"""))

  /** M4+M7: KMeans k-grid with elbow selection, at the exact-integer
    * seeded-Lloyd parameterization whose ENTIRE grid — four maxIter = 2
    * fits on order totals in cents plus the perpendicular-distance elbow —
    * replays bit-for-bit in DuckDB ([[LloydOracleSql.kmeansGrid]]): no
    * float exists anywhere in the fits (integer distances, HUGEINT/decimal
    * cost sums, half-up integer-division mean updates), and the one
    * double-valued stage (the elbow argmax) evaluates the identical IEEE
    * expression on identical inputs in both engines. The general MLlib
    * seed/k grid with silhouette rank-sum + balance filter (M8, M13) stays
    * [[KMeansSearch]], spec-pinned in ClusteringSpec and exercised by
    * q_m12/q_m18. */
  private val m4Inits: Seq[(Int, Seq[Long])] = Seq(
    2 -> Seq(5000000L, 30000000L),
    3 -> Seq(3000000L, 15000000L, 40000000L),
    4 -> Seq(2000000L, 10000000L, 25000000L, 45000000L),
    5 -> Seq(2000000L, 8000000L, 18000000L, 32000000L, 48000000L))

  private val m4 = Q(
    (s, d) => {
      import s.implicits._
      val cents = Tables.orders(s, d).select(col("o_orderkey").as("id"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val (chosenK, fits) = KMeansLloyd.gridSearch(cents, "cents", m4Inits)
      val best = fits.toMap.apply(chosenK)
      val centDf = best.centers.zipWithIndex
        .map { case (mu, c) => (c, mu) }.toDF("cluster", "mu")
      best.labeled.groupBy("cluster").agg(count(lit(1)).as("n"))
        .join(broadcast(centDf), "cluster")
        .withColumn("chosen_k", lit(chosenK))
        .orderBy("cluster")
    },
    Some(LloydOracleSql.kmeansGrid(
      """SELECT o_orderkey AS id,
                CAST(ROUND(o_totalprice * 100) AS BIGINT) AS z FROM orders""",
      m4Inits)))

  /** M5: KModes on categorical projections of customer, at the maxIter = 2
    * parameterization whose full fit — Cao density init, two Lloyd
    * iterations, convergence flag — unrolls into the DuckDB oracle
    * ([[LloydOracleSql.kmodes]]; 5×5×2 = 50 distinct patterns, well under
    * caoInit's 256-pattern cap, and every stage is exact integer/ratio
    * arithmetic, so the replay is bit-exact). */
  private val m5 = Q(
    (s, d) => {
      val cats = Tables.customer(s, d).select(
        col("c_custkey"),
        col("c_mktsegment"),
        concat(lit("n"), pmod(col("c_nationkey"), lit(5))).as("nat_bucket"),
        when(col("c_acctbal") >= 0, "pos").otherwise("neg").as("bal_sign"))
      val (model, labeled) = KModes.fit(cats,
        Seq("c_mktsegment", "nat_bucket", "bal_sign"), k = 4, maxIter = 2)
      labeled.groupBy("cluster").agg(count(lit(1)).as("n"))
        .withColumn("cost", lit(model.cost))
        .withColumn("iterations", lit(model.iterations))
        .orderBy("cluster")
    },
    Some(LloydOracleSql.kmodes(
      """SELECT c_mktsegment AS v1,
                'n' || CAST(c_nationkey % 5 AS VARCHAR) AS v2,
                CASE WHEN c_acctbal >= 0 THEN 'pos' ELSE 'neg' END AS v3
         FROM customer""", m = 3, k = 4)))

  /** M6: KPrototypes on mixed orders columns — seeded-deterministic
    * parameterization (maxIter = 2, explicit gamma, literal numeric seed
    * means, 6-dp-rounded inputs and centroid means) so the whole fit
    * replays in DuckDB ([[LloydOracleSql.kprototypes]]). */
  private val m6 = Q(
    (s, d) => {
      val o = Tables.orders(s, d)
      val scaled = FeaturePipeline.standardize(o, Seq("o_totalprice"), "zv")
        .withColumn("z_price", round(vector_to_array(col("zv")).getItem(0), 6))
        .drop("zv")
      val (model, labeled) = KPrototypes.fit(scaled, Seq("z_price"),
        Seq("o_orderpriority", "o_orderstatus"), k = 3, maxIter = 2,
        gammaOpt = Some(0.5),
        numInitOpt = Some(Array(Array(-0.6745), Array(0.0), Array(0.6745))),
        roundCentroids = Some(6))
      labeled.groupBy("cluster").agg(count(lit(1)).as("n"))
        .withColumn("iterations", lit(model.iterations))
        .orderBy("cluster")
    },
    Some(LloydOracleSql.kprototypes(
      """SELECT o_orderkey AS id,
                ROUND((o_totalprice - AVG(o_totalprice) OVER ())
                      / STDDEV_SAMP(o_totalprice) OVER (), 6) AS z,
                o_orderpriority AS v1, o_orderstatus AS v2
         FROM orders""", m = 2, k = 3, gamma = "0.5",
      numInit = Seq(-0.6745, 0.0, 0.6745))))

  /** M9: GaussianMixture (after PCA to 8 dims) — registered as a QUALITY
    * CONTRACT (the q_s_ann_ivf pattern): the variational fit has no
    * cross-engine oracle, but its INVARIANTS do. On the reference
    * parameterization (k = 3 over PCA-8 embeddings): the mixing
    * proportions must sum to 1 (the normalization clustering.py:944's
    * share guard presumes), BIC must be finite (a NaN/∞ BIC is sklearn's
    * degenerate-fit ValueError, which fitOne's reg_covar retry absorbs),
    * and every row must get a label in [0, k) — the label booleans and the
    * row count computed in-plan over the labeled frame. DP shrinkage —
    * sklearn's signature BayesianGaussianMixture behavior
    * (clustering.py:906-984) — is certified on a SECOND fit over planted
    * well-separated blobs derived deterministically from vec_id (3 centers
    * 12+ apart, per-row noise from the first two embedding components —
    * the real embeddings' 10 label clusters are too diffuse after PCA to
    * shrink, measured eff = k up to k = 24, so the invariant needs data
    * that actually starves components): truncation k = 8 must predict < 8
    * distinct labels. The oracle supplies the expected count and TRUE
    * literals, so any violated invariant hash-fails the gate. The VB
    * arithmetic itself is hash-certified by q_m9_bgmm_seeded; fit-quality
    * pins live in GmmSpec. */
  private val m9 = Q(
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .withColumn("f64", array_to_vector(col("embedding")))
      val (pca, _) = FeaturePipeline.pcaAtVariance(emb, "f64", "features", 0.99, maxK = 8)
      val fit = GmmSearch.fitOne(pca, "features", k = 3, seed = 42L)
      val propOk = math.abs(fit.weights.sum - 1.0) < 1e-6
      val bicFinite = java.lang.Double.isFinite(fit.bic)
      // planted 3-blob frame (centers 12+ apart, noise std ~0.8 from the
      // embedding components' ~0.13 std × 6.3) at truncation k = 8
      val blobs = Tables.embeddings(s, d).select(
          col("vec_id").cast("long").as("id"),
          pmod(col("vec_id"), lit(3)).cast("int").as("seg"),
          element_at(col("embedding"), 1).cast("double").as("n1"),
          element_at(col("embedding"), 2).cast("double").as("n2"))
        .withColumn("features", array_to_vector(array(
          element_at(array(lit(-12.0), lit(0.0), lit(12.0)), col("seg") + 1)
            + col("n1") * 6.3,
          element_at(array(lit(5.0), lit(-8.0), lit(9.0)), col("seg") + 1)
            + col("n2") * 6.3)))
      val over = GmmSearch.fitOne(blobs, "features", k = 8, seed = 42L)
      fit.labeled.agg(
          count(lit(1)).as("n_points"),
          (min("cluster") >= 0 && max("cluster") < 3).as("labels_in_range"))
        .select(col("n_points"), col("labels_in_range"),
          lit(propOk).as("proportions_ok"), lit(bicFinite).as("bic_finite"),
          lit(over.effectiveK < 8).as("dp_shrinks_overspecified_k"))
    },
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
            TRUE AS labels_in_range, TRUE AS proportions_ok,
            TRUE AS bic_finite, TRUE AS dp_shrinks_overspecified_k
            FROM embeddings"""))

  /** M9 at the ORACLE-REPLAYABLE parameterization ([[BgmmOracleSql]]): the
    * same variational DP mixture ([[BayesianGmm]]) on the first two
    * embedding dimensions, k = 3, deterministic one-hot init from
    * `vec_id % 3`, tol = 0, exactly 2 variational iterations. DuckDB
    * replays the hard-init moment stats, all three stick-breaking +
    * Gaussian-Wishart M-steps (digamma expanded to the identical
    * recurrence-plus-series float ops), both E-step logsumexp passes, and
    * the final argmax labels — certifying the VB update arithmetic
    * end-to-end. The general KMeans-init / converge-to-tol path stays
    * q_m9_gmm (rows-only) + GmmSpec's DP-shrinkage pins. */
  private val m9Seeded = Q(
    (s, d) => {
      import s.implicits._
      val feats = Tables.embeddings(s, d).select(
          col("vec_id").cast("long").as("id"),
          element_at(col("embedding"), 1).cast("double").as("x1"),
          element_at(col("embedding"), 2).cast("double").as("x2"))
        .withColumn("features", array_to_vector(array(col("x1"), col("x2"))))
        .withColumn("init", pmod(col("id"), lit(3)).cast("int"))
      val (model, labeled) = BayesianGmm.fit(feats, "features", k = 3,
        seed = 0L, maxIter = 2, tol = 0.0, initCol = Some("init"))
      val params = (0 until 3).map(c =>
        (c, model.weights(c), model.means(c)(0), model.means(c)(1)))
        .toDF("cluster", "w", "mu1", "mu2")
      labeled.groupBy("cluster").agg(count(lit(1)).as("n"))
        .join(params, "cluster")
        .select(col("cluster"), col("n"), round(col("w"), 4).as("w"),
          round(col("mu1"), 4).as("mu1"), round(col("mu2"), 4).as("mu2"))
        .orderBy("cluster")
    },
    Some(BgmmOracleSql.seeded2d(
      """SELECT vec_id AS id, CAST(embedding[1] AS DOUBLE) AS x1,
                CAST(embedding[2] AS DOUBLE) AS x2 FROM embeddings""")))

  /** M10: Latent-class EM on categorical customer projections; BIC-selected
    * k would loop [[LatentClassEM.selectK]] — single k here for runtime.
    *
    * Registered at maxIter = 2, the oracle-replayable parameterization
    * ([[LcaOracleSql]] unrolls both EM iterations into DuckDB CTEs with the
    * murmur-seeded init θ embedded as bit-exact literals) — the same
    * accepted repinning as q_m5/q_m6: the green row certifies the
    * 2-iteration fit; the maxIter = 10 default path stays spec-covered
    * (ClusteringSpec EM-monotonicity test). */
  private val m10Vars: Seq[(String, Seq[String])] = Seq(
    "bal_sign" -> Seq("neg", "pos"),
    "c_mktsegment" -> Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY"),
    "nat_bucket" -> (0 until 5).map(i => s"n$i"))

  private val m10 = Q(
    (s, d) => {
      val cats = Tables.customer(s, d).select(
        col("c_custkey"),
        col("c_mktsegment"),
        concat(lit("n"), pmod(col("c_nationkey"), lit(5))).as("nat_bucket"),
        when(col("c_acctbal") >= 0, "pos").otherwise("neg").as("bal_sign"))
      val (model, labeled) = LatentClassEM.fit(cats,
        Seq("c_mktsegment", "nat_bucket", "bal_sign"), "c_custkey", k = 3,
        maxIter = 2)
      labeled.groupBy("cluster").agg(count(lit(1)).as("n"))
        .withColumn("bic", round(lit(model.bic), 2))
        .orderBy("cluster")
    },
    Some(LcaOracleSql.categorical(
      """SELECT c_custkey AS id, 'c_mktsegment' AS var,
                c_mktsegment AS value FROM customer
         UNION ALL
         SELECT c_custkey, 'nat_bucket',
                'n' || CAST(c_nationkey % 5 AS VARCHAR) FROM customer
         UNION ALL
         SELECT c_custkey, 'bal_sign',
                CASE WHEN c_acctbal >= 0 THEN 'pos' ELSE 'neg' END
         FROM customer""",
      m10Vars, k = 3)))

  /** M11: rules-based segmentation ≡ alphabetAsc dense_rank — full oracle. */
  private val m11 = Q(
    (s, d) => RulesBased.segment(Tables.orders(s, d), "o_orderpriority")
      .labeled.select(col("o_orderkey"), col("cluster")).orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
            CAST(dense_rank() OVER (ORDER BY o_orderpriority) - 1 AS INT) AS cluster
            FROM orders ORDER BY o_orderkey"""))

  /** M12: hierarchical segmentation — seeded Lloyd (k = 2) nested inside a
    * parent grouping; labels globally offset, small groups → -99. The
    * parent column plants a deterministic rare group (custkey % 1000 == 0,
    * lowercase so it sorts after the uppercase segments) so the < minRows
    * → IgnoredLabel branch is exercised and oracle-checked, and the inner
    * fit is the exact-integer [[KMeansLloyd]] on account balance in cents
    * (shifted +100000 to stay non-negative — a translation, so the
    * clustering is unchanged), which lets the WHOLE operator — per-group
    * fits, k extraction, offset stitching, the -99 rule — replay in DuckDB
    * ([[LloydOracleSql.hierarchicalKmeans]]). The MLlib-fit variant stays
    * spec-pinned in ClusteringSpec (globally-unique-labels test). */
  private val m12Groups = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY", "rare")

  private val m12 = Q(
    (s, d) => {
      val cust = Tables.customer(s, d).select(
        col("c_custkey").as("id"),
        when(pmod(col("c_custkey"), lit(1000)) === 0, "rare")
          .otherwise(col("c_mktsegment")).as("grp"),
        (round(col("c_acctbal") * 100).cast("long") + 100000L).as("z"))
      Hierarchical.nestedSegment(cust, "grp", minRows = 50,
        part => KMeansLloyd.fit(part, "z", Seq(300000L, 800000L),
          maxIter = 2).labeled)
        .groupBy("grp", "cluster").agg(count(lit(1)).as("n"))
        .orderBy("grp", "cluster")
    },
    Some(LloydOracleSql.hierarchicalKmeans(
      """SELECT c_custkey AS id,
                CASE WHEN c_custkey % 1000 = 0 THEN 'rare' ELSE c_mktsegment END AS g,
                CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000 AS z
         FROM customer""",
      m12Groups, init = Seq(300000L, 800000L), minRows = 50)))

  /** M16: random-baseline silhouette ratio (metrics.py:149-174), fully
    * oracle-checked: the squared-Euclidean silhouette closed form
    * ([[graft.metrics.ClusterQuality.silhouetteSquaredEuclid]]) is plain
    * arithmetic on moment aggregates, and the three "random" labelings are
    * SQL-replicable affine hashes (vec_id·7919 + run mod 10) — so real
    * silhouette, mean random silhouette, and their |ratio| all replay in
    * DuckDB. */
  private val m16 = {
    def silSql(tag: String, labelExpr: String): String =
      s"""t_$tag AS (SELECT vec_id, $labelExpr AS label, CAST(r.range AS INT) AS i,
                CAST(embedding[CAST(r.range AS INT) + 1] AS DOUBLE) AS x
              FROM embeddings, range(64) r),
          m_$tag AS (SELECT label, i, COUNT(*) AS nl, SUM(x) AS sx,
                SUM(x*x) AS sxx FROM t_$tag GROUP BY 1, 2),
          cs_$tag AS (SELECT label, MAX(nl) AS n, SUM(sxx) AS ss
              FROM m_$tag GROUP BY 1),
          dots_$tag AS (SELECT t.vec_id, t.label AS plabel, m.label AS clabel,
                SUM(t.x * m.sx) AS dot
              FROM t_$tag t JOIN m_$tag m ON t.i = m.i GROUP BY 1, 2, 3),
          sq_$tag AS (SELECT vec_id, SUM(x*x) AS sqn FROM t_$tag GROUP BY 1),
          d_$tag AS (SELECT dots.vec_id, plabel, clabel,
                (sq.sqn * cs.n + cs.ss - 2 * dot) / cs.n AS dist, cs.n
              FROM dots_$tag dots
              JOIN sq_$tag sq ON sq.vec_id = dots.vec_id
              JOIN cs_$tag cs ON cs.label = dots.clabel),
          ab_$tag AS (SELECT vec_id,
                MAX(CASE WHEN clabel = plabel THEN
                    CASE WHEN n = 1 THEN NULL ELSE dist * n / (n - 1.0) END
                  END) AS a,
                MIN(CASE WHEN clabel <> plabel THEN dist END) AS b
              FROM d_$tag GROUP BY 1),
          sil_$tag AS (SELECT AVG(CASE WHEN a IS NULL THEN 0.0
                ELSE (b - a) / GREATEST(a, b) END) AS s FROM ab_$tag)"""
    Q(
      (s, d) => {
        import s.implicits._
        import graft.metrics.ClusterQuality.silhouetteSquaredEuclid
        val emb = Tables.embeddings(s, d)
        val real = silhouetteSquaredEuclid(emb, "embedding", "label")
        val rands = (1 to 3).map { r =>
          silhouetteSquaredEuclid(
            emb.withColumn("rl", pmod(col("vec_id") * 7919 + r, lit(10))),
            "embedding", "rl")
        }
        val rmean = rands.sum / 3
        def rnd(x: Double) = BigDecimal.valueOf(x)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        Seq((rnd(real), rnd(rmean), rnd(math.abs(real / rmean))))
          .toDF("silhouette", "random_silhouette", "ratio")
      },
      Some(s"""WITH ${silSql("real", "label")},
          ${silSql("r1", "CAST((vec_id * 7919 + 1) % 10 AS INT)")},
          ${silSql("r2", "CAST((vec_id * 7919 + 2) % 10 AS INT)")},
          ${silSql("r3", "CAST((vec_id * 7919 + 3) % 10 AS INT)")}
          SELECT ROUND(sr.s, 6) AS silhouette,
                 ROUND((s1.s + s2.s + s3.s) / 3, 6) AS random_silhouette,
                 ROUND(ABS(sr.s / ((s1.s + s2.s + s3.s) / 3)), 6) AS ratio
          FROM sil_real sr, sil_r1 s1, sil_r2 s2, sil_r3 s3"""))
  }

  /** M18/M19: refit consistency (ARI of 90%-refit labels vs original), at
    * the exact-replay parameterization: seeded Lloyd on order cents, mod-10
    * id split, exact-integer contingency → ARI closed form — the whole
    * operator replays in DuckDB ([[LloydOracleSql.consistency]]). The MLlib
    * KMeans + Murmur3-bucket variant (ModelMetrics.consistency) remains
    * the general API, exercised by SegmentationPipeline, PipelineSpec and
    * ModelMetricsSpec. */
  private val m18Init = Seq(3000000L, 15000000L, 40000000L)

  private val m18 = Q(
    (s, d) => {
      import s.implicits._
      val cents = Tables.orders(s, d).select(col("o_orderkey").as("id"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val (m18v, m19v) = ModelMetrics.consistencyLloyd(
        cents, "id", "cents", m18Init)
      def r6(x: Double) = BigDecimal.valueOf(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq((r6(m18v), r6(m19v)))
        .toDF("model_consistency_ari", "label_consistency_ari")
    },
    Some(LloydOracleSql.consistency(
      """SELECT o_orderkey AS id,
                CAST(ROUND(o_totalprice * 100) AS BIGINT) AS z FROM orders""",
      m18Init)))

  /** M25: RF signal — predict the embedding label from the vector.
    * Registered as a QUALITY CONTRACT (the q_s_ann_ivf pattern): the RF fit
    * has no cross-engine oracle, but a signal-loss report is judged against
    * invariants that do hash-check. On the reference parameterization
    * (predict the planted `label` — which this corpus's vectors carry NO
    * signal for: measured accuracy ≈ chance at every SF, the honest
    * signal-loss answer): Cohen's κ must land in [−1, 1], every weighted
    * metric in [0, 1], and the test split must be non-empty. Recovery power
    * — "the pipeline beats the majority-class baseline when signal exists"
    * — is certified on a SECOND fit against a derived SEPARABLE label (the
    * sign pair of the first two embedding components, an axis-aligned
    * 4-class problem an RF must learn). The corpus row count is computed
    * in-plan; the oracle supplies the count and TRUE literals, so any
    * violated invariant hash-fails the gate. The evaluation arithmetic
    * itself is hash-certified by q_m25_metrics; MLlib-parity pins live in
    * ModelMetricsSpec. */
  private val m25 = Q(
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .withColumn("features", array_to_vector(col("embedding")))
      val m = ModelMetrics.rfSignal(emb, "features", "label")
      val unitOk = Seq("accuracy", "f1", "precision", "recall")
        .forall(k => m(k) >= 0.0 && m(k) <= 1.0)
      val sep = emb.withColumn("sep_label",
        (when(element_at(col("embedding"), 1) > 0, 2).otherwise(0)
          + when(element_at(col("embedding"), 2) > 0, 1).otherwise(0))
          .cast("double"))
      val ms = ModelMetrics.rfSignal(sep, "features", "sep_label")
      emb.agg(count(lit(1)).as("n_vectors"))
        .select(col("n_vectors"),
          lit(ms("accuracy") > ms("majority_baseline")).as("beats_majority"),
          lit(m("kappa") >= -1.0 && m("kappa") <= 1.0).as("kappa_in_range"),
          lit(unitOk).as("metrics_in_unit"),
          lit(m("n_test") > 0).as("test_nonempty"))
    },
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
            TRUE AS beats_majority, TRUE AS kappa_in_range,
            TRUE AS metrics_in_unit, TRUE AS test_nonempty
            FROM embeddings"""))

  /** M25's metric arithmetic, hash-certified: the RF FIT has no
    * cross-engine oracle (q_m25_rf_signal stays rows-only + spec), but the
    * evaluation half — mod-10 test split, confusion contingency, accuracy /
    * support-weighted precision / recall / F1 per metrics.py:714-811 —
    * is deterministic given a FROZEN prediction column, so this registers
    * it over a synthetic classifier: label = o_orderpriority's digit,
    * prediction = label perturbed on the id % 7 rows. DuckDB replays the
    * split, the contingency, and every weighted-metric formula. */
  private val m25Metrics = Q(
    (s, d) => {
      val base = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("id"),
        (substring(col("o_orderpriority"), 1, 1).cast("int") - 1)
          .cast("long").as("label"))
      val test = base.filter(pmod(col("id"), lit(10)) === 0)
        .withColumn("pred",
          when(pmod(col("id"), lit(7)) === 0, (col("label") + 1) % 5)
            .otherwise(col("label")))
      ModelMetrics.classificationMetrics(test, "label", "pred")
        .select(col("n_test"), round(col("accuracy"), 6).as("accuracy"),
          round(col("f1"), 6).as("f1"),
          round(col("precision_w"), 6).as("precision_w"),
          round(col("recall_w"), 6).as("recall_w"))
    },
    Some("""WITH t AS (SELECT o_orderkey AS id,
              CAST(CAST(substr(o_orderpriority, 1, 1) AS INT) - 1 AS BIGINT)
                AS label FROM orders),
            te AS (SELECT id, label,
                CASE WHEN id % 7 = 0 THEN (label + 1) % 5 ELSE label END AS pred
              FROM t WHERE id % 10 = 0),
            cm AS (SELECT label, pred, CAST(COUNT(*) AS DOUBLE) AS n
                   FROM te GROUP BY 1, 2),
            nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM te),
            lc AS (SELECT label, SUM(n) AS ln FROM cm GROUP BY 1),
            pc AS (SELECT pred, SUM(n) AS pn FROM cm GROUP BY 1),
            tpv AS (SELECT label, n AS tp FROM cm WHERE label = pred),
            per AS (SELECT l.label, l.ln, COALESCE(tpv.tp, 0) AS tp,
                           COALESCE(pc.pn, 0) AS pn
                    FROM lc l LEFT JOIN tpv ON l.label = tpv.label
                              LEFT JOIN pc ON l.label = pc.pred),
            m AS (SELECT label, ln, tp,
                CASE WHEN pn > 0 THEN tp/pn ELSE 0.0 END AS prec,
                CASE WHEN ln > 0 THEN tp/ln ELSE 0.0 END AS rec FROM per),
            f AS (SELECT label, ln, tp, prec, rec,
                CASE WHEN prec + rec > 0 THEN 2*prec*rec/(prec + rec)
                     ELSE 0.0 END AS f1 FROM m)
            SELECT CAST((SELECT n FROM nn) AS BIGINT) AS n_test,
              ROUND(SUM(tp)/(SELECT n FROM nn), 6) AS accuracy,
              ROUND(SUM(ln/(SELECT n FROM nn)*f1), 6) AS f1,
              ROUND(SUM(ln/(SELECT n FROM nn)*prec), 6) AS precision_w,
              ROUND(SUM(ln/(SELECT n FROM nn)*rec), 6) AS recall_w
            FROM f"""))

  /** M26: χ²-signal slicer over categorical orders projections. The oracle
    * UNROLLS the greedy loop for this exact parameterization (3 variables,
    * minVars = 2, startFloor 0.25, decay 0.01): two unconditional keep
    * iterations, then a third gated on modeCount/total ≥ the twice-decayed
    * floor — inlined as the exact DOUBLE the Scala subtraction produces
    * (0.25−0.01−0.01 ≠ 0.23 in binary), so the gate agrees bit-for-bit. */
  private val m26 = {
    val floor3 = math.max(0.15, math.max(0.15, 0.25 - 0.01) - 0.01)
    Q(
      (s, d) => {
        import s.implicits._
        val o = Tables.orders(s, d).select(
          col("o_orderpriority"), col("o_orderstatus"),
          when(col("o_totalprice") > 100000, "big").otherwise("small").as("size_bucket"))
        val (kept, retention) = ModelMetrics.chiSqSlicer(o,
          Seq("o_orderpriority", "o_orderstatus", "size_bucket"), minVars = 2)
        kept.map { case (v, mode) => (v, mode, math.rint(retention * 1e6) / 1e6) }
          .toDF("variable", "mode", "final_retention").orderBy("variable")
      },
      Some(s"""WITH base AS (SELECT o_orderpriority AS v1, o_orderstatus AS v2,
                CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS v3
              FROM orders),
            tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM base),
            t1 AS (SELECT 'o_orderpriority' AS var, v1 AS val, COUNT(*) AS n
                     FROM base GROUP BY 2
                   UNION ALL SELECT 'o_orderstatus', v2, COUNT(*) FROM base GROUP BY 2
                   UNION ALL SELECT 'size_bucket', v3, COUNT(*) FROM base GROUP BY 2),
            p1 AS (SELECT var, val, n FROM
                     (SELECT var, val, n, row_number() OVER
                        (PARTITION BY var ORDER BY n DESC, val) AS r FROM t1)
                   WHERE r = 1 ORDER BY n DESC, var LIMIT 1),
            b1 AS (SELECT base.* FROM base, p1 WHERE
                     CASE p1.var WHEN 'o_orderpriority' THEN v1
                                 WHEN 'o_orderstatus' THEN v2 ELSE v3 END = p1.val),
            t2 AS (SELECT * FROM (
                     SELECT 'o_orderpriority' AS var, v1 AS val, COUNT(*) AS n
                       FROM b1 GROUP BY 2
                     UNION ALL SELECT 'o_orderstatus', v2, COUNT(*) FROM b1 GROUP BY 2
                     UNION ALL SELECT 'size_bucket', v3, COUNT(*) FROM b1 GROUP BY 2)
                   WHERE var <> (SELECT var FROM p1)),
            p2 AS (SELECT var, val, n FROM
                     (SELECT var, val, n, row_number() OVER
                        (PARTITION BY var ORDER BY n DESC, val) AS r FROM t2)
                   WHERE r = 1 ORDER BY n DESC, var LIMIT 1),
            b2 AS (SELECT b1.* FROM b1, p2 WHERE
                     CASE p2.var WHEN 'o_orderpriority' THEN v1
                                 WHEN 'o_orderstatus' THEN v2 ELSE v3 END = p2.val),
            t3 AS (SELECT * FROM (
                     SELECT 'o_orderpriority' AS var, v1 AS val, COUNT(*) AS n
                       FROM b2 GROUP BY 2
                     UNION ALL SELECT 'o_orderstatus', v2, COUNT(*) FROM b2 GROUP BY 2
                     UNION ALL SELECT 'size_bucket', v3, COUNT(*) FROM b2 GROUP BY 2)
                   WHERE var NOT IN (SELECT var FROM p1)
                     AND var NOT IN (SELECT var FROM p2)),
            p3 AS (SELECT var, val, n FROM
                     (SELECT var, val, n, row_number() OVER
                        (PARTITION BY var ORDER BY n DESC, val) AS r FROM t3)
                   WHERE r = 1 ORDER BY n DESC, var LIMIT 1),
            applied3 AS (SELECT (SELECT CAST(n AS DOUBLE) FROM p3) / (SELECT n FROM tot)
                           >= $floor3 AS yes),
            b3 AS (SELECT b2.* FROM b2, p3 WHERE
                     CASE p3.var WHEN 'o_orderpriority' THEN v1
                                 WHEN 'o_orderstatus' THEN v2 ELSE v3 END = p3.val),
            ret AS (SELECT CASE WHEN (SELECT yes FROM applied3)
                      THEN (SELECT COUNT(*) FROM b3)
                      ELSE (SELECT COUNT(*) FROM b2) END / (SELECT n FROM tot) AS r),
            picks AS (SELECT var, val FROM p1
                      UNION ALL SELECT var, val FROM p2
                      UNION ALL SELECT var, val FROM p3
                        WHERE (SELECT yes FROM applied3))
            SELECT var AS variable, val AS mode,
                   round_even((SELECT r FROM ret), 6) AS final_retention
            FROM picks ORDER BY variable"""))
  }

  /** M31: social presence — share of docs mentioning a platform per lang. */
  private val m31 = Q(
    (s, d) => ModelMetrics.socialPresence(
      Tables.documents(s, d), "lang", "text", "spark").orderBy("cluster"),
    Some("""SELECT lang AS cluster,
            ROUND(AVG(CASE WHEN contains(lower(text), 'spark')
                  THEN 1.0 ELSE 0.0 END), 6) AS presence
            FROM documents GROUP BY 1 ORDER BY 1"""))

  val queries: Map[String, Q] = Map(
    "q_m1_label_encode" -> m1,
    "q_m2_standardize" -> m2,
    "q_m3_pca_components" -> m3,
    "q_m4_kmeans_search" -> m4,
    "q_m5_kmodes" -> m5,
    "q_m6_kprototypes" -> m6,
    "q_m9_gmm" -> m9,
    "q_m9_bgmm_seeded" -> m9Seeded,
    "q_m10_lca" -> m10,
    "q_m11_rules_based" -> m11,
    "q_m12_hierarchical" -> m12,
    "q_m16_random_baseline" -> m16,
    "q_m18_consistency" -> m18,
    "q_m25_rf_signal" -> m25,
    "q_m25_metrics" -> m25Metrics,
    "q_m26_slicer" -> m26,
    "q_m31_social_presence" -> m31)
}
