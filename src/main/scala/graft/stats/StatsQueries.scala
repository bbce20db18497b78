package graft.stats

import graft.{Q, Tables}
import graft.inference.{ChiSquaredInference, CrosstabJob}
import graft.metrics.ClusterQuality
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical operators (SURVEY.md §2.8) exposed as oracle-checked queries
  * over the TPC-H-ish tables: the χ² inference chain (M20-M23), ARI (M17),
  * Cochran's Q (M24), Davies-Bouldin / Calinski-Harabasz (M14/M15), the
  * population-modes table (M33) and the business metrics that are pure
  * relational algebra (M27-M30).
  *
  * Pattern: the DISTRIBUTED part of each statistic is a single aggregate
  * (tall crosstab / moment table / contingency), the driver finishes the
  * ≤k×c matrix math, and the oracle recomputes the same closed form in SQL.
  */
object StatsQueries {

  private def rnd(x: Double, n: Int): Double =
    BigDecimal.valueOf(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** lineitem with a derived bucket — two categorical variables vs the
    * l_returnflag "cluster", the reference's (variable × cluster) shape. */
  private def liBucketed(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).withColumn("qty_bucket",
      when(col("l_quantity") <= 25, "low").otherwise("high"))

  private def crosstabs(s: SparkSession, d: String): Seq[CrosstabJob.Crosstab] =
    CrosstabJob.collectCrosstabs(CrosstabJob.tallCounts(
      liBucketed(s, d), Seq("l_linestatus", "qty_bucket"), "l_returnflag"))

  private val tallSql =
    """tall AS (
         SELECT 'l_linestatus' AS variable, l_linestatus AS category,
                l_returnflag AS cluster FROM lineitem
         UNION ALL
         SELECT 'qty_bucket', CASE WHEN l_quantity <= 25 THEN 'low' ELSE 'high' END,
                l_returnflag FROM lineitem),
       ct AS (SELECT variable, category, cluster, CAST(COUNT(*) AS DOUBLE) AS n
              FROM tall GROUP BY 1,2,3),
       rm AS (SELECT variable, category, SUM(n) AS rn FROM ct GROUP BY 1,2),
       cm AS (SELECT variable, cluster, SUM(n) AS cn FROM ct GROUP BY 1,2),
       tot AS (SELECT variable, SUM(n) AS t FROM ct GROUP BY 1),
       cells AS (SELECT rm.variable, rm.category, cm.cluster,
                        COALESCE(ct.n, 0) AS n, rm.rn * cm.cn / tot.t AS e,
                        rm.rn, cm.cn, tot.t
                 FROM rm
                 JOIN cm ON rm.variable = cm.variable
                 JOIN tot ON rm.variable = tot.variable
                 LEFT JOIN ct ON ct.variable = rm.variable
                   AND ct.category = rm.category AND ct.cluster = cm.cluster)"""

  /** M20: Pearson χ² statistic + dof per variable (crosstab vs cluster). */
  private val m20 = Q(
    (s, d) => {
      import s.implicits._
      crosstabs(s, d).map { t =>
        val r = ContingencyMath.chiSquare(t.obs, yates = false)
        (t.variable, rnd(r.stat, 6), r.dof.toLong,
          t.obs.map(_.sum).sum.toLong)
      }.toDF("variable", "stat", "dof", "n_obs").orderBy("variable")
    },
    Some(s"""WITH $tallSql
            SELECT variable, ROUND(SUM((n-e)*(n-e)/e), 6) AS stat,
                   CAST((COUNT(DISTINCT category)-1)*(COUNT(DISTINCT cluster)-1) AS BIGINT) AS dof,
                   CAST(SUM(n) AS BIGINT) AS n_obs
            FROM cells GROUP BY variable ORDER BY variable"""))

  /** M21: expected-frequency table under independence. */
  private val m21 = Q(
    (s, d) => {
      import s.implicits._
      (for {
        t <- crosstabs(s, d)
        exp = ContingencyMath.expectedFreq(t.obs)
        i <- t.categories.indices; j <- t.clusters.indices
      } yield (t.variable, t.categories(i), t.clusters(j), rnd(exp(i)(j), 4)))
        .toDF("variable", "category", "cluster", "expected")
        .orderBy("variable", "category", "cluster")
    },
    Some(s"""WITH $tallSql
            SELECT variable, category, cluster, ROUND(e, 4) AS expected
            FROM cells ORDER BY variable, category, cluster"""))

  /** M22+M23: adjusted residuals with Bonferroni post-hoc direction.
    * The SQL inlines the exact two-sided z critical value for the 2×3
    * tables' adjusted alpha (computed from the same NormalDistribution the
    * Scala side uses), since DuckDB has no normal quantile function. */
  private val m23 = {
    val zCrit = math.max(1.96, ContingencyMath.bonferroniZCrit(2, 3))
    Q(
      (s, d) => {
        import s.implicits._
        (for {
          t <- crosstabs(s, d)
          z = ContingencyMath.adjustedResiduals(t.obs)
          dir = ContingencyMath.posthocDirections(t.obs)
          i <- t.categories.indices; j <- t.clusters.indices
        } yield (t.variable, t.categories(i), t.clusters(j),
          rnd(z(i)(j), 4), dir(i)(j)))
          .toDF("variable", "category", "cluster", "z", "direction")
          .orderBy("variable", "category", "cluster")
      },
      Some(f"""WITH $tallSql%s,
              zt AS (SELECT variable, category, cluster,
                            (n - e) / SQRT(e * (1 - rn/t) * (1 - cn/t)) AS z
                     FROM cells)
              SELECT variable, category, cluster, ROUND(z, 4) AS z,
                     CASE WHEN ROUND(z, 3) >= $zCrit%.12f THEN 'pos'
                          WHEN ROUND(z, 3) <= -$zCrit%.12f THEN 'neg'
                          ELSE 'neu' END AS direction
              FROM zt ORDER BY variable, category, cluster"""))
  }

  /** Deliver-stats frame (entry point C end-to-end). The synthetic tables
    * are statistically independent, so a planted dependent variable
    * guarantees significant rows to deliver. */
  private def deliverFrame(s: SparkSession, d: String) =
    ChiSquaredInference.deliverStats(
      s,
      liBucketed(s, d).withColumn("planted",
        when(col("l_returnflag") === "R", "ret")
          .otherwise(when(col("l_quantity") <= 25, "low").otherwise("high"))),
      Seq("l_linestatus", "qty_bucket", "planted"), "l_returnflag")

  /** Registry surface of the deliver frame: arrays JSON-serialized for the
    * driver comparator, floats rounded for cross-engine hash parity. */
  private[graft] def deliverChecked(df: DataFrame): DataFrame =
    Q.serializeArrays(df)
      .withColumn("chi2_stat", round(col("chi2_stat"), 4))
      .withColumn("p_value", round(col("p_value"), 9))

  /** Full-oracle SQL for the deliver kernel. χ² survival at even dof has the
    * closed form exp(−x/2)·Σ_{k<m}(x/2)^k/k! (dof = 2m) — our 3-cluster
    * design keeps dof = 2·(ncat−1) even, so the whole test chain (Pearson
    * stat, p, Bonferroni post-hoc on 3-dp-rounded adjusted residuals,
    * significant-category lists, modal category, in-cluster percentages) is
    * exactly SQL-expressible. zCrit values are the same commons-math3
    * normal quantiles the Scala side thresholds against.
    *
    * `weighted = true` replays the weighted test mode: every count becomes
    * SUM(l_quantity) — integer-valued, so exact in DOUBLE on both engines —
    * and the whole chain (stat, p, Yates trigger, post-hoc, mode,
    * percentages) runs on the weighted crosstab. */
  /** The generic deliver chain AFTER a `tall (variable, category, cluster
    * [, w])` CTE — reusable by any 3-CLUSTER design (the zcrit literals are
    * Bonferroni quantiles at 3 clusters) whose dof stays in {2,4,6,8}.
    * Ends in a `deliver` CTE with the full deliverStats column set. */
  private[graft] def deliverChainSql(weighted: Boolean): String = {
    def zc(ncat: Int): Double =
      math.max(1.96, ContingencyMath.bonferroniZCrit(ncat, 3))
    val nexpr = if (weighted) "CAST(SUM(w) AS DOUBLE)" else "CAST(COUNT(*) AS DOUBLE)"
    f"""ct AS (SELECT variable, category, cluster, $nexpr%s AS n
              FROM tall GROUP BY 1,2,3),
       rm AS (SELECT variable, category, SUM(n) AS rn FROM ct GROUP BY 1,2),
       cm AS (SELECT variable, cluster, SUM(n) AS cn FROM ct GROUP BY 1,2),
       tot AS (SELECT variable, SUM(n) AS t FROM ct GROUP BY 1),
       cells AS (SELECT rm.variable, rm.category, cm.cluster, COALESCE(ct.n, 0) AS n,
                        rm.rn * cm.cn / tot.t AS e, rm.rn, cm.cn, tot.t
                 FROM rm
                 JOIN cm ON rm.variable = cm.variable
                 JOIN tot ON rm.variable = tot.variable
                 LEFT JOIN ct ON ct.variable = rm.variable
                   AND ct.category = rm.category AND ct.cluster = cm.cluster),
       tests AS (SELECT variable, SUM((n-e)*(n-e)/e) AS stat,
                        CAST((COUNT(DISTINCT category)-1)*(COUNT(DISTINCT cluster)-1)
                          AS BIGINT) AS dof,
                        MAX(CASE WHEN n <= 5 THEN 1 ELSE 0 END) = 1 AS yates,
                        COUNT(DISTINCT category) AS ncat
                 FROM cells GROUP BY 1),
       pv AS (SELECT variable, stat, dof, yates,
                     CASE dof WHEN 2 THEN EXP(-stat/2)
                              WHEN 4 THEN EXP(-stat/2)*(1+stat/2)
                              WHEN 6 THEN EXP(-stat/2)*(1+stat/2+stat*stat/8)
                              WHEN 8 THEN EXP(-stat/2)*(1+stat/2+stat*stat/8+stat*stat*stat/48)
                              ELSE NULL END AS p,
                     CASE ncat WHEN 2 THEN ${zc(2)}%.12f WHEN 3 THEN ${zc(3)}%.12f
                               WHEN 4 THEN ${zc(4)}%.12f ELSE ${zc(5)}%.12f END AS zcrit
              FROM tests),
       z AS (SELECT c.*, pv.zcrit,
                    round_even((n - e) / SQRT(e * (1 - rn/t) * (1 - cn/t)), 3) AS z3
             FROM cells c JOIN pv ON c.variable = pv.variable),
       sg AS (SELECT variable, cluster,
                     to_json(list(category ORDER BY category)
                       FILTER (WHERE z3 >= zcrit AND category <> 'not selected'))::VARCHAR
                       AS sig_json,
                     to_json(list(round_even(n / cn * 100, 2) ORDER BY category)
                       FILTER (WHERE z3 >= zcrit AND category <> 'not selected'))::VARCHAR
                       AS pct_json,
                     COUNT(*) FILTER (WHERE z3 >= zcrit AND category <> 'not selected')
                       AS nsig
              FROM z GROUP BY 1, 2),
       md AS (SELECT variable, cluster, category AS mode_category,
                     row_number() OVER (PARTITION BY variable, cluster
                       ORDER BY n DESC, category DESC) AS rnk
              FROM cells),
       deliver AS (
         SELECT sg.cluster AS cluster, sg.variable AS variable,
                ROUND(pv.stat, 4) AS chi2_stat, ROUND(pv.p, 9) AS p_value,
                pv.dof AS dof, pv.yates AS yates, md.mode_category,
                sg.sig_json AS sig_more_category,
                ${if (weighted) ""
                  else "sg.pct_json AS category_percentages,"}
                sg.pct_json AS weighted_category_percentages
         FROM sg
         JOIN pv ON pv.variable = sg.variable
         JOIN md ON md.variable = sg.variable AND md.cluster = sg.cluster
           AND md.rnk = 1
         WHERE pv.p <= 0.05 AND sg.nsig > 0)"""
  }

  private def deliverBody(weighted: Boolean): String = {
    val wsel = if (weighted) ", l_quantity AS w" else ""
    f"""tall AS (
         SELECT 'l_linestatus' AS variable, l_linestatus AS category,
                l_returnflag AS cluster$wsel%s FROM lineitem
         UNION ALL
         SELECT 'qty_bucket', CASE WHEN l_quantity <= 25 THEN 'low' ELSE 'high' END,
                l_returnflag$wsel%s FROM lineitem
         UNION ALL
         SELECT 'planted', CASE WHEN l_returnflag = 'R' THEN 'ret'
                                WHEN l_quantity <= 25 THEN 'low' ELSE 'high' END,
                l_returnflag$wsel%s FROM lineitem),
       """ + deliverChainSql(weighted)
  }

  private val deliverSqlBody: String = deliverBody(weighted = false)

  private val deliver = Q(
    (s, d) => deliverChecked(deliverFrame(s, d)),
    Some(s"""WITH $deliverSqlBody
            SELECT * FROM deliver ORDER BY p_value, cluster, variable"""))

  /** Weighted deliver kernel (chisquared_tester.py weighted mode,
    * :871,964,1051-1064): l_quantity as the survey weight; the χ² chain runs
    * on the weight-summed crosstab. The unweighted percentage column is
    * dropped from the registry surface (the weighted run's own share array
    * is the deliverable, as in the reference's weighted API payload). */
  private val deliverWeighted = Q(
    (s, d) => deliverChecked(
      ChiSquaredInference.deliverStats(
        s,
        liBucketed(s, d).withColumn("planted",
          when(col("l_returnflag") === "R", "ret")
            .otherwise(when(col("l_quantity") <= 25, "low").otherwise("high"))),
        Seq("l_linestatus", "qty_bucket", "planted"), "l_returnflag",
        weightCol = Some("l_quantity"), weighted = true))
      .drop("category_percentages"),
    Some(s"""WITH ${deliverBody(weighted = true)}
            SELECT * FROM deliver ORDER BY p_value, cluster, variable"""))

  /** Discover view (W4 over deliver stats): top-k per cluster by p. */
  private val discover = Q(
    (s, d) => deliverChecked(
      ChiSquaredInference.discoverTopK(deliverFrame(s, d), k = 10)),
    Some(s"""WITH $deliverSqlBody,
            rnk AS (SELECT *, row_number() OVER (PARTITION BY cluster
                      ORDER BY p_value, variable) AS rn FROM deliver)
            SELECT cluster, variable, chi2_stat, p_value, dof, yates,
                   mode_category, sig_more_category, category_percentages,
                   weighted_category_percentages
            FROM rnk WHERE rn <= 10 ORDER BY cluster, p_value, variable"""))

  /** M17: adjusted Rand index between the embeddings labels and a synthetic
    * second labeling (vec_id mod 4) — pair-counting closed form. */
  private val m17 = Q(
    (s, d) => {
      import s.implicits._
      val df = Tables.embeddings(s, d).withColumn("lb", pmod(col("vec_id"), lit(4)))
      Seq(Tuple1(rnd(ClusterQuality.adjustedRand(df, "label", "lb"), 6)))
        .toDF("ari")
    },
    Some("""WITH c AS (SELECT label AS la, CAST(vec_id % 4 AS INT) AS lb,
                       CAST(COUNT(*) AS DOUBLE) AS n
                FROM embeddings GROUP BY 1,2),
            a AS (SELECT la, SUM(n) AS s FROM c GROUP BY 1),
            b AS (SELECT lb, SUM(n) AS s FROM c GROUP BY 1),
            x AS (SELECT (SELECT SUM(n*(n-1)/2) FROM c) AS sij,
                         (SELECT SUM(s*(s-1)/2) FROM a) AS sa,
                         (SELECT SUM(s*(s-1)/2) FROM b) AS sb,
                         (SELECT SUM(n) FROM c) AS n)
            SELECT ROUND((sij - sa*sb/(n*(n-1)/2))
                   / ((sa+sb)/2 - sa*sb/(n*(n-1)/2)), 6) AS ari FROM x"""))

  /** M24: Cochran's Q over three binary text-feature "treatments". */
  private val m24 = Q(
    (s, d) => {
      import s.implicits._
      val b = Tables.documents(s, d).select(
        col("text").contains("spark").cast("int").as("t1"),
        col("text").contains("data").cast("int").as("t2"),
        col("text").contains("query").cast("int").as("t3"))
      val agg = b.agg(
        sum("t1").cast("double"), sum("t2").cast("double"),
        sum("t3").cast("double"),
        sum(pow(col("t1") + col("t2") + col("t3"), 2))).head()
      val (q, dof, i2) = ContingencyMath.cochransQ(
        Array(agg.getDouble(0), agg.getDouble(1), agg.getDouble(2)),
        agg.getDouble(3))
      Seq((rnd(q, 6), dof.toLong, rnd(i2, 4))).toDF("q_stat", "dof", "i2")
    },
    Some("""WITH b AS (SELECT CAST(contains(text,'spark') AS INT) AS t1,
                              CAST(contains(text,'data') AS INT) AS t2,
                              CAST(contains(text,'query') AS INT) AS t3
                       FROM documents),
            agg AS (SELECT CAST(SUM(t1) AS DOUBLE) AS c1,
                           CAST(SUM(t2) AS DOUBLE) AS c2,
                           CAST(SUM(t3) AS DOUBLE) AS c3,
                           CAST(SUM(POW(t1+t2+t3, 2)) AS DOUBLE) AS rss
                    FROM b)
            SELECT ROUND(2 * (3*(c1*c1 + c2*c2 + c3*c3) - POW(c1+c2+c3, 2))
                         / (3*(c1+c2+c3) - rss), 6) AS q_stat,
                   CAST(2 AS BIGINT) AS dof,
                   ROUND((2 * (3*(c1*c1 + c2*c2 + c3*c3) - POW(c1+c2+c3, 2))
                          / (3*(c1+c2+c3) - rss) - 2)
                         / (2 * (3*(c1*c1 + c2*c2 + c3*c3) - POW(c1+c2+c3, 2))
                            / (3*(c1+c2+c3) - rss)) * 100, 4) AS i2
            FROM agg"""))

  private val embTallSql =
    """t AS (SELECT vec_id, label, CAST(r.range AS INT) AS i,
                    CAST(embedding[CAST(r.range AS INT) + 1] AS DOUBLE) AS x
             FROM embeddings, range(64) r)"""

  /** M15: Calinski-Harabasz over the 64-dim embeddings with their labels. */
  private val m15 = Q(
    (s, d) => {
      import s.implicits._
      Seq(Tuple1(rnd(ClusterQuality.calinskiHarabasz(
        Tables.embeddings(s, d), "embedding", "label"), 4))).toDF("ch_index")
    },
    Some(s"""WITH $embTallSql,
            m AS (SELECT label, i, COUNT(*) AS nl, SUM(x) AS sx, SUM(x*x) AS sxx
                  FROM t GROUP BY 1,2),
            g AS (SELECT i, SUM(sx)/SUM(nl) AS gmu, SUM(nl) AS n FROM m GROUP BY 1),
            wb AS (SELECT SUM(sxx - nl*(sx/nl)*(sx/nl)) AS w,
                          SUM(nl*((sx/nl)-gmu)*((sx/nl)-gmu)) AS b,
                          MAX(g.n) AS n, COUNT(DISTINCT m.label) AS k
                   FROM m JOIN g ON m.i = g.i)
            SELECT ROUND((b/(k-1)) / (w/(n-k)), 4) AS ch_index FROM wb"""))

  /** M14: Davies-Bouldin over the embeddings. */
  private val m14 = Q(
    (s, d) => {
      import s.implicits._
      Seq(Tuple1(rnd(ClusterQuality.daviesBouldin(
        Tables.embeddings(s, d), "embedding", "label"), 4))).toDF("db_index")
    },
    Some(s"""WITH $embTallSql,
            cent AS (SELECT label, i, AVG(x) AS mu FROM t GROUP BY 1,2),
            pd AS (SELECT t.label, t.vec_id, SQRT(SUM((x-mu)*(x-mu))) AS dist
                   FROM t JOIN cent ON t.label = cent.label AND t.i = cent.i
                   GROUP BY 1,2),
            s AS (SELECT label, AVG(dist) AS s FROM pd GROUP BY 1),
            cd AS (SELECT a.label AS la, b.label AS lb,
                          SQRT(SUM((a.mu-b.mu)*(a.mu-b.mu))) AS m
                   FROM cent a JOIN cent b ON a.i = b.i AND a.label <> b.label
                   GROUP BY 1,2),
            r AS (SELECT la, MAX((sa.s + sb.s) / m) AS rmax FROM cd
                  JOIN s sa ON sa.label = cd.la
                  JOIN s sb ON sb.label = cd.lb GROUP BY 1)
            SELECT ROUND(AVG(rmax), 4) AS db_index FROM r"""))

  /** M13: exact Euclidean silhouette over the embeddings with their labels —
    * the quadratic definition, oracle'd by the same pairwise computation in
    * SQL. (The linear-time squared-Euclidean variant lives in KMeansSearch
    * via MLlib's ClusteringEvaluator.) */
  private val m13 = Q(
    (s, d) => {
      import s.implicits._
      Seq(Tuple1(rnd(ClusterQuality.silhouette(
        Tables.embeddings(s, d), "vec_id", "embedding", "label"), 6)))
        .toDF("silhouette")
    },
    Some(s"""WITH $embTallSql,
            pd AS (SELECT a.vec_id AS id, a.label AS la, b.label AS lb,
                          b.vec_id AS idb, SQRT(SUM((a.x-b.x)*(a.x-b.x))) AS d
                   FROM t a JOIN t b ON a.i = b.i AND a.vec_id <> b.vec_id
                   GROUP BY 1,2,3,4),
            mc AS (SELECT id, la, lb, AVG(d) AS md FROM pd GROUP BY 1,2,3),
            sc AS (SELECT id, la,
                          MAX(CASE WHEN lb = la THEN md END) AS a,
                          MIN(CASE WHEN lb <> la THEN md END) AS b
                   FROM mc GROUP BY 1,2)
            SELECT ROUND(AVG(CASE WHEN a IS NULL THEN 0.0
                               ELSE (b - a) / GREATEST(a, b) END), 6) AS silhouette
            FROM sc"""))

  /** M32: message reach = social presence × signal per cluster, through the
    * real [[graft.metrics.ModelMetrics.messageReach]] map API (the signal
    * here is the cluster's row share — the RF-signal variant is not
    * SQL-expressible). */
  private val m32 = Q(
    (s, d) => {
      import s.implicits._
      import graft.metrics.ModelMetrics
      val docs = Tables.documents(s, d)
      val presence = ModelMetrics.socialPresence(docs, "lang", "text", "spark")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val total = docs.count().toDouble
      val signal = docs.groupBy(col("lang")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1) / total).toMap
      ModelMetrics.messageReach(presence, signal).toSeq
        .map { case (c, r) => (c, rnd(r, 6)) }
        .toDF("cluster", "reach").orderBy("cluster")
    },
    Some("""WITH p AS (SELECT lang AS cluster,
                   AVG(CASE WHEN contains(lower(text), 'spark')
                       THEN 1.0 ELSE 0.0 END) AS presence,
                   COUNT(*) AS n
                 FROM documents GROUP BY 1)
            SELECT cluster,
                   ROUND(ROUND(presence, 6) * (n / (SELECT SUM(n) FROM p)), 6)
                     AS reach
            FROM p ORDER BY cluster"""))

  /** M33: population modes — weighted & unweighted modal nation per segment
    * with the weighted-mode share. Fully distributed (windows over the
    * aggregated frame). */
  private val m33 = Q(
    (s, d) => {
      val wc = Tables.customer(s, d)
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(count(lit(1)).as("n"),
          round(sum(greatest(col("c_acctbal"), lit(0.0))), 4).as("ws"))
      val byN = Window.partitionBy("c_mktsegment").orderBy(col("n").desc, col("c_nationkey"))
      val byW = Window.partitionBy("c_mktsegment").orderBy(col("ws").desc, col("c_nationkey"))
      wc.withColumn("rn", row_number().over(byN))
        .withColumn("wrn", row_number().over(byW))
        .withColumn("tws", sum("ws").over(Window.partitionBy("c_mktsegment")))
        .groupBy("c_mktsegment")
        .agg(
          max(when(col("rn") === 1, col("c_nationkey"))).as("mode_nation"),
          max(when(col("wrn") === 1, col("c_nationkey"))).as("wmode_nation"),
          round(max(when(col("wrn") === 1, col("ws"))) / max("tws"), 6).as("wmode_share"))
        .withColumnRenamed("c_mktsegment", "cluster")
        .orderBy("cluster")
    },
    Some("""WITH wc AS (SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
                               ROUND(SUM(GREATEST(c_acctbal, 0)), 4) AS ws
                        FROM customer GROUP BY 1,2),
            r AS (SELECT *,
                    row_number() OVER (PARTITION BY c_mktsegment
                      ORDER BY n DESC, c_nationkey) AS rn,
                    row_number() OVER (PARTITION BY c_mktsegment
                      ORDER BY ws DESC, c_nationkey) AS wrn,
                    SUM(ws) OVER (PARTITION BY c_mktsegment) AS tws
                  FROM wc)
            SELECT c_mktsegment AS cluster,
                   MAX(CASE WHEN rn = 1 THEN c_nationkey END) AS mode_nation,
                   MAX(CASE WHEN wrn = 1 THEN c_nationkey END) AS wmode_nation,
                   ROUND(MAX(CASE WHEN wrn = 1 THEN ws END) / MAX(tws), 6) AS wmode_share
            FROM r GROUP BY 1 ORDER BY 1"""))

  // -- business metrics on the orders "segmentation" ---------------------
  // cluster := o_orderstatus; "significant variable" := a priority whose
  // count within the cluster exceeds the cluster's average priority count.

  private def sigPairs(s: SparkSession, d: String): DataFrame = {
    val ct = Tables.orders(s, d)
      .groupBy(col("o_orderstatus").as("st"), col("o_orderpriority").as("pr"))
      .agg(count(lit(1)).as("n"))
    ct.withColumn("a", avg("n").over(Window.partitionBy("st")))
      .filter(col("n") > col("a")).select("st", "pr")
  }

  private val sigSql =
    """ct AS (SELECT o_orderstatus AS st, o_orderpriority AS pr, COUNT(*) AS n
              FROM orders GROUP BY 1,2),
       sig AS (SELECT st, pr FROM
                 (SELECT st, pr, n, AVG(n) OVER (PARTITION BY st) AS a FROM ct)
               WHERE n > a)"""

  /** M27: uniqueness — 1 − share of a cluster's significant variables that
    * also appear in any other cluster (self-join pair match,
    * metrics.py:311-337). */
  private val m27 = Q(
    (s, d) => {
      val sig = sigPairs(s, d)
      val others = sig.select(col("pr").as("pr2"), col("st").as("st2")).distinct()
      sig.join(others, col("pr") === col("pr2") && col("st") =!= col("st2"), "left")
        .groupBy("st", "pr")
        .agg(max(when(col("st2").isNotNull, 1).otherwise(0)).as("shared"))
        .groupBy(col("st").as("cluster"))
        .agg(round(lit(1.0) - avg("shared"), 6).as("uniqueness"))
        .orderBy("cluster")
    },
    Some(s"""WITH $sigSql,
            ov AS (SELECT s1.st, s1.pr,
                     CASE WHEN EXISTS (SELECT 1 FROM sig s2
                       WHERE s2.pr = s1.pr AND s2.st <> s1.st) THEN 1 ELSE 0 END AS shared
                   FROM sig s1)
            SELECT st AS cluster, ROUND(1.0 - AVG(shared), 6) AS uniqueness
            FROM ov GROUP BY 1 ORDER BY 1"""))

  /** M28: communicability — distinct significant variables matching a name
    * pattern per cluster (regex filter + grouped distinct count). */
  private val m28 = Q(
    (s, d) => Tables.orders(s, d)
      .groupBy(col("o_orderstatus").as("cluster"))
      .agg(countDistinct(when(col("o_orderpriority").rlike("^(1|2)-"),
        col("o_orderpriority"))).as("n_comm"))
      .orderBy("cluster"),
    Some("""SELECT o_orderstatus AS cluster,
            COUNT(DISTINCT CASE WHEN regexp_matches(o_orderpriority, '^(1|2)-')
                  THEN o_orderpriority END) AS n_comm
            FROM orders GROUP BY 1 ORDER BY 1"""))

  /** M29: significant-variable spread — per-prefix share of a cluster's rows
    * (prefix extraction + ratio, metrics.py:177-231). */
  private val m29 = Q(
    (s, d) => Tables.orders(s, d)
      .groupBy(col("o_orderstatus").as("cluster"),
        split_part(col("o_orderpriority"), lit("-"), lit(1)).as("prefix"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prop",
        round(col("n") / sum("n").over(Window.partitionBy("cluster")), 6))
      .orderBy("cluster", "prefix"),
    Some("""SELECT o_orderstatus AS cluster,
                   split_part(o_orderpriority, '-', 1) AS prefix, COUNT(*) AS n,
                   ROUND(COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY o_orderstatus), 6)
                     AS prop
            FROM orders GROUP BY 1,2 ORDER BY 1,2"""))

  /** M30: magnitude — (cluster's row share) × (cluster's share of all
    * significant variables) (metrics.py:636-687). */
  private val m30 = Q(
    (s, d) => {
      val rows = Tables.orders(s, d)
        .groupBy(col("o_orderstatus").as("st")).agg(count(lit(1)).as("nr"))
      val sigs = sigPairs(s, d).groupBy("st").agg(count(lit(1)).as("ns"))
      // totals via a broadcast 1-row cross join, not sum().over() — the
      // frame is cluster-sized either way, but the empty-window warning
      // (and its single-partition exchange) disappear from the plan
      val joined = rows.join(sigs, Seq("st"), "left")
        .na.fill(Map("ns" -> 0L))
      val tot = joined.agg(sum("nr").as("tnr"), sum("ns").as("tns"))
      joined.crossJoin(broadcast(tot))
        .withColumn("magnitude",
          round((col("nr") / col("tnr")) * (col("ns") / col("tns")), 6))
        .select(col("st").as("cluster"), col("magnitude"))
        .orderBy("cluster")
    },
    Some(s"""WITH $sigSql,
            rs AS (SELECT o_orderstatus AS st, COUNT(*) AS nr FROM orders GROUP BY 1),
            ss AS (SELECT st, COUNT(*) AS ns FROM sig GROUP BY 1)
            SELECT rs.st AS cluster,
                   ROUND((nr / SUM(nr) OVER ()) *
                         (COALESCE(ns, 0) / SUM(COALESCE(ns, 0)) OVER ()), 6) AS magnitude
            FROM rs LEFT JOIN ss ON rs.st = ss.st ORDER BY 1"""))

  /** A13 (beyond ref §2.5): pairwise Pearson correlation matrix over the
    * lineitem measure columns — the feature-screening step ahead of the
    * PCA/KMeans battery (the reference eigensolves a correlation matrix at
    * clustering.py:176-189; this exposes the matrix itself as a query).
    *
    * ONE full-scan aggregate computes all C(4,2)=6 coefficients via
    * map-side-combined co-moment state (no per-pair passes, no shuffle
    * beyond the single-row reduce); `stack` unpivots the 1×6 result
    * driver-side. Adding columns grows state quadratically but the scan
    * stays single-pass — the shape that survives 100 TB. */
  private val a13 = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    Q(
      (s, d) => {
        val aggs = pairs.map { case (a, b) =>
          round(corr(col(a), col(b)), 6).as(s"${a}__$b") }
        val stackArgs = pairs
          .map { case (a, b) => s"'$a', '$b', `${a}__$b`" }.mkString(", ")
        Tables.lineitem(s, d)
          .agg(aggs.head, aggs.tail: _*)
          .select(expr(
            s"stack(${pairs.size}, $stackArgs) as (col_a, col_b, r)"))
          .orderBy("col_a", "col_b")
      },
      Some(pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
            ROUND(corr($a, $b), 6) AS r FROM lineitem"""
      }.mkString("SELECT * FROM (", " UNION ALL ",
        ") ORDER BY col_a, col_b")))
  }

  /** A14 (beyond ref): robust per-group outlier gate — median + MAD
    * (median absolute deviation), the curation-grade alternative to
    * mean±kσ that one fat-tailed value cannot drag. EXACT medians,
    * computed distributively: a per-GROUP window ranks values (sorted
    * shuffle keyed on the group — no per-group buffering aggregate, no
    * single-partition exchange), the middle one-or-two rows average.
    * Same machinery again on |x − median| for the MAD. Outlier = |x −
    * median| > 3·MAD (the raw-MAD gate; multiply by 1.4826 for the
    * normal-consistent σ̂ convention).
    *
    * Cross-engine exactness: median/MAD are single values or two-value
    * averages of input doubles — no accumulation — so both engines
    * compute bit-identical numbers and the 3·MAD comparison cannot
    * straddle. */
  private val a14 = Q(
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("g"), col("l_extendedprice").as("x"))
      // r16 (guide §2 — per-group total order without |groups|-bounded
      // parallelism): the former PARTITION BY g window sorted a third of
      // the corpus per task (3 returnflags at any scale); the grouped
      // GlobalIndex range-partitions on (g, value) so the sort spreads
      // over all partitions, and the per-(partition, group) offsets +
      // group totals arrive from one tiny collected count. The selected
      // ranks are the same two middle order statistics — rank values per
      // VALUE are deterministic, and the median averages values, so tie
      // placement cannot change it (GlobalIndexSpec grouped-median parity).
      def medianOf(df: DataFrame, valueCol: String, as: String) = {
        graft.etl.GlobalIndex.withGroupedIndex(
            df.select(col("g"), col(valueCol)), Seq("g"), Seq(col(valueCol)))
          // integer middles: floor-div, not Spark's double `/`
          .filter(col("rn") === floor((col("cnt") + 1) / 2).cast("long") ||
            col("rn") === floor(col("cnt") / 2).cast("long") + 1)
          .groupBy("g").agg(avg(valueCol).as(as))
      }
      val med = medianOf(li, "x", "med")
      val dev = li.join(med, Seq("g"))
        .withColumn("adev", abs(col("x") - col("med")))
      val mad = medianOf(dev.select(col("g"), col("adev")), "adev", "mad")
      dev.join(mad, Seq("g"))
        .groupBy("g")
        .agg(count(lit(1)).as("n"),
          round(first("med"), 6).as("median"),
          round(first("mad"), 6).as("mad"),
          sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
        .select(col("g").as("l_returnflag"), col("n"), col("median"),
          col("mad"), col("n_outliers"))
        .orderBy("l_returnflag")
    },
    Some("""WITH li AS (SELECT l_returnflag AS g, l_extendedprice AS x
                        FROM lineitem),
            med AS (SELECT g, MEDIAN(x) AS med FROM li GROUP BY g),
            dev AS (SELECT li.g, li.x, ABS(li.x - med.med) AS adev, med.med
                    FROM li JOIN med USING (g)),
            mad AS (SELECT g, MEDIAN(adev) AS mad FROM dev GROUP BY g)
            SELECT dev.g AS l_returnflag,
              CAST(COUNT(*) AS BIGINT) AS n,
              ROUND(ANY_VALUE(dev.med), 6) AS median,
              ROUND(ANY_VALUE(mad.mad), 6) AS mad,
              CAST(SUM(CASE WHEN dev.adev > 3.0 * mad.mad
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM dev JOIN mad USING (g)
            GROUP BY dev.g ORDER BY dev.g"""))

  /** A15 (beyond ref): equi-width histogram — the profiling primitive.
    * One min/max pass (1-row broadcast), then a pure map-side bucket
    * expression and a 10-row aggregate; the float bucket arithmetic is
    * the IDENTICAL op sequence in both engines, so no boundary can
    * straddle. */
  private val a15 = Q(
    (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_extendedprice").as("x"))
      val bounds = li.agg(min("x").as("mn"), max("x").as("mx"))
      li.crossJoin(broadcast(bounds))
        .withColumn("bucket", least(lit(9L),
          floor((col("x") - col("mn")) * lit(10.0) /
            (col("mx") - col("mn")))).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(min("x"), 2).as("lo"), round(max("x"), 2).as("hi"))
        .orderBy("bucket")
    },
    Some("""WITH b AS (SELECT MIN(l_extendedprice) AS mn,
                              MAX(l_extendedprice) AS mx FROM lineitem)
            SELECT CAST(LEAST(9, FLOOR((l_extendedprice - mn) * 10.0
                                       / (mx - mn))) AS BIGINT) AS bucket,
              CAST(COUNT(*) AS BIGINT) AS n,
              ROUND(MIN(l_extendedprice), 2) AS lo,
              ROUND(MAX(l_extendedprice), 2) AS hi
            FROM lineitem, b GROUP BY 1 ORDER BY 1"""))

  /** A20 (beyond ref): 2-D equi-width histogram — the JOINT profile
    * (q_a15's second dimension): correlation coefficients (q_a13)
    * summarize a relationship to one number; the 2-D density grid is
    * what an analyst actually looks at to see nonlinearity, clusters,
    * and outlier pockets. Same shape as a15: one min/max pass per
    * dimension (a single 1-row broadcast), pure map-side bucket
    * arithmetic — the IDENTICAL float op sequence both engines, so no
    * boundary can straddle — and an ≤ B² row aggregate. */
  private val a20 = Q(
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      val bounds = li.agg(min("x").as("mnx"), max("x").as("mxx"),
        min("y").as("mny"), max("y").as("mxy"))
      li.crossJoin(broadcast(bounds))
        .withColumn("bx", least(lit(7L),
          floor((col("x") - col("mnx")) * lit(8.0) /
            (col("mxx") - col("mnx")))).cast("long"))
        .withColumn("by", least(lit(7L),
          floor((col("y") - col("mny")) * lit(8.0) /
            (col("mxy") - col("mny")))).cast("long"))
        .groupBy("bx", "by")
        .agg(count(lit(1)).as("n"))
        .orderBy("bx", "by")
    },
    Some("""WITH b AS (SELECT MIN(l_quantity) AS mnx, MAX(l_quantity) AS mxx,
                              MIN(l_extendedprice) AS mny,
                              MAX(l_extendedprice) AS mxy FROM lineitem)
            SELECT CAST(LEAST(7, FLOOR((l_quantity - mnx) * 8.0
                                       / (mxx - mnx))) AS BIGINT) AS bx,
                   CAST(LEAST(7, FLOOR((l_extendedprice - mny) * 8.0
                                       / (mxy - mny))) AS BIGINT) AS by,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem, b GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** M36 (beyond ref): deterministic exact-quantile discretizer — the
    * QuantileDiscretizer shape without MLlib's approximation and without
    * the single-partition `ntile` window: bucket = floor(global_rank ·
    * B / n) over the distributed [[graft.etl.GlobalIndex]] (total order
    * (x, orderkey, linenumber)). Summarized per bin: counts differ by at
    * most 1 between bins by construction, bounds are exact order
    * statistics. */
  private val m36 = Q(
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_extendedprice").as("x"),
          col("l_orderkey"), col("l_linenumber"))
      val n = li.count()
      val (idx, release) = graft.etl.GlobalIndex.withGlobalIndexReleasable(
        li, Seq(col("x"), col("l_orderkey"), col("l_linenumber")))
      val out = idx
        .withColumn("qbin", floor((col("rn") - 1) * 8 / lit(n)).cast("long"))
        .groupBy("qbin")
        .agg(count(lit(1)).as("n"),
          round(min("x"), 2).as("lo"), round(max("x"), 2).as("hi"))
        .orderBy("qbin")
      val collected = out.localCheckpoint(eager = true)
      release()
      collected
    },
    Some("""WITH r AS (SELECT l_extendedprice AS x,
                CAST(row_number() OVER (ORDER BY l_extendedprice,
                  l_orderkey, l_linenumber) AS BIGINT) AS rn
              FROM lineitem),
            n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem)
            SELECT (rn - 1) * 8 // n.n AS qbin,
              CAST(COUNT(*) AS BIGINT) AS n,
              ROUND(MIN(x), 2) AS lo, ROUND(MAX(x), 2) AS hi
            FROM r, n GROUP BY 1 ORDER BY 1"""))

  /** A16 (beyond ref): ROLLUP subtotals — priority × status totals with
    * per-priority and grand-total rows in ONE pass (Spark expands the
    * grouping sets inside a single aggregation; no self-union of
    * aggregates). Null grouping markers surface as 'ALL'. */
  private val a16 = Q(
    (s, d) => Tables.orders(s, d)
      .rollup("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n"), col("total"))
      .orderBy("priority", "status"),
    Some("""SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
              COALESCE(o_orderstatus, 'ALL') AS status,
              CAST(COUNT(*) AS BIGINT) AS n,
              ROUND(SUM(o_totalprice), 2) AS total
            FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
            ORDER BY 1, 2"""))

  /** A18 (beyond ref): CUBE — all 2^k grouping-set subtotals in one
    * pass, ROLLUP's sibling (q_a16). Spark expands the grouping sets
    * into one Expand node feeding a SINGLE hash aggregate, so the 2^k
    * subtotal combinations cost one data pass, not 2^k scans; the same
    * plan shape DuckDB uses for GROUPING SETS. Sums stay exact 2-dp
    * decimals under round(2). */
  private val a18 = Q(
    (s, d) => Tables.orders(s, d)
      .cube("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n"), col("total"))
      .orderBy("priority", "status"),
    Some("""SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
              COALESCE(o_orderstatus, 'ALL') AS status,
              CAST(COUNT(*) AS BIGINT) AS n,
              ROUND(SUM(o_totalprice), 2) AS total
            FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
            ORDER BY 1, 2"""))

  val queries: Map[String, Q] = Map(
    "q_a16_rollup" -> a16,
    "q_a18_cube" -> a18,
    "q_a20_hist2d" -> a20,
    "q_a14_mad_outliers" -> a14,
    "q_a15_histogram" -> a15,
    "q_m36_quantile_bins" -> m36,
    "q_a13_corr_matrix" -> a13,
    "q_m20_chi2" -> m20,
    "q_m21_expected" -> m21,
    "q_m23_residuals" -> m23,
    "q_inf_deliver" -> deliver,
    "q_inf_deliver_weighted" -> deliverWeighted,
    "q_inf_discover" -> discover,
    "q_m17_ari" -> m17,
    "q_m24_cochran_q" -> m24,
    "q_m15_calinski" -> m15,
    "q_m14_davies_bouldin" -> m14,
    "q_m13_silhouette" -> m13,
    "q_m32_reach" -> m32,
    "q_m33_popmodes" -> m33,
    "q_m27_uniqueness" -> m27,
    "q_m28_communicability" -> m28,
    "q_m29_spread" -> m29,
    "q_m30_magnitude" -> m30)
}
