package graft.stats

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-arm log-rank test (Mantel, Cancer Chemother. Rep. 1966) — the
  * hypothesis test on top of [[Survival.kaplanMeier]]'s curves: did
  * arm A's lifetimes differ from arm B's, censoring-correctly? At each
  * death time the observed arm-A deaths are compared against the
  * hypergeometric expectation `d·n_A/n`, and the standardized square
  * of the summed gap is χ²(1) — the A/B read-out for
  * retention/lifetime experiments where the mean-based tests
  * (q_m41/q_m48) are censoring-blind.
  *
  * Determinism: risk sets and death counts are exact integers; each
  * death time's expectation and variance terms are identical literal
  * trees of those integers floored to micro (rule 2), so the summed
  * E and V are ORDER-FREE integer sums (the KM/Kruskal decomposition
  * convention); O is an exact count and the final χ² one integral
  * division. Exactness caveat: the per-term doubles are exact while
  * d·n_A < 2⁵³ — beyond ~10⁹ subjects per death time, widen first.
  *
  * Scale shape: ONE (time) cells aggregation over subjects, cumulative
  * windows over distinct death times, one output row. */
object LogRank {

  /** χ²(1) log-rank over (arm ∈ {a,b}, duration, event 1/0) subjects.
    * One row: (n_subjects, deaths, o_a, e_a_micro, o_b, e_b_micro,
    * v_micro, chi2_micro — null when V = 0). */
  def logRank(subjects: DataFrame, armCol: String, durCol: String,
      eventCol: String): DataFrame = {
    val base = subjects.select(col(armCol).as("arm"),
      col(durCol).cast("long").as("t"),
      col(eventCol).cast("long").as("ev"))
    val cells = base.groupBy("t").agg(
      count(lit(1)).as("all"),
      sum(when(col("arm") === "a", 1L).otherwise(0L)).as("alla"),
      sum("ev").as("d"),
      sum(when(col("arm") === "a", col("ev")).otherwise(0L)).as("da"))
    // r16 (guide §2.2): risk-set sizes are totals minus the EXCLUSIVE
    // prefix sums over event-time cells — both computed off one
    // range-partitioned cache instead of the former single-partition
    // Window.orderBy(t) funnel (one row per distinct time); the totals
    // are the core's grand totals
    val (running, totals, nCells) = graft.etl.GlobalIndex.withGlobalRunning(
      cells, Seq(col("t")),
      Seq(col("all") -> "__xall", col("alla") -> "__xalla"))
    val risk = running
      .withColumn("n", lit(totals(0)) - col("__xall"))
      .withColumn("na", lit(totals(1)) - col("__xalla"))
      .filter(col("d") > 0)
    val eTree = col("d").cast("double") * col("na") / col("n")
    val vTree = eTree *
      ((col("n") - col("na")).cast("double") / col("n")) *
      ((col("n") - col("d")).cast("double") / (col("n") - 1))
    val terms = risk.select(col("d"), col("da"),
      floor(eTree * lit(1e6)).cast("long").as("e"),
      when(col("n") > 1, floor(vTree * lit(1e6)).cast("long"))
        .otherwise(0L).as("v"))
    // a global aggregate (not a groupBy): a series with zero deaths
    // still reports its one row, with explicit zeros; n_subjects is a SUM
    // over the cells, NULL when there are none
    val nSubjects = if (nCells == 0) lit(null).cast("long") else lit(totals(0))
    terms.agg(
        coalesce(sum("d"), lit(0L)).as("deaths"),
        coalesce(sum("da"), lit(0L)).as("o_a"),
        coalesce(sum("e"), lit(0L)).as("e_a_micro"),
        coalesce(sum("v"), lit(0L)).as("v_micro"))
      .select(nSubjects.as("n_subjects"), col("deaths"), col("o_a"),
        col("e_a_micro"),
        (col("deaths") - col("o_a")).as("o_b"),
        (col("deaths") * 1000000L - col("e_a_micro")).as("e_b_micro"),
        col("v_micro"),
        // (O−E)² / V in micro: numerator is micro², so ONE micro factor
        // cancels against the micro of V and one against the output
        // scale — chi2_micro = (o·1e6 − e_micro)² div v_micro exactly
        when(col("v_micro") > 0, expr(
          """cast(((o_a * 1000000L - e_a_micro)
                   * cast(o_a * 1000000L - e_a_micro as decimal(38,0)))
                  div cast(v_micro as decimal(38,0))
                  as long)"""))
          .as("chi2_micro"))
  }

  /** q_m53_logrank: the q_m52_km gap subjects split by user parity —
    * do even-id users' activity gaps survive differently? */
  private val mLogRank = Q(
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("us"))
      val wNext = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val edge = ev.agg(max("us").as("max_us"))
      val subj = ev.withColumn("next_us", lead("us", 1).over(wNext))
        .crossJoin(broadcast(edge))
        .select(
          when(col("user_id") % 2 === 0, "a").otherwise("b").as("arm"),
          expr("""(coalesce(next_us, max_us) - us) div 3600000000L""")
            .as("dur"),
          when(col("next_us").isNotNull, 1L).otherwise(0L).as("event"))
      logRank(subj, "arm", "dur", "event")
    },
    Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us
              FROM events),
            nxt AS (SELECT user_id, us, lead(us) OVER
                (PARTITION BY user_id ORDER BY us, event_id) AS next_us
              FROM ev),
            edge AS (SELECT MAX(us) AS max_us FROM ev),
            subj AS (SELECT
                CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
                (COALESCE(next_us, edge.max_us) - us) // 3600000000 AS dur,
                CASE WHEN next_us IS NOT NULL THEN 1 ELSE 0 END AS ev
              FROM nxt CROSS JOIN edge),
            cells AS (SELECT CAST(dur AS BIGINT) AS t,
                CAST(COUNT(*) AS BIGINT) AS a_all,
                CAST(SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
                  AS alla,
                CAST(SUM(ev) AS BIGINT) AS d,
                CAST(SUM(CASE WHEN arm = 'a' THEN ev ELSE 0 END)
                  AS BIGINT) AS da
              FROM subj GROUP BY 1),
            tot AS (SELECT CAST(SUM(a_all) AS BIGINT) AS nn,
                CAST(SUM(alla) AS BIGINT) AS nna FROM cells),
            risk AS (SELECT cells.*, tot.nn, tot.nna,
                tot.nn - (CAST(SUM(a_all) OVER wc AS BIGINT) - a_all) AS n,
                tot.nna - (CAST(SUM(alla) OVER wc AS BIGINT) - alla) AS na
              FROM cells CROSS JOIN tot
              WINDOW wc AS (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            terms AS (SELECT d, da,
                CAST(FLOOR(CAST(d AS DOUBLE) * na / n * 1000000.0)
                  AS BIGINT) AS e,
                CASE WHEN n > 1 THEN
                  CAST(FLOOR(CAST(d AS DOUBLE) * na / n
                    * (CAST(n - na AS DOUBLE) / n)
                    * (CAST(n - d AS DOUBLE) / (n - 1)) * 1000000.0)
                    AS BIGINT)
                ELSE 0 END AS v
              FROM risk WHERE d > 0),
            aggt AS (SELECT
                CAST(COALESCE(SUM(d), 0) AS BIGINT) AS deaths,
                CAST(COALESCE(SUM(da), 0) AS BIGINT) AS o_a,
                CAST(COALESCE(SUM(e), 0) AS BIGINT) AS e_a_micro,
                CAST(COALESCE(SUM(v), 0) AS BIGINT) AS v_micro
              FROM terms),
            agg AS (SELECT tot.nn, aggt.* FROM aggt CROSS JOIN tot)
            SELECT nn AS n_subjects, deaths, o_a, e_a_micro,
              deaths - o_a AS o_b,
              deaths * 1000000 - e_a_micro AS e_b_micro, v_micro,
              CASE WHEN v_micro > 0 THEN
                CAST(((o_a * 1000000 - e_a_micro)
                      * CAST(o_a * 1000000 - e_a_micro AS HUGEINT))
                  // CAST(v_micro AS HUGEINT) AS BIGINT) END
                AS chi2_micro
            FROM agg"""))

  val queries: Map[String, Q] = Map("q_m53_logrank" -> mLogRank)
}
