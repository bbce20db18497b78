package graft.stats

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Kaplan–Meier product-limit survival (Kaplan & Meier, JASA 1958) —
  * the censoring-correct lifetime curve the naive retention table
  * (q_e_retention) cannot give: users still active at the observation
  * edge haven't churned, they're CENSORED, and treating them as deaths
  * biases every lifetime estimate down. KM at each death time t takes
  * S(t) = Π (1 − d_i/n_i) over death times ≤ t, with censored users
  * leaving the risk set without contributing a death.
  *
  * Cross-engine determinism: lifetimes, death/censor counts, and
  * at-risk counts are exact integers. The product decomposes through
  * logs: each death time contributes `floor(1e6·ln((n_i−d_i)/n_i))`
  * (ln of an exact-integer ratio — an identical literal tree, rule 2),
  * the cumulative log-survival is an ORDER-FREE integer sum, and the
  * displayed S is floor(1e6·exp(lnS/1e6)) — exp of an identical
  * integer-derived double (the DoReMi exp precedent). A time where the
  * whole risk set dies (n_i = d_i) sends S to exactly 0 from there on
  * (ln is undefined; the flag propagates) — handled explicitly, not by
  * a float infinity.
  *
  * Scale shape: ONE groupBy(user) collapse is the data pass (the
  * q_m48_cuped shape); the lifetime table aggregates to DISTINCT
  * lifetimes (≤ observation window in days); the KM recursion is a
  * cumulative window over those cells. The censor cutoff derives from
  * the global max timestamp via a 1-row broadcast. */
object Survival {

  /** KM curve over per-subject (duration, event) rows — `eventCol` 1 =
    * death observed, 0 = censored. Output per death time: (t, n_risk,
    * d, n_censored_at_t, ln_s_micro — null once S hits exact 0,
    * surv_micro). */
  def kaplanMeier(subjects: DataFrame, durCol: String, eventCol: String)
      : DataFrame = {
    val cells = subjects.groupBy(col(durCol).cast("long").as("t"))
      .agg(sum(when(col(eventCol) === 1, 1L).otherwise(0L)).as("d"),
        sum(when(col(eventCol) === 1, 0L).otherwise(1L)).as("cns"))
    // r16 (guide §2.2): both running aggregations formerly funneled the
    // distinct-time cells through single-partition Window.orderBy(t);
    // each is an EXCLUSIVE distributed prefix sum plus the row's own
    // value — identical integers. "zeroed" (has ANY dead-end happened up
    // to t) is the inclusive count of dead-end flags being positive, and
    // the ln-S sum only reads rows before any dead end, where every term
    // is non-null — so the null-skipping window sum equals the
    // null-as-0 prefix sum there.
    // the subject total is the core's grand total of d + cns
    val (running, totals, _) = graft.etl.GlobalIndex.withGlobalRunning(
      cells, Seq(col("t")), Seq((col("d") + col("cns")) -> "left_thru"))
    val risk = running
      .withColumn("n_risk", lit(totals(0)) - col("left_thru"))
    // per-death-time log term; a full-risk-set death (n = d) zeroes S
    val terms = risk.filter(col("d") > 0)
      .withColumn("dead_end", col("d") === col("n_risk"))
      .withColumn("term", when(!col("dead_end"),
        floor(log((col("n_risk") - col("d")).cast("double") /
          col("n_risk").cast("double")) * lit(1e6)).cast("long")))
    graft.etl.GlobalIndex.withGlobalRunning(
        terms, Seq(col("t")),
        Seq(col("dead_end").cast("long") -> "__xz", col("term") -> "__xt"))._1
      .withColumn("zeroed",
        (col("__xz") + col("dead_end").cast("long")) >= 1)
      .withColumn("ln_s_micro",
        when(!col("zeroed"), col("__xt") + col("term")))
      .select(col("t"), col("n_risk"), col("d"),
        col("cns").as("n_censored_at_t"), col("ln_s_micro"),
        when(col("zeroed"), 0L).otherwise(
          floor(exp(col("ln_s_micro").cast("double") / lit(1e6))
            * lit(1e6)).cast("long")).as("surv_micro"))
  }

  /** q_m52_km: time-to-next-activity survival — each event is a
    * subject whose duration is the WHOLE HOURS until the same user's
    * next event; a user's last event is CENSORED at the observation
    * edge (the gap is still running when the data ends). The classic
    * inter-purchase-time curve, censoring-correct where a naive gap
    * histogram silently drops every still-open gap. */
  private val mKm = Q(
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
          expr("""(coalesce(next_us, max_us) - us) div 3600000000L""")
            .as("dur"),
          when(col("next_us").isNotNull, 1L).otherwise(0L).as("event"))
      kaplanMeier(subj, "dur", "event").orderBy("t")
    },
    Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us
              FROM events),
            nxt AS (SELECT us, lead(us) OVER (PARTITION BY user_id
                ORDER BY us, event_id) AS next_us
              FROM ev),
            edge AS (SELECT MAX(us) AS max_us FROM ev),
            subj AS (SELECT
                (COALESCE(next_us, edge.max_us) - us) // 3600000000 AS dur,
                CASE WHEN next_us IS NOT NULL THEN 1 ELSE 0 END AS event
              FROM nxt CROSS JOIN edge),
            cells AS (SELECT CAST(dur AS BIGINT) AS t,
                CAST(SUM(CASE WHEN event = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS d,
                CAST(SUM(CASE WHEN event = 1 THEN 0 ELSE 1 END) AS BIGINT)
                  AS cns
              FROM subj GROUP BY 1),
            tot AS (SELECT CAST(SUM(d + cns) AS BIGINT) AS n FROM cells),
            risk AS (SELECT cells.*, tot.n,
                CAST(SUM(d + cns) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) - (d + cns) AS left_thru
              FROM cells CROSS JOIN tot),
            terms AS (SELECT t, n - left_thru AS n_risk, d, cns,
                (d = n - left_thru) AS dead_end,
                CASE WHEN d <> n - left_thru THEN
                  CAST(FLOOR(ln(CAST((n - left_thru) - d AS DOUBLE)
                    / CAST(n - left_thru AS DOUBLE)) * 1000000.0)
                    AS BIGINT) END AS term
              FROM risk WHERE d > 0),
            km AS (SELECT t, n_risk, d, cns,
                MAX(CASE WHEN dead_end THEN 1 ELSE 0 END) OVER wc AS zeroed,
                CAST(SUM(term) OVER wc AS BIGINT) AS lns
              FROM terms
              WINDOW wc AS (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            SELECT t, n_risk, d, cns AS n_censored_at_t,
              CASE WHEN zeroed = 0 THEN lns END AS ln_s_micro,
              CASE WHEN zeroed = 1 THEN 0
                   ELSE CAST(FLOOR(EXP(CAST(lns AS DOUBLE) / 1000000.0)
                     * 1000000.0) AS BIGINT) END AS surv_micro
            FROM km ORDER BY t"""))

  val queries: Map[String, Q] = Map("q_m52_km" -> mKm)
}
