package graft.stats

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranking-quality metrics for a scalar score against a binary label —
  * ROC-AUC via the rank-sum identity and the classic decile
  * gains/lift table. The curation use: every cheap quality signal
  * (length, perplexity bucket, classifier margin) is ultimately a
  * RANKER over documents; before gating on it, measure how well it
  * orders the positives (AUC) and how concentrated the positives are
  * in its top deciles (gains). Complements q_t_calibration (is the
  * score's VALUE honest?) with "is the score's ORDER useful?" —
  * different failure modes: a miscalibrated score can rank perfectly,
  * a calibrated one can rank barely above chance.
  *
  * AUC = P(score⁺ > score⁻) + ½P(tie) is exactly the Mann–Whitney
  * statistic: AUC = U/(n₁·n₀), so it reuses [[TwoSample.mannWhitney]]'s
  * exact doubled-rank machinery — `auc_micro = u2·1e6 div (2·n₁·n₀)`,
  * pure integers end to end (NUMERIC_CONVENTION rule 1), tie-exact,
  * and ONE map-side value-counts pass over the data.
  *
  * Gains ranks rows by (score desc, id asc) — the id tiebreak makes the
  * order total, so deciles are deterministic on any engine. The global
  * rank is assembled WITHOUT a single-partition window:
  * `rank = (# rows with strictly higher score) + (row_number within the
  * tied score, by id)`; the first term is a cumulative over the
  * DISTINCT-SCORE counts table (value-cardinality-sized, the
  * TwoSample convention), the second a window partitioned BY SCORE —
  * both scale. Capture and lift are integer cross-multiplications. */
object RocAuc {

  /** One-row AUC summary: (n_pos, n_neg, u2, auc_micro) — u2 = 2·U of
    * the positive sample (doubled so tied average ranks stay integral).
    * auc_micro = floor(AUC·1e6). */
  def auc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    TwoSample.mannWhitney(
      df.select(lit("auc").as("__var"),
        when(col(labelCol), lit("a")).otherwise(lit("b")).as("__g"),
        col(scoreCol).as("__s")),
      "__var", "__g", "__s")
      .select(col("na").as("n_pos"), col("nb").as("n_neg"), col("u2"),
        expr("""cast((cast(u2 as decimal(38,0)) * 1000000)
                div (cast(na as decimal(38,0)) * nb * 2) as long)""")
          .as("auc_micro"))

  /** Decile gains/lift table over (id, score, label): one row per
    * decile 0..9 ranked best-score-first, with within-decile and
    * cumulative positive counts, cumulative capture rate
    * (`cum_pos/total_pos` in micro) and cumulative lift
    * (`(cum_pos/cum_rows)/(total_pos/n)` in micro). */
  def gainsTable(df: DataFrame, idCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    val rows = df.select(col(idCol).as("__id"), col(scoreCol).as("__s"),
      when(col(labelCol), 1L).otherwise(0L).as("__y"))
    // distinct-score counts + exclusive cumulative of STRICTLY higher
    // scores: a window over the value table, never over rows
    val cnt = rows.groupBy("__s")
      .agg(count(lit(1)).as("c"), sum("__y").as("p"))
    // r16 (guide §2.2): "strictly higher" is the EXCLUSIVE prefix sum in
    // descending score order — the distributed two-pass scheme replaces
    // the former single-partition Window.orderBy(desc) funnel
    val (running, totals, _) = graft.etl.GlobalIndex.withGlobalRunning(
      cnt, Seq(col("__s").desc), Seq(col("c") -> "above", col("p") -> "__p"))
    val above = running.select("__s", "above")
    // the row count and the positives are the core's grand totals of the
    // score cells
    val n = totals(0)
    val tp = totals(1)
    val ranked = rows
      .withColumn("rn", row_number().over(
        Window.partitionBy("__s").orderBy("__id")).cast("long"))
      .join(broadcast(above), Seq("__s"))
      .withColumn("decile",
        expr(s"(above + rn - 1) * 10 div ${n}L").cast("long"))
    // the remaining global windows run over the DECILE frame - exactly
    // 10 rows by construction (bounded; r16 window audit)
    ranked.groupBy("decile")
      .agg(count(lit(1)).as("n_rows"), sum("__y").as("n_pos"))
      .withColumn("cum_rows", sum("n_rows").over(Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_pos", sum("n_pos").over(Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile"), col("n_rows"), col("n_pos"),
        col("cum_rows"), col("cum_pos"),
        (if (tp == 0) lit(null).cast("long")
         else expr(s"cum_pos * 1000000L div ${tp}L")).as("capture_micro"),
        (if (tp == 0) lit(null).cast("long")
         else expr(s"""cast((cast(cum_pos as decimal(38,0)) * ${n}L * 1000000)
                div (cast(cum_rows as decimal(38,0)) * ${tp}L) as long)"""))
          .as("lift_micro"))
  }

  // ---- registered fixtures: document length as a ranker for the
  // lexical quality gate (≥ 40 whitespace words — the q_m45 rater) ----

  private def labeled(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d).select(col("doc_id"),
      col("n_chars").cast("long").as("score"),
      (size(filter(split(col("text"), " "), t => t =!= lit(""))) >= 40)
        .as("label"))

  private val labeledSql =
    """SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
         len(list_filter(string_split(text, ' '), x -> x <> '')) >= 40
           AS label
       FROM documents"""

  /** q_m56_auc: AUC of raw document length predicting the 40-word
    * lexical gate. The oracle recomputes the doubled rank-sum exactly
    * (the q_m39_mwu tree) and the same integral division. */
  private val mAuc = Q(
    (s, d) => auc(labeled(s, d), "score", "label"),
    Some(s"""WITH l AS ($labeledSql),
            cnt AS (SELECT score AS v,
                CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
                  AS ca,
                CAST(SUM(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT)
                  AS cb
              FROM l GROUP BY score),
            cum AS (SELECT v, ca, cb, ca + cb AS c,
                CAST(SUM(ca + cb) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) - (ca + cb) AS cumx
              FROM cnt),
            agg AS (SELECT
                SUM(CAST(ca AS HUGEINT) * (cumx * 2 + c + 1)) AS r2a,
                CAST(SUM(ca) AS HUGEINT) AS na,
                CAST(SUM(cb) AS HUGEINT) AS nb
              FROM cum)
            SELECT CAST(na AS BIGINT) AS n_pos, CAST(nb AS BIGINT) AS n_neg,
              CAST(r2a - na * (na + 1) AS BIGINT) AS u2,
              CAST(((r2a - na * (na + 1)) * 1000000) // (na * nb * 2)
                AS BIGINT) AS auc_micro
            FROM agg"""))

  /** q_m57_gains: the decile gains/lift table for the same ranker. The
    * oracle uses a direct row_number over (score desc, doc_id) — equal
    * by construction to the counts-assembled distributed rank. */
  private val mGains = Q(
    (s, d) => gainsTable(labeled(s, d), "doc_id", "score", "label")
      .orderBy("decile"),
    Some(s"""WITH l AS ($labeledSql),
            r AS (SELECT doc_id, score,
                CASE WHEN label THEN 1 ELSE 0 END AS y,
                row_number() OVER (ORDER BY score DESC, doc_id) AS rn,
                CAST(COUNT(*) OVER () AS BIGINT) AS n
              FROM l),
            d AS (SELECT (rn - 1) * 10 // n AS decile,
                CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(SUM(y) AS BIGINT) AS n_pos, MAX(n) AS n
              FROM r GROUP BY 1),
            c AS (SELECT decile, n_rows, n_pos, n,
                CAST(SUM(n_rows) OVER (ORDER BY decile
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_rows,
                CAST(SUM(n_pos) OVER (ORDER BY decile
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_pos,
                CAST(SUM(n_pos) OVER () AS BIGINT) AS tp
              FROM d)
            SELECT decile, n_rows, n_pos, cum_rows, cum_pos,
              CASE WHEN tp = 0 THEN NULL
                ELSE cum_pos * 1000000 // tp END AS capture_micro,
              CASE WHEN tp = 0 THEN NULL
                ELSE CAST((CAST(cum_pos AS HUGEINT) * n * 1000000)
                  // (CAST(cum_rows AS HUGEINT) * tp) AS BIGINT)
              END AS lift_micro
            FROM c ORDER BY decile"""))

  val queries: Map[String, Q] = Map(
    "q_m56_auc" -> mAuc, "q_m57_gains" -> mGains)
}
