package graft.stats

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Quantile mapping (rank matching / histogram equalization between two
  * samples) — the REMEDIATION half of the drift family: [[TwoSample]]
  * detects that a slice's distribution moved; this builds the exact
  * monotone transform that maps the slice back onto the reference
  * (each sample value goes to the reference value at the same quantile
  * — the classic quantile-normalization move, CDF⁻¹∘CDF with
  * nearest-rank semantics). Emitted as a mapping TABLE over the
  * sample's distinct values, which downstream rewrites then apply by
  * broadcast join.
  *
  * Scale shape: both sides collapse to (value, count) in one map-side
  * pass each; cumulative ranks ride the two-pass distributed prefix sum
  * ([[graft.etl.GlobalIndex]] — no global-order window); the rank→value
  * lookup is a BROADCAST interval join against the reference's cum
  * table (distinct-value-sized — bounded for the quantized metrics
  * drift monitoring watches; at extreme cardinality swap the broadcast
  * for a range-partitioned join, the mapping algebra unchanged).
  *
  * Cross-engine determinism: everything is integer — counts, inclusive
  * cum ranks, the cross-multiplied ceil rank `⌈cumA·nb/na⌉` by integer
  * arithmetic, and the mapped value is an actual reference value. No
  * float appears anywhere. */
object QuantileMap {

  /** Map `sample`'s distinct values onto `ref`'s distribution. Output:
    * (v, n, rank_ref, mapped) — v each distinct sample value, n its
    * sample count, rank_ref the matched 1-based reference rank, mapped
    * the reference value at that rank. */
  def quantileMap(sample: DataFrame, valCol: String, ref: DataFrame,
      refValCol: String): DataFrame = {
    // (cum table, sample size): the size is the core's grand total
    def cumCounts(df: DataFrame, c: String): (DataFrame, Long) = {
      val cnt = df.groupBy(col(c).as("v")).agg(count(lit(1)).as("c"))
      val (cx, totals, _) = graft.etl.GlobalIndex
        .withGlobalRunning(cnt, Seq(col("v")), Seq(col("c") -> "cx"))
      (cx.withColumn("cum", col("cx") + col("c")).drop("cx"), totals(0))
    }
    val (a, na) = cumCounts(sample, valCol)
    val (b, nb) = cumCounts(ref, refValCol)
    a.withColumn("rank_ref",
        expr(s"(cum * ${nb}L + ${na}L - 1) div ${na}L"))
      .join(broadcast(b.select(col("v").as("bv"),
          (col("cum") - col("c")).as("blo"), col("cum").as("bhi"))),
        col("rank_ref") > col("blo") && col("rank_ref") <= col("bhi"))
      .select(col("v"), col("c").as("n"), col("rank_ref"),
        col("bv").as("mapped"))
  }

  private val mQmap = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      quantileMap(docs.filter(col("lang") === "zh"), "n_chars",
        docs.filter(col("lang") === "en"), "n_chars")
        .orderBy("v")
    },
    Some("""WITH a0 AS (SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
              FROM documents WHERE lang = 'zh' GROUP BY 1),
            ac AS (SELECT v, c, CAST(SUM(c) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum FROM a0),
            b0 AS (SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
              FROM documents WHERE lang = 'en' GROUP BY 1),
            bc AS (SELECT v, c, CAST(SUM(c) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum FROM b0),
            tot AS (SELECT CAST((SELECT SUM(c) FROM a0) AS BIGINT) AS na,
                           CAST((SELECT SUM(c) FROM b0) AS BIGINT) AS nb)
            SELECT ac.v, ac.c AS n,
                   CAST((ac.cum * tot.nb + tot.na - 1) // tot.na
                     AS BIGINT) AS rank_ref,
                   bc.v AS mapped
            FROM ac CROSS JOIN tot
            JOIN bc ON (ac.cum * tot.nb + tot.na - 1) // tot.na
                         > bc.cum - bc.c
                   AND (ac.cum * tot.nb + tot.na - 1) // tot.na <= bc.cum
            ORDER BY ac.v"""))

  val queries: Map[String, Q] = Map("q_m43_quantile_map" -> mQmap)
}
