package graft.etl

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embargoed temporal split — leakage-safe train/test separation for
  * time-series learning (the purge/embargo construction of de Prado,
  * "Advances in Financial Machine Learning" ch.7, and every serious
  * forecasting eval): a plain time cut leaks when features aggregate
  * trailing windows (a train row just before the cut summarizes data
  * the test period also sees), so rows inside `embargo` BEFORE the
  * boundary are PURGED — in neither side. The boundary itself derives
  * from the data as the exact nearest-rank `frac`-quantile of the
  * event times, so callers say "first 70 %" and get a deterministic
  * timestamp, not a hand-picked date.
  *
  * Exactness: the boundary is an order statistic over (second,
  * count) cells (the q_a11 nearest-rank convention — no
  * interpolation; SECOND granularity deliberately, see below), role
  * assignment is pure integer comparison, and the report is one
  * keyed aggregation — every number replays in SQL. Reported
  * t_min/t_max stay exact epoch micros (unix_micros ↔ epoch_us, the
  * Survival/Scd convention).
  *
  * Scale shape: the boundary quantile runs over DISTINCT-SECOND
  * cells — calendar-bounded however many events arrive (micros cells
  * would be row-scale and turn the cumulative window into a global
  * row sort); role labeling is a broadcast 1-row attach inside the
  * scan stage; the report is one (group, role) aggregation. */
object TemporalSplit {

  /** Per-(groupCol, role) split report over `tsCol`: roles are
    * "train" (ts ≤ boundary − embargo), "purged" (inside the
    * embargo), "test" (ts > boundary), with the boundary = exact
    * nearest-rank `fracPct`%-quantile of epoch micros. Output:
    * (group, role, n, t_min_us, t_max_us, boundary_us). */
  def embargoSplitReport(df: DataFrame, groupCol: String, tsCol: String,
      fracPct: Int, embargoSec: Long): DataFrame = {
    require(fracPct >= 1 && fracPct <= 99, "fracPct in [1, 99]")
    require(embargoSec >= 0)
    val base = df.select(col(groupCol).as("grp"),
      expr(s"unix_micros($tsCol)").as("us"))
      .withColumn("sec", expr("us div 1000000"))
    val cells = base.groupBy("sec").agg(count(lit(1)).as("c"))
    // r16 (guide §2.2): the cumulative count formerly ran through a
    // single-partition `Window.orderBy(sec)` — one row per distinct
    // SECOND, i.e. 31M single-partition rows for a year of events. The
    // distributed prefix sum (exclusive) + the cell's own count is the
    // identical inclusive integer cumsum, range-partitioned; the row
    // total is the core's grand total.
    val (cx, totals, _) = GlobalIndex.withGlobalRunning(
      cells, Seq(col("sec")), Seq(col("c") -> "cx"))
    val cum = cx.withColumn("cum", col("cx") + col("c"))
    // nearest-rank: smallest second with cum >= ceil(n * pct / 100)
    val boundary = cum
      .filter(col("cum") * 100 >= lit(totals(0)) * fracPct)
      .agg(min("sec").as("boundary_sec"))
    base.join(broadcast(boundary))
      .withColumn("role",
        when(col("sec") > col("boundary_sec"), "test")
          .when(col("sec") <= col("boundary_sec") - embargoSec, "train")
          .otherwise("purged"))
      .groupBy(col("grp").as(groupCol), col("role"))
      .agg(count(lit(1)).as("n"), min("us").as("t_min_us"),
        max("us").as("t_max_us"), max("boundary_sec").as("boundary_sec"))
      .orderBy(groupCol, "role")
  }

  /** q_e_embargo_split: the events table split 70/30 per event type
    * with a 1-day embargo; the oracle replays the nearest-rank
    * boundary, the purge band, and every per-role count. */
  private val eSplit = Q(
    (s, d) => embargoSplitReport(Tables.events(s, d), "event_type", "ts",
      fracPct = 70, embargoSec = 86400L),
    Some("""WITH base AS (SELECT event_type AS grp,
                epoch_us(ts) AS us, epoch_us(ts) // 1000000 AS sec
              FROM events),
            cells AS (SELECT sec, CAST(COUNT(*) AS BIGINT) AS c
              FROM base GROUP BY 1),
            tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
            cum AS (SELECT sec, SUM(c) OVER (ORDER BY sec) AS cum
              FROM cells),
            b AS (SELECT CAST(MIN(sec) AS BIGINT) AS boundary_sec
              FROM cum, tot WHERE cum * 100 >= n * 70),
            lab AS (SELECT base.grp,
                CASE WHEN base.sec > b.boundary_sec THEN 'test'
                     WHEN base.sec <= b.boundary_sec - 86400 THEN 'train'
                     ELSE 'purged' END AS role,
                base.us, b.boundary_sec
              FROM base, b)
            SELECT grp AS event_type, role,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(MIN(us) AS BIGINT) AS t_min_us,
              CAST(MAX(us) AS BIGINT) AS t_max_us,
              CAST(MAX(boundary_sec) AS BIGINT) AS boundary_sec
            FROM lab GROUP BY 1, 2
            ORDER BY event_type, role"""))

  val queries: Map[String, Q] = Map("q_e_embargo_split" -> eSplit)
}
