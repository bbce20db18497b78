package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.graftbridge.RowProbe

/** The one measured-size gate of the "collect it and fold on the driver"
  * fast paths (GlobalIndex with FdrSweep and Wasserstein, DupClusters,
  * DawidSkene, QualityClassifier, BpeMerge): `Some(rows)` → the caller's
  * driver fold, `None` → its distributed plan (the parity reference, and
  * what a 100 TB run takes).
  *
  * Probe: one uncached pass in one SQL execution (`graftbridge.RowProbe`),
  * reading partitions in `executeTake`'s increments; each task ships rows
  * only while it stays within the remaining budgets — at most `maxRows`
  * rows (each caller's constant) AND at most
  * `spark.sql.autoBroadcastJoinThreshold` UnsafeRow bytes (a negative
  * threshold disables the driver paths) — so an input past either costs
  * about one partition's read. With `order`, the rows come back sorted by
  * Catalyst's ordering of `df.orderBy(order)` (nulls, NaN, -0.0, strings
  * and binary compare as in Spark); it must be a TOTAL order for a fold to
  * match its distributed plan row for row, since ties come back in
  * arbitrary order. [[ForceDistributedConf]] skips every gate without a
  * job. Each decision logs `op=… path=driver|distributed|forced rows=…
  * bytes=…` (what the probe read) at INFO on logger `graft.gate`.
  */
object DriverGate {

  /** Session conf (default false; a `-D` system property sets it too):
    * `true` skips every gate — ExplainAudit and the ranged re-run specs
    * check the distributed plans with it. */
  val ForceDistributedConf = "spark.graft.gate.forceDistributed"

  private val log = org.slf4j.LoggerFactory.getLogger("graft.gate")

  /** All rows of `df` (sorted by `order` when given) if it fits both
    * budgets; None — run the distributed plan — otherwise. */
  def rows(op: String, df: DataFrame, maxRows: Long,
      order: Seq[Column] = Nil): Option[Array[Row]] = {
    if (df.sparkSession.conf.getOption(ForceDistributedConf)
        .exists(_.trim.toBoolean)) {
      log.info(s"op=$op path=forced rows=- bytes=-")
      return None
    }
    val p = RowProbe(df, maxRows, order)
    val path = if (p.rows.isDefined) "driver" else "distributed"
    log.info(s"op=$op path=$path rows=${p.seenRows} bytes=${p.seenBytes}")
    p.rows
  }
}
