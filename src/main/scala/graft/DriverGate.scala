package graft

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.graftbridge.RowProbe

/** The one measured-size gate of the "collect it and fold on the driver"
  * fast paths (GlobalIndex with FdrSweep and Wasserstein, DupClusters,
  * DawidSkene, QualityClassifier, BpeMerge): `Some(rows)` → the caller's
  * driver fold, `None` → its distributed plan (the parity reference, and
  * what a 100 TB run takes).
  *
  * Probe: one uncached pass in one SQL execution (`graftbridge.RowProbe`),
  * reading one wave of partitions first (`defaultParallelism`, capped at
  * `spark.sql.limit.scaleUpFactor` and at least
  * `spark.sql.limit.initialNumPartitions`), then `executeTake`'s
  * increments; each task ships rows only while it stays within the
  * remaining budgets — at most `maxRows` rows (each caller's constant) AND
  * at most `spark.sql.autoBroadcastJoinThreshold` UnsafeRow bytes (a
  * negative threshold disables the driver paths) — so an input past
  * either costs about one wave's read, and an input under both with no
  * more partitions than that first round is read in one round. The cap
  * bounds what the first round ships before its sum is checked to
  * `scaleUpFactor` budgets, whatever the core count. With `order`, the
  * rows come back sorted by Catalyst's ordering of `df.orderBy(order)`
  * (nulls, NaN, -0.0, strings and binary compare as in Spark); it must be
  * a TOTAL order for a fold to match its distributed plan row for row,
  * since ties come back in arbitrary order. [[ForceDistributedConf]]
  * skips every gate without a job. Each decision logs `op=…
  * path=driver|distributed|forced rows=… bytes=… rounds=…` (what the
  * probe read, in how many jobs) at INFO on logger `graft.gate`, and is
  * posted to the listener bus as a [[Decision]], which [[QueryMetrics]]
  * records per query.
  */
object DriverGate {

  /** Session conf (default false; a `-D` system property sets it too):
    * `true` skips every gate — ExplainAudit and the ranged re-run specs
    * check the distributed plans with it. */
  val ForceDistributedConf = "spark.graft.gate.forceDistributed"

  /** One gate decision: the caller's op, the path taken
    * (`driver|distributed|forced`), and the rows, bytes and rounds the
    * probe read (all 0 when forced). */
  final case class Decision(op: String, path: String, rows: Long,
      bytes: Long, rounds: Int) extends SparkListenerEvent {
    override def toString: String =
      s"op=$op path=$path rows=$rows bytes=$bytes rounds=$rounds"
  }

  private val log = org.slf4j.LoggerFactory.getLogger("graft.gate")

  /** All rows of `df` (sorted by `order` when given) if it fits both
    * budgets; None — run the distributed plan — otherwise. */
  def rows(op: String, df: DataFrame, maxRows: Long,
      order: Seq[Column] = Nil): Option[Array[Row]] = {
    val forced = df.sparkSession.conf.getOption(ForceDistributedConf)
      .exists(_.trim.toBoolean)
    val p = if (forced) RowProbe.Probe(None, 0, 0, 0)
      else RowProbe(df, maxRows, order)
    val path = if (forced) "forced"
      else if (p.rows.isDefined) "driver" else "distributed"
    val d = Decision(op, path, p.seenRows, p.seenBytes, p.rounds)
    log.info(d.toString)
    ListenerBridge.post(df.sparkSession.sparkContext, d)
    p.rows
  }
}
