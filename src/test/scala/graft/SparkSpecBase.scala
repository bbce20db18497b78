package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for Spark-backed suites (one JVM-wide session —
  * getOrCreate dedups across suites run in the same forked test JVM). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(cores = 4)

  lazy val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with every [[graft.DriverGate]] skipped
    * (`forceDistributed = true`: the distributed plans that run at scale)
    * or taken (`false`, the default), restoring the session conf after. */
  def withGate[T](forceDistributed: Boolean)(body: => T): T = {
    val key = graft.DriverGate.ForceDistributedConf
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, forceDistributed.toString)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body` on both sides of the gate: (driver path, ranged path). */
  def bothGateModes[T](body: => T): (T, T) = {
    val onDriver = withGate(forceDistributed = false)(body)
    spark.catalog.clearCache()
    val ranged = withGate(forceDistributed = true)(body)
    spark.catalog.clearCache()
    (onDriver, ranged)
  }
}
