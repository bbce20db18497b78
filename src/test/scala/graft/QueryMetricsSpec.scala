package graft

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

class QueryMetricsSpec extends SparkSpecBase {

  /** Job-start, stage-completed and task-end events, counted raw. */
  private final class Raw extends SparkListener {
    private var jobs, stages, tasks = 0
    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized(jobs += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized(stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      synchronized(tasks += 1)
    def counts: (Int, Int, Int) = synchronized((jobs, stages, tasks))
  }

  /** The record of `body` and the raw event counts of the same run. */
  private def recordAndRaw(body: => Unit): (QueryMetrics.Record, (Int, Int, Int)) = {
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    val raw = new Raw
    sc.addSparkListener(raw)
    try {
      val (_, rec) = QueryMetrics.measure(spark)(body)
      ListenerBridge.drain(sc)
      (rec, raw.counts)
    } finally sc.removeSparkListener(raw)
  }

  /** A fixed shuffle plan: eight scan partitions, grouped by a key. */
  private def shuffleQuery(): Unit =
    spark.range(0, 20000, 1, 8).groupBy(col("id") % 7).count()
      .write.format("noop").mode("overwrite").save()

  test("the record counts the raw listener events of a shuffle plan") {
    val (rec, raw) = recordAndRaw(shuffleQuery())
    assert((rec.jobs, rec.stages, rec.tasks) === raw)
    assert(rec.stages >= 2 && rec.tasks >= 8, rec)
    assert(rec.shuffleMb > 0, rec)
    assert(rec.taskSkew >= 1.0, rec)
  }

  test("two consecutive queries do not share records") {
    val (first, raw1) = recordAndRaw(shuffleQuery())
    val (second, raw2) = recordAndRaw(spark.range(0, 10, 1, 1).collect())
    assert((first.jobs, first.stages, first.tasks) === raw1)
    assert((second.jobs, second.stages, second.tasks) === raw2)
    assert(raw2 === ((1, 1, 1)))
    assert(second.shuffleMb === 0.0)
  }
}
