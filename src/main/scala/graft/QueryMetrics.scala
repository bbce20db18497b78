package graft

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Listener behind [[QueryMetrics.measure]]: counts the jobs, completed
  * stages and ended tasks it hears of, sums their task metrics, and keeps
  * the [[DriverGate.Decision]]s posted meanwhile. */
final class QueryMetrics private () extends SparkListener {
  private var jobs = 0
  private var stages = 0
  private var tasks = 0
  private var runMs = 0L
  private var gcMs = 0L
  private var shuffleBytes = 0L
  private var spillBytes = 0L
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val gates = mutable.ArrayBuffer.empty[DriverGate.Decision]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized(jobs += 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(stages += 1)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case d: DriverGate.Decision => synchronized(gates += d)
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  private def record: QueryMetrics.Record = synchronized {
    def median(xs: Seq[Long]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2).toDouble
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val skews = taskMs.values.filter(_.size >= 2)
      .map(ms => ms.max / math.max(1.0, median(ms.toSeq)))
    QueryMetrics.Record(jobs, stages, tasks, runMs / 1e3, gcMs / 1e3,
      shuffleBytes / 1e6, spillBytes / 1e6,
      if (skews.isEmpty) 1.0 else skews.max, gates.toList)
  }
}

object QueryMetrics {

  /** What one query cost in Spark: jobs, stages and tasks run, executor
    * run and GC seconds, shuffle MB (read + written) and spill MB (memory
    * + disk), task skew — the slowest task over the median task of its
    * stage, for the most skewed stage of two or more tasks — and its
    * driver-gate decisions in the order they were taken. */
  final case class Record(jobs: Int, stages: Int, tasks: Int,
      executorS: Double, gcS: Double, shuffleMb: Double, spillMb: Double,
      taskSkew: Double, gates: Seq[DriverGate.Decision]) {
    override def toString: String =
      f"jobs $jobs stages $stages tasks $tasks exec $executorS%.2f s " +
        f"gc $gcS%.2f s shuffle $shuffleMb%.2f MB spill $spillMb%.2f MB " +
        f"skew $taskSkew%.1f gates ${gates.size}"
  }

  /** `body`'s result and the record of the Spark work it ran. The listener
    * bus is drained before the listener joins and again before it is
    * read, so the record holds the events of `body`'s jobs and no others
    * — provided nothing else runs jobs on the context meanwhile. */
  def measure[T](spark: SparkSession)(body: => T): (T, Record) = {
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    val l = new QueryMetrics
    sc.addSparkListener(l)
    try {
      val out = body
      ListenerBridge.drain(sc)
      (out, l.record)
    } finally sc.removeSparkListener(l)
  }
}
