package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** A benchmark-owned span: one call the harness makes into a layer. */
final case class Span(name: String, start: Long, end: Long, depth: Int,
    attributeInside: Boolean)

/** Span recorder for the harness's own calls. Spans nest by call depth;
  * a span opened with `attributeInside` hands each job that starts inside
  * it to the innermost engine frame of the job's call site instead of
  * keeping it (see [[Attribution]]). Timestamps are wall-clock millis, the
  * clock Spark stamps its listener events with. */
final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var depth = 0
  @volatile var enabled = false

  def apply[A](name: String, attributeInside: Boolean = false)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.currentTimeMillis()
      depth += 1
      try body
      finally {
        depth -= 1
        done += Span(name, t0, System.currentTimeMillis(), depth,
          attributeInside)
      }
    }

  def all: Seq[Span] = done.toSeq
  def clear(): Unit = done.clear()
}

final case class JobRec(id: Int, submit: Long, var end: Long,
    execId: Option[Long], stageIds: Seq[Int], stageDetails: String)

final case class StageRec(id: Int, var tasks: Int = 0,
    var runMs: Long = 0, var gcMs: Long = 0,
    var shuffleBytes: Long = 0, var spillBytes: Long = 0,
    taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty)

/** Benchmark-owned SparkListener: jobs with their call sites, stages with
  * their task metrics. Holds everything in memory; the harness reads it
  * after the listener bus has drained. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val execDetails = mutable.HashMap.empty[Long, String]
  val completedStages = mutable.LinkedHashSet.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val details = e.stageInfos.sortBy(_.stageId).headOption
      .map(_.details).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, e.time, e.time, exec,
      e.stageIds, details)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      completedStages += e.stageInfo.stageId
      stages.getOrElseUpdate(e.stageInfo.stageId, StageRec(e.stageInfo.stageId))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, StageRec(e.stageId))
    val m = e.taskMetrics
    s.tasks += 1
    if (m != null) {
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.taskMs += m.executorRunTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execDetails(s.executionId) = s.details }
    case _ =>
  }
}

/** Maps each job to a layer span.
  *
  * A job that starts inside a plain harness span belongs to that span. A
  * job that starts inside a span opened with `attributeInside` (a call into
  * a whole pipeline) belongs to the innermost engine frame of its call
  * site: the SQL execution's call site when the job has one (AQE submits
  * stages from pool threads whose own stack shows no engine code), else
  * the call site of the job's first stage. The first frame, innermost
  * first, that matches a named rule wins; failing that the innermost
  * `graft.<module>.<Class>` frame names the span `<module>.<Class>`. A job
  * with no engine frame, or outside every span, is unattributed. */
object Attribution {

  /** (frame prefix, span) rules, checked innermost frame first. */
  val Rules: Seq[(String, String)] = Seq(
    "graft.text.TextOps$.cleanText" -> "text.cleanText",
    "graft.text.TextOps$.qualityFeatures" -> "text.qualityFeatures",
    "graft.dedup.DedupOps$.exactDedup" -> "dedup.exactDedup",
    "graft.dedup.DedupOps$.simhashPairs" -> "dedup.simhashPairs",
    "graft.dedup.DedupOps$.editVerify" -> "dedup.editVerify",
    "graft.dedup.DedupOps$.decontaminate" -> "dedup.decontaminate",
    "graft.dedup.DupClusters$" -> "dedup.DupClusters",
    "graft.etl.DataMix$" -> "etl.DataMix",
    "graft.etl.Cleaning$" -> "etl.Cleaning",
    "graft.cluster.KMeansSearch$" -> "cluster.KMeansSearch",
    "graft.cluster.KModes$" -> "cluster.KModes",
    "graft.cluster.RulesBased$" -> "cluster.RulesBased",
    "graft.cluster.LatentClassEM$" -> "cluster.LatentClassEM",
    "graft.inference.ChiSquaredInference$" -> "inference.ChiSquaredInference",
    "graft.pipeline.SegmentationPipeline$.segmentMetrics" ->
      "metrics.segmentMetrics",
    "graft.pipeline.Sinks$" -> "pipeline.Sinks",
    "graft.pipeline.WorkQueue$" -> "pipeline.WorkQueue")

  private val EngineFrame = """^graft\.([a-z]+)\.([A-Za-z0-9]+)""".r.unanchored

  def frames(callSite: String): Seq[String] =
    callSite.split("\n").map(_.trim.stripPrefix("at ")).toSeq

  def spanOf(callSite: String): Option[String] = {
    val fs = frames(callSite)
    fs.iterator.flatMap(f => Rules.collectFirst {
      case (prefix, span) if f.startsWith(prefix) => span
    }).nextOption().orElse(fs.iterator.collectFirst {
      case EngineFrame(module, cls) => s"$module.$cls"
    })
  }
}

/** Per-layer numbers of the traced passes: each metric per pass, then the
  * median over the traced passes. */
object Layers {
  /** Span around the harness's own untimed work; its jobs are excluded. */
  val Harness = "harness"
  val Unattributed = "unattributed"

  final case class Placed(job: JobRec, span: String, op: Int, site: String)

  private def siteOf(j: JobRec, l: JobListener): String =
    j.execId.flatMap(l.execDetails.get).getOrElse(j.stageDetails)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Length of the union of [a, b] intervals, in seconds. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (a, b) => total += b - a }
    total / 1e3
  }

  def place(p: Main.Pass, l: JobListener): Seq[Placed] =
    l.jobs.values.filter(j => j.submit >= p.start && j.submit <= p.end).toSeq
      .map { j =>
        val inside = p.spans.filter(s => s.start <= j.submit && j.submit <= s.end)
        val site = siteOf(j, l)
        val span =
          if (inside.isEmpty) Unattributed
          else if (inside.exists(_.name == Harness)) Harness
          else {
            val s = inside.maxBy(s => (s.depth, s.start))
            if (!s.attributeInside) s.name
            else Attribution.spanOf(site).getOrElse(Unattributed)
          }
        Placed(j, span, p.ops.indexWhere(o => o.start <= j.submit && j.submit <= o.end),
          site)
      }.filter(_.span != Harness)

  private def ranStages(j: JobRec, l: JobListener): Seq[StageRec] =
    j.stageIds.filter(l.completedStages.contains).flatMap(l.stages.get)

  def perPass(p: Main.Pass, l: JobListener, cores: Int): Map[String, Double] = {
    val placed = place(p, l)
    val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val timed = p.ops.map(_.seconds).filterNot(_.isNaN).sum
    // harness spans: time not covered by child spans and, for spans that
    // hand their jobs on, not covered by those jobs
    p.spans.filter(_.name != Harness).foreach { s =>
      val children = p.spans.filter(c => c.depth == s.depth + 1 &&
        c.start >= s.start && c.end <= s.end).map(c => c.end - c.start).sum
      val handedOn = if (!s.attributeInside) 0.0 else unionSeconds(placed
        .filter(x => x.job.submit >= s.start && x.job.submit <= s.end)
        .map(x => (x.job.submit, math.min(x.job.end, s.end))))
      m(s"${s.name}.self_s") += (s.end - s.start - children) / 1e3 - handedOn
    }
    val handedOnNames = placed.filter { x =>
      val inside = p.spans.filter(s => s.start <= x.job.submit && x.job.submit <= s.end)
      inside.nonEmpty && inside.maxBy(s => (s.depth, s.start)).attributeInside
    }.groupBy(_.span)
    handedOnNames.foreach { case (name, xs) =>
      m(s"$name.self_s") += unionSeconds(xs.map(x => (x.job.submit, x.job.end)))
    }
    placed.groupBy(_.span).foreach { case (name, xs) =>
      val st = xs.flatMap(x => ranStages(x.job, l))
      m(s"$name.jobs") += xs.size
      m(s"$name.exec_run_s") += st.map(_.runMs).sum / 1e3
      m(s"$name.shuffle_mb") += st.map(_.shuffleBytes).sum / 1e6
    }
    val stages = placed.flatMap(x => ranStages(x.job, l))
    val runS = stages.map(_.runMs).sum / 1e3
    val skew = stages.filter(_.taskMs.size >= 2).map { s =>
      s.taskMs.max.toDouble / math.max(1.0, median(s.taskMs.map(_.toDouble).toSeq))
    }
    m("spark.jobs") = placed.size
    m("spark.stages") = stages.size
    m("spark.tasks") = stages.map(_.tasks).sum
    m("spark.gc_s") = stages.map(_.gcMs).sum / 1e3
    m("spark.spill_mb") = stages.map(_.spillBytes).sum / 1e6
    m("spark.shuffle_mb") = stages.map(_.shuffleBytes).sum / 1e6
    m("spark.task_skew") = if (skew.isEmpty) 1.0 else skew.max
    m("spark.core_busy_frac") = if (timed > 0) runS / (timed * cores) else 0.0
    m("driver.self_s") = math.max(0.0,
      timed - unionSeconds(placed.map(x => (x.job.submit, x.job.end))))
    m("unattributed_job_frac") =
      if (placed.isEmpty) 0.0
      else placed.count(_.span == Unattributed).toDouble / placed.size
    m("cached_mb_left") = p.ops.map(_.extras.getOrElse("cached_mb_left", 0.0)
      .asInstanceOf[Double]).foldLeft(0.0)(math.max)
    m.toMap
  }

  def report(passes: Seq[Main.Pass], l: JobListener, cores: Int): Map[String, Double] = {
    val per = passes.map(perPass(_, l, cores))
    per.flatMap(_.keys).distinct.map(k => k -> median(per.map(_.getOrElse(k, 0.0)))).toMap
  }

  /** Every traced pass's spans and jobs, for the spans file. */
  def dump(passes: Seq[Main.Pass], l: JobListener): Map[String, Any] = Map(
    "passes" -> passes.map { p =>
      val placed = place(p, l)
      Map(
        "index" -> p.index,
        "spans" -> p.spans.map(s => Map("name" -> s.name, "start" -> s.start,
          "end" -> s.end, "depth" -> s.depth)),
        "ops" -> p.ops.zipWithIndex.map { case (o, i) =>
          val mine = placed.filter(_.op == i)
          Map("name" -> o.name, "seconds" -> o.seconds, "jobs" -> mine.size,
            "stages" -> mine.map(x => ranStages(x.job, l).size).sum)
        },
        "jobs" -> placed.map(x => Map("id" -> x.job.id, "span" -> x.span,
          "op" -> x.op, "submit" -> x.job.submit, "end" -> x.job.end,
          "stages" -> ranStages(x.job, l).size) ++
          (if (x.span == Unattributed)
            Map("site" -> Attribution.frames(x.site).take(4).mkString(" < "))
           else Map.empty)))
    })
}
