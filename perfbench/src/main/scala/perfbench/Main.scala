package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Benchmark JVM: one workload, one session, one client.
  *
  *   perfbench.Main --workload W --inputs DIR --tables DIR --work DIR
  *     --seconds S --trace 0|1 --cores N --result FILE
  *
  * Set-up is session start plus the untimed warm-up, counted from JVM
  * start. Then passes over the workload's fixed op list run back to back
  * until `seconds` have gone by. With `--trace 1` as many passes again
  * follow with the benchmark's listener and span recorder on; the
  * difference of the two sets' pass walls is the tracing overhead. The
  * result file holds every pass, every op and, when traced, the per-layer
  * numbers. */
object Main {

  final case class Pass(index: Int, traced: Boolean, start: Long, end: Long,
      ops: Seq[OpResult], spans: Seq[Span])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val work = opts("work")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val workload: Workload = opts("workload") match {
      case "survey_segmentation" => new SurveySegmentation(spark, opts("inputs"))
      case "corpus_curation" => new CorpusCurationWorkload(spark, opts("inputs"))
      case "analytics_mix" => new AnalyticsMix(spark, opts("inputs"), opts("tables"))
      case w => sys.error(s"unknown workload $w")
    }
    val listener = new JobListener
    val spans = new Spans
    val passes = mutable.ArrayBuffer.empty[Pass]
    def runPass(tracedPass: Boolean, warmUp: Boolean = false): Unit = {
      System.gc()
      spans.clear()
      spans.enabled = tracedPass
      val out = s"$work/out/pass_${passes.size}"
      val start = System.currentTimeMillis()
      val ops = if (warmUp) workload.warmUp(out) else workload.pass(out, spans)
      passes += Pass(passes.size, tracedPass, start, System.currentTimeMillis(),
        ops, spans.all)
      spans.enabled = false
    }
    // pass 0 is the warm-up: its outputs are checked, its times are not used
    runPass(tracedPass = false, warmUp = true)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3 - passes.head.ops
      .map(_.extras.getOrElse("harness_s", 0.0).asInstanceOf[Double]).sum

    def timedPasses(tracedPass: Boolean): Unit = {
      val t0 = System.nanoTime()
      do runPass(tracedPass) while ((System.nanoTime() - t0) / 1e9 < seconds)
    }
    timedPasses(tracedPass = false)
    if (traced) {
      spark.sparkContext.addSparkListener(listener)
      timedPasses(tracedPass = true)
    }
    val counts = if (traced) workload.counts() else Map.empty[String, Double]
    val peakRssMb = Host.peakRssMb()
    spark.stop() // drains the listener bus

    val result = Map[String, Any](
      "workload" -> workload.name,
      "setup_s" -> setupS,
      "cores" -> cores,
      "peak_rss_mb" -> peakRssMb,
      "passes" -> passes.map(p => Map(
        "index" -> p.index, "traced" -> p.traced, "warmup" -> (p.index == 0),
        "ops" -> p.ops.map(o => Map(
          "name" -> o.name, "seconds" -> o.seconds, "ok" -> o.ok,
          "error" -> o.error,
          "cached_mb_left" -> o.extras.getOrElse("cached_mb_left", 0.0),
          "digest" -> o.extras.getOrElse("digest", ""))))),
      "layers" -> (if (traced) Layers.report(passes.filter(_.traced).toSeq,
        listener, cores) ++ counts else Map.empty))
    val w = new java.io.PrintWriter(opts("result"), "UTF-8")
    try w.println(Json.write(result)) finally w.close()
    if (traced) {
      val s = new java.io.PrintWriter(s"$work/spans.json", "UTF-8")
      try s.println(Json.write(Layers.dump(passes.filter(_.traced).toSeq, listener)))
      finally s.close()
    }
  }
}

object Host {
  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
