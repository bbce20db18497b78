package graft.examples

import graft.pipeline.{SegmentationPipeline, Sinks, WorkQueue}

/** Runnable end-to-end demo of the survey-segmentation pipeline (SURVEY.md
  * §3.1 lifecycle): work-queue poll → clean → segmentation battery → χ²
  * deliver stats → metrics → sinks → mark processed.
  *
  *   sbt "runMain graft.examples.SurveyDemo /tmp/graft_demo"
  */
object SurveyDemo {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_demo")
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // tiny synthetic survey with three planted segments (FIXTURES.md §1 shape)
    val survey = (0 until 300).map { i =>
      val seg = i % 3
      (i.toLong,
        if (i % 10 < 8) Seq("lover", "neutral", "hater")(seg) else "neutral",
        if (i % 10 < 7) Seq("urban", "suburban", "rural")(seg) else "urban",
        Seq("agree", "neutral", "disagree")(seg),
        if (i % 13 == 0) null else Seq("fb", "gg", "none")(i % 3),
        1.0 + (i % 4) * 0.25)
    }.toDF("alchemer_id", "tech_q1_rb", "geo_q2", "psy_q3_tgt",
      "sbeh_social_mc_1234_fb", "weight")

    // queue: one unprocessed survey
    val queue = Seq((1L, "demo_survey", Seq.empty[String]))
      .toDF("id", "title", "processed_by")
    val item = WorkQueue.nextSurvey(queue)
      .getOrElse(sys.error("queue unexpectedly empty"))
    println(s"[demo] processing survey ${item.id}: ${item.title}")

    val results = SegmentationPipeline.run(spark, survey,
      SegmentationPipeline.Config(
        idCol = "alchemer_id",
        clusterCols = Seq("tech_q1_rb", "geo_q2"),
        weightCol = Some("weight"),
        ks = 3 until 4,
        rulesCol = Some("tech_q1_rb")))

    results.foreach { case (algo, r) =>
      println(s"[demo] $algo -> " + r.metrics.toSeq.sortBy(_._1)
        .map { case (k, v) => f"$k=$v%.3f" }.mkString(", "))
      Sinks.segmentationResult(r.labeled, "alchemer_id", r.metrics,
        s"$outDir/$algo")
      Sinks.metricsCsv(r.metrics.toSeq.toDF("metric", "value"),
        s"$outDir/$algo/metrics_csv")
    }
    val done = WorkQueue.markProcessed(queue, item.id)
    WorkQueue.writeQueue(done, s"$outDir/queue")
    println(s"[demo] queue after: next=${WorkQueue.nextSurvey(
      WorkQueue.readQueue(spark, s"$outDir/queue"))}")
    println("[demo] OK")
    spark.stop()
  }
}
