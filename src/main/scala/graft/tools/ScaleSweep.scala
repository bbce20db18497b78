package graft.tools

import graft.{Session, SparkEntry}

/** Scale-robustness sweep: executes EVERY registered query at a chosen scale
  * factor (default sf0.1 — 10× the driver's correctness SF) and reports
  * failures and slow queries. The correctness gate only runs sf0.01; this
  * tool is the evidence that every operator also completes at bench scale.
  *
  *   sbt "runMain graft.tools.ScaleSweep /root/testdata/sf0.1"
  *
  * An optional second arg restricts the sweep to queries whose name
  * contains any of the comma-separated substrings (local iteration aid).
  */
object ScaleSweep {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")

    val pats = if (args.length > 1) args(1).split(",").toSeq else Nil
    var bad = List.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => pats.isEmpty || pats.exists(n.contains) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val n = fn(spark, dir).count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"ok    $name%-28s $secs%7.1fs rows=$n")
      } catch {
        case e: Throwable =>
          bad ::= name
          println(s"FAIL  $name: ${Option(e.getMessage).getOrElse(e.toString).take(150)}")
      } finally spark.catalog.clearCache() // queries are independent
    }
    println(if (bad.isEmpty) "SCALE SWEEP OK" else s"SCALE SWEEP FAILURES: $bad")
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
