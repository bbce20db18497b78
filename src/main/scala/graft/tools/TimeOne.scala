package graft.tools

import graft.{QueryMetrics, Session, SparkEntry}

/** Isolated per-query timer for local iteration:
  *   runMain graft.tools.TimeOne <sfDir> <query>[,<query>...] [--explain]
  * Times each query with the same noop-write full-plan execution Bench
  * uses, in Bench's session ([[graft.Session.local]]: `SPARK_GRAFT_CPUS`
  * cores). Two runs, both printed — the first includes per-query
  * plan/codegen setup, the second is the warm number — each followed by
  * its [[graft.QueryMetrics]] record (jobs, stages, tasks, executor and
  * GC time, shuffle and spill, task skew). */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val explain = args.contains("--explain")
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    names.foreach { name =>
      // untimed inter-query GC — same hygiene as Bench: let the
      // ContextCleaner reclaim the previous query's broadcast/shuffle
      // debris so its cost doesn't land in this query's numbers
      System.gc()
      val fn = SparkEntry.queries(name)
      if (explain)
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      val runs = (1 to 2).map { _ =>
        QueryMetrics.measure(spark) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          spark.catalog.clearCache()
          (System.nanoTime() - t0) / 1e9
        }
      }
      println(f"[timeone] $name%s: cold ${runs(0)._1}%.2f s, warm ${runs(1)._1}%.2f s")
      println(s"[timeone] $name cold: ${runs(0)._2}")
      println(s"[timeone] $name warm: ${runs(1)._2}")
    }
    spark.stop()
  }
}
