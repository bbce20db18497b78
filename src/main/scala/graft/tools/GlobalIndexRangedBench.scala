package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryMetrics, Session}
import graft.etl.GlobalIndex

/** Cost of the GlobalIndex entry points on inputs PAST the driver gate
  * (more than 2^16 rows), where the ranged two-pass path runs: wall time
  * per call (index, running, grouped), Spark jobs per call (the gate's
  * probe included), and the peak bytes held by persisted RDDs during the
  * call.
  *
  *   sbt "runMain graft.tools.GlobalIndexRangedBench [nRows] [scan|hash] [reps]"
  *
  * `scan` reads a parquet copy of the synthetic frame as is (a cheap
  * upstream); `hash` adds three chained sha2 projections per row (an
  * upstream that costs about as much per row as tokenization). Each call
  * is consumed with one aggregate over its output, then its caches are
  * dropped. Prints one line per op: median wall of `reps` timed calls
  * after one warm-up, jobs, peak persisted MB; then the JVM's VmHWM.
  */
object GlobalIndexRangedBench {
  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toLong).getOrElse(2000000L)
    val input = args.drop(1).headOption.getOrElse("scan")
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(3)
    val spark = Session.local()
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext

    val dir = java.nio.file.Files.createTempDirectory("gi-ranged-bench")
    val path = dir.resolve("t").toString
    spark.range(nRows)
      .select(col("id"), pmod(col("id"), lit(7L)).as("g"),
        xxhash64(col("id")).as("v"),
        concat(lit("doc-"), col("id").cast("string")).as("s"))
      .write.parquet(path)
    val scan = spark.read.parquet(path)
    val df: DataFrame = input match {
      case "scan" => scan
      case "hash" => scan.withColumn("h",
        xxhash64(sha2(sha2(sha2(col("s"), 256), 256), 256)))
      case other => sys.error(s"unknown input $other (scan|hash)")
    }
    val order = Seq(col("v"), col("id"))

    @volatile var peak = 0L
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val held = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
          if (held > peak) peak = held
        }
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    def call(op: String): Unit = op match {
      case "index" =>
        val (out, release) = GlobalIndex.withGlobalIndexReleasable(df, order)
        out.agg(max("rn"), sum("rn")).collect()
        release()
      case "running" =>
        val (out, _, _) = GlobalIndex.withGlobalRunning(df, order,
          Seq(col("id") -> "cid", col("g") -> "cg"), "rn")
        out.agg(max("rn"), sum("cid"), sum("cg")).collect()
      case "grouped" =>
        val out = GlobalIndex.withGroupedIndex(df, Seq("g"), order)
        out.agg(max("rn"), sum("rn"), max("cnt")).collect()
    }

    println(s"=== ranged side at $nRows rows, input=$input, reps=$reps ===")
    for (op <- Seq("index", "running", "grouped")) {
      call(op); spark.catalog.clearCache()
      val runs = (1 to reps).map { _ =>
        peak = 0L; sampling = true
        val (s, rec) = QueryMetrics.measure(spark) {
          val t0 = System.nanoTime()
          call(op)
          (System.nanoTime() - t0) / 1e9
        }
        sampling = false
        val held = peak
        spark.catalog.clearCache()
        (s, rec.jobs, held)
      }
      val wall = runs.map(_._1).sorted.apply(reps / 2)
      println(f"  $op%-8s wall ${wall}%6.2f s  jobs ${runs.head._2}%3d  " +
        f"peak persisted ${runs.map(_._3).max / 1048576.0}%7.1f MB  " +
        s"(walls ${runs.map(r => f"${r._1}%.2f").mkString(" ")})")
    }
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM")).getOrElse("VmHWM: ?")
    println(s"  $hwm")
    spark.stop()
    scala.reflect.io.Directory(dir.toFile).deleteRecursively()
    ()
  }
}
