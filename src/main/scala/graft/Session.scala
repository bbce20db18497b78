package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session builder of the engine's mains, tools, examples
  * and specs. A caller with a reason to differ sets a runtime conf on the
  * session afterwards; nothing else is a parameter. */
object Session {

  /** `SPARK_GRAFT_CPUS` when set, else the host's processors. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A local session on `cores` threads with `cores` shuffle partitions,
    * UTC session time, parquet TIMESTAMP(NANOS) read as long (see
    * [[graft.Tables.normalizeTs]]), AQE on and no UI. */
  def local(cores: Int = defaultCores): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
