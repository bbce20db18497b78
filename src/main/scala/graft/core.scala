package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** A registered query: the Spark implementation plus, when the operator is
  * SQL-expressible, an equivalent DuckDB oracle over the same parquet tables.
  *
  * Contract (driver): `fn(spark, sfDir)` must return a deterministic result
  * whose column names match the oracle's aliases exactly — the driver sorts
  * columns by name and hashes values, so every computed column is aliased
  * identically on both sides and floats are rounded to a fixed number of
  * decimals to absorb accumulation-order ulp differences.
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    sql: Option[String] = None)

object Q {
  /** JSON-serialize array columns for the driver's comparator: its pandas
    * sort/hash pass cannot order numpy-array cells (round-1 failure mode on
    * q_inf_deliver/q_inf_discover/q_mm_stub_decode), so registered queries
    * emit arrays as deterministic JSON strings. Library APIs keep real
    * ArrayType columns; only the registry surface flattens. */
  def serializeArrays(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, to_json}
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.ArrayType => to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }.toSeq: _*)
  }
}

/** Bounded concurrent launcher for independent Spark jobs (grid searches,
  * per-group fits). The reference fans these out with joblib process pools
  * sized cpu_count (SURVEY §4.2, clustering.py:114); the Spark equivalent is
  * submitting the independent jobs concurrently from driver threads and
  * letting the scheduler interleave their stages. Unlike the reference's
  * nested pools, parallelism is explicitly bounded — results keep the input
  * order, so seeded selections stay deterministic. */
object Par {
  def grid[A, B](items: Seq[A], parallelism: Int = 8)(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try Await.result(
      Future.sequence(items.map(a => Future(f(a)))), Duration.Inf)
    finally pool.shutdown()
  }
}

/** Loaders for the driver-generated TPC-H-ish tables (TESTDATA.md). Each
  * table's schema is inferred once per table version and then passed to
  * the reader ([[schemaOf]]), so a read runs no schema-inference job. */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalize an event-time column to microsecond TimestampType (UTC
    * instant) from every encoding a producing writer is known to emit:
    *  - TIMESTAMP(NANOS): Spark has no nanos type, so sessions set
    *    spark.sql.legacy.parquet.nanosAsLong and we floor-div to micros
    *    (matches DuckDB's ns→us truncation for positive epochs);
    *  - timestamp[us] with no timezone (any pandas/pyarrow writer without
    *    a tz): Spark reads TIMESTAMP_NTZ; the naive value is UTC wall time,
    *    so reinterpret it as a UTC instant. convert_timezone against
    *    current_timezone() keeps the cast correct even in a session that
    *    did not pin spark.sql.session.timeZone=UTC.
    * Works on batch and streaming frames alike (pure column rewrite). */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema(tsCol).dataType match {
      case LongType =>
        df.withColumn(tsCol, timestamp_micros(expr(s"$tsCol div 1000")))
      case TimestampNTZType =>
        df.withColumn(tsCol, expr(
          s"cast(convert_timezone('UTC', current_timezone(), $tsCol) as timestamp)"))
      case _ => df
    }
  }

  /** The table `name` under `dir`, read with its memoised schema (see
    * [[schemaOf]]); `events.ts` is normalized ([[normalizeTs]]). */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    if (name == "events") normalizeTs(df) else df
  }

  /** A table version and the session confs its inferred schema depends on:
    * the path, each leaf file's (name, length, modification time), and the
    * set `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` confs
    * (`nanosAsLong` turns a TIMESTAMP(NANOS) column into a long). */
  private final case class SchemaKey(path: String,
      files: Seq[(String, Long, Long)], confs: Seq[(String, String)])

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]()

  /** The schema `spark.read.parquet(path)` infers, inferred once per table
    * version — what a metastore would hold for the table. Inference runs a
    * Spark job; a rewritten table (another file, length or modification
    * time) or a changed parquet conf is inferred again. The key holds no
    * session, so a stopped session is not kept alive, and no data is
    * cached. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a missing table fails with the reader's own error
    if (!fs.exists(p)) return spark.read.parquet(path).schema
    val files = Seq.newBuilder[(String, Long, Long)]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.") }.sorted
    val key = SchemaKey(path, files.result().sorted, confs)
    Option(schemas.get(key)).getOrElse {
      val s = spark.read.parquet(path).schema
      schemas.putIfAbsent(key, s)
      s
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
