package perfbench

import graft.SparkEntry
import graft.dedup.DedupOps
import graft.pipeline.{CorpusCuration, SegmentationPipeline, Sinks, WorkQueue}
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** One closed-loop op as the harness saw it. `seconds` is the op's timed
  * region only; `extras` carries untimed per-op observations. */
final case class OpResult(name: String, seconds: Double, ok: Boolean,
    start: Long, end: Long, error: String = "",
    extras: Map[String, Any] = Map.empty)

/** A workload is a fixed op list. A pass runs the list once, one client,
  * each op starting when the previous one has finished. */
trait Workload {
  def name: String
  /** Runs one pass; `out` is the pass's output directory. */
  def pass(out: String, spans: Spans): Seq[OpResult]
  /** The untimed warm-up op that pays JVM and codegen warm-up. */
  def warmUp(out: String): Seq[OpResult]
  /** Counts measured once after the timed passes, outside them. */
  def counts(): Map[String, Double] = Map.empty
}

object Workload {
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** MB of storage memory and disk still held by cached blocks. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6

  /** Runs one op; `body` returns its timed seconds and untimed extras. */
  def attempt(name: String)(body: => (Double, Map[String, Any])): OpResult = {
    val start = System.currentTimeMillis()
    try {
      val (s, extras) = body
      OpResult(name, s, ok = true, start, System.currentTimeMillis(),
        extras = extras)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] op $name failed: $e")
        OpResult(name, Double.NaN, ok = false, start,
          System.currentTimeMillis(), String.valueOf(e.getMessage).take(300))
    }
  }
}

/** The kraken lifecycle once per queued survey: poll the queue, run the
  * segmentation battery, write every algorithm's result and metrics, mark
  * the survey processed and write the queue back. */
final class SurveySegmentation(spark: SparkSession, inputs: String)
    extends Workload {
  val name = "survey_segmentation"
  private val manifest = Json.readFile(s"$inputs/manifest.json")
  private val config = SegmentationPipeline.Config(
    idCol = "alchemer_id",
    clusterCols = manifest("cluster_cols").asInstanceOf[Seq[String]],
    weightCol = Some("weight"),
    rulesCol = Some("tech_ww_techcomfort_rb_ord"))

  private def lifecycle(queuePath: String, out: String, spans: Spans)
      : Option[(String, String)] = {
    val queue = spans("pipeline.WorkQueue")(WorkQueue.readQueue(spark, queuePath))
    spans("pipeline.WorkQueue")(WorkQueue.nextSurvey(queue)).map { item =>
      val raw = spans("spark.read_inputs")(
        spark.read.parquet(s"$inputs/${item.title}.parquet"))
      val results = spans("pipeline.SegmentationPipeline", attributeInside = true)(
        SegmentationPipeline.run(spark, raw, config))
      spans("pipeline.Sinks") {
        import spark.implicits._
        results.toSeq.sortBy(_._1).foreach { case (algo, r) =>
          Sinks.segmentationResult(r.labeled, config.idCol, r.metrics,
            s"$out/${item.title}/$algo")
          Sinks.metricsCsv(r.metrics.toSeq.sortBy(_._1).toDF("metric", "value"),
            s"$out/${item.title}/$algo/metrics_csv")
        }
      }
      val next = s"$out/queue_after_${item.id}"
      spans("pipeline.WorkQueue")(WorkQueue.writeQueue(
        WorkQueue.markProcessed(queue, item.id), next))
      (item.title, next)
    }
  }

  def warmUp(out: String): Seq[OpResult] = pass(out, new Spans, 1)

  def pass(out: String, spans: Spans): Seq[OpResult] =
    pass(out, spans, Json.int(manifest("surveys")))

  private def pass(out: String, spans: Spans, surveys: Int): Seq[OpResult] = {
    var queuePath = s"$inputs/queue.json"
    (0 until surveys).map { i =>
      val r = Workload.attempt(s"survey_$i") {
        val (done, s) = Workload.timed(lifecycle(queuePath, out, spans))
        val (title, next) = done.getOrElse(sys.error("work queue ran dry"))
        require(title == s"survey_$i", s"queue handed out $title")
        queuePath = next
        (s, Map("cached_mb_left" -> Workload.cachedMb(spark)))
      }
      spark.catalog.clearCache()
      r
    }
  }
}

/** Document batches through the curation capstone, then one large parquet
  * write of the survivors, then the release of the curation's caches. */
final class CorpusCurationWorkload(spark: SparkSession, inputs: String)
    extends Workload {
  val name = "corpus_curation"
  private val manifest = Json.readFile(s"$inputs/manifest.json")
  private val batches = (0 until Json.int(manifest("batches"))).map(i => s"batch_$i")
  private def docs(b: String) = spark.read.parquet(s"$inputs/$b.parquet")
  private def bench = spark.read.parquet(s"$inputs/bench.parquet")

  private def curate(b: String, out: String, spans: Spans): Double =
    Workload.timed {
      val (d, bn) = spans("spark.read_inputs")((docs(b), bench))
      val (survivors, release) =
        spans("pipeline.CorpusCuration", attributeInside = true)(
          CorpusCuration.curateReleasable(d, "doc_id", "text", bn, "text"))
      spans("pipeline.Sinks", attributeInside = true)(
        Sinks.parquet(survivors, s"$out/$b"))
      spans("pipeline.CorpusCuration")(release())
    }._2

  /** Every batch once: after a single batch the next ones still ran up to
    * 1.4x slow while the JIT kept compiling. */
  def warmUp(out: String): Seq[OpResult] = pass(out, new Spans, batches)

  def pass(out: String, spans: Spans): Seq[OpResult] = pass(out, spans, batches)

  private def pass(out: String, spans: Spans, bs: Seq[String]): Seq[OpResult] =
    bs.map { b =>
      val r = Workload.attempt(b) {
        (curate(b, out, spans), Map("cached_mb_left" -> Workload.cachedMb(spark)))
      }
      spark.catalog.clearCache()
      r
    }

  /** Candidate and confirmed near-duplicate pairs per batch, from the same
    * layer calls the capstone chains (clean, exact dedup, SimHash banding,
    * edit-distance verify). */
  override def counts(): Map[String, Double] = {
    val per = batches.map { b =>
      val cleaned = TextOps.cleanText(docs(b), "doc_id", "text")
        .select(col("doc_id"), col("clean"))
      val keep = DedupOps.exactDedup(cleaned, "doc_id", "clean")
        .select(col("keep").as("doc_id"))
      val surv = cleaned.join(keep, Seq("doc_id")).cache()
      val pairs = DedupOps.simhashPairs(surv, "doc_id", "clean").cache()
      val cand = pairs.count()
      val conf = DedupOps.editVerify(surv, pairs, "doc_id", "clean")
        .filter(col("confirmed")).count()
      pairs.unpersist(); surv.unpersist()
      (cand, conf)
    }
    val cand = per.map(_._1).sum.toDouble
    val conf = per.map(_._2).sum.toDouble
    Map("dedup.candidate_pairs" -> cand, "dedup.confirmed_pairs" -> conf,
      "dedup.confirm_ratio" -> (if (cand > 0) conf / cand else 0.0))
  }
}

/** Short registered queries in a seeded order, each run through its full
  * plan with a `noop` write and followed by `clearCache`, as the repo's
  * query bench runs them. A timed pass runs each query for the second
  * time in the JVM. */
final class AnalyticsMix(spark: SparkSession, inputs: String, tables: String)
    extends Workload {
  val name = "analytics_mix"
  private val manifest = Json.readFile(s"$inputs/manifest.json")
  private val order = manifest("order").asInstanceOf[Seq[String]]
  private val giUsers = manifest("global_index_users").asInstanceOf[Seq[String]].toSet
  private val registry = SparkEntry.registry
  private val unknown = order.filterNot(registry.contains)
  require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

  /** `graft.<module>.X` registered the query. */
  private def module(q: String): String =
    registry(q).fn.getClass.getName.split('.') match {
      case Array("graft", m, _*) => m
      case _ => "graft"
    }

  def spanOf(q: String): String =
    if (giUsers(q)) "etl.GlobalIndex_users" else s"${module(q)}.queries"

  /** `df` with the digest of its output rows (row count, hash sum and hash
    * xor over the rows as JSON, columns in name order: free of row and
    * column order) collected while its write runs, so checking an op needs
    * no second run of its plan. */
  private def observed(df: DataFrame): (DataFrame, Observation) = {
    val h = xxhash64(to_json(struct(df.columns.sorted.map(c => col(s"`$c`")): _*)))
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("n"),
      sum(pmod(h, lit(1000000007L))).as("s"), bit_xor(h).as("x")), obs)
  }

  private def run(q: String, spans: Spans): OpResult =
    Workload.attempt(q) {
      val (obs, s1) = Workload.timed(spans(spanOf(q)) {
        val (df, obs) = observed(registry(q).fn(spark, tables))
        df.write.format("noop").mode("overwrite").save()
        obs
      })
      val (extras, harnessS) = Workload.timed(spans(Layers.Harness) {
        val m = obs.get
        Map[String, Any]("cached_mb_left" -> Workload.cachedMb(spark),
          "digest" -> s"${m("n")}:${m("s")}:${m("x")}")
      })
      val (_, s2) = Workload.timed(spark.catalog.clearCache())
      (s1 + s2, extras + ("harness_s" -> harnessS))
    }

  /** The whole mix once: every query's first run pays its codegen and
    * class loading here, and so does the shared code a query otherwise
    * finds compiled or not depending on what ran before it (a query's first
    * run took up to 3.5x its time when it came first in the order). The
    * timed pass then runs each query again in a warm session. */
  def warmUp(out: String): Seq[OpResult] = pass(out, new Spans)

  def pass(out: String, spans: Spans): Seq[OpResult] = {
    // a collection between queries, outside the timed region, as the repo's
    // query bench does: one query's garbage otherwise lands on the next
    val rs = order.map { q => System.gc(); run(q, spans) }
    spark.catalog.clearCache()
    rs
  }
}
