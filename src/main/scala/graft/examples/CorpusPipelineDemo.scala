package graft.examples

import graft.Tables
import graft.dedup.{DedupOps, DupClusters}
import graft.etl.DataMix
import graft.sim.SimilarityOps
import graft.text.TextOps
import org.apache.spark.sql.functions._

/** Runnable end-to-end training-data curation pipeline over the documents
  * corpus — the composition the individual `q_d_*`/`q_t_*`/`q_s_*`
  * operators exist for, in the order a production corpus pass runs them:
  *
  *   1. quality + repetition filter (Gopher-style gates);
  *   2. exact dedup (hash-canonical keep);
  *   3. near-dup clustering (SimHash pairs → connected components →
  *      canonical doc per cluster);
  *   4. corpus-level duplicated-segment removal (RefinedWeb line dedup);
  *   5. per-source mixing (deterministic md5-threshold sampling);
  *   6. chunking → embedding join → chunk→doc mean-pool (doc vectors for
  *      the ANN index).
  *
  * Every stage is the registered operator, unchanged. Row counts print per
  * stage; artifacts land under the output dir.
  *
  *   sbt "runMain graft.examples.CorpusPipelineDemo /tmp/graft_corpus"
  */
object CorpusPipelineDemo {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_corpus")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, sfDir)
    println(s"[corpus] input docs: ${docs.count()}")

    // 1. quality gates: length + stopword floor (q_t_quality features) and
    //    a repetition ceiling (q_t_repetition) — Gopher-style keep rules
    val quality = TextOps.qualityFeatures(docs, "doc_id", "text")
      .filter(col("n_tokens") >= 10 && col("stopword_ratio") <= 0.5)
      .select("doc_id")
    val rep = TextOps.repetitionFeatures(docs, "doc_id", "text")
      .filter(col("top_bigram_ratio") <= 0.6).select("doc_id")
    val gated = docs.join(quality, "doc_id").join(rep, "doc_id")
    println(s"[corpus] after quality+repetition gates: ${gated.count()}")

    // 2. exact dedup: keep each content hash's smallest id
    val exactKeep = DedupOps.exactDedup(gated, "doc_id", "text")
      .select(col("keep").as("doc_id"))
    val exact = gated.join(exactKeep, "doc_id")
    println(s"[corpus] after exact dedup: ${exact.count()}")

    // 3. near-dup clusters: SimHash pairs → components → canonical only
    val clusters = DupClusters.canonicalize(exact,
      DedupOps.simhashPairs(exact, "doc_id", "text"), "doc_id", "text")
    val canonical = exact.join(
      clusters.filter(col("is_canonical") === 1).select("doc_id"), "doc_id")
    println(s"[corpus] after near-dup canonicalization: ${canonical.count()}")

    // 4. corpus-level duplicated-segment removal, rebuilt text carried on
    val deduped = DupClusters.corpusSegmentDedup(canonical, "doc_id", "text")
      .join(canonical.select("doc_id", "lang", "source"), "doc_id")
      .withColumnRenamed("clean_text", "text")
      .filter(length(col("text")) > 0)
    println(s"[corpus] after segment dedup: ${deduped.count()}")

    // 5. per-source mixing
    val mixed = DataMix.mixSample(deduped, "doc_id", "source",
      Map("src0" -> 1.0, "src1" -> 0.5), defaultRate = 0.25)
    println(s"[corpus] after mixing: ${mixed.count()}")

    // 6. chunk → embed (the corpus embeddings table stands in for the
    //    encoder: each chunk maps deterministically onto a stored vector)
    //    → pool back to one vector per doc
    val chunks = TextOps.chunkDocs(mixed, "doc_id", "text",
      chunkTokens = 20, stride = 15)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val nVec = emb.count()
    val chunkVecs = chunks
      .withColumn("vec_id", pmod(col("doc_id") * 31 + col("chunk_id"), lit(nVec)))
      .join(emb, "vec_id")
    val docVecs = SimilarityOps.meanPool(
      chunkVecs.withColumnRenamed("doc_id", "doc"), "doc", "embedding")
    println(s"[corpus] chunks: ${chunks.count()}, pooled doc vectors: ${docVecs.count()}")

    mixed.select("doc_id", "source", "text").write.mode("overwrite")
      .parquet(s"$outDir/corpus")
    docVecs.write.mode("overwrite").parquet(s"$outDir/doc_vectors")

    // 7. the STREAMING edge, end to end (S9's queue pattern as streams):
    //    the curated corpus re-arrives as files — plus planted exact and
    //    near duplicates — and is drained by two Trigger.AvailableNow
    //    queries with real checkpoints: (a) watermarked exact dedup at the
    //    stream edge, landing clean docs; (b) the stateful SimHash
    //    candidate-pair stream over the landed docs. Re-running the demo
    //    reprocesses nothing (checkpointed file bookkeeping), exactly like
    //    the reference's polled work queue.
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.Streams
    val streamIn = s"$outDir/stream_in"
    // ts is derived from the ORIGINAL doc_id BEFORE planting, so a planted
    // duplicate carries its original's event time — the watermarked dedup
    // guarantee then holds regardless of how the file source batches the
    // input (a shifted ts could age the original's state out of the
    // 10-minute horizon before the duplicate arrives)
    val base = mixed.select(col("doc_id"), col("text"),
      timestamp_seconds(lit(1700000000L) + pmod(col("doc_id"), lit(3600)))
        .as("ts"))
    val exactDup = base.limit(10)
      .withColumn("doc_id", col("doc_id") + 1000000)
    val nearDup = base.limit(10)
      .withColumn("doc_id", col("doc_id") + 2000000)
      .withColumn("text", concat(col("text"), lit(" trailing marker token")))
    base.union(exactDup).union(nearDup)
      .write.mode("overwrite").parquet(streamIn)

    val inSchema = spark.read.parquet(streamIn).schema
    Streams.streamingExactDedup(
        spark.readStream.schema(inSchema).parquet(streamIn), "text", "ts")
      .writeStream.format("parquet")
      .option("path", s"$outDir/stream_docs")
      .option("checkpointLocation", s"$outDir/ckpt_dedup")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val landed = spark.read.parquet(s"$outDir/stream_docs")
    println(s"[stream] exact-deduped docs landed: ${landed.count()}" +
      s" (planted exact dups dropped at the edge)")

    Streams.streamingSimhashPairs(
        spark.readStream.schema(landed.schema)
          .parquet(s"$outDir/stream_docs"), "doc_id", "text")
      .toDF()
      .writeStream.format("parquet")
      .option("path", s"$outDir/stream_pairs")
      .option("checkpointLocation", s"$outDir/ckpt_pairs")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val pairs = spark.read.parquet(s"$outDir/stream_pairs")
    println(s"[stream] near-dup candidate pairs emitted: ${pairs.count()}" +
      s" (planted near-dups surfaced)")

    // 8. MAINTENANCE act: the curated corpus becomes a LIVING table.
    //    (a) exact duplicated spans >= 40 chars scrubbed corpus-wide (the
    //    suffix-array-exact pass, one occurrence kept); (b) the result
    //    lands as a keyed-bucket table; (c) a simulated recrawl batch
    //    (update + delete + insert) CDC-merges in, rewriting only the
    //    touched buckets; (d) a key lookup through the bucket-pruning
    //    optimizer rule reads one directory, not sixteen.
    val scrubbed = graft.dedup.DupClusters.scrubExactSpans(
      mixed.select("doc_id", "text"), "doc_id", "text", minLen = 40)
    val table = s"$outDir/corpus_table"
    graft.pipeline.Sinks.writeKeyedBuckets(
      scrubbed.withColumnRenamed("clean_text", "text")
        .select("doc_id", "text"), table, "doc_id", 16)
    val someId = mixed.select(min("doc_id")).head().getLong(0)
    val recrawl = Seq(
      (someId, "recrawled text for the first doc", "U", 1L),
      (someId + 1, "", "D", 1L),
      (9999999L, "a brand new doc from the recrawl", "I", 1L))
    import spark.implicits._
    graft.pipeline.Sinks.applyCdc(spark, table,
      recrawl.toDF("doc_id", "text", "op", "seq"),
      "doc_id", "op", "seq", 16)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+
        graft.plans.InjectBucketPruning(spark)
    // a PLAIN key predicate — the optimizer rule derives the bucket
    // partition filter from the table's sidecar on its own
    val hit = spark.read.parquet(table).filter(col("doc_id") === someId)
    // collect() (not head) so the metric belongs to THIS plan's execution
    val lookedUp = hit.collect().head.getAs[String]("text")
    val files = hit.queryExecution.executedPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }.head.metrics("numFiles").value
    println(s"[table] cdc-merged corpus table; key lookup read $files " +
      s"file(s) of 16 buckets -> '${lookedUp.take(30)}'")
    require(lookedUp.startsWith("recrawled"), "cdc update must win")

    println("[corpus] OK")
    spark.stop()
  }
}
