package graft.examples

import graft.Tables
import graft.etl.DataMix
import graft.text.{BpeMerge, TextOps}
import org.apache.spark.sql.functions._

/** Runnable tokenizer lifecycle over the documents corpus — the
  * composition behind q_pipeline_tokenize, stage by stage with printed
  * counts:
  *
  *   1. learn the first k BPE merges on the corpus (q_t_bpe_merges);
  *   2. encode every doc under them — real token counts, not the
  *      whitespace estimate (q_t_bpe_encode);
  *   3. token-budget source mixing on those counts (q_p16 semantics via
  *      the byCount surface);
  *   4. domain-separated sequence packing: each source packs into its
  *      own 512-token training sequences (q_t_pack_grouped semantics).
  *
  * Every stage is the registered operator, unchanged. Artifacts land
  * under the output dir.
  *
  *   sbt "runMain graft.examples.TokenizerDemo /tmp/graft_tok"
  */
object TokenizerDemo {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_tok")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, sfDir)
    println(s"[tok] input docs: ${docs.count()}")

    // 1. learn
    val merges = BpeMerge.learnMerges(docs, "text", nMerges = 3).collect()
    merges.foreach(r => println(
      s"[tok] merge ${r.getLong(0)}: '${r.getString(1)}'+'${r.getString(2)}' (count ${r.getLong(3)})"))

    // 2. encode (the learn loop's final vocab — zero extra merge passes)
    val (enc, relVocab) = BpeMerge.encodeCorpusReleasable(
      docs, "doc_id", "text", nMerges = 3)
    val counted = docs.select(col("doc_id"), col("source"))
      .join(enc.select(col("doc_id"), col("n_bpe_tokens").as("n_tokens")),
        Seq("doc_id"))
    counted.write.mode("overwrite").parquet(s"$outDir/encoded")
    val totalTok = spark.read.parquet(s"$outDir/encoded")
      .agg(sum("n_tokens")).head().getLong(0)
    println(s"[tok] encoded: $totalTok BPE tokens across the corpus")

    // 3. mix to 50/30/20 token shares
    val mixed = DataMix.tokenBudgetMixByCount(
      spark.read.parquet(s"$outDir/encoded"), "doc_id", "source",
      Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
    mixed.write.mode("overwrite").parquet(s"$outDir/mixed")
    println(s"[tok] mixed: ${spark.read.parquet(s"$outDir/mixed").count()} docs kept")

    // 4. pack per source into 512-token sequences
    val (packed, relPack) = TextOps.packGroupedReleasable(
      spark.read.parquet(s"$outDir/mixed"), "doc_id", "source", 512L)
    packed.write.mode("overwrite").parquet(s"$outDir/packed")
    relPack(); relVocab()
    val bins = spark.read.parquet(s"$outDir/packed")
      .groupBy("source").agg(max("bin_last").as("last_bin"),
        sum("n_tokens").as("tokens"))
      .orderBy("source").collect()
    bins.foreach(r => println(f"[tok] ${r.getString(0)}%s: ${r.getLong(2)}%d tokens in ${r.getLong(1) + 1}%d sequences of 512"))
    println(s"[tok] artifacts under $outDir")
    spark.stop()
  }
}
