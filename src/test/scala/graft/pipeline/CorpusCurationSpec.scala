package graft.pipeline

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The corpus-curation capstone composes seven individually-tested stages;
  * these tests pin the COMPOSITION semantics on a planted corpus where
  * every stage has work to do. */
class CorpusCurationSpec extends SparkSpecBase {
  import spark.implicits._

  // base long enough (34 tokens) that a one-token substitution leaves the
  // simhash vote sums mostly unmoved → small hamming + a shared band
  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "runs far away into the deep dark forest tonight while the pale moon " +
    "rises slowly over the quiet sleeping village below the mountains"

  private lazy val docs = Seq(
    (1L, base),                                // near-dup cluster, smallest id
    (2L, base.toUpperCase + "!!"),             // exact dup of 1 after normalize
    (3L, base.replace("fox", "cat")),          // near-dup of 1 (same length →
                                               // tie, smallest id 1 canonical)
    (4L, "completely different content about spark shuffle exchanges and " +
      "catalyst optimizer rules in distributed query engines today"),
    (5L, "benchmark leak phrase alpha beta gamma delta epsilon zeta " +
      "plus surrounding filler words to make it long enough"),
    (6L, "the short doc")                      // nonzero stopword ratio so the
                                               // sampler keeps it at huge rates
  ).toDF("doc_id", "text")

  private lazy val bench = Seq(
    (100L, "contains the benchmark leak phrase alpha beta gamma delta " +
      "epsilon zeta inside")).toDF("doc_id", "text")

  test("curate: exact dups collapse, longest near-dup wins, leaks drop, output ⊆ input") {
    // baseRate high enough that every quality score keeps its doc —
    // isolates the dedup/decontamination semantics from the sampler
    val (out, release) = CorpusCuration.curateReleasable(
      docs, "doc_id", "text", bench, "text", baseRate = 1e6)
    val rows = out.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    release()
    // doc 2 is an exact dup of 1 (dropped); docs 1 and 3 are a confirmed
    // near-dup cluster — equal length, tie broken to the smallest id, so 1
    // is canonical and 3 drops; doc 5 shares the planted 5-gram with the
    // bench suite (dropped); 4 and 6 survive as singletons
    assert(rows.keySet === Set(1L, 4L, 6L))
    assert(rows(1L)._2 === 2L, "near-dup cluster {1,3} has size 2")
    assert(rows(4L)._2 === 1L && rows(6L)._2 === 1L)
    // n_chars_clean is the CLEANED length; stopword_ratio in [0, 1]
    assert(rows(1L)._1 === base.length.toLong)
    assert(rows.values.forall(v => v._3 >= 0.0 && v._3 <= 1.0))
  }

  test("curate: the sampler is the last gate — rate 0 keeps nothing, stages still ran") {
    val out = CorpusCuration.curate(docs, "doc_id", "text", bench, "text",
      baseRate = 0.0)
    assert(out.count() === 0)
    spark.catalog.clearCache()
  }

  // Pinned to the gated path: the distributed connected-components loop
  // keeps its per-round localCheckpoint RDDs persisted with no release
  // handle (the ContextCleaner reclaims them once unreferenced), so the
  // check would not isolate curate's own caches there. The check is "no
  // RDD added", not set equality, because the ContextCleaner may drop
  // older suites' RDDs meanwhile.
  test("curate: release() leaves the session's cached RDDs as they were") {
    withGate(forceDistributed = false) {
      val sc = spark.sparkContext
      def added(before: Set[Int]) = sc.getPersistentRDDs.keySet.toSet -- before
      val before = sc.getPersistentRDDs.keySet.toSet
      val (out, release) = CorpusCuration.curateReleasable(
        docs, "doc_id", "text", bench, "text", baseRate = 1e6)
      assert(out.count() === 3)
      assert(added(before).nonEmpty)
      release()
      assert(added(before) === Set.empty[Int])
    }
  }
}
