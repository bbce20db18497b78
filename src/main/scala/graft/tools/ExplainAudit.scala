// Plan audit: run with
//   sbt 'runMain graft.tools.ExplainAudit'   (file is linked into src via tools package)
package graft.tools

import graft.SparkEntry

/** Prints formatted physical plans for representative queries and asserts
  * the plan properties the engine is designed around: predicate pushdown,
  * column pruning (ReadSchema), broadcast joins for small dims, and
  * whole-stage codegen coverage. Exits nonzero if an expectation fails. */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(cores = 4)
    // audit-only: AQE's unexecuted formatted plans omit codegen ids;
    // production sessions (Verify/Bench) keep AQE on
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // audit the plans that run at scale: graft.DriverGate would put
    // every sf0.001 gated frame on its driver path
    spark.conf.set(graft.DriverGate.ForceDistributedConf, "true")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"

    var failures = List.empty[String]
    // Fault isolation: one broken query must cost ONE FAIL line, not the
    // rest of the suite (round 8's NTZ break aborted at audit #12 and hid
    // ~30 assertions). Every audit body runs in its own try/catch; the
    // suite always completes and exits nonzero at the end if anything
    // failed or threw.
    def section(name: String)(body: => Unit): Unit =
      try body catch {
        case e: Throwable =>
          println(s"=== $name ===\n  [FAIL] ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" ")}")
          failures ::= s"$name: threw ${e.getClass.getSimpleName}"
      }
    // A SinglePartition exchange is the scale-killer ONLY when data rows
    // funnel through it (global window / global sort). A global SCALAR
    // reduce — partial aggregate map-side, one row per partition over the
    // wire — is the healthy way to compute a corpus total and necessarily
    // prints "Arguments: SinglePartition". Accept exactly those: every
    // SinglePartition exchange must be fed by a keyless aggregate stage in
    // its immediately-preceding detail block — "partial_*" functions, or a
    // "Keys: []" count-style stage (zero-column partial counts print
    // "Functions: []"). A global Window/Sort block has neither.
    def scalarReducesOnly(p: String): Boolean = {
      val lines = p.linesIterator.toArray
      lines.indices.forall { i =>
        !lines(i).contains("SinglePartition,") ||
          lines.slice(math.max(0, i - 12), i).exists(l =>
            l.contains("partial_") || l.contains("Keys: []"))
      }
    }
    def audit(name: String, expects: (String, String => Boolean)*): Unit =
      section(name) {
        val plan = SparkEntry.queries(name)(spark, sf)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        println(s"=== $name ===")
        println(plan.linesIterator.take(25).mkString("\n"))
        expects.foreach { case (desc, check) =>
          val ok = check(plan)
          println(s"  [${if (ok) "OK" else "MISS"}] $desc")
          if (!ok) failures ::= s"$name: $desc"
        }
      }

    audit("q_p4_filter",
      "filter pushed to parquet scan" ->
        (_.contains("PushedFilters: [IsNotNull(l_quantity)")),
      "only 3 columns read" ->
        (p => p.contains("ReadSchema") &&
          p.linesIterator.exists(l => l.contains("ReadSchema") &&
            !l.contains("l_extendedprice"))))
    audit("q_j1_left_broadcast",
      "broadcast hash join chosen" -> (_.contains("BroadcastHashJoin")),
      "fact side has no shuffle before join" ->
        (p => !p.contains("hashpartitioning(l_suppkey")))
    audit("q_a2_crosstab",
      "single-pass partial aggregation" -> (_.contains("HashAggregate")),
      "whole-stage codegen active" -> (_.contains("codegen id")))
    audit("q_w4_topk_group",
      "window partitioned (no single-partition warning path)" ->
        (_.contains("Window")),
      "parquet scan prunes to 3 columns" ->
        (p => p.linesIterator.exists(l => l.contains("ReadSchema") &&
          !l.contains("p_name"))))
    audit("q_w3_sort_limit",
      "TakeOrderedAndProject (per-partition top-k, no global sort)" ->
        (_.contains("TakeOrderedAndProject")))
    audit("q_u3_explode_wordcount",
      "generate before partial aggregate" -> (_.contains("Generate")),
      "partial aggregation before shuffle" -> (_.contains("HashAggregate")))
    audit("q_e_asof",
      "as-of composes to sort+window, not an inequality join" ->
        (p => !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct") && p.contains("Window")))
    audit("q_e_asof_fwd",
      "forward as-of composes to sort+window, not an inequality join" ->
        (p => !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct") && p.contains("Window")))
    audit("q_e_range_join",
      "banded range join is an equi-join (no nested-loop/cartesian)" ->
        (p => p.contains("Join") && !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")))
    audit("q_d_embed_neardup",
      "LSH-banded candidates: equi-join on bucket, no per-block cartesian" ->
        (p => p.contains("Join") && !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")))
    audit("q_mm_phash_neardup",
      "pHash pairs ride the banded-Hamming equi-join, never all-pairs" ->
        (p => p.contains("Join") && !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")))
    audit("q_mm_audio_fp",
      "fingerprint is a pure per-partition decode: no join, no cartesian" ->
        (p => !p.contains("Join") && !p.contains("CartesianProduct")),
      "no single-partition funnel" -> (p => !p.contains("SinglePartition,")))
    audit("q_mm_image_decon",
      "cross-corpus candidates band-keyed: no train-x-bench cartesian" ->
        (p => p.contains("Join") && !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")))
    audit("q_mm_video_phash",
      "per-frame candidates join on (band, frame) keys, never all-pairs" ->
        (p => p.contains("Join") && !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")))
    audit("q_mm_audio_neardup",
      "clip dedup is an exact-key groupBy on the fingerprint (no " +
        "pairwise join beyond the size attach)" ->
        (p => !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin") &&
          p.contains("HashAggregate")))
    audit("q_p31_skew_report",
      "top-k heavy keys via TakeOrdered, not a global sort" ->
        (_.contains("TakeOrderedAndProject")))
    audit("q_s_jl_project",
      "projection is map-only: no join, no exchange except the sort" ->
        (p => !p.contains("Join") && !p.contains("hashpartitioning(")))
    audit("q_p30_curation_funnel",
      "gate predicates fold into one scan-stage pass (no per-gate scans)" ->
        (p => "Scan parquet".r.findAllIn(p).size <= 1))
    audit("q_t_blocklist",
      "lexicon joins broadcast (one corpus pass, not K regex scans)" ->
        (_.contains("BroadcastHashJoin")),
      "no cartesian, no nested loop on the gram join" ->
        (p => !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")))
    audit("q_t_quality",
      "text tokenized once: a single split() in the physical plan" ->
        (p => "split\\(".r.findAllIn(p).size <= 1))
    audit("q_j3_positional",
      "distributed global index: no single-partition exchange" ->
        (p => !p.contains("SinglePartition,") &&
          p.contains("rangepartitioning")))
    audit("q_w1_avg_rank",
      "global avg-rank via GlobalIndex: no single-partition exchange" ->
        (p => !p.contains("SinglePartition,") &&
          p.contains("rangepartitioning")))
    audit("q_d_line_dedup",
      "duplicate segments removed by anti-join on the segment key" ->
        (_.contains("LeftAnti")),
      "no cartesian, no single-partition exchange" ->
        (p => !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("SinglePartition,")))
    // q_t_tfidf reuses the tf diamond through an explicit persist, which the
    // plan STRING can't evidence (each InMemoryRelation echoes the cached
    // subtree, parquet scan included) — audit the executed plan's leaves:
    // every leaf must be the cached tf, none a direct file scan, so the
    // corpus is read once and N costs no second scan/action.
    section("q_t_tfidf") {
      val leaves = SparkEntry.queries("q_t_tfidf")(spark, sf)
        .queryExecution.executedPlan.collectLeaves()
      val file = leaves.count(_.nodeName.contains("Scan parquet"))
      val mem = leaves.count(_.nodeName.contains("InMemoryTableScan"))
      val ok = file == 0 && mem >= 3
      println(s"=== q_t_tfidf ===\n  leaves: $mem cached-tf reads, $file direct file scans")
      println(s"  [${if (ok) "OK" else "MISS"}] corpus scanned once via persisted tf (N derived in-plan)")
      if (!ok) failures ::= "q_t_tfidf: corpus scanned once via persisted tf"
      // instantiating the query persisted the tf frame; Spark's CacheManager
      // matches by analyzed plan, so a leftover InMemoryRelation would alter
      // later audited plans in this session — drop it like Verify/Bench do
      spark.catalog.clearCache()
    }
    audit("q_t_repetition",
      "per-doc argmax window is partitioned (no global window)" ->
        (p => p.contains("Window") && !p.contains("SinglePartition,")))
    // the CC loop runs its convergence actions while the final plan is
    // assembled — the audited plan is the label/canonical join stitch
    audit("q_d_dup_clusters",
      "component closure is equi-join propagation (no cartesian anywhere)" ->
        (p => !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")))
    // CC ROUND SHAPE: the loop body is ccPropagate + ccPointerJump between
    // checkpoint truncations. Pin each segment's shuffle-exchange count at
    // the SHUFFLE-JOIN shape a 100 TB edge list forces (broadcast disabled:
    // on planted audit-sized frames Spark would broadcast and hide the
    // shape) — an accidental distinct/window/extra join here would silently
    // multiply per-round shuffle volume at scale.
    section("cc round shape") {
      import org.apache.spark.sql.functions.col
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val pairs = spark.range(3).select(col("id").as("ida"),
          (col("id") + 1).as("idb"))
        val fwd = pairs.select(col("ida").as("a"), col("idb").as("b"))
        val edges = fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
          .localCheckpoint()
        val labels = edges.select(col("a").as("id")).distinct()
          .withColumn("comp", col("id")).localCheckpoint()
        def exchanges(df: org.apache.spark.sql.DataFrame): Int =
          df.queryExecution.executedPlan.collect {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
          }.size
        val prop = graft.dedup.DupClusters.ccPropagate(edges, labels)
        val nProp = exchanges(prop)
        val nJump = exchanges(graft.dedup.DupClusters.ccPointerJump(
          prop.localCheckpoint()))
        println(s"=== cc round shape ===\n  propagate: $nProp exchanges, " +
          s"pointer-jump: $nJump exchanges")
        // propagate: edges + labels shuffle onto the neighbour key (2), the
        // map-side-combined min onto the node id (1), labels stitch-back (1).
        // pointer-jump: ONE exchange only — the checkpointed prop preserves
        // its hashpartitioning(id), so the self-join's id-keyed side needs
        // no re-shuffle; only the comp-keyed probe side moves.
        // UPPER bounds, not exact counts: a planner that gets SMARTER (elides
        // an exchange) should pass; only an accidental extra
        // distinct/window/join shuffle — which multiplies per-round volume
        // at scale — should fail.
        val ok = nProp <= 4 && nJump <= 1
        println(s"  [${if (ok) "OK" else "MISS"}] CC round is at most 4+1 shuffle exchanges (no hidden extra shuffle)")
        if (!ok) failures ::= s"cc round shape: expected <=4 + <=1 exchanges, got $nProp+$nJump"
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    audit("q_d_decontaminate",
      "bench gram set is broadcast (eval suites are tiny at any corpus scale)" ->
        (_.contains("BroadcastHashJoin")),
      "no cartesian" ->
        (p => !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")))
    audit("q_t_pii_redact",
      "redaction is map-only: no hash-partition shuffle before the output sort" ->
        (p => !p.contains("hashpartitioning(")),
      "whole-stage codegen active (regex ops are expressions, not UDFs)" ->
        (_.contains("codegen id")))
    audit("q_d_semdedup",
      "quantizer argmin window is per-vector (no single-partition window)" ->
        (p => p.contains("Window") && !p.contains("SinglePartition,")),
      "pair scoring blocks on the cell key (no unblocked cartesian)" ->
        // the k-row centroid attach IS a broadcast nested loop by design;
        // a CartesianProduct would mean the PAIR join lost its cell key
        (p => !p.contains("CartesianProduct")))
    audit("q_t_pack",
      "global prefix sum is two-pass range scheme (no single-partition sort)" ->
        (p => !p.contains("SinglePartition,") &&
          p.contains("rangepartitioning")),
      "offsets attach via broadcast join" -> (_.contains("BroadcastHashJoin")))
    audit("q_j_salted",
      "salted join stays an equi-join on (key, salt)" ->
        (p => p.contains("Join") && !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")))
    audit("q_t_perplexity",
      "doc bigrams join the model on the bigram key (no unblocked cartesian)" ->
        // the 1-row vocabulary attach IS a broadcast nested loop by design
        (p => !p.contains("CartesianProduct")),
      "model counts partial-aggregate before their shuffle" ->
        (_.contains("HashAggregate")))
    audit("q_p16_token_budget_mix",
      "k-row rate table broadcast back onto the corpus" ->
        (_.contains("BroadcastHashJoin")),
      "no cartesian beyond the 1-row T* attach" ->
        (p => !p.contains("CartesianProduct")))
    audit("q_d_incremental",
      "batch-vs-corpus arbitration joins on hash/band keys (no cartesian)" ->
        (p => p.contains("Join") && !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")))
    audit("q_d_dup_spans",
      "anchor coverage is a gram-key equi-join; runs window is per-doc" ->
        (p => !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("SinglePartition,")))
    audit("q_d_span_scrub",
      "coverage explode keeps scrubbing an equi-join (no range/cartesian)" ->
        (p => !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")))
    // q_t_bpe_encode registers an eager-checkpointed frame (its audited
    // plan would be a bare LogicalRDD scan), so audit the OPERATOR's
    // pre-checkpoint plan: corpus words must reach the encoded vocab via
    // a word-key equi-join — never a cartesian — and the per-doc rollup
    // must partial-aggregate before its shuffle.
    section("bpe encode (operator form)") {
      val (enc, release) = graft.text.BpeMerge.encodeCorpusReleasable(
        graft.Tables.documents(spark, sf), "doc_id", "text", 1)
      val plan = enc.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"=== bpe encode (operator form) ===")
      val checks = Seq(
        "vocab attach is a word-key equi-join (no cartesian)" ->
          (plan.contains("Join") && !plan.contains("CartesianProduct") &&
            !plan.contains("BroadcastNestedLoopJoin")),
        "per-doc rollup partial-aggregates before the shuffle" ->
          plan.contains("HashAggregate"))
      checks.foreach { case (desc, ok) =>
        println(s"  [${if (ok) "OK" else "MISS"}] $desc")
        if (!ok) failures ::= s"bpe encode: $desc"
      }
      release()
    }
    audit("q_d_decontaminate_scored",
      "bench gram set is broadcast; severity rides ONE left join + agg" ->
        (p => p.contains("BroadcastHashJoin") &&
          !p.contains("CartesianProduct")))
    // q_t_ppl_buckets registers an eager-checkpointed frame; audit the
    // OPERATOR's pre-checkpoint plan: the head/middle/tail ranking must
    // use the range-partitioned global index, never a single-partition
    // window (the ntile trap), and n attaches by broadcast.
    section("perplexity buckets (operator form)") {
      val docs = graft.Tables.documents(spark, sf)
      val (out, release) = graft.text.NgramLm.perplexityBucketsReleasable(
        docs, "doc_id", "text", docs, "text", nBuckets = 3)
      val plan = out.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"=== perplexity buckets (operator form) ===")
      val checks = Seq(
        "data never funnels single-partition (ranking = global index, not ntile; scalar total reduces allowed)" ->
          scalarReducesOnly(plan),
        "rank order comes from range partitioning" ->
          plan.contains("rangepartitioning"),
        "the 1-row scorable count attaches by broadcast" ->
          plan.contains("BroadcastNestedLoopJoin"))
      checks.foreach { case (desc, ok) =>
        println(s"  [${if (ok) "OK" else "MISS"}] $desc")
        if (!ok) failures ::= s"ppl buckets: $desc"
      }
      release()
    }
    audit("q_s_ivf_pq",
      // the config-sized centroid/codebook attaches ARE broadcast nested
      // loops by design; a CartesianProduct would mean a corpus-sized
      // pair join lost its key
      "no non-broadcast cartesian anywhere" ->
        (p => !p.contains("CartesianProduct")),
      "PQ encode argmin is a map-side-combined aggregation (no corpus window)" ->
        (_.contains("HashAggregate")),
      "LUT/code joins are hash equi-joins" ->
        (p => p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")))
    audit("q_d_embed_incremental",
      "bucket-keyed candidate join, no all-pairs cartesian" ->
        (p => p.contains("Join") && !p.contains("CartesianProduct")),
      "verdict rollup partial-aggregates before its shuffle" ->
        (_.contains("HashAggregate")))
    audit("q_s_pq_train",
      // training = broadcast codebook joins + hash aggregations; a window
      // or cartesian would mean the corpus-scale encode path regressed
      "codebook attaches by broadcast every sweep" ->
        (_.contains("BroadcastHashJoin")),
      "assignment argmin + cluster sums are map-side-combined aggregations" ->
        (_.contains("HashAggregate")),
      "no corpus-sized window, no cartesian" ->
        (p => !p.contains("CartesianProduct") &&
          !p.contains("SinglePartition,")))
    audit("q_s_ivf_append",
      // assignment inlines the config-sized quantizer as literals — a
      // pure map pass (an agg carrying the vector column would fall to
      // SortAggregate); probing = broadcast centroid window + ONE list
      // equi-join
      "assignment is a map-side literal argmin (no sort aggregate)" ->
        (p => !p.contains("SortAggregate")),
      "probe side attaches by broadcast" ->
        (_.contains("BroadcastHashJoin")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_sk_kmv_theta",
      // the sketch property AS a plan property: per-partition state is
      // k-bounded because the build rides the GroupedTopK operator
      "state build rides GroupedTopK (bounded per-partition k-heaps)" ->
        (_.contains("GroupedTopK")),
      "digest dedup + state assembly partial-aggregate" ->
        (_.contains("HashAggregate")))
    audit("q_d_cc_incremental",
      // the corpus-sized index relabel must be map-side: its only join
      // against the root remap is a broadcast hash join
      "persisted-index relabel is a broadcast join (index never shuffles)" ->
        (_.contains("BroadcastHashJoin")),
      "no cartesian anywhere in the closure or remap" ->
        (p => !p.contains("CartesianProduct")))
    audit("q_j_salted_adaptive",
      "the join stays a (key, salt) equi-join" ->
        (p => p.contains("Join") && !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")),
      "heavy-key set attaches by broadcast to both sides" ->
        (_.contains("BroadcastHashJoin")))
    audit("q_d_containment",
      "containment candidates come from the blocked shingle equi-join" ->
        (p => p.contains("Join") && !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")),
      "pair counts partial-aggregate before their shuffle" ->
        (_.contains("HashAggregate")))
    audit("q_s_cluster_sample",
      "per-cluster cap is a keyed window (no single-partition exchange)" ->
        (p => p.contains("Window") && !p.contains("SinglePartition,")))
    // q_p18_shuffle registers an eager-checkpointed frame; audit the
    // OPERATOR's pre-checkpoint plan: the permutation position must come
    // from the range-partitioned global index, never a single-partition
    // row_number.
    section("seeded shuffle (operator form)") {
      val (out, release) = graft.etl.DataMix.seededShuffleReleasable(
        graft.Tables.documents(spark, sf).select("doc_id"), "doc_id",
        "epoch0")
      val plan = out.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"=== seeded shuffle (operator form) ===")
      val checks = Seq(
        "no single-partition exchange (position = global index)" ->
          !plan.contains("SinglePartition,"),
        "permutation order comes from range partitioning" ->
          plan.contains("rangepartitioning"))
      checks.foreach { case (desc, ok) =>
        println(s"  [${if (ok) "OK" else "MISS"}] $desc")
        if (!ok) failures ::= s"seeded shuffle: $desc"
      }
      release()
    }
    // q_p17_token_shards registers an eager-checkpointed frame; audit the
    // OPERATOR's pre-checkpoint plan: the token prefix sum must be the
    // two-pass range scheme (never a single-partition window) and the
    // 1-row total attaches by broadcast.
    section("token shards (operator form)") {
      import org.apache.spark.sql.functions.{col, size}
      val docs = graft.Tables.documents(spark, sf)
        .withColumn("n_tokens",
          size(graft.text.TextOps.tokens(col("text"))).cast("long"))
        .select("doc_id", "n_tokens")
      val (out, release) = graft.etl.Sharding.tokenBalancedShardsReleasable(
        docs, "doc_id", col("n_tokens"), 8)
      val plan = out.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"=== token shards (operator form) ===")
      val checks = Seq(
        "data never funnels single-partition (prefix sum = range scheme; scalar total reduces allowed)" ->
          scalarReducesOnly(plan),
        "prefix-sum order comes from range partitioning" ->
          plan.contains("rangepartitioning"),
        "1-row total attaches by broadcast" ->
          plan.contains("BroadcastNestedLoopJoin"))
      checks.foreach { case (desc, ok) =>
        println(s"  [${if (ok) "OK" else "MISS"}] $desc")
        if (!ok) failures ::= s"token shards: $desc"
      }
      release()
    }
    // q_t_dsir registers an eager-checkpointed frame; audit the OPERATOR's
    // pre-checkpoint plan: both models must join the ONE exploded corpus
    // bigram frame on equi-keys, vocab sizes attach as broadcast 1-row
    // frames (BroadcastNestedLoopJoin by design), and the rank comes from
    // the range-partitioned global index — never a single-partition window.
    section("dsir (operator form)") {
      val docs = graft.Tables.documents(spark, sf)
      val (out, release) = graft.text.Dsir.selectTopFractionReleasable(
        docs, "doc_id", "text",
        docs.filter(org.apache.spark.sql.functions.col("lang") =!= "en"),
        "text")
      val plan = out.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"=== dsir (operator form) ===")
      val checks = Seq(
        "data never funnels single-partition (rank = global index; scalar total reduces allowed)" ->
          scalarReducesOnly(plan),
        "rank order comes from range partitioning" ->
          plan.contains("rangepartitioning"),
        "model joins are equi-joins (no corpus-sized cartesian)" ->
          !plan.contains("CartesianProduct"),
        "per-doc score partial-aggregates before its shuffle" ->
          plan.contains("HashAggregate"))
      checks.foreach { case (desc, ok) =>
        println(s"  [${if (ok) "OK" else "MISS"}] $desc")
        if (!ok) failures ::= s"dsir: $desc"
      }
      release()
    }
    audit("q_t_gopher_rules",
      "rule gate is map-only (no hash-partition shuffle before output sort)" ->
        (p => !p.contains("hashpartitioning(")),
      "text tokenized once: a single split() in the physical plan" ->
        (p => "split\\(".r.findAllIn(p).size <= 1),
      "whole-stage codegen active (rules are expressions, not UDFs)" ->
        (_.contains("codegen id")))
    audit("q_t_diversity",
      "gram collapse partial-aggregates before the (group, gram) shuffle" ->
        (_.contains("HashAggregate")),
      "no cartesian" -> (p => !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin")))
    audit("q_p19_temperature_mix",
      "k-row rate table broadcast back onto the corpus" ->
        (_.contains("BroadcastHashJoin")),
      // the 1-row n_min attach IS a broadcast nested loop by design
      "no corpus-sized cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_p20_reservoir",
      "two-level tournament: keyed windows only, no single-partition exchange" ->
        (p => p.contains("Window") && !p.contains("SinglePartition,")))
    audit("q_d_bloom_decon",
      // the 1-row bitmap attach IS a broadcast nested loop by design
      "exact verify join is a broadcast hash join on the gram key" ->
        (_.contains("BroadcastHashJoin")),
      "no corpus-sized cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_p21_weighted_reservoir",
      // level 2 of the tournament IS a bounded global window (<= k*P
      // survivor rows) — the audit pins that level 1 pruned BEFORE it
      "tournament prunes per-partition before the bounded global rank" ->
        (p => "Window".r.findAllIn(p).size >= 2))
    audit("q_s_sq8",
      "per-dim stats attach as ONE broadcast row (corpus never shuffles)" ->
        (_.contains("BroadcastNestedLoopJoin")),
      "only the stats pass shuffles (dim-keyed partial aggregation)" ->
        (_.contains("HashAggregate")),
      "no corpus-sized cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_e_funnel",
      "every step joins keyed on the user (no time-range or nested-loop join)" ->
        (p => !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")),
      "per-step min reduces per user before the next stage" ->
        (_.contains("HashAggregate")))
    audit("q_e_retention",
      "cohort join is keyed (no cartesian/nested loop)" ->
        (p => !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")),
      "distinct-user count partial-aggregates before its shuffle" ->
        (_.contains("HashAggregate")))
    audit("q_d_corpus_overlap",
      "self-join keyed on the shingle (no all-pairs)" ->
        (p => !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")),
      "distinct (source, shingle) frame computed once and reused (cache)" ->
        (_.contains("InMemoryTableScan")))
    audit("q_a13_corr_matrix",
      "all 6 coefficients from ONE scan (single aggregation subtree)" ->
        (p => "Scan parquet  \\(".r.findAllIn(p).size == 1),
      "co-moment state partial-aggregates map-side" ->
        (_.contains("HashAggregate")))
    audit("q_t_entropy",
      "map-only: no hash-partition shuffle before the output sort" ->
        (p => !p.contains("hashpartitioning(")),
      "char_entropy rides whole-stage codegen (native expression, not a UDF)" ->
        (_.contains("codegen id")))
    audit("q_e_session_stats",
      "session assembly stays user-partitioned (no single-partition window)" ->
        (p => p.contains("Window") && !p.contains("SinglePartition,")),
      "no cartesian" -> (p => !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin")))
    audit("q_s_hard_negatives",
      // the label-inequality anchor attach IS a broadcast nested loop by
      // design: 5 anchors ride the task closure, the corpus never shuffles
      // before scoring
      "anchors broadcast (corpus side never pre-shuffles)" ->
        (_.contains("BroadcastNestedLoopJoin")),
      "no unbroadcast cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_d_cdc_chunks",
      "boundary detect + slice are map-only (Generate in the scan stage)" ->
        (_.contains("Generate")),
      // exactly the distinct-agg exchange pair: partial distinct keyed
      // (chunk_hash, id), final keyed chunk_hash — both on the chunk key,
      // nothing upstream of the roll-up shuffles
      "only the chunk-hash roll-up shuffles (distinct-agg pair)" ->
        (p => "hashpartitioning\\(".r.findAllIn(p).size <= 2),
      "no cartesian" -> (p => !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin")))
    // q_s_knn_graph registers through the session-shared KnnGraphCache
    // (an eager localCheckpoint — the registered plan is a bare RDD
    // scan), so the BUILDER plan is audited directly here
    section("knn graph (operator form)") {
      val plan = graft.sim.SimilarityOps.knnGraph(
          graft.Tables.embeddings(spark, sf), "vec_id", "embedding",
          nList = 16, nProbe = 4, k = 5)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      println("=== knn graph (operator form) ===")
      println(plan.linesIterator.take(25).mkString("\n"))
      Seq[(String, String => Boolean)](
        // the 16-row centroid attach IS a broadcast nested loop by design
        "candidate pairs keyed on the coarse list (both sides shuffle on it)" ->
          (_.contains("hashpartitioning(list")),
        "no unbroadcast cartesian" -> (p => !p.contains("CartesianProduct"))
      ).foreach { case (desc, check) =>
        val ok = check(plan)
        println(s"  [${if (ok) "OK" else "MISS"}] $desc")
        if (!ok) failures ::= s"knn graph (operator form): $desc"
      }
    }
    // the CC closure runs its convergence actions while the final plan is
    // assembled (q_d_dup_clusters precedent) — the audited plan is the
    // label/size stitch over the converged labels
    audit("q_s_semantic_clusters",
      "label attach + size roll-up are keyed joins (no cartesian)" ->
        (p => !p.contains("CartesianProduct") &&
          p.contains("hashpartitioning(")),
      "no global window" -> (p => scalarReducesOnly(p)))
    audit("q_p22_stratified_split",
      "per-stratum rank window only (no global data funnel)" ->
        (p => p.contains("Window") && scalarReducesOnly(p)),
      "stratum counts attach by broadcast" ->
        (_.contains("BroadcastHashJoin")))
    audit("q_t_trigram_sb",
      "gram scoring joins are equi-joins on gram keys (no cartesian)" ->
        (p => !p.contains("CartesianProduct")),
      // the 1-row (N, V) attach IS a broadcast nested loop by design
      "count tables partial-aggregate before their shuffles" ->
        (_.contains("HashAggregate")),
      "no global data funnel" -> (p => scalarReducesOnly(p)))
    audit("q_pipeline_corpus_card",
      "three source-keyed aggregates joined on the source key" ->
        (p => p.contains("HashAggregate") &&
          !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")),
      "dominant language via per-source window, never over rows" ->
        (p => p.contains("Window") && scalarReducesOnly(p)))
    audit("q_e_attribution",
      "touch join keyed on the user (no time-only or nested-loop join)" ->
        (p => !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")),
      // struct-typed min/max is not hash-aggregable, so this plans as a
      // keyed SortAggregate — still a partial/final pair on the group key
      "per-conversion extrema in a keyed aggregate (no window)" ->
        (p => (p.contains("HashAggregate") || p.contains("SortAggregate")) &&
          scalarReducesOnly(p)))
    audit("q_e_moving_avg",
      "range-frame window stays user-partitioned" ->
        (p => p.contains("Window") && scalarReducesOnly(p)))
    audit("q_j7_interval",
      // the k-interval band attach IS a broadcast nested loop by design
      "band table broadcast (fact side never shuffles before the lookup)" ->
        (p => p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")),
      "band roll-up partial-aggregates map-side" ->
        (_.contains("HashAggregate")))
    audit("q_sk_hll_distinct",
      "sketch and exact count share one scan (single aggregation subtree)" ->
        // tree nodes only — formatted mode repeats each node in the detail
        // section ("(1) Scan parquet"), which is not a second scan.
        // EXACTLY one: a zero count means the node spelling changed and the
        // assertion would otherwise pass vacuously on any plan
        (p => "Scan parquet  \\(".r.findAllIn(p).size == 1))

    audit("q_d_exact_spans",
      "gram rows shuffle ONCE on the dual-hash key (window, not " +
        "groupBy+rejoin — no join anywhere in the plan)" ->
        (p => p.contains("hashpartitioning(h1") && !p.contains("Join")),
      "per-doc island closure shuffles on the doc id" ->
        (_.contains("hashpartitioning(id")),
      "span aggregation partial-aggregates map-side" ->
        (_.contains("partial_min")),
      "scan pruned to id+text (no lang/source/n_chars)" ->
        (p => p.linesIterator.exists(l => l.contains("ReadSchema") &&
          l.contains("text") && !l.contains("lang"))))
    audit("q_d_prefix_jaccard",
      "candidates come from keyed joins only (no cartesian fallback)" ->
        (p => !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")),
      "prefix ranking windows are per-doc (no global window)" ->
        (p => p.contains("hashpartitioning(id")))
    audit("q_d_exact_spans_incr",
      "batch keys probe the index by left-semi join" ->
        (_.contains("LeftSemi")),
      "gram rows shuffle on the dual-hash key" ->
        (_.contains("hashpartitioning(h1")))
    audit("q_a14_mad_outliers",
      "median windows are group-partitioned (no single-partition sort)" ->
        (p => !p.contains("SinglePartition,") &&
          p.contains("hashpartitioning(g")))
    audit("q_m36_quantile_bins",
      "global rank rides range partitioning, never one partition" ->
        (p => p.contains("rangepartitioning") &&
          !p.contains("SinglePartition,")))
    audit("q_s_graph_rank",
      // knnGraph's centroid attach IS a BroadcastNestedLoopJoin by design
      // (config-sized centroids against every vector); the iterations
      // themselves must never go cartesian
      "no cartesian product anywhere in the unrolled iterations" ->
        (p => !p.contains("CartesianProduct")),
      "rank joins are keyed equi-joins (hash-partitioned src/dst)" ->
        (p => p.contains("hashpartitioning(src") ||
          p.contains("hashpartitioning(dst")),
      "per-iteration in-sums partial-aggregate map-side" ->
        (_.contains("partial_sum")))
    audit("q_j8_tpch_q3",
      "segment filter pushed into the customer scan" ->
        (_.contains("EqualTo(c_mktsegment,BUILDING)")),
      "dimension side joins by broadcast" ->
        (_.contains("BroadcastHashJoin")),
      "top-10 is a TakeOrdered, never a global sort of all groups" ->
        (p => p.contains("TakeOrderedAndProject") &&
          !p.contains("GlobalLimit")))
    audit("q_j9_tpch_q5",
      "six-table chain plans >= 3 broadcast joins, zero cartesian" ->
        (p => "BroadcastHashJoin".r.findAllIn(p).size >= 3 &&
          !p.contains("CartesianProduct")),
      "region filter pushed into its scan" ->
        (_.contains("EqualTo(r_name,ASIA)")),
      "revenue partial-aggregates map-side" ->
        (_.contains("partial_sum")))
    audit("q_p25_hilbert",
      "1-row bounds attach by broadcast; curve key is map-side" ->
        (p => p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("hashpartitioning(")),
      "bounds reduce is the only SinglePartition exchange" ->
        scalarReducesOnly)
    audit("q_d_exact_scrub",
      "anchor generation shuffles once on the dual-hash key" ->
        (_.contains("hashpartitioning(h1")),
      "span surgery joins keyed on the doc id (no nested loop over " +
        "docs x spans)" ->
        (p => !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")),
      "island closure partial-aggregates map-side" ->
        (_.contains("partial_min")))
    audit("q_p23_zorder",
      "1-row min/max bounds attach by broadcast (never a shuffle)" ->
        (p => p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")),
      "bounds reduce is the only SinglePartition exchange (scalar, " +
        "partial-aggregated map-side)" -> scalarReducesOnly,
      "morton key is pure map-side: zero hash exchanges" ->
        (p => !p.contains("hashpartitioning(")))
    audit("q_t_bm25",
      // the inverted-index shape: query table, idf and corpus stats are
      // all config-sized broadcasts onto the postings — the only
      // doc-scale shuffles are the (doc,term) aggregation and the dl join
      "query/idf/stats attach by broadcast" ->
        (_.contains("BroadcastHashJoin")),
      "per-query ranking rides the bounded GroupedTopK heap" ->
        (_.contains("GroupedTopK")),
      "no cartesian (corpus stats ride BroadcastNestedLoop, not a " +
        "cross product)" -> (p => !p.contains("CartesianProduct")),
      "corpus stats are the only SinglePartition reduce (scalar, " +
        "partial map-side)" -> scalarReducesOnly)
    audit("q_e_gapfill",
      // the dense grid is generated DISTRIBUTED (per-key sequence +
      // explode after the span agg), never driver-built
      "grid explode is a Generate node in the plan" ->
        (_.contains("Generate")),
      "every stage is user-keyed: no data-sized SinglePartition funnel" ->
        scalarReducesOnly,
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_d_fuzzy_link",
      // blocking IS the shuffle key: candidate pairs form under a
      // block-keyed equi-join, never an all-pairs product
      "candidates join on the blocking key (broadcast at audit scale, " +
        "block-keyed exchange at data scale)" ->
        (p => p.contains("hashpartitioning(__blk") ||
          p.contains("BroadcastHashJoin")),
      "no cartesian — the blocked join bounds the pair space" ->
        (p => !p.contains("CartesianProduct")),
      "per-record emit bounded by the GroupedTopK heap" ->
        (_.contains("GroupedTopK")))
    audit("q_t_pmi",
      // the global top-k plans as TakeOrdered (per-partition heaps) —
      // never a full sort; the only unkeyed window is the rank labeler
      // over the already-limited k rows
      "global top-k is TakeOrdered, not a global sort" ->
        (_.contains("TakeOrderedAndProject")),
      "gram aggregations partial map-side" ->
        (_.contains("partial_count")),
      "no cartesian (corpus totals ride broadcast)" ->
        (p => !p.contains("CartesianProduct")))
    audit("q_e_burst",
      // one user-keyed window pass — the naive time-band self-join
      // (events x events) never appears
      "single keyed window, no self-join" ->
        (p => p.contains("hashpartitioning(user_id") &&
          !p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin")),
      "range frame on integer epoch-micros (RunningWindowFunction or " +
        "Window node present)" -> (_.contains("Window")),
      "no data-sized SinglePartition funnel" -> scalarReducesOnly)
    audit("q_a17_basket_lift",
      // pair generation shuffles on the BASKET key: each basket emits
      // C(|basket|,2) pairs — never an item-domain cross product
      "pair space forms under the basket-keyed self-join" ->
        (p => p.contains("hashpartitioning(__b") ||
          p.contains("BroadcastHashJoin")),
      "no cartesian (basket total rides broadcast)" ->
        (p => !p.contains("CartesianProduct")),
      "global top-k is TakeOrdered" ->
        (_.contains("TakeOrderedAndProject")),
      "pair/marginal counts partial map-side" ->
        (_.contains("partial_count")))
    audit("q_m37_anova",
      // the whole data pass is ONE map-side-combined aggregation of
      // exact integer sufficient statistics; everything after runs on
      // k group rows per variable
      "sufficient statistics partial-aggregate map-side" ->
        (p => p.contains("partial_count") || p.contains("partial_sum")),
      "no join anywhere (single-pass sufficient statistics)" ->
        (p => !p.contains("Join")),
      "no data-sized SinglePartition funnel" -> scalarReducesOnly)
    audit("q_s_maxsim",
      // query tokens broadcast onto the corpus; per-pair cosine is the
      // codegen'd expression; ranking rides the GroupedTopK heap
      "query tokens attach by broadcast" ->
        (p => p.contains("BroadcastNestedLoopJoin") ||
          p.contains("BroadcastHashJoin")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")),
      "per-query ranking rides GroupedTopK" ->
        (_.contains("GroupedTopK")),
      "max-per-token reduction partial map-side" ->
        (_.contains("partial_max")))
    audit("q_e_paths",
      // session assembly + path build are all user-keyed; only the
      // path-count agg re-keys (gram-keyed), and the global top-k is
      // TakeOrdered over it
      "session windows keyed on the user" ->
        (_.contains("hashpartitioning(user_id")),
      "global top-k is TakeOrdered" ->
        (_.contains("TakeOrderedAndProject")),
      "no cartesian / no self-join" ->
        (p => !p.contains("CartesianProduct") && !p.contains("Join")))
    audit("q_e_scd2",
      // ONE key-partitioned window pass builds the whole history table
      "single keyed window pass (row_number + lead share one sort)" ->
        (_.contains("hashpartitioning(user_id")),
      "no join, no data-sized SinglePartition funnel" ->
        (p => !p.contains("Join") && scalarReducesOnly(p)))
    audit("q_m38_ks",
      // the data pass is ONE map-side-combined (variable, value) counts
      // agg; the ECDF window runs over distinct values per variable and
      // the totals attach by broadcast
      "value-counts aggregation partial map-side" ->
        (p => p.contains("partial_sum") || p.contains("partial_count")),
      "per-variable totals attach by broadcast" ->
        (_.contains("BroadcastHashJoin")),
      "ECDF window keyed per variable (no global sort funnel)" ->
        (p => !p.contains("Sort [") ||
          !p.contains("SinglePartition, ENSURE_REQUIREMENTS")))
    audit("q_m39_mwu",
      "value-counts aggregation partial map-side" ->
        (p => p.contains("partial_sum") || p.contains("partial_count")),
      "per-variable totals attach by broadcast" ->
        (_.contains("BroadcastHashJoin")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_s_rrf",
      // both input rankers keep their own at-scale plans; the fusion
      // itself is query-keyed over bounded candidates and the final cut
      // rides the bounded-heap operator
      "lexical leg prunes postings before aggregation (term IN-list " +
        "filter present in the plan)" -> (_.contains(" IN (")),
      "dense probes broadcast onto the corpus" ->
        (p => p.contains("BroadcastNestedLoopJoin") ||
          p.contains("BroadcastHashJoin")),
      "fused cut rides GroupedTopK" -> (_.contains("GroupedTopK")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_s_triangles",
      // degree-ordered orientation: the wedge self-join and the closing
      // edge lookup are both keyed equi-joins (sort-merge or hash), and
      // nothing in the plan is an unkeyed product
      "wedge + closing joins are keyed equi-joins" ->
        (p => p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
          || p.contains("BroadcastHashJoin")),
      // (the knnGraph input legitimately broadcasts centroids via
      // BroadcastNestedLoop; only an unkeyed shuffled product is banned)
      "no cartesian anywhere" -> (p => !p.contains("CartesianProduct")),
      "per-node counts partial map-side" -> (_.contains("partial_count")))
    audit("q_a19_winsorize",
      // the data pass is the (group, value) counts agg; bounds and the
      // winsorized sum run over the counts table with broadcast bounds
      "value-counts aggregation partial map-side" ->
        (_.contains("partial_count")),
      "bounds attach by broadcast" -> (_.contains("BroadcastHashJoin")),
      "no data-sized SinglePartition funnel" -> scalarReducesOnly)
    audit("q_a18_cube",
      // 2^k grouping sets ride ONE Expand into ONE hash aggregate —
      // subtotals are not separate scans
      "grouping sets expand in-plan" -> (_.contains("Expand")),
      "single aggregate pass (partial map-side)" ->
        (p => p.contains("partial_count") || p.contains("partial_sum")),
      // formatted mode prints each scan once in the tree and once in the
      // detail section — one physical scan = one Location: line
      "one parquet scan only" ->
        (p => "Location:".r.findAllIn(p).length == 1))
    audit("q_t_rake",
      // extraction is a map-side regex chain; freq/deg and phrase
      // scoring are keyed aggs; the cut is a bounded global top-k
      "word aggregates partial map-side" ->
        (p => p.contains("partial_count") || p.contains("partial_sum")),
      "global cut is TakeOrdered" ->
        (_.contains("TakeOrderedAndProject")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_t_calibration",
      // score counts aggregate map-side; the decile assignment rides the
      // two-pass distributed prefix sum, never a global-order window
      "score counts partial map-side" -> (_.contains("partial_count")),
      "prefix-sum window is partition-local (keyed on the physical " +
        "partition id, never a global order)" ->
        (p => p.contains("windowspecdefinition(__pid")),
      "only scalar totals reduce to a single partition" ->
        scalarReducesOnly)
    audit("q_m40_mutual_info",
      // one data-scale pass (the joint-counts agg); marginals derive
      // from cells; totals broadcast; no data-sized funnel
      "joint counts partial map-side" -> (_.contains("partial_count")),
      "per-variable totals attach by broadcast" ->
        (_.contains("BroadcastHashJoin")),
      "no data-sized SinglePartition funnel" -> scalarReducesOnly)
    audit("q_e_seqpat",
      // pair extraction self-joins WITHIN the session key — work is
      // bounded by session length, never user x user
      "pair self-join keyed on (user, session)" ->
        (p => p.contains("hashpartitioning(u") ||
          p.contains("SortMergeJoin")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")),
      "global cut is TakeOrdered" ->
        (_.contains("TakeOrderedAndProject")))
    audit("q_s_kcore",
      // the final round's plan: a degree agg over the checkpointed edge
      // set — earlier rounds are materialized behind the lineage cut
      "per-node degree count partial map-side" ->
        (_.contains("partial_count")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_m42_grouped_ols",
      // ONE map-side pass of integer sufficient statistics; the closed
      // form runs on group rows — same shape as q_m37_anova
      "sufficient statistics partial-aggregate map-side" ->
        (p => p.contains("partial_count") && p.contains("partial_sum")),
      "no join anywhere (single-pass closed form)" ->
        (p => !p.contains("Join")),
      "no data-sized SinglePartition funnel" -> scalarReducesOnly)
    audit("q_t_phrase_search",
      // postings prune to the query terms BEFORE any shuffle; the
      // adjacency constraint is a doc-keyed equi-join
      "postings pruned by term IN-list" -> (_.contains(" IN (")),
      "adjacency is a keyed equi-join (no cartesian)" ->
        (p => !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")),
      "occurrence counts partial map-side" ->
        (_.contains("partial_count")))
    audit("q_m43_quantile_map",
      // both sides collapse to counts map-side; ranks ride the two-pass
      // prefix sum; the rank lookup broadcasts the reference cum table
      "value counts partial map-side" -> (_.contains("partial_count")),
      "prefix-sum window is partition-local" ->
        (_.contains("windowspecdefinition(__pid")),
      "rank lookup broadcasts the reference table" ->
        (_.contains("BroadcastNestedLoopJoin")),
      "no shuffled cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_d_embed_decon",
      // the bench side broadcasts; cosines fuse into the corpus scan
      // stage and the per-item max collapses map-side
      "benchmark vectors broadcast onto the corpus" ->
        (p => p.contains("BroadcastNestedLoopJoin") ||
          p.contains("BroadcastHashJoin")),
      "per-item max partial map-side" -> (_.contains("partial_max")),
      "no shuffled cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_a20_hist2d",
      // bucket arithmetic is pure map-side on the scan; the only
      // reduce-side work is the bounds row and the B^2 cell aggregate
      "cell counts partial map-side" -> (_.contains("partial_count")),
      "bounds attach by broadcast" ->
        (_.contains("BroadcastNestedLoopJoin")),
      "scalar bounds are the only SinglePartition reduce" ->
        scalarReducesOnly)
    // q_e_session_funnel carries no audit entry: its returned frame is a
    // driver-built k-row local relation (the per-step counts run as
    // internal jobs over the session-keyed frames), so the final plan is
    // a LocalTableScan with nothing to assert — the scale shape is
    // spec- and SURVEY-documented instead.
    audit("q_t_novelty",
      // gram build is the tokenize-once shingle explode; the seen-test is
      // ONE gram-keyed equi-join (deliberately shuffled — the reference
      // corpus is corpus-scale, unlike decontaminate's broadcast side)
      "shingle explode generates in-plan" -> (_.contains("Generate")),
      "seen-test is a keyed equi-join (no nested-loop/cartesian)" ->
        (p => (p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
          || p.contains("BroadcastHashJoin")) &&
          !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")),
      "per-doc roll-up partial map-side" -> (_.contains("partial_count")))
    audit("q_s_rerank",
      // three bounded top-k legs union into a candidate set; features
      // join back per (query, id); normalization windows run per query
      "lexical leg prunes postings before aggregation (term IN-list)" ->
        (_.contains(" IN (")),
      "dense/maxsim probes broadcast onto the corpus" ->
        (p => p.contains("BroadcastNestedLoopJoin") ||
          p.contains("BroadcastHashJoin")),
      "normalization windows are query-partitioned (no global window)" ->
        (p => p.contains("Window") &&
          p.contains("hashpartitioning(query_id")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_s_semantic_adaptive",
      // the threshold derivation and CC closure both truncate through
      // checkpointed RDDs; the residual plan is the label/size join pair
      "label and size joins are keyed equi-joins" ->
        (p => p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
          || p.contains("BroadcastHashJoin")),
      "cluster sizes partial map-side" -> (_.contains("partial_count")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_s_retrieval_eval",
      // run and qrels are per-query bounded; the evaluation is one
      // (qid, neighbor) equi-join plus two qid-keyed aggregates
      "hit join and metric aggregates are keyed (no shuffled product)" ->
        (p => !p.contains("CartesianProduct")),
      "per-query aggregates partial map-side" ->
        (p => p.contains("partial_count") && p.contains("partial_min")),
      "ideal-order window is query-partitioned" ->
        (p => p.contains("Window") && p.contains("hashpartitioning(qid")))
    audit("q_s_mmr",
      // r15: each greedy step (anti-join + keyed max + per-query argmax
      // window) TRUNCATES its lineage (lazy localCheckpoint → fresh
      // LogicalRDD — the untruncated plan doubled per step), so the
      // registered frame's plan is the final step's RDD scan; the
      // per-step selection semantics are pinned by MmrDiversifySpec and
      // the step-unrolled DuckDB oracle
      "result is the truncated greedy chain (RDD scan)" ->
        (p => p.contains("Scan ExistingRDD")),
      "no shuffled product anywhere in the k-step plan" ->
        (p => !p.contains("CartesianProduct")))
    audit("q_m44_psi",
      // one (variable, value) counts aggregate per snapshot is the data
      // pass; the term arithmetic runs over distinct-value cells
      "bin counts partial map-side" -> (_.contains("partial_count")),
      "snapshot counts meet in a keyed outer join (no product)" ->
        (p => (p.contains("SortMergeJoin FullOuter") ||
          p.contains("ShuffledHashJoin") ||
          p.contains("SortMergeJoin")) && !p.contains("CartesianProduct")),
      "no data-sized SinglePartition funnel" -> scalarReducesOnly)
    audit("q_s_matryoshka",
      // candidate stage broadcasts queries onto one corpus scan; the
      // rerank touches only the bounded survivors
      "queries broadcast onto the corpus scan" ->
        (p => p.contains("BroadcastNestedLoopJoin") ||
          p.contains("BroadcastHashJoin")),
      "both ranking windows query-partitioned" ->
        (p => p.contains("Window") && p.contains("hashpartitioning(qid")),
      "one parquet scan of the corpus only" ->
        (p => "Location:".r.findAllIn(p).length <= 2),
      "no shuffled cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_m45_kappa",
      // one contingency aggregate is the data pass; marginals and the
      // exact-rational kappa run on |labels|^2 cells
      "contingency counts partial map-side" -> (_.contains("partial_count")),
      "scalar totals are the only SinglePartition reduces" ->
        scalarReducesOnly,
      "no shuffled product" -> (p => !p.contains("CartesianProduct")))
    audit("q_m46_bootstrap",
      // replicate explosion and Poisson weights are map-side in the scan
      // stage; the only shuffle is the (group, b) keyed aggregation
      "replicate dimension generates in-plan" -> (_.contains("Generate")),
      "weighted sums partial map-side" -> (_.contains("partial_sum")),
      "no join anywhere (pure map + one keyed agg)" ->
        (p => !p.contains("Join")))
    audit("q_p26_doremi_tilt",
      // ONE map-side-combined domain aggregate is the data pass; the
      // baseline and tilt total attach as broadcast 1-row frames
      "domain aggregate partial map-side" ->
        (p => p.contains("partial_count") && p.contains("partial_sum")),
      "baseline and tilt total attach by broadcast" ->
        (_.contains("BroadcastNestedLoopJoin")),
      "scalar totals are the only SinglePartition reduces" ->
        scalarReducesOnly)
    audit("q_s_lpa",
      // the audited plan is the final label/size stitch over the
      // per-round checkpointed labels (the q_s_kcore lineage-cut
      // precedent); rounds themselves are keyed joins + struct-max aggs
      "community sizes partial map-side" -> (_.contains("partial_count")),
      "label/size stitch is a keyed equi-join" ->
        (p => p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
          || p.contains("BroadcastHashJoin")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_s_kcenter",
      // each greedy step: 1-row center broadcast onto the checkpointed
      // candidate state, argmin as a scalar min(struct) AGGREGATION —
      // never a global window over the corpus
      "per-step argmin is a scalar aggregate (partial map-side)" ->
        (_.contains("partial_min")),
      "no global window anywhere" -> (p => !p.contains("Window")),
      "scalar argmins are the only SinglePartition reduces" ->
        scalarReducesOnly,
      "no shuffled cartesian (1-row centers broadcast)" ->
        (p => !p.contains("CartesianProduct")))
    audit("q_m47_kruskal",
      // ONE (variable, group, value) counts pass; ranks/ties/H run over
      // distinct-value cells (the q_m38_ks pattern)
      "value counts partial map-side" -> (_.contains("partial_count")),
      "cumulative-rank window keyed per variable (never global)" ->
        (p => p.contains("hashpartitioning(__var")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_m48_cuped",
      // ONE map-side-combined user collapse, then ONE scalar reduce of
      // the sufficient statistics; the adjustment is a 1-row select
      "sufficient statistics partial-aggregate map-side" ->
        (p => p.contains("partial_sum") && p.contains("partial_count")),
      "no join anywhere (single-pass closed form)" ->
        (p => !p.contains("Join")),
      "scalar totals are the only SinglePartition reduces" ->
        scalarReducesOnly)
    audit("q_m49_bh_fdr",
      // ONE (group, value) counts pass; the ECDF grid cumulates per
      // group; the corpus total, group list, and BH frontier attach as
      // broadcast scalar/V-row frames; the rank window orders m rows
      "value counts partial map-side" -> (_.contains("partial_count")),
      "per-group ECDF window keyed on the group" ->
        (p => p.contains("hashpartitioning(g")),
      "scalar/V-row attaches broadcast (no shuffled product)" ->
        (p => p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")))
    audit("q_m50_kish",
      // ONE map-side-combined group pass; the ESS/deff arithmetic runs
      // on |groups| rows
      "weight sums partial-aggregate map-side" ->
        (p => p.contains("partial_sum") && p.contains("partial_count")),
      "no join anywhere (single-pass closed form)" ->
        (p => !p.contains("Join")),
      "balance filter pushed to the parquet scan" ->
        (_.contains("PushedFilters: [IsNotNull(c_acctbal)")))
    audit("q_s_rbo",
      // runs arrive queries-k-bounded; the agreement join is keyed on
      // (qid, neighbor); the k-row coefficient table broadcasts
      "per-depth overlap counts partial map-side" ->
        (_.contains("partial_sum")),
      "coefficient table attaches by broadcast (no shuffled product)" ->
        (p => p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")))
    audit("q_t_zipf",
      "term counts partial map-side" -> (_.contains("partial_count")),
      "top-R per source rides the bounded GroupedTopK heap" ->
        (_.contains("GroupedTopK")),
      "rank window keyed per source (never global)" ->
        (p => p.contains("hashpartitioning(g")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_t_prf",
      // two inverted-index BM25 passes; feedback harvesting is a
      // broadcast prune of the token explode; expansion selection rides
      // the bounded GroupedTopK heap; corpus stats attach as 1-row
      // broadcasts (BroadcastNestedLoopJoin by design)
      "expansion selection rides the bounded GroupedTopK heap" ->
        (_.contains("GroupedTopK")),
      "feedback set and query table attach by broadcast" ->
        (_.contains("BroadcastHashJoin")),
      "no shuffled cartesian" -> (p => !p.contains("CartesianProduct")),
      "per-(doc,term) postings aggregate map-side" ->
        (_.contains("partial_count")))
    audit("q_t_vocab_coverage",
      // the two-level cells cascade: (group, term) counts then a
      // (group) roll-up of frequency-of-frequencies
      "term counts partial map-side" -> (_.contains("partial_count")),
      "no join, no cartesian" ->
        (p => !p.contains("Join") && !p.contains("CartesianProduct")))
    audit("q_e_cusum",
      // daily cells aggregate map-side; the cumulative window and the
      // argmax-struct aggregate run over series-day CELLS
      "daily cells partial map-side" -> (_.contains("partial_count")),
      "cumulative window keyed per series" ->
        (p => p.contains("hashpartitioning(series")),
      "argmax is an aggregate, never a data-sized sort" ->
        (_.contains("partial_max")))
    audit("q_m53_logrank",
      // subject collapse + time cells + one scalar reduce; the totals are
      // the GlobalIndex core's, so no aggregate of the cells attaches
      "time cells partial map-side" -> (_.contains("partial_sum")),
      "totals are literals: exactly one BroadcastNestedLoopJoin (the " +
        "observation edge's 1-row attach) and no CartesianProduct" ->
        (p => """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p)
          .size == 1 && !p.contains("CartesianProduct")))
    audit("q_m54_jackknife",
      // ONE (group, bucket) collapse; totals, leave-one-out ratios and
      // the variance run over groups-x-B cells
      "bucket cells partial map-side" ->
        (p => p.contains("partial_sum") && p.contains("partial_count")),
      "totals attach by a keyed join (no product)" ->
        (p => !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")))
    audit("q_m51_gini",
      // (group, value) cells aggregate map-side; the rank-sum windows
      // run over distinct-value cells per group
      "value cells partial map-side" -> (_.contains("partial_count")),
      "rank-sum window keyed per group" ->
        (p => p.contains("hashpartitioning(group")),
      "no join, no cartesian" ->
        (p => !p.contains("Join") && !p.contains("CartesianProduct")))
    audit("q_m52_km",
      // the gap derivation is one user-keyed lead window; lifetimes
      // aggregate to distinct-time cells; the KM recursion orders cells
      "next-event window keyed per user" ->
        (p => p.contains("hashpartitioning(user_id")),
      "lifetime cells partial map-side" -> (_.contains("partial_sum")),
      "observation edge attaches as a broadcast 1-row frame" ->
        (p => p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")))
    audit("q_d_saturation",
      // first occurrences decide in ONE hash-keyed window (the exact-
      // dedup shuffle key); the batch roll-up partial-aggregates; the
      // cumulative curve orders |batches| rows
      "first-occurrence window keyed on the content hash" ->
        (p => p.contains("hashpartitioning(h")),
      "per-batch roll-up partial map-side" -> (_.contains("partial_count")),
      "no join, no cartesian" ->
        (p => !p.contains("Join") && !p.contains("CartesianProduct")))
    audit("q_p27_unimax",
      "domain token sums partial-aggregate map-side" ->
        (_.contains("partial_sum")),
      "fill point attaches as a broadcast 1-row frame" ->
        (_.contains("BroadcastNestedLoopJoin")),
      "no shuffled cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_m72_cochran_armitage",
      // ONE map-side dose-cells pass; the statistic is a 1-row select
      "dose cells partial map-side" -> (_.contains("partial_sum")),
      "no join, no window" ->
        (p => !p.contains("Join") && !p.contains("Window")))
    audit("q_m73_mcnemar",
      // ONE map-side concordance-counters pass; the statistic is a
      // 1-row select
      "concordance counters partial map-side" -> (_.contains("partial_")),
      "no join, no window" ->
        (p => !p.contains("Join") && !p.contains("Window")))
    audit("q_m74_welch_t",
      // ONE map-side sufficient-statistics pass (n, S, Q per arm);
      // everything after is a 1-row select
      "arm sufficient statistics partial map-side" ->
        (_.contains("partial_sum")),
      "purchase filter reaches the scan" ->
        (_.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)")),
      "no join, no window" ->
        (p => !p.contains("Join") && !p.contains("Window")))
    audit("q_m75_levene",
      // medians from value cells (cumulative window over DISTINCT
      // values, keyed per variable x group), one keyed join re-attaches
      // med2, then the ANOVA sufficient-statistics pass
      "value cells partial map-side" -> (_.contains("partial_count")),
      "median window keyed per (variable, group)" ->
        (p => p.contains("hashpartitioning(__var") && p.contains("__g")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_s_triplets",
      // anchors broadcast against the corpus (the certified rerank
      // shape); label attach id-keyed; picks are per-anchor aggs
      "anchors broadcast against the corpus" ->
        (_.contains("BroadcastHashJoin")),
      "argmin picks aggregate (partial map-side), not window-sorted" ->
        (_.contains("partial_min")),
      "no shuffled cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_t_mink",
      // the per-bigram KN frame; the tail selection is a doc-keyed
      // window over each doc's own bigrams
      "bigram counts partial map-side" -> (_.contains("partial_count")),
      "tail window keyed per doc" ->
        (p => p.contains("hashpartitioning(__id")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_m83_benford",
      // ONE (variable, digit) counts pass; the fixed 9-digit grid
      // materializes per variable; folds run over 9 cells
      "digit counts partial map-side" -> (_.contains("partial_count")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_t_kneser_ney",
      // all model statistics derive from ONE bigram-counts aggregation;
      // scoring joins on bigram/unigram keys; (NN, V) attaches as a
      // broadcast 1-row frame; one hash aggregation per doc
      "bigram counts partial map-side" -> (_.contains("partial_count")),
      "model attaches by bigram-keyed join" ->
        (p => p.contains("hashpartitioning(x")),
      "totals attach as a broadcast 1-row frame" ->
        (p => p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")))
    audit("q_m87_gwet_ac1",
      // one (a, b) cells pass; marginals and the statistic derive
      // from the cells (the cohenKappa shape); n attaches broadcast
      "pair cells partial map-side" -> (_.contains("partial_count")),
      "n attaches as a broadcast 1-row frame" ->
        (p => p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")))
    audit("q_m86_mcc",
      // ONE map-side 2x2-cells pass; statistic a 1-row select
      "contingency counters partial map-side" -> (_.contains("partial_")),
      "no join, no window" ->
        (p => !p.contains("Join") && !p.contains("Window")))
    audit("q_e_autocorr",
      // ONE (series, day) pass; per lag a calendar-keyed self-join of
      // day cells + per-series reduce
      "day cells partial map-side" -> (_.contains("partial_count")),
      "lag join calendar-keyed per series" ->
        (p => p.contains("hashpartitioning(series")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_m84_tost",
      // the shared Welch sufficient-statistics pass; verdict a 1-row
      // select off the floored statistics
      "arm sufficient statistics partial map-side" ->
        (_.contains("partial_sum")),
      "no join, no window" ->
        (p => !p.contains("Join") && !p.contains("Window")))
    audit("q_m88_cmh",
      // ONE (stratum x arm) cells pass; folds over |strata| cells
      "stratum-arm cells partial map-side" -> (_.contains("partial_sum")),
      "no join, no window" ->
        (p => !p.contains("Join") && !p.contains("Window")))
    audit("q_m85_simpson",
      // ONE (stratum x arm) cells pass; pooled direction derives from
      // the same cells and attaches broadcast
      "stratum-arm cells partial map-side" -> (_.contains("partial_sum")),
      "pooled direction attaches as a broadcast 1-row frame" ->
        (p => p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")))
    audit("q_e_dispersion",
      // ONE map-side (series, day) pass + per-series reduce
      "day cells partial map-side" -> (_.contains("partial_count")),
      "no join, no window" ->
        (p => !p.contains("Join") && !p.contains("Window")))
    audit("q_m81_brier",
      // ONE forecast-value cells pass over the per-user frame; totals
      // broadcast; folds run over distinct-forecast cells
      "forecast cells partial map-side" -> (_.contains("partial_count")),
      "totals attach as a broadcast 1-row frame" ->
        (p => p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")))
    audit("q_m82_cronbach",
      // ONE melted-frame pass for per-rater statistics (k cells) and
      // one for row sums; the statistic is a 1-row select
      "rater statistics partial map-side" -> (_.contains("partial_sum")),
      "row-sum variance attaches broadcast" ->
        (p => p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")))
    audit("q_s_hits",
      // rounds are localCheckpoint-cut (the LPA lineage discipline), so
      // the returned plan is the final id-keyed hub⋈authority join over
      // the checkpointed round frames; the per-round dst-/src-keyed
      // partial aggregations are pinned by HitsSpec's exact path counts
      "final hub-authority join is id-keyed" ->
        (p => p.contains("hashpartitioning(id") ||
          p.contains("BroadcastHashJoin")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_s_modularity",
      // LPA labels attach to the edge relation by two id-keyed joins;
      // ONE map-side community aggregation; never all-pairs
      "community cells partial map-side" -> (_.contains("partial_sum")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_s_assort",
      // one degree aggregation + two id-keyed joins + ONE scalar
      // reduce over exact sufficient statistics
      "degree counts partial map-side" -> (_.contains("partial_count")),
      "sufficient statistics reduce scalar" -> (_.contains("partial_sum")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_s_err",
      // run and qrels are per-query bounded; the evaluation is one
      // (qid, neighbor) equi-join plus a qid-keyed window over <= k
      // hit rows — nothing touches the corpus
      "hit window keyed per query" ->
        (p => p.contains("hashpartitioning(qid")),
      "no shuffled cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_e_seasonal",
      // ONE map-side (series, day) aggregation; both median passes run
      // windows over DISTINCT-VALUE cells keyed by (series, dow)/series
      "day cells partial map-side" -> (_.contains("partial_count")),
      "median windows keyed per series" ->
        (p => p.contains("hashpartitioning(series")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_e_holt",
      // same shape as q_e_ewma: ONE map-side (series, day) pass, the
      // two-state integer fold over bounded per-series cells
      "day cells partial map-side" -> (_.contains("partial_count")),
      "no join, no cartesian" ->
        (p => !p.contains("Join") && !p.contains("CartesianProduct")))
    audit("q_e_ewma",
      // ONE map-side (series, day) aggregation; the integer fold runs
      // over collected per-series day cells — a bounded monitoring grid
      "day cells partial map-side" -> (_.contains("partial_count")),
      "no join, no cartesian" ->
        (p => !p.contains("Join") && !p.contains("CartesianProduct")))
    audit("q_m79_assoc",
      // one (x, y) joint-counts pass per variable; marginals derive
      // from the joint cells; folds run over contingency cells
      "joint cells partial map-side" -> (_.contains("partial_count")),
      "marginal/total attaches keyed or broadcast, no cartesian" ->
        (p => !p.contains("CartesianProduct")))
    audit("q_m80_cliffs_delta",
      // the MWU value-counts pass, variable-keyed cumulative window,
      // delta a k-row select off the doubled-U sufficient statistic
      "value counts partial map-side" -> (_.contains("partial_sum")),
      "rank window keyed per variable" ->
        (p => p.contains("hashpartitioning(__var")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_m78_wasserstein",
      // one (source, value) cells pass; the evaluation grid attaches
      // the k-row group frame broadcast onto DISTINCT-VALUE cells;
      // cumulative windows keyed per group
      "value cells partial map-side" -> (_.contains("partial_count")),
      "group frame attaches broadcast" ->
        (_.contains("BroadcastNestedLoopJoin")),
      "per-group CDF window keyed" ->
        (p => p.contains("hashpartitioning(__g")),
      "no shuffled cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_t_jsd",
      // one (source, word) counts pass; b attaches by the word-keyed
      // join; the fold runs over each source's OWN vocab cells
      "word cells partial map-side" -> (_.contains("partial_count")),
      "word-keyed b attach" -> (p => p.contains("hashpartitioning(__w")),
      "corpus total attaches as a broadcast 1-row frame" ->
        (p => p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")))
    audit("q_m76_friedman",
      // per-(nation, segment) cells aggregate map-side; rank windows
      // keyed per block; n/k totals attach as broadcast 1-row frames
      "score cells partial map-side" -> (_.contains("partial_sum")),
      "rank windows keyed per block" ->
        (p => p.contains("hashpartitioning(__b")),
      "totals attach broadcast" -> (_.contains("BroadcastNestedLoopJoin")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_m77_dunn",
      // one (group, value) cells pass; the rank window runs over
      // DISTINCT-VALUE cells; the pair frame is a k-row self-join
      "group-value cells partial map-side" -> (_.contains("partial_count")),
      "tie totals reduce scalar (partial map-side)" ->
        (_.contains("partial_sum")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_m71_spearman",
      // ranks from the value-counts formulation per metric; rank lookup
      // re-attaches by keyed joins; sufficient statistics one group agg
      "value cells partial map-side" -> (_.contains("partial_count")),
      "rank windows keyed per group" ->
        (p => p.contains("hashpartitioning(__g")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_m70_kripp_alpha",
      // one (item, category) cells pass; disagreement/expected terms
      // fold over cells and |categories| rows
      "rating cells partial map-side" -> (_.contains("partial_count")),
      "sufficient statistics attach as broadcast 1-row frames" ->
        (p => p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")))
    audit("q_m55_fleiss",
      // (item, category) cells aggregate map-side; S, marginals and the
      // rater-count guard attach as broadcast 1-row frames
      "assignment cells partial map-side" -> (_.contains("partial_count")),
      "sufficient statistics attach as broadcast 1-row frames" ->
        (p => p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")))
    audit("q_m56_auc",
      // the MWU value-counts formulation: one (var, value) cells pass,
      // rank window over distinct-value cells (the single fixture
      // variable constant-folds, so no key to assert — the q_m39
      // precedent), broadcast totals
      "value cells partial map-side" -> (_.contains("partial_sum")),
      "totals attach as a broadcast 1-row frame" ->
        (p => p.contains("BroadcastNestedLoopJoin") ||
          p.contains("BroadcastHashJoin")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_m57_gains",
      // the global rank assembles from (strictly-above counts) +
      // (within-score row_number): no single-partition row window
      "score cells partial map-side" -> (_.contains("partial_count")),
      "within-score window partitions BY SCORE, never globally" ->
        (p => p.contains("hashpartitioning(__s")),
      "above-counts attach as a broadcast join" ->
        (_.contains("BroadcastHashJoin")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_m58_mann_kendall",
      // the data pass is the per-(type, day) aggregation; the pairwise
      // self-join and the median window run over series CELLS keyed by
      // group — bounded by the calendar, not the row count
      "daily series cells partial map-side" -> (_.contains("partial_count")),
      "pair join and median window keyed per group" ->
        (p => p.contains("hashpartitioning(__g")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_m59_bradley_terry",
      // the MM fit collects the k x k comparison matrix (config-sized,
      // the centroid precedent) and runs on the driver: the returned
      // frame is a local table; the data pass (matched-pair outcomes +
      // counts) executed inside fit()
      "driver-fit leaderboard is a local frame" ->
        (_.contains("LocalTableScan")))
    audit("q_m60_conformal",
      // one means pass + one residual-counts pass; the conformal rank
      // scan windows over distinct residual values per group
      "residual cells partial map-side" -> (_.contains("partial_count")),
      "rank window keyed per group" ->
        (p => p.contains("hashpartitioning(__g")),
      "means attach as a broadcast join" ->
        (_.contains("BroadcastHashJoin")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_inf_raking",
      // the IPF loop runs on the collected cell table (levels x levels,
      // the centroid precedent); the data passes are the two margin
      // counts executed inside rakeWeights
      "driver-IPF weights are a local frame" ->
        (_.contains("LocalTableScan")))
    audit("q_m68_qte",
      // one (arm, value) counts pass; rank scans over distinct values
      // per arm (the Winsorize shape); percentiles broadcast
      "value cells partial map-side" -> (_.contains("partial_count")),
      "rank window keyed per arm" ->
        (p => p.contains("hashpartitioning(__g")),
      "no cartesian (percentile expansion is a broadcast product)" ->
        (p => !p.contains("CartesianProduct")))
    audit("q_m69_did",
      // one per-user collapse + ONE conditional scalar reduce; the DiD
      // arithmetic is a 1-row select
      "panel collapse and cells reduce partial map-side" ->
        (_.contains("partial_sum")),
      "no join, no window" ->
        (p => !p.contains("Join") && !p.contains("Window")))
    audit("q_m63_smd",
      // one per-user pre-period collapse, then ONE (variable, arm)
      // cells pass; the SMD arithmetic runs on 2x2 cells
      "per-user and cells aggregations partial map-side" ->
        (p => p.contains("partial_sum") && p.contains("partial_count")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_m64_poststrat",
      // first-event window keyed per user; (stratum, arm) cells; the
      // total is a scalar reduce over strata
      "first-event window keyed per user" ->
        (p => p.contains("hashpartitioning(user_id")),
      "stratum cells partial map-side" -> (_.contains("partial_sum")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_m65_srm",
      "one scalar reduce over units" -> (_.contains("partial_sum")),
      "no join, no window" ->
        (p => !p.contains("Join") && !p.contains("Window")))
    audit("q_m66_power",
      "one scalar reduce over events" -> (_.contains("partial_sum")),
      "no join" -> (p => !p.contains("Join")))
    audit("q_m67_msprt",
      // daily cells aggregate map-side; cumulative + running-max windows
      // order DAY cells, never events
      "daily cells partial map-side" -> (_.contains("partial_sum")),
      "evidence windows run over day cells" -> (_.contains("Window")),
      "no join, no cartesian" ->
        (p => !p.contains("Join") && !p.contains("CartesianProduct")))
    audit("q_t_ql_dirichlet",
      // the Bm25 inverted-index shape: postings pruned by a LITERAL isin
      // BEFORE the (doc, term) agg; cf/stats/query broadcast; ranking
      // through the native bounded-heap GroupedTopK
      "query-term prune reaches the scan as a literal In" ->
        (p => p.contains("In(term") || p.contains("term#")
          && p.contains("Filter")),
      "postings aggregate partial map-side" -> (_.contains("partial_count")),
      "ranking is the native grouped top-k (no global sort)" ->
        (p => p.contains("GroupedTopK") && !p.contains("GlobalLimit")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_d_lsh_audit",
      // candidates join on BAND-TUPLE keys and truth blocks on shared
      // shingles — keyed equi-joins (broadcast at audit scale, shuffle
      // keys at corpus scale), NEVER an all-pairs product
      "every join is keyed (no nested-loop, no cartesian)" ->
        (p => !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")),
      "confusion assembles through a keyed full-outer join" ->
        (_.contains("FullOuter")),
      "minhash aggregation partial map-side" -> (_.contains("partial_min")))
    audit("q_t_heaps",
      // token explode / min-doc-per-term / per-doc counts: map-side
      // passes; the cumulative and checkpoint windows run over
      // per-source DOC-RANK cells, keyed by source
      "first-occurrence and count passes partial map-side" ->
        (p => p.contains("partial_min") && p.contains("partial_count")),
      "cumulative windows keyed per source (no global funnel)" ->
        (p => p.contains("hashpartitioning(g")),
      "no cartesian" -> (p => !p.contains("CartesianProduct")))
    audit("q_p28_kanon",
      // ONE class-keyed pass (count + exact distinct), then a scalar
      // reduce over class cells
      "class pass partial map-side" -> (_.contains("partial_count")),
      "summary is a scalar reduce, not a data window" ->
        (p => !p.contains("Window")),
      "no join, no cartesian" ->
        (p => !p.contains("Join") && !p.contains("CartesianProduct")))
    // r16 combo fast path: the EM runs driver-side off the collected
    // rater-label tuple counts, so the plan is ONE broadcast join of the
    // k^R-row consensus relation onto the items — no per-item posterior
    // shuffle, no window, no cartesian (DawidSkeneSpec pins the fast path
    // against the distributed loop row-for-row). It audits the driver
    // side of DriverGate, so it runs with the gate on.
    spark.conf.set(graft.DriverGate.ForceDistributedConf, "false")
    try audit("q_m62_dawid_skene",
      "consensus attaches by broadcast join" ->
        (_.contains("BroadcastHashJoin")),
      "no per-item posterior shuffle" ->
        (p => !p.contains("hashpartitioning(__i")),
      "no shuffled cartesian" -> (p => !p.contains("CartesianProduct")))
    finally spark.conf.set(graft.DriverGate.ForceDistributedConf, "true")
    audit("q_m61_isotonic",
      // PAV pools on the driver over the collected BIN table
      // (config-sized); the bins themselves aggregated distributed
      // inside pavCalibrate's input
      "driver-PAV calibration is a local frame" ->
        (_.contains("LocalTableScan")))
    audit("q_t_url_norm",
      // normalization is pure map-side string work: the only exchange
      // in the plan is the registry orderBy's range partitioning
      "no join anywhere in the normalize pipeline" ->
        (p => !p.contains("Join")),
      "no keyed shuffle (map-only until the output sort)" ->
        (p => !p.contains("hashpartitioning(")))
    audit("q_p33_domain_caps",
      "one domain-keyed aggregation (single hash shuffle)" ->
        (p => "hashpartitioning\\(domain".r.findAllIn(p).size >= 1),
      "total attaches as a 1-row broadcast, never a shuffled cartesian" ->
        (p => p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")))
    audit("q_p34_gopher_funnel",
      "rule battery folds into one scan-stage pass (no per-rule scans)" ->
        (p => "Scan parquet".r.findAllIn(p).size <= 1))
    audit("q_t_span_corruption",
      // objective construction is pure map-side array work: the only
      // exchange is the registry orderBy's range partitioning
      "no join anywhere in the span-corruption plan" ->
        (p => !p.contains("Join")),
      "no keyed shuffle (map-only until the output sort)" ->
        (p => !p.contains("hashpartitioning(")))
    audit("q_t_fim_split",
      "no join anywhere in the FIM plan" ->
        (p => !p.contains("Join")),
      "no keyed shuffle (map-only until the output sort)" ->
        (p => !p.contains("hashpartitioning(")))
    audit("q_t_crop_pairs",
      "no join anywhere in the crop-pair plan" ->
        (p => !p.contains("Join")),
      "no keyed shuffle (map-only until the output sort)" ->
        (p => !p.contains("hashpartitioning(")))
    audit("q_t_chat_render",
      // the per-doc offset fold replaces the window a naive impl
      // would shuffle for: no Window node, no keyed exchange
      "no window operator (offsets are a per-doc array fold)" ->
        (p => !p.contains("Window")),
      "no keyed shuffle (map+explode until the output sort)" ->
        (p => !p.contains("hashpartitioning(")))
    audit("q_p38_kanon_generalize",
      // ladder-sized result materialized once, chosen flag attached
      // driver-side — the corpus work happens in the library frame
      "registered frame is the materialized ladder table" ->
        (p => p.contains("Scan ExistingRDD")))
    // the nested 3-rung ladder rides ONE ROLLUP pass (r14 verdict
    // what's-wrong #3): a single customer scan feeds an Expand, not
    // one scan per rung
    section("kanon_rollup (library frame)") {
      val base = graft.Tables.customer(spark, sf).select(
        org.apache.spark.sql.functions.col("c_nationkey"),
        org.apache.spark.sql.functions.col("c_mktsegment"),
        (org.apache.spark.sql.functions.col("c_acctbal") > 0)
          .as("positive_bal"))
      val plan = graft.etl.Privacy.rollupRungs(base,
        Seq(Seq("c_nationkey", "c_mktsegment"), Seq("c_nationkey"),
          Seq.empty),
        "positive_bal", 40)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      println("=== kanon_rollup (library frame) ===")
      println(plan.linesIterator.take(25).mkString("\n"))
      Seq(
        // count detail-section scan headers: formatted mode prints each
        // scan once in the tree AND once as "(n) Scan parquet"
        "single corpus scan (ROLLUP computes every rung)" ->
          (plan.linesIterator.count(
            _.matches("""\(\d+\) Scan parquet\s*""")) == 1),
        "rollup Expand present (grouping-id rung selection)" ->
          plan.contains("Expand"),
        "rung labels attach by broadcast" ->
          plan.contains("BroadcastHashJoin"))
        .foreach { case (d, ok) =>
          println(s"  [${if (ok) "OK" else "MISS"}] $d")
          if (!ok) failures ::= s"kanon_rollup: $d"
        }
    }
    audit("q_t_chat_tokens",
      // learn + segment + per-doc fold all happen inside the eager
      // checkpoint (the unigram-family convention); the registered
      // frame is the checkpointed span table
      "span table is the checkpointed frame" ->
        (p => p.contains("Scan ExistingRDD")))
    audit("q_t_unigram_prune",
      "prune table is the checkpointed frame (exclusion DP inside)" ->
        (p => p.contains("Scan ExistingRDD")))
    audit("q_t_pack_bestfit",
      // both legs reduce to driver scalars (chop aggs + the histogram
      // simulation); the registered frame is the assembled 2-row table
      "report is a 2-row local table (corpus work reduced inside)" ->
        (p => p.contains("LocalTableScan")))
    audit("q_t_pack_bestfit_assign",
      // two prefix-sum passes + broadcast segment attach, all inside
      // the eager checkpoint
      "manifest is the checkpointed frame" ->
        (p => p.contains("Scan ExistingRDD")))
    audit("q_t_pack_bestfit_masks",
      // offsets are a per-bin array fold over the bin's own (bounded)
      // segment list — one bin-keyed agg, no window over the corpus
      "no window operator (offsets fold per bin)" ->
        (p => !p.contains("Window")),
      "no cartesian/broadcast-nested-loop in the span derivation" ->
        (p => !p.contains("CartesianProduct")))
    audit("q_pipeline_sft",
      // chat costing + batch assignment both checkpoint inside their
      // stages; the registered frame is the final manifest checkpoint
      "batch manifest is the checkpointed frame" ->
        (p => p.contains("Scan ExistingRDD")))
    audit("q_p35_tcloseness",
      "global marginal and total attach via broadcast" ->
        (p => p.contains("BroadcastNestedLoopJoin") ||
          p.contains("BroadcastHashJoin")),
      "no cartesian product (the class-by-value grid is broadcast)" ->
        (p => !p.contains("CartesianProduct")))
    audit("q_p37_shuffle_quality",
      // releases its two rank caches in-query (the q_p36 convention)
      "report is the checkpointed frame (ranks + adjacency inside)" ->
        (p => p.contains("Scan ExistingRDD")))
    audit("q_t_pack_contamination",
      // releases the pack's rank cache in-query, so the registered
      // frame is the eager checkpoint (the q_p36 convention)
      "summary is the checkpointed frame (pack + explode done inside)" ->
        (p => p.contains("Scan ExistingRDD")))
    audit("q_p36_padding_waste",
      // the report releases its two range-partitioned rank caches in-
      // query, so the registered frame is the eager checkpoint; the
      // rank itself is the GlobalIndex two-pass scheme (no single-
      // partition window), spec-pinned at the library level
      "summary is the checkpointed frame (ranking done inside)" ->
        (p => p.contains("Scan ExistingRDD")))
    audit("q_t_unigram_lm",
      // r15: the learned model is driver-local (config-sized — the
      // BpeMerge merge-table discipline), so the registered frame is a
      // LocalTableScan; the EM loop's own jobs are pinned by the
      // unigram_viterbi library-frame section below
      "piece table is the driver-local model (no shuffled lineage)" ->
        (p => p.contains("LocalTableScan") &&
          !p.contains("hashpartitioning(")))
    audit("q_t_unigram_encode",
      "encode output is the checkpointed frame (vocab DP done inside)" ->
        (p => p.contains("Scan ExistingRDD")))
    // the registered unigram queries checkpoint their results, so the
    // EM loop's own plan is asserted on the library frame directly
    section("unigram_viterbi (library frame)") {
      val docs = graft.Tables.documents(spark, sf)
      val st = graft.text.UnigramLm.learnState(docs, "text", 4, 60, 1)
      // the per-word segmentation frame every consumer builds: the
      // compiled DP expression over the persisted words frame (r15 —
      // the former lattice explode + broadcast join + collect_list
      // shuffle are gone; the score map rides the expression)
      val segged = st.words.select(
        org.apache.spark.sql.functions.col("w"),
        org.apache.spark.sql.functions.size(
          graft.functions.ViterbiSegment.viterbiPieces(
            org.apache.spark.sql.functions.col("w"), st.scores, 4)))
      val plan = segged.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      st.release()
      println("=== unigram_viterbi (library frame) ===")
      println(plan.linesIterator.take(25).mkString("\n"))
      Seq(
        "DP is the compiled viterbi_pieces expression" ->
          plan.contains("viterbi_pieces"),
        "no join anywhere in the segmentation (scores ride the expr)" ->
          (!plan.contains("Join") && !plan.contains("CartesianProduct")),
        // the only Exchange in the formatted tree is INSIDE the
        // InMemoryRelation detail (the cached wordFreqs build); the
        // segmentation itself is the Project directly over the cache
        "zero new exchanges (DP projects straight off the cache)" ->
          plan.linesIterator.exists(
            _.matches("""\+- InMemoryTableScan \(\d+\)""")),
        // formatted mode marks whole-stage-codegen nodes with '*'
        "DP runs inside WholeStageCodegen (no CodegenFallback fold)" ->
          plan.linesIterator.exists(_.matches("""\* Project \(\d+\)""")))
        .foreach { case (d, ok) =>
          println(s"  [${if (ok) "OK" else "MISS"}] $d")
          if (!ok) failures ::= s"unigram_viterbi: $d"
        }
    }
    // each registered query
    // builds, appends, probes, and DELETES a scratch versioned index, so
    // its returned frame is an eager localCheckpoint (a bare RDD scan
    // with nothing to assert). The probe-side plan shape it rides —
    // manifest pruning + the probeIvf nProbe-list equi-join — is pinned
    // by q_s_ivf_append's audit and VersionedIvfSpec.

    // the one gate-on audit: at sf0.001 both of q_m52_km's GlobalIndex
    // calls take the driver path, so the two-pass range exchanges and
    // every single-partition exchange are gone; the one range exchange
    // left is the query's own output orderBy("t")
    spark.conf.set(graft.DriverGate.ForceDistributedConf, "false")
    try audit("q_m52_km",
      "gate on: the GlobalIndex frames are local" ->
        (_.contains("LocalTableScan")),
      "gate on: no range exchange but the output sort's" ->
        (p => "rangepartitioning\\(".r.findAllIn(p).size == 1),
      "gate on: no single-partition exchange" ->
        (p => !p.contains("SinglePartition")))
    finally spark.conf.set(graft.DriverGate.ForceDistributedConf, "true")

    if (failures.nonEmpty) {
      System.err.println("\nPLAN AUDIT FAILURES:\n" + failures.mkString("\n"))
      sys.exit(1)
    }
    println("\nPLAN AUDIT OK")
    spark.stop()
  }
}
