package graft.dedup

import graft.{Q, Tables}
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution for training-data pipelines: the pair lists
  * the [[DedupOps]] detectors emit are only candidates — a corpus dedup
  * pass has to (1) close them into clusters (connected components), (2)
  * pick ONE canonical document per cluster, and (3) optionally remove
  * corpus-level duplicated text segments (the RefinedWeb/CCNet-style
  * line-dedup step, arXiv:2306.01116 §3.3) from the survivors.
  *
  * Scale design: connected components run as iterative hash joins on the
  * edge list — min-label propagation with POINTER JUMPING (label ← label of
  * own label each round), so rounds grow with log(diameter), not diameter
  * (the classic Shiloach-Vishkin / "hash-to-min" MapReduce CC bound). Every
  * iteration is two shuffles on the node id: one to take the min over
  * neighbour labels, one to chase the label's label. No step is ever
  * quadratic in cluster size, and nothing about the loop assumes the graph
  * fits on the driver — only the per-iteration change COUNT (one long) comes
  * back, as the convergence test.
  */
object DupClusters {

  /** Directed-edge bound of [[connectedComponents]]'s driver path (2^20;
    * at the default 10 MB broadcast threshold the gate's byte budget binds
    * first, at ~437k pairs of 24-byte UnsafeRows). */
  val MaxDriverEdges: Long = 1L << 20

  /** Connected components of an undirected pair list (ida, idb) → one row
    * per node appearing in any pair: (id, comp) with comp = the smallest
    * node id reachable from `id`. An empty pair list yields an empty frame
    * (callers like [[canonicalize]] then fall back to singleton clusters).
    *
    * Min-label propagation + pointer jumping; converges in O(log diameter)
    * iterations, each two equi-join shuffles keyed on node id. `maxIter`
    * is a safety bound — the loop exits on the first unchanged round.
    *
    * `checkpointDir`: when set, per-round lineage truncation uses RELIABLE
    * `checkpoint()` into that directory instead of `localCheckpoint()` —
    * required on a real cluster, where executor loss would otherwise drop
    * the only copy of the label state mid-loop. Note this sets the
    * SESSION's checkpoint directory (SparkContext state is global). Each
    * round's frame is persisted before the checkpoint so the checkpoint
    * write reads the cached partitions instead of recomputing the round's
    * joins a second time (RDD.checkpoint alone re-runs the lineage);
    * caches are released as soon as the following round materializes, and
    * all but the returned frame's cache are dropped when the loop exits.
    * Checkpoint FILES under the directory are the CALLER's to delete —
    * they must outlive consumption of the returned frame, so the loop
    * cannot clean them up itself. The default (local) is right for
    * single-JVM runs and tests; there each round's locally checkpointed
    * RDD is unpersisted the same way once the following round has
    * materialized, so only the returned frame's RDD stays persisted. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    // one release per truncated frame: its persist on the reliable path,
    // its locally checkpointed RDD on the local one
    val roundCaches = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    // Checkpoint each round, then RE-WRAP the result as a fresh LogicalRDD
    // with DEFAULT stats (createDataFrame over the truncated RDD). Without
    // the wrap, Dataset.checkpoint's rewriteStatsAndConstraints copies the
    // CHILD plan's size-in-bytes onto the LogicalRDD, and Catalyst's
    // size-only join estimate is a PRODUCT of children's sizes — so the
    // stats' bit-length roughly DOUBLES per round (prop inherits
    // edges×labels, the jump squares prop). By round ~12 the driver spins
    // minutes per checkpoint multiplying 100M-bit BigIntegers (observed:
    // the adaptive semantic-cluster edge set at sf0.001 hung Verify).
    // Cost of the wrap: two narrow row-conversion maps per round over the
    // label frame — no shuffle, negligible against the round's two joins.
    // Default stats also mean the loop's joins never mis-broadcast a
    // label frame Catalyst believes is tiny from a stale product.
    def truncate(df: DataFrame): DataFrame = {
      val cp =
        if (checkpointDir.isDefined) {
          val cached = df.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          roundCaches += (() => { cached.unpersist(blocking = false); () })
          cached.checkpoint(eager = false)
        } else {
          val local = df.localCheckpoint(eager = false)
          local.queryExecution.logical.collectFirst {
            case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
          }.foreach(rdd =>
            roundCaches += (() => { rdd.unpersist(blocking = false); () }))
          local
        }
      df.sparkSession.createDataFrame(cp.rdd, cp.schema)
    }
    // drop what rounds before the one that just materialized hold — the
    // checkpointed files (reliable) or that round's own local checkpoint
    // blocks carry the state from here on
    def releaseOldRounds(keep: Int): Unit =
      while (roundCaches.length > keep) roundCaches.remove(0)()
    val fwd = pairs.select(col("ida").cast("long").as("a"),
      col("idb").cast("long").as("b"))
    // r15 size-adaptive fast path (the AQE broadcast-threshold analogue,
    // decided by graft.DriverGate from the MEASURED pair list): a graph of
    // at most MaxDriverEdges directed edges (two per pair) closes on the
    // driver with union-find + path compression in O(E α(E)), IDENTICAL
    // min-label result, instead of paying O(log diameter) rounds × two
    // shuffle joins × per-round checkpoint jobs. The distributed loop below
    // is untouched past the gate (DupClustersSpec pins small-path ≡ loop).
    val small = graft.DriverGate.rows("DupClusters.connectedComponents",
      fwd, MaxDriverEdges / 2)
    if (small.isDefined) {
      // union-find where union always roots at the SMALLER id, so a
      // component's final root IS its minimum — the loop's min-label
      // fixpoint — and find() alone yields comp
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (parent.get(c) != r) {
          val n = parent.get(c); parent.put(c, r); c = n
        }
        r
      }
      small.get.foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      import scala.jdk.CollectionConverters._
      val assign = parent.keySet().asScala.toSeq
        .map(n => (n: Long, find(n)))
      val sp = pairs.sparkSession
      import sp.implicits._
      return assign.toDF("id", "comp")
    }
    // no distinct: MIN-propagation is duplicate-insensitive, so repeated
    // edges cost a few joined rows but never a correctness bit — and the
    // dedup would be a full extra shuffle of the edge list. Both
    // directions come from ONE scan of the pair list (a union of fwd and
    // its swap would run the pair list's whole upstream once per branch).
    // Cached for the loop's rounds.
    val edges = fwd.select(explode(array(struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .cache()
    // localCheckpoint (not cache) each round: an iterative self-joining
    // DataFrame otherwise DOUBLES its logical plan per iteration — caching
    // short-circuits execution but the analyzer still walks the whole
    // accumulated tree, which is the textbook driver OOM for DataFrame
    // loops. Checkpointing truncates the lineage to the materialized RDD.
    // LAZY checkpoints (eager = false): on the local path the one
    // convergence-count action per iteration materializes prop and next
    // together in a single job — eager checkpoints would run three
    // blocking jobs per round (measured 3× the loop wall-clock on the
    // sf0.1 pair graph). On the reliable path the checkpoint WRITES are
    // additional jobs, but they read the per-round persist, not the
    // recomputed join lineage.
    // On a real cluster pass `checkpointDir` so the truncation goes to
    // reliable storage and executor loss cannot lose the only label copy.
    var labels = truncate(edges.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id")))
    // convergence detector: per-node labels are monotonically non-increasing,
    // so Σcomp strictly decreases until the fixpoint (decimal, not long: Σ of
    // 64-bit ids overflows long at corpus scale). ONE column-pruned,
    // codegen'd agg action per round — it computes df's RDD, which also
    // writes the round's lazy checkpoint, so no second job is needed. (An
    // observe()+foreach probe was measured ~2× slower here: typed foreach
    // pays an InternalRow→Row conversion on every row plus a listener-bus
    // wait per round.) sum() over ZERO rows is a null decimal — an empty
    // edge list must read as Σ = 0, not an NPE.
    def materializeWithSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal = {
      val row = df.agg(sum(col("comp").cast("decimal(38,0)")).as("s")).head()
      Option(row.getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO).stripTrailingZeros()
    }
    var prevSum = materializeWithSum(labels)
    var changed = true
    var it = 0
    while (changed && it < maxIter) {
      // checkpoint before the self-join so the jump reads the materialized
      // propagation result instead of evaluating the join twice
      val prop = truncate(ccPropagate(edges, labels))
      val next = truncate(ccPointerJump(prop))
      val s = materializeWithSum(next)
      // this round's prop/next are materialized (and checkpointed on the
      // reliable path) — earlier rounds' persists can go
      releaseOldRounds(keep = 2)
      changed = s.compareTo(prevSum) != 0
      prevSum = s
      labels = next
      it += 1
    }
    edges.unpersist(blocking = false)
    // the final round's prop is dead weight (only next is returned);
    // next's persisted RDD backs the returned frame until the caller
    // consumes it
    releaseOldRounds(keep = 1)
    labels
  }

  /** One round's MIN-propagation segment: label ← min(own label, neighbour
    * labels). Named (rather than inlined in the loop) so ExplainAudit can
    * pin the segment's exchange count as a shuffle-volume regression guard. */
  private[graft] def ccPropagate(edges: DataFrame, labels: DataFrame): DataFrame = {
    val nbrMin = edges
      .join(labels.select(col("id").as("b"), col("comp").as("nbc")), "b")
      .groupBy("a").agg(min("nbc").as("nc"))
      .select(col("a").as("id"), col("nc"))
    labels.join(nbrMin, Seq("id"), "left")
      .select(col("id"),
        least(col("comp"), coalesce(col("nc"), col("comp"))).as("comp"))
  }

  /** One round's pointer-jump segment: label ← label's own label (labels
    * are node ids, so the lookup is a self-join; labels only decrease, so
    * this contracts label chains geometrically). */
  private[graft] def ccPointerJump(prop: DataFrame): DataFrame =
    prop
      .join(prop.select(col("id").as("comp"), col("comp").as("jc")),
        Seq("comp"), "left")
      .select(col("id"), coalesce(col("jc"), col("comp")).as("comp"))

  /** Cluster + canonicalize: every document gets its duplicate-cluster id
    * and the cluster's canonical representative (longest text wins, ties to
    * the smallest id — the "keep the best copy" policy). Documents in no
    * pair are their own singleton cluster. Canonical selection is ONE
    * aggregation — max over struct(len, −id) — not a window, so the only
    * shuffles are the CC loop's and one groupBy on the (already small)
    * component key. */
  def canonicalize(docs: DataFrame, pairs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val comp = connectedComponents(pairs)
    val base = docs
      .select(col(idCol).cast("long").as("id"),
        length(col(textCol)).cast("long").as("len"))
      .join(comp, Seq("id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("id")))
    val canon = base.groupBy("comp").agg(
      max(struct(col("len"), (-col("id")).as("nid"))).as("m"),
      count(lit(1)).as("cluster_size"))
      .select(col("comp"), (-col("m.nid")).as("canonical_id"),
        col("cluster_size"))
    base.join(canon, "comp")
      .select(col("id").as("doc_id"), col("canonical_id"), col("cluster_size"),
        (col("id") === col("canonical_id")).cast("int").as("is_canonical"))
  }

  /** Corpus-level duplicated-segment removal (RefinedWeb §3.3 line dedup,
    * adapted to unpunctuated text): split each document into non-overlapping
    * `segWords`-token segments, drop every segment whose exact text occurs
    * in ≥ `minDocs` DISTINCT documents, and reassemble the survivors in
    * original order.
    *
    * Scale: the segment frame is one row per segment (linear in corpus
    * tokens); duplicate detection is one groupBy on the segment text, the
    * removal is a left-anti join on the same key, and reassembly is one
    * groupBy on doc id with an in-memory per-doc sort (docs are bounded).
    * Nothing is all-pairs; both shuffle keys (segment text, doc id) are the
    * natural partition keys at 100 TB. */
  /** Incremental duplicate-cluster maintenance — the union-find view of a
    * persisted assignment. The (id, comp) frame [[connectedComponents]]
    * emits IS a fully path-compressed union-find forest (every node
    * points directly at its root, roots are cluster minima), so folding a
    * new batch of candidate pairs in never needs the historical edge
    * list:
    *
    *  1. map each batch endpoint to its current root (one join against
    *     the index; unseen nodes root themselves);
    *  2. contract the batch edges to ROOT level and drop self-loops —
    *     a batch-sized graph, whatever the corpus size;
    *  3. close THAT with [[connectedComponents]] (log-diameter rounds
    *     over batch-sized state) → a root remap table (old root → new
    *     min root), bounded by 2·|batch edges| rows;
    *  4. relabel the persisted index through ONE broadcast join on the
    *     remap (map-side — the corpus-sized assignment never shuffles
    *     and is read once), and root the new nodes through the same
    *     remap.
    *
    * The result is EXACTLY the from-scratch min-label assignment over
    * (historical ∪ batch) pairs — a new node with a smaller id than an
    * existing cluster's minimum becomes the new root through the same
    * remap row, and untouched clusters pass through unchanged
    * (spec-pinned both ways: hand-built forests and from-scratch
    * equality; the registered q_d_cc_incremental hash-checks against the
    * recursive-CTE closure of the FULL pair set). This is the streaming
    * / batch-loop companion to the persisted dedup indexes
    * ([[DedupOps]]' incremental gram/minhash paths): detectors probe the
    * index for candidate pairs, this folds the verdicts back in. */
  def updateClusters(assign: DataFrame, newEdges: DataFrame): DataFrame = {
    val edges = newEdges.select(col("ida").cast("long").as("a"),
      col("idb").cast("long").as("b"))
    val index = assign.select(col("id").cast("long").as("id"),
      col("comp").cast("long").as("comp"))
    val ends = edges.select(col("a").as("id"))
      .union(edges.select(col("b").as("id"))).distinct()
    val roots = ends.join(index, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("root"))
    val rootEdges = edges
      .join(roots.select(col("id").as("a"), col("root").as("ra")), Seq("a"))
      .join(roots.select(col("id").as("b"), col("root").as("rb")), Seq("b"))
      .select(col("ra").as("ida"), col("rb").as("idb"))
      .filter(col("ida") =!= col("idb"))
    val remap = connectedComponents(rootEdges)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("old_root"), col("comp").as("new_root"))
    val updated = index
      .join(broadcast(remap), col("comp") === col("old_root"), "left")
      .select(col("id"), coalesce(col("new_root"), col("comp")).as("comp"))
    val newNodes = roots.join(index.select("id"), Seq("id"), "left_anti")
      .join(broadcast(remap), col("root") === col("old_root"), "left")
      .select(col("id"), coalesce(col("new_root"), col("root")).as("comp"))
    updated.unionByName(newNodes)
  }

  def corpusSegmentDedup(docs: DataFrame, idCol: String, textCol: String,
      segWords: Int = 5, minDocs: Int = 2): DataFrame =
    corpusSegmentDedupReleasable(docs, idCol, textCol, segWords, minDocs)._1

  /** [[corpusSegmentDedup]] with a release handle for its internal persist
    * (the [[graft.etl.GlobalIndex.withGlobalIndexReleasable]] convention) —
    * call the handle once the result is consumed. The plain overload leaves
    * the cache to the session (Verify/Bench clear per query); long-lived
    * compositions should release explicitly. */
  def corpusSegmentDedupReleasable(docs: DataFrame, idCol: String,
      textCol: String, segWords: Int = 5,
      minDocs: Int = 2): (DataFrame, () => Unit) = {
    val t = col("__toks")
    val segs = docs
      .select(col(idCol).cast("long").as("id"),
        TextOps.tokens(lower(col(textCol))).as("__toks"))
      .select(col("id"), posexplode(
        when(size(t) > 0,
          transform(
            sequence(lit(0), ceil(size(t) / lit(segWords.toDouble)).cast("int") - 1),
            i => concat_ws(" ", slice(t, i * segWords + 1, lit(segWords)))))
          .otherwise(array().cast("array<string>"))).as(Seq("pos", "seg")))
      .cache() // feeds duplicate detection, the anti join, and the totals
    val dup = segs.groupBy("seg")
      .agg(countDistinct("id").as("nd"))
      .filter(col("nd") >= minDocs)
      .select("seg")
    val kept = segs.join(dup, Seq("seg"), "left_anti")
    val rebuilt = kept.groupBy("id").agg(
      count(lit(1)).as("kept_segments"),
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("seg")))),
        x => x.getField("seg")), " ").as("clean_text"))
    val totals = segs.groupBy("id").agg(count(lit(1)).as("total_segments"))
    val out = totals.join(rebuilt, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("kept_segments"), lit(0L)).as("kept_segments"),
        (col("total_segments") - coalesce(col("kept_segments"), lit(0L)))
          .as("removed_segments"))
    (out, () => { segs.unpersist(blocking = false); () })
  }

  // -- registered queries -------------------------------------------------

  /** Closure of the SimHash near-dup pairs (q_d_simhash_pairs' exact pair
    * set) into canonical clusters. The oracle replays the signature + pair
    * construction verbatim and closes it with a recursive CTE — transitive
    * closure is the SQL-side specification of connected components. */
  private val dClusters = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      canonicalize(docs, DedupOps.simhashPairs(docs, "doc_id", "text"),
        "doc_id", "text").orderBy("doc_id")
    },
    Some(DedupOps.simhashSigSql.replaceFirst("WITH toks", "WITH RECURSIVE toks") + """,
        p AS (SELECT a.id AS ida, b.id AS idb
          FROM sig a JOIN sig b ON a.id < b.id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
            AND ((a.simhash >> 0)  & 65535 = (b.simhash >> 0)  & 65535
              OR (a.simhash >> 16) & 65535 = (b.simhash >> 16) & 65535
              OR (a.simhash >> 32) & 65535 = (b.simhash >> 32) & 65535
              OR (a.simhash >> 48) & 65535 = (b.simhash >> 48) & 65535)),
        e AS (SELECT ida AS a, idb AS b FROM p
              UNION SELECT idb AS a, ida AS b FROM p),
        reach AS (SELECT a, b FROM e
                  UNION
                  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
                  WHERE e2.b <> r.a),
        comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a),
        allc AS (SELECT d.doc_id AS id, COALESCE(c.comp, d.doc_id) AS comp,
                        CAST(length(d.text) AS BIGINT) AS len
                 FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        canon AS (SELECT comp, id AS canonical_id, cnt AS cluster_size FROM (
            SELECT comp, id,
                   row_number() OVER (PARTITION BY comp ORDER BY len DESC, id) AS rn,
                   COUNT(*) OVER (PARTITION BY comp) AS cnt
            FROM allc) WHERE rn = 1)
        SELECT a.id AS doc_id, c.canonical_id, c.cluster_size,
               CAST(a.id = c.canonical_id AS INT) AS is_canonical
        FROM allc a JOIN canon c ON a.comp = c.comp
        ORDER BY doc_id"""))

  private val dLineDedup = Q(
    (s, d) => corpusSegmentDedup(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH toks AS (SELECT doc_id,
              list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents),
            seg AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                array_to_string(t[CAST(i*5+1 AS INT):CAST(i*5+5 AS INT)], ' ') AS seg
              FROM toks, LATERAL (SELECT unnest(range(0,
                CAST(ceil(len(t)/5.0) AS BIGINT))) AS i) ii),
            dup AS (SELECT seg FROM seg GROUP BY seg
                    HAVING COUNT(DISTINCT doc_id) >= 2),
            kept AS (SELECT * FROM seg
                     WHERE seg NOT IN (SELECT seg FROM dup)),
            r AS (SELECT doc_id, COUNT(*) AS kept_segments,
                         string_agg(seg, ' ' ORDER BY pos) AS clean_text
                  FROM kept GROUP BY 1),
            tot AS (SELECT doc_id, COUNT(*) AS total_segments FROM seg GROUP BY 1)
            SELECT t.doc_id,
                   COALESCE(r.clean_text, '') AS clean_text,
                   COALESCE(r.kept_segments, 0) AS kept_segments,
                   t.total_segments - COALESCE(r.kept_segments, 0) AS removed_segments
            FROM tot t LEFT JOIN r ON t.doc_id = r.doc_id
            ORDER BY t.doc_id"""))

  /** Leakage-safe train/validation split: the split unit is the near-dup
    * CLUSTER, not the document. Every connected component of `pairs` goes
    * entirely to validation iff u(component min-id label) < valFrac
    * (u = [[graft.etl.DataMix.uniformHash]]); docs in no pair hash their
    * own id. Consequence: NO near-dup pair straddles the boundary — the
    * eval-contamination guard a training pipeline runs after near-dup
    * detection, closing the leak that per-document random splits leave
    * open (a val doc's twin in train).
    *
    * Scale: the CC closure's log-diameter rounds + one left join on the
    * doc id + a map-side hash decision; nothing new beyond the closure's
    * own shuffles. */
  def leakSafeSplit(docs: DataFrame, pairs: DataFrame, idCol: String,
      valFrac: Double): DataFrame = {
    require(valFrac >= 0 && valFrac <= 1, "valFrac in [0,1]")
    val comp = connectedComponents(pairs)
    docs.select(col(idCol).cast("long").as("id"))
      .join(comp, Seq("id"), "left")
      .withColumn("split_group", coalesce(col("comp"), col("id")))
      .select(col("id").as(idCol), col("split_group"),
        (graft.etl.DataMix.uniformHash(col("split_group")) < valFrac)
          .as("is_val"))
  }

  /** Split the documents corpus at valFrac = 0.1 on SimHash near-dup
    * clusters. Oracle: the q_d_dup_clusters closure CTEs (signatures,
    * band pairs, recursive reachability, min-label components) + the
    * md5-uniform split decision on the component label. */
  private val dLeakSplit = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      leakSafeSplit(docs, DedupOps.simhashPairs(docs, "doc_id", "text"),
        "doc_id", valFrac = 0.1).orderBy("doc_id")
    },
    Some(DedupOps.simhashSigSql.replaceFirst("WITH toks", "WITH RECURSIVE toks") + """,
        p AS (SELECT a.id AS ida, b.id AS idb
          FROM sig a JOIN sig b ON a.id < b.id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
            AND ((a.simhash >> 0)  & 65535 = (b.simhash >> 0)  & 65535
              OR (a.simhash >> 16) & 65535 = (b.simhash >> 16) & 65535
              OR (a.simhash >> 32) & 65535 = (b.simhash >> 32) & 65535
              OR (a.simhash >> 48) & 65535 = (b.simhash >> 48) & 65535)),
        e AS (SELECT ida AS a, idb AS b FROM p
              UNION SELECT idb AS a, ida AS b FROM p),
        reach AS (SELECT a, b FROM e
                  UNION
                  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
                  WHERE e2.b <> r.a),
        comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a),
        split AS (SELECT d.doc_id AS doc_id,
                         COALESCE(c.comp, d.doc_id) AS split_group
                  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
        SELECT doc_id, split_group,
               """ + graft.etl.DataMix.uniformSqlExpr("split_group") + """
                 < 0.1 AS is_val
        FROM split ORDER BY doc_id"""))

  /** Duplicated-span detection — the exact-substring dedup analysis of
    * Lee et al. (arXiv:2107.06499): find, per document, how much of it is
    * covered by exact token spans that also occur in OTHER documents.
    * Suffix arrays don't distribute; the standard scalable encoding is
    * k-token anchor grams: a span of length L ≥ k duplicated across docs
    * shows up as L−k+1 consecutive duplicated anchor positions, so the
    * longest duplicated span = longest consecutive run + k − 1.
    *
    * Per doc: total anchor positions, duplicated positions, and the
    * longest duplicated span in tokens (0 when nothing repeats).
    *
    * Scale: one overlapping-gram explode (linear in corpus tokens), one
    * aggregation on the gram key (the natural shuffle key), a semi-join
    * back, and a per-doc gaps-and-islands window — no all-pairs anywhere;
    * the gram strings can be hashed to 8 bytes at 100 TB to shrink the
    * shuffle (documented trade, not done here so the oracle stays
    * string-exact). */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minDocs: Int = 2): DataFrame = {
    require(k >= 1 && minDocs >= 2, "need k >= 1, minDocs >= 2")
    val t = col("__toks")
    val grams = docs
      .select(col(idCol).cast("long").as("id"),
        graft.text.TextOps.tokens(lower(col(textCol))).as("__toks"))
      .select(col("id"), posexplode(
        when(size(t) >= k,
          transform(sequence(lit(0), size(t) - k),
            i => concat_ws(" ", slice(t, i + 1, lit(k)))))
          .otherwise(array().cast("array<string>")))
        .as(Seq("pos", "gram")))
    val dupGrams = grams.groupBy("gram")
      .agg(countDistinct("id").as("nd"))
      .filter(col("nd") >= minDocs).select("gram")
    val dupPos = grams.join(dupGrams, Seq("gram"))
    val w = Window.partitionBy("id").orderBy("pos")
    val runs = dupPos
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("id", "grp").agg(count(lit(1)).as("run"))
      .groupBy("id").agg(max("run").as("max_run"),
        sum("run").as("n_dup_grams"))
    val totals = grams.groupBy("id").agg(count(lit(1)).as("n_grams"))
    docs.select(col(idCol).cast("long").as("id"))
      .join(totals, Seq("id"), "left")
      .join(runs, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("max_run") + (k - 1), lit(0L))
          .as("max_dup_span_tokens"))
  }

  /** 5-token anchors, duplicated = seen in ≥ 2 distinct docs. The oracle
    * replays the overlapping grams positionally, the distinct-doc
    * threshold, and the same gaps-and-islands longest-run. */
  private val dDupSpans = Q(
    (s, d) => duplicatedSpans(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id,
              list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
              FROM documents),
            g AS (SELECT doc_id, CAST(i AS INT) AS pos,
                array_to_string(tk[CAST(i AS INT) + 1:CAST(i AS INT) + 5], ' ')
                  AS gram
              FROM t, LATERAL (SELECT unnest(range(len(tk) - 4)) AS i) ii
              WHERE len(tk) >= 5),
            dg AS (SELECT gram FROM g
                   GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
            dp AS (SELECT g.doc_id, g.pos FROM g JOIN dg ON g.gram = dg.gram),
            runs AS (SELECT doc_id,
                pos - CAST(row_number() OVER
                  (PARTITION BY doc_id ORDER BY pos) AS INT) AS grp
              FROM dp),
            agg AS (SELECT doc_id, MAX(run) AS max_run,
                CAST(SUM(run) AS BIGINT) AS n_dup_grams
              FROM (SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS run
                    FROM runs GROUP BY doc_id, grp)
              GROUP BY doc_id),
            tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
                    FROM g GROUP BY doc_id)
            SELECT d.doc_id AS doc_id,
              COALESCE(t2.n_grams, 0) AS n_grams,
              COALESCE(a.n_dup_grams, 0) AS n_dup_grams,
              COALESCE(a.max_run + 4, 0) AS max_dup_span_tokens
            FROM (SELECT doc_id FROM documents) d
            LEFT JOIN tot t2 ON d.doc_id = t2.doc_id
            LEFT JOIN agg a ON d.doc_id = a.doc_id
            ORDER BY d.doc_id"""))

  /** Span scrubbing — the ACTING half of exact-substring dedup
    * ([[duplicatedSpans]] detects; this removes): every token covered by
    * a cross-doc duplicated k-gram anchor is dropped from all docs EXCEPT
    * the keeper (lowest doc id containing that gram — one occurrence of
    * every duplicated span survives corpus-wide), and the survivors
    * reassemble in original order.
    *
    * Scale: anchors explode to their k covered token positions (k rows
    * per duplicated anchor — linear), so coverage is a pure equi-join on
    * (doc, pos) with no range join; reassembly is one groupBy doc with an
    * in-memory per-doc sort, the corpusSegmentDedup shape. */
  def scrubDupSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minDocs: Int = 2): DataFrame = {
    require(k >= 1 && minDocs >= 2, "need k >= 1, minDocs >= 2")
    val t = col("__toks")
    val toks = docs
      .select(col(idCol).cast("long").as("id"),
        graft.text.TextOps.tokens(lower(col(textCol))).as("__toks"))
    val tokenRows = toks.select(col("id"),
      posexplode(t).as(Seq("pos", "tok")))
    val grams = toks.select(col("id"), posexplode(
        when(size(t) >= k,
          transform(sequence(lit(0), size(t) - k),
            i => concat_ws(" ", slice(t, i + 1, lit(k)))))
          .otherwise(array().cast("array<string>")))
        .as(Seq("pos", "gram")))
    val keepers = grams.groupBy("gram")
      .agg(countDistinct("id").as("nd"), min("id").as("keeper"))
      .filter(col("nd") >= minDocs).select("gram", "keeper")
    val covered = grams.join(keepers, Seq("gram"))
      .filter(col("id") =!= col("keeper"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("pos"))
      .distinct()
    val kept = tokenRows.join(covered, Seq("id", "pos"), "left_anti")
    val rebuilt = kept.groupBy("id").agg(
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        e => e.getField("tok"))).as("clean_text"),
      count(lit(1)).as("kept_tokens"))
    // greatest(…, 0): size(null) is −1, and a null-text doc must report
    // 0 totals, not −1 removed tokens
    toks.select(col("id"),
        greatest(size(t), lit(0)).cast("long").as("total_tokens"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        (col("total_tokens") - coalesce(col("kept_tokens"), lit(0L)))
          .as("removed_tokens"))
  }

  /** Scrub at the q_d_dup_spans parameters; the oracle replays anchors,
    * the min-id keeper rule, the k-position coverage explode, and the
    * ordered reassembly. */
  private val dSpanScrub = Q(
    (s, d) => scrubDupSpans(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id,
              list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
              FROM documents),
            tok AS (SELECT doc_id, CAST(i AS INT) AS pos,
                tk[CAST(i AS INT) + 1] AS tk1
              FROM t, LATERAL (SELECT unnest(range(len(tk))) AS i) ii),
            g AS (SELECT doc_id, CAST(i AS INT) AS pos,
                array_to_string(tk[CAST(i AS INT) + 1:CAST(i AS INT) + 5], ' ')
                  AS gram
              FROM t, LATERAL (SELECT unnest(range(len(tk) - 4)) AS i) ii
              WHERE len(tk) >= 5),
            kp AS (SELECT gram, MIN(doc_id) AS keeper FROM g
                   GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
            cov AS (SELECT DISTINCT g.doc_id, g.pos + CAST(o AS INT) AS pos
              FROM g JOIN kp ON g.gram = kp.gram AND g.doc_id <> kp.keeper
              CROSS JOIN (SELECT unnest(range(0, 5)) AS o) oo),
            kept AS (SELECT tok.doc_id, tok.pos, tok.tk1 FROM tok
              LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
              WHERE cov.pos IS NULL),
            rb AS (SELECT doc_id,
                string_agg(tk1, ' ' ORDER BY pos) AS clean_text,
                CAST(COUNT(*) AS BIGINT) AS kept_tokens
              FROM kept GROUP BY doc_id),
            tot AS (SELECT doc_id,
                    CAST(COALESCE(len(tk), 0) AS BIGINT) AS total_tokens
                    FROM t)
            SELECT tot.doc_id AS doc_id,
              COALESCE(rb.clean_text, '') AS clean_text,
              COALESCE(rb.kept_tokens, 0) AS kept_tokens,
              tot.total_tokens - COALESCE(rb.kept_tokens, 0) AS removed_tokens
            FROM tot LEFT JOIN rb ON tot.doc_id = rb.doc_id
            ORDER BY tot.doc_id"""))

  /** EXACT duplicated-substring spans — the suffix-array answer
    * [[duplicatedSpans]] approximates. That detector anchors on word
    * k-grams, so it only sees token-aligned repeats at word granularity;
    * this one reports the byte-exact maximal duplicated CHARACTER spans of
    * length >= `minLen`, the same spans a suffix array + LCP scan yields
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499 §4.1 uses minLen=50): a maximal repeated
    * substring of length M >= minLen is precisely a maximal run of
    * M - minLen + 1 consecutive positions whose minLen-gram occurs >= 2
    * times corpus-wide, so the gram-run closure IS the suffix-array
    * output, not an approximation of it. Overlapping or adjacent repeats
    * merge into one island — exactly the merged removal ranges the
    * suffix-array pipeline emits.
    *
    * Scale: a distributed suffix array needs O(log n) global sorts of the
    * full corpus (prefix doubling); this shape needs NONE. Each position
    * ships one 16-byte key — TWO independent rolling Karp–Rabin hashes of
    * its gram ([[graft.functions.RollingGramHash]], one O(len) codegen
    * pass per doc per multiplier; a spurious pair needs a simultaneous
    * collision in both 64-bit keys, and a crafted one costs a redundant
    * span, not a wrong answer). The composed alternative —
    * `transform(sequence, i -> xxhash64(substr(text, i+1, L)))` — is
    * O(len²) per doc (UTF8String substr re-scans from the string head to
    * find each code-point offset): the port measured 56x on 4 KB docs
    * (47.5 s -> 0.85 s, 20k docs) BEFORE it was made (OPTIMIZATION_r16.md,
    * "Retired measurement tools").
    * Duplication is a count over the hash key via ONE window (partitionBy
    * the key: single shuffle, no groupBy-then-rejoin second shuffle of
    * the gram rows), and spans reassemble in a per-doc gaps-and-islands
    * window. Repeats WITHIN one doc count too (count(*), not
    * countDistinct doc), matching suffix-array semantics. */
  /** (id, pos, h1, h2) gram-key rows for every `minLen`-char position —
    * the shared front end of the exact-span family (detect / scrub /
    * incremental). */
  private def charGramKeys(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int): DataFrame = {
    import graft.functions.RollingGramHash
    docs
      .where(length(col(textCol)) >= minLen)
      .select(col(idCol).cast("long").as("id"), col(textCol).as("__t"))
      .select(col("id"),
        RollingGramHash.hashes(col("__t"), minLen,
          RollingGramHash.Mult1).as("__ha"),
        RollingGramHash.hashes(col("__t"), minLen,
          RollingGramHash.Mult2).as("__hb"))
      .select(col("id"),
        posexplode(arrays_zip(col("__ha"), col("__hb"))).as(Seq("pos", "h")))
      .select(col("id"), col("pos"),
        col("h.__ha").as("h1"), col("h.__hb").as("h2"))
  }

  /** Per-doc gaps-and-islands closure of duplicated gram-start positions
    * into (span_start, span_end, span_len) rows. */
  private def spanIslands(dupPos: DataFrame, idCol: String,
      minLen: Int): DataFrame = {
    val w = Window.partitionBy("id").orderBy("pos")
    dupPos
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("id", "grp")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + (minLen - 1)).cast("long").as("span_end"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  def exactCharSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 50, minOcc: Int = 2): DataFrame = {
    require(minLen >= 2 && minOcc >= 2, "need minLen >= 2, minOcc >= 2")
    val grams = charGramKeys(docs, idCol, textCol, minLen)
    val occ = Window.partitionBy("h1", "h2")
    val dupPos = grams
      .withColumn("occ", count(lit(1)).over(occ))
      .filter(col("occ") >= minOcc)
    spanIslands(dupPos, idCol, minLen)
  }

  /** Persisted gram INDEX for incremental exact-span detection: one row
    * per DISTINCT corpus gram key — 16 bytes each, so the index is
    * bounded by distinct grams, carries no text, and round-trips parquet
    * bit-exactly. The incremental twin of the hash/simhash/embedding
    * index lifecycles in [[DedupOps]], at character granularity. */
  def buildSpanIndex(corpus: DataFrame, idCol: String, textCol: String,
      minLen: Int = 50): DataFrame =
    charGramKeys(corpus, idCol, textCol, minLen)
      .select("h1", "h2").distinct()

  /** Exact duplicated spans of a NEW batch against a [[buildSpanIndex]]
    * corpus index — contamination detection without re-reading the
    * corpus: batch gram keys left-semi-join the index (the only shuffle
    * is keyed on the 16-byte gram key; at 100 TB the index side is the
    * small one and the join is the classic big-probe/small-build), then
    * the usual per-doc island closure. Within-BATCH repeats are NOT
    * flagged (run [[exactCharSpans]] on the batch for those) — this
    * reports only text the corpus has already seen. */
  def exactSpansVsIndex(batch: DataFrame, index: DataFrame, idCol: String,
      textCol: String, minLen: Int = 50): DataFrame = {
    val hits = charGramKeys(batch, idCol, textCol, minLen)
      .join(index, Seq("h1", "h2"), "left_semi")
    spanIslands(hits, idCol, minLen)
  }

  /** Lee et al.'s canonical 50-char threshold; any second occurrence
    * (cross- or within-doc) triggers. The oracle replays the L-grams as
    * literal substrings (no hashing — DuckDB groups the strings
    * themselves, so a Spark-side hash collision would hash-mismatch) and
    * the same island closure. */
  private val dExactSpans = Q(
    (s, d) => exactCharSpans(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id", "span_start"),
    Some("""WITH g AS (SELECT doc_id, CAST(i AS INT) AS pos,
                substr(text, CAST(i AS INT) + 1, 50) AS gram
              FROM documents,
                LATERAL (SELECT unnest(range(length(text) - 49)) AS i) ii
              WHERE length(text) >= 50),
            dg AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
            dp AS (SELECT g.doc_id, g.pos FROM g JOIN dg USING (gram)),
            runs AS (SELECT doc_id, pos,
                pos - CAST(row_number() OVER
                  (PARTITION BY doc_id ORDER BY pos) AS INT) AS grp
              FROM dp)
            SELECT doc_id,
              CAST(MIN(pos) AS BIGINT) AS span_start,
              CAST(MAX(pos) + 49 AS BIGINT) AS span_end,
              CAST(MAX(pos) - MIN(pos) + 50 AS BIGINT) AS span_len
            FROM runs GROUP BY doc_id, grp
            ORDER BY doc_id, span_start"""))

  /** The ACTING half of exact-substring dedup ([[exactCharSpans]]
    * detects; this removes — arXiv:2107.06499's scrub step at character
    * granularity). Keeper rule matches [[scrubDupSpans]]: the lowest doc
    * id containing a duplicated gram keeps it; every OTHER doc's covered
    * characters are cut, so one occurrence of each duplicated span
    * survives corpus-wide (within-doc repeats inside the keeper doc
    * survive whole, the same trade the token scrub documents).
    *
    * Scale: no per-character explode — anchor positions become per-doc
    * removal INTERVALS (islands, then a cumulative-max window merges the
    * overlaps that the +L-1 extension introduces: two islands closer
    * than L chars overlap after extension), and the cut itself is one
    * interpreted fold per DOC over its handful of sorted spans (span
    * surgery: O(spans) lambda steps + O(len) substr copies — per-doc
    * config-sized, unlike a corpus-chars-sized coverage join). */
  def scrubExactSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 50, minOcc: Int = 2): DataFrame = {
    require(minLen >= 2 && minOcc >= 2, "need minLen >= 2, minOcc >= 2")
    val base = docs.select(col(idCol).cast("long").as("id"),
      col(textCol).as("__t"))
    val grams = charGramKeys(docs, idCol, textCol, minLen)
    val occ = Window.partitionBy("h1", "h2")
    val removePos = grams
      .withColumn("occ", count(lit(1)).over(occ))
      .withColumn("keeper", min("id").over(occ))
      .filter(col("occ") >= minOcc && col("id") =!= col("keeper"))
    val wi = Window.partitionBy("id").orderBy("pos")
    val islands = removePos
      .withColumn("grp", col("pos") - row_number().over(wi))
      .groupBy("id", "grp")
      .agg(min("pos").as("s"), (max("pos") + (minLen - 1)).as("e"))
    // extension overlap merge: cumulative max of prior ends; a span
    // starting at or before prevMaxE+1 continues the current cut region
    val ws = Window.partitionBy("id").orderBy("s")
    val merged = islands
      .withColumn("pme",
        max("e").over(ws.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("cut",
        when(col("pme").isNull || col("s") > col("pme") + 1, 1L)
          .otherwise(0L))
      .withColumn("cutGrp",
        sum("cut").over(ws.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("id", "cutGrp").agg(min("s").as("s"), max("e").as("e"))
    val spansPerDoc = merged.groupBy("id")
      .agg(sort_array(collect_list(struct(col("s"), col("e"))))
        .as("__spans"))
    base.join(spansPerDoc, Seq("id"), "left")
      .withColumn("__spans",
        coalesce(col("__spans"),
          expr("CAST(array() AS array<struct<s:int,e:int>>)")))
      .withColumn("clean_text", expr(
        """aggregate(__spans,
             named_struct('t', CAST('' AS STRING), 'c', 0),
             (a, sp) -> named_struct(
               't', concat(a.t, substr(__t, a.c + 1, sp.s - a.c)),
               'c', sp.e + 1),
             a -> concat(a.t, substr(__t, a.c + 1, length(__t) - a.c)))"""))
      .select(col("id").as(idCol), col("clean_text"),
        length(col("clean_text")).cast("long").as("kept_chars"),
        (length(col("__t")) - length(col("clean_text"))).cast("long")
          .as("removed_chars"))
  }

  /** Char-scrub at the q_d_exact_spans parameters. The oracle replays
    * literal 50-char grams, the min-doc keeper, island closure, interval
    * merge — and verifies the SURGERY result against an independent
    * construction: per-character coverage (one row per kept char,
    * string_agg reassembly), so a fold bug that dropped or duplicated a
    * boundary char would hash-mismatch. */
  private val dExactScrub = Q(
    (s, d) => scrubExactSpans(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH g AS (SELECT doc_id, CAST(i AS INT) AS pos,
                substr(text, CAST(i AS INT) + 1, 50) AS gram
              FROM documents,
                LATERAL (SELECT unnest(range(length(text) - 49)) AS i) ii
              WHERE length(text) >= 50),
            dg AS (SELECT gram, MIN(doc_id) AS keeper FROM g
                   GROUP BY gram HAVING COUNT(*) >= 2),
            rp AS (SELECT g.doc_id, g.pos FROM g
                   JOIN dg ON g.gram = dg.gram AND g.doc_id <> dg.keeper),
            runs AS (SELECT doc_id, pos,
                pos - CAST(row_number() OVER
                  (PARTITION BY doc_id ORDER BY pos) AS INT) AS grp
              FROM rp),
            spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 49 AS e
                      FROM runs GROUP BY doc_id, grp),
            ch AS (SELECT doc_id, CAST(i AS INT) AS pos,
                substr(text, CAST(i AS INT) + 1, 1) AS c
              FROM documents,
                LATERAL (SELECT unnest(range(length(text))) AS i) ii),
            kept AS (SELECT ch.doc_id, ch.pos, ch.c FROM ch
              LEFT JOIN spans ON ch.doc_id = spans.doc_id
                AND ch.pos BETWEEN spans.s AND spans.e
              WHERE spans.s IS NULL)
            SELECT d.doc_id AS doc_id,
              COALESCE(k.clean_text, '') AS clean_text,
              COALESCE(k.kept_chars, 0) AS kept_chars,
              length(d.text) - COALESCE(k.kept_chars, 0) AS removed_chars
            FROM documents d
            LEFT JOIN (SELECT doc_id,
                string_agg(c, '' ORDER BY pos) AS clean_text,
                CAST(COUNT(*) AS BIGINT) AS kept_chars
              FROM kept GROUP BY doc_id) k ON d.doc_id = k.doc_id
            ORDER BY d.doc_id"""))

  /** Even doc_ids play the historical corpus (index built from them),
    * odd the new batch; reported spans are batch text the corpus already
    * contains. The oracle replays literal distinct corpus grams and the
    * semi-join island closure. */
  private val dExactSpansIncr = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      exactSpansVsIndex(
        docs.filter(col("doc_id") % 2 === 1),
        buildSpanIndex(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text"),
        "doc_id", "text")
        .orderBy("doc_id", "span_start")
    },
    Some("""WITH g AS (SELECT doc_id, CAST(i AS INT) AS pos,
                substr(text, CAST(i AS INT) + 1, 50) AS gram
              FROM documents,
                LATERAL (SELECT unnest(range(length(text) - 49)) AS i) ii
              WHERE length(text) >= 50),
            cg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0),
            bg AS (SELECT doc_id, pos FROM g
                   WHERE doc_id % 2 = 1 AND gram IN (SELECT gram FROM cg)),
            runs AS (SELECT doc_id, pos,
                pos - CAST(row_number() OVER
                  (PARTITION BY doc_id ORDER BY pos) AS INT) AS grp
              FROM bg)
            SELECT doc_id,
              CAST(MIN(pos) AS BIGINT) AS span_start,
              CAST(MAX(pos) + 49 AS BIGINT) AS span_end,
              CAST(MAX(pos) - MIN(pos) + 50 AS BIGINT) AS span_len
            FROM runs GROUP BY doc_id, grp
            ORDER BY doc_id, span_start"""))

  /** Incremental fold of the pairs TOUCHING "new" docs (doc_id ≡ 0 mod
    * 5 plays the arriving batch) into the persisted assignment built
    * from the old-only pairs. The oracle knows nothing of the two-phase
    * split: it closes the FULL pair set with a recursive CTE, so a hash
    * match proves the incremental path lands on the exact from-scratch
    * min-label assignment — including clusters whose minimum changes
    * when a smaller-id new doc joins them. */
  private val dCcIncr = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      // deliberately NOT cached: the two consumers re-derive the pair
      // frame, but the base branch's conjunctive id filter pushes INTO
      // both sides of the banded self-join (0.8² of the pair work),
      // which a materialized cache would forfeit — measured 11.4 s
      // uncached vs 16.0 s cached warm at sf0.1 (TimeOne)
      val all = DedupOps.simhashPairs(docs, "doc_id", "text")
      def isNew(c: org.apache.spark.sql.Column) = c % 5 === 0
      val base = all.filter(!isNew(col("ida")) && !isNew(col("idb")))
      val batch = all.filter(isNew(col("ida")) || isNew(col("idb")))
      updateClusters(connectedComponents(base), batch).orderBy("id")
    },
    Some(DedupOps.simhashSigSql.replaceFirst("WITH toks", "WITH RECURSIVE toks") + """,
        p AS (SELECT a.id AS ida, b.id AS idb
          FROM sig a JOIN sig b ON a.id < b.id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
            AND ((a.simhash >> 0)  & 65535 = (b.simhash >> 0)  & 65535
              OR (a.simhash >> 16) & 65535 = (b.simhash >> 16) & 65535
              OR (a.simhash >> 32) & 65535 = (b.simhash >> 32) & 65535
              OR (a.simhash >> 48) & 65535 = (b.simhash >> 48) & 65535)),
        e AS (SELECT ida AS a, idb AS b FROM p
              UNION SELECT idb AS a, ida AS b FROM p),
        reach AS (SELECT a, b FROM e
                  UNION
                  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
                  WHERE e2.b <> r.a),
        comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a)
        SELECT id, comp FROM comp ORDER BY id"""))

  val queries: Map[String, Q] = Map(
    "q_d_cc_incremental" -> dCcIncr,
    "q_d_dup_clusters" -> dClusters,
    "q_d_line_dedup" -> dLineDedup,
    "q_d_leak_split" -> dLeakSplit,
    "q_d_dup_spans" -> dDupSpans,
    "q_d_exact_spans" -> dExactSpans,
    "q_d_exact_scrub" -> dExactScrub,
    "q_d_exact_spans_incr" -> dExactSpansIncr,
    "q_d_span_scrub" -> dSpanScrub)
}
