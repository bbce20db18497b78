package graft.sim

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column.
  *
  * Two paths, as a production ANN stack would have:
  *   - brute-force cosine top-k: exact baseline. The query side is tiny and
  *     broadcast, so the big side streams through map-only (no shuffle of
  *     the corpus); cost is |Q|·N dot products.
  *   - LSH-bucketed (random hyperplane signatures): corpus is bucketed by
  *     signature; each query only scans its own bucket — the 100 TB path,
  *     where the bucket id doubles as the partition key.
  */
object SimilarityOps {

  import graft.functions.CosineSimilarity.cosineSim

  private[sim] def prep(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))

  /** Exact cosine top-k: `queries` joined (broadcast) against the corpus.
    * The similarity is the codegen'd [[graft.functions.CosineSimilarity]]
    * expression — one fused loop per pair inside WholeStageCodegen. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = prep(corpus, idCol, vecCol)
    val q = prep(queries, idCol, vecCol)
      .select(col("id").as("qid"), col("v").as("qv"))
    val scored = c.join(broadcast(q), col("id") =!= col("qid"))
      .withColumn("cosine", cosineSim(col("v"), col("qv")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Hard-negative mining for contrastive/embedding training data: per
    * anchor, the k corpus vectors MOST similar to it that carry a
    * DIFFERENT label — the near-boundary negatives InfoNCE-style losses
    * learn most from (easy negatives are ~orthogonal and contribute no
    * gradient). Same broadcast-anchor shape as [[bruteForceTopK]]: the
    * corpus never shuffles, anchors ride the task closure, and at real
    * scale the candidate generator swaps to the IVF/LSH blocked paths
    * while this exact form stays the rerank step. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"), col(labelCol).as("lbl"))
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qv"),
      col(labelCol).as("qlbl"))
    val scored = c.join(broadcast(q), col("lbl") =!= col("qlbl"))
      .withColumn("cosine", cosineSim(col("v"), col("qv")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("negative"),
        col("lbl").as("neg_label"), round(col("cosine"), 6).as("cosine"))
  }

  /** Deterministic pseudo-random hyperplanes in [-1, 1]: component i of
    * plane p = first 24 bits of sha256("lshp:p:i") scaled. sha256 (not
    * murmur3) is load-bearing for verifiability: the oracle SQL rebuilds the
    * exact planes with DuckDB's sha256, so the FULL candidate set is
    * cross-engine replicable (same trick as [[graft.functions.SimHash64]]). */
  private[graft] def hyperplane(plane: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Array.tabulate(dim) { i =>
      val hx = md.digest(s"lshp:$plane:$i".getBytes("UTF-8"))
      val h = ((hx(0) & 0xff) << 16) | ((hx(1) & 0xff) << 8) | (hx(2) & 0xff)
      h / 16777215.0 * 2.0 - 1.0
    }
  }

  /** Sign-bit LSH signature (nBits hyperplanes starting at `planeOffset`):
    * bit p = 1 iff v · plane_p > 0, computed by the codegen'd
    * [[graft.functions.LshSignature]] expression — ONE fused loop over a
    * flattened plane constant. The earlier composed
    * `aggregate(zip_with(...))` form was CodegenFallback (nBits interpreted
    * lambda folds + nBits zipped-array allocations per row); the native
    * expression produces bit-identical signatures (same left-to-right dot
    * accumulation), so the DuckDB candidate-set oracles are unchanged. */
  def lshSignature(vecCol: String, dim: Int, nBits: Int,
      planeOffset: Int = 0): org.apache.spark.sql.Column = {
    val planes = (0 until nBits)
      .flatMap(p => hyperplane(planeOffset + p, dim)).toIndexedSeq
    graft.functions.LshSignature.signature(col(vecCol), planes, nBits, dim)
  }

  /** ANN via OR-amplified LSH: `nTables` independent nBits-bit signatures;
    * a corpus point is a candidate for a query if they share ANY table's
    * bucket (single-table exact-bucket matching has near-zero recall — an
    * 8-bit signature over 500 points leaves ~2 points per bucket). Per-query
    * top-k over the deduped candidates; [[bruteForceTopK]] is the oracle. */
  def annTopK(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      nBits: Int, nTables: Int, k: Int,
      queryFilter: org.apache.spark.sql.Column): DataFrame = {
    val buckets = explode(array((0 until nTables).map(t =>
      struct(lit(t).as("tbl"),
        lshSignature(vecCol, dim, nBits, t * nBits).as("bucket"))): _*))
    // the bucket join and the candidate dedup move only (id, bucket); the
    // dim-sized vectors join back per surviving pair, not per (pair × table)
    val keyed = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val bucketed = corpus.select(col(idCol).as("id"), buckets.as("bk"))
    val q = bucketed.filter(queryFilter).select(col("id").as("qid"), col("bk"))
    val candidates = bucketed.join(broadcast(q), Seq("bk"))
      .filter(col("id") =!= col("qid"))
      .select("qid", "id").distinct()
      .join(keyed, Seq("id"))
      .join(broadcast(keyed.toDF("qid", "qv")
        .join(q.select("qid").distinct(), Seq("qid"))), Seq("qid"))
    val scored = candidates.withColumn("cosine", cosineSim(col("v"), col("qv")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** ANN via IVF (inverted-file index), the other standard scale path:
    *
    *  1. a seeded MLlib KMeans learns `nList` coarse centroids (the
    *     quantizer) — training can run on a sample at scale;
    *  2. every corpus vector is assigned to its nearest centroid; the list
    *     id is THE partition key — at 100 TB the corpus is repartitioned or
    *     bucketed by it once, and each executor owns whole lists;
    *  3. a query probes the `nProbe` nearest centroids (centroid table is
    *     tiny and driver-side) and scans only those lists — an equi-join on
    *     list id — with exact cosine inside.
    *
    * Recall is governed by nProbe/nList; candidates are exact-scored, so
    * returned cosines always match the brute-force values. */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
      nList: Int, nProbe: Int, k: Int,
      queryFilter: org.apache.spark.sql.Column, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val c = prep(corpus, idCol, vecCol)
      .withColumn("fv", array_to_vector(col("v")))
    val model = new KMeans().setK(nList).setSeed(seed)
      .setFeaturesCol("fv").setPredictionCol("list").fit(c)
    val assigned = model.transform(c).drop("fv")

    // per-query probe set: distances to the nList centroids, smallest nProbe
    // (centroids are a driver-side array — inlined as literals, no join)
    val centroids = model.clusterCenters.map(_.toArray)
    val probeLists = {
      val dists = array(centroids.zipWithIndex.map { case (ctr, i) =>
        struct(
          graft.functions.SquaredDistance.squaredDist(col("qv"), lit(ctr))
            .as("d2"),
          lit(i).as("list"))
      }: _*)
      transform(slice(array_sort(dists), 1, nProbe), s => s.getField("list"))
    }
    val q = assigned.filter(queryFilter)
      .select(col("id").as("qid"), col("v").as("qv"))
      .withColumn("list", explode(probeLists))

    val candidates = assigned.join(broadcast(q), Seq("list"))
      .filter(col("id") =!= col("qid"))
      .dropDuplicates("qid", "id")
    val scored = candidates.withColumn("cosine", cosineSim(col("v"), col("qv")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** IVF with a SEEDED coarse quantizer (no Lloyd iterations): centroids
    * are the vectors of `nList` deterministically-chosen corpus points.
    * Quantizer quality is below the KMeans variant ([[ivfTopK]]) but every
    * step — assignment argmin, probe argmin, list equi-join, exact cosine —
    * is cross-engine replicable, so the query hash-checks end to end.
    * The same argmin-over-broadcast-centroids shape IS the 100 TB
    * assignment plan; only the centroid fitting differs. */
  def ivfSeededTopK(corpus: DataFrame, idCol: String, vecCol: String,
      nList: Int, nProbe: Int, k: Int,
      queryFilter: org.apache.spark.sql.Column): DataFrame = {
    val v = prep(corpus, idCol, vecCol)
    val cent = v.filter(col("id") < nList)
      .select(col("id").as("cid"), col("v").as("cv"))
    def d2 = graft.functions.SquaredDistance.squaredDist(col("v"), col("cv"))
    def argmin(df: DataFrame, upTo: Int): DataFrame = {
      val w = Window.partitionBy("id").orderBy(col("d2"), col("cid"))
      df.join(broadcast(cent)).withColumn("d2", d2)
        .withColumn("r", row_number().over(w)).filter(col("r") <= upTo)
    }
    val assigned = argmin(v, 1)
      .select(col("id"), col("v"), col("cid").as("list"))
    val probes = argmin(v.filter(queryFilter), nProbe)
      .select(col("id").as("qid"), col("v").as("qv"), col("cid").as("list"))
    val scored = assigned.join(broadcast(probes), Seq("list"))
      .filter(col("id") =!= col("qid"))
      .dropDuplicates("qid", "id")
      .withColumn("cosine", cosineSim(col("v"), col("qv")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Persisted IVF index lifecycle — the MAINTENANCE half of the ANN
    * stack (the FAISS add() analog, Spark-shaped). [[ivfSeededTopK]]
    * rebuilds its assignment per query; a production corpus instead
    * keeps a postings table (id, list, v) on disk and APPENDS arriving
    * batches against the FROZEN coarse quantizer — existing postings are
    * never touched, never rescanned, and at 100 TB the batch cost is
    * a map-only |batch| × nList literal-argmin pass + one union,
    * independent of index size. Because the quantizer is frozen, incremental build ≡
    * full rebuild EXACTLY (not approximately) — the registered
    * q_s_ivf_append proves it: build over the base corpus + append of
    * the arriving fifth, probed end to end, hash-matches an oracle that
    * assigns the WHOLE corpus in one shot. Centroid drift under
    * distribution shift is the retrain trigger (then [[pqTrainCodebooks]]
    * / a fresh build); the spec pins posting immutability under append
    * and a parquet round trip. */
  def ivfCentroids(base: DataFrame, idCol: String, vecCol: String,
      nList: Int): DataFrame =
    prep(base, idCol, vecCol).orderBy("id").limit(nList)
      .select(col("id").as("cid"), col("v").as("cv"))

  /** Nearest-centroid assignment as a PURE MAP pass: the quantizer is
    * config-sized, so its centroids inline as literals ([[ivfTopK]]'s
    * probe-list precedent) and each row computes `array_min` over nList
    * (d2, cid) structs — zero shuffles, zero aggregates. Measured trade
    * (TimeOne, sf0.1 warm): the broadcast-join + min-struct AGG shape is
    * ~1 s faster at fixture scale (1.3 vs 2.3 s — the 16×64 inlined
    * literal constants cost codegen overhead), but that shape ships the
    * ENTIRE corpus, vectors included, through a hash exchange keyed on
    * id (array-typed First has no mutable hash buffer, so it also falls
    * to SortAggregate) — at 100 TB a full-corpus vector shuffle per
    * append vs none decides it; the fixture delta is a flat constant. */
  def assignToLists(vectors: DataFrame, cent: DataFrame): DataFrame = {
    val ctrs = cent.select(col("cid"), col("cv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val dists = array(ctrs.map { case (cid, cv) =>
      struct(
        graft.functions.SquaredDistance.squaredDist(col("v"), lit(cv))
          .as("d2"),
        lit(cid).as("cid"))
    }.toIndexedSeq: _*)
    vectors.withColumn("mn", array_min(dists))
      .select(col("id"), col("mn.cid").as("list"), col("v"))
  }

  def buildIvfIndex(base: DataFrame, idCol: String, vecCol: String,
      nList: Int): DataFrame =
    assignToLists(prep(base, idCol, vecCol),
      ivfCentroids(base, idCol, vecCol, nList))

  def appendToIvf(index: DataFrame, cent: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    index.unionByName(assignToLists(prep(batch, idCol, vecCol), cent))

  /** Probe the postings table: queries rank the nProbe nearest lists
    * (config-sized broadcast window), candidates come from ONE list
    * equi-join, exact cosine inside. */
  def probeIvf(index: DataFrame, cent: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, nProbe: Int, k: Int): DataFrame = {
    val q = prep(queries, idCol, vecCol)
      .select(col("id").as("qid"), col("v").as("qv"))
    val d2q = graft.functions.SquaredDistance.squaredDist(col("qv"), col("cv"))
    val w = Window.partitionBy("qid").orderBy(col("d2"), col("cid"))
    val probes = q.join(broadcast(cent)).withColumn("d2", d2q)
      .withColumn("r", row_number().over(w)).filter(col("r") <= nProbe)
      .select(col("qid"), col("qv"), col("cid").as("list"))
    // score INSIDE the list join, then dedupe multi-list pairs on the
    // scalar triple (the knnGraph payload-reorder, measured 28 → 5.3 s
    // there): a dropDuplicates over rows still carrying both vectors
    // would fall to SortAggregate (array-typed First) and ship the
    // arrays through its exchange
    val scored = index.join(broadcast(probes), Seq("list"))
      .filter(col("id") =!= col("qid"))
      .withColumn("cosine", cosineSim(col("v"), col("qv")))
      .groupBy("qid", "id").agg(max("cosine").as("cosine"))
    val wr = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(wr).cast("long")).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Approximate kNN GRAPH over the whole corpus — every vector gets its
    * top-k neighbors from its nProbe nearest coarse lists (the
    * SemDeDup/cluster-graph precursor: connected components over these
    * edges give semantic duplicate groups; the graph is also the seed
    * structure for NN-Descent-style refinement).
    *
    * Unlike [[ivfSeededTopK]] (few queries → probes broadcast), here the
    * "query" side IS the corpus, so both sides SHUFFLE keyed on the list
    * id — candidate volume is Σ_lists |list|·(probes landing there), never
    * the all-pairs N². At 100 TB nList grows ~√N, bounding every task to
    * one list's pairs; the per-qid top-k window shuffles on qid, the
    * graph's natural output partitioning. */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String,
      nList: Int, nProbe: Int, k: Int): DataFrame = {
    val v = prep(corpus, idCol, vecCol)
    val cent = v.filter(col("id") < nList)
      .select(col("id").as("cid"), col("v").as("cv"))
    def d2 = graft.functions.SquaredDistance.squaredDist(col("v"), col("cv"))
    def argmin(df: DataFrame, upTo: Int): DataFrame = {
      val w = Window.partitionBy("id").orderBy(col("d2"), col("cid"))
      df.join(broadcast(cent)).withColumn("d2", d2)
        .withColumn("r", row_number().over(w)).filter(col("r") <= upTo)
    }
    // SYMMETRIC candidate generation: a pair is a candidate when the two
    // vectors probe ANY common list (not only "neighbor's home list is
    // probed") — the candidate set is the union of both directions, which
    // roughly doubles recall at the same asymptotic volume
    // (Σ_l probes(l)² stays keyed on the list id).
    val probes = argmin(v, nProbe)
    val qSide = probes.select(col("id").as("qid"), col("v").as("qv"),
      col("cid").as("list"))
    val nSide = probes.select(col("id"), col("v"), col("cid").as("list"))
    // score INSIDE the list-keyed join stage, then dedupe multi-list pairs
    // on the scalar triple: a pair probing p shared lists recomputes the
    // cosine p times (cheap, fused) but the dedup exchange ships 24 bytes
    // per row instead of two 64-double vectors — measured 28 s → 5.3 s
    // warm at sf0.1 (2 000 vectors, TimeOne) when this payload reorder
    // replaced a dropDuplicates that carried both vectors through its
    // shuffle.
    val scored = nSide.join(qSide, Seq("list"))
      .filter(col("id") =!= col("qid"))
      .withColumn("cosine", cosineSim(col("v"), col("qv")))
      .groupBy("qid", "id").agg(max("cosine").as("cosine"))
    // per-qid top-k through the native heap operator — the candidate set
    // is the big frame here (Σ_l probes(l)² pairs), and the window
    // encoding would sort all of it per qid; the operator ships only the
    // k survivors, and the rank window then runs over ≤ k rows per qid
    // (measured, TimeOne sf0.1 warm: 12.3 s → 9.6 s; same rows either way)
    val top = graft.plans.GroupedTopK.topK(scored, Seq("qid"),
      Seq("cosine" -> true, "id" -> false), k)
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("qid"), col("rank"), col("id").as("neighbor"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** IVF-PQ with asymmetric-distance shortlisting and exact rerank — the
    * canonical billion-vector ANN shape (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): vectors are
    * bucketed by a coarse quantizer (IVF lists), each vector stored as m
    * per-subspace codebook codes, queries scored against candidate CODES
    * via a per-query lookup table (ADC — m additions per candidate, no
    * vector reads), and only the ADC shortlist is re-scored exactly.
    *
    * Like [[ivfSeededTopK]], both quantizers are SEEDED (centroids /
    * codewords = the vectors of deterministically-chosen corpus points)
    * so every stage — assignment argmin, codes, LUT, ADC sums, rerank —
    * is bit-replayable cross-engine and the query hash-checks end to end.
    * A TRAINED codebook ([[pqTrainCodebooks]] / [[pqTrainedCbv]], itself
    * hash-replayable via exact-integer training arithmetic) slots into
    * the same plan through the `codebook` parameter — measured on this
    * corpus it moves recall@3 0.80 → 0.87 (2 Lloyd sweeps, spec-pinned
    * trained ≥ seeded). The measured recall@3 of the seeded (m=8,
    * kSub=16, shortlist=32) configuration vs exact brute force is
    * 0.73–0.80 at sf0.001–0.1 (spec pins ≥ 0.6).
    *
    * Scale shape: centroids and codebooks are config-sized broadcasts;
    * encoding is one map-side slice-explode + broadcast join, with the
    * per-(vector, subspace) argmin as a min-over-struct AGGREGATION
    * (map-side combined — no window shuffle on the corpus-sized frame);
    * the ADC join touches only (candidate × m) code rows and the exact
    * rerank only (query × shortlist) vectors. At 100 TB the code table is
    * the only corpus-sized state — dim/m × smaller than the vectors. */
  def ivfPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nList: Int, nProbe: Int, m: Int, kSub: Int,
      shortlist: Int, k: Int,
      queryFilter: org.apache.spark.sql.Column,
      codebook: Option[DataFrame] = None): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val sub = dim / m
    val v = prep(corpus, idCol, vecCol)
    val cent = v.filter(col("id") < nList)
      .select(col("id").as("cid"), col("v").as("cv"))
    def centD2 = graft.functions.SquaredDistance.squaredDist(col("v"), col("cv"))
    val wA = Window.partitionBy("id").orderBy(col("d2"), col("cid"))
    def argminLists(df: DataFrame, upTo: Int): DataFrame =
      df.join(broadcast(cent)).withColumn("d2", centD2)
        .withColumn("r", row_number().over(wA)).filter(col("r") <= upTo)
    val assigned = argminLists(v, 1)
      .select(col("id"), col("cid").as("list"))
    val probes = argminLists(v.filter(queryFilter), nProbe)
      .select(col("id").as("qid"), col("cid").as("list"))

    // per-subspace slices; codebook = slices of the first kSub points
    def sliced(df: DataFrame, idAs: String) = df
      .select(col("id").as(idAs),
        explode(sequence(lit(0), lit(m - 1))).as("s"), col("v"))
      .select(col(idAs), col("s"),
        slice(col("v"), col("s") * lit(sub) + lit(1), lit(sub)).as("sv"))
    // seeded by default; a trained codebook ([[pqTrainedCbv]]) slots in
    // unchanged — same (s, j, cbv) shape, still a config-sized broadcast
    val cb = codebook.getOrElse(sliced(v.filter(col("id") < kSub), "j")
      .select(col("s"), col("j"), col("sv").as("cbv")))
    def subD2 = graft.functions.SquaredDistance.squaredDist(col("sv"), col("cbv"))

    // encode: min-over-struct((d2, j)) = argmin with the j tie-break,
    // map-side combined — the corpus-scale path (no window shuffle)
    val codes = sliced(v, "id").join(broadcast(cb), Seq("s"))
      .withColumn("d2", subD2)
      .groupBy("id", "s").agg(min(struct(col("d2"), col("j"))).as("mn"))
      .select(col("id"), col("s"), col("mn.j").as("code"))
    // LUT: the query's distance to every codeword (config-sized per query)
    val lut = sliced(v.filter(queryFilter), "qid").join(broadcast(cb), Seq("s"))
      .withColumn("lutd2", subD2)
      .select(col("qid"), col("s"), col("j").as("code"), col("lutd2"))

    // candidates: probed lists only; (qid, id) is unique because each id
    // lives in exactly one list
    val cand = assigned.join(broadcast(probes), Seq("list"))
      .filter(col("id") =!= col("qid")).select("qid", "id")
    // ADC: per-subspace LUT values pivoted then added in FIXED order, so
    // the float sum is deterministic under any partitioning
    val aggs = (0 until m).map(i =>
      sum(when(col("s") === i, col("lutd2"))).as(s"d$i"))
    val adc = cand.join(codes, Seq("id"))
      .join(broadcast(lut), Seq("qid", "s", "code"))
      .groupBy("qid", "id").agg(aggs.head, aggs.tail: _*)
      .withColumn("adc_d2",
        (1 until m).foldLeft(col("d0"): org.apache.spark.sql.Column)(
          (a, i) => a + col(s"d$i")))
    val wS = Window.partitionBy("qid").orderBy(col("adc_d2"), col("id"))
    val short = adc.withColumn("sr", row_number().over(wS))
      .filter(col("sr") <= shortlist).select("qid", "id")

    // exact rerank on the shortlist only
    val scored = short
      .join(v.select(col("id"), col("v")), Seq("id"))
      .join(broadcast(v.filter(queryFilter)
        .select(col("id").as("qid"), col("v").as("qv"))), Seq("qid"))
      .withColumn("cosine", cosineSim(col("v"), col("qv")))
    val wR = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(wR).cast("long")).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** TRAINED product-quantization codebooks — per-subspace Lloyd
    * refinement of the seeded codewords, closing [[ivfPqTopK]]'s
    * documented seeded-vs-trained divergence with a real training path
    * that still HASH-REPLAYS cross-engine. The trick is arithmetic
    * discipline, not approximation:
    *
    *  - training runs on INTEGER-quantized slices (`floor(x·scale+0.5)`
    *    — floor, never `round`: Spark rounds the shortest-decimal repr
    *    HALF_UP while DuckDB rounds the binary value, and they disagree
    *    exactly at representable halves); integer-valued doubles sum
    *    EXACTLY (any order, below 2^53), so the cluster sums behind the
    *    new centroids are order-independent and bit-identical on both
    *    engines;
    *  - a centroid component is ONE double division of exact operands —
    *    deterministic; iteration-2 distances against fractional
    *    centroids accumulate in FIXED dimension order on both sides
    *    (the codegen'd SquaredDistance loop; DuckDB's list_sum, fuzzed
    *    left-to-right-equal), so argmin compares bit-identical doubles,
    *    ties broken by codeword id;
    *  - the registered output is (s, j, n, sum_v) — counts and integer
    *    component sums of the FINAL assignment (centroid = sum_v/n), so
    *    the hashed surface carries only integers.
    *
    * Empty clusters keep their previous codeword. Scale shape: the
    * codebook is a config-sized broadcast every iteration; each
    * iteration is one broadcast join + two hash aggregations over the
    * slice frame (map-side combined — the same corpus-scale path as
    * [[ivfPqTopK]]'s encode stage); nothing corpus-sized touches the
    * driver, and iters is a small constant (PQ training converges in a
    * few sweeps; 2 is measured sufficient here — recall@3 0.80 → 0.87
    * over the seeded codebook, SimilarityOpsSpec trained contract). */
  def pqTrainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, kSub: Int, iters: Int,
      scale: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    require(iters >= 1, "iters must be >= 1")
    val sub = dim / m
    // r16 (guide §5 caching): every Lloyd iteration reads the slice frame
    // TWICE (assignment + cluster sums) — uncached, each sweep re-ran the
    // parquet scan + quantize + explode chain four times over the run
    val slices = prep(corpus, idCol, vecCol)
      .select(col("id"),
        transform(col("v"), x => floor(x * scale + lit(0.5))).as("v"))
      .select(col("id"), explode(sequence(lit(0), lit(m - 1))).as("s"),
        col("v"))
      .select(col("id"), col("s"),
        slice(col("v"), col("s") * lit(sub) + lit(1), lit(sub)).as("sv"))
      .cache()
    def subD2 =
      graft.functions.SquaredDistance.squaredDist(col("sv"), col("cbv"))
    var cb = slices.filter(col("id") < kSub)
      .select(col("s"), col("id").as("j"), col("sv").as("cbv"))
    var out: DataFrame = null
    for (t <- 1 to iters) {
      val assigned = slices.join(broadcast(cb), Seq("s"))
        .withColumn("d2", subD2)
        .groupBy("id", "s").agg(min(struct(col("d2"), col("j"))).as("mn"))
        .select(col("id"), col("s"), col("mn.j").as("j"))
      val counts = assigned.groupBy("s", "j").agg(count(lit(1)).as("n"))
      val sums = assigned.join(slices, Seq("id", "s"))
        .select(col("s"), col("j"), posexplode(col("sv")).as(Seq("p", "x")))
        .groupBy("s", "j", "p").agg(sum("x").as("sx"))
        .groupBy("s", "j").agg(
          transform(array_sort(collect_list(struct(col("p"), col("sx")))),
            e => e.getField("sx")).as("sumv"))
      if (t == iters)
        out = counts.join(sums, Seq("s", "j"))
          .select(col("s").cast("long").as("s"), col("j"), col("n"),
            col("sumv").cast("array<long>").as("sum_v"))
      else {
        val trained = counts.join(sums, Seq("s", "j"))
          .select(col("s"), col("j"),
            transform(col("sumv"), sx => sx / col("n")).as("cbv2"))
        cb = cb.join(trained, Seq("s", "j"), "left")
          .select(col("s"), col("j"),
            coalesce(col("cbv2"), col("cbv")).as("cbv"))
      }
    }
    out
  }

  /** The trained codebook in [[ivfPqTopK]]'s codeword space — centroid
    * means scaled back from the integer training space (sum / (n·scale)).
    * Drop-in for ivfPqTopK's `codebook` parameter. */
  def pqTrainedCbv(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, kSub: Int, iters: Int, scale: Int = 64): DataFrame =
    pqTrainCodebooks(corpus, idCol, vecCol, dim, m, kSub, iters, scale)
      .select(col("s"), col("j"),
        transform(col("sum_v"),
          sx => sx.cast("double") / (col("n") * scale)).as("cbv"))

  // -- registered queries -------------------------------------------------

  private val sTopK = Q(
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      bruteForceTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3)
        .orderBy("qid", "rank")
    },
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings),
            q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
            scored AS (SELECT qid, v.vec_id AS id,
                list_dot_product(v.e, q.qe)
                  / (SQRT(list_dot_product(v.e, v.e))
                     * SQRT(list_dot_product(q.qe, q.qe))) AS cosine
              FROM v, q WHERE v.vec_id <> q.qid),
            r AS (SELECT qid, id, cosine, row_number() OVER
                    (PARTITION BY qid ORDER BY cosine DESC, id) AS rank
                  FROM scored)
            SELECT qid, rank, id AS neighbor, ROUND(cosine, 6) AS cosine
            FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  /** Anchors = vec_id < 5; negatives = top-3 cosine among OTHER labels. */
  private val sHardNeg = Q(
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      hardNegatives(emb, emb.filter(col("vec_id") < 5), "vec_id",
        "embedding", "label", 3).orderBy("qid", "rank")
    },
    Some("""WITH v AS (SELECT vec_id, label,
                CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            q AS (SELECT vec_id AS qid, label AS qlbl, e AS qe
                  FROM v WHERE vec_id < 5),
            scored AS (SELECT qid, v.vec_id AS id, v.label AS lbl,
                list_dot_product(v.e, q.qe)
                  / (SQRT(list_dot_product(v.e, v.e))
                     * SQRT(list_dot_product(q.qe, q.qe))) AS cosine
              FROM v, q WHERE v.label <> q.qlbl),
            r AS (SELECT qid, id, lbl, cosine, row_number() OVER
                    (PARTITION BY qid ORDER BY cosine DESC, id) AS rank
                  FROM scored)
            SELECT qid, rank, id AS negative, lbl AS neg_label,
                   ROUND(cosine, 6) AS cosine
            FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  /** Semantic duplicate clusters (SemDeDup by graph closure): connected
    * components over the kNN-graph edges whose cosine clears `minCosine`.
    * Composition of two certified operators — [[knnGraph]] generates the
    * blocked candidate edges, [[graft.dedup.DupClusters.connectedComponents]]
    * closes them in O(log diameter) keyed rounds — so the whole pipeline
    * inherits their 100 TB shapes (list-keyed candidate shuffle; min-label
    * propagation on the edge key; no all-pairs anywhere). Vectors in no
    * strong edge are their own singleton cluster. */
  def semanticClusters(emb: DataFrame, idCol: String, vecCol: String,
      nList: Int, nProbe: Int, k: Int, minCosine: Double,
      graph: Option[DataFrame] = None): DataFrame = {
    val edges = graph.getOrElse(knnGraph(emb, idCol, vecCol, nList,
        nProbe, k))
      .filter(col("cosine") >= minCosine)
      .select(col("qid").as("ida"), col("neighbor").as("idb"))
    val cc = graft.dedup.DupClusters.connectedComponents(edges)
    val labeled = emb.select(col(idCol).as("vec_id"))
      .join(cc.select(col("id").as("vec_id"), col("comp")), Seq("vec_id"),
        "left")
      .select(col("vec_id"),
        coalesce(col("comp"), col("vec_id")).as("cluster"))
    val sizes = labeled.groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, Seq("cluster"))
      .select("vec_id", "cluster", "cluster_size")
  }

  /** [[semanticClusters]] with the edge threshold DERIVED FROM THE DATA:
    * the cosine at the `pctNum/pctDen` nearest-rank percentile of the
    * observed kNN-edge distribution, instead of a fixture-tuned constant
    * (the round-11 verdict's 0.38 note — a constant tuned to make one SF
    * fragment nicely is wrong at every other SF; the percentile keeps
    * the KEPT-EDGE FRACTION invariant as the corpus and its similarity
    * distribution drift).
    *
    * Engine-robust threshold: edge cosines are already 6-dp-rounded, the
    * percentile is nearest-rank over exact counts (smallest value whose
    * cumulative count satisfies `cum·pctDen ≥ n·pctNum` — pure integer
    * comparison, no float division), and the cumulative window runs over
    * DISTINCT VALUE cells (the KS/quantile-map pattern), never data
    * rows. The graph is built ONCE (persisted, the [[graphRank]]
    * loop-invariant pattern) and reused for the threshold and the
    * closure — [[semanticClusters]] callers that also probe the
    * distribution would otherwise rebuild it. `persist`, NOT
    * `localCheckpoint`: an eager checkpoint forces Catalyst's
    * stats-and-constraints rewrite over the deep IVF join tree for no
    * reuse benefit an InMemoryRelation doesn't already give. (The
    * driver-side BigInteger stats blow-up this query first exposed is
    * fixed at its root in [[graft.dedup.DupClusters.connectedComponents]]'s
    * per-round truncation.) */
  def semanticClustersAdaptive(emb: DataFrame, idCol: String,
      vecCol: String, nList: Int, nProbe: Int, k: Int,
      pctNum: Int, pctDen: Int, graph: Option[DataFrame] = None): DataFrame = {
    require(pctNum > 0 && pctNum < pctDen, "percentile must be in (0, 1)")
    // a caller-provided graph (KnnGraphCache) is already persisted
    val g = graph.getOrElse(knnGraph(emb, idCol, vecCol, nList, nProbe, k)
      .persist())
    val hist = g.groupBy("cosine").agg(count(lit(1)).as("c"))
    // r16 (guide §2.2): the percentile cut formerly cumulated the
    // distinct-cosine cells through a single-partition Window.orderBy;
    // the distributed prefix sum (+ the cell's own count) is the same
    // inclusive integer cumsum, and the grand total comes back with it
    val (running, totals, _) = graft.etl.GlobalIndex.withGlobalRunning(
      hist, Seq(col("cosine")), Seq(col("c") -> "__xc"))
    val thr = running
      .filter((col("__xc") + col("c")) * lit(pctDen.toLong) >=
        lit(totals(0)) * lit(pctNum.toLong))
      .agg(min("cosine")).head().getDouble(0)
    val edges = g.filter(col("cosine") >= thr)
      .select(col("qid").as("ida"), col("neighbor").as("idb"))
    val cc = graft.dedup.DupClusters.connectedComponents(edges)
    val labeled = emb.select(col(idCol).as("vec_id"))
      .join(cc.select(col("id").as("vec_id"), col("comp")), Seq("vec_id"),
        "left")
      .select(col("vec_id"),
        coalesce(col("comp"), col("vec_id")).as("cluster"))
    val sizes = labeled.groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, Seq("cluster"))
      .select("vec_id", "cluster", "cluster_size")
  }

  /** Clusters at cosine ≥ 0.3 on the (16, 4, 5) graph; the oracle closes
    * the SAME rounded edge set with a recursive CTE (transitive closure =
    * the SQL specification of connected components, as in
    * q_d_dup_clusters). */
  private val sSemClusters = Q(
    (s, d) => semanticClusters(Tables.embeddings(s, d), "vec_id",
      "embedding", nList = 16, nProbe = 4, k = 5, minCosine = 0.3,
      graph = Some(KnnGraphCache.edges(s, d, 16, 4, 5)))
      .orderBy("vec_id"),
    Some("WITH RECURSIVE " + knnGraphSql + """,
            p AS (SELECT qid AS ida, id AS idb FROM r
                  WHERE rank <= 5 AND ROUND(cosine, 6) >= 0.3),
            e AS (SELECT ida AS a, idb AS b FROM p
                  UNION SELECT idb AS a, ida AS b FROM p),
            reach AS (SELECT a, b FROM e
                      UNION
                      SELECT rc.a, e2.b FROM reach rc JOIN e e2 ON rc.b = e2.a
                      WHERE e2.b <> rc.a),
            comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS comp
                     FROM reach GROUP BY a),
            lab AS (SELECT v.vec_id, COALESCE(c.comp, v.vec_id) AS cluster
                    FROM v LEFT JOIN comp c ON v.vec_id = c.id),
            sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size
                   FROM lab GROUP BY 1)
            SELECT lab.vec_id, lab.cluster, sz.cluster_size
            FROM lab JOIN sz ON lab.cluster = sz.cluster
            ORDER BY lab.vec_id"""))

  /** q_s_semantic_adaptive: [[semanticClustersAdaptive]] at the 75th
    * edge-cosine percentile — the oracle derives the SAME nearest-rank
    * threshold from the SAME rounded-edge histogram before closing the
    * kept edges, so the hash gate certifies the derivation, not just the
    * closure. The kept-edge FRACTION (top quarter) is the invariant that
    * holds across SFs where a constant threshold would not (the
    * cross-SF spec pins it at sf0.001 and sf0.01). */
  private val sSemAdaptive = Q(
    (s, d) => semanticClustersAdaptive(Tables.embeddings(s, d), "vec_id",
      "embedding", nList = 16, nProbe = 4, k = 5, pctNum = 3, pctDen = 4,
      graph = Some(KnnGraphCache.edges(s, d, 16, 4, 5)))
      .orderBy("vec_id"),
    Some("WITH RECURSIVE " + knnGraphSql + """,
            g AS (SELECT qid, id, ROUND(cosine, 6) AS cosine FROM r
                  WHERE rank <= 5),
            hist AS (SELECT cosine, CAST(COUNT(*) AS BIGINT) AS c
                     FROM g GROUP BY 1),
            tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hist),
            cum AS (SELECT cosine, SUM(c) OVER (ORDER BY cosine) AS cum
                    FROM hist),
            thr AS (SELECT MIN(cosine) AS t FROM cum CROSS JOIN tot
                    WHERE cum * 4 >= n * 3),
            p AS (SELECT qid AS ida, id AS idb FROM g CROSS JOIN thr
                  WHERE cosine >= t),
            e AS (SELECT ida AS a, idb AS b FROM p
                  UNION SELECT idb AS a, ida AS b FROM p),
            reach AS (SELECT a, b FROM e
                      UNION
                      SELECT rc.a, e2.b FROM reach rc JOIN e e2 ON rc.b = e2.a
                      WHERE e2.b <> rc.a),
            comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS comp
                     FROM reach GROUP BY a),
            lab AS (SELECT v.vec_id, COALESCE(c.comp, v.vec_id) AS cluster
                    FROM v LEFT JOIN comp c ON v.vec_id = c.id),
            sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size
                   FROM lab GROUP BY 1)
            SELECT lab.vec_id, lab.cluster, sz.cluster_size
            FROM lab JOIN sz ON lab.cluster = sz.cluster
            ORDER BY lab.vec_id"""))

  /** Bucket-bit count trades recall vs candidate volume: measured on the
    * sf0.001 embeddings, (8 bits, 6 tables) -> 0.02 recall of exact top-3,
    * (6, 12) -> 0.43, (4, 16) -> 0.90 (but 4-bit buckets stop scaling with
    * corpus size). nBits should grow ~log(corpus); (6, 12) is the default
    * at this scale. */
  private val sAnn = Q(
    (s, d) => annTopK(Tables.embeddings(s, d), "vec_id", "embedding",
      dim = 64, nBits = 6, nTables = 12, k = 3, col("id") < 5)
      .orderBy("qid", "rank"),
    // Full candidate-set replica: DuckDB rebuilds the 72 sha256-derived
    // hyperplanes (6 hex chars -> 24-bit int -> [-1,1]), recomputes every
    // signature, and runs the same any-shared-bucket -> exact-cosine top-k.
    Some("""WITH pl AS (SELECT plane, i,
              ((  (strpos('0123456789abcdef', substr(sha256('lshp:' || plane || ':' || i), 1, 1)) - 1) * 1048576
                + (strpos('0123456789abcdef', substr(sha256('lshp:' || plane || ':' || i), 2, 1)) - 1) * 65536
                + (strpos('0123456789abcdef', substr(sha256('lshp:' || plane || ':' || i), 3, 1)) - 1) * 4096
                + (strpos('0123456789abcdef', substr(sha256('lshp:' || plane || ':' || i), 4, 1)) - 1) * 256
                + (strpos('0123456789abcdef', substr(sha256('lshp:' || plane || ':' || i), 5, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(sha256('lshp:' || plane || ':' || i), 6, 1)) - 1)
               ) / 16777215.0) * 2.0 - 1.0 AS comp
              FROM (SELECT unnest(range(0, 72)) AS plane) p,
                   (SELECT unnest(range(0, 64)) AS i) ii),
            planes AS (SELECT plane, list(comp ORDER BY i) AS comps
              FROM pl GROUP BY plane),
            v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            dots AS (SELECT vec_id, plane, list_dot_product(e, comps) AS dot
              FROM v CROSS JOIN planes),
            sig AS (SELECT vec_id, CAST(plane // 6 AS INT) AS tbl,
                SUM(CASE WHEN dot > 0
                    THEN CAST(1 AS BIGINT) << CAST(plane % 6 AS INT)
                    ELSE 0 END) AS bucket
              FROM dots GROUP BY 1, 2),
            cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS id
              FROM sig c JOIN sig q ON c.tbl = q.tbl AND c.bucket = q.bucket
              WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
            scored AS (SELECT cand.qid, cand.id,
                list_dot_product(a.e, b.e)
                  / (SQRT(list_dot_product(a.e, a.e))
                     * SQRT(list_dot_product(b.e, b.e))) AS cosine
              FROM cand JOIN v a ON a.vec_id = cand.id
                        JOIN v b ON b.vec_id = cand.qid),
            r AS (SELECT qid, id, cosine, row_number() OVER
                    (PARTITION BY qid ORDER BY cosine DESC, id) AS rank
                  FROM scored)
            SELECT qid, rank, id AS neighbor, ROUND(cosine, 6) AS cosine
            FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  /** IVF over the 64-dim embeddings: 16 lists, probe 6. The KMeans
    * quantizer is not SQL-expressible, so instead of dumping the (formerly
    * rows-only) neighbor lists this registers the QUALITY CONTRACT: recall
    * of the IVF top-3 against the exact brute-force top-3, computed
    * in-plan, thresholded at 0.6. The oracle supplies the expected query
    * count and the TRUE literal — the hash matches iff the measured recall
    * actually clears the bar, so a quantizer regression fails the
    * correctness gate (measured recall@3 at nProbe=6: 0.67-0.93 over
    * sf0.001-0.1; the nProbe/nList trade is documented on [[ivfTopK]]).
    * Exactness of the returned cosines is pinned in SimilarityOpsSpec. */
  private val sIvf = Q(
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val exact = bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", 3).select(col("qid"), col("neighbor"))
      val approx = ivfTopK(emb, "vec_id", "embedding",
        nList = 16, nProbe = 6, k = 3, col("id") < 5)
        .select(col("qid").as("aqid"), col("neighbor").as("aneighbor"))
      exact.join(approx, col("qid") === col("aqid") &&
          col("neighbor") === col("aneighbor"), "left")
        .agg(countDistinct("qid").as("n_queries"),
          (sum(when(col("aneighbor").isNotNull, 1).otherwise(0))
            .cast("double") / count(lit(1))).as("recall"))
        .select(col("n_queries"), (col("recall") >= 0.6).as("recall_ok"))
    },
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
            FROM embeddings WHERE vec_id < 5"""))

  /** Seeded-quantizer IVF, fully oracle-checked: DuckDB replays centroid
    * choice, both argmins (same (d2, cid) tie-break), the list equi-join,
    * and the exact-cosine top-k. */
  private val sIvfSeeded = Q(
    (s, d) => ivfSeededTopK(Tables.embeddings(s, d), "vec_id", "embedding",
      nList = 16, nProbe = 4, k = 3, col("id") < 5)
      .orderBy("qid", "rank"),
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings),
            cent AS (SELECT vec_id AS cid, e AS cv FROM v WHERE vec_id < 16),
            dist AS (SELECT v.vec_id AS id, cent.cid,
                COALESCE(list_sum(list_transform(range(0, 64),
                  i -> (e[CAST(i AS INT) + 1] - cv[CAST(i AS INT) + 1])
                     * (e[CAST(i AS INT) + 1] - cv[CAST(i AS INT) + 1]))), 0)
                  AS d2
              FROM v CROSS JOIN cent),
            ar AS (SELECT id, cid, row_number() OVER
                     (PARTITION BY id ORDER BY d2, cid) AS r FROM dist),
            assigned AS (SELECT id, cid AS list FROM ar WHERE r = 1),
            probes AS (SELECT id AS qid, cid AS list FROM ar
                       WHERE r <= 4 AND id < 5),
            cand AS (SELECT DISTINCT qid, a.id
              FROM assigned a JOIN probes p ON a.list = p.list
              WHERE a.id <> p.qid),
            scored AS (SELECT cand.qid, cand.id,
                list_dot_product(a.e, b.e)
                  / (SQRT(list_dot_product(a.e, a.e))
                     * SQRT(list_dot_product(b.e, b.e))) AS cosine
              FROM cand JOIN v a ON a.vec_id = cand.id
                        JOIN v b ON b.vec_id = cand.qid),
            r AS (SELECT qid, id, cosine, row_number() OVER
                    (PARTITION BY qid ORDER BY cosine DESC, id) AS rank
                  FROM scored)
            SELECT qid, rank, id AS neighbor, ROUND(cosine, 6) AS cosine
            FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  /** Corpus-wide 5-NN graph on the seeded 16-list quantizer, 4 probes.
    * Geometry measured before pinning (sf0.001, recall@3 of exact;
    * OPTIMIZATION_r16.md, "Retired measurement tools"): one-sided
    * candidates (16,4) → 0.48; SYMMETRIC (16,2) → 0.49, (16,4) → 0.91,
    * (16,6) → 1.00 — symmetric generation ~doubles recall at the same
    * candidate bound, so (16,4) is the default. */
  /** Shared oracle CTE chain for the (16, 4)-geometry kNN graph: seeded
    * centroids, squared-distance argmin probes, symmetric probe-list
    * candidates, exact cosine, per-qid rank. Ends at CTE `r`. */
  // def, not val: referenced by queries declared ABOVE it in init order
  private[sim] def knnGraphSql: String =
    """v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings),
            cent AS (SELECT vec_id AS cid, e AS cv FROM v WHERE vec_id < 16),
            dist AS (SELECT v.vec_id AS id, cent.cid,
                COALESCE(list_sum(list_transform(range(0, 64),
                  i -> (e[CAST(i AS INT) + 1] - cv[CAST(i AS INT) + 1])
                     * (e[CAST(i AS INT) + 1] - cv[CAST(i AS INT) + 1]))), 0)
                  AS d2
              FROM v CROSS JOIN cent),
            ar AS (SELECT id, cid, row_number() OVER
                     (PARTITION BY id ORDER BY d2, cid) AS r FROM dist),
            probes AS (SELECT id, cid AS list FROM ar WHERE r <= 4),
            cand AS (SELECT DISTINCT p.id AS qid, a.id
              FROM probes a JOIN probes p ON a.list = p.list
              WHERE a.id <> p.id),
            scored AS (SELECT cand.qid, cand.id,
                list_dot_product(a.e, b.e)
                  / (SQRT(list_dot_product(a.e, a.e))
                     * SQRT(list_dot_product(b.e, b.e))) AS cosine
              FROM cand JOIN v a ON a.vec_id = cand.id
                        JOIN v b ON b.vec_id = cand.qid),
            r AS (SELECT qid, id, cosine, row_number() OVER
                    (PARTITION BY qid ORDER BY cosine DESC, id) AS rank
                  FROM scored)"""

  private val sKnnGraph = Q(
    (s, d) => KnnGraphCache.edges(s, d, 16, 4, 5).orderBy("qid", "rank"),
    Some("WITH " + knnGraphSql + """
            SELECT qid, rank, id AS neighbor, ROUND(cosine, 6) AS cosine
            FROM r WHERE rank <= 5 ORDER BY qid, rank"""))

  /** PageRank over the [[knnGraph]] edge set — centrality-based
    * representative selection for curation: a document whose semantic
    * neighborhood keeps choosing it as a nearest neighbor accumulates
    * rank, so the top of this score is the canonical exemplar of each
    * dense region (and the bottom is the isolated tail). Power iteration,
    * unrolled a FIXED `iters` times so the result is a deterministic
    * function of the edge set (no convergence-threshold nondeterminism).
    *
    * EXACT INTEGER arithmetic, not floats: with damping 17/20 and
    * out-degrees ≤ k, scaling rank by n·C^i (C = 20·lcm(1..k)) keeps
    * every step integral —
    *
    *   R_0 = 1,   R_{i+1}(v) = 3·L·C^i  +  Σ_{u→v} (17·L / deg_u)·R_i(u)
    *
    * (L = lcm(1..k); 17·L is divisible by every deg ≤ k, so the per-edge
    * coefficient is an exact integer). A float version was tried first
    * and FAILED the cross-engine gate: these ranks are terminating
    * decimals that land exactly on rounding boundaries (e.g.
    * 0.0002839045 at sf0.1), where no float rounding convention is
    * engine-portable. True pr = R_iters / (n·C^iters), emitted alongside
    * as a display double. Dangling nodes (possible in principle, none in
    * a kNN graph dense enough to probe-share) contribute nothing — the
    * evaporating-mass variant; ranks remain comparable.
    *
    * Scale: each iteration is one src-keyed equi-join (edges+degrees
    * persisted once — loop invariants) and one dst-keyed
    * partial-aggregated integer sum. Long headroom: n·C^iters must fit
    * 2⁶³ (required); beyond ~5M nodes at (k=5, iters=3) swap the rank
    * column to DECIMAL(38,0) — same plan, 38-digit headroom. */
  def graphRank(emb: DataFrame, idCol: String, vecCol: String,
      nList: Int, nProbe: Int, k: Int, iters: Int = 3,
      graph: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && k <= 10 && iters >= 1, "need 1 <= k <= 10, iters >= 1")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcmK = (1L to k).reduce((a, b) => a / gcd(a, b) * b)
    val c = 20L * lcmK
    val nodes = prep(emb, idCol, vecCol).select(col("id"))
    val n = nodes.count()
    require(BigInt(n) * BigInt(c).pow(iters) < BigInt(Long.MaxValue),
      s"rank scale n*$c^$iters overflows long — use the DECIMAL(38,0) " +
        "variant at this node count")
    val edges = graph.getOrElse(knnGraph(emb, idCol, vecCol, nList,
        nProbe, k))
      .select(col("qid").as("src"), col("neighbor").as("dst"))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val ed = edges.join(deg, Seq("src"))
      .select(col("src"), col("dst"),
        (lit(17L * lcmK) / col("outdeg")).cast("long").as("coef"))
      .persist()
    var ranks = nodes.select(col("id"), lit(1L).as("R"))
    (1 to iters).foreach { i =>
      val base = (BigInt(3L * lcmK) * BigInt(c).pow(i - 1)).toLong
      val inSum = ed
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst"), (col("R") * col("coef")).as("m"))
        .groupBy("dst").agg(sum("m").as("msum"))
      ranks = nodes
        .join(inSum, nodes("id") === inSum("dst"), "left")
        .select(nodes("id"),
          (lit(base) + coalesce(col("msum"), lit(0L))).as("R"))
    }
    val scale = BigInt(n) * BigInt(c).pow(iters)
    ranks.select(col("id").as(idCol), col("R").as("pr_scaled"),
      (col("R") / lit(scale.toDouble)).as("pr"))
  }

  /** Generated exact-integer power-iteration oracle: the knn edge CTE
    * chain, then one rank CTE per iteration — all BIGINT, so the hash
    * compares exact values with zero float tolerance. */
  private def pageRankSql(iters: Int, k: Int): String = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcmK = (1L to k).reduce((a, b) => a / gcd(a, b) * b)
    val c = 20L * lcmK
    val header = knnGraphSql + s""",
            e AS (SELECT qid AS src, id AS dst FROM r WHERE rank <= $k),
            deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
                    FROM e GROUP BY src),
            ec AS (SELECT src, dst,
                     CAST(${17L * lcmK} / outdeg AS BIGINT) AS coef
                   FROM e JOIN deg USING (src)),
            pr0 AS (SELECT vec_id AS id, CAST(1 AS BIGINT) AS R FROM v)"""
    val iterCtes = (1 to iters).map { i =>
      val p = s"pr${i - 1}"
      val base = 3L * lcmK * BigInt(c).pow(i - 1)
      s""",
            pr$i AS (SELECT v.vec_id AS id,
                CAST($base + COALESCE(s.msum, 0) AS BIGINT) AS R
              FROM v
              LEFT JOIN (SELECT ec.dst, SUM($p.R * ec.coef) AS msum
                         FROM ec JOIN $p ON ec.src = $p.id
                         GROUP BY ec.dst) s
                ON v.vec_id = s.dst)"""
    }.mkString
    "WITH " + header + iterCtes + s"""
            SELECT id AS vec_id, R AS pr_scaled FROM pr$iters
            ORDER BY vec_id"""
  }

  private val sGraphRank = Q(
    (s, d) => graphRank(Tables.embeddings(s, d), "vec_id", "embedding",
      nList = 16, nProbe = 4, k = 5,
      graph = Some(KnnGraphCache.edges(s, d, 16, 4, 5)))
      .select("vec_id", "pr_scaled")
      .orderBy("vec_id"),
    Some(pageRankSql(iters = 3, k = 5)))

  /** Seeded IVF-PQ, hash-replayed end to end: coarse lists, per-subspace
    * codes, the query LUTs, the fixed-order ADC sums, the shortlist, and
    * the exact rerank are all rebuilt in DuckDB. */
  private val sIvfPq = Q(
    (s, d) => ivfPqTopK(Tables.embeddings(s, d), "vec_id", "embedding",
      dim = 64, nList = 16, nProbe = 4, m = 8, kSub = 16,
      shortlist = 32, k = 3, col("id") < 5)
      .orderBy("qid", "rank"),
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings),
            cent AS (SELECT vec_id AS cid, e AS cv FROM v WHERE vec_id < 16),
            cd AS (SELECT v.vec_id AS id, cent.cid,
                COALESCE(list_sum(list_transform(range(0, 64),
                  i -> (e[CAST(i AS INT) + 1] - cv[CAST(i AS INT) + 1])
                     * (e[CAST(i AS INT) + 1] - cv[CAST(i AS INT) + 1]))), 0)
                  AS d2
              FROM v CROSS JOIN cent),
            ar AS (SELECT id, cid, row_number() OVER
                     (PARTITION BY id ORDER BY d2, cid) AS r FROM cd),
            assigned AS (SELECT id, cid AS list FROM ar WHERE r = 1),
            probes AS (SELECT id AS qid, cid AS list FROM ar
                       WHERE r <= 4 AND id < 5),
            sl AS (SELECT vec_id AS id, CAST(s AS INT) AS s,
                     list_slice(e, CAST(s AS INT) * 8 + 1,
                                CAST(s AS INT) * 8 + 8) AS sv
                   FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS s) ss),
            cb AS (SELECT s, id AS j, sv AS cbv FROM sl WHERE id < 16),
            sd AS (SELECT a.id, a.s, c.j,
                COALESCE(list_sum(list_transform(range(0, 8),
                  i -> (sv[CAST(i AS INT) + 1] - cbv[CAST(i AS INT) + 1])
                     * (sv[CAST(i AS INT) + 1] - cbv[CAST(i AS INT) + 1]))), 0)
                  AS d2
              FROM sl a JOIN cb c ON a.s = c.s),
            codes AS (SELECT id, s, j AS code FROM (
                SELECT id, s, j, row_number() OVER
                  (PARTITION BY id, s ORDER BY d2, j) AS r FROM sd)
              WHERE r = 1),
            lut AS (SELECT id AS qid, s, j AS code, d2 AS lutd2
                    FROM sd WHERE id < 5),
            cand AS (SELECT p.qid, a.id
                     FROM assigned a JOIN probes p ON a.list = p.list
                     WHERE a.id <> p.qid),
            adc AS (SELECT c.qid, c.id,
                SUM(CASE WHEN codes.s = 0 THEN lut.lutd2 END) AS d0,
                SUM(CASE WHEN codes.s = 1 THEN lut.lutd2 END) AS d1,
                SUM(CASE WHEN codes.s = 2 THEN lut.lutd2 END) AS d2,
                SUM(CASE WHEN codes.s = 3 THEN lut.lutd2 END) AS d3,
                SUM(CASE WHEN codes.s = 4 THEN lut.lutd2 END) AS d4,
                SUM(CASE WHEN codes.s = 5 THEN lut.lutd2 END) AS d5,
                SUM(CASE WHEN codes.s = 6 THEN lut.lutd2 END) AS d6,
                SUM(CASE WHEN codes.s = 7 THEN lut.lutd2 END) AS d7
              FROM cand c
              JOIN codes ON c.id = codes.id
              JOIN lut ON lut.qid = c.qid AND lut.s = codes.s
                      AND lut.code = codes.code
              GROUP BY c.qid, c.id),
            shortl AS (SELECT qid, id FROM (
                SELECT qid, id, row_number() OVER (PARTITION BY qid
                  ORDER BY d0 + d1 + d2 + d3 + d4 + d5 + d6 + d7, id) AS sr
                FROM adc) WHERE sr <= 32),
            scored AS (SELECT s.qid, s.id,
                list_dot_product(a.e, b.e)
                  / (SQRT(list_dot_product(a.e, a.e))
                     * SQRT(list_dot_product(b.e, b.e))) AS cosine
              FROM shortl s JOIN v a ON a.vec_id = s.id
                            JOIN v b ON b.vec_id = s.qid),
            r AS (SELECT qid, id, cosine, row_number() OVER
                    (PARTITION BY qid ORDER BY cosine DESC, id) AS rank
                  FROM scored)
            SELECT qid, rank, id AS neighbor, ROUND(cosine, 6) AS cosine
            FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  /** Chunk-to-document embedding pooling: mean of each group's vectors,
    * L2-normalized — the aggregation step between chunk-level encoding and
    * doc-level ANN in an embedding pipeline (long documents are encoded in
    * chunks; retrieval wants one vector per doc).
    *
    * Scale: the vectors explode to a tall (group, dim-index, component)
    * frame and reduce in ONE hash aggregation keyed on (group, index) —
    * map-side partial aggregation applies, so the shuffle carries at most
    * (#groups × dim) partial sums per map task, not the corpus. Reassembly
    * sorts the dim-indexed struct array per group (dim-bounded, in-memory);
    * the normalization is a scalar expression pass. */
  def meanPool(df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val tall = df.select(col(groupCol).as("grp"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("i", "x")))
      .groupBy("grp", "i").agg(sum("x").as("s"), count(lit(1)).as("c"))
    val pooled = tall.groupBy("grp").agg(
      max("c").as("n_chunks"), // every dim index counts the same rows
      transform(array_sort(collect_list(struct(col("i"), (col("s") / col("c")).as("m")))),
        e => e.getField("m")).as("mean"))
    val nrm = sqrt(aggregate(col("mean"), lit(0.0), (acc, x) => acc + x * x))
    pooled.select(col("grp"), col("n_chunks"),
      transform(col("mean"), x => round(x / nrm, 6)).as("pooled"))
  }

  /** The registry surface serializes the pooled vector in MICRO-units
    * (×10⁶, rounded to long): JSON float rendering differs across engines
    * (Spark's Jackson prints 0.00013 as 1.3E-4, DuckDB as 0.00013), so the
    * hashed column carries integers, which have one canonical rendering. */
  private val sMeanPool = Q(
    (s, d) => {
      val pooledRaw = meanPool(Tables.embeddings(s, d), "label", "embedding")
      graft.Q.serializeArrays(pooledRaw
        .select(col("grp"), col("n_chunks"),
          transform(col("pooled"), x => round(x * 1e6).cast("long"))
            .as("pooled_micro"))
        .orderBy("grp"))
    },
    Some("""WITH tall AS (SELECT label AS grp, i,
              CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS x
            FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS i) ii),
          agg AS (SELECT grp, i, SUM(x) AS s, COUNT(*) AS c
                  FROM tall GROUP BY 1, 2),
          pooled AS (SELECT grp, MAX(c) AS n_chunks,
                            list(s / c ORDER BY i) AS mean
                     FROM agg GROUP BY 1),
          nrm AS (SELECT grp, n_chunks, mean,
                         sqrt(list_sum(list_transform(mean, x -> x * x))) AS nv
                  FROM pooled)
          SELECT grp, n_chunks,
                 CAST(to_json(list_transform(mean,
                   x -> CAST(ROUND(ROUND(x / nv, 6) * 1000000) AS BIGINT)))
                   AS VARCHAR) AS pooled_micro
          FROM nrm ORDER BY grp"""))

  /** SemDeDup (arXiv:2303.09540): semantic deduplication by partitioning
    * the embedding space with a coarse quantizer, then pruning near-dups
    * WITHIN each cell only. This seeded variant uses the
    * [[ivfSeededTopK]] quantizer (centroids = the nList lowest-id
    * vectors, assignment = argmin squared-euclidean, ties → lowest cid)
    * and the deterministic keep rule "a vector is a duplicate iff some
    * LOWER-id cell-mate has round(cosine, 6) ≥ tau" — the paper keeps the
    * point farthest from the centroid; lowest-id is the replayable
    * stand-in, same trade as [[graft.dedup.DedupOps.exactDedup]].
    *
    * Scale: the cell id is the blocking AND shuffle key — pair scoring is
    * a per-cell self-join, never corpus-all-pairs; centroids are
    * broadcast; only (id, cell) rows move through the pair join and the
    * dim-sized vectors join back per pair side; the cosine is the
    * codegen'd expression. At 100 TB, nList grows with the corpus
    * (cells stay ~constant size), keeping per-cell |cell|² work flat —
    * the same knob as IVF list count. */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
      nList: Int, tau: Double): DataFrame = {
    val v = prep(emb, idCol, vecCol)
    val cent = v.filter(col("id") < nList)
      .select(col("id").as("cid"), col("v").as("cv"))
    val d2 = graft.functions.SquaredDistance.squaredDist(col("v"), col("cv"))
    val w = Window.partitionBy("id").orderBy(col("d2"), col("cid"))
    val assigned = v.join(broadcast(cent)).withColumn("d2", d2)
      .withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("id"), col("v"), col("cid").as("cell"))
    val slim = assigned.select(col("id"), col("cell"))
    val dups = slim.join(slim.toDF("idb", "cell"), Seq("cell"))
      .filter(col("idb") < col("id"))
      .join(assigned.select(col("id"), col("v")), Seq("id"))
      .join(assigned.select(col("id").as("idb"), col("v").as("vb")), Seq("idb"))
      .filter(round(cosineSim(col("v"), col("vb")), 6) >= tau)
      .select("id").distinct()
    assigned.join(dups.withColumn("__dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(!col("__dup"), lit(true)).as("kept"))
  }

  /** Seeded SemDeDup over the embeddings corpus: 16 cells, tau = 0.45 (the
    * established near-dup bar for this corpus, see q_d_embed_neardup).
    * DuckDB replays the quantizer argmin (same (d2, cid) tie-break), the
    * within-cell lower-id pair rule, and the 6dp-rounded cosine
    * threshold. */
  private val sSemDedup = Q(
    (s, d) => semDedup(Tables.embeddings(s, d), "vec_id", "embedding",
      nList = 16, tau = 0.45).orderBy("id"),
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings),
            cent AS (SELECT vec_id AS cid, e AS cv FROM v WHERE vec_id < 16),
            dist AS (SELECT v.vec_id AS id, cent.cid,
                COALESCE(list_sum(list_transform(range(0, 64),
                  i -> (e[CAST(i AS INT) + 1] - cv[CAST(i AS INT) + 1])
                     * (e[CAST(i AS INT) + 1] - cv[CAST(i AS INT) + 1]))), 0)
                  AS d2
              FROM v CROSS JOIN cent),
            ar AS (SELECT id, cid, row_number() OVER
                     (PARTITION BY id ORDER BY d2, cid) AS r FROM dist),
            assigned AS (SELECT id, cid AS cell FROM ar WHERE r = 1),
            dups AS (SELECT DISTINCT a.id
              FROM assigned a JOIN assigned b
                ON a.cell = b.cell AND b.id < a.id
              JOIN v va ON va.vec_id = a.id
              JOIN v vb ON vb.vec_id = b.id
              WHERE ROUND(list_dot_product(va.e, vb.e)
                  / (SQRT(list_dot_product(va.e, va.e))
                     * SQRT(list_dot_product(vb.e, vb.e))), 6) >= 0.45)
            SELECT a.id AS id, a.cell AS cell, (d.id IS NULL) AS kept
            FROM assigned a LEFT JOIN dups d ON a.id = d.id
            ORDER BY a.id"""))

  /** Cluster-balanced sampling — flatten the semantic cluster distribution
    * by capping each cluster's contribution (the curation move behind
    * prototypicality pruning, Sorscher et al. arXiv:2206.14486: web-scale
    * corpora are dominated by a few dense semantic modes; capping
    * per-cluster keeps the coverage of rare modes). Vectors are assigned
    * to their nearest of `nList` seeded centroids (the [[semDedup]] /
    * [[ivfSeededTopK]] quantizer — argmin over broadcast centroids with
    * the (d2, cid) tie-break), then ranked within each cluster by
    * (d2 asc, id) — most prototypical first — and kept while rank ≤ cap.
    *
    * Scale: assignment is the broadcast-centroid argmin (map-side); the
    * per-cluster rank is a window PARTITIONED BY the cluster key — the
    * same keyed-window shape as grouped top-k, no single-partition
    * exchange. Both engines compute identical IEEE doubles for d2
    * (sequential i=0..dim−1 sums), so the rank is exact cross-engine. */
  def clusterBalancedSample(emb: DataFrame, idCol: String, vecCol: String,
      nList: Int, capPerCluster: Int): DataFrame = {
    val v = prep(emb, idCol, vecCol)
    val cent = v.filter(col("id") < nList)
      .select(col("id").as("cid"), col("v").as("cv"))
    val d2 = graft.functions.SquaredDistance.squaredDist(col("v"), col("cv"))
    val wAssign = Window.partitionBy("id").orderBy(col("d2"), col("cid"))
    val assigned = v.join(broadcast(cent)).withColumn("d2", d2)
      .withColumn("r", row_number().over(wAssign)).filter(col("r") === 1)
      .select(col("id"), col("cid").as("cell"), col("d2"))
    val wCap = Window.partitionBy("cell").orderBy(col("d2"), col("id"))
    assigned.withColumn("cap_rank", row_number().over(wCap))
      .select(col("id"), col("cell"), col("cap_rank"),
        (col("cap_rank") <= capPerCluster).as("selected"))
  }

  /** 16 seeded cells over the embeddings corpus, 20 kept per cell. */
  private val sClusterSample = Q(
    (s, d) => clusterBalancedSample(Tables.embeddings(s, d), "vec_id",
      "embedding", nList = 16, capPerCluster = 20).orderBy("id"),
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings),
            cent AS (SELECT vec_id AS cid, e AS cv FROM v WHERE vec_id < 16),
            dist AS (SELECT v.vec_id AS id, cent.cid,
                COALESCE(list_sum(list_transform(range(0, 64),
                  i -> (e[CAST(i AS INT) + 1] - cv[CAST(i AS INT) + 1])
                     * (e[CAST(i AS INT) + 1] - cv[CAST(i AS INT) + 1]))), 0)
                  AS d2
              FROM v CROSS JOIN cent),
            ar AS (SELECT id, cid, d2, row_number() OVER
                     (PARTITION BY id ORDER BY d2, cid) AS r FROM dist),
            assigned AS (SELECT id, cid AS cell, d2 FROM ar WHERE r = 1),
            rk AS (SELECT id, cell, row_number() OVER
                     (PARTITION BY cell ORDER BY d2, id) AS cap_rank
                   FROM assigned)
            SELECT id, cell, CAST(cap_rank AS INT) AS cap_rank,
                   (cap_rank <= 20) AS selected
            FROM rk ORDER BY id"""))

  /** Int8 scalar quantization (SQ8 — the FAISS storage-compression
    * baseline, Jégou et al. TPAMI'11 §II): per-dimension min/max over the
    * corpus, each component stored as code = ⌊255·(x−mn)/(mx−mn) + 0.5⌋
    * (round-to-nearest expressed as a binary-value floor — `floor(x+0.5)`
    * is the same IEEE computation in both engines, where `round`'s
    * half-way semantics diverge; the [[pqTrainCodebooks]] quantizer uses
    * the identical form), i.e. 4× smaller than float32. Returns per
    * vector: n_dims, the integer code checksum, and the reconstruction
    * error under dequantization mn + code·(mx−mn)/255, scaled to integer
    * picounits (⌊Σ(x−x̂)²·1e12 + 0.5⌋ per term) — the per-term floor
    * happens BEFORE the sum, so the total is an exact integer
    * reproducible under any partitioning and in DuckDB.
    *
    * Scale: the ONLY shuffle is the dim-keyed min/max aggregation over the
    * exploded (pos, x) slice (dims rows out, map-side combined). The
    * per-dim stats come back as ONE broadcast row of (mins, maxs) arrays;
    * codes and error are then a per-row array fold in the scan stage — the
    * corpus itself never shuffles and is read once per pass. A degenerate
    * dimension (mx == mn) quantizes to code 0 with zero error. */
  def scalarQuantize8(df: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    val v = prep(df, idCol, vecCol)
    val stats = v
      .select(posexplode(col("v")).as(Seq("pos0", "x")))
      .groupBy("pos0").agg(min("x").as("mn"), max("x").as("mx"))
    // one row: mins/maxs as position-ordered arrays (array_sort on the
    // (pos, stat) structs orders by pos — the first struct field)
    val statsRow = stats.agg(
      transform(array_sort(collect_list(struct(col("pos0"), col("mn")))),
        s => s.getField("mn")).as("mins"),
      transform(array_sort(collect_list(struct(col("pos0"), col("mx")))),
        s => s.getField("mx")).as("maxs"))
    def at(a: String, i: org.apache.spark.sql.Column) = element_at(col(a), i)
    // posexplode is 0-based, element_at 1-based
    def code(i: org.apache.spark.sql.Column) = {
      val (x, mn, mx) = (at("v", i), at("mins", i), at("maxs", i))
      when(mx > mn, floor(lit(255.0) * (x - mn) / (mx - mn) + lit(0.5))
        .cast("long"))
        .otherwise(0L)
    }
    def errPico(i: org.apache.spark.sql.Column) = {
      val (x, mn, mx) = (at("v", i), at("mins", i), at("maxs", i))
      val dq = when(mx > mn,
        mn + (code(i).cast("double") * (mx - mn)) / 255.0).otherwise(mn)
      floor(((x - dq) * (x - dq)) * 1e12 + lit(0.5)).cast("long")
    }
    v.crossJoin(broadcast(statsRow))
      .select(col("id").as(idCol),
        size(col("v")).cast("long").as("n_dims"),
        aggregate(sequence(lit(1), size(col("v"))), lit(0L),
          (acc, i) => acc + code(i)).as("code_sum"),
        aggregate(sequence(lit(1), size(col("v"))), lit(0L),
          (acc, i) => acc + errPico(i)).as("err_pico"))
  }

  private val sSq8 = Q(
    (s, d) => scalarQuantize8(Tables.embeddings(s, d), "vec_id", "embedding")
      .orderBy("vec_id"),
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings),
            ex AS (SELECT vec_id, CAST(i AS INT) + 1 AS pos,
                e[CAST(i AS INT) + 1] AS x
              FROM v, LATERAL (SELECT unnest(range(len(e))) AS i) ii),
            st AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx
                   FROM ex GROUP BY pos),
            c AS (SELECT ex.vec_id,
                CASE WHEN st.mx > st.mn
                  THEN CAST(floor(255.0 * (ex.x - st.mn) / (st.mx - st.mn)
                    + 0.5) AS BIGINT) ELSE 0 END AS code,
                st.mn, st.mx, ex.x
              FROM ex JOIN st USING (pos)),
            t AS (SELECT vec_id, code,
                CASE WHEN mx > mn
                  THEN mn + (CAST(code AS DOUBLE) * (mx - mn)) / 255.0
                  ELSE mn END AS dq, x
              FROM c)
            SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_dims,
              CAST(SUM(code) AS BIGINT) AS code_sum,
              CAST(SUM(CAST(floor(((x - dq) * (x - dq)) * 1e12 + 0.5)
                AS BIGINT)) AS BIGINT) AS err_pico
            FROM t GROUP BY vec_id ORDER BY vec_id"""))

  /** q_s_pq_train: the full 2-sweep training trajectory, hash-checked —
    * the DuckDB oracle replays both Lloyd sweeps (quantize → seed →
    * assign → exact integer sums/counts → means → re-assign) and the
    * final (s, j, n, sum_v) table must match bit-for-bit; any divergence
    * in ANY earlier assignment would cascade into the sums. */
  private val sPqTrain = Q(
    (s, d) => Q.serializeArrays(
      pqTrainCodebooks(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, m = 8, kSub = 16, iters = 2, scale = 64)
        .orderBy("s", "j")),
    Some("""WITH v AS (SELECT vec_id AS id,
              list_transform(CAST(embedding AS DOUBLE[]),
                x -> floor(x * 64 + 0.5)) AS vq
            FROM embeddings),
          sl AS (SELECT id, s,
              vq[CAST(s*8+1 AS INT) : CAST(s*8+8 AS INT)] AS sv
            FROM v, (SELECT unnest(range(8)) AS s) _s),
          cb0 AS (SELECT s, id AS j, sv AS cbv FROM sl WHERE id < 16),
          a1 AS (SELECT sl.id, sl.s, cb0.j,
              list_sum(list_transform(range(8), i ->
                (sv[CAST(i AS INT)+1] - cbv[CAST(i AS INT)+1])
                * (sv[CAST(i AS INT)+1] - cbv[CAST(i AS INT)+1]))) AS d2
            FROM sl JOIN cb0 ON sl.s = cb0.s
            QUALIFY row_number() OVER (PARTITION BY sl.id, sl.s
              ORDER BY d2, j) = 1),
          c1 AS (SELECT s, j, COUNT(*) AS n FROM a1 GROUP BY 1, 2),
          e1 AS (SELECT a1.s, a1.j, CAST(pp AS INT) AS p,
              sv[CAST(pp AS INT)+1] AS x
            FROM a1 JOIN sl ON a1.id = sl.id AND a1.s = sl.s,
              (SELECT unnest(range(8)) AS pp) _p),
          s1 AS (SELECT s, j, p, SUM(x) AS sx FROM e1 GROUP BY 1, 2, 3),
          m1 AS (SELECT s1.s, s1.j, list(s1.sx / c1.n ORDER BY s1.p) AS cbv
            FROM s1 JOIN c1 ON s1.s = c1.s AND s1.j = c1.j
            GROUP BY s1.s, s1.j, c1.n),
          cb1 AS (SELECT cb0.s, cb0.j, COALESCE(m1.cbv, cb0.cbv) AS cbv
            FROM cb0 LEFT JOIN m1 ON cb0.s = m1.s AND cb0.j = m1.j),
          a2 AS (SELECT sl.id, sl.s, cb1.j,
              list_sum(list_transform(range(8), i ->
                (sv[CAST(i AS INT)+1] - cbv[CAST(i AS INT)+1])
                * (sv[CAST(i AS INT)+1] - cbv[CAST(i AS INT)+1]))) AS d2
            FROM sl JOIN cb1 ON sl.s = cb1.s
            QUALIFY row_number() OVER (PARTITION BY sl.id, sl.s
              ORDER BY d2, j) = 1),
          c2 AS (SELECT s, j, COUNT(*) AS n FROM a2 GROUP BY 1, 2),
          e2 AS (SELECT a2.s, a2.j, CAST(pp AS INT) AS p,
              sv[CAST(pp AS INT)+1] AS x
            FROM a2 JOIN sl ON a2.id = sl.id AND a2.s = sl.s,
              (SELECT unnest(range(8)) AS pp) _p),
          s2 AS (SELECT s, j, p, SUM(x) AS sx FROM e2 GROUP BY 1, 2, 3)
          SELECT s2.s, s2.j, c2.n,
            CAST(to_json(list(CAST(s2.sx AS BIGINT) ORDER BY s2.p))
              AS VARCHAR) AS sum_v
          FROM s2 JOIN c2 ON s2.s = c2.s AND s2.j = c2.j
          GROUP BY s2.s, s2.j, c2.n
          ORDER BY s2.s, s2.j"""))

  /** q_s_ivf_append: base corpus (vec_id % 5 ≠ 0) builds the index, the
    * arriving fifth appends against the frozen quantizer, the merged
    * postings are probed — and the oracle assigns the WHOLE corpus in
    * one shot, so the hash match proves incremental build ≡ full
    * rebuild exactly. */
  private val sIvfAppend = Q(
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val base = emb.filter(col("vec_id") % 5 =!= 0)
      val batch = emb.filter(col("vec_id") % 5 === 0)
      val cent = ivfCentroids(base, "vec_id", "embedding", nList = 16)
      val idx = appendToIvf(
        buildIvfIndex(base, "vec_id", "embedding", nList = 16),
        cent, batch, "vec_id", "embedding")
      probeIvf(idx, cent, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", nProbe = 4, k = 3)
        .orderBy("qid", "rank")
    },
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings),
            cent AS (SELECT vec_id AS cid, e AS cv FROM v
                     WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT 16),
            dist AS (SELECT v.vec_id AS id, cent.cid,
                COALESCE(list_sum(list_transform(range(0, 64),
                  i -> (e[CAST(i AS INT) + 1] - cv[CAST(i AS INT) + 1])
                     * (e[CAST(i AS INT) + 1] - cv[CAST(i AS INT) + 1]))), 0)
                  AS d2
              FROM v CROSS JOIN cent),
            ar AS (SELECT id, cid, row_number() OVER
                     (PARTITION BY id ORDER BY d2, cid) AS r FROM dist),
            assigned AS (SELECT id, cid AS list FROM ar WHERE r = 1),
            probes AS (SELECT id AS qid, cid AS list FROM ar
                       WHERE r <= 4 AND id < 5),
            cand AS (SELECT DISTINCT qid, a.id
              FROM assigned a JOIN probes p ON a.list = p.list
              WHERE a.id <> p.qid),
            scored AS (SELECT cand.qid, cand.id,
                list_dot_product(a.e, b.e)
                  / (SQRT(list_dot_product(a.e, a.e))
                     * SQRT(list_dot_product(b.e, b.e))) AS cosine
              FROM cand JOIN v a ON a.vec_id = cand.id
                        JOIN v b ON b.vec_id = cand.qid),
            r AS (SELECT qid, id, cosine, row_number() OVER
                    (PARTITION BY qid ORDER BY cosine DESC, id) AS rank
                  FROM scored)
            SELECT qid, rank, id AS neighbor, ROUND(cosine, 6) AS cosine
            FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  val queries: Map[String, Q] = Map(
    "q_s_pq_train" -> sPqTrain,
    "q_s_ivf_append" -> sIvfAppend,
    "q_s_sq8" -> sSq8,
    "q_s_cluster_sample" -> sClusterSample,
    "q_s_cosine_topk" -> sTopK,
    "q_s_hard_negatives" -> sHardNeg,
    "q_s_ann_lsh" -> sAnn,
    "q_s_ann_ivf" -> sIvf,
    "q_s_knn_graph" -> sKnnGraph,
    "q_s_graph_rank" -> sGraphRank,
    "q_s_semantic_clusters" -> sSemClusters,
    "q_s_semantic_adaptive" -> sSemAdaptive,
    "q_s_ann_ivf_seeded" -> sIvfSeeded,
    "q_s_ivf_pq" -> sIvfPq,
    "q_s_mean_pool" -> sMeanPool,
    "q_d_semdedup" -> sSemDedup)
}
