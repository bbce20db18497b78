package graft.dedup

import graft.{Q, Tables}
import graft.functions.SimHash64
import graft.text.TextOps
import org.apache.spark.ml.feature.MinHashLSH
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design: exact dedup is a single hash aggregation; Jaccard/LSH
  * variants never compare all pairs — candidates come from an equi-join on
  * a blocking key (shared shingle / LSH bucket / band), which Spark executes
  * as a shuffle join on that key. At 100 TB the blocking key IS the
  * partition key, so each executor only sees its own buckets.
  */
object DedupOps {

  /** Exact dedup on a normalized content hash: one groupBy, keeps the
    * smallest id as canonical. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        md5(regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", "")
          .cast("binary")).as("h"))
      .groupBy("h")
      .agg(min(idCol).as("keep"), count(lit(1)).as("dup_count"))

  /** Distinct word-k-gram shingles per document (+ a blocking column).
    *
    * The token array is materialized in its OWN projection before the
    * shingle transform: referencing the tokenizer expression directly
    * inside the `transform` lambda re-splits the whole text once per
    * shingle index (O(tokens²) per doc — measured 9.6 s of a 10.8 s query
    * at sf0.1). As a multi-referenced non-cheap expression it survives
    * CollapseProject, so each text is tokenized exactly once. */
  def shingles(df: DataFrame, idCol: String, textCol: String, blockCol: String,
      k: Int = 3): DataFrame = {
    val t = col("__toks")
    df.select(col(idCol).as("id"), col(blockCol).as("block"),
        TextOps.tokens(lower(col(textCol))).as("__toks"))
      .select(col("id"), col("block"),
        explode(when(size(t) >= k,
          array_distinct(transform(sequence(lit(0), size(t) - k),
            i => concat_ws(" ", slice(t, i + 1, lit(k))))))
          .otherwise(array().cast("array<string>"))).as("shingle"))
  }

  /** N-gram Jaccard near-dup pairs: candidates from a shared-shingle
    * self-join within a block, similarity = |∩| / (|A|+|B|−|∩|).
    * The shingle frame is cached (it feeds the sizes aggregation AND the
    * self-join); the plain overload leaves that cache to the session —
    * long-lived compositions should use the releasable variant. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, k: Int = 3, threshold: Double = 0.05): DataFrame =
    ngramJaccardPairsReleasable(df, idCol, textCol, blockCol, k, threshold)._1

  def ngramJaccardPairsReleasable(df: DataFrame, idCol: String,
      textCol: String, blockCol: String, k: Int = 3,
      threshold: Double = 0.05): (DataFrame, () => Unit) = {
    val sh = shingles(df, idCol, textCol, blockCol, k).cache()
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val a = sh.toDF("ida", "block", "shingle")
    val b = sh.toDF("idb", "block", "shingle")
    val shared = a.join(b, Seq("block", "shingle"))
      .filter(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("shared"))
    val out = shared
      .join(sizes.toDF("ida", "sza"), "ida")
      .join(sizes.toDF("idb", "szb"), "idb")
      // threshold on the UNROUNDED ratio — the oracle's WHERE clause does
      // the same, and filtering on the rounded display value would admit
      // pairs with true J in [t - 5e-7, t) that the oracle rejects
      .filter(col("shared") /
        (col("sza") + col("szb") - col("shared")) >= threshold)
      .withColumn("jaccard", round(col("shared") /
        (col("sza") + col("szb") - col("shared")), 6))
      .select("ida", "idb", "shared", "jaccard")
    (out, () => { sh.unpersist(blocking = false); () })
  }

  /** Prefix-filtered EXACT Jaccard-threshold self-join — the AllPairs /
    * PPJoin prefix principle (Bayardo et al. WWW'07; Xiao et al.
    * ICDE'08, both public literature): under ANY fixed global ordering
    * of shingles, two sets with J(A,B) >= t must share a shingle among
    * each set's FIRST `sz − ⌈t·sz⌉ + 1` shingles, so only PREFIX
    * shingles need to generate candidates. Ordering rare-first (document
    * frequency asc, shingle asc as the total-order tie-break) puts the
    * least common shingles in the prefix, which collapses candidate
    * volume exactly where every-shared-shingle blocking
    * ([[ngramJaccardPairsReleasable]] — the recall-oriented low-t path)
    * explodes: a stopword shingle shared by half the corpus generates
    * zero candidates here unless it lands in someone's prefix.
    *
    * LOSSLESS: the output equals the full exact Jaccard join filtered at
    * `t` — pinned cross-engine by the oracle, which computes the
    * brute-force blocked join in DuckDB and must hash-match. (Use a
    * threshold with an exact binary representation, e.g. 0.5: the prefix
    * bound takes `ceil(t·sz)` in doubles, and a t like 0.3 whose product
    * rounds UP past the true integer would shorten a prefix by one.)
    *
    * Scale: one df-keyed join attaches frequencies, one per-doc window
    * ranks, candidates join on the (rare) prefix-shingle key, and the
    * exact verify touches candidate pairs only — never all pairs.
    * Honest trade at SMALL scale: on the 5k-doc fixture the brute
    * blocked join is actually cheaper (bench: 10.2 s vs 2.5 s at sf0.1)
    * because no candidate explosion exists to avoid — the frequency
    * attach + ranking pass is pure overhead there; the crossover is
    * corpora whose shingle sharing makes every-shared-shingle candidates
    * super-linear (boilerplate-heavy web crawls), which is exactly the
    * 100 TB regime. */
  /** The prefix-filter pipeline over a pre-built (id, shingle) frame
    * (distinct shingles per doc; caller owns its caching) — shared by
    * the public overload and [[LshAudit]]'s truth pass, which already
    * carries the identical shingle frame and previously re-tokenized
    * the corpus a second time to rebuild it.
    *
    * r15 verify-join rewrite: the exact |∩| was counted by exploding
    * every candidate's FULL left-side shingle list (cands × avg-set
    * rows — 21M intermediate rows and 6.3 s of the 8 s query at
    * sf0.1; OPTIMIZATION_r16.md, "Retired measurement tools") and
    * re-joining on (idb, shingle).
    * Now each doc's distinct shingle set is collected ONCE
    * (corpus-keyed agg) and candidates attach both sets by equi-join;
    * |∩| is `size(array_intersect(...))` — codegen'd hash-set
    * intersection, identical count (both sets are distinct by
    * construction), and the per-pair cost is O(|A|+|B|) with no
    * exploded shuffle. Set sizes fall out of the same arrays, so the
    * separate sizes aggregation + two joins are gone too. */
  private[graft] def prefixJaccardPairsFromShingles(sh: DataFrame,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("id").orderBy(col("df"), col("shingle"))
    val szW = Window.partitionBy("id")
    val prefix = sh.join(freq, "shingle")
      .withColumn("rn", row_number().over(wDoc))
      .withColumn("sz", count(lit(1)).over(szW))
      .filter(col("rn") <=
        col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select("id", "shingle", "sz")
    // r15: the AllPairs LENGTH filter rides the candidate join —
    // J(A,B) ≥ t forces |∩| ≥ t·|∪|, and |∩| ≤ min, |∪| ≥ max, so
    // min(|A|,|B|)/max ≥ t is NECESSARY: dropping the violators here
    // is lossless (the exact-J filter below re-checks every survivor).
    // At sf0.1 this cuts candidates 409k → a fraction, which is where
    // the set-intersect verify spends its time. Same exact-binary-
    // threshold caveat as the prefix bound (use t like 0.5); for any
    // p/q ratio strictly above t the double quotient stays above t
    // (gap ≥ 1/(2q) ≫ 1 ulp), so no true pair can be lost.
    val cands = prefix.toDF("ida", "shingle", "sza")
      .join(prefix.toDF("idb", "shingle", "szb"), Seq("shingle"))
      .filter(col("ida") < col("idb") &&
        least(col("sza"), col("szb")).cast("double") /
          greatest(col("sza"), col("szb")) >= threshold)
      .select("ida", "idb").distinct()
    val docSets = sh.groupBy("id")
      .agg(collect_list(col("shingle")).as("set"))
    val out = cands
      .join(docSets.toDF("ida", "__sa"), "ida")
      .join(docSets.toDF("idb", "__sb"), "idb")
      .select(col("ida"), col("idb"),
        size(array_intersect(col("__sa"), col("__sb"))).cast("long")
          .as("shared"),
        size(col("__sa")).cast("long").as("sza"),
        size(col("__sb")).cast("long").as("szb"))
      // threshold on the UNROUNDED ratio — the oracle's WHERE clause does
      // the same, and filtering on the rounded display value would admit
      // pairs with true J in [t - 5e-7, t) that the oracle rejects
      .filter(col("shared") /
        (col("sza") + col("szb") - col("shared")) >= threshold)
      .withColumn("jaccard", round(col("shared") /
        (col("sza") + col("szb") - col("shared")), 6))
      .select("ida", "idb", "shared", "jaccard")
    out
  }

  def prefixJaccardPairsReleasable(df: DataFrame, idCol: String,
      textCol: String, k: Int = 3, threshold: Double = 0.5)
      : (DataFrame, () => Unit) = {
    val sh = shingles(df.withColumn("__blk", lit(1)), idCol, textCol,
      "__blk", k).select("id", "shingle").cache()
    (prefixJaccardPairsFromShingles(sh, threshold),
      () => { sh.unpersist(blocking = false); () })
  }

  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5): DataFrame =
    prefixJaccardPairsReleasable(df, idCol, textCol, k, threshold)._1

  /** Asymmetric n-gram CONTAINMENT pairs: c(A→B) = |A∩B| / |A|. Jaccard
    * misses the quote/syndication case — a short document wholly embedded
    * in a much longer one scores |∩|/|union| ≈ |A|/|B| (low) but
    * containment ≈ 1. Same blocked shared-shingle candidate join as
    * [[ngramJaccardPairsReleasable]] (block key = shuffle key, never
    * all-pairs); emits a pair when EITHER direction reaches `threshold`,
    * with both directions reported so the caller knows which side is the
    * contained one. */
  def containmentPairsReleasable(df: DataFrame, idCol: String,
      textCol: String, blockCol: String, k: Int = 3,
      threshold: Double = 0.5): (DataFrame, () => Unit) = {
    val sh = shingles(df, idCol, textCol, blockCol, k).cache()
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val a = sh.toDF("ida", "block", "shingle")
    val b = sh.toDF("idb", "block", "shingle")
    val shared = a.join(b, Seq("block", "shingle"))
      .filter(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("shared"))
    val out = shared
      .join(sizes.toDF("ida", "sza"), "ida")
      .join(sizes.toDF("idb", "szb"), "idb")
      // threshold on the UNROUNDED ratios (oracle WHERE matches): the
      // rounded display value admits pairs in [t - 5e-7, t) that the
      // exact filter rejects — plus Spark/DuckDB round() diverge on
      // terminating decimals at the cut digit
      .filter(col("shared") / col("sza") >= threshold ||
        col("shared") / col("szb") >= threshold)
      .withColumn("containment_a", round(col("shared") / col("sza"), 6))
      .withColumn("containment_b", round(col("shared") / col("szb"), 6))
      .select("ida", "idb", "shared", "containment_a", "containment_b")
    (out, () => { sh.unpersist(blocking = false); () })
  }

  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, k: Int = 3, threshold: Double = 0.5): DataFrame =
    containmentPairsReleasable(df, idCol, textCol, blockCol, k, threshold)._1

  /** Corpus-level overlap audit: exact k-gram Jaccard + mutual containment
    * between every pair of SOURCES (not documents) — "how much of
    * source A's n-gram vocabulary also appears in source B?". The question
    * a mixing/decontamination decision needs answered before weighting
    * corpora (the doc-level analog is [[ngramJaccardPairsReleasable]]).
    *
    * Scale shape: the unit of work is the DISTINCT (source, shingle) pair —
    * one shuffle keyed on the shingle string (dedup + the self-join share
    * it), and the join fan-out per shingle is bounded by the number of
    * sources carrying it (sources are few; shingles are the big axis).
    * Nothing is ever all-pairs over documents, and the output is
    * |sources|² rows — driver-sized at any corpus scale. */
  def corpusOverlap(df: DataFrame, groupCol: String, textCol: String,
      k: Int = 3): DataFrame =
    corpusOverlapReleasable(df, groupCol, textCol, k)._1

  def corpusOverlapReleasable(df: DataFrame, groupCol: String,
      textCol: String, k: Int = 3): (DataFrame, () => Unit) = {
    val sh = shingles(df, groupCol, textCol, groupCol, k)
      .select(col("id").as("src"), col("shingle")).distinct().cache()
    val sizes = sh.groupBy("src").agg(count(lit(1)).as("sz"))
    val shared = sh.toDF("src_a", "shingle")
      .join(sh.toDF("src_b", "shingle"), Seq("shingle"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared"))
    val out = shared
      .join(sizes.toDF("src_a", "sza"), "src_a")
      .join(sizes.toDF("src_b", "szb"), "src_b")
      .select(col("src_a"), col("src_b"), col("shared"),
        round(col("shared") / (col("sza") + col("szb") - col("shared")), 6)
          .as("jaccard"),
        round(col("shared") / col("sza"), 6).as("containment_a"),
        round(col("shared") / col("szb"), 6).as("containment_b"))
    (out, () => { sh.unpersist(blocking = false); () })
  }

  /** MinHash+LSH candidate pairs via MLlib: 3-gram shingle set →
    * binary vector (HashingTF) → MinHashLSH banded join. The
    * approxSimilarityJoin only compares within-band hash buckets — the
    * linear-scale path.
    *
    * Shingling (not unigrams) is load-bearing for scale: unigram sets over
    * a small vocabulary make nearly all pairs collide in some band and the
    * join degenerates to all-pairs (measured 968 s at sf0.1 vs ~3 s with
    * shingles); k-gram shingles keep the candidate set near-linear. */
  /** (id, sh: array<string>) of distinct k-gram shingles — tokenized once
    * per doc in a separate projection (see [[shingles]]'s scale note). */
  private def shingleArrays(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val t = col("__toks")
    df.select(col(idCol).as("id"),
        TextOps.tokens(lower(col(textCol))).as("__toks"))
      .select(col("id"),
        when(size(t) >= k,
          array_distinct(transform(sequence(lit(0), size(t) - k),
            i => concat_ws(" ", slice(t, i + 1, lit(k))))))
          .otherwise(array().cast("array<string>")).as("sh"))
  }

  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      numHashTables: Int = 3, maxJaccardDist: Double = 0.5,
      shingleK: Int = 3): DataFrame = {
    val sh = shingleArrays(df, idCol, textCol, shingleK)
      .filter(size(col("sh")) > 0)
    // HashingTF, not CountVectorizer: identical binary set-vectors for LSH
    // purposes but with NO vocabulary fit pass — at scale the vocabulary
    // itself is data-sized, and the fit was >half the measured runtime.
    val vecs = new org.apache.spark.ml.feature.HashingTF()
      .setInputCol("sh").setOutputCol("vec").setBinary(true)
      .setNumFeatures(1 << 20).transform(sh)
    val lsh = new MinHashLSH().setInputCol("vec").setOutputCol("sig")
      .setNumHashTables(numHashTables).setSeed(42L).fit(vecs)
    // approxSimilarityJoin's distCol is Jaccard over the HASHED feature
    // space — a 2^20 feature collision inside one pair's gram union shifts
    // the reported distance (observed on real data: 1/93 vs the true 1/94).
    // Collisions only ever LOWER the hashed distance, so the LSH join at
    // maxJaccardDist is a candidate SUPERSET; recompute the EXACT gram
    // Jaccard per candidate from the shingle arrays carried through the
    // join (O(|union|) per candidate — the same verify-the-candidates
    // principle as [[minhashPairsBanded]]) and re-filter on it.
    val inter = size(array_intersect(col("datasetA.sh"), col("datasetB.sh")))
    val union =
      size(col("datasetA.sh")) + size(col("datasetB.sh")) - inter
    lsh.approxSimilarityJoin(vecs, vecs, maxJaccardDist, "jaccard_dist")
      .select(col("datasetA.id").as("ida"), col("datasetB.id").as("idb"),
        round(lit(1.0) - inter.cast("double") / union, 6).as("jaccard_dist"))
      .filter(col("ida") < col("idb") && col("jaccard_dist") <= maxJaccardDist)
  }

  /** Banded MinHash entirely in DataFrame ops — the scale path without
    * MLlib's per-candidate sparse-vector distance evaluation:
    *
    *  1. distinct (id, shingle) tall frame;
    *  2. numBands·rowsPerBand minhashes per doc in ONE aggregation
    *     (min of xxhash64(seed_i, shingle));
    *  3. band key = hash of the band's row minhashes; candidates = equi-join
    *     on (band, key) — the band key is the shuffle key;
    *  4. true Jaccard verified ONLY for candidates via shared-shingle
    *     counting (shingle-join restricted by a candidate semi-join).
    *
    * Output matches [[minhashPairs]]'s shape: (ida, idb, jaccard_dist).
    * Two frames are cached (shingles feed the minhash aggregation and the
    * exact-Jaccard finish; minhashes feed the band explode and the sizes);
    * the plain overload leaves both to the session — long-lived
    * compositions should use the releasable variant. */
  def minhashPairsBanded(df: DataFrame, idCol: String, textCol: String,
      numBands: Int = 4, rowsPerBand: Int = 2, maxJaccardDist: Double = 0.5,
      shingleK: Int = 3): DataFrame =
    minhashPairsBandedReleasable(df, idCol, textCol, numBands, rowsPerBand,
      maxJaccardDist, shingleK)._1

  def minhashPairsBandedReleasable(df: DataFrame, idCol: String,
      textCol: String, numBands: Int = 4, rowsPerBand: Int = 2,
      maxJaccardDist: Double = 0.5, shingleK: Int = 3)
      : (DataFrame, () => Unit) = {
    // (id, shingle) is already distinct — shingles() explodes the
    // array_distinct'd per-doc set — so no extra distinct shuffle here
    val sh = shingles(
      df.withColumn("__blk", lit(1)), idCol, textCol, "__blk", shingleK)
      .select(col("id"), col("shingle")).cache()
    val nHashes = numBands * rowsPerBand
    // ONE aggregation produces every minhash AND the set size (the size is
    // reused for the exact-Jaccard finish — a separate groupBy would be a
    // second full shuffle of the shingle frame)
    val minhashes = sh.groupBy("id").agg(
      count(lit(1)).as("sz"),
      (0 until nHashes).map(i =>
        min(xxhash64(lit(i), col("shingle"))).as(s"h$i")): _*)
      .cache() // one row per doc; feeds both the band explode and the sizes
    val banded = minhashes.select(col("id"), explode(array(
      (0 until numBands).map { b =>
        struct(lit(b).as("band"),
          hash((0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*)
            .as("key"))
      }: _*)).as("bk"))
    val cands = banded.toDF("ida", "bk")
      .join(banded.toDF("idb", "bk"), Seq("bk"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
    val sizes = minhashes.select(col("id"), col("sz"))
    // second join keys on (idb, shingle) so each pair only meets its
    // INTERSECTION rows — joining on idb alone would cross the shingle sets.
    // Inner join suffices: a band collision implies a shared shingle (equal
    // minima), and a zero-intersection pair would fail the distance filter.
    val shared = cands
      .join(sh.toDF("ida", "shingle"), Seq("ida"))
      .join(sh.toDF("idb", "shingle"), Seq("idb", "shingle"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("shared"))
    val out = shared
      .join(sizes.toDF("ida", "sza"), "ida")
      .join(sizes.toDF("idb", "szb"), "idb")
      .withColumn("jaccard_dist", round(lit(1.0) -
        col("shared") / (col("sza") + col("szb") - col("shared")), 6))
      .filter(col("jaccard_dist") <= maxJaccardDist)
      .select("ida", "idb", "jaccard_dist")
    (out, () => {
      sh.unpersist(blocking = false)
      minhashes.unpersist(blocking = false)
      ()
    })
  }

  /** SimHash signatures (custom Catalyst expression) + near-dup pairs by
    * Hamming distance within 4-band buckets (a signature within distance d
    * matches on ≥1 of d+1 bands — standard banding bound). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      SimHash64.simhash64(TextOps.tokens(lower(col(textCol)))).as("simhash"))

  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 12): DataFrame =
    bandedHammingPairs(simhashSignatures(df, idCol, textCol), maxHamming)

  /** Near-dup candidate pairs from ANY 64-bit signature frame
    * (id, simhash) — SimHash text signatures, image dHashes, any LSH
    * family living in a long. 4 bands of 16 bits: dist ≤ maxHamming pairs
    * share ≥1 band only probabilistically; with 4 bands the guarantee
    * holds for dist ≤ 3 — wider dist is best-effort candidate generation,
    * which is the standard trade. The band key is the shuffle key; never
    * all-pairs. */
  def bandedHammingPairs(sig: DataFrame, maxHamming: Int): DataFrame = {
    // r16 (guide §5): both sides of the band self-join reference the
    // signature frame — uncached, the WHOLE upstream signature
    // derivation (tokenize+sha256 for SimHash, PNG synth+ImageIO
    // decode+DCT for the media hashes) executed twice per query. The
    // cache is 2 longs per id; the session (or the registry runners'
    // per-query clearCache) releases it.
    val sigC = sig.cache()
    val banded = sigC.select(col("id"), col("simhash"),
      explode(array((0 until 4).map(bnd =>
        struct(lit(bnd).as("band"),
          shiftrightunsigned(col("simhash"), bnd * 16)
            .bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("bk"))
    val a = banded.select(col("id").as("ida"), col("simhash").as("sa"), col("bk"))
    val b = banded.select(col("id").as("idb"), col("simhash").as("sb"), col("bk"))
    a.join(b, Seq("bk")).filter(col("ida") < col("idb"))
      .select("ida", "idb", "sa", "sb").distinct()
      .withColumn("hamming", SimHash64.hammingDist(col("sa"), col("sb")))
      .filter(col("hamming") <= maxHamming)
      .select("ida", "idb", "hamming")
  }

  /** Embedding-cosine near-dup pairs with LSH-banded candidate generation:
    * candidates are pairs sharing ANY of `nTables` sign-bit LSH buckets
    * (the [[graft.sim.SimilarityOps.lshSignature]] machinery — sha256-derived
    * hyperplanes, so the candidate set is cross-engine replicable), verified
    * with the exact codegen'd cosine.
    *
    * Scale: the (table, bucket) pair is the equi-join/shuffle key — never an
    * all-pairs or per-block cartesian. Bucket occupancy is controlled by
    * `nBits`, which should grow ~log(corpus) to keep per-bucket candidate
    * counts bounded; recall at the threshold is governed by the standard
    * OR-amplification bound 1−(1−p^nBits)^nTables, p = 1−θ/π. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, nBits: Int = 6, nTables: Int = 12): DataFrame = {
    import graft.functions.CosineSimilarity.cosineSim
    import graft.sim.SimilarityOps.lshSignature
    val buckets = explode(array((0 until nTables).map(t =>
      struct(lit(t).as("tbl"),
        lshSignature(vecCol, dim, nBits, t * nBits).as("bucket"))): _*))
    // candidate generation moves ONLY (id, bucket) through the self-join and
    // the pair dedup; the dim-sized vectors join back afterwards — one
    // vector copy per surviving PAIR SIDE instead of one per (pair × table)
    val keyed = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val bucketed = df.select(col(idCol).as("id"), buckets.as("bk"))
    val cands = bucketed.toDF("ida", "bk")
      .join(bucketed.toDF("idb", "bk"), Seq("bk"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
    cands
      .join(keyed.toDF("ida", "va"), Seq("ida"))
      .join(keyed.toDF("idb", "vb"), Seq("idb"))
      .withColumn("cosine", cosineSim(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("ida"), col("idb"), round(col("cosine"), 6).as("cosine"))
  }

  /** The EMBEDDING-side dedup index — semantic twin of
    * [[buildCorpusIndex]]: one row per corpus vector, (id, v, buckets)
    * with `buckets` the nTables (table, sign-LSH bucket) keys. Written
    * and re-read as parquet, it is everything
    * [[incrementalEmbedDedupAgainstIndex]] needs; bucket keys stay
    * packed per row (1 row/vector on disk) and explode map-side at join
    * time. The vector itself rides along because semantic arbitration
    * needs the exact cosine against candidates — the index IS the
    * vectors plus their routing keys. */
  def buildEmbeddingIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nBits: Int = 6, nTables: Int = 12): DataFrame = {
    import graft.sim.SimilarityOps.lshSignature
    corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"),
      array((0 until nTables).map(t =>
        struct(lit(t).as("tbl"),
          lshSignature(vecCol, dim, nBits, t * nBits).as("bucket"))): _*)
        .as("buckets"))
  }

  /** Batch-vs-corpus SEMANTIC arbitration against a prebuilt
    * [[buildEmbeddingIndex]] frame — the embedding twin of
    * [[incrementalDedupAgainstIndex]]: each new vector probes the index
    * on shared (table, bucket) keys only (never all-pairs), candidates
    * are settled by exact cosine, and every batch vector gets a verdict
    * row: (idCol, n_matches, max_cosine, near_dup). */
  def incrementalEmbedDedupAgainstIndex(batch: DataFrame, index: DataFrame,
      idCol: String, vecCol: String, dim: Int, threshold: Double,
      nBits: Int = 6, nTables: Int = 12): DataFrame = {
    import graft.functions.CosineSimilarity.cosineSim
    import graft.sim.SimilarityOps.lshSignature
    val bBuck = batch.select(col(idCol).as("id"),
      explode(array((0 until nTables).map(t =>
        struct(lit(t).as("tbl"),
          lshSignature(vecCol, dim, nBits, t * nBits).as("bucket"))): _*))
        .as("bk"))
    val iBuck = index.select(col("id").as("idc"),
      explode(col("buckets")).as("bk"))
    val cands = bBuck.join(iBuck, Seq("bk"))
      .filter(col("id") =!= col("idc"))
      .select("id", "idc").distinct()
    val scored = cands
      .join(batch.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("va")), Seq("id"))
      .join(index.select(col("id").as("idc"), col("v").as("vb")), Seq("idc"))
      .withColumn("cosine", cosineSim(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
    val verdict = scored.groupBy("id")
      .agg(count(lit(1)).as("n_matches"), max("cosine").as("__mc"))
    batch.select(col(idCol).cast("long").as("id"))
      .join(verdict, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        round(col("__mc"), 6).as("max_cosine"),
        (coalesce(col("n_matches"), lit(0L)) > 0).as("near_dup"))
  }

  /** Edit-distance verification of near-dup CANDIDATES — the exactness
    * arbiter a dedup stack runs after hash/banding candidate generation
    * (every hash family admits false positives; Levenshtein on the pair
    * text settles them). NEVER all-pairs: candidates come from any
    * generator's (ida, idb) list, texts join back per pair, and the
    * built-in codegen'd levenshtein scores each pair once. Distance is
    * computed on `prefixLen`-char prefixes — unbounded Levenshtein is
    * O(len²) per pair, and a dedup arbiter needs the bounded-cost variant
    * at corpus scale (prefix disagreement ⇒ the docs differ; the standard
    * trade). `confirmed` = dist ≤ maxDistRatio · max(prefix lengths).
    *
    * An arbiter must never return an UNDEFINED verdict: null text reads as
    * the empty string (two null-text docs are trivially identical), and a
    * pair whose id is missing from `docs` is kept — left joins, not inner —
    * with null edit_dist/len_max and an explicit `confirmed = false`
    * (no text ⇒ cannot confirm), instead of being silently dropped. */
  def editVerify(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, prefixLen: Int = 200,
      maxDistRatio: Double = 0.2): DataFrame = {
    val t = docs.select(col(idCol).as("__id"),
      coalesce(substring(col(textCol), 1, prefixLen), lit("")).as("__t"))
    val present = col("ta").isNotNull && col("tb").isNotNull
    // r15: pin the pair frame's partition count before scoring — the
    // levenshtein arbitration is CPU-dense per row but tiny in BYTES
    // (two ids), so AQE's byte-targeted coalescing collapsed it to ~1
    // partition and serialized ~3.2e9 DP cells on one core (measured
    // 32.6 s → 2.3 s at sf0.1; OPTIMIZATION_r16.md, "Retired measurement
    // tools"). The count is
    // the session's shuffle-partition setting (the cluster-scale knob;
    // defaultParallelism fallback), never a constant; an explicit
    // numPartitions is exempt from AQE coalescing, and the broadcast
    // text attach preserves it through to the filter.
    val n = docs.sparkSession.conf.getOption("spark.sql.shuffle.partitions")
      .flatMap(v => scala.util.Try(v.toInt).toOption)
      .getOrElse(docs.sparkSession.sparkContext.defaultParallelism)
    pairs.select("ida", "idb")
      .repartition(n, col("ida"), col("idb"))
      .join(t.toDF("ida", "ta"), Seq("ida"), "left")
      .join(t.toDF("idb", "tb"), Seq("idb"), "left")
      .select(col("ida"), col("idb"),
        when(present, levenshtein(col("ta"), col("tb")).cast("long"))
          .as("edit_dist"),
        when(present, greatest(length(col("ta")), length(col("tb")))
          .cast("long")).as("len_max"))
      .withColumn("confirmed",
        coalesce(col("edit_dist") <= lit(maxDistRatio) * col("len_max"),
          lit(false)))
  }

  /** Benchmark DECONTAMINATION — the GPT-3/PaLM-style n-gram overlap
    * filter: flag every training document that shares at least one
    * `n`-token gram with the evaluation corpus, so benchmark answers can't
    * leak into training data. Grams are distinct per document; the check is
    * ONE equi-join on the gram key against the benchmark gram set — eval
    * suites are tiny relative to a 100 TB corpus, so the bench side is
    * broadcast and the scan stays map-side — followed by a per-doc count.
    * Returns one row per training doc: (idCol, n_hit, contaminated). */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 5): DataFrame = {
    // ids keep their ORIGINAL type: an id cast (e.g. to long) would null
    // out string/UUID ids, and null never equi-joins — every doc would
    // silently come back contaminated=false, the worst failure mode a
    // safety filter can have. Gram construction IS [[shingles]] (same
    // materialized-token / distinct-k-gram explode, one copy of the
    // tokenize-once scale fix) under a constant block key.
    def grams(df: DataFrame, id: String): DataFrame =
      shingles(df.withColumn("__blk", lit(1)), id, textCol, "__blk", n)
        .select(col("id"), col("shingle").as("g"))
    val bg = grams(bench.select(lit(0L).as("__bid"),
        col(benchTextCol).as(textCol)), "__bid")
      .select("g").distinct()
    val hits = grams(docs, idCol)
      .join(broadcast(bg), "g")
      .groupBy("id").agg(count(lit(1)).as("n_hit"))
    docs.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) > 0).as("contaminated"))
  }

  /** Graded decontamination — [[decontaminate]]'s binary flag upgraded to
    * a severity score: per doc, the DISTINCT n-gram count, the number of
    * those grams present in the eval suite, and a `severe` verdict at an
    * integer threshold (n_hit·100 ≥ tauPct·n_grams — no float fraction
    * anywhere), which is what a graded removal policy ("drop ≥ 5%
    * contaminated, keep-and-tag the rest") actually consumes.
    *
    * Scale: identical join shape to [[decontaminate]] (bench gram set
    * broadcast), but the hit test rides the SAME left join + single
    * aggregation that counts the doc's grams — one pass, no second
    * corpus-sized join. */
  def decontaminateScored(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 5,
      tauPct: Int = 5): DataFrame = {
    def grams(df: DataFrame, id: String): DataFrame =
      shingles(df.withColumn("__blk", lit(1)), id, textCol, "__blk", n)
        .select(col("id"), col("shingle").as("g"))
    val bg = grams(bench.select(lit(0L).as("__bid"),
        col(benchTextCol).as(textCol)), "__bid")
      .select("g").distinct()
    val counts = grams(docs, idCol)
      .join(broadcast(bg.withColumn("__hit", lit(1L))), Seq("g"), "left")
      .groupBy("id").agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
    docs.select(col(idCol).as("id"))
      .join(counts, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) * 100 >=
          lit(tauPct.toLong) * coalesce(col("n_grams"), lit(0L)) &&
          coalesce(col("n_grams"), lit(0L)) > 0).as("severe"))
  }

  /** [[decontaminate]] behind a Bloom-filter prefilter — the runtime-filter
    * pattern (Bloom 1970; the same move as Spark's own
    * InjectRuntimeFilter, built here from engine-neutral md5 so the
    * result is reproducible anywhere): build an `mBits`-bit Bloom filter
    * over the benchmark gram set IN-PLAN, broadcast it as ONE map row
    * (word-index → 64-bit word, mBits/64 entries ≈ 8 KiB at the default —
    * orders of magnitude smaller than the gram-string set), and drop
    * corpus grams whose `kHash` bit probes are not all set BEFORE the
    * string equi-join. Bloom error is one-sided (no false negatives:
    * every benchmark gram set its own bits), so candidates ⊇ true hits
    * and the exact verify join restores [[decontaminate]]'s output
    * bit-for-bit — false positives only cost a little verify work.
    *
    * Scale: at 100 TB the corpus side dominates; the bitmap probe is a
    * map-side scalar test in the scan stage (no join, no shuffle), so the
    * per-gram string join only sees the tiny candidate slice. The bitmap
    * build is a bounded aggregation (≤ mBits/64 rows) over the tiny
    * benchmark side. */
  /** The Bloom-prefilter stage of [[decontaminateBloom]]: returns the
    * (id, g) corpus-gram slice whose `kHash` bit probes all hit the
    * benchmark bitmap, plus the distinct benchmark gram frame (persisted —
    * the caller's terminal action or clearCache releases it). Exposed
    * `private[graft]` so the spec can measure the false-positive rate of
    * the prefilter in isolation. */
  private[graft] def bloomCandidatesWithBench(docs: DataFrame, idCol: String,
      textCol: String, bench: DataFrame, benchTextCol: String, n: Int,
      mBits: Int, kHash: Int): (DataFrame, DataFrame) = {
    require(mBits > 0 && mBits % 64 == 0, "mBits must be a positive multiple of 64")
    require(kHash >= 1, "kHash must be >= 1")
    def grams(df: DataFrame, id: String): DataFrame =
      shingles(df.withColumn("__blk", lit(1)), id, textCol, "__blk", n)
        .select(col("id"), col("shingle").as("g"))
    val bg = grams(bench.select(lit(0L).as("__bid"),
        col(benchTextCol).as(textCol)), "__bid")
      .select("g").distinct()
      // consumed twice (bitmap build + exact verify); benchmark gram sets
      // are eval-suite-sized, so the persist is small and saves the
      // second tokenize+distinct pass
      .persist()
    // kHash bit positions per gram. xxhash64 (not md5): the oracle
    // never replays the bloom — it checks the EXACT overlap result — so
    // the probe hash only needs determinism, and the codegen'd 64-bit
    // hash is an order of magnitude cheaper per gram than hex-md5
    // parsing on the corpus-sized side.
    //
    // r15: the bitmap is CONFIG-SIZED by construction (mBits/64 longs —
    // 8 KB at the registered 2^16 bits, whatever the data), so it is
    // collected once and inlined as a dense literal array; the probe
    // unrolls the kHash loop into plain codegen'd expressions. The
    // former shape — transform()+forall() higher-order functions
    // (CodegenFallback, interpreted per gram row) over a broadcast MAP
    // whose element_at is a LINEAR scan of all 1024 entries — measured
    // 3.2 s of the query's 5.6 s at sf0.1 (OPTIMIZATION_r16.md, "Retired
    // measurement tools"); the
    // unrolled probe is O(kHash) array indexing inside whole-stage
    // codegen. Identical bitmap construction and probe positions
    // (sequence(1, kHash) yields INTs, so the unrolled literals hash
    // identically), hence the identical candidate set and the same
    // spec-measured false-positive rate.
    val nWords = mBits / 64
    val words = new Array[Long](nWords)
    bg.select(explode(transform(sequence(lit(1), lit(kHash)), j =>
        pmod(xxhash64(j, col("g")), lit(mBits.toLong)))).as("p"))
      .select(expr("p div 64").as("w"),
        expr("shiftleft(1L, cast(p % 64 as int))").as("b"))
      .groupBy("w").agg(expr("bit_or(b)").as("bw"))
      .collect().foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    val bmLit = typedlit(words.toSeq)
    val probeHit = (1 to kHash).map { j =>
      expr(s"(element_at(__bm, cast(pmod(xxhash64($j, g), " +
        s"${mBits}L) div 64 as int) + 1) & " +
        s"shiftleft(1L, cast(pmod(xxhash64($j, g), ${mBits}L) % 64 " +
        "as int))) != 0L")
    }.reduce(_ && _)
    val cand = grams(docs, idCol).withColumn("__bm", bmLit)
      .filter(probeHit).select("id", "g")
    (cand, bg)
  }

  def decontaminateBloom(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 5,
      mBits: Int = 1 << 16, kHash: Int = 3): DataFrame = {
    val (cand, bg) = bloomCandidatesWithBench(
      docs, idCol, textCol, bench, benchTextCol, n, mBits, kHash)
    val hits = cand.join(broadcast(bg), "g")
      .groupBy("id").agg(count(lit(1)).as("n_hit"))
    docs.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) > 0).as("contaminated"))
  }

  // -- registered queries -------------------------------------------------

  private val dExact = Q(
    (s, d) => exactDedup(Tables.documents(s, d), "doc_id", "text")
      .orderBy("keep"),
    Some("""SELECT md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS h,
                   MIN(doc_id) AS keep, COUNT(*) AS dup_count
            FROM documents GROUP BY 1 ORDER BY keep"""))

  /** Corpus snapshot diff — the audit between two crawls/exports: FULL
    * OUTER join on the doc id comparing CONTENT (sha2 digests, so the
    * join ships 32 bytes a side, not documents), emitting
    * added / removed / changed / unchanged per id. The id is the shuffle
    * key; at 100 TB both sides sort-merge on it and nothing else moves. */
  def snapshotDiff(before: DataFrame, after: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def digest(df: DataFrame, h: String) = df.select(
      col(idCol).cast("long").as("id"),
      sha2(col(textCol).cast("binary"), 256).as(h))
    digest(before, "ha").join(digest(after, "hb"), Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("ha").isNull, "added")
          .when(col("hb").isNull, "removed")
          .when(col("ha") === col("hb"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Snapshot A drops every 7th doc, snapshot B revises every 5th — so
    * the diff must report added (7s), changed (5s surviving in A),
    * unchanged (the rest), with nothing removed. The oracle replays the
    * digests and the same precedence. */
  private val dSnapshotDiff = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      val before = docs.filter(col("doc_id") % 7 =!= 0)
      val after = docs.withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      snapshotDiff(before, after, "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""WITH a AS (SELECT doc_id, sha256(text) AS h FROM documents
                       WHERE doc_id % 7 <> 0),
            b AS (SELECT doc_id,
                sha256(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                            ELSE text END) AS h
              FROM documents)
            SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
              CASE WHEN a.h IS NULL THEN 'added'
                   WHEN b.h IS NULL THEN 'removed'
                   WHEN a.h = b.h THEN 'unchanged'
                   ELSE 'changed' END AS status
            FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
            ORDER BY doc_id"""))

  /** The prefix filter is lossless, so the oracle is the BRUTE-FORCE
    * exact Jaccard join at the same threshold — hash equality IS the
    * losslessness proof, cross-engine. */
  private val dPrefixJaccard = Q(
    (s, d) => prefixJaccardPairs(Tables.documents(s, d), "doc_id", "text",
      k = 3, threshold = 0.5).orderBy("ida", "idb"),
    Some("""WITH t AS (SELECT doc_id,
              list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
              FROM documents),
            sh AS (SELECT DISTINCT doc_id,
                array_to_string(tk[CAST(i AS INT) + 1:CAST(i AS INT) + 3],
                  ' ') AS s
              FROM t, LATERAL (SELECT unnest(range(len(tk) - 2)) AS i) ii
              WHERE len(tk) >= 3),
            sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
                   FROM sh GROUP BY 1),
            pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
                CAST(COUNT(*) AS BIGINT) AS shared
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT ida, idb, shared,
              ROUND(shared * 1.0 / (x.sz + y.sz - shared), 6) AS jaccard
            FROM pairs JOIN sz x ON ida = x.doc_id
                       JOIN sz y ON idb = y.doc_id
            WHERE shared * 1.0 / (x.sz + y.sz - shared) >= 0.5
            ORDER BY ida, idb"""))

  private val dNgram = Q(
    (s, d) => ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
      "lang", 3, 0.05).orderBy("ida", "idb"),
    Some("""WITH toks AS (SELECT doc_id, lang,
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents),
            sh AS (SELECT DISTINCT doc_id, lang,
                unnest(list_transform(range(GREATEST(len(t) - 2, 0)),
                  i -> t[CAST(i AS INT)+1] || ' ' || t[CAST(i AS INT)+2]
                       || ' ' || t[CAST(i AS INT)+3])) AS shingle
              FROM toks),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
            shared AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS shared
              FROM sh a JOIN sh b
                ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1,2)
            SELECT ida, idb, shared,
                   ROUND(CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared), 6) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = ida
            JOIN sizes sb ON sb.doc_id = idb
            WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.05
            ORDER BY ida, idb"""))

  /** Same lang-blocked shingle frame as q_d_ngram_jaccard, containment
    * direction reported both ways. */
  private val dContainment = Q(
    (s, d) => containmentPairs(Tables.documents(s, d), "doc_id", "text",
      "lang", 3, 0.5).orderBy("ida", "idb"),
    Some("""WITH toks AS (SELECT doc_id, lang,
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents),
            sh AS (SELECT DISTINCT doc_id, lang,
                unnest(list_transform(range(GREATEST(len(t) - 2, 0)),
                  i -> t[CAST(i AS INT)+1] || ' ' || t[CAST(i AS INT)+2]
                       || ' ' || t[CAST(i AS INT)+3])) AS shingle
              FROM toks),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
            shared AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS shared
              FROM sh a JOIN sh b
                ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1,2)
            SELECT ida, idb, shared,
                   ROUND(CAST(shared AS DOUBLE) / sa.sz, 6) AS containment_a,
                   ROUND(CAST(shared AS DOUBLE) / sb.sz, 6) AS containment_b
            FROM shared
            JOIN sizes sa ON sa.doc_id = ida
            JOIN sizes sb ON sb.doc_id = idb
            WHERE CAST(shared AS DOUBLE) / sa.sz >= 0.5
               OR CAST(shared AS DOUBLE) / sb.sz >= 0.5
            ORDER BY ida, idb"""))

  /** Source-level overlap audit over the same 3-gram vocabulary: every
    * (source_a, source_b) pair with shared grams, exact Jaccard and both
    * containments. No threshold — the audit wants the whole matrix
    * (disjoint pairs simply have no row: overlap zero). */
  private val dCorpusOverlap = Q(
    (s, d) => corpusOverlap(Tables.documents(s, d), "source", "text", 3)
      .orderBy("src_a", "src_b"),
    Some("""WITH toks AS (SELECT source,
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents),
            sh AS (SELECT DISTINCT source,
                unnest(list_transform(range(GREATEST(len(t) - 2, 0)),
                  i -> t[CAST(i AS INT)+1] || ' ' || t[CAST(i AS INT)+2]
                       || ' ' || t[CAST(i AS INT)+3])) AS shingle
              FROM toks),
            sizes AS (SELECT source, COUNT(*) AS sz FROM sh GROUP BY 1),
            shared AS (SELECT a.source AS src_a, b.source AS src_b,
                COUNT(*) AS shared
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.source < b.source
              GROUP BY 1,2)
            SELECT src_a, src_b, shared,
                   ROUND(CAST(shared AS DOUBLE)
                     / (sa.sz + sb.sz - shared), 6) AS jaccard,
                   ROUND(CAST(shared AS DOUBLE) / sa.sz, 6) AS containment_a,
                   ROUND(CAST(shared AS DOUBLE) / sb.sz, 6) AS containment_b
            FROM shared
            JOIN sizes sa ON sa.source = src_a
            JOIN sizes sb ON sb.source = src_b
            ORDER BY src_a, src_b"""))

  /** Content-defined chunking (CDC, Muthitacharoen et al. SOSP'01 LBFS):
    * chunk boundaries fall where the hash of the trailing `w`-char window
    * hits a modulus condition, so an insertion early in a document shifts
    * only the chunk it lands in — every later boundary re-synchronizes,
    * which is exactly what fixed-width chunking cannot do. Chunk-hash
    * granularity catches duplicated FRAGMENTS (shared license headers,
    * boilerplate, vendored code) that whole-doc hashing misses and span
    * detection only localizes.
    *
    * The window hash is a Karp–Rabin rolling polynomial
    * ([[graft.functions.RollingGramHash]], one codegen'd O(len) pass per
    * document — NOT a per-position digest, which re-reads the window and
    * allocates an md5 per character: O(len·w) reads that measured 56x
    * slower at the 4 KB fixture scale and grows quadratically against
    * document length on real crawl docs). Boundary AFTER code-point `i`
    * iff the TOP log2(mask+1) bits of the window hash ending at `i` are
    * zero — top bits, because every rolling step multiplies, so low-bit
    * entropy propagates up but not down. Portable: the oracle replays
    * the identical hash (Σ cp·mult^k mod 2^64 per position, HUGEINT
    * arithmetic) in DuckDB. Measured on the cdc stage alone (20k docs x
    * 4 KB; OPTIMIZATION_r16.md, "Retired measurement tools"):
    * composed md5 26.2 s → rolling 0.6 s (44x), and the gap widens with
    * doc length; end-to-end q_d_cdc_chunks at sf0.1 warm 3.6 s → 1.5 s
    * (TimeOne). The hash array rides `zip_with` as an ARGUMENT — an
    * aliased column read via element_at inside the lambda would be
    * inlined by CollapseProject, re-evaluating the O(len) pass per
    * position. Boundary detection + chunk slicing are a map-only HOF
    * cascade in the scan stage; the ONLY shuffle is the final
    * groupBy(chunk md5), whose key count is the distinct-chunk count. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, mask: Int = 63): DataFrame = {
    require(mask >= 1 && (mask & (mask + 1)) == 0,
      s"mask must be 2^k-1 for k >= 1 (top-k-bits boundary test), got $mask")
    val shift = 64 - Integer.numberOfTrailingZeros(mask + 1)
    val t = col("__t")
    val n = col("__n")
    // windows shorter than `window` chars have no hash: a doc under the
    // window width is a single chunk (sequence() would run DESCENDING
    // for n < window and fabricate out-of-range positions)
    val positions = when(n >= window, sequence(lit(window), n))
      .otherwise(array().cast("array<int>"))
    val bounds = filter(
      zip_with(
        graft.functions.RollingGramHash.hashes(
          t, window, graft.functions.RollingGramHash.Mult1),
        positions,
        (h, pos) => when(shiftrightunsigned(h, shift) === 0, pos)),
      p => p.isNotNull)
    val withEnds = df
      .select(col(idCol).as("id"), col(textCol).as("__t"))
      .filter(length(t) > 0)
      .withColumn("__n", length(t))
      .withColumn("__b", bounds)
      .withColumn("__ends",
        when(size(col("__b")) > 0 && element_at(col("__b"), -1) === n,
          col("__b")).otherwise(concat(col("__b"), array(n))))
      .withColumn("__starts",
        concat(array(lit(1)), transform(
          slice(col("__ends"), lit(1), size(col("__ends")) - 1), e => e + 1)))
    withEnds
      .select(col("id"), posexplode(zip_with(col("__starts"), col("__ends"),
        (s, e) => col("__t").substr(s, e - s + 1))))
      .select(col("id"), (col("pos") + 1).as("chunk_idx"),
        md5(col("col")).as("chunk_hash"),
        length(col("col")).cast("long").as("chunk_len"))
  }

  /** Duplicate-chunk groups across the corpus: chunks occurring more than
    * once, with occurrence and distinct-doc counts. */
  def cdcDuplicateChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, mask: Int = 63): DataFrame =
    cdcChunks(df, idCol, textCol, window, mask)
      .groupBy("chunk_hash")
      .agg(max("chunk_len").as("chunk_len"),
        count(lit(1)).as("n_occ"),
        countDistinct("id").as("n_docs"),
        min("id").as("first_doc"))
      .filter(col("n_occ") > 1)

  private val dCdc = Q(
    (s, d) => cdcDuplicateChunks(Tables.documents(s, d), "doc_id", "text")
      .orderBy("chunk_hash"),
    Some("""WITH doc AS (SELECT doc_id, text, length(text) AS n
              FROM documents WHERE length(text) > 0),
            -- replays RollingGramHash: h(i) = SUM cp(i-7+j)*mult^(7-j)
            -- mod 2^64 (mult = 0x9E3779B97F4A7C15; powers precomputed,
            -- HUGEINT keeps the 88-bit partial sums exact); boundary iff
            -- the top 6 bits are zero (h < 2^58)
            b AS (SELECT doc_id, text, n,
              list_filter(range(8, n + 1), i ->
                (6830608118596137501::HUGEINT
                   * unicode(text[CAST(i AS INT)-7 : CAST(i AS INT)-7])
                 + 5469504572959700969::HUGEINT
                   * unicode(text[CAST(i AS INT)-6 : CAST(i AS INT)-6])
                 + 3326886199428185477::HUGEINT
                   * unicode(text[CAST(i AS INT)-5 : CAST(i AS INT)-5])
                 + 15655466665053923249::HUGEINT
                   * unicode(text[CAST(i AS INT)-4 : CAST(i AS INT)-4])
                 + 6938460308862072877::HUGEINT
                   * unicode(text[CAST(i AS INT)-3 : CAST(i AS INT)-3])
                 + 16088033396387240377::HUGEINT
                   * unicode(text[CAST(i AS INT)-2 : CAST(i AS INT)-2])
                 + 11400714819323198485::HUGEINT
                   * unicode(text[CAST(i AS INT)-1 : CAST(i AS INT)-1])
                 + unicode(text[CAST(i AS INT) : CAST(i AS INT)]))
                % 18446744073709551616 < 288230376151711744) AS bb
              FROM doc),
            e AS (SELECT doc_id, text,
              CASE WHEN len(bb) > 0 AND bb[-1] = n THEN bb
                   ELSE list_append(bb, n) END AS ends FROM b),
            st AS (SELECT doc_id, text, ends,
              list_prepend(CAST(1 AS BIGINT), list_transform(
                ends[1 : len(ends) - 1], x -> x + 1)) AS starts FROM e),
            ch AS (SELECT doc_id, unnest(list_transform(
                range(1, len(ends) + 1), j ->
                  text[CAST(starts[CAST(j AS INT)] AS INT)
                       : CAST(ends[CAST(j AS INT)] AS INT)])) AS chunk
              FROM st),
            h AS (SELECT doc_id, md5(chunk) AS chunk_hash,
                CAST(length(chunk) AS BIGINT) AS chunk_len FROM ch)
            SELECT chunk_hash, MAX(chunk_len) AS chunk_len,
                   CAST(COUNT(*) AS BIGINT) AS n_occ,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   MIN(doc_id) AS first_doc
            FROM h GROUP BY 1 HAVING COUNT(*) > 1
            ORDER BY chunk_hash"""))

  /** Exact all-pairs Jaccard oracle for the MinHash variants. Valid because
    * (a) both variants VERIFY candidates with the exact Jaccard (no
    * approximate distances in the output), and (b) every duplicate pair in
    * the testdata sits at distance ≤ 0.1 where the banding miss-probability
    * is under 2 percent per pair — and the hash seeds are fixed, so the candidate set
    * is deterministic on the fixed testdata. A fresh dataset with pairs near
    * the 0.5 cutoff would need the weaker rows-only check again. */
  private val minhashOracle =
    """WITH toks AS (SELECT doc_id,
            list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
          FROM documents),
        sh AS (SELECT DISTINCT doc_id,
            unnest(list_transform(range(GREATEST(len(t) - 2, 0)),
              i -> t[CAST(i AS INT)+1] || ' ' || t[CAST(i AS INT)+2]
                   || ' ' || t[CAST(i AS INT)+3])) AS shingle
          FROM toks),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        shared AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS shared
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1,2)
        SELECT ida, idb,
               ROUND(1.0 - CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared), 6)
                 AS jaccard_dist
        FROM shared
        JOIN sizes sa ON sa.doc_id = ida
        JOIN sizes sb ON sb.doc_id = idb
        WHERE 1.0 - CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) <= 0.5
        ORDER BY ida, idb"""

  private val dMinhash = Q(
    (s, d) => minhashPairs(Tables.documents(s, d), "doc_id", "text")
      .orderBy("ida", "idb"),
    Some(minhashOracle))

  private val dMinhashBanded = Q(
    (s, d) => minhashPairsBanded(Tables.documents(s, d), "doc_id", "text")
      .orderBy("ida", "idb"),
    Some(minhashOracle))

  /** DuckDB replica of the SimHash64 expression: per token, sha256's first
    * 8 bytes (big-endian) vote ±1 per bit; signature bit i set iff the vote
    * sum is positive. Bit i lives in hex char 16−i/4 of the sha256 string,
    * at nibble position i%4; the signed BIGINT is rebuilt with an explicit
    * −2⁶³ term for bit 63. Validated bit-for-bit against the expression.
    * `src` is the (doc_id, text) relation the signatures are computed over —
    * `documents` for the standalone queries, an upstream CTE name for
    * composed pipelines (q_pipeline_corpus). Returns the CTE LIST (no WITH)
    * so callers can splice it mid-WITH. */
  private[graft] def simhashSigCtes(src: String): String =
    s"""toks AS (SELECT doc_id,
            list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
          FROM $src),
        tok AS (SELECT doc_id, unnest(t) AS tk FROM toks),
        h AS (SELECT doc_id, sha256(tk) AS hx FROM tok),
        bits AS (SELECT doc_id, i,
            SUM(CASE WHEN ((strpos('0123456789abcdef',
                             substr(hx, CAST(16 - i//4 AS INT), 1)) - 1)
                      >> CAST(i % 4 AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM h CROSS JOIN (SELECT unnest(range(0,64)) AS i) b GROUP BY 1, 2),
        rawsig AS (SELECT doc_id,
            CAST(SUM(CASE WHEN vote > 0 THEN
                CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
                     ELSE CAST(CAST(1 AS BIGINT) << CAST(i AS INT) AS HUGEINT) END
                ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY 1),
        sig AS (SELECT d.doc_id AS id, COALESCE(s.simhash, 0) AS simhash
          FROM $src d LEFT JOIN rawsig s ON d.doc_id = s.doc_id)"""

  private[dedup] val simhashSigSql = "WITH " + simhashSigCtes("documents")

  private val dSimhash = Q(
    (s, d) => simhashSignatures(Tables.documents(s, d), "doc_id", "text")
      .orderBy("id"),
    Some(simhashSigSql + "\n SELECT id, simhash FROM sig ORDER BY id"))

  private val dSimhashPairs = Q(
    (s, d) => simhashPairs(Tables.documents(s, d), "doc_id", "text")
      .orderBy("ida", "idb"),
    Some(simhashSigSql + """
        SELECT a.id AS ida, b.id AS idb,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM sig a JOIN sig b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
          AND ((a.simhash >> 0)  & 65535 = (b.simhash >> 0)  & 65535
            OR (a.simhash >> 16) & 65535 = (b.simhash >> 16) & 65535
            OR (a.simhash >> 32) & 65535 = (b.simhash >> 32) & 65535
            OR (a.simhash >> 48) & 65535 = (b.simhash >> 48) & 65535)
        ORDER BY ida, idb"""))

  /** Threshold 0.45 sits inside the testdata's cosine distribution (the
    * sf0.01 max pairwise cosine is 0.513, with 14 pairs ≥ 0.45) so the
    * query returns ROWS — a near-dup test green on the empty set proves
    * nothing. The oracle replays the exact sha256 hyperplane construction,
    * signature computation, and any-shared-bucket candidate join. */
  private val dEmbed = Q(
    (s, d) => embeddingNearDupPairs(Tables.embeddings(s, d), "vec_id",
      "embedding", dim = 64, threshold = 0.45).orderBy("ida", "idb"),
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
            cand AS (SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
              FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
              WHERE a.vec_id < b.vec_id),
            scored AS (SELECT ida, idb,
                list_dot_product(a.e, b.e)
                  / (SQRT(list_dot_product(a.e, a.e))
                     * SQRT(list_dot_product(b.e, b.e))) AS cosine
              FROM cand JOIN v a ON a.vec_id = ida
                        JOIN v b ON b.vec_id = idb)
            SELECT ida, idb, ROUND(cosine, 6) AS cosine
            FROM scored WHERE cosine >= 0.45
            ORDER BY ida, idb"""))

  /** Decontamination over a synthetic eval split: docs with
    * doc_id % 29 == 0 play the benchmark; every other doc is checked for a
    * shared distinct 5-gram. The corpus's planted near-dup structure makes
    * both outcomes live (simhash cluster-mates of an eval doc ARE
    * contaminated; unrelated docs aren't). */
  private val dDecontam = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      decontaminate(
        docs.filter(pmod(col("doc_id"), lit(29)) =!= 0), "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(29)) === 0), "text")
        .orderBy("doc_id")
    },
    Some("""WITH tr AS (SELECT doc_id,
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents WHERE doc_id % 29 <> 0),
            ev AS (SELECT
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents WHERE doc_id % 29 = 0),
            evg AS (SELECT DISTINCT
                unnest(list_transform(range(GREATEST(len(t) - 4, 0)),
                  i -> t[CAST(i AS INT)+1] || ' ' || t[CAST(i AS INT)+2]
                    || ' ' || t[CAST(i AS INT)+3] || ' ' || t[CAST(i AS INT)+4]
                    || ' ' || t[CAST(i AS INT)+5])) AS g
              FROM ev),
            trg AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(GREATEST(len(t) - 4, 0)),
                  i -> t[CAST(i AS INT)+1] || ' ' || t[CAST(i AS INT)+2]
                    || ' ' || t[CAST(i AS INT)+3] || ' ' || t[CAST(i AS INT)+4]
                    || ' ' || t[CAST(i AS INT)+5])) AS g
              FROM tr),
            hits AS (SELECT doc_id, COUNT(*) AS n_hit
              FROM trg JOIN evg USING (g) GROUP BY 1)
            SELECT t.doc_id, COALESCE(h.n_hit, 0) AS n_hit,
                   COALESCE(h.n_hit, 0) > 0 AS contaminated
            FROM tr t LEFT JOIN hits h ON t.doc_id = h.doc_id
            ORDER BY t.doc_id"""))

  /** Bloom-prefiltered decontamination over its own eval split
    * (doc_id % 31 == 0). Bloom error is one-sided, so the oracle is the
    * EXACT n-gram overlap SQL — the bitmap prefilter must be invisible in
    * the result; the false-positive rate and prune ratio are pinned by
    * DedupOpsSpec instead. */
  private val dBloomDecon = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      decontaminateBloom(
        docs.filter(pmod(col("doc_id"), lit(31)) =!= 0), "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(31)) === 0), "text")
        .orderBy("doc_id")
    },
    Some("""WITH tr AS (SELECT doc_id,
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents WHERE doc_id % 31 <> 0),
            ev AS (SELECT
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents WHERE doc_id % 31 = 0),
            evg AS (SELECT DISTINCT
                unnest(list_transform(range(GREATEST(len(t) - 4, 0)),
                  i -> t[CAST(i AS INT)+1] || ' ' || t[CAST(i AS INT)+2]
                    || ' ' || t[CAST(i AS INT)+3] || ' ' || t[CAST(i AS INT)+4]
                    || ' ' || t[CAST(i AS INT)+5])) AS g
              FROM ev),
            trg AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(GREATEST(len(t) - 4, 0)),
                  i -> t[CAST(i AS INT)+1] || ' ' || t[CAST(i AS INT)+2]
                    || ' ' || t[CAST(i AS INT)+3] || ' ' || t[CAST(i AS INT)+4]
                    || ' ' || t[CAST(i AS INT)+5])) AS g
              FROM tr),
            hits AS (SELECT doc_id, COUNT(*) AS n_hit
              FROM trg JOIN evg USING (g) GROUP BY 1)
            SELECT t.doc_id, COALESCE(h.n_hit, 0) AS n_hit,
                   COALESCE(h.n_hit, 0) > 0 AS contaminated
            FROM tr t LEFT JOIN hits h ON t.doc_id = h.doc_id
            ORDER BY t.doc_id"""))

  /** Edit-distance arbitration of the SimHash candidate pairs — the oracle
    * replays the signature + banding pair generation and DuckDB's own
    * levenshtein on the same 200-char prefixes (both engines implement
    * plain character-level Levenshtein). */
  private val dEditVerify = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      editVerify(docs, simhashPairs(docs, "doc_id", "text"), "doc_id", "text")
        .orderBy("ida", "idb")
    },
    Some(simhashSigSql + """,
        p AS (SELECT a.id AS ida, b.id AS idb
          FROM sig a JOIN sig b ON a.id < b.id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
            AND ((a.simhash >> 0)  & 65535 = (b.simhash >> 0)  & 65535
              OR (a.simhash >> 16) & 65535 = (b.simhash >> 16) & 65535
              OR (a.simhash >> 32) & 65535 = (b.simhash >> 32) & 65535
              OR (a.simhash >> 48) & 65535 = (b.simhash >> 48) & 65535)),
        tt AS (SELECT doc_id, COALESCE(substr(text, 1, 200), '') AS t
               FROM documents),
        sc AS (SELECT p.ida, p.idb,
                 CAST(levenshtein(a.t, b.t) AS BIGINT) AS edit_dist,
                 CAST(GREATEST(length(a.t), length(b.t)) AS BIGINT) AS len_max
               FROM p JOIN tt a ON p.ida = a.doc_id
                      JOIN tt b ON p.idb = b.doc_id)
        SELECT ida, idb, edit_dist, len_max,
               edit_dist <= 0.2 * len_max AS confirmed
        FROM sc ORDER BY ida, idb"""))

  /** Incremental dedup at the ingest boundary — the daily-batch case: a
    * NEW batch is arbitrated against an already-curated corpus without
    * re-deduplicating the corpus. Per new doc:
    *   - exact_dup: its content hash exists in the corpus, or a lower-id
    *     batch-mate claimed it (the batch's own exact dedup);
    *   - near_dup: some corpus doc shares a 16-bit SimHash band and sits
    *     within `maxHamming` (the corpus signature index is exactly what a
    *     production pipeline keeps materialized between increments).
    *
    * Scale: the batch is small relative to the corpus; both joins key on
    * hash/band — the corpus side streams through as the probe build's
    * partner, nothing is all-pairs, and the corpus text is never re-read
    * beyond its hash/signature projections. This convenience form
    * recomputes those projections per call; the production shape is
    * [[buildCorpusIndex]] once + [[incrementalDedupAgainstIndex]] per
    * batch, with the index living as parquet between increments. */
  def incrementalDedup(newDocs: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, maxHamming: Int = 12): DataFrame =
    incrementalDedupAgainstIndex(newDocs,
      buildCorpusIndex(corpus, idCol, textCol), idCol, textCol, maxHamming)

  /** The persisted dedup index of a curated corpus — ONE map-only pass
    * over the corpus text producing one row per doc:
    * (id: long, h: string, simhash: long) — the normalized content hash
    * and the 64-bit SimHash signature. This frame, written and re-read as
    * parquet, is everything [[incrementalDedupAgainstIndex]] needs: the
    * daily-ingest path reads the INDEX, never the corpus text
    * (IncrementalIndexSpec proves the parquet round trip is bit-identical
    * to recomputing from the corpus). Band keys are deliberately NOT
    * stored — deriving 4 band keys from the signature is a map-side
    * explode at join time, while storing them would 4× the index rows on
    * disk. Keep the parquet partitioned however the corpus is ingested
    * (e.g. by day); appending a new increment's accepted docs to the
    * index is the same one-pass build over just those docs. */
  def buildCorpusIndex(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame =
    corpus.select(col(idCol).cast("long").as("id"),
      // null text reads as '' (two null-text docs ARE exact duplicates): a
      // null hash key would fall through the inner batch-min join and make
      // the doc VANISH from the arbitration output — an arbiter must never
      // return an undefined verdict (the editVerify contract)
      md5(regexp_replace(lower(coalesce(col(textCol), lit(""))),
        "[^a-z0-9 ]", "").cast("binary")).as("h"),
      SimHash64.simhash64(TextOps.tokens(lower(col(textCol)))).as("simhash"))

  /** [[incrementalDedup]] against a prebuilt [[buildCorpusIndex]] frame —
    * the daily-ingest fast path: the corpus never gets re-read or
    * re-signed, both arbitration joins key on the index's own columns
    * (hash / derived band key). */
  def incrementalDedupAgainstIndex(newDocs: DataFrame, index: DataFrame,
      idCol: String, textCol: String, maxHamming: Int = 12): DataFrame = {
    // the batch's own projections — same normalization as the index build
    val nh = newDocs.select(col(idCol),
      md5(regexp_replace(lower(coalesce(col(textCol), lit(""))),
        "[^a-z0-9 ]", "").cast("binary")).as("h"))
    val ch = index.select(col("h")).distinct()
      .withColumn("__inc", lit(true))
    val batchMin = nh.groupBy("h").agg(min(idCol).as("__first"))
    val exact = nh.join(ch, Seq("h"), "left").join(batchMin, Seq("h"))
      .select(col(idCol),
        (coalesce(col("__inc"), lit(false)) || col(idCol) =!= col("__first"))
          .as("exact_dup"))
    def banded(sig: DataFrame, idAs: String, sigAs: String) =
      sig.select(col("id").as(idAs), col("simhash").as(sigAs),
        explode(array((0 until 4).map(bnd =>
          struct(lit(bnd).as("band"),
            shiftrightunsigned(col("simhash"), bnd * 16)
              .bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("bk"))
    val near = banded(simhashSignatures(newDocs, idCol, textCol), "id", "sn")
      .join(banded(index.select("id", "simhash"), "idc", "sc"), Seq("bk"))
      .select("id", "sn", "idc", "sc").distinct()
      .withColumn("hamming", SimHash64.hammingDist(col("sn"), col("sc")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id").as(idCol)).distinct()
      .withColumn("__nd", lit(true))
    exact.join(near, Seq(idCol), "left")
      .select(col(idCol), col("exact_dup"),
        coalesce(col("__nd"), lit(false)).as("near_dup"))
  }

  /** Odd doc_ids play the incoming batch, even ids the curated corpus.
    * The oracle reuses the signature CTEs over ALL documents (signatures
    * are per-row deterministic) and splits by parity downstream. */
  private val dIncremental = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      incrementalDedup(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "text").orderBy("doc_id")
    },
    Some(simhashSigSql + """,
        nh AS (SELECT doc_id,
                 md5(regexp_replace(lower(COALESCE(text, '')),
                     '[^a-z0-9 ]', '', 'g')) AS h
               FROM documents WHERE doc_id % 2 = 1),
        ch AS (SELECT DISTINCT
                 md5(regexp_replace(lower(COALESCE(text, '')),
                     '[^a-z0-9 ]', '', 'g')) AS h
               FROM documents WHERE doc_id % 2 = 0),
        bm AS (SELECT h, MIN(doc_id) AS firstid FROM nh GROUP BY h),
        ex AS (SELECT nh.doc_id,
                 (ch.h IS NOT NULL OR nh.doc_id <> bm.firstid) AS exact_dup
               FROM nh LEFT JOIN ch ON nh.h = ch.h
               JOIN bm ON nh.h = bm.h),
        nb AS (SELECT id, simhash, b,
                 (simhash >> CAST(b * 16 AS INT)) & 65535 AS key
               FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb
               WHERE id % 2 = 1),
        cb AS (SELECT id, simhash, b,
                 (simhash >> CAST(b * 16 AS INT)) & 65535 AS key
               FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb
               WHERE id % 2 = 0),
        nd AS (SELECT DISTINCT n.id FROM nb n
               JOIN cb c ON n.b = c.b AND n.key = c.key
               WHERE bit_count(xor(n.simhash, c.simhash)) <= 12)
        SELECT e.doc_id AS doc_id, e.exact_dup,
               (nd.id IS NOT NULL) AS near_dup
        FROM ex e LEFT JOIN nd ON e.doc_id = nd.id
        ORDER BY e.doc_id"""))

  /** The full daily-ingest lifecycle over ONE materialized index: even
    * doc_ids play the curated corpus, doc_id ≡ 1 (mod 4) the day-1 batch
    * and ≡ 3 (mod 4) the day-2 batch. The index is built once and
    * persisted; day-1 runs against it; day-1's ACCEPTED docs (neither
    * exact nor near dup) are appended to the index with the same one-pass
    * build; day-2 runs against the grown index — so a day-2 copy of a
    * day-1 original IS flagged, which is exactly what distinguishes this
    * from re-arbitrating every batch against the frozen corpus. Within-
    * batch near-dups remain [[simhashPairs]]' job; this operator is the
    * batch-vs-index arbitration only. The oracle replays both days,
    * including the index append, in one WITH chain. */
  private val dIncrementalIndexed = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      val b1 = docs.filter(pmod(col("doc_id"), lit(4)) === 1)
      val b2 = docs.filter(pmod(col("doc_id"), lit(4)) === 3)
      val idx = buildCorpusIndex(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // day-1 verdicts feed both the output and the index append — tiny
      // (3 columns × batch rows), so eager-checkpoint the diamond
      val r1 = incrementalDedupAgainstIndex(b1, idx, "doc_id", "text")
        .localCheckpoint(eager = true)
      val acc1 = b1.join(
        r1.filter(!col("exact_dup") && !col("near_dup")).select("doc_id"),
        Seq("doc_id"))
      val idx2 = idx.unionByName(buildCorpusIndex(acc1, "doc_id", "text"))
      val r2 = incrementalDedupAgainstIndex(b2, idx2, "doc_id", "text")
      val out = r1.unionByName(r2).orderBy("doc_id")
        .localCheckpoint(eager = true)
      idx.unpersist(blocking = false)
      out
    },
    Some(simhashSigSql + """,
        h_all AS (SELECT doc_id,
                    md5(regexp_replace(lower(COALESCE(text, '')),
                        '[^a-z0-9 ]', '', 'g')) AS h
                  FROM documents),
        ch AS (SELECT DISTINCT h FROM h_all WHERE doc_id % 2 = 0),
        cb AS (SELECT id, simhash, b,
                 (simhash >> CAST(b * 16 AS INT)) & 65535 AS key
               FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb
               WHERE id % 2 = 0),
        nh1 AS (SELECT doc_id, h FROM h_all WHERE doc_id % 4 = 1),
        bm1 AS (SELECT h, MIN(doc_id) AS firstid FROM nh1 GROUP BY h),
        ex1 AS (SELECT nh1.doc_id,
                  (ch.h IS NOT NULL OR nh1.doc_id <> bm1.firstid) AS exact_dup
                FROM nh1 LEFT JOIN ch ON nh1.h = ch.h
                JOIN bm1 ON nh1.h = bm1.h),
        nb1 AS (SELECT id, simhash, b,
                  (simhash >> CAST(b * 16 AS INT)) & 65535 AS key
                FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb
                WHERE id % 4 = 1),
        nd1 AS (SELECT DISTINCT n.id FROM nb1 n
                JOIN cb c ON n.b = c.b AND n.key = c.key
                WHERE bit_count(xor(n.simhash, c.simhash)) <= 12),
        r1 AS (SELECT e.doc_id, e.exact_dup,
                 (nd1.id IS NOT NULL) AS near_dup
               FROM ex1 e LEFT JOIN nd1 ON e.doc_id = nd1.id),
        acc1 AS (SELECT doc_id FROM r1
                 WHERE NOT exact_dup AND NOT near_dup),
        ch2 AS (SELECT h FROM ch
                UNION
                SELECT h_all.h FROM h_all JOIN acc1 USING (doc_id)),
        cb2 AS (SELECT * FROM cb
                UNION ALL
                SELECT n.* FROM nb1 n JOIN acc1 ON n.id = acc1.doc_id),
        nh3 AS (SELECT doc_id, h FROM h_all WHERE doc_id % 4 = 3),
        bm3 AS (SELECT h, MIN(doc_id) AS firstid FROM nh3 GROUP BY h),
        ex3 AS (SELECT nh3.doc_id,
                  (ch2.h IS NOT NULL OR nh3.doc_id <> bm3.firstid) AS exact_dup
                FROM nh3 LEFT JOIN ch2 ON nh3.h = ch2.h
                JOIN bm3 ON nh3.h = bm3.h),
        nb3 AS (SELECT id, simhash, b,
                  (simhash >> CAST(b * 16 AS INT)) & 65535 AS key
                FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb
                WHERE id % 4 = 3),
        nd3 AS (SELECT DISTINCT n.id FROM nb3 n
                JOIN cb2 c ON n.b = c.b AND n.key = c.key
                WHERE bit_count(xor(n.simhash, c.simhash)) <= 12),
        r3 AS (SELECT e.doc_id, e.exact_dup,
                 (nd3.id IS NOT NULL) AS near_dup
               FROM ex3 e LEFT JOIN nd3 ON e.doc_id = nd3.id)
        SELECT doc_id, exact_dup, near_dup
        FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r3)
        ORDER BY doc_id"""))

  /** Same 29-fold train/eval split as q_d_decontaminate, graded. */
  private val dDecontamScored = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      decontaminateScored(
        docs.filter(pmod(col("doc_id"), lit(29)) =!= 0), "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(29)) === 0), "text")
        .orderBy("doc_id")
    },
    Some("""WITH tr AS (SELECT doc_id,
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents WHERE doc_id % 29 <> 0),
            ev AS (SELECT
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents WHERE doc_id % 29 = 0),
            evg AS (SELECT DISTINCT
                unnest(list_transform(range(GREATEST(len(t) - 4, 0)),
                  i -> t[CAST(i AS INT)+1] || ' ' || t[CAST(i AS INT)+2]
                    || ' ' || t[CAST(i AS INT)+3] || ' ' || t[CAST(i AS INT)+4]
                    || ' ' || t[CAST(i AS INT)+5])) AS g
              FROM ev),
            trg AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(GREATEST(len(t) - 4, 0)),
                  i -> t[CAST(i AS INT)+1] || ' ' || t[CAST(i AS INT)+2]
                    || ' ' || t[CAST(i AS INT)+3] || ' ' || t[CAST(i AS INT)+4]
                    || ' ' || t[CAST(i AS INT)+5])) AS g
              FROM tr),
            cnt AS (SELECT t.doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_grams,
                CAST(SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit
              FROM trg t LEFT JOIN evg e USING (g) GROUP BY t.doc_id)
            SELECT d.doc_id,
                   COALESCE(c.n_grams, 0) AS n_grams,
                   COALESCE(c.n_hit, 0) AS n_hit,
                   (COALESCE(c.n_hit, 0) * 100 >= 5 * COALESCE(c.n_grams, 0)
                    AND COALESCE(c.n_grams, 0) > 0) AS severe
            FROM (SELECT doc_id FROM documents WHERE doc_id % 29 <> 0) d
            LEFT JOIN cnt c ON d.doc_id = c.doc_id
            ORDER BY d.doc_id"""))

  /** Odd vec_ids play the batch, even the indexed corpus; threshold 0.45
    * (the live band of this corpus's cosine distribution, same as
    * q_d_embed_neardup). The oracle rebuilds the sha256 hyperplanes,
    * both sides' signatures, the bucket-keyed candidate join, and the
    * exact-cosine arbitration. */
  /** Shared oracle CTE chain for the 72-plane sign-LSH signatures over
    * the embeddings table, ending in `sig(vec_id, tbl, bucket)` (and
    * `v(vec_id, e)`) — the DuckDB twin of [[buildEmbeddingIndex]]'s
    * routing keys, shared by q_d_embed_incremental and
    * q_d_embed_versioned. A def, not a val (object-init-order nulls). */
  private[dedup] def lshSigSql: String = """pl AS (SELECT plane, i,
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
              FROM dots GROUP BY 1, 2)"""

  private val dEmbedIncremental = Q(
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = buildEmbeddingIndex(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id",
        "embedding", dim = 64)
      incrementalEmbedDedupAgainstIndex(
        emb.filter(pmod(col("vec_id"), lit(2)) === 1), idx, "vec_id",
        "embedding", dim = 64, threshold = 0.45)
        .orderBy("vec_id")
    },
    Some("WITH " + lshSigSql + """,
            cand AS (SELECT DISTINCT b.vec_id AS id, c.vec_id AS idc
              FROM sig b JOIN sig c ON b.tbl = c.tbl AND b.bucket = c.bucket
              WHERE b.vec_id % 2 = 1 AND c.vec_id % 2 = 0
                AND b.vec_id <> c.vec_id),
            scored AS (SELECT id, idc,
                list_dot_product(a.e, b2.e)
                  / (SQRT(list_dot_product(a.e, a.e))
                     * SQRT(list_dot_product(b2.e, b2.e))) AS cosine
              FROM cand JOIN v a ON a.vec_id = id
                        JOIN v b2 ON b2.vec_id = idc),
            m AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_matches,
                    MAX(cosine) AS mc
                  FROM scored WHERE cosine >= 0.45 GROUP BY id)
            SELECT q.vec_id AS vec_id,
                   COALESCE(m.n_matches, 0) AS n_matches,
                   ROUND(m.mc, 6) AS max_cosine,
                   (m.id IS NOT NULL) AS near_dup
            FROM (SELECT vec_id FROM embeddings WHERE vec_id % 2 = 1) q
            LEFT JOIN m ON q.vec_id = m.id
            ORDER BY q.vec_id"""))

  val queries: Map[String, Q] = Map(
    "q_d_incremental" -> dIncremental,
    "q_d_incremental_indexed" -> dIncrementalIndexed,
    "q_d_embed_incremental" -> dEmbedIncremental,
    "q_d_decontaminate_scored" -> dDecontamScored,
    "q_d_exact" -> dExact,
    "q_d_ngram_jaccard" -> dNgram,
    "q_d_prefix_jaccard" -> dPrefixJaccard,
    "q_d_snapshot_diff" -> dSnapshotDiff,
    "q_d_minhash_lsh" -> dMinhash,
    "q_d_minhash_banded" -> dMinhashBanded,
    "q_d_simhash" -> dSimhash,
    "q_d_simhash_pairs" -> dSimhashPairs,
    "q_d_embed_neardup" -> dEmbed,
    "q_d_decontaminate" -> dDecontam,
    "q_d_bloom_decon" -> dBloomDecon,
    "q_d_containment" -> dContainment,
    "q_d_corpus_overlap" -> dCorpusOverlap,
    "q_d_cdc_chunks" -> dCdc,
    "q_d_edit_verify" -> dEditVerify)
}
