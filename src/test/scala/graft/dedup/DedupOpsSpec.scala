package graft.dedup

import graft.SparkSpecBase
import graft.functions.SimHash64
import org.apache.spark.sql.functions._

class DedupOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy cat", "en"), // near-dup of 1
    (3L, "The Quick Brown Fox jumps over the lazy dog!!", "en"), // exact after normalize
    (4L, "completely different content about spark shuffles", "en"),
    (5L, "short", "en")
  ).toDF("doc_id", "text", "lang")

  test("exact dedup groups case/punct-normalized duplicates") {
    val out = DedupOps.exactDedup(docs, "doc_id", "text").collect()
    val dupGroup = out.find(_.getAs[Long]("dup_count") == 2)
    assert(dupGroup.isDefined)
    assert(dupGroup.get.getAs[Long]("keep") === 1L) // min id kept
    assert(out.map(_.getAs[Long]("dup_count")).sum === 5)
  }

  test("ngram jaccard finds the near-dup pair, not the unrelated doc") {
    val pairs = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", "lang",
      k = 3, threshold = 0.3).collect()
    val ids = pairs.map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"))).toSet
    assert(ids.contains((1L, 2L)))
    assert(ids.contains((1L, 3L))) // same text normalized
    assert(!ids.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("short docs (< k tokens) produce no shingles and no errors") {
    val sh = DedupOps.shingles(docs, "doc_id", "text", "lang")
    assert(sh.filter($"id" === 5L).count() === 0)
  }

  test("simhash: identical token sets -> identical signature; near-dup -> small hamming") {
    val sig = DedupOps.simhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    assert(java.lang.Long.bitCount(sig(1L) ^ sig(2L)) <= 16)
    assert(java.lang.Long.bitCount(sig(1L) ^ sig(4L)) >
      java.lang.Long.bitCount(sig(1L) ^ sig(2L)))
    // deterministic across evaluations
    val sig2 = DedupOps.simhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    assert(sig === sig2)
  }

  test("minhash LSH candidates include the true near-dup pair") {
    val pairs = DedupOps.minhashPairs(docs, "doc_id", "text",
      numHashTables = 8, maxJaccardDist = 0.6).collect()
    val ids = pairs.map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"))).toSet
    assert(ids.contains((1L, 2L)))
  }

  test("banded minhash finds the near-dup pair with exact verified jaccard") {
    val pairs = DedupOps.minhashPairsBanded(docs, "doc_id", "text",
      numBands = 8, rowsPerBand = 1, maxJaccardDist = 0.6).collect()
    val byPair = pairs.map(r =>
      (r.getAs[Long]("ida"), r.getAs[Long]("idb")) -> r.getAs[Double]("jaccard_dist")).toMap
    assert(byPair.contains((1L, 2L)))
    // docs 1/2 share 6 of 8 distinct shingles -> dist = 1 - 6/10? compute:
    // both have 7 shingles, differ in last token -> 6 shared, union 8
    assert(math.abs(byPair((1L, 2L)) - (1.0 - 6.0 / 8.0)) < 1e-6)
    // verified jaccard means no false positives above the threshold
    assert(byPair.values.forall(_ <= 0.6))
  }

  test("embedding near-dup finds real near pairs and every cosine is exact") {
    val emb = graft.Tables.embeddings(spark, sf)
    // threshold chosen INSIDE the testdata's cosine range (sf0.001 has 6
    // pairs >= 0.454) so an empty result would be a recall failure, not a
    // vacuous green
    val pairs = DedupOps.embeddingNearDupPairs(emb, "vec_id", "embedding",
      dim = 64, threshold = 0.45).collect()
    assert(pairs.nonEmpty, "LSH recall failure: no pair >= 0.45 found")
    assert(pairs.forall(r => r.getAs[Long]("ida") < r.getAs[Long]("idb")))
    // candidates are exact-scored: recompute each returned cosine by hand
    val vecs = emb.select($"vec_id", $"embedding".cast("array<double>"))
      .collect().map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Double]](1).toArray).toMap
    pairs.foreach { r =>
      val (a, b) = (vecs(r.getAs[Long]("ida")), vecs(r.getAs[Long]("idb")))
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val exact = dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
      assert(exact >= 0.45)
      assert(math.abs(r.getAs[Double]("cosine") - exact) < 1e-5)
    }
  }

  test("editVerify: near-identical pairs confirm, unrelated pairs reject") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumped over the lazy dog"), // 2 edits from 1
      (3L, "completely different content on another topic")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("ida", "idb")
    val out = DedupOps.editVerify(docs, pairs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getBoolean(4))).toMap
    assert(out((1L, 2L))._1 === 2L)        // jumps -> jumped
    assert(out((1L, 2L))._2, "near-dup pair must confirm")
    assert(!out((1L, 3L))._2, "unrelated pair must reject")
    // prefix bound: differences beyond prefixLen are invisible by design
    val longDocs = Seq(
      (1L, "x" * 300),
      (2L, "x" * 200 + "y" * 100)).toDF("doc_id", "text")
    val lp = DedupOps.editVerify(longDocs, Seq((1L, 2L)).toDF("ida", "idb"),
      "doc_id", "text", prefixLen = 200).head()
    assert(lp.getLong(2) === 0L && lp.getBoolean(4))
  }

  test("editVerify: null text and missing-id pairs get defined verdicts, never null/dropped") {
    val docs = Seq(
      (1L, Option("the quick brown fox")),
      (2L, Option.empty[String]),   // null text reads as ""
      (3L, Option.empty[String])).toDF("doc_id", "text")
    // (2,3): both null -> "" vs "" -> dist 0, confirmed
    // (1,2): text vs ""  -> dist = len, rejected
    // (1,9): 9 missing from docs -> kept, null dist, confirmed = false
    val pairs = Seq((2L, 3L), (1L, 2L), (1L, 9L)).toDF("ida", "idb")
    val out = DedupOps.editVerify(docs, pairs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(out.size === 3, "no pair may be silently dropped")
    assert(out((2L, 3L)).getLong(2) === 0L && out((2L, 3L)).getBoolean(4))
    assert(out((1L, 2L)).getLong(2) === 19L && !out((1L, 2L)).getBoolean(4))
    assert(out((1L, 9L)).isNullAt(2) && !out((1L, 9L)).getBoolean(4),
      "missing-doc pair must be explicitly unconfirmed")
    assert(out.values.forall(!_.isNullAt(4)), "confirmed is never null")
  }

  test("editVerify: the thresholded verdict equals edit_dist <= 0.2 * len_max") {
    // seeded random pairs over an ASCII and a multi-byte alphabet (a
    // supplementary-plane emoji included), b = a with 0-10 random edits so
    // the distances straddle the bound, plus the edge cases by hand
    val rnd = new scala.util.Random(11)
    val alphabets = Seq("ab c".map(_.toString),
      Seq("é", "日", "本", "a", " ", "\uD83D\uDE42"))
    def word(al: Seq[String], n: Int) = Seq.fill(n)(al(rnd.nextInt(al.size))).mkString
    val random = (0 until 400).map { i =>
      val al = alphabets(i % 2)
      val a = word(al, 1 + rnd.nextInt(40))
      val b = (0 until rnd.nextInt(11)).foldLeft(a) { (s, _) =>
        val at = rnd.nextInt(s.length + 1)
        rnd.nextInt(3) match {
          case 0 => s.take(at) + word(al, 1) + s.drop(at)
          case 1 => s.take(at) + s.drop(at + 1)
          case _ => s.take(at) + word(al, 1) + s.drop(at + 1)
        }
      }
      (a, b)
    }
    val base = "abcdefghijklmnopqrst" // L = 20, bound floor(0.2 * 20) = 4
    val edges = Seq(
      base -> ("XXXX" + base.drop(4)),           // distance 4: at the bound
      base -> ("XXXXX" + base.drop(5)),          // distance 5: one past it
      ("a" * 20) -> ("a" * 10),                  // length gap 10 > bound 4
      "" -> "")
    val texts = (random ++ edges).zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((2L * i, Option(a)), (2L * i + 1, Option(b))) } ++
      Seq((-1L, Option.empty[String]), (-2L, Option.empty[String]))
    val pairs = (texts.indices.filter(_ % 2 == 0).map(i =>
        (texts(i)._1, texts(i + 1)._1)).filter(_._1 >= 0) ++
      Seq((-2L, -1L), (-1L, 0L), (0L, 999999L))).toDF("ida", "idb")
    val out = DedupOps.editVerify(texts.toDF("doc_id", "text"), pairs,
      "doc_id", "text").collect()
    assert(out.length === pairs.count())
    out.foreach { r =>
      val want = !r.isNullAt(2) && r.getLong(2) <= 0.2 * r.getLong(3)
      assert(r.getBoolean(4) === want, r)
    }
    val byPair = out.map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val edge = random.size * 2L
    assert(byPair((edge, edge + 1)).getLong(2) === 4L &&
      byPair((edge, edge + 1)).getBoolean(4))
    assert(byPair((edge + 2, edge + 3)).getLong(2) === 5L &&
      !byPair((edge + 2, edge + 3)).getBoolean(4))
    assert(!byPair((edge + 4, edge + 5)).getBoolean(4))
    assert(byPair((edge + 6, edge + 7)).getBoolean(4), "empty vs empty")
    assert(byPair((-2L, -1L)).getBoolean(4), "null vs null")
    assert(!byPair((0L, 999999L)).getBoolean(4), "missing id")
    assert(out.count(_.getBoolean(4)) > 50 && out.count(!_.getBoolean(4)) > 50,
      "the random pairs straddle the bound")
  }

  test("editVerify: a confirmed-only plan keeps just the thresholded DP") {
    import org.apache.spark.sql.catalyst.expressions.Levenshtein
    def levs(df: org.apache.spark.sql.DataFrame): Seq[Levenshtein] =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(
        _.collect { case l: Levenshtein => l }))
    val texts = Seq((1L, "the quick brown fox"), (2L, "the quick brown cat"))
      .toDF("doc_id", "text")
    val full = DedupOps.editVerify(texts, Seq((1L, 2L)).toDF("ida", "idb"),
      "doc_id", "text")
    val verdictOnly = full.filter("confirmed").select("ida", "idb")
    assert(levs(verdictOnly).map(_.threshold.isDefined) === Seq(true))
    assert(levs(full).map(_.threshold.isDefined).sorted === Seq(false, true))
    assert(verdictOnly.collect().map(r => (r.getLong(0), r.getLong(1))) ===
      Array((1L, 2L)))
  }

  test("decontaminate flags docs sharing an n-gram with the benchmark, counts distinct grams") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val docs = Seq(
      // contains "quick brown fox jumps over" (and one more shared 5-gram)
      (1L, "a quick brown fox jumps over everything quick brown fox jumps over"),
      (2L, "completely unrelated text with no overlap at all whatsoever"),
      (3L, "short doc"), // < 5 tokens: no grams, never contaminated
      // case-insensitive: tokens lowercased on both sides
      (4L, "THE QUICK BROWN FOX JUMPS over nothing")).toDF("doc_id", "text")
    val out = DedupOps.decontaminate(docs, "doc_id", "text", bench, "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L)._2 && out(1L)._1 >= 1) // repeated gram counted ONCE (distinct)
    assert(out(1L)._1 === 1L)
    assert(out(2L) === ((0L, false)))
    assert(out(3L) === ((0L, false)))
    assert(out(4L)._2, "case-insensitive gram match must contaminate")
    assert(out.size === 4)
  }

  test("incremental dedup: corpus twin, batch twin, near-dup, fresh doc") {
    val base = "spark shuffle partition executor batch query scan filter " +
      "join table column row group window sort merge stage task driver node"
    val corpus = Seq((0L, base), (2L, "completely different content here "
      + "about cooking recipes and garden flowers in summer")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, base),                       // exact copy of corpus doc 0
      (3L, "fresh unseen totally novel text with unique vocabulary words"),
      (5L, base.replace("driver", "worker")), // near-dup of corpus doc 0
      (7L, "fresh unseen totally novel text with unique vocabulary words"),
      (9L, "x y z"),                    // fresh and tiny
      (11L, null.asInstanceOf[String]), // null text: defined verdict, not lost
      (13L, null.asInstanceOf[String])  // second null: exact dup of 11
    ).toDF("doc_id", "text")
    val out = DedupOps.incrementalDedup(batch, corpus, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("exact_dup"), r.getAs[Boolean]("near_dup"))).toMap
    assert(out.keySet === Set(1L, 3L, 5L, 7L, 9L, 11L, 13L),
      "every batch doc gets a verdict, null text included")
    assert(!out(11L)._1 && out(13L)._1, "null-text docs dedup as empty text")
    assert(out(1L) === ((true, true)), "corpus twin is exact AND near dup")
    assert(out(3L) === ((false, false)), "first batch copy is fresh")
    assert(out(7L)._1, "second batch copy is an exact dup of doc 3")
    assert(out(5L)._1 === false)
    assert(out(5L)._2, "one-word change must flag as near-dup")
    assert(out(9L) === ((false, false)))
  }

  test("decontaminateScored: graded severity at the integer threshold") {
    // bench gram: "a b c d e". doc 1 = pure copy (100% of its 1 gram hits);
    // doc 2 has 20 grams, exactly 1 hit = 5% (boundary: severe at >=5%);
    // doc 3 has 20 grams, 0 hits; doc 4 too short for any 5-gram.
    val w = (1 to 24).map(i => s"w$i").mkString(" ") // 24 tokens, 20 grams
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e " + (1 to 20).map(i => s"x$i").mkString(" ")),
      (3L, w),
      (4L, "too short")).toDF("doc_id", "text")
    val bench = Seq("a b c d e").toDF("text")
    val out = DedupOps.decontaminateScored(docs, "doc_id", "text",
        bench, "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    assert(out(1L) === ((1L, 1L, true)), "full copy is severe")
    assert(out(2L)._1 === 21L) // 25 tokens -> 21 grams, 1 of them the bench's
    assert(out(2L)._2 === 1L)
    assert(!out(2L)._3, "1/21 < 5% stays below the severity threshold")
    assert(out(3L) === ((20L, 0L, false)))
    assert(out(4L) === ((0L, 0L, false)), "gramless doc is never severe")
  }

  test("containment catches a quote embedded in a longer doc that jaccard misses") {
    // doc 2 = doc 1's text embedded in a much longer doc: containment(1→2)
    // = 1.0 while jaccard is low; doc 3 unrelated
    val quote = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (1L, quote, "en"),
      (2L, s"breaking news today $quote said the minister adding many words of context around the statement entirely", "en"),
      (3L, "completely different content about other things altogether now", "en"))
      .toDF("doc_id", "text", "lang")
    val out = DedupOps.containmentPairs(docs, "doc_id", "text", "lang",
      k = 3, threshold = 0.9).collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getAs[Long]("ida") === 1L && r.getAs[Long]("idb") === 2L)
    assert(r.getAs[Double]("containment_a") === 1.0, "quote fully contained")
    assert(r.getAs[Double]("containment_b") < 0.9, "asymmetry reported")
    // the jaccard operator at the same bar would NOT pair them
    val j = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", "lang",
      3, 0.9).count()
    assert(j === 0)
  }

  test("seeded shuffle: a permutation, reproducible, seed-sensitive") {
    val df = (1L to 100L).toDF("doc_id")
    def run(seed: String) =
      graft.etl.DataMix.seededShuffle(df, "doc_id", seed)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = run("epoch0")
    assert(a.values.toSeq.sorted === (1L to 100L), "positions are 1..n")
    assert(a === run("epoch0"), "same seed -> same permutation")
    assert(a !== run("epoch1"), "different seed -> different permutation")
    // not the identity: md5 order should scramble
    assert((1L to 100L).count(i => a(i) == i) < 10)
  }

  test("bloom decontamination == exact decontamination, and the filter prunes") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val docs = graft.Tables.documents(spark, sf)
    val corpus = docs.filter(pmod(col("doc_id"), lit(31)) =!= 0)
    val bench = docs.filter(pmod(col("doc_id"), lit(31)) === 0)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hit"),
        r.getAs[Boolean]("contaminated"))).toSet
    val exact = key(DedupOps.decontaminate(
      corpus, "doc_id", "text", bench, "text"))
    // one-sided error: default geometry must reproduce the exact result
    assert(key(DedupOps.decontaminateBloom(
      corpus, "doc_id", "text", bench, "text")) === exact)
    // even a pathologically tiny bitmap (mass false positives at the
    // prefilter) must stay exact — the verify join absorbs them all
    assert(key(DedupOps.decontaminateBloom(corpus, "doc_id", "text",
      bench, "text", mBits = 64, kHash = 1)) === exact)
    // the prefilter itself must prune: with m=65536 bits / k=3 and an
    // eval-suite-sized gram set, non-member grams pass only at the Bloom
    // false-positive rate — measure it directly on the candidate slice
    val (cand, bg) = DedupOps.bloomCandidatesWithBench(
      corpus, "doc_id", "text", bench, "text", 5, 1 << 16, 3)
    val totalGrams = DedupOps.shingles(corpus.withColumn("__blk", lit(1)),
      "doc_id", "text", "__blk", 5).count()
    val nCand = cand.count()
    val nTrue = cand.join(bg, "g").count()
    val fpr = (nCand - nTrue).toDouble / math.max(totalGrams - nTrue, 1L)
    assert(nCand < totalGrams, "prefilter dropped nothing")
    assert(fpr < 0.05, f"bloom FPR $fpr%.4f on ${totalGrams} grams")
  }

  test("cdcChunks: chunks cover the text exactly and re-sync after an insert") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    val edited = "XXX " + base // early insertion
    // mask = 15 (1-in-16 boundary density): the fixture is a 62-char
    // PERIODIC sentence, so it has only 62 distinct windows — at the
    // default 1-in-64 density the rolling hash lands zero boundaries on
    // it and the whole doc is one chunk (correct, but nothing to
    // re-sync). Density is the operator's parameter, not its property;
    // the re-sync invariant under test holds at any density that yields
    // boundaries at all.
    val docs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val ch = DedupOps.cdcChunks(docs, "doc_id", "text", 8, 15).collect()
    // coverage: per doc, chunk lengths sum to text length
    val lens = ch.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(3)).sum).toMap
    assert(lens === Map(1L -> base.length.toLong, 2L -> edited.length.toLong))
    // re-synchronization: the insertion perturbs only a prefix — the two
    // docs still SHARE at least one identical chunk hash
    val h1 = ch.filter(_.getLong(0) == 1L).map(_.getString(2)).toSet
    val h2 = ch.filter(_.getLong(0) == 2L).map(_.getString(2)).toSet
    assert((h1 & h2).nonEmpty,
      "no shared chunk after an early insertion — boundaries did not re-sync")
    // and the duplicate-group roll-up reports those shared chunks
    val dups = DedupOps.cdcDuplicateChunks(docs, "doc_id", "text", 8, 15)
      .filter(col("n_docs") === 2).count()
    assert(dups >= 1)
  }

  test("cdcChunks: short and empty docs") {
    import spark.implicits._
    val docs = Seq((1L, "tiny"), (2L, "")).toDF("doc_id", "text")
    val ch = DedupOps.cdcChunks(docs, "doc_id", "text").collect()
    // sub-window doc -> exactly one whole-text chunk; empty doc -> none
    assert(ch.length === 1 && ch.head.getLong(0) === 1L &&
      ch.head.getLong(3) === 4L)
  }

  test("corpusOverlap: exact source-level Jaccard; disjoint pairs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", "w1 w2 w3 w4"), // shingles: {w1 w2 w3, w2 w3 w4}
      (2L, "a", "w1 w2 w3"), //    adds nothing new to source a
      (3L, "b", "w1 w2 w3"), //    {w1 w2 w3} — contained in a
      (4L, "c", "x1 x2 x3")) //    disjoint
      .toDF("doc_id", "source", "text")
    val (out, release) = DedupOps.corpusOverlapReleasable(
      docs, "source", "text", 3)
    val rows = out.collect().map(r => (r.getString(0), r.getString(1),
      r.getLong(2), r.getDouble(3), r.getDouble(5))).toSeq
    release()
    // only (a, b) overlaps: shared=1, |a|=2, |b|=1 -> J=1/2, c_b=1.0
    assert(rows === Seq(("a", "b", 1L, 0.5, 1.0)))
  }

  test("prefixJaccardPairs: lossless — equals the every-shared-shingle " +
      "join at the same threshold on the real corpus") {
    val docs = graft.Tables.documents(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"),
        r.getAs[Long]("shared"), r.getAs[Double]("jaccard"))).toSet
    val (pj, rel1) = DedupOps.prefixJaccardPairsReleasable(
      docs, "doc_id", "text", k = 3, threshold = 0.5)
    val got = pairs(pj)
    rel1()
    // brute force: every shared shingle is a candidate (single block)
    val (bf, rel2) = DedupOps.ngramJaccardPairsReleasable(
      docs.withColumn("__b", lit(1)), "doc_id", "text", "__b",
      k = 3, threshold = 0.5)
    val want = pairs(bf)
    rel2()
    assert(got === want, "prefix filter must lose nothing at t=0.5")
    assert(got.nonEmpty, "fixture must exercise the join")
    got.foreach { case (_, _, _, j) => assert(j >= 0.5) }
    spark.catalog.clearCache()
  }
}
