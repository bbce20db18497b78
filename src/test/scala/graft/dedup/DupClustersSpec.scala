package graft.dedup

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class DupClustersSpec extends SparkSpecBase {
  import spark.implicits._

  test("connected components: chain, triangle, and singletons resolve to min id") {
    // chain 1-2-3-4 (diameter 3, exercises pointer jumping), triangle 10-11-12,
    // isolated pair 20-21; node 30 appears in no pair and must NOT appear here
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("ida", "idb")
    val comp = DupClusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: long path converges within the iteration bound") {
    // force the distributed loop — the driver fast path has no rounds
    // a 64-node path has diameter 63; pointer jumping must close it well
    // inside maxIter=25 (log-diameter rounds), where plain propagation
    // would need 63
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("ida", "idb")
    val comp = withGate(forceDistributed = true) {
      DupClusters.connectedComponents(pairs).collect()
    }
    assert(comp.length == 64 && comp.forall(_.getLong(1) == 0L))
  }

  test("connected components match a union-find reference on a random graph") {
    // seeded sparse random graph (300 nodes, ~240 edges, with duplicate
    // edges left in — the loop is documented duplicate-insensitive):
    // many components of varied shape, independently closed by union-find
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(240)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
      .flatMap(e => Seq(e, e)) // planted duplicates
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(x => x -> find(x)).toMap
    // r15: the driver fast path (gate taken) and the distributed loop
    // (gate skipped) must BOTH equal the reference — and therefore each
    // other
    val gotSmall = DupClusters.connectedComponents(
      edges.toDF("ida", "idb")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotLoop = withGate(forceDistributed = true) {
      DupClusters.connectedComponents(edges.toDF("ida", "idb")).collect()
    }.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotSmall.keySet === expected.keySet)
    // same partition AND the same canonical min-id representative
    assert(gotSmall === expected)
    assert(gotLoop === expected)
  }

  test("connected components: empty pair list yields an empty frame, no NPE") {
    // sum() over zero rows is a null decimal — the convergence probe must
    // treat that as Σ = 0 instead of NPEing on getDecimal
    val pairs = Seq.empty[(Long, Long)].toDF("ida", "idb")
    assert(DupClusters.connectedComponents(pairs).collect().isEmpty)
  }

  test("connected components: the distributed loop reads the pair list once") {
    // the pair list's upstream (SimHash candidates, edit verify) is the
    // costly part; the loop's edge cache must scan it once, not once per
    // edge direction
    val read = spark.sparkContext.longAccumulator("pair rows read")
    val edges = (0L until 40L).map(i => (i, i / 4 * 4 + 4))
    val rows = spark.sparkContext.parallelize(edges, 4).map { case (a, b) =>
      read.add(1)
      org.apache.spark.sql.Row(a, b)
    }
    val pairs = spark.createDataFrame(rows, new org.apache.spark.sql.types
      .StructType().add("ida", "long").add("idb", "long"))
    val comp = withGate(forceDistributed = true) {
      DupClusters.connectedComponents(pairs).collect()
    }
    assert(comp.length === 41 && comp.forall(_.getLong(1) == 0L))
    assert(read.value === edges.size)
  }

  test("connected components: the distributed loop keeps only the " +
      "returned round persisted") {
    // a 32-node chain takes several pointer-jumping rounds
    val pairs = (0L until 31L).map(i => (i, i + 1)).toDF("ida", "idb")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val comp = withGate(forceDistributed = true) {
      DupClusters.connectedComponents(pairs)
    }
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size <= 1, sc.getPersistentRDDs.filter(kv =>
      added.contains(kv._1)).values.map(_.toString).mkString("; "))
    // the kept round still backs the result
    val got = comp.collect()
    assert(got.length === 32 && got.forall(_.getLong(1) == 0L))
    added.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
  }

  test("updateClusters: batch merges relabel via root remap — cluster " +
      "unions, smaller-id newcomer takes over as root, untouched " +
      "clusters pass through, new singleton edges appear") {
    // persisted forest: {1,2,3} rooted at 1, {10,11} at 10, {20,21} at 20
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L)).toDF("id", "comp")
    // batch: bridge the two first clusters (3-11), a NEW node 0 (smaller
    // than every existing id) joins cluster 1 via node 2, and a brand-new
    // pair 40-41; cluster {20,21} is untouched
    val batch = Seq((3L, 11L), (0L, 2L), (40L, 41L)).toDF("ida", "idb")
    val got = DupClusters.updateClusters(assign, batch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 0L, 11L -> 0L, 20L -> 20L, 21L -> 20L, 40L -> 40L, 41L -> 40L))
    // empty batch: the index passes through byte-identical
    val none = Seq.empty[(Long, Long)].toDF("ida", "idb")
    val same = DupClusters.updateClusters(assign, none)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(same === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("updateClusters equals from-scratch CC on a random graph split " +
      "into base + batch; the index relabel is a broadcast join") {
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(200)((rnd.nextInt(250).toLong, rnd.nextInt(250).toLong))
      .filter { case (a, b) => a != b }
    val (base, batch) = edges.partition { case (a, b) => a % 3 != 0 && b % 3 != 0 }
    assert(base.nonEmpty && batch.nonEmpty)
    val assign = DupClusters.connectedComponents(base.toDF("ida", "idb"))
    val incr = DupClusters.updateClusters(assign, batch.toDF("ida", "idb"))
    val scratch = DupClusters.connectedComponents(edges.toDF("ida", "idb"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === scratch)
    // the corpus-sized index must be relabeled map-side: its join against
    // the root remap is a BroadcastHashJoin (no shuffle of the index)
    val plan = incr.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("canonicalize: no candidate pairs → every doc is its own singleton") {
    val docs = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val pairs = Seq.empty[(Long, Long)].toDF("ida", "idb")
    val out = DupClusters.canonicalize(docs, pairs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.toSeq == Seq((1L, 1L, 1L, 1), (2L, 2L, 1L, 1)))
  }

  test("connected components: reliable checkpointDir matches localCheckpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
      .toString
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (20L, 21L)).toDF("ida", "idb")
    val local = withGate(forceDistributed = true) {
      DupClusters.connectedComponents(pairs).collect()
    }.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the reliable-path variant must also force the loop, or there is no
    // checkpoint to compare
    val reliable = withGate(forceDistributed = true) {
      DupClusters.connectedComponents(pairs, checkpointDir = Some(dir))
        .collect()
    }.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable === local)
  }

  test("canonicalize: longest text wins its cluster, ties to smallest id") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b"), (3L, "x y z"),
      (4L, "p q r s t"), (5L, "lonely")).toDF("doc_id", "text")
    // cluster {1,2,3} (canon 1: longest), {4} and {5} singletons
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("ida", "idb")
    val out = DupClusters.canonicalize(docs, pairs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.toSeq == Seq((1L, 1L, 3L, 1), (2L, 1L, 3L, 0), (3L, 1L, 3L, 0),
      (4L, 4L, 1L, 1), (5L, 5L, 1L, 1)))
  }

  test("corpus segment dedup removes cross-doc duplicate segments in order") {
    // segWords=2: doc 1 = [a b][c d], doc 2 = [a b][e f], doc 3 = [g h]
    // segment "a b" occurs in 2 distinct docs → removed from both
    val docs = Seq((1L, "a b c d"), (2L, "a b e f"), (3L, "g h"))
      .toDF("doc_id", "text")
    val out = DupClusters.corpusSegmentDedup(docs, "doc_id", "text",
      segWords = 2, minDocs = 2).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, "c d", 1L, 1L), (2L, "e f", 1L, 1L),
      (3L, "g h", 1L, 0L)))
  }

  test("segment dedup: within-doc repeats survive when below the doc threshold") {
    // "a b" repeats inside doc 1 only — one distinct doc, kept both times,
    // original order preserved through the pos sort
    val docs = Seq((1L, "a b a b c d"), (2L, "x y")).toDF("doc_id", "text")
    val out = DupClusters.corpusSegmentDedup(docs, "doc_id", "text",
      segWords = 2, minDocs = 2).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a b a b c d"), (2L, "x y")))
  }

  test("duplicatedSpans: longest shared span recovered, singles ignored") {
    // docs 1 and 2 share the 8-token span "a b c d e f g h" (runs of
    // 8−5+1 = 4 anchor positions → span 4+4 = 8); doc 3 is unique; doc 4
    // is too short for any anchor
    val shared = "a b c d e f g h"
    val docs = Seq(
      (1L, s"$shared x1 y1 z1 w1 v1"),
      (2L, s"p2 q2 $shared r2"),
      (3L, "totally unique content nothing repeats here at all ok"),
      (4L, "tiny doc")).toDF("doc_id", "text")
    val out = DupClusters.duplicatedSpans(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_dup_grams"),
         r.getAs[Long]("max_dup_span_tokens"))).toMap
    // doc 1: 13 tokens → 9 anchors, 4 duplicated, span 8
    assert(out(1L) === ((9L, 4L, 8L)))
    // doc 2: 11 tokens → 7 anchors, 4 duplicated (offset run), span 8
    assert(out(2L) === ((7L, 4L, 8L)))
    assert(out(3L)._2 === 0L && out(3L)._3 === 0L)
    assert(out(4L) === ((0L, 0L, 0L)))
  }

  test("scrubDupSpans: keeper doc intact, twin loses the span, order kept") {
    val shared = "a b c d e f g h"
    val docs = Seq(
      (1L, s"$shared x1 y1 z1 w1 v1"),
      (2L, s"p2 q2 $shared r2"),
      (3L, "nothing shared in this one at all honestly")).toDF("doc_id", "text")
    val out = DupClusters.scrubDupSpans(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("kept_tokens"),
         r.getAs[Long]("removed_tokens"))).toMap
    // doc 1 is the keeper (min id): untouched
    assert(out(1L) === ((s"$shared x1 y1 z1 w1 v1", 13L, 0L)))
    // doc 2: the 8 shared tokens scrubbed, surrounding text survives in order
    assert(out(2L) === (("p2 q2 r2", 3L, 8L)))
    assert(out(3L)._3 === 0L)
    // null text: zero totals, never -1 removed (size(null) guard)
    val withNull = docs.union(
      Seq((4L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val n4 = DupClusters.scrubDupSpans(withNull, "doc_id", "text")
      .filter(col("doc_id") === 4L).collect().head
    assert(n4.getAs[String]("clean_text") === "")
    assert(n4.getAs[Long]("kept_tokens") === 0L)
    assert(n4.getAs[Long]("removed_tokens") === 0L)
  }

  test("leakSafeSplit: no near-dup pair straddles, clusters stay whole") {
    val docs = (1L to 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // two chains (1-2-3, 10-11) plus singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("ida", "idb")
    val out = DupClusters.leakSafeSplit(docs, pairs, "doc_id", 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("split_group"), r.getAs[Boolean]("is_val"))).toMap
    assert(out.size === 40)
    // cluster members share the group (min id) and the side
    assert(Seq(1L, 2L, 3L).map(out(_)._1).distinct === Seq(1L))
    assert(Seq(1L, 2L, 3L).map(out(_)._2).distinct.size === 1)
    assert(Seq(10L, 11L).map(out(_)._1).distinct === Seq(10L))
    assert(Seq(10L, 11L).map(out(_)._2).distinct.size === 1)
    // no pair straddles the boundary — the defining invariant
    Seq((1L, 2L), (2L, 3L), (10L, 11L)).foreach { case (a, b) =>
      assert(out(a)._2 === out(b)._2, s"pair ($a,$b) straddles the split")
    }
    // at 50% both sides are populated across the 37 groups
    val sides = out.values.map(_._2).toSet
    assert(sides === Set(true, false))
    spark.catalog.clearCache()
  }

  test("exactCharSpans: byte-exact maximal spans, within- and cross-doc, " +
      "vs a hash-free string-search reference") {
    // seeded non-periodic strings (a cyclic filler like 'abc..zabc..z'
    // would plant spurious self-repeats inside one occurrence)
    val rnd = new scala.util.Random(42)
    def rs(n: Int) = rnd.alphanumeric.take(n).mkString
    val S = rs(80); val T = rs(60); val W = rs(49)
    val u = Array.fill(9)(rs(30))
    val local = Seq(
      1L -> (u(0) + S + u(1)), // cross-doc repeat of S with doc 2
      2L -> (u(2) + S + u(3)),
      3L -> (u(4) + T + u(5) + T + u(6)), // within-doc repeat — must count
      4L -> (u(7) + W), // shared 49-char tail: below minLen=50 — silent
      5L -> (u(8) + W))
    val got = DupClusters.exactCharSpans(
        local.toDF("doc_id", "text"), "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // exact boundaries: |u|=30 everywhere, so doc 1/2 carry S at [30,109]
    // (maximal: the flanking chars differ across docs), doc 3 carries T
    // twice at [30,89] and [120,179], docs 4/5 nothing
    assert(got === Set((1L, 30L, 109L, 80L), (2L, 30L, 109L, 80L),
      (3L, 30L, 89L, 60L), (3L, 120L, 179L, 60L)))
    // independent reference: duplicated = the literal 50-gram occurs >= 2
    // times corpus-wide (substring counting, no hashing), islands merged —
    // the suffix-array definition evaluated by brute force
    val grams = for {
      (id, t) <- local; p <- 0 to t.length - 50
    } yield (id, p, t.substring(p, p + 50))
    val occ = grams.groupBy(_._3).view.mapValues(_.size).toMap
    val expected = grams.filter(g => occ(g._3) >= 2).groupBy(_._1)
      .flatMap { case (id, g) =>
        val ps = g.map(_._2).sorted
        val islands = ps.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
          case (acc, p) => (p, p) :: acc
        }
        islands.map { case (s, e) =>
          (id, s.toLong, (e + 49).toLong, (e + 49 - s + 1).toLong) }
      }.toSet
    assert(got === expected)
  }

  test("exactSpansVsIndex: corpus-seen spans flagged, batch-internal " +
      "repeats silent, index round-trips parquet bit-exactly") {
    val rnd = new scala.util.Random(13)
    def rs(n: Int) = rnd.alphanumeric.take(n).mkString
    val S = rs(60); val T = rs(60)
    val corpus = Seq(100L -> (rs(30) + S + rs(30))).toDF("doc_id", "text")
    val batch = Seq(
      1L -> (rs(25) + S + rs(30)), // corpus-contaminated at [25, 84]
      2L -> (rs(30) + T + rs(30)), // T repeats only WITHIN the batch:
      3L -> (rs(35) + T + rs(30))) // not in the index -> silent
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("spanidx").toString
    val idx = DupClusters.buildSpanIndex(corpus, "doc_id", "text")
    idx.write.mode("overwrite").parquet(s"$dir/idx")
    val idxBack = spark.read.parquet(s"$dir/idx")
    assert(idxBack.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === idx.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val got = DupClusters.exactSpansVsIndex(
        batch, idxBack, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === Set((1L, 25L, 84L, 60L)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("scrubExactSpans: non-keeper occurrences cut, keeper survives, " +
      "overlapping extended spans merge into one surgical cut") {
    val rnd = new scala.util.Random(5)
    def rs(n: Int) = rnd.alphanumeric.take(n).mkString
    val sA = rs(60) // shared between docs 1 and 9
    val extra = rs(60)
    val c9 = sA + extra // doc 9: sB = c9[40,100) OVERLAPS sA's tail
    val sB = c9.substring(40, 100) // shared between docs 2 and 9
    val (u0, u1, v0, v1) = (rs(30), rs(30), rs(30), rs(30))
    val docs = Seq(
      1L -> (u0 + sA + u1), // keeper of sA (lowest id)
      2L -> (v0 + sB + v1), // keeper of sB
      9L -> c9) // loses sA at [0,59] AND sB at [40,99] -> merged [0,99]
      .toDF("doc_id", "text")
    val out = DupClusters.scrubExactSpans(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // keepers keep everything
    assert(out(1L) === (u0 + sA + u1, 120L, 0L))
    assert(out(2L) === (v0 + sB + v1, 120L, 0L))
    // doc 9: islands [0,10] (sA grams) and [40,50] (sB grams) extend to
    // [0,59] and [40,99] — overlapping; the merge must cut [0,99] once,
    // leaving exactly the last 20 chars
    assert(out(9L) === (c9.substring(100), 20L, 100L))
  }
}
