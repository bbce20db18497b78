package graft.text

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class BpeMergeSpec extends SparkSpecBase {
  import spark.implicits._

  test("applyMerge: greedy left-to-right, overlapping runs, ends intact") {
    val df = Seq(
      Seq("b", "b", "b"),       // x=y run: [bb, b], not [b, bb]
      Seq("b", "b", "b", "b"),  // [bb, bb]
      Seq("a", "b", "c"),       // no-op for (b,b)
      Seq("b"),                 // single symbol untouched
      Seq("c", "b", "b")        // trailing pair merges
    ).toDF("syms")
    val out = df.select(BpeMerge.applyMerge(col("syms"), "b", "b").as("m"))
      .collect().map(_.getSeq[String](0).toList)
    assert(out(0) === List("bb", "b"))
    assert(out(1) === List("bb", "bb"))
    assert(out(2) === List("a", "b", "c"))
    assert(out(3) === List("b"))
    assert(out(4) === List("c", "bb"))
  }

  test("learnMerges: hand-computed merge sequence on a toy corpus") {
    // corpus: "low low lower" ×2 docs and "new newer" — classic BPE toy.
    // char pairs weighted by word freq: words {low:4, lower:2, new:1, newer:1}
    //   (l,o):6 (o,w):6 (w,e):3 (e,r):3 (n,e):2 (e,w):2
    // merge 1: tie (l,o)/(o,w) at 6 → lexicographic → (l,o)
    // after: lo w / lo w e r — pairs: (lo,w):6 (w,e):3 (e,r):3 (n,e):2 (e,w):2
    // merge 2: (lo,w) at 6 → low
    // merge 3: pairs (low,e):2? no — lower → [low,e,r]: (low,e):2 (e,r):3
    //   newer → [n,e,w,e,r]: (n,e):1(+new 1 =2) (e,w):2 (w,e):1 (e,r):1
    //   so (e,r): lower 2 + newer 1 = 3 → merge 3 = (e,r) at 3
    val docs = Seq("low low lower", "low low lower", "new newer")
      .toDF("text")
    val out = BpeMerge.learnMerges(docs, "text", 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out(0) === ((1L, "l", "o", 6L)))
    assert(out(1) === ((2L, "lo", "w", 6L)))
    assert(out(2) === ((3L, "e", "r", 3L)))
    spark.catalog.clearCache()
  }

  test("driver-local learn fast path equals the distributed loop") {
    // r16: merges AND the final encoded vocab must be identical between
    // the collected-vocab driver loop and the per-merge distributed loop
    // — including the tie-break (the toy corpus ties (l,o)/(o,w)) and a
    // multibyte word (symbol split semantics stay in Spark on both paths)
    val docs = Seq("low low lower", "low low lower", "new newer",
      "héllo héllo").toDF("text")
    val (fastM, fastV) = BpeMerge.learnState(docs, "text", 3)
    val (slowM, slowV) = withGate(forceDistributed = true) {
      BpeMerge.learnState(docs, "text", 3)
    }
    assert(fastM === slowM)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getSeq[String](2).toList)).sortBy(_._1).toList
    assert(dump(fastV) === dump(slowV))
    slowV.unpersist(blocking = false)
    spark.catalog.clearCache()
  }

  test("driver-local learn fast path equals distributed on the sf corpus") {
    val docs = graft.Tables.documents(spark, sf)
    val (fastM, fastV) = BpeMerge.learnState(docs, "text", 3)
    val (slowM, slowV) = withGate(forceDistributed = true) {
      BpeMerge.learnState(docs, "text", 3)
    }
    assert(fastM === slowM)
    assert(fastV.count() === slowV.count())
    assert(fastV.exceptAll(slowV).isEmpty && slowV.exceptAll(fastV).isEmpty)
    slowV.unpersist(blocking = false)
    spark.catalog.clearCache()
  }

  test("applyMerge matches a reference greedy scan on 600 random inputs") {
    // one Spark job for all generated cases (PropertySpec convention)
    def ref(syms: Seq[String], x: String, y: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer[String]()
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) {
          out += x + y; i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    val rnd = new scala.util.Random(7)
    val cases = (1 to 300).map { i =>
      val n = rnd.nextInt(9)
      (i.toLong, (0 until n).map(_ => Seq("a", "b", "c")(rnd.nextInt(3))))
    }
    val df = cases.toDF("id", "syms")
    for ((x, y) <- Seq(("a", "b"), ("b", "b"))) {
      val got = df.select(col("id"),
          BpeMerge.applyMerge(col("syms"), x, y).as("m"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
      // the composed aggregate fold is the independent in-engine reference
      // for the codegen'd expression — all three must agree exactly
      val composed = df.select(col("id"),
          BpeMerge.applyMergeComposed(col("syms"), x, y).as("m"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
      cases.foreach { case (id, syms) =>
        assert(got(id) === ref(syms, x, y),
          s"case $id $syms pair ($x,$y)")
        assert(got(id) === composed(id),
          s"codegen/composed divergence: case $id $syms pair ($x,$y)")
      }
    }
  }

  test("encodeCorpus: per-doc counts under the learned merges, vocab released") {
    // vocab: aa(freq 3), ab(2) → merge 1 = (a,a) [cnt 3], then the ab pair
    // (a,b) [cnt 2] → after 2 merges: aa→[aa], ab→[ab]
    val docs = Seq((1L, "aa ab aa"), (2L, "ab aa")).toDF("doc_id", "text")
    val (out, release) = BpeMerge.encodeCorpusReleasable(
      docs, "doc_id", "text", 2)
    val rows = out.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    release()
    assert(rows.toSeq === Seq((1L, 3L, 3L, 6L), (2L, 2L, 2L, 4L)))
    // with only ONE merge, ab stays two symbols
    val one = BpeMerge.encodeCorpus(docs, "doc_id", "text", 1)
      .orderBy("doc_id").collect().map(r => r.getLong(2))
    assert(one.toSeq === Seq(4L, 3L)) // doc1: 1+2+1, doc2: 2+1
    spark.catalog.clearCache()
  }

  test("learnMerges stops early when no pairs remain") {
    val docs = Seq("a b a", "b a").toDF("text") // all words single-char
    val out = BpeMerge.learnMerges(docs, "text", 3).collect()
    assert(out.isEmpty)
    spark.catalog.clearCache()
  }
}
