package graft.multimodal

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** DCT perceptual hash (pHash) for image near-duplicate detection —
  * the frequency-domain companion to [[MultimodalOps.dHashImages]]
  * (difference hash). dHash compares ADJACENT pixels, so it is local:
  * a crop or smooth gradient shift flips few bits, but so does any
  * small structured edit. pHash thresholds the image's DCT
  * coefficients against their own median (Zauner, "Implementation and
  * Benchmarking of Perceptual Image Hash Functions", 2010 — the
  * classic pHash construction), so the signature captures the GLOBAL
  * frequency layout: re-encodes and low-amplitude noise preserve it,
  * different content lands far away in Hamming space.
  *
  * Exactness (NUMERIC_CONVENTION rule 1): the DCT-II basis is an
  * integer fixed-point table T[u][x] = round(16384·cos(π(2x+1)u/16))
  * — the 64 constants are HARDCODED here and interpolated verbatim
  * into the oracle SQL, so no libm/StrictMath cosine ever enters
  * either engine. Coefficients C(u,v) = Σ p(r,c)·T[u][r]·T[v][c] are
  * pure 64-bit integers (Envelope: |C| ≤ 255·64·16384² ≈ 4.4e15 —
  * pinned by graft.tools.NumericEnvelopes), the
  * threshold is the 32nd-smallest of the 63 AC coefficients (an
  * order statistic, no division), and the hash packs bit u·8+v−1 iff
  * C(u,v) > median — 63 bits, always non-negative, at most 31 set.
  *
  * Scale shape: mapPartitions decode+hash (no shuffle, linear in
  * image count); pair generation rides the SAME banded-Hamming LSH
  * join as SimHash/dHash ([[graft.dedup.DedupOps.bandedHammingPairs]]
  * — 4×16-bit bands, never all-pairs), so the 100 TB path is
  * identical to the text near-dup family: hash once, band-shuffle
  * candidates only. */
object PerceptualHash {

  /** Fixed-point DCT-II basis, T(u)(x) = round(16384·cos(π(2x+1)u/16)).
    * Interpolated into the oracle SQL verbatim — see scaladoc. */
  private[multimodal] val dctT: Array[Array[Long]] = Array(
    Array(16384L, 16384L, 16384L, 16384L, 16384L, 16384L, 16384L, 16384L),
    Array(16069L, 13623L, 9102L, 3196L, -3196L, -9102L, -13623L, -16069L),
    Array(15137L, 6270L, -6270L, -15137L, -15137L, -6270L, 6270L, 15137L),
    Array(13623L, -3196L, -16069L, -9102L, 9102L, 16069L, 3196L, -13623L),
    Array(11585L, -11585L, -11585L, 11585L, 11585L, -11585L, -11585L, 11585L),
    Array(9102L, -16069L, 3196L, 13623L, -13623L, -3196L, 16069L, -9102L),
    Array(6270L, -15137L, 15137L, -6270L, -6270L, 15137L, -15137L, 6270L),
    Array(3196L, -9102L, 13623L, -16069L, 16069L, -13623L, 9102L, -3196L))

  /** 63-bit pHash of an 8×8 grayscale pixel block (row-major). */
  private[multimodal] def pHash8(p: Array[Int]): Long = {
    val c = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0L
        var r = 0
        while (r < 8) {
          var cc = 0
          while (cc < 8) {
            s += p(r * 8 + cc) * dctT(u)(r) * dctT(v)(cc)
            cc += 1
          }
          r += 1
        }
        c(u * 8 + v) = s
        v += 1
      }
      u += 1
    }
    val ac = java.util.Arrays.copyOfRange(c, 1, 64)
    val sorted = ac.clone()
    java.util.Arrays.sort(sorted)
    val med = sorted(31) // 32nd smallest of 63
    var h = 0L
    var b = 0
    while (b < 63) {
      if (ac(b) > med) h |= 1L << b
      b += 1
    }
    h
  }

  /** Reduce a decoded image to the 8×8 grayscale block pHash hashes:
    * direct sampling when the image already is 8×8 gray (the lossless
    * path the oracle replays), bilinear draw-scale otherwise. */
  private[multimodal] def gray8x8(
      img: java.awt.image.BufferedImage): Array[Int] = {
    val gray =
      if (img.getWidth == 8 && img.getHeight == 8 &&
        img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        img
      else {
        val out = new java.awt.image.BufferedImage(8, 8,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val gr = out.createGraphics()
        try {
          gr.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          gr.drawImage(img, 0, 0, 8, 8, null)
        } finally gr.dispose()
        out
      }
    val ras = gray.getRaster
    val p = new Array[Int](64)
    var r = 0
    while (r < 8) {
      var cc = 0
      while (cc < 8) {
        p(r * 8 + cc) = ras.getSample(cc, r, 0)
        cc += 1
      }
      r += 1
    }
    p
  }

  /** pHash of image blobs: ImageIO decode, reduce to 8×8 grayscale
    * ([[gray8x8]]), integer DCT, median threshold. Returns
    * (media_id, phash, ok); undecodable blobs carry ok = false —
    * the same decoder contract as [[MultimodalOps.dHashImages]]. */
  def pHashImages(df: DataFrame, idCol: String, blobCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("phash", LongType),
      StructField("ok", BooleanType)))
    val rdd = df.select(col(idCol).cast("long"), col(blobCol).cast("binary"))
      .rdd.map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .mapPartitions { it =>
        MultimodalOps.imageIoInMemory
        it.map { case (id, bytes) =>
          try {
            val img = if (bytes == null) null
              else javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(bytes))
            if (img == null) Row(id, 0L, false)
            else Row(id, pHash8(gray8x8(img)), true)
          } catch {
            case scala.util.control.NonFatal(_) => Row(id, 0L, false)
          }
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Deterministic 8×8 textured gray PNG per id for the hash-gated
    * drive: base pixel = ((g·73856093) XOR (r·19349663) XOR
    * (c·83492791)) mod 251 with g = id mod 251 (a hashed texture —
    * a LINEAR ramp would cluster DCT coefficients at the median and
    * make the hash unstable), perturbed by a MILD delta
    * (id div 64) mod 5 − 2 ∈ [−2, 2] at pixel (id mod 8,
    * (id div 8) mod 8), clamped to [0, 250]. Ids sharing g render
    * near-identical textures (measured pHash distance ≤ 2); distinct
    * g land ≥ 22 bits apart — the separation the near-dup query
    * certifies. Encoded as a REAL PNG so the decode under test is
    * real. */
  private[multimodal] def synthTexturePng(id: Long): Array[Byte] = {
    MultimodalOps.imageIoInMemory
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    val g = id % 251
    val pr = (id % 8).toInt
    val pc = ((id / 8) % 8).toInt
    val d = ((id / 64) % 5 - 2).toInt
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        val base = (((g * 73856093L) ^ (r * 19349663L) ^
          (c * 83492791L)) % 251).toInt
        val v = if (r == pr && c == pc)
          math.min(250, math.max(0, base + d)) else base
        raster.setSample(c, r, 0, v)
        c += 1
      }
      r += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Oracle CTE chain ending in `psig(id, phash)` — the synthetic-PNG
    * pHash replay: closed-form pixels, the interpolated integer DCT
    * table, the 32nd-order-statistic threshold, and the bit pack.
    * A def (object-init-order convention for shared SQL). */
  private[multimodal] def phashSigCtes: String = {
    val tblRows = (for (u <- 0 until 8; x <- 0 until 8)
      yield s"($u, $x, ${dctT(u)(x)})").mkString(", ")
    s"""ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        ptbl(u, x, t) AS (VALUES $tblRows),
        px AS (SELECT id, r, c,
            CASE WHEN r = id % 8 AND c = (id // 8) % 8
                 THEN LEAST(250, GREATEST(0,
                   xor(xor((id % 251) * 73856093, r * 19349663),
                       c * 83492791) % 251 + (id // 64) % 5 - 2))
                 ELSE xor(xor((id % 251) * 73856093, r * 19349663),
                       c * 83492791) % 251 END AS p
          FROM ids
          CROSS JOIN (SELECT unnest(range(0, 8)) AS r) rr
          CROSS JOIN (SELECT unnest(range(0, 8)) AS c) cc),
        coef AS (SELECT px.id, tu.u, tv.u AS v,
            SUM(px.p * tu.t * tv.t) AS cval
          FROM px JOIN ptbl tu ON tu.x = px.r
                  JOIN ptbl tv ON tv.x = px.c
          GROUP BY 1, 2, 3),
        ac AS (SELECT id, u * 8 + v - 1 AS b, cval
          FROM coef WHERE NOT (u = 0 AND v = 0)),
        med AS (SELECT id, cval AS m FROM (
            SELECT id, cval, row_number() OVER
              (PARTITION BY id ORDER BY cval) AS rn FROM ac)
          WHERE rn = 32),
        psig AS (SELECT ac.id,
            CAST(SUM(CASE WHEN ac.cval > med.m
              THEN CAST(CAST(1 AS BIGINT) << CAST(ac.b AS INT) AS HUGEINT)
              ELSE CAST(0 AS HUGEINT) END) AS BIGINT) AS phash
          FROM ac JOIN med ON ac.id = med.id GROUP BY 1)"""
  }

  /** q_mm_phash_neardup: REAL PNG encode → REAL ImageIO decode →
    * integer-DCT pHash → banded Hamming pairs at distance ≤ 6 (the
    * measured operating point: same-texture pairs sit ≤ 2 bits apart,
    * distinct textures ≥ 22, and at ≤ 2 the 4×16 banding is exhaustive
    * by pigeonhole). The oracle recomputes the pixels from the closed
    * form, the 64 DCT coefficients from the interpolated table, the
    * median threshold, the 63-bit pack, and the identical band-join
    * predicate — a decode, DCT, ordering, or banding bug breaks the
    * hash match. */
  private val mmPhashNearDup = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"))
      val rdd = MultimodalOps.spreadIds(docs).rdd.map(r =>
        Row(r.getLong(0), synthTexturePng(r.getLong(0))))
      val withBlob = s.createDataFrame(rdd, StructType(Seq(
        StructField("doc_id", LongType), StructField("blob", BinaryType))))
      val sig = pHashImages(withBlob, "doc_id", "blob")
        .select(col("media_id").as("id"), col("phash").as("simhash"))
      graft.dedup.DedupOps.bandedHammingPairs(sig, maxHamming = 6)
        .orderBy("ida", "idb")
    },
    Some("WITH " + phashSigCtes + """
        SELECT a.id AS ida, b.id AS idb,
               CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
        FROM psig a JOIN psig b ON a.id < b.id
        WHERE bit_count(xor(a.phash, b.phash)) <= 6
          AND ((a.phash >> 0)  & 65535 = (b.phash >> 0)  & 65535
            OR (a.phash >> 16) & 65535 = (b.phash >> 16) & 65535
            OR (a.phash >> 32) & 65535 = (b.phash >> 32) & 65535
            OR (a.phash >> 48) & 65535 = (b.phash >> 48) & 65535)
        ORDER BY ida, idb"""))

  /** Cross-corpus image matching: every (train, benchmark) pair within
    * `maxHamming` pHash bits — the IMAGE leg of benchmark
    * decontamination (the text legs are q_d_decontaminate's n-gram
    * gates; vision evals leak exactly the same way, train crawls
    * containing the eval set's re-encoded images). Candidates come
    * from the SAME 4×16-bit banding as the self-join operator, but
    * across two frames: only (train-band, bench-band) key collisions
    * shuffle — never |train|×|bench|. Output: (train_id, bench_id,
    * hamming). */
  def crossMatchPairs(train: DataFrame, bench: DataFrame,
      maxHamming: Int): DataFrame = {
    def banded(sig: DataFrame, idAs: String, hashAs: String) =
      sig.select(col("id").as(idAs), col("phash").as(hashAs),
        explode(array((0 until 4).map(bnd =>
          struct(lit(bnd).as("band"),
            shiftrightunsigned(col("phash"), bnd * 16)
              .bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("bk"))
    banded(train, "train_id", "ht")
      .join(banded(bench, "bench_id", "hb"), Seq("bk"))
      .select("train_id", "bench_id", "ht", "hb").distinct()
      .withColumn("hamming",
        graft.functions.SimHash64.hammingDist(col("ht"), col("hb")))
      .filter(col("hamming") <= maxHamming)
      .select("train_id", "bench_id", "hamming")
  }

  /** q_mm_image_decon: even-id textures are the train corpus, odd ids
    * the benchmark — ids sharing g (= id mod 251) are re-encodes of
    * the same content, so every cross-parity same-g pair must flag at
    * ≤ 6 bits. The oracle replays both sides' hashes and the cross
    * band-join predicate. */
  private val mmImageDecon = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"))
      val rdd = MultimodalOps.spreadIds(docs).rdd.map(r =>
        Row(r.getLong(0), synthTexturePng(r.getLong(0))))
      val withBlob = s.createDataFrame(rdd, StructType(Seq(
        StructField("doc_id", LongType), StructField("blob", BinaryType))))
      // cached (r16, guide §5): the train and bench sides both filter
      // THIS frame — uncached, the synth+decode+DCT chain ran twice
      val sig = pHashImages(withBlob, "doc_id", "blob")
        .select(col("media_id").as("id"), col("phash")).cache()
      crossMatchPairs(
        sig.filter(pmod(col("id"), lit(2)) === 0),
        sig.filter(pmod(col("id"), lit(2)) === 1),
        maxHamming = 6)
        .orderBy("train_id", "bench_id")
    },
    Some("WITH " + phashSigCtes + """
        SELECT a.id AS train_id, b.id AS bench_id,
               CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
        FROM psig a JOIN psig b ON a.id % 2 = 0 AND b.id % 2 = 1
        WHERE bit_count(xor(a.phash, b.phash)) <= 6
          AND ((a.phash >> 0)  & 65535 = (b.phash >> 0)  & 65535
            OR (a.phash >> 16) & 65535 = (b.phash >> 16) & 65535
            OR (a.phash >> 32) & 65535 = (b.phash >> 32) & 65535
            OR (a.phash >> 48) & 65535 = (b.phash >> 48) & 65535)
        ORDER BY train_id, bench_id"""))

  /** q_mm_phash_clusters: the pHash near-dup pair set closed into
    * connected components — the frequency-domain twin of
    * q_mm_image_clusters (same [[MultimodalOps.visualClusters]] CC
    * closure, same recursive-CTE oracle shape), grouping every
    * re-encode family to one canonical media id. */
  private val mmPhashClusters = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"))
      val rdd = MultimodalOps.spreadIds(docs).rdd.map(r =>
        Row(r.getLong(0), synthTexturePng(r.getLong(0))))
      val withBlob = s.createDataFrame(rdd, StructType(Seq(
        StructField("doc_id", LongType), StructField("blob", BinaryType))))
      val sig = pHashImages(withBlob, "doc_id", "blob")
        .select(col("media_id").as("id"), col("phash").as("simhash"))
      val pairs = graft.dedup.DedupOps.bandedHammingPairs(sig,
        maxHamming = 6)
      MultimodalOps.visualClusters(docs, "doc_id", pairs)
        .orderBy("media_id")
    },
    Some("WITH RECURSIVE " + phashSigCtes + """,
        p AS (SELECT a.id AS ida, b.id AS idb
          FROM psig a JOIN psig b ON a.id < b.id
          WHERE bit_count(xor(a.phash, b.phash)) <= 6
            AND ((a.phash >> 0)  & 65535 = (b.phash >> 0)  & 65535
              OR (a.phash >> 16) & 65535 = (b.phash >> 16) & 65535
              OR (a.phash >> 32) & 65535 = (b.phash >> 32) & 65535
              OR (a.phash >> 48) & 65535 = (b.phash >> 48) & 65535)),
        e AS (SELECT ida AS a, idb AS b FROM p
              UNION SELECT idb AS a, ida AS b FROM p),
        reach AS (SELECT a, b FROM e
                  UNION
                  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
                  WHERE e2.b <> r.a),
        comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS comp
                 FROM reach GROUP BY a),
        allc AS (SELECT i.id, COALESCE(c.comp, i.id) AS component
                 FROM ids i LEFT JOIN comp c ON i.id = c.id),
        sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
               FROM allc GROUP BY 1)
        SELECT allc.id AS media_id, allc.component, sz.cluster_size,
               CAST(allc.id = allc.component AS INT) AS is_canonical
        FROM allc JOIN sz ON allc.component = sz.component
        ORDER BY media_id"""))

  val queries: Map[String, Q] = Map(
    "q_mm_phash_neardup" -> mmPhashNearDup,
    "q_mm_image_decon" -> mmImageDecon,
    "q_mm_phash_clusters" -> mmPhashClusters)
}
