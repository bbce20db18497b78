package graft.dedup

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash-LSH operating-point audit (the Broder'97 / Leskovec-
  * Rajaraman-Ullman banding analysis made EMPIRICAL): before trusting a
  * (bands × rows) configuration on a corpus, measure what the banding
  * actually does THERE — raw band-collision candidates vs the exact
  * Jaccard-≥ τ ground truth, as a confusion profile (tp/fn/fp,
  * precision, recall). The theoretical s-curve 1−(1−s^r)^b assumes
  * uniform similarity; real corpora cluster near the threshold, so the
  * audited recall is the number that belongs in the dedup config
  * review. Complements q_d_minhash_banded (which VERIFIES candidates
  * exactly and so silently hides banding misses — exactly the quantity
  * this audit exposes as `fn`).
  *
  * Determinism: the minhash family here is sha256-derived (first 12 hex
  * chars = 48 bits per (seed, shingle) — replayable in DuckDB
  * bit-for-bit via the same substr/instr arithmetic, the embedding-LSH
  * plane precedent), NOT the engine-private xxhash64 the production
  * banding uses; band keys are tuples of minima joined by equality, so
  * candidates, truth (exact Jaccard by integer cross-multiplication,
  * shared·1e6 ≥ τ_micro·union), and the confusion counts are all exact
  * integers. 48 bits keeps the cross-doc min-collision probability
  * ≤ ~|shingles|²/2⁴⁸ — negligible at audit scale.
  *
  * Scale shape: the audit is a DIAGNOSTIC — run it on a deterministic
  * sample (filter by a hash of the id) at 100 TB, not the corpus; the
  * candidate join keys on band tuples and the truth join blocks on
  * shared shingles (both are the standard LSH/AllPairs shuffle keys,
  * never all-pairs). Per-shingle cost is nHashes sha256 calls — an
  * audit-tier cost, which is why production banding keeps xxhash64. */
object LshAudit {

  /** 48-bit integer from the first 12 hex chars of `hexCol`.
    *
    * r15: one `conv(substr, 16, 10)` instead of the former 12-term
    * instr/substr digit sum — the SAME value (conv parses the identical
    * 12 lowercase hex chars to the identical unsigned 48-bit integer,
    * exact in long), but the digit-sum expression was 24 string ops ×
    * 8 hashes per shingle row and measured 14.0 s of the audit's 24 s
    * at sf0.1 (OPTIMIZATION_r16.md, "Retired measurement tools"); the
    * conv form measures ~0.4 s. The
    * DuckDB oracle keeps the digit-sum arithmetic (hex48Duck) — the
    * hash gate proves value equality every run. */
  private def hex48(hexCol: String): String =
    s"cast(conv(substr($hexCol, 1, 12), 16, 10) as bigint)"

  private def hex48Duck(hexCol: String): String =
    (1 to 12).map(p =>
      s"(instr('0123456789abcdef', substr($hexCol, $p, 1)) - 1) * ${
        BigInt(16).pow(12 - p)}").mkString("(", " + ", ")")

  /** One-row confusion profile of (numBands × rowsPerBand) banding
    * against exact Jaccard ≥ tauMicro/1e6 over word k-shingles.
    * Output: (n_true, n_cand, tp, fn, fp, precision_micro,
    * recall_micro). */
  def bandingAudit(df: DataFrame, idCol: String, textCol: String,
      numBands: Int = 4, rowsPerBand: Int = 2, tauMicro: Long = 500000L,
      shingleK: Int = 3): DataFrame = {
    val spark = df.sparkSession
    val nH = numBands * rowsPerBand
    // r15: tokenize ONCE per document in a prior projection — the
    // former inline form re-evaluated tokens(lower(text)) inside the
    // shingle lambda (3 element_at references + 2 size references per
    // position = O(len²) re-splitting), measured 8.9 s of the audit's
    // 24 s at sf0.1 (OPTIMIZATION_r16.md, "Retired measurement tools");
    // with the single projection the shingle pass is ~1 s. Identical
    // shingle set (the DedupOps .shingles discipline).
    val sh = df.select(col(idCol).as("id"),
        graft.text.TextOps.tokens(lower(col(textCol))).as("__toks"))
      .select(col("id"),
        explode(array_distinct(
          when(size(col("__toks")) >= shingleK,
            transform(
              sequence(lit(0), size(col("__toks")) - shingleK),
              i => concat_ws(" ", (0 until shingleK).map(o =>
                element_at(col("__toks"), i + o + 1)): _*)))
            .otherwise(array().cast("array<string>"))))
          .as("shingle"))
      .cache()
    // sha256-derived minhashes: hash once per (seed, shingle), then
    // parse 12 hex chars off the materialized digest column; ONE
    // aggregation carries every minimum plus the set size
    val hexed = sh.select((col("id") +:
      (0 until nH).map(i =>
        expr(s"sha2(concat('$i:', shingle), 256)").as(s"x$i"))): _*)
    val hashed = hexed.select((col("id") +:
      (0 until nH).map(i => expr(hex48(s"x$i")).as(s"v$i"))): _*)
    // one row per doc; cached because the band self-join consumes it on
    // BOTH sides — uncached, the 8-hash sha256 pass runs twice
    val minh = hashed.groupBy("id").agg(count(lit(1)).as("sz"),
      (0 until nH).map(i => min(col(s"v$i")).as(s"h$i")): _*)
      .cache()
    val banded = minh.select(col("id"), explode(array(
      (0 until numBands).map(b => struct((lit(b).as("band") +:
        (0 until rowsPerBand).map(r =>
          col(s"h${b * rowsPerBand + r}").as(s"k$r"))): _*)): _*))
      .as("bk"))
    val cand = banded.toDF("ida", "bk")
      .join(banded.toDF("idb", "bk"), Seq("bk"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
    // ground truth through the AllPairs/PPJoin prefix-filtered exact
    // join (the q_d_prefix_jaccard machinery): same shingle definition,
    // same J >= tau semantics, and high-df shingles never explode a
    // naive shared-shingle self-join (measured 21.0 s -> 8.9 s warm at
    // sf0.1). r15: the truth pass rides the audit's OWN cached shingle
    // frame instead of re-tokenizing the corpus a second time.
    val truth = DedupOps.prefixJaccardPairsFromShingles(sh,
      tauMicro.toDouble / 1e6).select("ida", "idb")
    val joined = truth.withColumn("t", lit(1L))
      .join(cand.withColumn("c", lit(1L)), Seq("ida", "idb"),
        "full_outer")
    joined.agg(
      coalesce(sum(coalesce(col("t"), lit(0L))), lit(0L)).as("n_true"),
      coalesce(sum(coalesce(col("c"), lit(0L))), lit(0L)).as("n_cand"),
      coalesce(sum(when(col("t").isNotNull && col("c").isNotNull, 1L)
        .otherwise(0L)), lit(0L)).as("tp"),
      coalesce(sum(when(col("t").isNotNull && col("c").isNull, 1L)
        .otherwise(0L)), lit(0L)).as("fn"),
      coalesce(sum(when(col("t").isNull && col("c").isNotNull, 1L)
        .otherwise(0L)), lit(0L)).as("fp"))
      .select(col("n_true"), col("n_cand"), col("tp"), col("fn"),
        col("fp"),
        when(col("n_cand") === 0, lit(null).cast("long"))
          .otherwise(expr("tp * 1000000L div n_cand"))
          .as("precision_micro"),
        when(col("n_true") === 0, lit(null).cast("long"))
          .otherwise(expr("tp * 1000000L div n_true"))
          .as("recall_micro"))
  }

  /** q_d_lsh_audit: the default (4 × 2) banding audited against exact
    * J ≥ 0.5 on the documents corpus — the measured recall/precision
    * behind the q_d_minhash_banded configuration. */
  private val dAudit = Q(
    (s, d) => bandingAudit(Tables.documents(s, d), "doc_id", "text"),
    Some {
      val hx = (0 until 8).map(i =>
        s"sha256(CAST($i AS VARCHAR) || ':' || shingle) AS x$i")
        .mkString(",\n                ")
      val mh = (0 until 8).map(i =>
        s"MIN(${hex48Duck(s"x$i")}) AS h$i")
        .mkString(",\n                ")
      val bandEq = (0 until 4).map(b =>
        s"(a.h${b * 2} = b.h${b * 2} AND a.h${b * 2 + 1} = b.h${b * 2 + 1})")
        .mkString("\n                 OR ")
      s"""WITH toks AS (SELECT doc_id,
                list_filter(string_split(lower(text), ' '), x -> x <> '')
                  AS t
              FROM documents),
            sh AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(GREATEST(len(t) - 2, 0)),
                  i -> t[CAST(i AS INT)+1] || ' ' || t[CAST(i AS INT)+2]
                       || ' ' || t[CAST(i AS INT)+3])) AS shingle
              FROM toks),
            hx AS (SELECT doc_id,
                $hx
              FROM sh),
            minh AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz,
                $mh
              FROM hx GROUP BY doc_id),
            cand AS (SELECT a.doc_id AS ida, b.doc_id AS idb
              FROM minh a JOIN minh b ON a.doc_id < b.doc_id
              WHERE $bandEq),
            truth AS (SELECT a.doc_id AS ida, b.doc_id AS idb
              FROM (SELECT s.doc_id, s.shingle, m.sz FROM sh s
                    JOIN minh m ON m.doc_id = s.doc_id) a
              JOIN (SELECT s.doc_id, s.shingle, m.sz FROM sh s
                    JOIN minh m ON m.doc_id = s.doc_id) b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2, a.sz, b.sz
              HAVING COUNT(*) * 1000000 >=
                500000 * (a.sz + b.sz - COUNT(*))),
            j AS (SELECT COALESCE(t.ida, c.ida) AS ida,
                COALESCE(t.idb, c.idb) AS idb,
                t.ida IS NOT NULL AS is_t, c.ida IS NOT NULL AS is_c
              FROM truth t FULL OUTER JOIN cand c
                ON t.ida = c.ida AND t.idb = c.idb)
            SELECT
              CAST(COALESCE(SUM(CASE WHEN is_t THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_true,
              CAST(COALESCE(SUM(CASE WHEN is_c THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_cand,
              CAST(COALESCE(SUM(CASE WHEN is_t AND is_c THEN 1 ELSE 0
                END), 0) AS BIGINT) AS tp,
              CAST(COALESCE(SUM(CASE WHEN is_t AND NOT is_c THEN 1
                ELSE 0 END), 0) AS BIGINT) AS fn,
              CAST(COALESCE(SUM(CASE WHEN NOT is_t AND is_c THEN 1
                ELSE 0 END), 0) AS BIGINT) AS fp,
              CAST(CASE WHEN COALESCE(SUM(CASE WHEN is_c THEN 1 ELSE 0
                  END), 0) = 0
                THEN NULL
                ELSE SUM(CASE WHEN is_t AND is_c THEN 1 ELSE 0 END)
                  * 1000000 // SUM(CASE WHEN is_c THEN 1 ELSE 0 END) END
                AS BIGINT) AS precision_micro,
              CAST(CASE WHEN COALESCE(SUM(CASE WHEN is_t THEN 1 ELSE 0
                  END), 0) = 0
                THEN NULL
                ELSE SUM(CASE WHEN is_t AND is_c THEN 1 ELSE 0 END)
                  * 1000000 // SUM(CASE WHEN is_t THEN 1 ELSE 0 END) END
                AS BIGINT) AS recall_micro
            FROM j"""
    })

  val queries: Map[String, Q] = Map("q_d_lsh_audit" -> dAudit)
}
