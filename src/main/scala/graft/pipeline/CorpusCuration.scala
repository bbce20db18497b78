package graft.pipeline

import graft.{Q, Tables}
import graft.dedup.{DedupOps, DupClusters}
import graft.etl.DataMix
import graft.text.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end corpus-curation capstone: the realistic LLM-training-data
  * workload that chains the individually-oracled stages into ONE dataflow —
  * canonicalize text → exact dedup → SimHash near-dup candidates →
  * edit-distance arbitration → duplicate-cluster canonicalization →
  * benchmark decontamination → quality-weighted sampling. Registering the
  * composition (q_pipeline_corpus) certifies the stages COMPOSE: id/type/
  * column contracts across stage boundaries, not just each stage alone.
  *
  * Scale: the composition adds nothing beyond its stages' own shuffles —
  * one hash aggregation + semi-join (exact dedup), the band-keyed SimHash
  * self-join, per-pair bounded Levenshtein, the log-diameter CC loop on
  * confirmed pairs only, one broadcast gram join (bench side is tiny), and
  * a pure map-side sampling filter. The exact-dedup survivor frame is the
  * one diamond (it feeds signature generation, pair texts, clustering,
  * decontamination, and quality scoring), so it is persisted; the
  * releasable variant hands the caller its release handle.
  */
object CorpusCuration {

  /** Curate `docs` against the `bench` eval suite; returns one row per
    * SURVIVING document: (idCol, n_chars_clean, cluster_size,
    * stopword_ratio). Stage parameters are the registered defaults of the
    * underlying operators. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String,
      baseRate: Double = 1.5): DataFrame =
    curateReleasable(docs, idCol, textCol, bench, benchTextCol, baseRate)._1

  /** [[curate]] with a release handle for the survivor-frame persist (the
    * [[graft.etl.GlobalIndex.withGlobalIndexReleasable]] convention). The
    * plain overload leaves the cache to the session (Verify/Bench clear per
    * query); long-lived compositions should release after consuming. */
  def curateReleasable(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String,
      baseRate: Double = 1.5): (DataFrame, () => Unit) = {
    // 1. text canonicalization (NFC + control/format strip + ws collapse).
    // Persisted (r16): the frame feeds BOTH the dedup keep-rule and the
    // survivor join — uncached, the regex-heavy clean ran twice.
    val cleaned = TextOps.cleanText(docs, idCol, textCol)
      .select(col(idCol), col("clean")).persist()
    // 2. exact dedup: smallest id per normalized content hash survives
    val keepIds = DedupOps.exactDedup(cleaned, idCol, "clean")
      .select(col("keep").as(idCol))
    // the survivor frame is the pipeline's diamond: signatures, pair
    // texts, clustering base, decontamination grams, and quality scoring
    // all read it — persist once instead of re-running the dedup shuffle
    val surv = cleaned.join(keepIds, Seq(idCol)).persist()
    // 3. near-dup candidates: banded SimHash pairs on the clean text
    val pairs = DedupOps.simhashPairs(surv, idCol, "clean")
    // 4. exactness arbitration: prefix-bounded Levenshtein per pair
    val confirmed = DedupOps.editVerify(surv, pairs, idCol, "clean")
      .filter(col("confirmed")).select("ida", "idb")
    // 5. close confirmed pairs into clusters, keep one canonical doc each.
    // Persisted (r16, guide §5): champions is itself a diamond — the
    // decontamination grams AND the post-decon corpus read it, and Spark
    // does not subtree-dedup across joins, so uncached the whole
    // simhash + editVerify + CC chain re-executed per reference
    // (the decon stage was measured re-running inside the quality/sampling
    // pass; OPTIMIZATION_r16.md, "Retired measurement tools").
    val champions = DupClusters.canonicalize(surv, confirmed, idCol, "clean")
      .filter(col("is_canonical") === 1)
      .select(col("doc_id").as(idCol), col("cluster_size"))
      .join(surv, Seq(idCol)).persist()
    // 6. benchmark decontamination: drop docs sharing a 5-gram with bench
    val decon = DedupOps.decontaminate(champions, idCol, "clean",
        bench, benchTextCol)
      .filter(!col("contaminated")).select(idCol)
    // persisted (r16): read by the quality scorer and the final sample join
    val cleanCorpus = champions.join(decon, Seq(idCol)).persist()
    // 7. quality-weighted sampling on the stopword-ratio quality score
    val quality = TextOps.qualityFeatures(cleanCorpus, idCol, "clean")
      .select(col(idCol), col("stopword_ratio"))
    val out = DataMix.weightedSample(cleanCorpus.join(quality, Seq(idCol)),
        idCol, "stopword_ratio", baseRate)
      .select(col(idCol),
        length(col("clean")).cast("long").as("n_chars_clean"),
        col("cluster_size"), col("stopword_ratio"))
    (out, () => {
      cleaned.unpersist(blocking = false)
      surv.unpersist(blocking = false)
      champions.unpersist(blocking = false)
      cleanCorpus.unpersist(blocking = false)
      ()
    })
  }

  // -- registered query -----------------------------------------------------

  /** The capstone over the documents corpus, split like q_d_decontaminate:
    * docs with doc_id % 29 == 0 play the benchmark suite, the rest are the
    * training corpus. The oracle replays EVERY stage in one DuckDB WITH
    * chain — NFC cleaning, the md5 exact-dedup keep rule, the sha256
    * SimHash signatures + 16-bit band candidate join, DuckDB's levenshtein
    * on the same 200-char prefixes, recursive-CTE transitive closure with
    * the longest-text-wins canonical rule, the distinct-5-gram
    * decontamination join, the 6dp stopword ratio, and the md5-threshold
    * keep decision. */
  private val pCorpus = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      // releasable + eager materialization (the ModelMetrics SMOTE-trim
      // convention): the survivor-diamond persist is released INSIDE the
      // query instead of leaking into the session until the next
      // clearCache; the output is per-surviving-doc (tiny), so the eager
      // localCheckpoint is cheap and the returned frame stays consumable
      // after release.
      val (out, release) = curateReleasable(
        docs.filter(pmod(col("doc_id"), lit(29)) =!= 0), "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(29)) === 0), "text")
      val mat = out.orderBy("doc_id").localCheckpoint(eager = true)
      release()
      mat
    },
    Some("""WITH RECURSIVE
        rawdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 29 <> 0),
        cleaned AS (SELECT doc_id,
            trim(regexp_replace(regexp_replace(nfc_normalize(text),
              '[\p{Cc}\p{Cf}]', ' ', 'g'), '\s+', ' ', 'g')) AS text
          FROM rawdocs),
        keepers AS (SELECT MIN(doc_id) AS doc_id FROM cleaned
          GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))),
        surv AS (SELECT c.doc_id, c.text
          FROM cleaned c JOIN keepers k ON c.doc_id = k.doc_id),
        """ + DedupOps.simhashSigCtes("surv") + """,
        p AS (SELECT a.id AS ida, b.id AS idb
          FROM sig a JOIN sig b ON a.id < b.id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
            AND ((a.simhash >> 0)  & 65535 = (b.simhash >> 0)  & 65535
              OR (a.simhash >> 16) & 65535 = (b.simhash >> 16) & 65535
              OR (a.simhash >> 32) & 65535 = (b.simhash >> 32) & 65535
              OR (a.simhash >> 48) & 65535 = (b.simhash >> 48) & 65535)),
        tt AS (SELECT doc_id, COALESCE(substr(text, 1, 200), '') AS t
          FROM surv),
        conf AS (SELECT p.ida, p.idb
          FROM p JOIN tt a ON p.ida = a.doc_id
                 JOIN tt b ON p.idb = b.doc_id
          WHERE levenshtein(a.t, b.t)
                  <= 0.2 * GREATEST(length(a.t), length(b.t))),
        e AS (SELECT ida AS a, idb AS b FROM conf
              UNION SELECT idb AS a, ida AS b FROM conf),
        reach AS (SELECT a, b FROM e
                  UNION
                  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
                  WHERE e2.b <> r.a),
        comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a),
        allc AS (SELECT s.doc_id AS id, COALESCE(c.comp, s.doc_id) AS comp,
                        CAST(length(s.text) AS BIGINT) AS len
                 FROM surv s LEFT JOIN comp c ON s.doc_id = c.id),
        canon AS (SELECT id AS doc_id, cnt AS cluster_size FROM (
            SELECT comp, id,
                   row_number() OVER (PARTITION BY comp ORDER BY len DESC, id) AS rn,
                   COUNT(*) OVER (PARTITION BY comp) AS cnt
            FROM allc) WHERE rn = 1),
        champ AS (SELECT s.doc_id, s.text, c.cluster_size
          FROM surv s JOIN canon c ON s.doc_id = c.doc_id),
        ev AS (SELECT
            list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
          FROM documents WHERE doc_id % 29 = 0),
        evg AS (SELECT DISTINCT
            unnest(list_transform(range(GREATEST(len(t) - 4, 0)),
              i -> t[CAST(i AS INT)+1] || ' ' || t[CAST(i AS INT)+2]
                || ' ' || t[CAST(i AS INT)+3] || ' ' || t[CAST(i AS INT)+4]
                || ' ' || t[CAST(i AS INT)+5])) AS g
          FROM ev),
        chtoks AS (SELECT doc_id,
            list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
          FROM champ),
        chg AS (SELECT DISTINCT doc_id,
            unnest(list_transform(range(GREATEST(len(t) - 4, 0)),
              i -> t[CAST(i AS INT)+1] || ' ' || t[CAST(i AS INT)+2]
                || ' ' || t[CAST(i AS INT)+3] || ' ' || t[CAST(i AS INT)+4]
                || ' ' || t[CAST(i AS INT)+5])) AS g
          FROM chtoks),
        contaminated AS (SELECT DISTINCT doc_id FROM chg JOIN evg USING (g)),
        decon AS (SELECT ch.doc_id, ch.text, ch.cluster_size
          FROM champ ch LEFT JOIN contaminated x ON ch.doc_id = x.doc_id
          WHERE x.doc_id IS NULL),
        qt AS (SELECT doc_id, text, cluster_size,
            ROUND(CAST(len(list_filter(
                list_filter(string_split(text, ' '), x -> x <> ''),
                x -> list_contains(['the','a','of','and','to','in','is'],
                                   lower(x)))) AS DOUBLE)
              / GREATEST(len(list_filter(string_split(text, ' '),
                                         x -> x <> '')), 1), 6)
              AS stopword_ratio
          FROM decon),
        u AS (SELECT doc_id, text, cluster_size, stopword_ratio,
            (  (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 268435456.0
             + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16777216.0
             + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 1048576.0
             + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 65536.0
             + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 4096.0
             + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 6, 1)) - 1) * 256.0
             + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 7, 1)) - 1) * 16.0
             + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 8, 1)) - 1)
            ) / 4294967296.0 AS uu
          FROM qt)
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_clean,
               cluster_size, stopword_ratio
        FROM u WHERE uu < LEAST(1.0, 1.5 * stopword_ratio)
        ORDER BY doc_id"""))

  /** Per-source "corpus card": the audit table a dataset release ships —
    * volume (docs/tokens/chars), language profile (dominant language by
    * count, ties to the lexicographically smallest), and exact-duplicate
    * mass (docs whose normalized md5 repeats within the source). Three
    * source-keyed aggregates joined on the handful-sized source key; the
    * dominant language is a per-source top-1 window over the (source,
    * lang) counts — never over rows. */
  def corpusCard(docs: DataFrame, sourceCol: String, textCol: String,
      langCol: String): DataFrame = {
    val base = docs.select(col(sourceCol).as("source"),
      col(langCol).as("lang"), col(textCol).as("text"))
    val vol = base.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(graft.text.TextOps.tokens(col("text")))).cast("long")
        .as("total_tokens"),
      sum(length(col("text"))).cast("long").as("total_chars"))
    val langCnt = base.groupBy("source", "lang").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source")
      .orderBy(col("c").desc, col("lang"))
    val topLang = langCnt.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"),
        col("c").as("top_lang_docs"))
    val dups = base
      .select(col("source"), md5(lower(col("text"))).as("h"))
      .groupBy("source", "h").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .groupBy("source").agg(sum("c").cast("long").as("dup_docs"))
    vol.join(topLang, Seq("source"))
      .join(dups, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("total_chars"), col("top_lang"), col("top_lang_docs"),
        coalesce(col("dup_docs"), lit(0L)).as("dup_docs"))
  }

  private val pCard = Q(
    (s, d) => corpusCard(graft.Tables.documents(s, d), "source", "text",
      "lang").orderBy("source"),
    Some("""WITH vol AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(len(list_filter(string_split(text, ' '),
                x -> x <> ''))) AS BIGINT) AS total_tokens,
              CAST(SUM(length(text)) AS BIGINT) AS total_chars
              FROM documents GROUP BY 1),
            lc AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
                   FROM documents GROUP BY 1, 2),
            tl AS (SELECT source, lang AS top_lang, c AS top_lang_docs,
                     row_number() OVER (PARTITION BY source
                       ORDER BY c DESC, lang) AS rn FROM lc),
            dp AS (SELECT source, CAST(SUM(c) AS BIGINT) AS dup_docs FROM
                     (SELECT source, md5(lower(text)) AS h,
                        CAST(COUNT(*) AS BIGINT) AS c
                      FROM documents GROUP BY 1, 2) g
                   WHERE c > 1 GROUP BY 1)
            SELECT v.source, v.n_docs, v.total_tokens, v.total_chars,
                   t.top_lang, t.top_lang_docs,
                   COALESCE(d.dup_docs, 0) AS dup_docs
            FROM vol v
            JOIN tl t ON t.source = v.source AND t.rn = 1
            LEFT JOIN dp d ON d.source = v.source
            ORDER BY v.source"""))

  val queries: Map[String, Q] = Map(
    "q_pipeline_corpus" -> pCorpus,
    "q_pipeline_corpus_card" -> pCard)
}
