package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language-ID heuristic, document
  * fingerprinting. All pure `functions._` expressions — whole-stage
  * codegen'd, no UDFs, scale linearly with input and never shuffle
  * (except the explicit aggregations).
  */
object TextOps {

  /** Non-empty whitespace tokens. */
  def tokens(c: Column): Column = filter(split(c, " "), t => t =!= "")

  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  /** BPE-ish pre-tokenizer count — the GPT-2-family pre-tok regex shape
    * (letter runs / digit runs / punctuation runs, each with an optional
    * leading space). The pattern avoids lookahead so the SAME string runs
    * on java.util.regex (Spark) and RE2 (DuckDB oracle). */
  val bpePattern: String = " ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"

  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(bpePattern), lit(0))).cast("long")

  /** Quality features: chars, tokens, avg token length, punctuation ratio,
    * stopword ratio, uppercase ratio (compare reference-style length/punct
    * heuristics; all single-pass scalar expressions). `toks` must be the
    * MATERIALIZED token-array column (own projection, see [[qualityFeatures]]):
    * passing `tokens(text)` directly re-splits the text once per referencing
    * output column — the [[graft.dedup.DedupOps.shingles]] pathology. */
  def qualityColumns(text: Column, toks: Column): Seq[Column] =
    Seq(
      length(text).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      round(aggregate(toks, lit(0L), (acc, t) => acc + length(t)) /
        greatest(size(toks), lit(1)).cast("double"), 6).as("avg_token_len"),
      round(length(regexp_replace(text, "[^.,!?;:]", "")) /
        greatest(length(text), lit(1)).cast("double"), 6).as("punct_ratio"),
      stopwordRatio(toks).as("stopword_ratio"),
      round(length(regexp_replace(text, "[^A-Z]", "")) /
        greatest(length(text), lit(1)).cast("double"), 6).as("upper_ratio"))

  /** Share of `toks` (a materialized token-array column, as for
    * [[qualityColumns]]) that are stopwords, rounded to 6 dp. */
  def stopwordRatio(toks: Column): Column = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    round(size(filter(toks, t => lower(t).isin(stop: _*))) /
      greatest(size(toks), lit(1)).cast("double"), 6)
  }

  /** Quality features over a document frame, tokenizing each text exactly
    * once: the token array is materialized in its own projection, which
    * survives CollapseProject as a multi-referenced non-cheap alias. */
  def qualityFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), col(textCol).as("__text"),
        tokens(col(textCol)).as("__toks"))
      .select(col(idCol) +: qualityColumns(col("__text"), col("__toks")): _*)

  /** Language-ID by profile-token hits with a fixed tie-break order —
    * the n-gram/stopword heuristic family; argmax over per-language scores.
    * `toks` must be a materialized token-array column (see [[langId]]). */
  def langIdScoreColumns(toks: Column): Seq[Column] = {
    def score(words: Seq[String]): Column =
      size(filter(toks, t => lower(t).isin(words: _*))).cast("long")
    Seq(score(Seq("the", "and", "of", "fast", "slow")).as("s_en"),
      score(Seq("spark", "shuffle", "partition", "executor", "batch")).as("s_spark"),
      score(Seq("select", "join", "query", "table", "scan")).as("s_sql"))
  }

  /** Argmax over already-computed score columns (attributes, so referencing
    * each score twice here costs nothing). */
  def langPredColumn(sEn: Column, sSpark: Column, sSql: Column): Column =
    when(sEn >= sSpark && sEn >= sSql, "en")
      .when(sSpark >= sSql, "spark").otherwise("sql").as("lang_pred")

  /** Language-ID over a document frame: tokenize once, score once, then
    * argmax over the score ATTRIBUTES — three stacked projections so neither
    * the token split nor the score filters are re-evaluated per reference. */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol) +: langIdScoreColumns(col("__toks")): _*)
      .select(col(idCol), col("s_en"), col("s_spark"), col("s_sql"),
        langPredColumn(col("s_en"), col("s_spark"), col("s_sql")))

  /** Canonical fingerprint: md5 over the sorted distinct token set — the
    * classic near-dup "fingerprint" normalization (case/order/dup-insensitive). */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ",
      array_sort(array_distinct(tokens(lower(text))))).cast("binary"))

  /** Gopher-style within-document repetition signals (Rae et al. 2021,
    * arXiv:2112.11446 Table A1): the fraction of characters covered by the
    * most frequent word 2-gram, and by ALL word 3-grams that occur more
    * than once. High values flag boilerplate / TEMPLATE text that quality
    * filters should drop before training.
    *
    * Coverage is counted per OCCURRENCE (count × gram length over the
    * space-normalized character total) — overlapping occurrences are not
    * merged, which upper-bounds Gopher's merged-span definition and keeps
    * the statistic a pure two-level aggregation.
    *
    * Scale: explode overlapping n-grams (linear in corpus tokens), count by
    * (doc, gram) — the shuffle key — then reduce per doc; the per-doc
    * argmax is a window partitioned by doc id. Nothing is cross-document. */
  def repetitionFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    repetitionFeaturesReleasable(df, idCol, textCol)._1

  /** [[repetitionFeatures]] with a release handle for its internal persist
    * (the [[graft.etl.GlobalIndex.withGlobalIndexReleasable]] convention) —
    * call the handle once the result is consumed. The plain overload leaves
    * the cache to the session (Verify/Bench clear per query); long-lived
    * compositions should release explicitly. */
  def repetitionFeaturesReleasable(df: DataFrame, idCol: String,
      textCol: String): (DataFrame, () => Unit) = {
    val t = col("__toks")
    def grams(n: Int): Column =
      when(size(t) >= n,
        transform(sequence(lit(0), size(t) - n),
          i => concat_ws(" ", slice(t, i + 1, lit(n)))))
        .otherwise(array().cast("array<string>"))
    val base = df.select(col(idCol).cast("long").as("id"),
        tokens(lower(col(textCol))).as("__toks"))
      .select(col("id"),
        length(concat_ws(" ", t)).cast("long").as("char_total"),
        grams(2).as("g2"), grams(3).as("g3"))
      .cache() // feeds both n-gram branches
    val c2 = base.select(col("id"), col("char_total"), explode(col("g2")).as("g"))
      .groupBy("id", "char_total", "g").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("cnt").desc, col("g"))
    val top2 = c2.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("id"), col("g").as("top_bigram"),
        round(col("cnt") * length(col("g")) /
          greatest(col("char_total"), lit(1L)).cast("double"), 6)
          .as("top_bigram_ratio"))
    val dup3 = base.select(col("id"), col("char_total"), explode(col("g3")).as("g"))
      .groupBy("id", "char_total", "g").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .groupBy("id", "char_total")
      .agg(sum(col("cnt") * length(col("g"))).as("dup_chars"))
      .select(col("id"),
        round(col("dup_chars") /
          greatest(col("char_total"), lit(1L)).cast("double"), 6)
          .as("dup_trigram_ratio"))
    val out = base.select("id")
      .join(top2, Seq("id"), "left").join(dup3, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("top_bigram"), lit("")).as("top_bigram"),
        coalesce(col("top_bigram_ratio"), lit(0.0)).as("top_bigram_ratio"),
        coalesce(col("dup_trigram_ratio"), lit(0.0)).as("dup_trigram_ratio"))
    (out, () => { base.unpersist(blocking = false); () })
  }

  /** Overlapping fixed-size token chunking — the preprocessing step before
    * chunk-level embedding (whose inverse, chunk→doc pooling, is
    * [[graft.sim.SimilarityOps.meanPool]]): windows of `chunkTokens` tokens
    * starting every `stride` tokens, so consecutive chunks overlap by
    * `chunkTokens - stride`. The trailing window is kept iff it adds tokens
    * (start < n), shorter than `chunkTokens` when the doc doesn't divide
    * evenly. Map-only: one generator per doc, no shuffle. */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 40, stride: Int = 30): DataFrame = {
    require(stride >= 1 && chunkTokens >= stride,
      "need 1 <= stride <= chunkTokens")
    val t = col("__toks")
    df.select(col(idCol).cast("long").as(idCol),
        tokens(col(textCol)).as("__toks"))
      .select(col(idCol), posexplode(
        when(size(t) > 0,
          // window starts at 0, stride, 2·stride, … while start < n
          // ⇒ exactly ceil(n / stride) chunks, each non-empty
          transform(
            sequence(lit(0),
              ceil(size(t).cast("double") / stride).cast("int") - 1),
            i => slice(t, i * stride + 1, lit(chunkTokens))))
          .otherwise(array().cast("array<array<string>>")))
        .as(Seq("chunk_id", "chunk")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        concat_ws(" ", col("chunk")).as("chunk_text"),
        size(col("chunk")).cast("long").as("n_tokens"))
  }

  /** Sequence packing (pack-and-chop): lay the corpus out as ONE token
    * stream in `idCol` order and cut it into fixed `budget`-token training
    * sequences — the GPT-style pretraining batch layout (concatenate +
    * chop at the sequence boundary; docs straddling a cut are split, no
    * padding waste). Per doc: its BPE-ish token count, its start offset in
    * the stream, and the first/last bin (= training sequence) it lands in.
    * Zero-token docs occupy no space and ride along in the bin at their
    * offset.
    *
    * Scale: token counting is map-only; the only distributed primitive is
    * the global EXCLUSIVE prefix sum, which runs as
    * [[graft.etl.GlobalIndex.withGlobalCumsumReleasable]]'s two-pass
    * range-partition scheme — NO single-partition window anywhere. Bin
    * arithmetic is scalar expressions on the offset. */
  def packSequencesReleasable(docs: DataFrame, idCol: String,
      textCol: String, budget: Long): (DataFrame, () => Unit) =
    packCountedReleasable(docs.select(col(idCol),
      coalesce(bpeTokenCount(col(textCol)), lit(0L)).as("n_tokens")),
      idCol, budget)

  /** [[packSequencesReleasable]] over a PRECOMPUTED `(idCol, n_tokens,
    * …)` frame — any extra columns ride through to the output. This is
    * the composition surface for callers that bring REAL tokenizer
    * counts ([[graft.text.BpeMerge.encodeCorpus]]) instead of the regex
    * estimate. */
  def packCountedReleasable(counted: DataFrame, idCol: String,
      budget: Long): (DataFrame, () => Unit) =
    packCountedOrderedReleasable(counted, Seq(col(idCol)), budget)

  /** [[packCountedReleasable]] with an explicit layout ORDER (must be
    * total, the GlobalIndex convention) — the curriculum surface: packing
    * in (difficulty, id) order lays the token stream out so early
    * training sequences hold easy documents (e.g. short-to-long length
    * curriculum, ascending-perplexity CCNet ordering). Same two-pass
    * range-partitioned prefix sum; only the order differs. */
  def packCountedOrderedReleasable(counted: DataFrame,
      order: Seq[org.apache.spark.sql.Column], budget: Long)
      : (DataFrame, () => Unit) = {
    require(budget > 0, "budget must be positive")
    val (cum, release) = graft.etl.GlobalIndex.withGlobalCumsumReleasable(
      counted, order, col("n_tokens"), "start_tok")
    // last occupied offset: start + max(n,1) − 1 (the max keeps empty
    // docs single-bin without claiming a token)
    val lastTok = col("start_tok") + greatest(col("n_tokens"), lit(1L)) - 1
    val out = cum.withColumn("__last", lastTok)
      .withColumn("bin_first", expr(s"start_tok div $budget"))
      .withColumn("bin_last", expr(s"__last div $budget"))
      .withColumn("n_segments", col("bin_last") - col("bin_first") + 1)
      .drop("__last")
    (out, release)
  }

  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      budget: Long): DataFrame =
    packSequencesReleasable(docs, idCol, textCol, budget)._1

  /** GROUP-AWARE sequence packing: each group (domain / source /
    * curriculum phase) is laid out as its OWN token stream and chopped
    * into per-group `budget`-token sequences, so no training sequence
    * ever mixes groups — the domain-separated batch layout.
    *
    * Scale: still exactly ONE distributed prefix sum — the global
    * exclusive cumsum over the (group, id) total order — plus one
    * per-group aggregation: a group's first doc's global offset IS the
    * group's base (min over the group), and subtracting it rebases every
    * doc into its group's stream. No per-group window over the corpus,
    * no skew on big groups (the range partitioner splits them). Output
    * adds `start_tok` (offset within the group's stream) and per-group
    * bin ids. */
  def packGroupedReleasable(counted: DataFrame, idCol: String,
      groupCol: String, budget: Long): (DataFrame, () => Unit) = {
    require(budget > 0, "budget must be positive")
    val (cum, release) = graft.etl.GlobalIndex.withGlobalCumsumReleasable(
      counted, Seq(col(groupCol), col(idCol)), col("n_tokens"), "__gcum")
    val base = cum.groupBy(groupCol).agg(min("__gcum").as("__base"))
    val out = cum.join(base, Seq(groupCol))
      .withColumn("start_tok", col("__gcum") - col("__base"))
      .withColumn("__last",
        col("start_tok") + greatest(col("n_tokens"), lit(1L)) - 1)
      .withColumn("bin_first", expr(s"start_tok div $budget"))
      .withColumn("bin_last", expr(s"__last div $budget"))
      .withColumn("n_segments", col("bin_last") - col("bin_first") + 1)
      .drop("__gcum", "__base", "__last")
    (out, release)
  }

  /** Per-document top-k TF-IDF terms — the classic keyword-extraction /
    * salient-term pass a curation pipeline runs for topic tagging.
    * tf = term count in doc; idf = ln(N / df) with df = #docs containing
    * the term and N = #docs with ≥ 1 token (no smoothing — every scored
    * term has df ≥ 1 by construction).
    *
    * Scale: two aggregations on natural keys — (doc, term) counts, then
    * term → df — joined back on term (the df table is vocabulary-sized;
    * at corpus scale this join stays a shuffle join on the term key, or a
    * broadcast when the vocabulary is trimmed). The per-doc top-k is a
    * window partitioned by doc id. */
  /** [[tfidfTopTerms]] with a release handle for its internal persist —
    * call the handle once the result is consumed (the
    * [[graft.etl.GlobalIndex.withGlobalIndexReleasable]] convention).
    * The plain overload leaves the cache to the session; Verify and Bench
    * clear it per query, but long-lived sessions composing many operators
    * should prefer this variant. */
  def tfidfTopTermsReleasable(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): (DataFrame, () => Unit) = {
    // tf feeds THREE consumers (the doc count N, the df/idf aggregation,
    // and the scoring join). Catalyst specializes each branch (count
    // elision, column pruning), so exchange reuse can never unify them —
    // the one-scan plan needs the diamond materialized explicitly. tf is
    // the right frame to persist: already aggregated, carries no document
    // text, and is the input every later step re-reads. MEMORY_AND_DISK so
    // a 100 TB corpus spills instead of evicting mid-job.
    val tf = df.select(col(idCol).cast("long").as("id"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // N derived INSIDE the plan (not a separate df.count() action — that
    // was a second pass over the corpus/upstream): a 1-row aggregation over
    // the persisted tf frame, broadcast-cross-joined into the
    // vocabulary-sized idf frame — one corpus scan, one job. N therefore
    // counts documents with ≥ 1 token; tokenless docs carry no scorable
    // term anyway, so they only ever appeared in the old N as an idf offset.
    val nDf = tf.groupBy()
      .agg(countDistinct("id").cast("double").as("__n"))
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDf))
      .withColumn("idf", log(col("__n") / col("df")))
      .drop("__n")
    // rank by the UNROUNDED product — ordering by the 6dp-rounded score can
    // tie terms the true values separate, flipping the k-boundary term
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy((col("tf") * col("idf")).desc, col("term"))
    val out = tf.join(idf, "term")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .withColumn("tfidf", round(col("tf") * col("idf"), 6))
      .select(col("id").as(idCol), col("rank").cast("long").as("rank"),
        col("term"), col("tf"), col("df"), col("tfidf"))
    (out, () => { tf.unpersist(blocking = false); () })
  }

  /** Plain overload: DELIBERATELY leaves the tf cache to the session
    * (the persist must outlive this lazy result, so a handle-free API
    * cannot release it). Right for per-query sessions that clear caches
    * (Verify/Bench do); long-lived compositions should call
    * [[tfidfTopTermsReleasable]] and release after consuming. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame =
    tfidfTopTermsReleasable(df, idCol, textCol, k)._1

  /** Text canonicalization (the ftfy-lite pass a scrape runs before any
    * hashing or tokenizing): Unicode NFC (via the codegen'd
    * [[graft.functions.NfcNormalize]] expression — decomposed accents and
    * compatibility forms otherwise defeat exact-dedup hashes), control and
    * format characters replaced with spaces (replacement, not deletion, so
    * "a\nb" keeps its word boundary), whitespace runs collapsed, ends
    * trimmed. Map-only, no shuffle; the category classes are the
    * RE2-compatible subset so the whole pass replays in DuckDB. */
  def cleanText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), col(textCol),
        trim(regexp_replace(
          regexp_replace(graft.functions.NfcNormalize.nfc(col(textCol)),
            "[\\p{Cc}\\p{Cf}]", " "),
          "\\s+", " ")).as("clean"))
      .select(col(idCol), col("clean"),
        length(col(textCol)).cast("long").as("n_chars_raw"),
        length(col("clean")).cast("long").as("n_chars_clean"))

  /** PII patterns for [[piiRedact]]. Deliberately lookahead-free and
    * backreference-free so the SAME pattern strings run on java.util.regex
    * (Spark) and RE2 (DuckDB oracle) with identical match sets. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII scrubbing — the redaction pass a training-data pipeline runs
    * before anything leaves curation: emails, NANP-style phone numbers, and
    * IPv4 literals are counted (on the ORIGINAL text) and replaced with
    * typed placeholder tags, in that fixed order. Pure codegen'd
    * expressions, map-only, no shuffle; patterns are the RE2-compatible
    * subset so the whole operator replays in the oracle. */
  def piiRedact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), col(textCol),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0)))
        .cast("long").as("n_phones"),
      size(regexp_extract_all(col(textCol), lit(Ipv4Re), lit(0)))
        .cast("long").as("n_ips"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"),
        Ipv4Re, "<IP>").as("redacted"))
      .drop(textCol)

  /** Markup patterns for [[htmlStrip]] — lookahead-free and
    * backreference-free so java.util.regex (Spark) and RE2 (DuckDB
    * oracle) produce identical match sets. */
  val TagRe = "<[^>]*>"
  val EntityRe = "&(amp|lt|gt|quot|#39|nbsp);"

  /** HTML/markup stripping — the extraction-cleanup stage a web-corpus
    * pipeline runs before any text analysis: tags are counted (on the
    * ORIGINAL text) and replaced with a space (so `a<br>b` does not glue
    * to `ab`), the six ubiquitous entities are decoded exactly once
    * (`&amp;` LAST — decoding it first would double-decode `&amp;lt;`
    * into `<`), then whitespace collapses and trims. Pure codegen'd
    * regexp expressions, map-only, no shuffle; RE2-compatible so the
    * whole operator replays in the oracle. */
  def htmlStrip(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(regexp_replace(t, TagRe, " ")) {
        case (acc, (e, r)) => regexp_replace(acc, e, r)
      }
    df.select(col(idCol),
      size(regexp_extract_all(t, lit(TagRe), lit(0)))
        .cast("long").as("n_tags"),
      size(regexp_extract_all(t, lit(EntityRe), lit(0)))
        .cast("long").as("n_entities"),
      trim(regexp_replace(decoded, "\\s+", " ")).as("clean_text"))
  }

  // -- registered queries -------------------------------------------------

  private val tTokens = Q(
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
            CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
              AS n_tokens,
            CAST(len(regexp_extract_all(text,
              ' ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')) AS BIGINT)
              AS n_bpe_tokens,
            CAST(length(text) AS BIGINT) AS n_chars
            FROM documents ORDER BY doc_id"""))

  private val tQuality = Q(
    (s, d) => qualityFeatures(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, text,
              list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents)
            SELECT doc_id,
              CAST(length(text) AS BIGINT) AS n_chars,
              CAST(len(toks) AS BIGINT) AS n_tokens,
              ROUND(CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
                  AS DOUBLE)
                / GREATEST(len(toks), 1), 6) AS avg_token_len,
              ROUND(CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
                / GREATEST(length(text), 1), 6) AS punct_ratio,
              ROUND(CAST(len(list_filter(toks, x -> list_contains(
                  ['the','a','of','and','to','in','is'], lower(x)))) AS DOUBLE)
                / GREATEST(len(toks), 1), 6) AS stopword_ratio,
              ROUND(CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
                / GREATEST(length(text), 1), 6) AS upper_ratio
            FROM t ORDER BY doc_id"""))

  /** Character-entropy quality gate via the codegen'd [[CharEntropy]]
    * expression (map-only; the oracle is the explode→group formulation this
    * expression exists to avoid). The gate brackets prose: padding/repeated
    * filler scores near 0 bits, encoded noise well above 5.5. The flag is
    * derived from the ROUNDED value so both engines branch on identical
    * inputs. */
  private val tEntropy = Q(
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        round(graft.functions.CharEntropy.charEntropy(col("text")), 6)
          .as("h_char"))
      .withColumn("entropy_ok",
        col("h_char") >= 2.0 && col("h_char") <= 5.5)
      .orderBy("doc_id"),
    Some("""WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
              FROM documents),
            h AS (SELECT doc_id, ROUND(entropy(ch), 6) AS h_char
              FROM c GROUP BY 1)
            SELECT doc_id, h_char,
                   h_char >= 2.0 AND h_char <= 5.5 AS entropy_ok
            FROM h ORDER BY doc_id"""))

  /** Per-source percentile-rank normalization of a quality signal —
    * quality scores are only comparable WITHIN a source (books score high
    * on stopword density, code low), so cross-source selection normalizes
    * each doc to its source-relative rank first (the CCNet/DSIR mixing
    * preprocessing step). pct = (r−1)/(n−1) over the (score, id) total
    * order; singleton sources pin 0.5. Integer rank and count reach the
    * division, so both engines divide identical values.
    *
    * One keyed window per source + a broadcast of per-source counts —
    * the [[graft.etl.DataMix.stratifiedSplit]] shape. */
  def qualityPercentileBySource(df: DataFrame, idCol: String,
      textCol: String, sourceCol: String): DataFrame = {
    val scored = df.select(col(idCol), col(sourceCol),
        col(textCol).as("__text"), tokens(col(textCol)).as("__toks"))
      .withColumn("score", round(
        size(filter(col("__toks"), t => lower(t).isin(
          "the", "a", "of", "and", "to", "in", "is"))).cast("double") /
          greatest(size(col("__toks")), lit(1)), 6))
      .drop("__text", "__toks")
    val w = Window.partitionBy(sourceCol).orderBy(col("score"), col(idCol))
    val counts = df.groupBy(sourceCol).agg(count(lit(1)).as("__n"))
    scored
      .withColumn("__r", row_number().over(w).cast("long"))
      .join(broadcast(counts), Seq(sourceCol))
      .withColumn("pct", when(col("__n") === 1, 0.5)
        .otherwise(round((col("__r") - 1) / (col("__n") - 1), 6)))
      .drop("__r", "__n")
  }

  private val tQualityNorm = Q(
    (s, d) => qualityPercentileBySource(Tables.documents(s, d), "doc_id",
      "text", "source").orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, source,
              list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents),
            sc AS (SELECT doc_id, source,
              ROUND(CAST(len(list_filter(toks, x -> list_contains(
                  ['the','a','of','and','to','in','is'], lower(x)))) AS DOUBLE)
                / GREATEST(len(toks), 1), 6) AS score
              FROM t),
            r AS (SELECT doc_id, source, score, row_number() OVER
                    (PARTITION BY source ORDER BY score, doc_id) AS r
                  FROM sc),
            n AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1)
            SELECT r.doc_id, r.source, r.score,
              CASE WHEN n.n = 1 THEN 0.5
                   ELSE ROUND(CAST(r.r - 1 AS DOUBLE) / (n.n - 1), 6)
              END AS pct
            FROM r JOIN n ON r.source = n.source
            ORDER BY r.doc_id"""))

  /** Boilerplate detector: the most frequent word 5-grams per source with
    * occurrence and document counts — repeated headers, navigation chrome,
    * license blurbs surface at the top. (source, gram) counts with
    * map-side combine bound the exchange by distinct grams; the top-k is
    * a keyed window over COUNT rows, never documents. Deterministic ties:
    * (count desc, gram asc). */
  def topGramsBySource(df: DataFrame, sourceCol: String, textCol: String,
      k: Int = 5, n: Int = 5): DataFrame = {
    val t = col("__toks")
    val grams = df
      .select(col(sourceCol).as("source"), col("doc_id"),
        tokens(lower(col(textCol))).as("__toks"))
      .select(col("source"), col("doc_id"), explode(
        when(size(t) >= n,
          transform(sequence(lit(0), size(t) - n),
            i => concat_ws(" ", slice(t, i + 1, lit(n)))))
          .otherwise(array().cast("array<string>"))).as("gram"))
    val counts = grams.groupBy("source", "gram")
      .agg(count(lit(1)).as("n_occ"), countDistinct("doc_id").as("n_docs"))
    val w = Window.partitionBy("source")
      .orderBy(col("n_occ").desc, col("gram"))
    counts.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("source", "rank", "gram", "n_occ", "n_docs")
  }

  private val tBoilerplate = Q(
    (s, d) => topGramsBySource(Tables.documents(s, d), "source", "text")
      .orderBy("source", "rank"),
    Some("""WITH toks AS (SELECT source, doc_id,
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents),
            g AS (SELECT source, doc_id,
                unnest(list_transform(range(GREATEST(len(t) - 4, 0)),
                  i -> t[CAST(i AS INT)+1] || ' ' || t[CAST(i AS INT)+2]
                    || ' ' || t[CAST(i AS INT)+3] || ' ' || t[CAST(i AS INT)+4]
                    || ' ' || t[CAST(i AS INT)+5])) AS gram
              FROM toks),
            c AS (SELECT source, gram, CAST(COUNT(*) AS BIGINT) AS n_occ,
                CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
              FROM g GROUP BY 1, 2),
            r AS (SELECT source, gram, n_occ, n_docs,
                CAST(row_number() OVER (PARTITION BY source
                  ORDER BY n_occ DESC, gram) AS INT) AS rank FROM c)
            SELECT source, rank, gram, n_occ, n_docs
            FROM r WHERE rank <= 5 ORDER BY source, rank"""))

  private val tLangId = Q(
    (s, d) => langId(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id,
              list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents),
            sc AS (SELECT doc_id,
              CAST(len(list_filter(toks, x -> list_contains(
                ['the','and','of','fast','slow'], lower(x)))) AS BIGINT) AS s_en,
              CAST(len(list_filter(toks, x -> list_contains(
                ['spark','shuffle','partition','executor','batch'], lower(x)))) AS BIGINT) AS s_spark,
              CAST(len(list_filter(toks, x -> list_contains(
                ['select','join','query','table','scan'], lower(x)))) AS BIGINT) AS s_sql
              FROM t)
            SELECT doc_id, s_en, s_spark, s_sql,
              CASE WHEN s_en >= s_spark AND s_en >= s_sql THEN 'en'
                   WHEN s_spark >= s_sql THEN 'spark' ELSE 'sql' END AS lang_pred
            FROM sc ORDER BY doc_id"""))

  private val tFingerprint = Q(
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
            md5(array_to_string(list_sort(list_distinct(
              list_filter(string_split(lower(text), ' '), x -> x <> ''))), ' ')) AS fp
            FROM documents ORDER BY doc_id"""))

  private val tRepetition = Q(
    (s, d) => repetitionFeatures(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id,
              list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
              FROM documents),
            base AS (SELECT doc_id,
                CAST(length(array_to_string(toks, ' ')) AS BIGINT) AS char_total,
                toks FROM t),
            g2 AS (SELECT doc_id, char_total,
                unnest(list_transform(range(GREATEST(len(toks) - 1, 0)),
                  i -> toks[CAST(i AS INT)+1] || ' ' || toks[CAST(i AS INT)+2])) AS g
              FROM base),
            c2 AS (SELECT doc_id, char_total, g, COUNT(*) AS cnt
              FROM g2 GROUP BY 1,2,3),
            top2 AS (SELECT doc_id, g AS top_bigram,
                ROUND(cnt * length(g) / CAST(GREATEST(char_total, 1) AS DOUBLE), 6)
                  AS top_bigram_ratio
              FROM (SELECT *, row_number() OVER
                      (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn FROM c2)
              WHERE rn = 1),
            g3 AS (SELECT doc_id, char_total,
                unnest(list_transform(range(GREATEST(len(toks) - 2, 0)),
                  i -> toks[CAST(i AS INT)+1] || ' ' || toks[CAST(i AS INT)+2]
                       || ' ' || toks[CAST(i AS INT)+3])) AS g
              FROM base),
            c3 AS (SELECT doc_id, char_total, g, COUNT(*) AS cnt
              FROM g3 GROUP BY 1,2,3),
            dup3 AS (SELECT doc_id,
                ROUND(SUM(cnt * length(g)) / CAST(GREATEST(char_total, 1) AS DOUBLE), 6)
                  AS dup_trigram_ratio
              FROM c3 WHERE cnt >= 2 GROUP BY doc_id, char_total)
            SELECT b.doc_id,
                   COALESCE(top_bigram, '') AS top_bigram,
                   COALESCE(top_bigram_ratio, 0.0) AS top_bigram_ratio,
                   COALESCE(dup_trigram_ratio, 0.0) AS dup_trigram_ratio
            FROM base b
            LEFT JOIN top2 ON b.doc_id = top2.doc_id
            LEFT JOIN dup3 ON b.doc_id = dup3.doc_id
            ORDER BY b.doc_id"""))

  private val tChunk = Q(
    (s, d) => chunkDocs(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id", "chunk_id"),
    Some("""WITH t AS (SELECT doc_id,
              list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents),
            c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
                toks[CAST(i*30+1 AS INT):CAST(i*30+40 AS INT)] AS chunk
              FROM t, LATERAL (SELECT unnest(range(0,
                CAST(ceil(len(toks)/30.0) AS BIGINT))) AS i) ii)
            SELECT doc_id, chunk_id,
                   array_to_string(chunk, ' ') AS chunk_text,
                   CAST(len(chunk) AS BIGINT) AS n_tokens
            FROM c ORDER BY doc_id, chunk_id"""))

  private val tTfidf = Q(
    (s, d) => tfidfTopTerms(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id", "rank"),
    Some("""WITH tf AS (SELECT doc_id AS id, t.term, COUNT(*) AS tf
              FROM (SELECT doc_id, unnest(list_filter(
                      string_split(lower(text), ' '), x -> x <> '')) AS term
                    FROM documents) t
              GROUP BY 1, 2),
            nn AS (SELECT COUNT(DISTINCT id) AS n FROM tf),
            idf AS (SELECT term, COUNT(*) AS df,
                     ln((SELECT CAST(n AS DOUBLE) FROM nn) / COUNT(*)) AS idf
                    FROM tf GROUP BY term),
            scored AS (SELECT tf.id, tf.term, tf.tf, idf.df,
                        ROUND(tf.tf * idf.idf, 6) AS tfidf,
                        row_number() OVER (PARTITION BY tf.id
                          ORDER BY tf.tf * idf.idf DESC, tf.term) AS rank
                       FROM tf JOIN idf ON tf.term = idf.term)
            SELECT id AS doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, tfidf
            FROM scored WHERE rank <= 3
            ORDER BY doc_id, rank"""))

  /** PII redaction over planted positives: the corpus text carries no PII,
    * so each doc gets a deterministic email, phone, and IPv4 literal
    * appended (closed-form from doc_id, built identically in both engines)
    * and the query hashes the counted-and-redacted output — a pattern or
    * replacement-order regression breaks the hash. */
  private val tPii = Q(
    (s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" reach u"), col("doc_id").cast("string"),
          lit("@mail.example.org call 555-010-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" ip 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit("."), pmod(col("doc_id"), lit(200)).cast("string")).as("text"))
      piiRedact(planted, "doc_id", "text").orderBy("doc_id")
    },
    Some(s"""WITH p AS (SELECT doc_id,
              text || ' reach u' || CAST(doc_id AS VARCHAR)
                || '@mail.example.org call 555-010-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                || '.' || CAST(doc_id % 200 AS VARCHAR) AS text
              FROM documents)
            SELECT doc_id,
              CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT)
                AS n_emails,
              CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT)
                AS n_phones,
              CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT)
                AS n_ips,
              regexp_replace(regexp_replace(regexp_replace(text,
                '$EmailRe', '<EMAIL>', 'g'),
                '$PhoneRe', '<PHONE>', 'g'),
                '$Ipv4Re', '<IP>', 'g') AS redacted
            FROM p ORDER BY doc_id"""))

  /** Canonicalization over planted mess: each doc gets a decomposed accent
    * (e + U+0301), a control char, a format char (ZWSP), and ragged
    * whitespace appended — built from identical literals in both engines —
    * and the query hashes the cleaned text plus before/after lengths. NFC
    * parity comes from DuckDB's nfc_normalize implementing the same
    * Unicode normalization the JDK Normalizer does. */
  private val tClean = Q(
    (s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        // decomposed accent + BEL + zero-width space + tab + ragged
        // spaces, written as escapes so the mess is visible in review
        concat(col("text"),
          lit(" cafe\u0301  \u0007del\u200Bzw\ttab  ")).as("text"))
      cleanText(planted, "doc_id", "text").orderBy("doc_id")
    },
    Some("""WITH p AS (SELECT doc_id,
              text || ' caf' || 'e' || chr(769) || '  ' || chr(7)
                   || 'del' || chr(8203) || 'zw' || chr(9) || 'tab  ' AS text
              FROM documents)
            SELECT doc_id,
              trim(regexp_replace(regexp_replace(nfc_normalize(text),
                '[\p{Cc}\p{Cf}]', ' ', 'g'), '\s+', ' ', 'g')) AS clean,
              CAST(length(text) AS BIGINT) AS n_chars_raw,
              CAST(length(trim(regexp_replace(regexp_replace(nfc_normalize(text),
                '[\p{Cc}\p{Cf}]', ' ', 'g'), '\s+', ' ', 'g'))) AS BIGINT)
                AS n_chars_clean
            FROM p ORDER BY doc_id"""))

  /** Packing at a 512-token budget in doc-id order. DuckDB replays the
    * same BPE-ish count, the exclusive running sum (cast to BIGINT —
    * DuckDB SUMs into HUGEINT), and the floor-div bin cuts. */
  private val tPack = Q(
    (s, d) => packSequences(Tables.documents(s, d), "doc_id", "text", 512L)
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id,
              CAST(len(regexp_extract_all(text,
                ' ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')) AS BIGINT)
                AS n_tokens
              FROM documents),
            c AS (SELECT doc_id, n_tokens,
              CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS start_tok
              FROM t)
            SELECT doc_id, n_tokens, start_tok,
              CAST(start_tok // 512 AS BIGINT) AS bin_first,
              CAST((start_tok + GREATEST(n_tokens, 1) - 1) // 512 AS BIGINT)
                AS bin_last,
              CAST((start_tok + GREATEST(n_tokens, 1) - 1) // 512
                - start_tok // 512 + 1 AS BIGINT) AS n_segments
            FROM c ORDER BY doc_id"""))

  /** Short-to-long length-curriculum packing: same pack-and-chop, laid
    * out in (n_tokens asc, doc_id) order so the earliest sequences hold
    * the shortest documents. */
  private val tPackCurriculum = Q(
    (s, d) => {
      val counted = Tables.documents(s, d).select(col("doc_id"),
        coalesce(bpeTokenCount(col("text")), lit(0L)).as("n_tokens"))
      val (out, release) = packCountedOrderedReleasable(
        counted, Seq(col("n_tokens"), col("doc_id")), 512L)
      val mat = out.orderBy("doc_id").localCheckpoint(eager = true)
      release()
      mat
    },
    Some("""WITH t AS (SELECT doc_id,
              CAST(len(regexp_extract_all(text,
                ' ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')) AS BIGINT)
                AS n_tokens
              FROM documents),
            c AS (SELECT doc_id, n_tokens,
              CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY n_tokens, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS start_tok
              FROM t)
            SELECT doc_id, n_tokens, start_tok,
              CAST(start_tok // 512 AS BIGINT) AS bin_first,
              CAST((start_tok + GREATEST(n_tokens, 1) - 1) // 512 AS BIGINT)
                AS bin_last,
              CAST((start_tok + GREATEST(n_tokens, 1) - 1) // 512
                - start_tok // 512 + 1 AS BIGINT) AS n_segments
            FROM c ORDER BY doc_id"""))

  /** Domain-separated packing over the documents corpus: per-source
    * streams, 512-token sequences. The oracle replays the rebase with a
    * plain per-group window (replay-side luxury; the Spark side uses one
    * global cumsum + a per-group min, the corpus-scale shape). */
  private val tPackGrouped = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      val counted = docs.select(col("doc_id"), col("source"),
        coalesce(bpeTokenCount(col("text")), lit(0L)).as("n_tokens"))
      val (out, release) = packGroupedReleasable(
        counted, "doc_id", "source", 512L)
      val mat = out.orderBy("doc_id").localCheckpoint(eager = true)
      release()
      mat
    },
    Some("""WITH t AS (SELECT doc_id, source,
              CAST(len(regexp_extract_all(text,
                ' ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')) AS BIGINT)
                AS n_tokens
              FROM documents),
            c AS (SELECT doc_id, source, n_tokens,
              CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
                ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS start_tok
              FROM t)
            SELECT doc_id, source, n_tokens, start_tok,
              CAST(start_tok // 512 AS BIGINT) AS bin_first,
              CAST((start_tok + GREATEST(n_tokens, 1) - 1) // 512 AS BIGINT)
                AS bin_last,
              CAST((start_tok + GREATEST(n_tokens, 1) - 1) // 512
                - start_tok // 512 + 1 AS BIGINT) AS n_segments
            FROM c ORDER BY doc_id"""))

  /** Markup stripping over planted positives (the q_t_pii_redact
    * convention): the corpus text carries no markup, so each doc is
    * wrapped in a deterministic tag/entity scaffold built from doc_id
    * and the query hashes the counted-and-stripped output — a pattern,
    * decode-order, or whitespace regression breaks the hash. */
  private val tHtmlStrip = Q(
    (s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("<div class=\"d"), col("doc_id").cast("string"),
          lit("\"><p>"), col("text"),
          lit("</p><br/>&amp;copy &lt;x&gt; &quot;q&#39;s&quot;&nbsp;end</div>"))
          .as("text"))
      htmlStrip(planted, "doc_id", "text").orderBy("doc_id")
    },
    Some("""WITH p AS (SELECT doc_id,
              '<div class="d' || CAST(doc_id AS VARCHAR) || '"><p>' || text
                || '</p><br/>&amp;copy &lt;x&gt; &quot;q&#39;s&quot;&nbsp;end</div>'
                AS text
              FROM documents)
            SELECT doc_id,
              CAST(len(regexp_extract_all(text, '<[^>]*>')) AS BIGINT)
                AS n_tags,
              CAST(len(regexp_extract_all(text,
                '&(amp|lt|gt|quot|#39|nbsp);')) AS BIGINT) AS n_entities,
              trim(regexp_replace(
                regexp_replace(
                regexp_replace(
                regexp_replace(
                regexp_replace(
                regexp_replace(
                regexp_replace(
                  regexp_replace(text, '<[^>]*>', ' ', 'g'),
                  '&lt;', '<', 'g'),
                  '&gt;', '>', 'g'),
                  '&quot;', '"', 'g'),
                  '&#39;', '''', 'g'),
                  '&nbsp;', ' ', 'g'),
                  '&amp;', '&', 'g'),
                '\s+', ' ', 'g')) AS clean_text
            FROM p ORDER BY doc_id"""))

  /** Gopher-style rule filter (Rae et al. 2021, arXiv:2112.11446 §A1.1 —
    * the RedPajama/Dolma "rule gate" that precedes model-based quality
    * scoring): a fixed battery of cheap document heuristics, each a named
    * boolean, with keep = AND of all. Rules and their integer forms (every
    * ratio threshold is cross-multiplied so the whole gate is integer
    * arithmetic — no float compare anywhere, bit-identical in any engine):
    *
    *   r_wc    word count within [minWords, maxWords]
    *   r_mwl   mean word length in [3.5, 5] → 2·len_sum ≥ 7·n ∧ len_sum ≤ 5·n
    *   r_alpha ≥ 80% of words contain an alphabetic char → 5·n_alpha ≥ 4·n
    *   r_sym   symbol-to-word ratio ('#' and '…'/'...') ≤ 0.1 → 10·sym ≤ n
    *   r_stop  ≥ 2 stopword hits
    *
    * Scale: pure map-side — one token split feeding all counters (the
    * materialized-array discipline of [[qualityColumns]]), then scalar
    * integer tests; composes into the scan stage, no shuffle, no UDF. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 20, maxWords: Int = 80): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    df.select(col(idCol), col(textCol).as("__text"),
        tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_words"),
        aggregate(col("__toks"), lit(0L), (acc, t) => acc + length(t))
          .as("len_sum"),
        size(filter(col("__toks"), t => t.rlike("[A-Za-z]"))).cast("long")
          .as("n_alpha"),
        (length(col("__text")) - length(regexp_replace(col("__text"),
          "[#…]", "")) +
          (length(col("__text")) - length(regexp_replace(col("__text"),
            "\\.\\.\\.", ""))) / 3).cast("long").as("n_sym"),
        size(filter(col("__toks"), t => lower(t).isin(stop: _*)))
          .cast("long").as("n_stop"))
      .withColumn("r_wc",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_mwl", lit(2) * col("len_sum") >= lit(7) * col("n_words")
        && col("len_sum") <= lit(5) * col("n_words"))
      .withColumn("r_alpha", lit(5) * col("n_alpha") >= lit(4) * col("n_words"))
      .withColumn("r_sym", lit(10) * col("n_sym") <= col("n_words"))
      .withColumn("r_stop", col("n_stop") >= 2)
      .withColumn("keep", col("r_wc") && col("r_mwl") && col("r_alpha") &&
        col("r_sym") && col("r_stop"))
  }

  private val tGopher = Q(
    (s, d) => gopherRules(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, text,
              list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents),
            c AS (SELECT doc_id,
              CAST(len(toks) AS BIGINT) AS n_words,
              CAST(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0)
                AS BIGINT) AS len_sum,
              CAST(len(list_filter(toks,
                x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
              CAST(len(text) - len(regexp_replace(text, '[#…]', '', 'g'))
                + (len(text) - len(replace(text, '...', ''))) // 3
                AS BIGINT) AS n_sym,
              CAST(len(list_filter(toks, x -> list_contains(
                ['the','a','of','and','to','in','is'], lower(x))))
                AS BIGINT) AS n_stop
              FROM t)
            SELECT doc_id, n_words, len_sum, n_alpha, n_sym, n_stop,
              (n_words >= 20 AND n_words <= 80) AS r_wc,
              (2 * len_sum >= 7 * n_words AND len_sum <= 5 * n_words)
                AS r_mwl,
              (5 * n_alpha >= 4 * n_words) AS r_alpha,
              (10 * n_sym <= n_words) AS r_sym,
              (n_stop >= 2) AS r_stop,
              ((n_words >= 20 AND n_words <= 80)
                AND (2 * len_sum >= 7 * n_words AND len_sum <= 5 * n_words)
                AND (5 * n_alpha >= 4 * n_words)
                AND (10 * n_sym <= n_words) AND (n_stop >= 2)) AS keep
            FROM c ORDER BY doc_id"""))

  /** Corpus n-gram diversity — the distinct-n diagnostic (Li et al. 2016's
    * distinct-[n] generalized corpus-wide; the "is my filtered corpus
    * collapsing into boilerplate?" check run after every dedup/filter
    * stage): per group, total word-trigram occurrences vs distinct
    * trigrams. Both are exact integers; the ratio is left to the consumer
    * so the output stays hash-exact.
    *
    * Scale: tokenize once per doc map-side, explode trigrams, then ONE
    * partial-aggregated shuffle on (group, gram) to collapse duplicates
    * (map-side combine bounds the exchange by the distinct-gram count, not
    * the corpus token count), and a k-row rollup per group. countDistinct
    * in a single agg would plan the same two-phase expand; spelling it as
    * gram-collapse → rollup keeps the heavy shuffle key explicit. */
  def ngramDiversity(df: DataFrame, groupCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, "n must be >= 1")
    // n-th sliding word-gram as a space-joined string; i ranges over the
    // 0-based start positions, element_at is 1-based
    def gramArr(tcol: Column): Column =
      when(size(tcol) >= n,
        transform(sequence(lit(0), size(tcol) - n), i =>
          concat_ws(" ", (1 to n).map(j => element_at(tcol, i + j)): _*)))
        .otherwise(array().cast("array<string>"))
    df.select(col(groupCol), tokens(col(textCol)).as("__t"))
      .select(col(groupCol), explode(gramArr(col("__t"))).as("g"))
      .groupBy(groupCol, "g").agg(count(lit(1)).as("__c"))
      .groupBy(groupCol)
      .agg(sum("__c").as("total_ngrams"),
        count(lit(1)).as("distinct_ngrams"))
  }

  private val tDiversity = Q(
    (s, d) => ngramDiversity(Tables.documents(s, d), "lang", "text", n = 3)
      .orderBy("lang"),
    Some("""WITH t AS (SELECT lang,
              list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents),
            g AS (SELECT lang,
                toks[CAST(i AS INT) + 1] || ' ' || toks[CAST(i AS INT) + 2]
                  || ' ' || toks[CAST(i AS INT) + 3] AS g
              FROM t, LATERAL (SELECT unnest(range(len(toks) - 2)) AS i) ii
              WHERE len(toks) >= 3)
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS total_ngrams,
              CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_ngrams
            FROM g GROUP BY lang ORDER BY lang"""))

  val queries: Map[String, Q] = Map(
    "q_t_gopher_rules" -> tGopher,
    "q_t_diversity" -> tDiversity,
    "q_t_pack" -> tPack,
    "q_t_pack_curriculum" -> tPackCurriculum,
    "q_t_pack_grouped" -> tPackGrouped,
    "q_t_html_strip" -> tHtmlStrip,
    "q_t_token_count" -> tTokens,
    "q_t_clean" -> tClean,
    "q_t_pii_redact" -> tPii,
    "q_t_quality" -> tQuality,
    "q_t_entropy" -> tEntropy,
    "q_t_quality_norm" -> tQualityNorm,
    "q_t_boilerplate" -> tBoilerplate,
    "q_t_langid" -> tLangId,
    "q_t_fingerprint" -> tFingerprint,
    "q_t_repetition" -> tRepetition,
    "q_t_chunk" -> tChunk,
    "q_t_tfidf" -> tTfidf)
}
