package graft.etl

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Curriculum data ordering — quality-banded training order with a
  * seeded intra-band shuffle (Bengio et al. ICML'09 curriculum
  * learning; the easy-to-hard schedule production LM pipelines
  * realize as "sort by quality band, shuffle inside the band" so the
  * loader still sees i.i.d.-ish batches WITHIN a difficulty stage).
  * Bands derive from the exact global quality rank (distributed
  * two-pass prefix sum — [[GlobalIndex]], no single-partition
  * window), the intra-band order is md5(seed:id) — the corpus-wide
  * deterministic-shuffle convention, reproducible across runs and
  * partitionings.
  *
  * Exactness: band = floor(rank·nBands / n) on the exact rank
  * (ties broken by id, pinned), md5 hex compares lexicographically —
  * both replay in SQL.
  *
  * Scale shape: ONE range-partitioned rank pass (the GlobalIndex
  * shape: per-partition counts + broadcast offsets) + a map-side
  * band/key stamp; the output order is (band, md5) — a sort the
  * training-data writer performs anyway when laying out shards. */
object Curriculum {

  /** Stamp each row with its curriculum band and intra-band shuffle
    * key: band 0 = highest `qualityCol` (trains first). Output: the
    * input columns + (band, shuffle_key). */
  def curriculumOrder(df: DataFrame, idCol: String, qualityCol: String,
      nBands: Int, seed: Long): DataFrame = {
    require(nBands >= 1)
    // the row count is the core's
    val (ranked, _, n) = GlobalIndex.withGlobalRunning(
      df, Seq(col(qualityCol).desc, col(idCol)), Nil, indexCol = "__rank")
    ranked
      .withColumn("band", expr(s"((__rank - 1) * $nBands) div ${n}L"))
      .withColumn("shuffle_key", md5(concat_ws(":", lit(seed.toString),
        col(idCol).cast("string"))))
      .drop("__rank")
  }

  /** q_p32_curriculum: the documents table in 4 quality bands (doc
    * quality proxied by n_chars — compose with q_t_quality's scored
    * frame in production), seed 7. The oracle replays the exact rank,
    * the band arithmetic, and the md5 keys. */
  private val pCurriculum = Q(
    (s, d) => curriculumOrder(
      Tables.documents(s, d).select("doc_id", "n_chars"),
      "doc_id", "n_chars", nBands = 4, seed = 7L)
      .select("doc_id", "n_chars", "band", "shuffle_key")
      .orderBy("band", "shuffle_key", "doc_id"),
    Some("""WITH r AS (SELECT doc_id, n_chars,
              CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
                AS BIGINT) AS rk,
              CAST(COUNT(*) OVER () AS BIGINT) AS n
              FROM documents)
            SELECT doc_id, n_chars,
              CAST((rk - 1) * 4 // n AS BIGINT) AS band,
              md5('7' || ':' || CAST(doc_id AS VARCHAR)) AS shuffle_key
            FROM r
            ORDER BY band, shuffle_key, doc_id"""))

  val queries: Map[String, Q] = Map("q_p32_curriculum" -> pCurriculum)
}
