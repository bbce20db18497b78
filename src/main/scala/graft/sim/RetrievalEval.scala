package graft.sim

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval-quality EVALUATION as a first-class operator — the audit
  * step of the RAG candidate-generation chain: given a ranked run
  * (qid, rank, neighbor) and graded qrels (qid, neighbor, gain), emit
  * the standard IR metrics per query — recall@k, MRR, DCG/nDCG
  * (Järvelin & Kekäläinen TOIS'02). Registered with the approximate
  * seeded-IVF probe as the run and the EXACT brute-force top-3 as the
  * qrels, so the certified metric IS the engine's own ANN recall — the
  * quantity every IVF/PQ/LSH parameter choice in this repo was tuned
  * on (the 0.48→0.91 recall numbers in OPTIMIZATION_r16.md, "Retired
  * measurement tools"), now computable at corpus scale inside the engine
  * instead of by a driver-side probe tool.
  *
  * Cross-engine determinism: counts/ranks are exact integers; each DCG
  * term is `floor(gain·1e6 / log2(rank+1))` — integer inputs through an
  * identical literal tree (log2 on small-integer doubles, the ln/exp
  * precedent), FLOORED per term so the per-query sum is an order-free
  * integer sum; recall/MRR/nDCG are integer `div` ratios in micro.
  * Power-of-two ranks make the quotient an EXACTLY-REPRESENTABLE
  * integer double (gain·1e6/2^j with gain ≤ 3), so the floor boundary
  * is exact, not a rounding hazard.
  *
  * Scale shape: the run and qrels carry their own at-scale plans and
  * are per-query bounded (queries·k rows); the evaluation is one
  * (qid, neighbor) equi-join plus two qid-keyed aggregates. Nothing
  * here touches the corpus. */
object RetrievalEval {

  /** Per-query metrics for `run` (qid, rank, neighbor) against graded
    * `qrels` (qid, neighbor, gain). Only ranks ≤ k count. Output:
    * (qid, n_rel, hits, recall_micro, mrr_micro, dcg_micro, idcg_micro,
    * ndcg_micro) — queries with no relevant retrieved score 0, queries
    * absent from the run score 0 on every run-derived metric. */
  def evaluateRun(run: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    val dcgTerm = (rankCol: String) =>
      floor(col("gain") * lit(1000000L) / log2(col(rankCol) + lit(1)))
        .cast("long")
    val hits = run.filter(col("rank") <= k)
      .join(qrels, Seq("qid", "neighbor"))
      .select(col("qid"), col("rank"), col("gain"))
    val perQ = hits.groupBy("qid").agg(
      count(lit(1)).as("hits"),
      min("rank").as("first_rel"),
      sum(dcgTerm("rank")).as("dcg"))
    // ideal ordering: gains descending, neighbor id breaking exact ties
    val wIdeal = Window.partitionBy("qid")
      .orderBy(col("gain").desc, col("neighbor"))
    val ideal = qrels.withColumn("irank", row_number().over(wIdeal))
      .groupBy("qid").agg(
        count(lit(1)).as("n_rel"),
        sum(dcgTerm("irank")).as("idcg_micro"))
    ideal.join(perQ, Seq("qid"), "left")
      .select(col("qid"), col("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        expr("coalesce(hits, 0L) * 1000000L div n_rel").as("recall_micro"),
        coalesce(expr("1000000L div first_rel"), lit(0L)).as("mrr_micro"),
        coalesce(col("dcg"), lit(0L)).as("dcg_micro"),
        col("idcg_micro"),
        expr("coalesce(dcg, 0L) * 1000000L div idcg_micro")
          .as("ndcg_micro"))
  }

  /** q_s_retrieval_eval: the (16, 4)-seeded IVF probe at k=10 evaluated
    * against the exact brute-force top-3 with graded gains 3/2/1 — the
    * oracle recomputes run, qrels, and every metric from scratch, so
    * the hash certifies the measured ANN recall itself. */
  private val sEval = Q(
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val run = SimilarityOps.ivfSeededTopK(emb, "vec_id", "embedding",
        nList = 16, nProbe = 4, k = 10, col("id") < 5)
      val qrels = SimilarityOps.bruteForceTopK(emb,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3)
        .select(col("qid"), col("neighbor"),
          (lit(4) - col("rank")).cast("long").as("gain"))
      evaluateRun(run.select("qid", "rank", "neighbor"), qrels, k = 10)
        .orderBy("qid")
    },
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
            run AS (SELECT qid, id AS neighbor, row_number() OVER
                      (PARTITION BY qid ORDER BY cosine DESC, id) AS rank
                    FROM scored QUALIFY rank <= 10),
            bf AS (SELECT q.vec_id AS qid, v.vec_id AS id,
                list_dot_product(v.e, q.e)
                  / (SQRT(list_dot_product(v.e, v.e))
                     * SQRT(list_dot_product(q.e, q.e))) AS cosine
              FROM v CROSS JOIN (SELECT * FROM v WHERE vec_id < 5) q
              WHERE v.vec_id <> q.vec_id),
            qrels AS (SELECT qid, id AS neighbor,
                CAST(4 - rank AS BIGINT) AS gain
              FROM (SELECT qid, id, row_number() OVER
                      (PARTITION BY qid ORDER BY cosine DESC, id) AS rank
                    FROM bf) WHERE rank <= 3),
            hits AS (SELECT r.qid, r.rank, q.gain
              FROM run r JOIN qrels q
                ON r.qid = q.qid AND r.neighbor = q.neighbor),
            perq AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS hits,
                MIN(rank) AS first_rel,
                CAST(SUM(CAST(FLOOR(gain * 1000000.0 / log2(rank + 1))
                  AS BIGINT)) AS BIGINT) AS dcg
              FROM hits GROUP BY qid),
            ideal AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_rel,
                CAST(SUM(CAST(FLOOR(gain * 1000000.0 / log2(irank + 1))
                  AS BIGINT)) AS BIGINT) AS idcg_micro
              FROM (SELECT qid, gain, row_number() OVER
                      (PARTITION BY qid ORDER BY gain DESC, neighbor)
                      AS irank
                    FROM qrels)
              GROUP BY qid)
            SELECT i.qid, i.n_rel,
                COALESCE(p.hits, 0) AS hits,
                COALESCE(p.hits, 0) * 1000000 // i.n_rel AS recall_micro,
                COALESCE(1000000 // p.first_rel, 0) AS mrr_micro,
                COALESCE(p.dcg, 0) AS dcg_micro,
                i.idcg_micro,
                COALESCE(p.dcg, 0) * 1000000 // i.idcg_micro AS ndcg_micro
            FROM ideal i LEFT JOIN perq p ON i.qid = p.qid
            ORDER BY i.qid"""))

  val queries: Map[String, Q] = Map("q_s_retrieval_eval" -> sEval)
}
