package graft.stats

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

/** Multiple-testing-controlled drift sweep: every group (source, shard,
  * language) is KS-tested against the REST of the corpus, and the
  * resulting p-value family goes through Benjamini–Hochberg step-up
  * (JRSS-B 1995) FDR control — the read-out a corpus monitor actually
  * needs: with 20 sources and α = 0.05 per test, one source flags by
  * chance EVERY run; BH bounds the expected fraction of false flags.
  * The grouped sister of the pairwise [[TwoSample.ks]] and the
  * multiplicity-correcting companion of the χ² battery's Bonferroni
  * residuals (q_m23).
  *
  * Arithmetic: the per-group ECDF gap is the exact integer
  * `d_num = max |nb·cumA − na·cumB|` over the pooled distinct-value
  * grid (decimal(38,0) cross-products, rule 6). The asymptotic
  * two-sample KS tail `p = 2·exp(−2λ²)`, λ² = d_num²/(na·nb·n), is the
  * ONE float step — an identical literal tree of exact integers in
  * both engines, floored to micro and capped at 1e6 (rule 2; the
  * DoReMi exp precedent). The BH step-up is then PURE INTEGER: ranks
  * are total-ordered by (p_micro, group), the rejection frontier is
  * `max{j : p_(j)·m ≤ j·α_micro}`, and adjusted p-values are the
  * running min of `p_(j)·m div j` from the bottom — all exact, both
  * engines replay bit-identically.
  *
  * Scale shape: ONE map-side-combined (group, value) count is the data
  * pass. The ECDF grid is |groups|·|distinct values| CELLS (the KS
  * pattern — quantize continuous metrics first), cumulated by a
  * per-group window; the BH pass runs over m = |groups| rows — a
  * monitoring workload, never data-scale (its global rank window
  * orders m rows). */
object FdrSweep {

  /** Benjamini–Hochberg step-up over a family of tests. `tests`: one
    * row per test with integer `p_micro`; `alphaMicro` = α·1e6. Adds
    * (rank, m, p_adj_micro, rejected) — rejected = rank ≤ the largest j
    * with p_(j)·m ≤ j·α_micro. */
  def bhStepUp(tests: DataFrame, idCol: String, alphaMicro: Long)
      : DataFrame = {
    // r16 (guide §2.2): rank, m, and the bottom-up running min formerly
    // ran through single-partition `Window.orderBy` funnels — m is the
    // test-family size (per-group sweeps keep it a monitoring axis, but a
    // family keyed on a data-derived axis grows with data). A family within
    // graft.DriverGate's bounds (the usual case: one test per group) folds
    // on the driver; past it: rank = the two-pass GlobalIndex
    // over the (p_micro, id) total order; m = a broadcast 1-row count; the
    // step-up's suffix min = a partition-local bottom-up window plus the
    // collected min-of-following-partitions, all on one range-partitioned
    // cache.
    val order = Seq(col("p_micro"), col(idCol))
    val sorted = graft.DriverGate.rows("FdrSweep.bhStepUp", tests,
      graft.etl.GlobalIndex.MaxDriverRows, order)
    if (sorted.isDefined) return bhOnDriver(tests, sorted.get, alphaMicro)
    val spark = tests.sparkSession
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions
    val ranged = tests.repartitionByRange(parts, order: _*).cache()
    val withPid = ranged.withColumn("__pid", spark_partition_id())
    val counts = withPid.groupBy("__pid").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val m = counts.map(_._2).sum
    val offsets = counts.map(_._2).scanLeft(0L)(_ + _).init
    val offDf = broadcast(counts.map(_._1).zip(offsets)
      .toSeq.toDF("__pid", "__off"))
    val wr = Window.partitionBy("__pid").orderBy(col("p_micro"), col(idCol))
    val ranked = withPid.join(offDf, Seq("__pid"))
      .withColumn("rank",
        row_number().over(wr).cast("long") + col("__off"))
      .withColumn("m", lit(m))
      .withColumn("__term", expr("(p_micro * m) div rank"))
    // min step-up term of every FOLLOWING partition, collected (one tiny
    // job over the cached ranged frame; ≤ one row per partition)
    val pidMins = ranked.groupBy("__pid").agg(min("__term").as("mn"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(-_._1)
    val sufAfter = {
      var acc = Long.MaxValue
      pidMins.map { case (pid, mn) =>
        val out = pid -> acc
        acc = math.min(acc, mn); out
      }.toSeq
    }
    val sufDf = broadcast(sufAfter.map { case (pid, s) =>
      (pid, if (s == Long.MaxValue) null
        else java.lang.Long.valueOf(s)) }.toDF("__pid", "__suf"))
    val frontier = ranked.agg(
      max(when(col("p_micro") * col("m") <= col("rank") * alphaMicro,
        col("rank"))).as("jmax"))
    val wd = Window.partitionBy("__pid").orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked.join(sufDf, Seq("__pid"))
      .withColumn("p_adj_micro", least(lit(1000000L),
        least(min(col("__term")).over(wd),
          coalesce(col("__suf"), lit(Long.MaxValue)))))
      .crossJoin(broadcast(frontier))
      .withColumn("rejected",
        col("jmax").isNotNull && col("rank") <= col("jmax"))
      .drop("jmax", "__pid", "__off", "__term", "__suf")
  }

  /** [[bhStepUp]]'s driver path over the family sorted by (p_micro, id):
    * the same integers as the ranged plan — rank = position, term =
    * p·m div rank, p_adj = min(1e6, suffix min of the non-null terms),
    * rejected = rank ≤ the BH frontier. */
  private def bhOnDriver(tests: DataFrame, rows: Array[Row],
      alphaMicro: Long): DataFrame = {
    val pPos = tests.schema.fieldIndex("p_micro")
    val m = rows.length.toLong
    val p = rows.map(r =>
      if (r.isNullAt(pPos)) None else Some(r.getAs[Number](pPos).longValue))
    val term = p.zipWithIndex.map { case (pv, i) => pv.map(_ * m / (i + 1)) }
    val sufMin = term.scanRight(Long.MaxValue) { (t, acc) =>
      t.fold(acc)(math.min(_, acc)) }
    val jmax = p.zipWithIndex.collect {
      case (Some(pv), i) if pv * m <= (i + 1) * alphaMicro => i + 1L }
      .maxOption
    val out = rows.indices.map { i =>
      val rank = i + 1L
      Row.fromSeq(rows(i).toSeq ++ Seq(rank, m,
        math.min(1000000L, sufMin(i)), jmax.exists(rank <= _)))
    }
    tests.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*),
      StructType(tests.schema.fields ++ Seq(
        StructField("rank", LongType, nullable = false),
        StructField("m", LongType, nullable = false),
        StructField("p_adj_micro", LongType),
        StructField("rejected", BooleanType))))
  }

  /** Per-group two-sample KS against the rest of the corpus, as exact
    * integer gap numerators plus the floored asymptotic p. Output per
    * group: (group, na, nb, d_num, p_micro). */
  def ksRestSweep(rows: DataFrame, grpCol: String, valCol: String)
      : DataFrame = {
    val cnt = rows.groupBy(col(grpCol).as("g"), col(valCol).as("v"))
      .agg(count(lit(1)).as("ca"))
    val glob = cnt.groupBy("v").agg(sum("ca").as("cg"))
    val groups = cnt.select("g").distinct()
    val grid = glob.crossJoin(broadcast(groups))
      .join(cnt, Seq("g", "v"), "left")
      .select(col("g"), col("v"),
        coalesce(col("ca"), lit(0L)).as("ca"), col("cg"))
    val wv = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .withColumn("cumA", sum("ca").over(wv))
      .withColumn("cumB", sum("cg").over(wv) - col("cumA"))
    val tot = cnt.groupBy("g").agg(sum("ca").as("na"))
    val nAll = glob.agg(sum("cg").as("n"))
    val d = cum.join(tot, Seq("g")).crossJoin(broadcast(nAll))
      .select(col("g"), col("na"), (col("n") - col("na")).as("nb"),
        abs(col("cumA").cast("decimal(38,0)") * (col("n") - col("na"))
          - col("cumB").cast("decimal(38,0)") * col("na")).as("gap"))
      .groupBy("g", "na", "nb").agg(max("gap").cast("long").as("d_num"))
    val lam2 = col("d_num").cast("double") * col("d_num").cast("double") /
      (col("na").cast("double") * col("nb").cast("double")
        * (col("na") + col("nb")).cast("double"))
    d.select(col("g"), col("na"), col("nb"), col("d_num"),
      least(lit(1000000L),
        floor(lit(2.0) * exp(lit(-2.0) * lam2) * lit(1e6)).cast("long"))
        .as("p_micro"))
  }

  /** q_m49_bh_fdr: doc-length drift sweep — each source KS-tested
    * against the rest on n_chars, BH-controlled at α = 0.05. */
  private val mFdr = Q(
    (s, d) => bhStepUp(
      ksRestSweep(Tables.documents(s, d), "source", "n_chars"),
      "g", alphaMicro = 50000L)
      .select(col("g").as("source"), col("na"), col("nb"), col("d_num"),
        col("p_micro"), col("rank"), col("p_adj_micro"), col("rejected"))
      .orderBy("rank"),
    Some("""WITH cnt AS (SELECT source AS g, n_chars AS v,
                CAST(COUNT(*) AS BIGINT) AS ca
              FROM documents GROUP BY 1, 2),
            gv AS (SELECT v, CAST(SUM(ca) AS BIGINT) AS cg
              FROM cnt GROUP BY 1),
            grid AS (SELECT gs.g, gv.v, COALESCE(cnt.ca, 0) AS ca,
                gv.cg
              FROM (SELECT DISTINCT g FROM cnt) gs
              CROSS JOIN gv
              LEFT JOIN cnt ON cnt.g = gs.g AND cnt.v = gv.v),
            cum AS (SELECT g, v, ca, cg,
                CAST(SUM(ca) OVER wv AS BIGINT) AS cumA,
                CAST(SUM(cg) OVER wv AS BIGINT)
                  - CAST(SUM(ca) OVER wv AS BIGINT) AS cumB
              FROM grid
              WINDOW wv AS (PARTITION BY g ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            tot AS (SELECT g, CAST(SUM(ca) AS BIGINT) AS na
              FROM cnt GROUP BY 1),
            nn AS (SELECT CAST(SUM(cg) AS BIGINT) AS n FROM gv),
            dd AS (SELECT cum.g, tot.na, nn.n - tot.na AS nb,
                CAST(MAX(ABS(CAST(cumA AS HUGEINT) * (nn.n - tot.na)
                  - CAST(cumB AS HUGEINT) * tot.na)) AS BIGINT) AS d_num
              FROM cum JOIN tot ON cum.g = tot.g CROSS JOIN nn
              GROUP BY 1, 2, 3),
            p AS (SELECT g, na, nb, d_num,
                LEAST(1000000, CAST(FLOOR(2.0 * EXP(-2.0 *
                  (CAST(d_num AS DOUBLE) * CAST(d_num AS DOUBLE)
                   / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                      * CAST(na + nb AS DOUBLE)))) * 1000000.0)
                  AS BIGINT)) AS p_micro
              FROM dd),
            rk AS (SELECT g, na, nb, d_num, p_micro,
                CAST(row_number() OVER (ORDER BY p_micro, g) AS BIGINT)
                  AS rank,
                CAST(COUNT(*) OVER () AS BIGINT) AS m
              FROM p),
            jm AS (SELECT MAX(CASE WHEN p_micro * m <= rank * 50000
                THEN rank END) AS jmax FROM rk),
            adj AS (SELECT rk.*, LEAST(1000000,
                MIN((p_micro * m) // rank) OVER (ORDER BY rank DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                AS p_adj_micro
              FROM rk)
            SELECT adj.g AS source, na, nb, d_num, p_micro, rank,
                   p_adj_micro,
                   (jm.jmax IS NOT NULL AND rank <= jm.jmax) AS rejected
            FROM adj CROSS JOIN jm ORDER BY rank"""))

  val queries: Map[String, Q] = Map("q_m49_bh_fdr" -> mFdr)
}
