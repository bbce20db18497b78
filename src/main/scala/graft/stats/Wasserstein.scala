package graft.stats

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Wasserstein-1 (earth-mover) drift distance, one-vs-rest per group
  * (Monge 1781/Kantorovich 1942 form; for 1-D empirical distributions
  * W1 = ∫|F −G| dv, e.g. Ramdas et al., Entropy 2017) — the MAGNITUDE
  * companion to the engine's drift family: PSI (q_m44) is
  * bucket-relative, KS (q_m38) is the worst single gap; W1 is the
  * area between the CDFs, in the metric's own units — "HOW FAR did
  * the distribution move", robust to where the mass sits.
  *
  * Exactness (rule 1, zero floats): over the sorted distinct values,
  *   W1 · n_g · n_r = Σ_v |cum_g(v)·n_r − cum_r(v)·n_g| · gap(v)
  * — pure integers (decimal(38,0)/HUGEINT), emitted as ONE
  * non-negative integral division w1_micro = (Σ·1e6) div (n_g·n_r),
  * in value units. Degenerate groups (empty rest) → null.
  *
  * Scale shape: one (group, value) cells pass (THE data pass); the
  * evaluation grid is groups × DISTINCT VALUES — the group list
  * attaches as a broadcast k-row frame, cumulative/gap windows run
  * over value CELLS (group-keyed / global-distinct), never rows. For
  * unbounded-cardinality metrics, bucket the value first (the PSI
  * precedent); the grid is k·V cells. */
object Wasserstein {

  /** Per-group one-vs-rest W1 over (groupCol, integer valueCol) rows.
    * Output one row per group: (g, n_g, n_rest, w1_micro) — w1 in
    * value units, micro-scaled. */
  def oneVsRest(rows: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val base = rows.select(col(groupCol).cast("string").as("__g"),
      col(valueCol).cast("long").as("__v"))
    val cells = base.groupBy("__g", "__v").agg(count(lit(1)).as("cgv"))
    // r16 (guide §2.2): cumAll and the lead-gap formerly ran through a
    // single-partition `Window.orderBy(__v)` — one row per DISTINCT VALUE,
    // unbounded for wide integer domains. Within graft.DriverGate's bounds
    // (GlobalIndex's row bound) both fold on the driver over the sorted
    // value cells. Past it, the two-pass GlobalIndex scheme computes both from
    // ONE range-partitioned cache: partition-local windows plus a
    // collected per-partition (sum, first-value) table — the cumulative
    // sum gets the preceding partitions' total, the gap's lead() gets the
    // NEXT partition's first value for each partition's last row (the
    // global last row keeps gap 0, as before).
    val spark = rows.sparkSession
    val vcells = cells.groupBy("__v").agg(sum("cgv").as("cv"))
    val vglob = graft.DriverGate.rows("Wasserstein.oneVsRest", vcells,
        graft.etl.GlobalIndex.MaxDriverRows, Seq(col("__v"))) match {
      case Some(sorted) => valueGridOnDriver(spark, sorted)
      case None => valueGridRanged(vcells)
    }
    val groups = cells.groupBy("__g").agg(sum("cgv").as("ng"))
    val nAll = cells.agg(sum("cgv").as("nn"))
    // evaluation grid: every group at every global distinct value —
    // the k-row group frame broadcasts onto the value cells
    val grid = vglob.join(broadcast(groups))
      .join(cells, Seq("__g", "__v"), "left")
      .withColumn("cg", coalesce(col("cgv"), lit(0L)))
      .withColumn("cumG", sum("cg").over(
        Window.partitionBy("__g").orderBy("__v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    grid.join(broadcast(nAll))
      .withColumn("term",
        abs(col("cumG").cast("decimal(38,0)") * (col("nn") - col("ng"))
          - (col("cumAll") - col("cumG")).cast("decimal(38,0)") * col("ng"))
          * col("gap"))
      .groupBy(col("__g").as("g"), col("ng").as("n_g"),
        (col("nn") - col("ng")).as("n_rest"))
      .agg(sum("term").as("w1num"))
      .select(col("g"), col("n_g"), col("n_rest"),
        when(col("n_rest") === 0 || col("n_g") === 0,
          lit(null).cast("long"))
          .otherwise(expr("cast((w1num * 1000000) div (n_g * n_rest) as long)"))
          .as("w1_micro"))
      .orderBy("g")
  }

  /** (__v, cumAll, gap) over the (__v, cv) value cells sorted by __v: the
    * inclusive running count and the gap to the next value (0 for the
    * last value and next to a null value). */
  private def valueGridOnDriver(spark: SparkSession, sorted: Array[Row])
      : DataFrame = {
    val v = sorted.map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    val cum = sorted.map(_.getLong(1)).scanLeft(0L)(_ + _).tail
    val out = sorted.indices.map { i =>
      val gap = if (i + 1 < v.length) v(i).zip(v(i + 1))
        .map { case (a, b) => b - a }.getOrElse(0L) else 0L
      Row(v(i).map(java.lang.Long.valueOf).orNull, cum(i), gap)
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), StructType(Seq(
      StructField("__v", LongType), StructField("cumAll", LongType),
      StructField("gap", LongType, nullable = false))))
  }

  /** [[valueGridOnDriver]]'s ranged twin over the (__v, cv) cells. */
  private def valueGridRanged(vcells: DataFrame): DataFrame = {
    val spark = vcells.sparkSession
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions
    val ranged = vcells.repartitionByRange(parts, col("__v")).cache()
    val withPid = ranged.withColumn("__pid", spark_partition_id())
    val pidStats = withPid.groupBy("__pid")
      .agg(sum("cv").as("s"), min("__v").as("mn"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val offsets = pidStats.map(_._2).scanLeft(0L)(_ + _).init
    val nextFirst: Seq[(Int, Option[Long])] = pidStats.indices.map { i =>
      pidStats(i)._1 -> (if (i + 1 < pidStats.length)
        Some(pidStats(i + 1)._3) else None) }
    val offDf = pidStats.map(_._1).zip(offsets).zip(nextFirst.map(_._2))
      .map { case ((pid, off), nf) =>
        (pid, off, nf.map(java.lang.Long.valueOf).orNull) }
      .toSeq.toDF("__pid", "__off", "__nextFirst")
    val wv = Window.partitionBy("__pid").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wl = Window.partitionBy("__pid").orderBy("__v")
    withPid.join(broadcast(offDf), Seq("__pid"))
      .withColumn("cumAll", sum("cv").over(wv) + col("__off"))
      .withColumn("gap",
        coalesce(coalesce(lead("__v", 1).over(wl), col("__nextFirst"))
          - col("__v"), lit(0L)))
      .select("__v", "cumAll", "gap")
  }

  /** q_m78_wasserstein: how far each source's document-length
    * distribution sits from the rest of the corpus, in characters —
    * the magnitude readout next to q_m49's per-source KS decisions. */
  private val mW1 = Q(
    (s, d) => oneVsRest(
      Tables.documents(s, d).select(col("source"), col("n_chars")),
      "source", "n_chars"),
    Some("""WITH base AS (SELECT source AS g, n_chars AS v FROM documents),
            cells AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS cgv
              FROM base GROUP BY 1, 2),
            vglob AS (SELECT v, SUM(cv) OVER (ORDER BY v) AS cumAll,
                COALESCE(lead(v) OVER (ORDER BY v) - v, 0) AS gap
              FROM (SELECT v, SUM(cgv) AS cv FROM cells GROUP BY 1)),
            grps AS (SELECT g, SUM(cgv) AS ng FROM cells GROUP BY 1),
            nall AS (SELECT SUM(cgv) AS nn FROM cells),
            grid AS (SELECT gr.g, vg.v, vg.cumAll, vg.gap, gr.ng,
                COALESCE(c.cgv, 0) AS cg
              FROM vglob vg CROSS JOIN grps gr
              LEFT JOIN cells c ON c.g = gr.g AND c.v = vg.v),
            cum AS (SELECT g, v, cumAll, gap, ng,
                SUM(cg) OVER (PARTITION BY g ORDER BY v) AS cumG
              FROM grid),
            terms AS (SELECT g, ng, (SELECT nn FROM nall) - ng AS n_rest,
                abs(CAST(cumG AS HUGEINT) * ((SELECT nn FROM nall) - ng)
                  - (cumAll - cumG) * ng) * gap AS term
              FROM cum, nall)
            SELECT g, CAST(ng AS BIGINT) AS n_g,
              CAST(n_rest AS BIGINT) AS n_rest,
              CASE WHEN n_rest = 0 OR ng = 0 THEN NULL
                ELSE CAST((SUM(term) * 1000000) // (ng * n_rest) AS BIGINT)
                END AS w1_micro
            FROM terms GROUP BY g, ng, n_rest"""))

  val queries: Map[String, Q] = Map("q_m78_wasserstein" -> mW1)
}
