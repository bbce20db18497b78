package graft.stats

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dawid–Skene label aggregation (Dawid & Skene, JRSS-C 1979) — the
  * classic EM model for consensus labels from unreliable raters: each
  * rater r carries a latent confusion matrix π_r[observed | true], and
  * the consensus posterior weighs each vote by how often ITS RATER is
  * right about ITS CLASS — so one reliable specialist outvotes two
  * biased gates, where majority vote (and the agreement diagnostics
  * q_m45/q_m55, which only MEASURE disagreement) cannot. The
  * training-data use: fusing an ensemble of cheap quality gates /
  * judge prompts into calibrated document labels plus per-rater
  * reliability — THE standard crowd/LLM-judge aggregation step before
  * training on the labels.
  *
  * All-integer EM (the q_m59 discipline extended to EM): posteriors
  * live on a micro grid, confusion cells and priors are Laplace-
  * smoothed integral divisions of exact micro-sums (+1 pseudo-item per
  * cell — smoothing also keeps every E-step product nonzero), and the
  * E-step score is a PRODUCT of ≤ R+1 micro-scaled integers evaluated
  * in decimal(38,0)/HUGEINT (R=3 raters: ≤ 10²⁴ — no overflow at 38
  * digits), renormalized per item by one integral division. No float
  * exists on either side; the oracle replays the identical recursion
  * as Scala-GENERATED unrolled CTEs ([[dsOracleSql]], the LCA/Lloyd
  * seeded-unroll pattern — but exact, with no libm risk to absorb).
  *
  * Scale shape: per EM sweep, the M-step is R+1 map-side-combined
  * aggregations of the posterior table collapsing to R·k² + k cells,
  * which COLLECT to the driver (config-sized — classes × raters, the
  * centroid precedent) and re-enter the E-step as broadcast literals;
  * the E-step is one pass over items × k with broadcast lookups and an
  * item-keyed normalization window. Because each posterior depends on
  * the previous one ONLY through those collected literals, the plan
  * depth stays CONSTANT across sweeps — no lineage growth, no
  * checkpoint needed. */
object DawidSkene {

  /** Rater-label tuple bound of [[fit]]'s driver path. */
  val MaxDriverCombos: Long = 1L << 16

  /** Fit over wide assignments (one row per item, one string label
    * column per rater). `classes`: the label universe, explicit so the
    * fit is scale-independent (a level absent at one SF must not
    * change k). Returns (item, label, conf_micro) — the consensus
    * label with its posterior in micro. `iters` EM sweeps after the
    * vote init. At most [[MaxDriverCombos]] distinct rater-label tuples
    * within [[graft.DriverGate]]'s byte budget run the EM on the driver. */
  def fit(wide: DataFrame, itemCol: String, raterCols: Seq[String],
      classes: Seq[String], iters: Int = 5): DataFrame = {
    // Value-counts fast path (r16, guide §1.2): an item's posterior at
    // every sweep is a function of its rater-label TUPLE alone — the init
    // is its vote shares, and each E-step rescores it from the collected
    // M-step literals. With k classes and R raters there are at most k^R
    // distinct tuples (27 for q_m62), so ONE groupBy(y0..yR).count() pass
    // feeds the ENTIRE EM driver-side in exact BigInt arithmetic (the same
    // integral ops the distributed plan runs in decimal(38,0)), and the
    // consensus attaches back by one broadcast join. The gate MEASURES the
    // tuple table (free-text rater labels could make it data-sized); past
    // it, the original per-sweep loop below runs unchanged. Labels are
    // compared as strings on both paths (a non-string rater column reads
    // as its string form), and a null label is an out-of-class vote on
    // both: it feeds the first M-step through the vote-share init, and the
    // item drops out of the E-step and the output.
    val combos = wide
      .groupBy(raterCols.map(label): _*)
      .agg(count(lit(1)).as("__cnt"))
    graft.DriverGate.rows("DawidSkene.fit", combos, MaxDriverCombos) match {
      case Some(rows) =>
        fitFromCombos(wide, itemCol, raterCols, classes, iters,
          rows.map(row => raterCols.indices.map(row.getString).toVector ->
            row.getLong(raterCols.length)))
      case None => fitDistributed(wide, itemCol, raterCols, classes, iters)
    }
  }

  /** A rater column as the string label both fit paths compare. */
  private def label(c: String): Column = col(c).cast("string").as(c)

  /** Driver-side EM over (rater-label tuple, count) rows — bit-exact
    * replica of [[fitDistributed]]'s integer recursion (all BigInt; the
    * distributed plan's decimal(38,0) products and integral divisions are
    * the same exact-integer ops). Emits the same (item, label, conf_micro)
    * by broadcast-joining the per-tuple consensus onto the wide frame. */
  private def fitFromCombos(wide: DataFrame, itemCol: String,
      raterCols: Seq[String], classes: Seq[String], iters: Int,
      combos: Array[(Vector[String], Long)]): DataFrame = {
    val spark = wide.sparkSession
    val r = raterCols.length
    val k = classes.length
    require(k >= 2 && r >= 1, "dawidSkene: need >= 2 classes, >= 1 rater")
    val M = BigInt(1000000L)
    val clsSet = classes.toSet
    // posterior per tuple: init = vote shares floored to micro, over the
    // VOTED labels only (exactly the distributed init's support)
    var t: Array[Map[String, BigInt]] = combos.map { case (ys, _) =>
      ys.groupBy(identity).map { case (c, v) =>
        c -> BigInt(v.size) * M / r }
    }
    // tuples with any out-of-class vote drop out of the E-step (the
    // distributed plan's inner confusion joins drop those items the same
    // way); they still feed the FIRST M-step through the init posterior
    val alive = combos.map(_._1.forall(clsSet.contains))
    for (_ <- 0 until iters) {
      // ---- M-step: the same sufficient statistics, summed over tuples ----
      val num = scala.collection.mutable.Map
        .empty[(Int, String, String), BigInt].withDefaultValue(BigInt(0))
      combos.indices.foreach { i =>
        val cnt = BigInt(combos(i)._2)
        val ys = combos(i)._1
        var j = 0
        while (j < r) {
          t(i).foreach { case (c, tv) =>
            num((j, ys(j), c)) += cnt * tv }
          j += 1
        }
      }
      val den: Map[String, BigInt] = classes.map { c =>
        c -> classes.map(a => num((0, a, c))).sum }.toMap
      val tot = classes.map(den).sum
      val prior: Map[String, Long] = classes.map { c =>
        c -> ((den(c) + M) * M / (tot + k * M)).toLong }.toMap
      val conf: Map[(Int, String, String), Long] =
        (for (j <- 0 until r; a <- classes; c <- classes) yield
          (j, a, c) -> ((num((j, a, c)) + M) * M / (den(c) + k * M)).toLong
        ).toMap
      // ---- E-step: rescore each alive tuple over ALL classes ----
      t = combos.indices.map { i =>
        if (!alive(i)) Map.empty[String, BigInt]
        else {
          val ys = combos(i)._1
          val s: Map[String, BigInt] = classes.map { c =>
            c -> (0 until r).foldLeft(BigInt(prior(c))) {
              (acc, j) => acc * conf((j, ys(j), c)) }
          }.toMap
          val z = s.values.sum
          s.map { case (c, sv) => c -> sv * M / z }
        }
      }.toArray
    }
    // consensus per tuple: argmax by (posterior desc, class asc in UTF-8
    // byte order — the distributed row_number's string ordering)
    val utf8Order: Ordering[String] = (a: String, b: String) => {
      val ab = a.getBytes("UTF-8"); val bb = b.getBytes("UTF-8")
      var i = 0
      val n = math.min(ab.length, bb.length)
      var res = 0
      while (i < n && res == 0) {
        res = (ab(i) & 0xff) - (bb(i) & 0xff); i += 1 }
      if (res != 0) res else ab.length - bb.length
    }
    val consensus = combos.indices.flatMap { i =>
      val post = t(i)
      if (post.isEmpty) None
      else {
        val (c, tv) = post.toSeq.minBy { case (cc, tvv) => (-tvv, cc) }(
          Ordering.Tuple2(Ordering.BigInt, utf8Order))
        Some((combos(i)._1, c, tv.toLong))
      }
    }
    // attach on the rater-label columns themselves (labels may contain any
    // character, so no concatenated key); the inner join drops out-of-class
    // tuples exactly as the distributed confusion joins do
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(
      raterCols.indices.map(j => StructField(s"__y$j", StringType)) ++
        Seq(StructField("label", StringType),
          StructField("conf_micro", LongType)))
    // a local relation: broadcasting it runs no job
    val comboDf = spark.createDataFrame(
      java.util.Arrays.asList(consensus.map { case (ys, c, tv) =>
        org.apache.spark.sql.Row.fromSeq(ys ++ Seq(c, tv)) }: _*), schema)
    val cond = raterCols.zipWithIndex.map { case (rc, j) =>
      wide(rc).cast("string") === comboDf(s"__y$j") }.reduce(_ && _)
    wide.join(broadcast(comboDf), cond)
      .select(col(itemCol), col("label"), col("conf_micro"))
  }

  /** The original per-sweep distributed loop — the over-gate path and the
    * parity reference. */
  private[stats] def fitDistributed(wide: DataFrame, itemCol: String,
      raterCols: Seq[String], classes: Seq[String], iters: Int): DataFrame = {
    val spark = wide.sparkSession
    import spark.implicits._
    val r = raterCols.length
    val k = classes.length
    require(k >= 2 && r >= 1, "dawidSkene: need >= 2 classes, >= 1 rater")
    val M = 1000000L
    // the wide frame feeds R+1 M-step aggregations per sweep plus every
    // E-step: persist it once (items × (R+1) strings) or the rater-gate
    // expressions upstream recompute per ACTION — measured 18.1 s → the
    // persisted fit at sf0.1 (TimeOne warm)
    val w = wide.select((col(itemCol).as("__i") +:
      raterCols.zipWithIndex.map { case (c, j) =>
        label(c).as(s"__y$j") }): _*)
      .persist()

    // posterior init: vote shares floored to micro
    var t: DataFrame = w.select(col("__i"),
        explode(array(raterCols.indices.map(j => col(s"__y$j")): _*))
          .as("__c"))
      .groupBy("__i", "__c").agg(count(lit(1)).as("__v"))
      .select(col("__i"), col("__c"),
        expr(s"__v * $M div $r").as("__t"))

    t = t.persist()
    val clsDf = broadcast(classes.toDF("__c"))
    // long form (item, rater j, observed a): ONE join+aggregation per
    // sweep collects every confusion cell — den and prior derive from
    // the same collected counts (den_c = Σ_a num_j(a,c) for any j)
    val wl = w.select(col("__i"), explode(array(
      raterCols.indices.map(j => struct(lit(j).as("__j"),
        col(s"__y$j").as("__a"))): _*)).as("__ja"))
      .select(col("__i"), col("__ja.__j").as("__j"),
        col("__ja.__a").as("__a"))
    for (_ <- 0 until iters) {
      // ---- M-step: ONE collect of all sufficient statistics ----
      val num: Map[(Int, String, String), BigInt] = t.join(wl, "__i")
        .groupBy("__j", "__a", "__c").agg(sum("__t").as("s"))
        .as[(Int, String, String, Long)].collect()
        .map { case (j, a, c, s) => (j, a, c) -> BigInt(s) }.toMap
        .withDefaultValue(BigInt(0))
      val den: Map[String, BigInt] = classes.map { c =>
        c -> classes.map(a => num((0, a, c))).sum }.toMap
      val tot = classes.map(den).sum
      val prior: Map[String, Long] = classes.map { c =>
        c -> ((den(c) + M) * M / (tot + k * M)).toLong }.toMap
      val conf: Map[(Int, String, String), Long] =
        (for (j <- 0 until r; a <- classes; c <- classes) yield
          (j, a, c) -> ((num((j, a, c)) + M) * M / (den(c) + k * M)).toLong
        ).toMap

      // ---- E-step: scores from broadcast literals, item-keyed renorm ----
      val priorDf = broadcast(classes.map(c => (c, prior(c)))
        .toDF("__c", "__p"))
      val confDfs = (0 until r).map { j =>
        broadcast((for (a <- classes; c <- classes)
          yield (a, c, conf((j, a, c))))
          .toDF(s"__a$j", s"__cc$j", s"__m$j"))
      }
      var scored = w.crossJoin(clsDf).join(priorDf, Seq("__c"))
      for (j <- 0 until r)
        scored = scored.join(confDfs(j),
          col(s"__y$j") === col(s"__a$j") && col("__c") === col(s"__cc$j"))
      val prod = (0 until r).foldLeft(col("__p").cast("decimal(38,0)")) {
        case (acc, j) => acc * col(s"__m$j") }
      val normW = Window.partitionBy("__i")
      // the new posterior depends on t only through the COLLECTED
      // literals above, so the old cache can release immediately — the
      // plan depth stays constant across sweeps
      val prev = t
      t = scored.select(col("__i"), col("__c"), prod.as("__s"))
        .withColumn("__z", sum("__s").over(normW))
        .select(col("__i"), col("__c"),
          expr(s"cast((__s * $M) div __z as long)").as("__t"))
        .persist()
      prev.unpersist()
    }

    // materialize the final posterior, then release the wide frame (the
    // consensus below reads only the persisted posterior)
    t.count()
    w.unpersist()

    val rankW = Window.partitionBy("__i")
      .orderBy(col("__t").desc, col("__c"))
    t.withColumn("__rn", row_number().over(rankW))
      .filter(col("__rn") === 1)
      .select(col("__i").as(itemCol), col("__c").as("label"),
        col("__t").as("conf_micro"))
  }

  // ------------------------------------------------------------------
  // oracle generator: the identical integer recursion, unrolled
  // ------------------------------------------------------------------

  /** DuckDB oracle for [[fit]]: `wideSql` must produce (item, y0..y{R-1})
    * matching the Spark-side wide frame exactly. Generated chained CTEs,
    * one block per sweep — all HUGEINT. */
  def dsOracleSql(wideSql: String, itemCol: String, r: Int,
      classes: Seq[String], iters: Int = 5): String = {
    val M = "1000000"
    val k = classes.length
    val clsVals = classes.map(c => s"('$c')").mkString(",")
    val sb = new StringBuilder
    sb.append(s"""WITH wide AS MATERIALIZED ($wideSql),
        cls(c) AS (VALUES $clsVals),
        t0 AS MATERIALIZED (SELECT i, c, v * $M // $r AS t FROM (
          SELECT item AS i, c, CAST(COUNT(*) AS HUGEINT) AS v FROM (
            ${(0 until r).map(j => s"SELECT item, y$j AS c FROM wide")
              .mkString(" UNION ALL ")})
          GROUP BY 1, 2))""")
    for (it <- 0 until iters) {
      val tIn = s"t$it"
      val tOut = s"t${it + 1}"
      sb.append(s""",
        den$it AS MATERIALIZED (SELECT cls.c,
            COALESCE((SELECT SUM(t) FROM $tIn WHERE $tIn.c = cls.c),
              CAST(0 AS HUGEINT)) AS den
          FROM cls),
        tot$it AS MATERIALIZED (SELECT SUM(den) AS tot FROM den$it),
        prior$it AS MATERIALIZED (SELECT den$it.c,
            (den + $M) * $M // (tot + $k * $M) AS p
          FROM den$it CROSS JOIN tot$it)""")
      for (j <- 0 until r) {
        sb.append(s""",
        num${it}_$j AS MATERIALIZED (SELECT w.y$j AS a, t.c, SUM(t.t) AS num
          FROM $tIn t JOIN wide w ON w.item = t.i GROUP BY 1, 2),
        conf${it}_$j AS MATERIALIZED (SELECT ca.c AS a, cc.c AS c,
            (COALESCE(n.num, 0) + $M) * $M // (d.den + $k * $M) AS m
          FROM cls ca CROSS JOIN cls cc
          LEFT JOIN num${it}_$j n ON n.a = ca.c AND n.c = cc.c
          JOIN den$it d ON d.c = cc.c)""")
      }
      val joins = (0 until r).map(j =>
        s"JOIN conf${it}_$j m$j ON m$j.a = w.y$j AND m$j.c = cls.c")
        .mkString("\n          ")
      val prod = (0 until r).map(j => s"m$j.m").mkString(" * ")
      sb.append(s""",
        sc$it AS MATERIALIZED (SELECT w.item AS i, cls.c, pr.p * $prod AS s
          FROM wide w CROSS JOIN cls
          JOIN prior$it pr ON pr.c = cls.c
          $joins),
        $tOut AS MATERIALIZED (SELECT i, c,
            (s * $M) // (SUM(s) OVER (PARTITION BY i)) AS t
          FROM sc$it)""")
    }
    sb.append(s"""
        SELECT i AS $itemCol, c AS label, CAST(t AS BIGINT) AS conf_micro
        FROM t$iters
        QUALIFY row_number() OVER (PARTITION BY i ORDER BY t DESC, c) = 1
        ORDER BY $itemCol""")
    sb.toString
  }

  /** q_m62_dawid_skene: consensus document-quality labels from the three
    * deterministic gates of q_m55 (length / lexical / structural, each
    * voting {low, mid, high}), with per-rater reliability learned by the
    * EM — the label-aggregation capstone over the agreement family. */
  private def gates(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d).select(col("doc_id"),
      when(col("n_chars") < 200, lit("low"))
        .when(col("n_chars") < 1000, lit("mid")).otherwise(lit("high"))
        .as("r_len"),
      when(size(filter(split(col("text"), " "), t => t =!= lit(""))) < 40,
        lit("low"))
        .when(size(filter(split(col("text"), " "), t => t =!= lit(""))) <
          200, lit("mid")).otherwise(lit("high")).as("r_words"),
      when(length(col("text")) - length(replace(col("text"), lit("."),
        lit(""))) < 2, lit("low"))
        .when(length(col("text")) - length(replace(col("text"), lit("."),
          lit(""))) < 10, lit("mid")).otherwise(lit("high")).as("r_sent"))

  private val wideSql =
    """SELECT doc_id AS item,
         CASE WHEN n_chars < 200 THEN 'low'
              WHEN n_chars < 1000 THEN 'mid' ELSE 'high' END AS y0,
         CASE WHEN len(list_filter(string_split(text, ' '),
                  x -> x <> '')) < 40 THEN 'low'
              WHEN len(list_filter(string_split(text, ' '),
                  x -> x <> '')) < 200 THEN 'mid'
              ELSE 'high' END AS y1,
         CASE WHEN length(text) - length(replace(text, '.', '')) < 2
                THEN 'low'
              WHEN length(text) - length(replace(text, '.', '')) < 10
                THEN 'mid' ELSE 'high' END AS y2
       FROM documents"""

  private val mDs = Q(
    (s, d) => fit(gates(s, d), "doc_id", Seq("r_len", "r_words", "r_sent"),
      Seq("high", "low", "mid")).orderBy("doc_id"),
    Some(dsOracleSql(wideSql, "doc_id", r = 3,
      classes = Seq("high", "low", "mid"))))

  val queries: Map[String, Q] = Map("q_m62_dawid_skene" -> mDs)
}
