package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed global row index over a total order — the scalable encoding
  * of pandas positional alignment (reference utils.py `df['col'] = series`
  * semantics), replacing the single-partition `row_number() OVER (ORDER BY
  * …)` that dies at scale.
  *
  * Every entry point ([[withGlobalIndexReleasable]],
  * [[withGlobalCumsumReleasable]], [[withGlobalRunning]],
  * [[withGroupedIndex]]) is one core: per group (none for the global
  * forms) a 1-based rank, EXCLUSIVE prefix sums and the totals, over the
  * order `groupCols ++ order`, behind [[graft.DriverGate]]:
  *
  *  - Driver path: at most [[MaxDriverRows]] rows within the gate's byte
  *    budget. The gate returns the rows sorted, the ranks and prefix sums
  *    fold on the driver, and the result is a local frame with the same
  *    columns and types. Distinct-value cell frames (a few hundred rows)
  *    always land here.
  *  - Ranged path (past the gate, or under its force-distributed conf),
  *    on the input as given: the two-pass scheme, the classic
  *    zipWithIndex shape in DataFrame ops —
  *     1. range-repartition on the order columns, so partition i holds
  *        keys strictly below partition i+1;
  *     2. one tiny job collects per-(partition, group) counts and sums →
  *        cumulative offsets (≤ one row per partition and group —
  *        driver-size at any scale);
  *     3. rank = row_number over a PARTITION-LOCAL window (partitioned by
  *        spark_partition_id — no single-partition exchange) + the offset,
  *        attached by a broadcast join.
  *    The range-partitioned frame is cached so the count pass and the
  *    final plan see identical partition boundaries (RangePartitioner
  *    samples).
  *
  * `order` must be a TOTAL order (unique keys) on BOTH paths: ties take
  * arbitrary ranks (on the ranged path they may even straddle range
  * boundaries), exactly as they do for a global row_number, so the two
  * paths agree row for row only on a total order.
  */
object GlobalIndex {

  /** Row bound of the driver path, shared with FdrSweep and Wasserstein
    * (the byte bound is [[graft.DriverGate]]'s). */
  val MaxDriverRows: Long = 1L << 16

  /** [[withGlobalIndex]] plus an explicit release handle for the internal
    * range-partitioned cache: callers invoke the handle once the indexed
    * output is materialized. Releasing BEFORE
    * materialization is unsafe — a re-evaluation would resample the range
    * boundaries and shift the index. On the driver path the handle is a
    * no-op (the result is a local frame). */
  def withGlobalIndexReleasable(df: DataFrame, order: Seq[Column],
      indexCol: String = "rn", numPartitions: Int = 0)
      : (DataFrame, () => Unit) = {
    val r = running(df, Nil, order, Nil, Some(indexCol), None, numPartitions)
    (r.frame, r.release)
  }

  def withGlobalIndex(df: DataFrame, order: Seq[Column],
      indexCol: String = "rn", numPartitions: Int = 0): DataFrame =
    withGlobalIndexReleasable(df, order, indexCol, numPartitions)._1

  /** Global EXCLUSIVE prefix sum of `valueCol` over a total order — the
    * running-total twin of [[withGlobalIndexReleasable]], replacing the
    * single-partition `sum() OVER (ORDER BY …)` that dies at scale. Null
    * values count as 0. Exclusive (the sum of all STRICTLY-preceding rows)
    * because that is what consumers want as a start offset — sequence
    * packing, byte offsets, allocation cursors.
    *
    * `order` must be a TOTAL order (the [[withGlobalIndex]] convention):
    * with ties the per-row result depends on the (nondeterministic) tie
    * order. */
  def withGlobalCumsumReleasable(df: DataFrame, order: Seq[Column],
      valueCol: Column, cumsumCol: String = "cumsum_excl",
      numPartitions: Int = 0): (DataFrame, () => Unit) = {
    val r = running(df, Nil, order, Seq(valueCol -> cumsumCol), None, None,
      numPartitions)
    (r.frame, r.release)
  }

  /** Generalized single-partition-window replacement: over `order`,
    * computes an optional global row index plus an EXCLUSIVE global prefix
    * sum for EACH of `sums` (valueCol → output name), and returns the
    * per-column grand totals and row count (driver values — the
    * k-row/1-row literals a caller formerly read off `count().over()` /
    * `sum().over()` unbounded windows). Inclusive running values are
    * `excl + own`, exactly the single-partition window's integers. Null
    * values count as 0 (the [[withGlobalCumsumReleasable]] convention);
    * `order` must be a total order for deterministic per-row sums
    * (value-cell frames — one row per distinct value — always qualify).
    * The totals and the count are exact on both paths (the driver fold's
    * sums, the ranged path's counts collect), so a caller that needs a
    * grand total or `n` takes it from here as a literal and never
    * aggregates the input again — a second aggregate would run the
    * input's upstream once more after the gate probe already ran it.
    * On the ranged path the range cache stays for the session
    * (boundary-resample hazard). */
  def withGlobalRunning(df: DataFrame, order: Seq[Column],
      sums: Seq[(Column, String)], indexCol: String = null,
      numPartitions: Int = 0): (DataFrame, Array[Long], Long) = {
    val r = running(df, Nil, order, sums, Option(indexCol), None,
      numPartitions)
    (r.frame, r.totals, r.n)
  }

  /** PER-GROUP global rank + group totals over a within-group total
    * order — the grouped twin of [[withGlobalIndexReleasable]], replacing
    * `row_number() OVER (PARTITION BY g ORDER BY …)` whose sort
    * parallelism is capped at |groups| (3 for a returnflag-keyed median:
    * a third of the corpus through one task at any scale).
    *
    * On the ranged path the range partitioning is on (groupCols ++ order),
    * so a group SPANS partitions while every partition still holds
    * contiguous-in-order slices; per-group offsets accumulate driver-side
    * in partition order (≤ partitions·|groups| rows — driver-sized
    * whenever |groups| is a reporting axis), and the group TOTAL rides on
    * the same broadcast offset row as `countCol`, so callers get rank + n
    * in ONE data shuffle. A NULL group key is a group like any other (the
    * offsets attach by null-safe equality), as in the window.
    *
    * Output columns: groupCols, the other input columns, `indexCol`,
    * `countCol`. Rows tied on (group, order) take arbitrary ranks WITHIN
    * the tie run, exactly as the window's row_number does — callers must
    * be tie-insensitive (order statistics on values are). The ranged
    * frame stays cached (the boundary-resample hazard, see
    * [[withGlobalIndexReleasable]]); the session owns the release. */
  def withGroupedIndex(df: DataFrame, groupCols: Seq[String],
      order: Seq[Column], indexCol: String = "rn",
      countCol: String = "cnt", numPartitions: Int = 0): DataFrame =
    running(df, groupCols, order, Nil, Some(indexCol), Some(countCol),
      numPartitions).frame

  /** Result of the core: the frame, the grand totals of the sums, the row
    * count, and the handle that drops the ranged cache (a no-op on the
    * driver path). */
  private final case class Running(frame: DataFrame, totals: Array[Long],
      n: Long, release: () => Unit)

  /** The one core. Output columns: `groupCols`, the other input columns,
    * the sum names, then `indexCol` and `countCol` when given. */
  private def running(df: DataFrame, groupCols: Seq[String],
      order: Seq[Column], sums: Seq[(Column, String)],
      indexCol: Option[String], countCol: Option[String],
      numPartitions: Int): Running = {
    val vals = sums.indices.map(i => s"__v$i")
    val withVals = sums.zip(vals).foldLeft(df) { case (acc, ((c, _), v)) =>
      acc.withColumn(v, coalesce(c.cast("long"), lit(0L))) }
    val added = sums.map(_._2) ++ indexCol ++ countCol
    val outCols = groupCols ++
      df.columns.filterNot(c => groupCols.contains(c) || added.contains(c)) ++
      added
    val op = if (groupCols.nonEmpty) "GlobalIndex.withGroupedIndex"
      else "GlobalIndex.running"
    graft.DriverGate.rows(op, withVals, MaxDriverRows,
        groupCols.map(quoted) ++ order) match {
      case Some(rows) =>
        onDriver(withVals, rows, groupCols, vals, sums.map(_._2), indexCol,
          countCol, outCols)
      case None =>
        ranged(withVals, groupCols, order, vals, sums.map(_._2), indexCol,
          countCol, outCols, numPartitions)
    }
  }

  private def quoted(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  /** Group key of a collected row, compared the way Spark groups: binary
    * by content, -0.0 as 0.0, every NaN equal. */
  private def groupKey(r: Row, pos: Seq[Int]): Seq[Any] = pos.map { i =>
    r.get(i) match {
      case b: Array[Byte] => b.toSeq
      case d: Double => if (d.isNaN) "NaN" else if (d == 0.0) 0.0 else d
      case f: Float => if (f.isNaN) "NaN" else if (f == 0.0f) 0.0f else f
      case v => v
    }
  }

  /** Driver path: `rows` are sorted by (groupCols ++ order). */
  private def onDriver(withVals: DataFrame, rows: Array[Row],
      groupCols: Seq[String], vals: Seq[String], sumNames: Seq[String],
      indexCol: Option[String], countCol: Option[String],
      outCols: Seq[String]): Running = {
    val schema = withVals.schema
    val gPos = groupCols.map(schema.fieldIndex)
    val vPos = vals.map(schema.fieldIndex)
    val basePos = outCols.take(outCols.length - sumNames.length -
      indexCol.size - countCol.size).map(schema.fieldIndex)
    val n = rows.length
    val totals = new Array[Long](vals.length)
    val out = new Array[Row](n)
    var start = 0
    while (start < n) {
      val key = groupKey(rows(start), gPos)
      var end = start + 1
      while (end < n && groupKey(rows(end), gPos) == key) end += 1
      val acc = new Array[Long](vals.length)
      var i = start
      while (i < end) {
        val r = rows(i)
        out(i) = Row.fromSeq(basePos.map(r.get) ++ acc.toSeq ++
          indexCol.map(_ => (i - start + 1).toLong) ++
          countCol.map(_ => (end - start).toLong))
        vPos.indices.foreach { j => acc(j) += r.getLong(vPos(j)) }
        i += 1
      }
      vPos.indices.foreach { j => totals(j) += acc(j) }
      start = end
    }
    val fields = basePos.map(schema.fields) ++
      sumNames.map(StructField(_, LongType)) ++
      (indexCol ++ countCol).map(StructField(_, LongType, nullable = false))
    val spark = withVals.sparkSession
    val frame = spark.createDataFrame(
      java.util.Arrays.asList(out: _*), StructType(fields))
    Running(frame, totals, n.toLong, () => ())
  }

  /** Ranged path over `input` as given. */
  private def ranged(input: DataFrame,
      groupCols: Seq[String], order: Seq[Column], vals: Seq[String],
      sumNames: Seq[String], indexCol: Option[String],
      countCol: Option[String], outCols: Seq[String],
      numPartitions: Int): Running = {
    val spark = input.sparkSession
    val parts = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = input
      .repartitionByRange(parts, (groupCols.map(quoted) ++ order): _*).cache()
    val withPid = ranged.withColumn("__pid", spark_partition_id())
    val keyCols = col("__pid") +: groupCols.map(quoted)
    val aggs = count(lit(1)).as("__c") +: vals.map(v => sum(v).as(v))
    val countsDf = withPid.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
    val counted = countsDf.collect()
    // per-group offsets in partition order, plus the per-group row count
    val g = groupCols.length
    val cPos = 1 + g
    val byGroup = counted.groupBy(r => groupKey(r, 1 to g)).values.toSeq
    val offRows = byGroup.flatMap { rs =>
      val sorted = rs.sortBy(_.getInt(0))
      val offs = (0 to vals.length).map(j =>
        sorted.map(_.getLong(cPos + j)).scanLeft(0L)(_ + _))
      sorted.indices.map { i =>
        Row.fromSeq(sorted(i).toSeq.take(cPos) ++ offs.map(_(i)) :+
          offs(0).last)
      }
    }
    val n = counted.map(_.getLong(cPos)).sum
    val totals = vals.indices.map(j =>
      counted.map(_.getLong(cPos + 1 + j)).sum).toArray
    val keyFields = countsDf.schema.fields.take(cPos)
    // a local relation: broadcasting it runs no job
    val offDf = spark.createDataFrame(java.util.Arrays.asList(offRows: _*),
      StructType(
        keyFields.zipWithIndex.map { case (f, i) => f.copy(name = s"__o$i") } ++
          (0 to vals.length).map(j => StructField(s"__off$j", LongType)) :+
          StructField("__gcnt", LongType)))
    // null-safe on the group keys: a NULL group is a group like any other
    val cond = (col("__pid") === col("__o0")) +:
      groupCols.zipWithIndex.map { case (c, i) =>
        quoted(c) <=> col(s"__o${i + 1}") }
    val joined = withPid.join(broadcast(offDf), cond.reduce(_ && _))
    val wRows = Window.partitionBy(keyCols: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withSums = vals.zip(sumNames).zipWithIndex.foldLeft(joined) {
      case (acc, ((v, name), j)) =>
        acc.withColumn(name, sum(v).over(wRows) - col(v) + col(s"__off${j + 1}"))
    }
    val withIdx = indexCol.foldLeft(withSums) { (acc, name) =>
      acc.withColumn(name,
        row_number().over(Window.partitionBy(keyCols: _*).orderBy(order: _*))
          .cast("long") + coalesce(col("__off0"), lit(0L)))
    }
    val out = countCol.foldLeft(withIdx) { (acc, name) =>
      acc.withColumn(name, col("__gcnt")) }
    Running(out.select(outCols.map(quoted): _*), totals, n,
      () => { ranged.unpersist(blocking = false); () })
  }
}
