package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 moved `Column` off Catalyst `Expression` (Spark Connect split);
  * the classic-backend converters are `private[sql]`. This bridge lives in
  * the sql package namespace to expose the two conversions our custom
  * Catalyst expressions need. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** `Dataset.ofRows` and the analyzed plan of a DataFrame are
  * `private[sql]`; custom logical operators (graft.plans) need both to
  * wrap a plan they build back into the public Dataset API. */
object DatasetBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
}

/** The bounded, uncached row probe behind `graft.DriverGate` (which
  * documents the budgets and increments). */
object RowProbe {
  import org.apache.spark.rdd.RDD
  import org.apache.spark.sql.{Column, DataFrame, Row}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{RowOrdering, UnsafeRow}
  import org.apache.spark.sql.catalyst.plans.logical.Sort
  import org.apache.spark.sql.execution.SQLExecution

  /** The rows (None once a budget was passed), the rows and bytes the
    * probe read, and the rounds (jobs) it read them in. */
  final case class Probe(rows: Option[Array[Row]], seenRows: Long,
      seenBytes: Long, rounds: Int)

  /** Probes `df` in one SQL execution against `maxRows` and the session's
    * byte budget; under both, returns its rows, sorted by Catalyst's
    * ordering of `df.orderBy(order)` when `order` is given. */
  def apply(df: DataFrame, maxRows: Long, order: Seq[Column]): Probe = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val conf = ds.sparkSession.sessionState.conf
    val maxBytes = math.max(conf.autoBroadcastJoinThreshold, 0L)
    val qe = ds.queryExecution
    val (shipped, rows, bytes, rounds) = SQLExecution.withNewExecutionId(qe,
        Some("collect")) {
      qe.executedPlan.resetMetrics()
      val scaleUp = math.max(conf.limitScaleUpFactor, 2)
      scan(qe.executedPlan.execute(), maxRows, maxBytes,
        math.max(conf.limitInitialNumPartitions, math.min(scaleUp,
          ds.sparkSession.sparkContext.defaultParallelism)),
        scaleUp)
    }
    if (rows > maxRows || bytes > maxBytes)
      return Probe(None, rows, bytes, rounds)
    val output = ds.logicalPlan.output
    if (order.nonEmpty) {
      val sortOrder = ds.orderBy(order: _*).queryExecution.analyzed match {
        case Sort(so, true, child, _) if child.output == output => so
        case p => throw new IllegalArgumentException(
          s"order must name the frame's own columns:\n$p")
      }
      java.util.Arrays.sort(shipped, RowOrdering.create(sortOrder, output))
    }
    val toRow = ds.exprEnc
      .resolveAndBind(output, ds.sparkSession.sessionState.analyzer)
      .createDeserializer()
    Probe(Some(shipped.map(toRow)), rows, bytes, rounds)
  }

  /** Runs tasks over growing partition ranges (`initial` partitions —
    * one wave of the cluster's cores, capped at `scaleUp` — then `scaleUp`
    * times as many as were read, `executeTake`'s increments) until every
    * partition is read or a budget is passed; returns the shipped rows,
    * the rows and bytes read, and the rounds run. Each task reads at most
    * the remaining row budget and stops once it passes the remaining byte
    * budget; a task that reaches either ships no rows. Each task may ship
    * up to the whole remaining budget, so a round of n tasks can bring n
    * budgets to the driver before the sum is checked: the cap keeps the
    * first round's worst case at `scaleUp` budgets, what `executeTake`'s
    * second round already risks. */
  private def scan(rdd: RDD[InternalRow], maxRows: Long, maxBytes: Long,
      initial: Int, scaleUp: Int): (Array[InternalRow], Long, Long, Int) = {
    val total = rdd.partitions.length
    val shipped = Array.newBuilder[InternalRow]
    var rows = 0L
    var bytes = 0L
    var scanned = 0
    var rounds = 0
    while (scanned < total && rows <= maxRows && bytes <= maxBytes) {
      val n = if (scanned == 0) initial else scanned * scaleUp
      val parts = scanned until math.min(scanned + n, total)
      val rowBudget = maxRows + 1 - rows
      val byteBudget = maxBytes - bytes
      rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        val out = Array.newBuilder[UnsafeRow]
        var r = 0L
        var b = 0L
        while (r < rowBudget && b <= byteBudget && it.hasNext) {
          val row = it.next().asInstanceOf[UnsafeRow].copy()
          out += row
          r += 1
          b += row.getSizeInBytes
        }
        val over = r >= rowBudget || b > byteBudget
        (r, b, if (over) Array.empty[UnsafeRow] else out.result())
      }, parts).foreach { case (r, b, got) =>
        rows += r
        bytes += b
        shipped ++= got
      }
      scanned += parts.length
      rounds += 1
    }
    (shipped.result(), rows, bytes, rounds)
  }
}
