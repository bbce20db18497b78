package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.DatasetBridge

/** Grouped top-k as a NATIVE physical operator — the whole-operator rung
  * of the extension ladder (logical node + Strategy + SparkPlan,
  * registered through `extraStrategies` / SparkSessionExtensions), used
  * where composition genuinely can't express the efficient plan: the
  * window encoding (`row_number().over(partitionBy(g).orderBy(o))  <=
  * k`) must SHUFFLE AND SORT EVERY ROW — at 100 TB the whole table moves
  * so that all but k rows per group can be discarded after sorting.
  *
  * This operator never sorts a group and never ships a losing row: a
  * per-partition pass keeps a bounded k-heap per group key (memory =
  * groups-per-partition × k rows, CAPPED — past
  * `spark.graft.groupedTopK.partialMaxRows` retained rows the partial
  * degrades to pass-through for unseen groups, so corpus-cardinality
  * group keys can never OOM it; see doExecute), the exchange moves only
  * those ≤ |groups|·k·partitions survivors (requested declaratively —
  * `requiredChildDistribution` makes EnsureRequirements insert the
  * hash exchange), and an identical final pass merges them. The same
  * partial/final shape as a hash aggregate, with a heap where the
  * aggregate buffer would be. `TakeOrderedAndProject` is this idea for
  * ONE global group; Spark has no grouped form — hence the custom node.
  *
  * Measured 7.3x against the window encoding (5.25 s -> 0.72 s, 50M
  * rows / 100 groups / k=10, local[32]; OPTIMIZATION_r16.md, "Retired
  * measurement tools"); the spec pins exact row-set equality against the
  * window encoding (including ties, which break by the sort order's
  * trailing total-order columns), and
  * q_w6_grouped_topk hash-matches a DuckDB QUALIFY replica.
  */
final case class GroupedTopKNode(groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder], k: Int, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : GroupedTopKNode = copy(child = newChild)
}

object GroupedTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupedTopKNode(g, so, k, child) =>
      val partialExec: SparkPlan =
        GroupedTopKExec(g, so, k, partial = true, planLater(child))
      GroupedTopKExec(g, so, k, partial = false, partialExec) :: Nil
    case _ => Nil
  }
}

final case class GroupedTopKExec(groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder], k: Int, partial: Boolean, child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val groupE = groupExprs
    val orderE = sortOrder
    val kk = k
    val childOutput = child.output
    // Memory safety (partial pass only): the heap map retains up to
    // groups-per-partition × k row COPIES — fine for dashboard-style
    // group keys, unbounded for corpus-cardinality keys (knnGraph's
    // per-query-doc top-k). Past this many retained rows the partial
    // DEGRADES to pass-through for rows of groups it has not yet seen:
    // already-tracked groups keep filtering through their (bounded)
    // heaps, unseen groups' rows stream straight to the exchange where
    // the final pass — whose per-group input is already bounded to
    // k·upstream-partitions survivors per tracked group, and co-located
    // by the hash exchange — does the real bounding. Correctness is
    // unconditional (the final pass never degrades and a heap eviction
    // only ever drops a row proven beaten by k better rows of the SAME
    // group, which is only valid because a group is either fully
    // heap-filtered or fully passed-through, never mixed); the cost of
    // degrading is shuffle volume drifting toward the window encoding's,
    // never past it. Spark's own partial hash aggregate makes the same
    // move when its map spills. Threshold in ROWS via
    // spark.graft.groupedTopK.partialMaxRows (default 4M ≈ hundreds of
    // MB of UnsafeRow copies across 32 partitions); forced-low-threshold
    // fallback is spec-pinned against the window encoding.
    val maxRetained =
      if (partial) conf.getConfString(
        "spark.graft.groupedTopK.partialMaxRows", "4000000").toLong
      else Long.MaxValue
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(groupE, childOutput)
      // ordering on FULL rows by the requested sort order (ascending
      // rank: element 0 is the best row)
      val ord = RowOrdering.create(orderE, childOutput)
      // per-group bounded heap: head = current WORST kept row, so a
      // newcomer beats the heap iff ord.compare(newcomer, head) < 0
      val heaps = new java.util.HashMap[UnsafeRow,
        java.util.PriorityQueue[InternalRow]]()
      // SAM lambda (captures only `ord` — an anonymous Comparator class
      // would capture the exec node as its $outer and fail to serialize)
      val heapOrd: java.util.Comparator[InternalRow] =
        (a: InternalRow, b: InternalRow) => ord.compare(b, a)
      var retained = 0L
      // streaming pass: absorbed rows emit nothing now (their group's
      // survivors flush after input is exhausted); pass-through rows
      // emit immediately so overflow never buffers
      // LAZY pull: the upstream `it.next()` happens only on the
      // consumer's NEXT demand, never while a handed-out row is still
      // live — scan iterators reuse row objects, and a handed-out row is
      // only contractually valid until the next `next()` call
      val passThrough = new Iterator[InternalRow] {
        private var nextRow: InternalRow = null
        private def advance(): Unit = {
          while (nextRow == null && it.hasNext) {
            val row = it.next()
            val key = keyProj(row)
            var heap = heaps.get(key)
            if (heap == null && retained < maxRetained) {
              heap = new java.util.PriorityQueue[InternalRow](kk + 1, heapOrd)
              heaps.put(key.copy(), heap)
            }
            if (heap == null) nextRow = row // degraded: stream through
            else if (heap.size < kk) { heap.add(row.copy()); retained += 1 }
            else if (ord.compare(row, heap.peek()) < 0) {
              heap.poll()
              heap.add(row.copy())
            }
          }
        }
        override def hasNext: Boolean = { advance(); nextRow != null }
        override def next(): InternalRow = {
          advance()
          val r = nextRow; nextRow = null; r
        }
      }
      import scala.jdk.CollectionConverters._
      passThrough ++
        heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
      : GroupedTopKExec = copy(child = newChild)

  override def nodeName: String =
    if (partial) "GroupedTopKPartial" else "GroupedTopKFinal"
}

object GroupedTopK {

  /** Top-3 lineitems per return flag by price — the registered face of
    * the operator; DuckDB replays it as a window QUALIFY. */
  private val wGroupedTopK = graft.Q(
    (s, d) => topK(
      graft.Tables.lineitem(s, d).select("l_returnflag",
        "l_extendedprice", "l_orderkey", "l_linenumber"),
      Seq("l_returnflag"),
      Seq("l_extendedprice" -> true, "l_orderkey" -> false,
        "l_linenumber" -> false), k = 3)
      .orderBy("l_returnflag", "l_extendedprice", "l_orderkey"),
    Some("""SELECT l_returnflag, l_extendedprice, l_orderkey,
              l_linenumber
            FROM lineitem
            QUALIFY row_number() OVER (PARTITION BY l_returnflag
              ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) <= 3
            ORDER BY l_returnflag, l_extendedprice, l_orderkey"""))

  val queries: Map[String, graft.Q] = Map(
    "q_w6_grouped_topk" -> wGroupedTopK)

  /** Top `k` rows per group, ordered by `sortCols` as (column,
    * descending?) pairs evaluated lexicographically — include trailing
    * tie-break columns that make the order TOTAL, or ties keep an
    * arbitrary survivor. Catalyst SortOrders are built directly from the
    * analyzed child's attributes (the public Column sort AST carries
    * Connect-side nodes that do not serialize into task closures).
    * Registers the strategy on the session if absent. */
  def topK(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[(String, Boolean)], k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(GroupedTopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ GroupedTopKStrategy
    val child = DatasetBridge.analyzed(df)
    val byName = child.output.map(a => a.name -> a).toMap
    def attr(c: String) = byName.getOrElse(c,
      throw new IllegalArgumentException(s"no column $c"))
    val g = groupCols.map(attr(_): Expression)
    val so = sortCols.map { case (c, desc) =>
      SortOrder(attr(c),
        if (desc) org.apache.spark.sql.catalyst.expressions.Descending
        else org.apache.spark.sql.catalyst.expressions.Ascending)
    }
    DatasetBridge.ofRows(spark, GroupedTopKNode(g, so, k, child))
  }
}
