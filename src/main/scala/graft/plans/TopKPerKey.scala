package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.IntegerType

/** Whole-operator top-k-per-key — the custom `LogicalPlan` + `Strategy` +
  * `SparkPlan` path (SURVEY.md §7.4 / spark_guide "custom operator").
  *
  * Spark plans `row_number() <= k` per key as a group limit on sorted
  * input on both sides of the exchange, so every partition is fully
  * sorted. This operator, reached only through [[topKPerKey]], plans
  * `PartialTopK → Exchange(key) → FinalTopK`: bounded heaps on both
  * sides, so
  *  - the shuffle carries at most k rows per (key, input partition) —
  *    the map-side partial plays the role partial aggregation plays for
  *    groupBy, turning an O(n) shuffle into O(k·parts·keys);
  *  - no full sort ever happens — per group the cost is n·log k, and
  *    memory is bounded by k rows per key regardless of skew.
  * At 100 TB with hot keys this is the difference between a spilling
  * sort and a fixed-size heap.
  *
  * The final operator appends a `rank` column (1 = best under `order`,
  * ties broken by the caller-supplied tie-break sort columns, so output
  * is deterministic).
  */
object TopKPerKey {

  /** Logical node: top `k` rows per `keys` group under `order`
    * (lexicographic; best = first). Output = child columns + `rank`.
    */
  case class TopKPerKeyNode(keys: Seq[Expression], order: Seq[SortOrder],
                            k: Int, child: LogicalPlan,
                            // constructor param (not a body val) so the
                            // exprId survives copy() during optimizer passes
                            rankAttr: Attribute =
                              AttributeReference("rank", IntegerType, nullable = false)())
      extends UnaryNode {
    override def output: Seq[Attribute] = child.output :+ rankAttr
    override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
    override def maxRows: Option[Long] = child.maxRows
    override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan =
      copy(child = c)
  }

  /** Physical partial stage: local heaps, no required distribution, no
    * rank output (ranks only exist after the final merge).
    */
  case class PartialTopKExec(keys: Seq[Expression], order: Seq[SortOrder],
                             k: Int, child: SparkPlan) extends UnaryExecNode {
    override def output: Seq[Attribute] = child.output
    override def outputPartitioning: Partitioning = child.outputPartitioning
    override protected def doExecute(): RDD[InternalRow] = {
      // locals only — the closure must not capture the SparkPlan (`this`)
      val (ks, ord, kk, in) = (keys, order, k, child.output)
      child.execute().mapPartitions({ iter =>
        TopKPerKey.heapTopK(iter, ks, ord, kk, in).flatMap(_._2)
      }, preservesPartitioning = true)
    }
    override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
      copy(child = c)
  }

  /** Physical final stage: requires clustering on `keys`, emits ranked
    * rows (best-first per key).
    */
  case class FinalTopKExec(keys: Seq[Expression], order: Seq[SortOrder],
                           k: Int, rankAttr: Attribute, child: SparkPlan)
      extends UnaryExecNode {
    override def output: Seq[Attribute] = child.output :+ rankAttr
    override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
    override def requiredChildDistribution: Seq[Distribution] =
      Seq(ClusteredDistribution(keys))
    override def outputPartitioning: Partitioning = child.outputPartitioning
    override protected def doExecute(): RDD[InternalRow] = {
      val (ks, ord, kk, in, out) = (keys, order, k, child.output, output)
      child.execute().mapPartitions({ iter =>
        val proj = UnsafeProjection.create(out, out)
        TopKPerKey.heapTopK(iter, ks, ord, kk, in).flatMap {
          case (_, rows) =>
            rows.iterator.zipWithIndex.map { case (row, i) =>
              val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow(
                row, InternalRow(i + 1))
              proj(joined)
            }
        }
      }, preservesPartitioning = true)
    }
    override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
      copy(child = c)
  }

  /** Shared heap pass: consume a partition, keep the best k rows per key
    * under `order`, emit (key, rows best-first).
    */
  private def heapTopK(iter: Iterator[InternalRow], keys: Seq[Expression],
                       order: Seq[SortOrder], k: Int,
                       input: Seq[Attribute]): Iterator[(UnsafeRow, Seq[UnsafeRow])] = {
    val keyProj = UnsafeProjection.create(keys, input)
    val rowProj = UnsafeProjection.create(input, input)
    // LazilyGeneratedOrdering: lt means "sorts earlier" = better
    val ord: Ordering[InternalRow] = new LazilyGeneratedOrdering(order, input)
    val heapOrd: Ordering[UnsafeRow] = ord.on((r: UnsafeRow) => r: InternalRow)
    val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
    iter.foreach { row =>
      val key = keyProj(row)
      val heap = heaps.get(key) match {
        case Some(h) => h
        case None =>
          val h = mutable.PriorityQueue.empty[UnsafeRow](heapOrd) // max = worst on top
          heaps.put(key.copy(), h)
          h
      }
      if (heap.size < k) heap += rowProj(row).copy()
      else if (ord.lt(row, heap.head)) {
        heap.dequeue()
        heap += rowProj(row).copy()
      }
    }
    heaps.iterator.map { case (key, heap) =>
      key -> heap.dequeueAll.reverse.toSeq // dequeue = worst-first; reverse = best-first
    }
  }

  /** Planner strategy: logical TopKPerKeyNode → partial + final execs. */
  object TopKStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case n: TopKPerKeyNode =>
        FinalTopKExec(n.keys, n.order, n.k, n.rankAttr,
          PartialTopKExec(n.keys, n.order, n.k, planLater(n.child))) :: Nil
      case _ => Nil
    }
  }

  /** Idempotently register the planner strategy on a live session
    * (called by [[graft.functions.GraftExtensions.register]]).
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(TopKStrategy))
      spark.experimental.extraStrategies = cur :+ TopKStrategy
  }

  /** DataFrame API: top `k` rows per `keyCols` group, ordered by
    * `orderBy` — `(columnName, descending)` pairs, lexicographic (e.g.
    * `("score", true), ("id", false)` = score desc, id asc for
    * deterministic ties) — with a 1-based `rank` column appended.
    */
  def topKPerKey(df: DataFrame, keyCols: Seq[String],
                 orderBy: Seq[(String, Boolean)], k: Int): DataFrame = {
    require(keyCols.nonEmpty, "topKPerKey needs at least one key column")
    val spark = df.sparkSession
    ensureRegistered(spark)
    val child = bridge.analyzedPlan(df)
    def attr(n: String): Attribute =
      child.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in ${child.output.map(_.name)}"))
    val keyExprs: Seq[Expression] = keyCols.map(attr)
    val sortOrders: Seq[SortOrder] = orderBy.map { case (n, desc) =>
      SortOrder(attr(n),
        if (desc) org.apache.spark.sql.catalyst.expressions.Descending
        else org.apache.spark.sql.catalyst.expressions.Ascending)
    }
    bridge.ofRows(spark, TopKPerKeyNode(keyExprs, sortOrders, k, child))
  }
}
