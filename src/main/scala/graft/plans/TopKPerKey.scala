package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Whole-operator Catalyst extension (SURVEY.md §7.2 tier (c)): per-key
  * top-k as a first-class logical operator with a two-phase physical plan.
  *
  * The reference's per-key "latest/top rows" scans (hourly leaders in
  * `aig/TimeBasedPartitioningExamples.java:271-279`, first-record-per-
  * partition probes in `aig/PartitionValueDebugger.java:119-135`) are the
  * per-key generalization of its global sorted().limit(6) — which Spark
  * plans as TakeOrderedAndProject. The per-KEY form has no such operator:
  * the built-in spelling is Window(row_number) + Filter(rn <= k), which
  * shuffles EVERY row to its key's partition and sorts each group, with
  * WindowGroupLimit's per-partition pre-rank as mitigation.
  *
  * This operator makes the reduction the operator itself:
  *   partial TopKPerKeyExec  — one bounded heap per key per partition;
  *                             at most k rows per (key, partition) survive
  *   Exchange(hash keys)     — inserted by EnsureRequirements from the
  *                             final node's required ClusteredDistribution;
  *                             carries ≤ k·|keys| rows per upstream
  *                             partition, not the table
  *   final TopKPerKeyExec    — same heap pass over the ≤ k·P candidates
  *                             per key; no sort of anything but heap pushes
  *
  * At 100 TB the difference is the shuffle: O(k · keys · partitions) vs
  * O(rows). Heap maintenance is O(n log k) with no buffering of the
  * partition (Window buffers each group; sort-based agg sorts the
  * partition). Output order within a key is unspecified, as with any
  * unsorted operator — callers that need a total order sort the ≤ k·|keys|
  * survivors, which is negligible.
  */
case class TopKPerKey(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"top-k needs k > 0, got $k")
  require(keys.nonEmpty,
    "global top-k has no key to cluster on — use orderBy(...).limit(k), " +
      "which Spark plans as TakeOrderedAndProject")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : TopKPerKey = copy(child = newChild)
}

/** Physical per-key top-k: one pass, one bounded min-heap per key.
  * `partial = true` runs map-side on whatever partitioning the child has;
  * `partial = false` demands co-location by key (EnsureRequirements adds
  * the hash exchange) and produces the exact answer.
  *
  * Memory bound: the partial flushes all heaps to output whenever the
  * number of live keys exceeds `graft.topk.maxPartialKeys` (default
  * 65536), capping its footprint at O(maxKeys · k) rows however many
  * distinct keys a partition holds. The flush is lossless: a row in the
  * partition's true per-key top-k is beaten by < k rows in the whole
  * partition, hence by < k rows in its own segment, so it survives its
  * segment's heap — the final pass reduces the segment winners exactly.
  * The final never flushes (it must be exact); it holds k rows per key
  * of ITS hash partition, the same non-spilling contract as streaming
  * agg state — size the shuffle partition count to the key cardinality.
  */
case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, partial: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(keys))
  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKeyFinal"

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"))

  override protected def withNewChildInternal(newChild: SparkPlan)
      : TopKPerKeyExec = copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val childOutput = child.output
    val isPartial = partial
    val maxKeys = conf.getConfString("graft.topk.maxPartialKeys", "65536")
      .toInt.max(1)
    val numOutputRows = longMetric("numOutputRows")
    child.execute().mapPartitions({ iter =>
      import scala.jdk.CollectionConverters._
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      // codegen'd composite ordering; "top" = first k under `order`
      val ord: Ordering[InternalRow] =
        new LazilyGeneratedOrdering(sortOrder, childOutput)
      val worstFirst = ord.reverse // heap head = current worst of the k
      val heaps =
        new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]
      new Iterator[InternalRow] {
        private var drain: Iterator[InternalRow] = Iterator.empty
        private def drainHeaps(): Iterator[InternalRow] = {
          val qs = new java.util.ArrayList(heaps.values)
          heaps.clear()
          qs.iterator.asScala.flatMap { q =>
            numOutputRows += q.size
            q.iterator.asScala
          }
        }
        private def fill(): Unit = {
          while (!drain.hasNext && iter.hasNext) {
            val row = iter.next()
            val key = keyProj(row)
            var q = heaps.get(key)
            if (q == null) {
              q = new java.util.PriorityQueue[InternalRow](limit + 1,
                worstFirst)
              heaps.put(key.copy(), q) // projection reuses its buffer
            }
            if (q.size < limit) q.offer(row.copy()) // iterator reuses rows
            else if (ord.lt(row, q.peek())) { q.poll(); q.offer(row.copy()) }
            // memory cap (partial only; see class doc for the proof)
            if (isPartial && heaps.size > maxKeys) drain = drainHeaps()
          }
          if (!drain.hasNext && !iter.hasNext && !heaps.isEmpty)
            drain = drainHeaps()
        }
        override def hasNext: Boolean = { fill(); drain.hasNext }
        override def next(): InternalRow = { fill(); drain.next() }
      }
    }, preservesPartitioning = true)
  }
}

/** Plans the logical node as partial → (exchange) → final. Registered per
  * session via `install` (`spark.experimental.extraStrategies`, same
  * mechanism as `SparkSessionExtensions.injectPlannerStrategy`), which
  * `graft.sources.Tables.warmup` calls.
  */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }

  /** Attach to a live session (idempotent). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ this
}

/** Public API: `TopK.perKey(df, keys, order, k)`, in a session that ran
  * `Tables.warmup` (it installs [[TopKPerKeyStrategy]]). */
object TopK {
  def perKey(df: DataFrame, keyCols: Seq[Column], orderCols: Seq[Column],
      k: Int): DataFrame = {
    val spark = df.sparkSession
    val keys = keyCols.map(GraftBridge.eagerExpression)
    val order = orderCols.map { c =>
      GraftBridge.eagerExpression(c) match {
        case so: SortOrder => so
        case e => SortOrder(e, Ascending)
      }
    }
    GraftBridge.ofRows(spark, TopKPerKey(keys, order, k, GraftBridge.plan(df)))
  }
}
