package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: `layer` is a module name of the engine or a
  * Spark runtime layer; `parent` indexes the enclosing span of the same
  * operation (-1 for the operation's root). Times are epoch µs. */
final case class Span(op: String, name: String, layer: String,
    start: Long, end: Long, parent: Int)

/** Per-operation tracing through Spark's public listener hooks. The
  * caller brackets each operation with [[begin]]/[[end]] on the single
  * client thread; [[end]] drains the listener bus, so every event of the
  * operation has arrived before it is attributed. The operation's ID is
  * its job group, but every event between [[begin]] and [[end]] belongs
  * to it, because the client loop is closed: jobs of a streaming query
  * run under the query's own job group, and query-execution and
  * streaming callbacks carry none. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val lock = new Object
  private var cur: String = null
  private val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageOp = mutable.Map.empty[Int, String]
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val qes = mutable.ArrayBuffer.empty[QueryExecution]
  private val progress =
    mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private def add(k: String, v: Double): Unit = sums(k) += v

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      if (cur != null) {
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(s => stageOp(s) = cur)
        add("scheduler.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach(t0 => jobs += ((e.jobId, t0, e.time)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        val si = e.stageInfo
        if (cur != null && stageOp.get(si.stageId).contains(cur))
          add("scheduler.stages", 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      if (cur != null && stageOp.get(e.stageId).contains(cur)) {
        add("scheduler.tasks", 1)
        val m = e.taskMetrics
        val info = e.taskInfo
        if (m != null) {
          add("executor.run_s", m.executorRunTime / 1e3)
          add("executor.cpu_s", m.executorCpuTime / 1e9)
          add("executor.gc_s", m.jvmGCTime / 1e3)
          add("executor.input_bytes", m.inputMetrics.bytesRead.toDouble)
          add("executor.output_bytes", m.outputMetrics.bytesWritten.toDouble)
          add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          add("shuffle.spill_bytes",
            (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble)
          // scheduler delay as the Spark UI defines it: time the task
          // spent neither deserializing, running nor serializing
          val delay = (info.finishTime - info.launchTime) - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime
          add("scheduler.task_delay_s", math.max(delay, 0L) / 1e3)
        }
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      lock.synchronized { if (cur != null) qes += qe }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      lock.synchronized { if (cur != null) qes += qe }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent) = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent) = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { if (cur != null) progress += e }
  })

  private def drain(): Unit =
    org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)

  private var fs0 = Seq(0L, 0L, 0L)

  def begin(op: String): Unit = {
    drain()
    fs0 = CountingFileSystem.snapshot()
    lock.synchronized {
      cur = op; jobs.clear(); jobStart.clear(); sums.clear(); qes.clear()
      progress.clear()
    }
  }

  /** Close the operation: its layer metrics, and its job and
    * query-planning spans (children of the operation's root span). */
  def end(op: String, rootIdx: Int): (Map[String, Double], Seq[Span]) = {
    drain()
    lock.synchronized {
      val out = mutable.Map.empty[String, Double] ++ sums
      val spans = mutable.ArrayBuffer.empty[Span]
      jobs.sortBy(_._2).foreach { case (id, t0, t1) =>
        spans += Span(op, s"job-$id", "scheduler", t0 * 1000, t1 * 1000, rootIdx)
      }
      qes.foreach { qe =>
        val phases = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          phases.get(p).foreach { s =>
            out(s"catalyst.${p}_s") = out.getOrElse(s"catalyst.${p}_s", 0.0) +
              s.durationMs / 1e3
            spans += Span(op, p, "catalyst", s.startTimeMs * 1000,
              s.endTimeMs * 1000, rootIdx)
          }
        }
        PlanShape.count(qe.executedPlan).foreach { case (k, v) =>
          out(k) = out.getOrElse(k, 0.0) + v
        }
      }
      progress.foreach { e =>
        val d = e.progress.durationMs
        def ms(k: String): Double =
          Option(d.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
        out("streaming.batches") = out.getOrElse("streaming.batches", 0.0) + 1
        out("streaming.batch_s") = out.getOrElse("streaming.batch_s", 0.0) +
          ms("triggerExecution")
        out("streaming.commit_s") = out.getOrElse("streaming.commit_s", 0.0) +
          ms("walCommit") + ms("commitOffsets")
      }
      Seq("sources.fs_read_ops", "sources.fs_write_ops", "sources.fs_list_ops")
        .zip(CountingFileSystem.snapshot().zip(fs0))
        .foreach { case (k, (now, before)) => out(k) = (now - before).toDouble }
      qes.lastOption.flatMap(qe => PlanShape.outputRows(qe.executedPlan))
        .foreach(n => out("operators.output_rows") = n.toDouble)
      cur = null
      (out.toMap, spans.toSeq)
    }
  }
}

/** Plan-shape counters over an executed plan, descending through
  * adaptive and query-stage wrappers and subqueries. */
object PlanShape {
  import org.apache.spark.sql.execution._
  import org.apache.spark.sql.execution.adaptive._
  import org.apache.spark.sql.execution.exchange._
  import org.apache.spark.sql.execution.joins._
  import org.apache.spark.sql.execution.window.WindowExec
  import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback

  def count(root: SparkPlan): Map[String, Double] = {
    val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def visit(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case _ =>
      }
      p match {
        case _: ShuffleExchangeLike => c("plans.exchanges") += 1
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
          c("plans.broadcast_joins") += 1
        case _: SortMergeJoinExec => c("plans.sort_merge_joins") += 1
        case _: TakeOrderedAndProjectExec => c("plans.topk_nodes") += 1
        case w: WindowExec if w.partitionSpec.isEmpty =>
          c("plans.global_windows") += 1
        case _: WholeStageCodegenExec => c("functions.wscg_subtrees") += 1
        case _ =>
      }
      if (p.nodeName.contains("TopK")) c("plans.topk_nodes") += 1
      c("functions.codegen_fallbacks") += p.expressions
        .map(_.collect { case f: CodegenFallback => f }.size).sum
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(root)
    c.toMap
  }

  /** Rows the top query node produced (the rows handed to the sink). */
  def outputRows(root: SparkPlan): Option[Long] = {
    def find(p: SparkPlan): Option[Long] = p match {
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case q: QueryStageExec => find(q.plan)
      case _ => p.metrics.get("numOutputRows").map(_.value)
          .orElse(p.children.headOption.flatMap(find))
    }
    find(root)
  }
}
