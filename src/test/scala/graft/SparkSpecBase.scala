package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (SURVEY.md §5 plan; one JVM via sbt fork). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sf: String = "/root/testdata/sf0.001"

  /** The number of Spark jobs `body` starts. */
  def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  /** All FileSourceScanExec nodes of an executed plan, descending
    * through the AQE wrappers (AdaptiveSparkPlanExec holds the live
    * plan; QueryStageExec is a LEAF whose real subtree hangs off
    * `.plan` — plain children traversal misses it). */
  def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      fileScans(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      fileScans(s.plan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(fileScans)
  }

  /** Every physical node's simple class name, through the same AQE
    * wrappers — the plan-shape pin the Retrieval/Similarity specs use,
    * shared so new pins can't drift on the traversal. */
  def planNodeNames(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[String] = {
    def walk(q: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = q match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        s +: walk(s.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(p).map(_.getClass.getSimpleName)
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = GraftSession(4)
}
