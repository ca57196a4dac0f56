package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Observation
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The dev entry point (not part of the driver contract): runs the named
  * queries in order on one warm session and prints, per run, its wall
  * time and row count, then its Spark-job breakdown — job count, summed
  * job seconds, driver-side seconds (wall minus the job sum), the
  * classes Janino compiled and their compile milliseconds, and the 12
  * longest jobs by description or call site — so an optimization
  * targets the job that actually costs instead of the key's total.
  * Each key's whole plan runs into Spark's `noop` sink, as perfbench
  * runs it (a `count()` would drop final sorts and unneeded
  * projections); rows come from an observation on top of the plan.
  * Naming a key N times runs it N times: a min-of-N measurement.
  * `scripts/run.sh graft.DebugRun <sfDir> <name...>` */
object DebugRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq
    val spark = GraftSession(8)
    // running jobs (label, start ms) by id; the current run's finished
    // jobs (label, seconds); each SQL execution's call site by id
    val started = new ConcurrentHashMap[Int, (String, Long)]
    val finished = new ConcurrentLinkedQueue[(String, Double)]
    val sqlSites = new ConcurrentHashMap[Long, String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlSites.put(s.executionId, s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        // a job's call site is its SQL action's (adaptive stages run on
        // a pool thread whose own stack names no caller), else its
        // result stage's name
        val desc = prop("spark.job.description")
          .orElse(prop("spark.sql.execution.id")
            .flatMap(id => Option(sqlSites.get(id.toLong))))
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
          .getOrElse("?")
        started.put(e.jobId, (desc, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(started.remove(e.jobId)).foreach { case (d, t0) =>
          finished.add((d, (e.time - t0) / 1e3)) // listener times are ms
        }
    })
    val queries = SparkEntry.queries
    // classes Janino has compiled in this JVM, and their milliseconds
    def compiled(): (Long, Double) = (
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime / 1e6)
    // DEBUG_SKEW_AQE=1: execute inside the scaled-down skew-detector
    // scope EngineSpec uses, so the final adaptive plan shows the
    // skew-split SMJ at test scale (for plan capture into PLANS.md)
    def scoped[T](body: => T): T =
      if (sys.env.contains("DEBUG_SKEW_AQE"))
        graft.operators.Joins.withSkewAqeConf(spark)(body)
      else body
    names.foreach { n =>
      // the previous key's DEBUG_SHOW jobs are not this run's
      GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
      finished.clear()
      val (classes0, compileMs0) = compiled()
      val t0 = System.nanoTime()
      // build ONCE: some keys run eager construction-time work (model
      // collects, lazy-checkpoint planting) that explain/show would
      // otherwise repeat per flag
      val df = scoped { queries(n)(spark, sfDir) }
      // the noop write and the observation execute DERIVED
      // QueryExecutions — in executed-plan mode run df's own collect so
      // df.queryExecution is the one that ran (and carries the final
      // adaptive plan)
      val cnt = scoped {
        if (sys.env.contains("DEBUG_EXECUTED")) df.collect().length.toLong
        else {
          val rows = Observation()
          df.observe(rows, count(lit(1)).as("rows"))
            .write.format("noop").mode("overwrite").save()
          rows.get("rows").asInstanceOf[Long]
        }
      }
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[debug] $n%-28s $sec%8.2f s  rows=$cnt")
      GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
      val jobs = {
        import scala.jdk.CollectionConverters._
        finished.asScala.toSeq
      }
      val jobSec = jobs.map(_._2).sum
      val (classes, compileMs) = compiled()
      println(f"[debug]   jobs=${jobs.size} job_s=$jobSec%.3f " +
        f"driver_s=${sec - jobSec}%.3f compiled=${classes - classes0} " +
        f"compile_ms=${compileMs - compileMs0}%.0f")
      jobs.sortBy(-_._2).take(12).foreach { case (d, s) =>
        println(f"[debug]   $s%8.3f s  ${d.take(90)}")
      }
      if (sys.env.contains("DEBUG_EXPLAIN")) df.explain("formatted")
      // the FINAL adaptive plan (post-execution), where AQE's runtime
      // rewrites — skew splits, coalesced readers — are visible
      if (sys.env.contains("DEBUG_EXECUTED"))
        println(df.queryExecution.executedPlan.toString)
      // DEBUG_SHOW=true (flag-style) means the default depth, not a crash
      sys.env.get("DEBUG_SHOW").foreach { v =>
        df.show(v.toIntOption.getOrElse(20), false)
      }
    }
    spark.stop()
  }
}
