package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{IngestOps, LakeOps}

/** The `lake_ingest` commit loop: the corpus `events` rows, split into
  * [[nSlices]] batches by a hash of `event_id` with the seed, each
  * committed with `LakeOps.appendCommit` into a table that starts empty,
  * and each commit followed by a day-range aggregate over
  * `LakeOps.readCurrent`. Every batch holds rows of every day, so each
  * commit adds one file per day (30) and the live file count grows by
  * that much per commit: the reads weigh metadata and file lists that
  * grow with the table's history. */
final class LakeLoop(spark: SparkSession, corpus: String, root: String,
    seed: Long, clk: Clock, spans: mutable.ArrayBuffer[Span]) {
  import spark.implicits._
  val nSlices = 8
  val slices: Seq[Int] = 0 until nSlices

  // untimed: materialize the source once, so each commit times the
  // commit path and not the source scan
  private val src = IngestOps.eventsWithParts(spark, corpus)
    .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"day")
    .withColumn("slice", pmod(xxhash64($"event_id", lit(seed)), lit(nSlices)))
    .localCheckpoint()
  private var loopT0 = -1L
  private var loopT1 = -1L
  createTable(root)

  /** Commit step boundaries reported through `onStep`, mapped to the
    * layer metric of the step that ends there. */
  private val stepMetric = Map("staged" -> "commit_stage",
    "data-written" -> "commit_publish", "linked" -> "commit_cas")

  private def slice(i: Int) = src.filter($"slice" === i).drop("slice")

  private def createTable(at: String): Unit = Seq("data", "metadata")
    .foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(at, d)))

  /** The read that follows each commit: a day-range aggregate. */
  private def readAgg(at: String): DataFrame =
    LakeOps.readCurrent(spark, at)
      .filter($"day".between(5, 25))
      .groupBy($"day")
      .agg(count(lit(1)).as("n"), sum($"value").as("sum_value"))

  /** Untimed: a few commits and reads on a scratch table, so the timed
    * loop starts with the commit and read paths already compiled. */
  def warmUp(sink: DataFrame => Unit): Unit = {
    val warm = s"$root-warmup"
    createTable(warm)
    (0 until 2).foreach { i =>
      LakeOps.appendCommit(spark, warm, slice(i))
      sink(readAgg(warm))
    }
    org.apache.spark.network.util.JavaUtils
      .deleteRecursively(new java.io.File(warm))
  }

  def commit(i: Int, ctx: Ctx): Map[String, Double] = {
    if (loopT0 < 0) loopT0 = clk.us()
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var last = clk.us()
    var attempts = 0
    val slot = LakeOps.appendCommit(spark, root, slice(i), maxAttempts = 3,
      onStep = step => {
        if (step == "attempt-written") attempts += 1
        stepMetric.get(step).foreach { m =>
          val now = clk.us()
          out(s"sources.${m}_s") += (now - last) / 1e6
          if (ctx.traced) spans += Span(ctx.id, m, "sources", last, now,
            ctx.rootIdx)
          last = now
        }
      })
    val now = clk.us()
    out("sources.commit_ref_s") += (now - last) / 1e6
    if (ctx.traced) spans += Span(ctx.id, "commit_ref", "sources", last, now,
      ctx.rootIdx)
    require(slot > 0, s"commit of slice $i lost every CAS attempt")
    out("sources.commit_lost") = (attempts - 1).toDouble
    out.toMap
  }

  def read(sink: DataFrame => Unit): Map[String, Double] = {
    sink(readAgg(root))
    loopT1 = clk.us()
    Map.empty
  }

  /** The metadata half of `readCurrent`, timed on its own right after a
    * traced read, outside the read's timed bracket. */
  def probeLiveFiles(ctx: Ctx): Map[String, Double] = {
    val t0 = clk.us()
    val snaps = LakeOps.readRefs(spark, root)("main")
    val live = LakeOps.liveFiles(spark, root, 1 to snaps)
    val t1 = clk.us()
    spans += Span(ctx.id, "liveFiles", "sources", t0, t1, -1)
    Map("sources.live_files_s" -> (t1 - t0) / 1e6,
      "sources.manifests_read" -> 2.0 * snaps,
      "sources.live_files" -> live.size.toDouble)
  }

  /** Table footprint after the loop: files and bytes under data/ and
    * metadata/. */
  def stats(): Map[String, Any] = {
    def walk(sub: String): (Long, Long) = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root, sub))
      try {
        val fs = w.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
          .filter(p => java.nio.file.Files.isRegularFile(p))
        (fs.size.toLong, fs.map(p => java.nio.file.Files.size(p)).sum)
      } finally w.close()
    }
    val (df, db) = walk("data")
    val (mf, mb) = walk("metadata")
    Map("commit_loop_s" -> (loopT1 - loopT0) / 1e6,
      "data_files" -> df, "data_bytes" -> db,
      "meta_files" -> mf, "meta_bytes" -> mb)
  }

  /** Row count, exact `sum(value)` and per-day counts of the final table,
    * for the check against the committed source rows. */
  def finalState(): Map[String, Any] = {
    val t = LakeOps.readCurrent(spark, root)
    val agg = t.agg(count(lit(1)), sum($"value".cast("decimal(18,2)")))
      .head()
    val perDay = t.groupBy($"day").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    Map("rows" -> agg.getLong(0), "sum_value" -> agg.get(1).toString,
      "per_day" -> perDay)
  }
}
