package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{IngestOps, Tables}

/** The benchmark's JVM side: one closed-loop client thread runs one
  * workload against the engine's entry points, for a number of passes
  * sized by the `--seconds` budget.
  * Before the timed loop, an untimed pass runs each distinct key once
  * and dumps its result for the oracle check. Everything it measures is
  * written as raw records to one JSON file; run.py turns the records
  * into metrics.
  *
  * In a traced run half of each key's operations are traced, so the
  * same run also yields the untraced samples the tracing overhead is
  * taken against. The untraced half still runs with the tracer's
  * listeners and the counting file system installed.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <corpus dir>
  *   <work dir> <out json> <cpus>
  */
object Harness {
  final case class Op(id: String, key: String, kind: String, t0: Long,
      t1: Long, err: Option[String], layers: Map[String, Double],
      traced: Boolean)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, corpus, work, outPath,
      cpus) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val clk = new Clock
    val spans = mutable.ArrayBuffer.empty[Span]
    val sessionT0 = clk.us()
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
    if (traced) builder.config("spark.hadoop.fs.file.impl",
      classOf[CountingFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.warmup(spark)
    val sessionT1 = clk.us()
    require(IngestOps.scratchRoot.startsWith(new java.io.File(work)
      .getCanonicalFile.getParentFile.getCanonicalPath),
      s"engine scratch ${IngestOps.scratchRoot} is outside the bench tree")

    def sink(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val spec = Workloads(workload)
    graft.Fixtures.builders(spark, corpus)
      .foreach { case (name, build) => if (spec.layouts(name)) build() }
    val prewarmT1 = clk.us()
    val lake = if (workload == "lake_ingest") Some(new LakeLoop(spark,
      corpus, s"$work/lake_table", seed, clk, spans)) else None
    val keyNames = spec.keys.keys.toSeq.sorted

    // ---- untimed check pass: dumps each key's result for the oracle
    // check, and brings every key's code paths to steady state --------
    val checkDir = s"$work/check"
    val checkT0 = clk.us()
    val checks = keyNames.map { k =>
      val err = try {
        spec.keys(k)(spark, corpus).write.mode("overwrite")
          .parquet(s"$checkDir/$k"); None
      } catch { case e: Throwable => Some(e.toString.take(300)) }
      k -> (err, graft.SparkEntry.oracleSql.get(k))
    }
    lake.foreach(_.warmUp(sink))
    val checkS = (clk.us() - checkT0) / 1e6

    // ---- timed closed loop ------------------------------------------
    val rng = new scala.util.Random(seed)
    val ops = mutable.ArrayBuffer.empty[Op]
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val perKey = mutable.Map.empty[String, Int].withDefaultValue(0)
    var opSeq = 0
    var heapPeak = 0.0
    var probeUs = 0L
    /** One timed operation. `body` gets the operation's [[Ctx]] and
      * returns layer metrics it measured itself; `probe` runs after a
      * traced operation, outside its timed bracket, and returns more.
      * After every operation, also outside the bracket, a full collection
      * measures the heap the run still holds, so the peak covers the end
      * state of every operation whatever their order.
      * In a traced run a key's operations are traced in the pattern
      * traced, plain, plain, traced (1st, 4th, 5th, 8th, ...), so a
      * linear trend over the run, such as later passes running faster or
      * reads slowing as the table grows, falls equally on the traced and
      * the plain half and does not show up as tracing overhead. */
    def runOp(key: String, kind: String,
        probe: Ctx => Map[String, Double] = _ => Map.empty)(
        body: Ctx => Map[String, Double]): Unit = {
      opSeq += 1
      perKey(key) += 1
      val id = s"op-$opSeq"
      val tr = tracer.filter(_ => Set(0, 3)((perKey(key) - 1) % 4))
      val sc = spark.sparkContext
      tr.foreach(_.begin(id))
      sc.setJobGroup(id, key, interruptOnCancel = false)
      val rootIdx = spans.size
      spans += null // root span slot, filled below
      val ctx = Ctx(id, rootIdx, tr.isDefined)
      val t0 = clk.us()
      val (err, own) = try (None, body(ctx))
      catch { case e: Throwable =>
        (Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage)
          .getOrElse("").linesIterator.nextOption().getOrElse("")}".take(300)),
          Map.empty[String, Double])
      }
      val t1 = clk.us()
      sc.clearJobGroup()
      spans(rootIdx) = Span(id, key, "driver", t0, t1, -1)
      val layers = tr.fold(Map.empty[String, Double]) { t =>
        val (m, js) = t.end(id, rootIdx)
        spans ++= js
        m ++ own ++ probe(ctx)
      }
      ops += Op(id, key, kind, t0, t1, err, layers, tr.isDefined)
      val g0 = clk.us()
      heapPeak = math.max(heapPeak, LiveHeap.mb())
      probeUs += clk.us() - g0
    }
    val extra = mutable.LinkedHashMap.empty[String, Any]
    val firstOpUs = clk.us()
    lake.foreach { l =>
      rng.shuffle(l.slices).foreach { i =>
        runOp("appendCommit", "commit")(l.commit(i, _))
        runOp("readCurrent", "read", l.probeLiveFiles)(_ => l.read(sink))
      }
      extra ++= l.stats()
    }
    // a fixed number of whole passes, sized by --seconds, so every run
    // times the same operations whatever the machine's speed; a traced
    // run makes four at least, one whole tracing pattern per key
    val passes = math.max(math.round(seconds / spec.passSeconds).toInt,
      if (traced) 4 else 1)
    (1 to passes).foreach { _ =>
      rng.shuffle(keyNames).foreach { k =>
        runOp(k, spec.kind) { _ =>
          sink(spec.keys(k)(spark, corpus)); Map.empty
        }
      }
    }
    val wallS = (clk.us() - firstOpUs - probeUs) / 1e6
    lake.foreach(l => extra("final_table") = l.finalState())
    spark.stop()

    val raw = Map(
      "workload" -> workload, "seed" -> seed,
      "setup_s" -> (firstOpUs / 1e6 - jvmStartMs / 1e3),
      "session_s" -> (sessionT1 - sessionT0) / 1e6,
      "prewarm_s" -> (prewarmT1 - sessionT1) / 1e6,
      "wall_s" -> wallS, "passes" -> passes, "heap_peak_mb" -> heapPeak,
      "check_dir" -> checkDir, "check_s" -> checkS,
      "ops" -> ops.map(o => Map("id" -> o.id, "key" -> o.key,
        "kind" -> o.kind, "t0_us" -> o.t0, "t1_us" -> o.t1,
        "traced" -> o.traced, "err" -> o.err, "layers" -> o.layers)),
      "checks" -> checks.map { case (k, (err, oracle)) =>
        Map("key" -> k, "err" -> err, "oracle" -> oracle) },
      "spans" -> spans.map(s => Map("op" -> s.op, "name" -> s.name,
        "layer" -> s.layer, "start_us" -> s.start, "end_us" -> s.end,
        "parent" -> s.parent))) ++ extra
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      org.json4s.jackson.Serialization.write(raw)(org.json4s.DefaultFormats))
  }
}

/** The operation in flight: its ID (also its Spark job group), the index
  * of its root span, and whether it is traced. */
final case class Ctx(id: String, rootIdx: Int, traced: Boolean)

/** Monotonic clock in epoch microseconds (listener times are epoch ms,
  * so both must share the epoch). */
final class Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def us(): Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
}

/** Old-generation occupancy in MB right after a full collection: the
  * heap still reachable, without the garbage that young collections
  * promote until an old collection runs. */
object LiveHeap {
  import scala.jdk.CollectionConverters._
  def mb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.toLowerCase.contains("old"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }
}
