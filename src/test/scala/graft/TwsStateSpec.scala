package graft

import org.apache.spark.sql.functions._
import graft.streaming.TwsUserStats

/** `stream_tws_state` — Spark 4 `transformWithState` (arbitrary-state
  * v2) semantics: (1) the drained finite stream equals the batch
  * aggregate (the oracle relation, asserted here in-process too), and
  * (2) state genuinely ACCUMULATES across micro-batches through the
  * RocksDB store — counts sum, the max carries over a later lower
  * value, and the event-type set unions (the StateStepSpec discipline
  * for the v2 API; the single-file fixture stream cannot produce a
  * second batch, so this spec builds a two-file source). */
class TwsStateSpec extends SparkSpecBase {

  test("drained stream equals the batch aggregate over the probe slice") {
    import spark.implicits._
    val got = graft.streaming.StreamingOps.streamTwsState(spark, sf)
      .collect().toSeq
    val want = graft.sources.Tables.events(spark, sf)
      .filter($"user_id" % 4 === 3)
      .groupBy($"user_id")
      .agg(countDistinct($"event_type").as("n_types"),
        count(lit(1)).as("n"), max($"value").as("max_value"))
      .orderBy($"user_id").collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("state accumulates across micro-batches: counts sum, max " +
      "carries, type sets union") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val src = graft.sources.IngestOps.tmp("tws_spec_src")
    Files.createDirectories(Paths.get(src))
    def land(name: String, mtimeSec: Long,
        rows: Seq[(Long, Double, String)]): Unit = {
      val tmp = graft.sources.IngestOps.tmp(s"tws_spec_$name")
      rows.toDF("user_id", "value", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(
        _.getFileName.toString.endsWith(".parquet")).findFirst().get()
      val dst = Paths.get(src, s"$name.parquet")
      Files.copy(part, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtimeSec * 1000))
    }
    // batch 1: user 1 clicks twice (max 5.0); user 2 views once
    land("a", 1000L, Seq((1L, 5.0, "click"), (1L, 2.0, "click"),
      (2L, 1.0, "view")))
    // batch 2: user 1 views once with a LOWER value — count must sum
    // to 3, max must stay 5.0, types must union to 2
    land("b", 1060L, Seq((1L, 3.0, "view")))
    val schema = spark.read.parquet(src).schema
    val confs = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider"),
      "spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled" -> "true")
    GraftSession.withConf(spark, confs: _*) { try {
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .as[(Long, Double, String)]
        .groupByKey(_._1)
        .transformWithState(new TwsUserStats,
          TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n_types", "n", "max_value")
        .writeStream.outputMode("update").format("memory")
        .queryName("tws_spec").start()
      try q.processAllAvailable() finally q.stop()
      val sink = spark.table("tws_spec")
      // user 1 emitted once per batch — the cross-batch proof is the
      // SECOND emission carrying the first batch's state forward
      val u1 = sink.filter($"user_id" === 1L)
        .orderBy($"n").collect().toSeq.map(r =>
          (r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(u1 == Seq((1L, 2L, 5.0), (2L, 3L, 5.0)),
        s"cross-batch accumulation broken: $u1")
      val u2 = sink.filter($"user_id" === 2L).collect().toSeq.map(r =>
        (r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(u2 == Seq((1L, 1L, 1.0)))
    } finally spark.catalog.dropTempView("tws_spec") }
  }

  test("stream_tws_timers: emitted = batch sessionization cut at the " +
      "final watermark, and the held tail is non-empty (timers evict, " +
      "the cut is not vacuous)") {
    import spark.implicits._
    val got = graft.streaming.StreamingOps.streamTwsTimers(spark, sf)
      .collect().toSeq
    val e = graft.sources.Tables.events(spark, sf)
      .filter($"user_id" % 5 === 4)
    val wmMs = e.agg(max(date_trunc("millisecond", $"ts"))).head
      .getTimestamp(0).getTime - 3 * 3600 * 1000L
    val lagTs = lag($"ts", 1).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts"))
    val sessions = e
      .withColumn("new_session",
        when(lagTs.isNull ||
          unix_micros($"ts") - unix_micros(lagTs) >
            30L * 60 * 1000 * 1000, 1).otherwise(0))
      .withColumn("sid", sum($"new_session").over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"ts")
          .rowsBetween(Long.MinValue, 0)))
      .groupBy($"user_id", $"sid")
      .agg(unix_micros(min($"ts")).as("session_start_us"),
        count(lit(1)).as("n"),
        graft.operators.dsum($"value").as("sum_value"),
        (unix_millis(date_trunc("millisecond", max($"ts"))) +
          30L * 60 * 1000).as("expiry_ms"))
    val want = sessions.filter($"expiry_ms" <= wmMs)
      .select($"user_id", $"session_start_us", $"n", $"sum_value")
      .orderBy($"user_id", $"session_start_us").collect().toSeq
    assert(got.nonEmpty && got == want)
    assert(sessions.count() > got.size,
      "no held sessions — the watermark cut is vacuous at this sf")
  }

  test("TwsSessionTimers.merge coalesces sessions a new event bridges " +
      "and respects the exact gap boundary") {
    import graft.streaming.{TwsSession, TwsSessionTimers}
    val p = new TwsSessionTimers
    val gapUs = 30L * 60 * 1000 * 1000
    val a = TwsSession(0L, 100L, 2L, 500L)
    val b = TwsSession(100L + 2 * gapUs, 100L + 2 * gapUs, 1L, 100L)
    // no bridge: the two stay separate
    assert(p.merge(Seq(a, b), Seq.empty) == Seq(a, b))
    // a bridging event within gap of BOTH coalesces everything
    val bridge = (100L + gapUs, 7L)
    assert(p.merge(Seq(a, b), Seq(bridge)) ==
      Seq(TwsSession(0L, b.endUs, 4L, 607L)))
    // boundary: exactly gap apart = SAME session (the LAG > gap rule);
    // one microsecond beyond = new session
    assert(p.merge(Seq(a), Seq((100L + gapUs, 1L))).size == 1)
    assert(p.merge(Seq(a), Seq((101L + gapUs, 1L))).size == 2)
  }
}
