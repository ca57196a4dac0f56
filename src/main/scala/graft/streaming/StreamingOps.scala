package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{dec, dsum}
import graft.sources.{LakeOps, Tables}

/** Per-user running state for `stream_custom_state`, carried by
  * mapGroupsWithState (top-level so the Catalyst encoder's generated
  * code can reach the accessors). Carries the
  * latest event's FULL ordering key (ts ordinal, event_id), not just
  * its type: without it, any event in a later micro-batch — even an
  * OLDER late arrival — would overwrite last_type, because the
  * in-batch comparison would restart from Long.MinValue. The
  * transition itself is [[StreamingOps.stateStep]], split out so
  * StateStepSpec can drive a MULTI-batch sequence through it (the
  * single-file fixture stream only ever yields one data batch). */
case class UserState(n: Long, maxValue: Double, lastTs: Long,
    lastId: Long, lastType: String)

/** Per-user SCD2-current maintenance state for `stream_scd2_current`:
  * the open version's ordinal and type plus the (ts_ord, event_id)
  * tip it was applied at — the minimal state a streaming dimension
  * maintainer carries per key (the full version HISTORY lives in the
  * published dimension table, never in stream state). Transition is
  * [[StreamingOps.scd2Step]], split out for StateStepSpec-style
  * multi-batch driving. */
case class Scd2State(version: Long, lastType: String, lastOrd: Long,
    lastId: Long)

/** Per-user stats processor for `stream_tws_state` — Spark 4's
  * `transformWithState` (arbitrary-state v2, the successor API to
  * mapGroupsWithState): state is COMPOSED from typed primitives
  * instead of one monolithic case-class blob. Per user, a `MapState`
  * carries per-event_type counts and a `ValueState` the running max.
  * The scale argument for the v2 shape: MapState entries are
  * individually addressable in the store, so a batch that touches one
  * event_type of a 10k-entry map serializes ONE entry, where
  * mapGroupsWithState rewrites the whole value every invocation — the
  * difference between O(touched) and O(state) per-batch write
  * amplification on a 100 TB keyspace. Requires the RocksDB state
  * store provider (scoped per query by
  * [[StreamingOps.withRocksDbStateStore]]). Cross-batch correctness is
  * carried by the STORE (counts accumulate via point updates), not by
  * re-seeding an in-invocation accumulator — the StateStepSpec
  * discipline; TwsStateSpec drives a two-batch sequence through it. */
class TwsUserStats extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Double, String), (Long, Long, Long, Double)] {
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig,
    TimeMode, TimerValues, ValueState}
  import org.apache.spark.sql.Encoders
  @transient private var typeCounts: MapState[String, Long] = _
  @transient private var maxVal: ValueState[Double] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    typeCounts = getHandle.getMapState[String, Long]("typeCounts",
      Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    maxVal = getHandle.getValueState[Double]("maxVal",
      Encoders.scalaDouble, TTLConfig.NONE)
  }
  override def handleInputRows(user: Long,
      rows: Iterator[(Long, Double, String)],
      timers: TimerValues): Iterator[(Long, Long, Long, Double)] = {
    var mx = if (maxVal.exists()) maxVal.get() else Double.MinValue
    rows.foreach { case (_, v, t) =>
      if (v > mx) mx = v
      val c = if (typeCounts.containsKey(t)) typeCounts.getValue(t) else 0L
      typeCounts.updateValue(t, c + 1L)
    }
    maxVal.update(mx)
    var nTypes = 0L
    var n = 0L
    typeCounts.values().foreach { c => nTypes += 1; n += c }
    Iterator.single((user, nTypes, n, mx))
  }
}

/** One held session for [[TwsSessionTimers]]: [startUs, endUs] event
  * span, row count, and the value sum as EXACT CENTS (each row's value
  * is rounded to DECIMAL(18,2) semantics — BigDecimal HALF_UP at scale
  * 2 — before summing, so the accumulated sum is integer arithmetic
  * and matches the oracle's SUM(CAST(value AS DECIMAL(18,2))) with no
  * float-ordering sensitivity). */
case class TwsSession(startUs: Long, endUs: Long, n: Long, sumCents: Long)

/** Session processor for `stream_tws_timers` — the full
  * transformWithState triad: ListState (held sessions) + EVENT-TIME
  * TIMERS + watermark-driven eviction, hand-rolling what
  * `session_window` does natively so the v2 API's timer surface is
  * actually exercised. Per user, open sessions (gap = 30 min, the
  * LAG-greater-than convention) are held in a ListState; every input
  * batch merge-sessionizes the new events INTO the held set (two
  * sessions bridged by a new event coalesce; counts and cent-sums
  * add — summaries suffice, raw events are never retained), then one
  * timer is registered per session at end + gap. When the watermark
  * passes a timer, handleExpiredTimer emits every RIPE session
  * (end + gap ≤ watermark) exactly once and keeps the rest — so a
  * stale timer (its session was extended) fires harmlessly, and state
  * holds only the watermark horizon, never the stream's history. */
class TwsSessionTimers extends
    org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long), (Long, Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
    OutputMode, TTLConfig, TimeMode, TimerValues}
  import org.apache.spark.sql.Encoders
  private val GapUs = 30L * 60 * 1000 * 1000
  private val GapMs = 30L * 60 * 1000
  @transient private var sessions: ListState[TwsSession] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    sessions = getHandle.getListState[TwsSession]("sessions",
      Encoders.product[TwsSession], TTLConfig.NONE)
  /** Merge-sessionize: held sessions + new (tsUs, cents) events under
    * the gap rule. Both inputs summary-sized; output sorted by start. */
  private[graft] def merge(held: Seq[TwsSession],
      events: Seq[(Long, Long)]): Seq[TwsSession] = {
    val all = (held ++ events.map(e => TwsSession(e._1, e._1, 1L, e._2)))
      .sortBy(s => (s.startUs, s.endUs))
    all.foldLeft(List.empty[TwsSession]) { (acc, s) =>
      acc match {
        case h :: t if s.startUs - h.endUs <= GapUs =>
          TwsSession(h.startUs, math.max(h.endUs, s.endUs), h.n + s.n,
            h.sumCents + s.sumCents) :: t
        case _ => s :: acc
      }
    }.reverse
  }
  override def handleInputRows(user: Long,
      rows: Iterator[(Long, Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    val held = if (sessions.exists()) sessions.get().toSeq else Seq.empty
    val merged = merge(held, rows.map(r => (r._2, r._3)).toSeq)
    sessions.put(merged.toArray)
    // ONE timer per key at the EARLIEST held expiry (ms floor matches
    // the watermark's ms precision), not one per session: emission
    // partitions the held set by RIPENESS at fire time, so a single
    // earliest-expiry timer drives identical output — and the r21
    // profile showed the per-session spelling fired |sessions| timers
    // per watermark wave, each re-reading the whole ListState
    // (O(sessions²) per key per wave; at sf0.1 that was ~19k fires ×
    // ~95-element list reads in the no-data batch). Each fire re-arms
    // the next earliest OPEN expiry below, so eviction chains across
    // watermark advances; a stale timer left by a later-extended
    // session fires harmlessly (empty ripe set) and re-arms.
    if (merged.nonEmpty)
      getHandle.registerTimer(
        merged.iterator.map(s => s.endUs / 1000 + GapMs).min)
    Iterator.empty
  }
  override def handleExpiredTimer(user: Long, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
    val held = if (sessions.exists()) sessions.get().toSeq else Seq.empty
    val wm = timers.getCurrentWatermarkInMs
    val (ripe, open) = held.partition(s => s.endUs / 1000 + GapMs <= wm)
    if (open.isEmpty) sessions.clear()
    else {
      sessions.put(open.toArray)
      // re-arm at the next earliest open expiry: > wm by the partition
      // above, so the chain survives every future watermark advance
      getHandle.registerTimer(
        open.iterator.map(s => s.endUs / 1000 + GapMs).min)
    }
    ripe.sortBy(_.startUs).iterator
      .map(s => (user, s.startUs, s.n, s.sumCents))
  }
}

/** SURVEY.md §2i — Structured Streaming (X-tier; the reference is batch-
  * only, its event-time partition model maps 1:1 onto tumbling windows:
  * hourly partitions ≙ `window(ts, '1 hour')`, `TimeEx:134-136`).
  *
  * The streaming rollup is verified by batch equivalence (SURVEY §2i:
  * DuckDB can't run a stream, but a finite file stream drained with
  * `processAllAvailable` must produce exactly the batch answer — so the
  * oracle is the batch SQL).
  */
object StreamingOps {

  /** One micro-batch's worth of per-user state transition (rows are
    * (user_id, value, event_type, ts_ord, event_id) tuples): count,
    * running max, and last_type by the (ts_ord, event_id) total order,
    * seeded FROM THE PREVIOUS STATE so an older late arrival in a later
    * batch can never overwrite a newer event's type. */
  private[graft] def stateStep(prevOpt: Option[UserState],
      rows: Iterator[(Long, Double, String, Long, Long)]): UserState = {
    val prev = prevOpt.getOrElse(UserState(0L, Double.MinValue,
      Long.MinValue, Long.MinValue, ""))
    var n = prev.n
    var mx = prev.maxValue
    var lastKey = (prev.lastTs, prev.lastId)
    var lastType = prev.lastType
    rows.foreach { case (_, v, t, ord, id) =>
      n += 1
      if (v > mx) mx = v
      if (ord > lastKey._1 || (ord == lastKey._1 && id > lastKey._2)) {
        lastKey = (ord, id)
        lastType = t
      }
    }
    UserState(n, mx, lastKey._1, lastKey._2, lastType)
  }

  /** One micro-batch's worth of per-user SCD2-CURRENT maintenance for
    * `stream_scd2_current` (rows are (user_id, event_type, ts_ord,
    * event_id) tuples): sort the batch by the (ts_ord, event_id) total
    * order, then fold — a row whose type differs from the applied tip
    * opens a new version. Seeded from the previous state; a row at or
    * behind the applied tip is DROPPED, because applying it would
    * renumber already-published versions (the production form buffers
    * under a watermark before applying — the stream_late_drop
    * discipline — and this finite in-order drain never hits the
    * branch; StreamingSpec drives it explicitly). */
  private[graft] def scd2Step(prevOpt: Option[Scd2State],
      rows: Iterator[(Long, String, Long, Long)]): Scd2State = {
    var st = prevOpt.getOrElse(
      Scd2State(0L, "", Long.MinValue, Long.MinValue))
    rows.toArray.sortBy(r => (r._3, r._4)).foreach {
      case (_, t, ord, id) =>
        if (ord > st.lastOrd || (ord == st.lastOrd && id > st.lastId)) {
          val v = if (st.version == 0L || st.lastType != t)
            st.version + 1 else st.version
          st = Scd2State(v, t, ord, id)
        }
    }
    st
  }

  /** Release a memory-sink's catalog entry: sink tables are uniquely
    * named per invocation, so without the drop every streaming-key run
    * would park its full result rows in the driver's catalog for the
    * JVM's lifetime (90 tables after a min-of-10 bench over the 9
    * memory-sink keys). No materialization needed: Dataset construction
    * runs the analyzer, so `result`'s plan already holds the sink
    * relation directly — the rows stay reachable through the returned
    * frame and are collected when the CALLER drops it, which is the
    * right lifetime (an eager cut here measured ~70 ms/key). */
  private def releaseSink(spark: org.apache.spark.sql.SparkSession,
      queryName: String)(
      result: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    spark.catalog.dropTempView(queryName)
    result
  }

  /** Drain a finite streaming query and stop it. */
  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()

  /** Run `body` with a reduced shuffle-partition count: streaming state
    * stores are per shuffle partition, and for these single-micro-batch
    * drains 8 stores beat 32 on fixed per-store overhead. */
  private def withStatePartitions[T](spark: SparkSession, n: Int)
      (body: => T): T =
    graft.GraftSession.withConf(spark,
      "spark.sql.shuffle.partitions" -> n.toString)(body)

  /** Run `body` with the RocksDB state store provider (required by
    * `transformWithState`; the default HDFSBacked provider does not
    * implement the v2 state primitives). */
  private def withRocksDbStateStore[T](spark: SparkSession)
      (body: => T): T =
    graft.GraftSession.withConf(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider"),
      // changelog checkpointing is the production RocksDB mode (and
      // the 100 TB one): a commit uploads the batch's DELTA as a small
      // changelog file; full snapshots move to async maintenance.
      // Without it every commit uploads the whole RocksDB snapshot
      // inline (~0.4 s/store even for KB-sized state).
      "spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled" -> "true",
      // row-count tracking forces a get() before every put; these
      // drains write each key once, so the audit costs more than it
      // tells (the metric it feeds is numRowsTotal, not correctness)
      "spark.sql.streaming.stateStore.rocksdb." +
        "trackTotalNumberOfRows" -> "false")(body)

  /** Run `body` without the watermark-advance NO-DATA micro-batch.
    * After the data batch, Spark runs one extra empty batch purely to
    * evict state past the new watermark (~1 s of commit overhead per
    * drained query). For COMPLETE/UPDATE-mode sinks — and for append
    * operators that emit on match, not on eviction — that batch cannot
    * change the RESULT, only reclaim state earlier, so the finite-drain
    * harness skips it. Keys whose emission IS eviction (late_drop's
    * append-mode window agg) must NOT use this. */
  private def withoutNoDataBatches[T](spark: SparkSession)
      (body: => T): T =
    graft.GraftSession.withConf(spark,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")(body)

  /** The batch schema of the events corpus file (readStream.schema(...)
    * is mandatory for file sources), from its footer with no job. */
  private def eventsSchema(spark: SparkSession, dir: String)
      : org.apache.spark.sql.types.StructType =
    Tables(spark, dir, "events").schema

  /** `stream_hourly_rollup` — file-source stream over the events parquet →
    * 1-hour tumbling window counts/sums per event_type → memory sink in
    * complete mode, drained synchronously. NOTE: complete mode retains
    * ALL window state by design (that is why the full-corpus oracle
    * matches); the watermark here only stamps lateness. The
    * bounded-state demonstration — append mode, watermark actually
    * evicting — is `stream_late_drop`; a 100 TB pipeline would run that
    * shape, not this one. */
  def streamHourlyRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val batchSchema = eventsSchema(spark, dir)
    val queryName = s"hourly_rollup_${System.nanoTime()}"
    val stream = Tables.normalizeTs(spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
    val agg = stream
      .withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
    withoutNoDataBatches(spark) { withStatePartitions(spark, 8) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      drain(q)
    } }
    releaseSink(spark, queryName)(spark.table(queryName)
      .select($"window.start".as("hour_start"), $"event_type", $"n",
        $"sum_value")
      .orderBy($"hour_start", $"event_type"))
  }

  /** `stream_session_agg` — SESSION windows in Structured Streaming: the
    * stateful MERGING-window operator (fixed windows only append state;
    * a session must merge two open sessions when a bridging event
    * arrives, which is why it gets its own state-store format). Runs
    * Spark's session_window over the file-source stream in complete
    * mode, so the drained finite stream equals batch sessionization
    * exactly. Probed over a different user slice (residue class, non-empty
    * at every sf — sf0.001 only carries users 0-14) and a different gap
    * than [[aggSessionWindow]], so the two keys' answers can't mask each
    * other. At scale the state is bounded by open sessions per key, and
    * the production form adds a watermark to age them out. */
  def streamSessionAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val batchSchema = eventsSchema(spark, dir)
    val queryName = s"session_agg_${System.nanoTime()}"
    val stream = Tables.normalizeTs(spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
      .filter($"user_id" % 3 === 1)
    val agg = stream
      .groupBy(session_window($"ts", "20 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
    withoutNoDataBatches(spark) { withStatePartitions(spark, 8) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      drain(q)
    } }
    releaseSink(spark, queryName)(spark.table(queryName)
      .select($"user_id", $"session_window.start".as("session_start"),
        $"n", $"sum_value")
      .orderBy($"user_id", $"session_start"))
  }

  /** `stream_join_dim` — STREAM-STATIC enrichment join, the production
    * shape every streaming pipeline runs (fact stream × slowly-changing
    * dimension): each micro-batch of the file-source stream joins the
    * static 5-row event-type weight dim as a BROADCAST — the stream side
    * never shuffles for the join, and the static side is re-planned per
    * batch (which is exactly how a slowly-changing dim picks up updates
    * between batches at scale). Weighted rollup in complete mode; exact
    * decimal accumulation so the batch twin is the oracle. */
  def streamJoinDim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val batchSchema = eventsSchema(spark, dir)
    val queryName = s"join_dim_${System.nanoTime()}"
    val dim = Seq(("click", "0.5"), ("view", "0.1"), ("purchase", "5.0"),
      ("signup", "2.0"), ("error", "0.25")).toDF("et", "w")
      .withColumn("weight", $"w".cast("decimal(4,2)"))
      .select($"et", $"weight")
    val stream = spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    val agg = stream
      .join(broadcast(dim), $"event_type" === $"et")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(dec($"value") * $"weight").cast("double").as("weighted_value"))
    withStatePartitions(spark, 8) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      drain(q)
    }
    releaseSink(spark, queryName)(spark.table(queryName).orderBy($"event_type"))
  }

  /** `stream_dedup` — streaming deduplication (dropDuplicates keyed state):
    * distinct (user_id, event_type) pairs from the file stream; batch
    * equivalence = SELECT DISTINCT. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val batchSchema = eventsSchema(spark, dir)
    val queryName = s"stream_dedup_${System.nanoTime()}"
    withStatePartitions(spark, 8) {
      val q = spark.readStream
        .schema(batchSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .select($"user_id", $"event_type")
        .dropDuplicates("user_id", "event_type")
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      drain(q)
    }
    releaseSink(spark, queryName)(spark.table(queryName).orderBy($"user_id", $"event_type"))
  }

  /** `stream_dedup_watermark` — BOUNDED-STATE streaming dedup
    * (`dropDuplicatesWithinWatermark`), the scale-safe twin of
    * [[streamDedup]]: that one's keyed state grows with distinct keys
    * FOREVER (fine for its 5×150 domain, fatal for event-id dedup at
    * 100 TB); here dedup runs on the high-cardinality event_id and the
    * state store evicts keys older than the 2-hour watermark horizon —
    * exactly the at-least-once-ingest dedup contract (a redelivery
    * arrives near its original; state is bounded by horizon × rate, not
    * by corpus cardinality). The stream carries REAL duplicates (every
    * event delivered twice via explode); drained, the dedup collapses
    * them and the per-day rollup equals the batch answer over the
    * ORIGINAL events. */
  def streamDedupWatermark(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val batchSchema = eventsSchema(spark, dir)
    val queryName = s"stream_dedup_wm_${System.nanoTime()}"
    withoutNoDataBatches(spark) { withStatePartitions(spark, 8) {
      val q = Tables.normalizeTs(spark.readStream
        .schema(batchSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
        .withWatermark("ts", "2 hours")
        // at-least-once delivery: every event arrives twice
        .withColumn("delivery", explode(array(lit(1), lit(2))))
        .select($"event_id", $"ts", $"value")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(dayofmonth($"ts").as("day"))
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      drain(q)
    } }
    releaseSink(spark, queryName)(spark.table(queryName)
      .select($"day".cast("long").as("day"), $"n", $"sum_value")
      .orderBy($"day"))
  }

  /** `agg_session_window` — gap-based session windows (Spark's
    * session_window, the streaming-native sessionization primitive, run in
    * batch mode); oracle = first-principles gaps-and-islands SQL. */
  def aggSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir).filter($"user_id" < 50)
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .select($"user_id", $"session_window.start".as("session_start"),
        $"n", $"sum_value")
      .orderBy($"user_id", $"session_start")
  }

  /** `stream_session_watermark` — the PRODUCTION form of
    * [[streamSessionAgg]]: session windows in APPEND mode under a real
    * watermark, so a session is emitted exactly once — when the
    * watermark passes its end — and its state is evicted. This is the
    * bounded-state sessionization a 100 TB pipeline runs: state holds
    * only sessions still inside the watermark horizon (open or
    * recently closed), never the stream's history; complete-mode
    * session_agg by contrast retains every session forever. Drained on
    * the finite file stream, the emitted set is the batch
    * sessionization CUT at the final watermark — sessions whose end
    * (last event + 25 min gap) the watermark (max event time, ms
    * precision, − 3 h) never passed stay in state and appear NOWHERE
    * (the stream_late_drop oracle discipline; StreamingSpec asserts
    * the held sessions are non-empty and that state rows were actually
    * removed). Probes user slice `user_id % 3 = 2` — disjoint answers
    * from session_agg's `% 3 = 1` — and needs the no-data batch: the
    * data batch computes under watermark 0, and emission-by-eviction
    * happens in the follow-up batch the advanced watermark triggers,
    * so this key must NOT run under [[withoutNoDataBatches]]. */
  def streamSessionWatermark(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val batchSchema = eventsSchema(spark, dir)
    val queryName = s"session_wm_${System.nanoTime()}"
    val stream = Tables.normalizeTs(spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
      .filter($"user_id" % 3 === 2)
      .withWatermark("ts", "3 hours")
    val agg = stream
      .groupBy(session_window($"ts", "25 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
    withStatePartitions(spark, 8) {
      val q = agg.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      drain(q)
    }
    releaseSink(spark, queryName)(spark.table(queryName)
      .select($"user_id", $"session_window.start".as("session_start"),
        $"n", $"sum_value")
      .orderBy($"user_id", $"session_start"))
  }

  /** `stream_custom_state` — arbitrary keyed state via
    * `KeyValueGroupedDataset.mapGroupsWithState` (the brief's custom-state
    * streaming surface): per-user event count, running max value, and
    * event_type of the latest event (by ts). Drained on a finite stream the
    * final state equals the batch aggregate — that is the oracle. */
  def streamCustomState(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val batchSchema = eventsSchema(spark, dir)
    val queryName = s"stream_state_${System.nanoTime()}"
    val src = Tables.normalizeTs(spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
      // explicit validity fence at the typed boundary: a row missing
      // the grouping key, metric, or event time carries no state
      // evidence and CANNOT cross into the primitive-typed tuple (the
      // encoder would throw NOT_NULL_ASSERT_VIOLATION mid-stream). The
      // production path diverts such rows to quarantine at ingest
      // (ingest_quarantine); the driver corpus has none, so the batch
      // oracle is unchanged.
      .filter($"user_id".isNotNull && $"value".isNotNull &&
        $"ts".isNotNull && $"event_id".isNotNull)
      .select($"user_id", $"value", $"event_type",
        // micros ordinal (matches DuckDB's truncated timestamps exactly;
        // raw nanos would win ties DuckDB can't see)
        unix_micros($"ts").as("ts_ord"), $"event_id")
      .as[(Long, Double, String, Long, Long)]
    val stateStream = src.groupByKey(_._1)
      .mapGroupsWithState[UserState, (Long, Long, Double, String)](
        GroupStateTimeout.NoTimeout) { case (user, rows, state) =>
        val next = stateStep(state.getOption, rows)
        state.update(next)
        (user, next.n, next.maxValue, next.lastType)
      }
      .toDF("user_id", "n", "max_value", "last_type")
    withStatePartitions(spark, 8) {
      val q = stateStream.writeStream
        .outputMode("update")
        .format("memory")
        .queryName(queryName)
        .start()
      drain(q)
    }
    releaseSink(spark, queryName)(spark.table(queryName)
      .groupBy($"user_id")     // keep the final state row per key
      .agg(max($"n").as("n"), max($"max_value").as("max_value"),
        max_by($"last_type", $"n").as("last_type"))
      .orderBy($"user_id"))
  }

  /** `stream_scd2_current` — streaming CURRENT-VIEW maintenance of the
    * SCD2 dimension that [[graft.operators.CdcOps]] builds in batch:
    * per user, `mapGroupsWithState` carries only the open version's
    * (ordinal, type, applied tip) — [[Scd2State]] — and each batch
    * folds its rows through [[scd2Step]] in (ts_ord, event_id) order.
    * Drained on the finite file stream, the emitted current rows equal
    * the batch SCD2 build's `is_current` slice EXACTLY — the oracle is
    * CdcOps' own SCD2 CTEs cut to current rows, so the streaming and
    * batch CDC surfaces are pinned to each other and cannot drift.
    * This is the lambda-architecture reconciliation a production
    * dimension pipeline runs: the stream maintains the serving view,
    * the nightly batch rebuild must agree with it. State per key is
    * O(1) — version counter and tip, never history — which is what
    * makes the shape viable when the keyspace is 10⁹ users. */
  def streamScd2Current(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val batchSchema = eventsSchema(spark, dir)
    val queryName = s"scd2_cur_${System.nanoTime()}"
    val src = Tables.normalizeTs(spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
      // validity fence at the typed boundary (stream_custom_state
      // discipline) + the CdcOps probe slice
      .filter($"user_id".isNotNull && $"event_type".isNotNull &&
        $"ts".isNotNull && $"event_id".isNotNull)
      .filter($"user_id" < 30)
      .select($"user_id", $"event_type",
        unix_micros($"ts").as("ts_ord"), $"event_id")
      .as[(Long, String, Long, Long)]
    val out = src.groupByKey(_._1)
      .mapGroupsWithState[Scd2State, (Long, Long, String)](
        GroupStateTimeout.NoTimeout) { case (user, rows, state) =>
        val next = scd2Step(state.getOption, rows)
        state.update(next)
        (user, next.version, next.lastType)
      }
      .toDF("user_id", "version", "event_type")
    withStatePartitions(spark, 8) {
      val q = out.writeStream
        .outputMode("update")
        .format("memory")
        .queryName(queryName)
        .start()
      drain(q)
    }
    // final state row per key: version is monotone; at a version tie
    // the type is necessarily unchanged, so max_by is deterministic
    releaseSink(spark, queryName)(spark.table(queryName)
      .groupBy($"user_id")
      .agg(max($"version").as("version"),
        max_by($"event_type", $"version").as("event_type"))
      .orderBy($"user_id"))
  }

  /** `stream_tws_state` — arbitrary keyed state via Spark 4's
    * `transformWithState` (the arbitrary-state v2 API; processor =
    * [[TwsUserStats]]): per-user per-event_type counts in a MapState
    * plus a running max in a ValueState, over the `user_id % 4 = 3`
    * slice (disjoint probe from `stream_custom_state`, which exercises
    * the v1 mapGroupsWithState surface over all users). Runs on the
    * RocksDB state store — the provider the v2 API requires and the
    * one a 100 TB deployment runs anyway (state larger than executor
    * heap, changelog checkpointing). Drained on the finite file stream
    * the final emission per key equals the batch aggregate — that is
    * the oracle; the sink fold keeps the last batch's row per key
    * (every tracked stat is monotone, so `max` selects it). */
  def streamTwsState(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val batchSchema = eventsSchema(spark, dir)
    val queryName = s"tws_state_${System.nanoTime()}"
    val src = Tables.normalizeTs(spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
      // validity fence at the typed boundary (the stream_custom_state
      // discipline): a row missing the key or a tracked metric carries
      // no state evidence and must not reach the primitive-typed tuple
      .filter($"user_id".isNotNull && $"value".isNotNull &&
        $"event_type".isNotNull)
      .filter($"user_id" % 4 === 3)
      .select($"user_id", $"value", $"event_type")
      .as[(Long, Double, String)]
    val out = src.groupByKey(_._1)
      .transformWithState(new TwsUserStats,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_types", "n", "max_value")
    // 1 state partition, not the suite's 8: a RocksDB store instance
    // carries ~0.4-1 s of open/load cost per partition per query — an
    // order of magnitude above the HDFSBacked store's — and this
    // single-drain state is KB-sized with a trivial per-key update
    // (stream_tws_timers, whose merge work is real CPU, keeps 2). At
    // 100 TB the count scales with the keyspace (the conf is
    // per-query, as here), and long-lived queries amortize the open
    // across thousands of batches.
    withRocksDbStateStore(spark) { withStatePartitions(spark, 1) {
      val q = out.writeStream
        .outputMode("update")
        .format("memory")
        .queryName(queryName)
        .start()
      drain(q)
    } }
    releaseSink(spark, queryName)(spark.table(queryName)
      .groupBy($"user_id")     // keep the final (monotone) row per key
      .agg(max($"n_types").as("n_types"), max($"n").as("n"),
        max($"max_value").as("max_value"))
      .orderBy($"user_id"))
  }

  /** `stream_tws_timers` — the transformWithState TIMER surface
    * (processor = [[TwsSessionTimers]]): hand-rolled session windows
    * where eviction is driven by per-key EVENT-TIME TIMERS instead of
    * the session_window operator's built-in state machine — ListState
    * holds open sessions, every batch merge-sessionizes new events
    * into it, and a watermark-passed timer emits each closed session
    * exactly once (append mode; the no-data batch carries the advanced
    * watermark that fires the timers, so this key must NOT run under
    * [[withoutNoDataBatches]]). Probes user slice `user_id % 5 = 4`
    * (disjoint from every other streaming probe); gap 30 min,
    * watermark 3 h. Value sums ride exact cents (DECIMAL(18,2) × 100
    * as long) end to end. Oracle = batch gap-sessionization cut at the
    * final watermark — sessions the watermark never passed stay in
    * state and appear nowhere. */
  def streamTwsTimers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val batchSchema = eventsSchema(spark, dir)
    val queryName = s"tws_timers_${System.nanoTime()}"
    val src = Tables.normalizeTs(spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
      .filter($"user_id".isNotNull && $"value".isNotNull &&
        $"ts".isNotNull)
      .filter($"user_id" % 5 === 4)
      .withWatermark("ts", "3 hours")
      .select($"user_id", unix_micros($"ts").as("ts_us"),
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .as[(Long, Long, Long)]
    val out = src.groupByKey(_._1)
      .transformWithState(new TwsSessionTimers,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "session_start_us", "n", "sum_cents")
    withRocksDbStateStore(spark) { withStatePartitions(spark, 2) {
      val q = out.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      drain(q)
    } }
    releaseSink(spark, queryName)(spark.table(queryName)
      .select($"user_id", $"session_start_us",
        $"n", ($"sum_cents".cast("double") / 100).as("sum_value"))
      .orderBy($"user_id", $"session_start_us"))
  }

  /** `stream_stream_join` — watermarked stream-stream interval join (the
    * funnel query: purchase within 1 hour of a view, per user). Both sides
    * carry a 2-hour watermark and the join predicate bounds purchase time
    * to [view, view + 1h], so Spark can expire buffered state — at 100 TB
    * each side's state is one watermark-window of rows per key, not the
    * stream's history. Drained on a finite file stream the result equals
    * the batch interval join — that is the oracle. Bounded to days 1-3. */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val batchSchema = eventsSchema(spark, dir)
    val queryName = s"stream_join_${System.nanoTime()}"
    def side(eventType: String, prefix: String) = {
      Tables.normalizeTs(spark.readStream
        .schema(batchSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
        .filter($"event_type" === eventType && dayofmonth($"ts") <= 3)
        .select($"user_id".as(s"${prefix}_user"), $"ts".as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "2 hours")
    }
    val joined = side("view", "view").join(side("purchase", "purchase"),
      expr("view_user = purchase_user AND " +
        "purchase_ts BETWEEN view_ts AND view_ts + INTERVAL 1 HOUR"))
    // inner interval join emits on MATCH during the data batch; the
    // no-data batch would only expire buffered state
    withoutNoDataBatches(spark) { withStatePartitions(spark, 8) {
      val q = joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      drain(q)
    } }
    releaseSink(spark, queryName)(spark.table(queryName)
      .groupBy(dayofmonth($"view_ts").cast("long").as("d"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"view_user").as("n_users"))
      .orderBy($"d"))
  }

  /** `stream_late_drop` — the watermark's LATE-DATA contract, made
    * deterministic: three single-file drops ride the stream in a forced
    * order (`maxFilesPerTrigger=1`; modification times 60 s apart, the
    * file source's arrival order). Drop A = days 5-9 seeds the windows;
    * drop B = day 10 advances the watermark to max(A) − 1 h, so A's
    * windows EVICT and emit; drop C replays day-5 rows — every one
    * behind the late-events watermark, targeting windows already
    * emitted, so the aggregation DISCARDS all of them (empirically:
    * `numRowsDroppedByWatermark` = every drop-C group). This is the
    * emit-once guarantee that makes append-mode aggregation viable at
    * 100 TB: a straggler cannot resurrect or double-count a finalized
    * window, and state holds one watermark-horizon of windows. Spark's
    * late filter uses the PREVIOUS batch's watermark while eviction
    * uses the current one (the two-watermark semantics of
    * SPARK-24634), hence the three-drop choreography: the eviction
    * batch (B) and the late batch (C) must be distinct. The oracle is
    * the fresh-rows-only hourly aggregate cut at the final watermark —
    * drop-C's replayed rows appear NOWHERE in it, counted once, not
    * twice (StreamingSpec asserts the single-count equivalence). */
  def streamLateDrop(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the three drops are immutable SOURCE data (the stream only reads
    // them; arrival order is carried by persisted mtimes) — a shared
    // fingerprint-keyed layout, so the timed path is the stream drain,
    // not three single-file publishes
    val src = s"${lateDropLayout(spark, dir)}/src"
    val schema = Tables.parquet(spark, src).schema
    val queryName = s"stream_late_${System.nanoTime()}"
    val agg = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
    withStatePartitions(spark, 8) {
      val q = agg.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      drain(q)
    }
    releaseSink(spark, queryName)(spark.table(queryName)
      .select($"window.start".as("hour_start"), $"event_type", $"n",
        $"sum_value")
      .orderBy($"hour_start", $"event_type"))
  }

  /** Shared immutable 3-drop source for [[streamLateDrop]]: one parquet
    * FILE per drop (the file source's unit of arrival), modification
    * time = arrival order, persisted with the layout. */
  private[graft] def lateDropLayout(spark: SparkSession,
      dir: String): String = {
    import spark.implicits._
    import graft.sources.IngestOps
    val out = IngestOps.sharedFor(spark, "stream_latedrops", dir)
    IngestOps.buildShared(spark, out) { root =>
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val src = s"$root/src"
      fs.mkdirs(new org.apache.hadoop.fs.Path(src))
      def drop(name: String, df: DataFrame, mtime: Long): Unit = {
        val stage = s"$root/stage_$name"
        df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
          .map(_.getPath).find(_.getName.endsWith(".parquet")).get
        val dst = new org.apache.hadoop.fs.Path(src, s"$name.parquet")
        require(fs.rename(part, dst), s"single-file publish failed: $name")
        IngestOps.deleteOrThrow(fs, new org.apache.hadoop.fs.Path(stage),
          recursive = true)
        fs.setTimes(dst, mtime, -1)
      }
      val ev = Tables.events(spark, dir)
        .select($"ts", $"event_type", $"value")
      drop("a_fresh", ev.filter(dayofmonth($"ts").between(5, 9)),
        1705300000000L)
      drop("b_advance", ev.filter(dayofmonth($"ts") === 10),
        1705300060000L)
      drop("c_late", ev.filter(dayofmonth($"ts") === 5), 1705300120000L)
    }
  }

  /** `stream_upsert_sink` — the streaming→lake bridge: a `foreachBatch`
    * sink MERGEs each micro-batch into a day-partitioned versioned table
    * (the CDC-upsert pattern every warehouse-feeding stream runs), one
    * copy-on-write replace commit per batch
    * ([[graft.sources.LakeOps.rewriteDays]]). Base = events days 1-10;
    * the stream feeds "late corrections" (purchases of days 8-12,
    * value+1000) — matched event_ids are replaced, day-11/12 rows arrive
    * as inserts. Each batch rewrites ONLY the day partitions its keys
    * touch (LakeSpec asserts days 1-7 files keep their bytes), so at
    * 100 TB a micro-batch's commit cost is proportional to the
    * partitions it touches, never the table. Drained on the finite file
    * stream the final table equals the batch MERGE — that is the
    * oracle. */
  def streamUpsertSink(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = graft.sources.IngestOps.tmp("events_stream_upsert")
    // working copy of the shared immutable days-1-10 base: the key
    // measures the per-batch MERGE commits, not the base-table build
    LakeOps.cloneTree(upsertBaseLayout(spark, dir), out)
    val batchSchema = eventsSchema(spark, dir)
    val updates = Tables.normalizeTs(spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
      .withColumn("day", dayofmonth($"ts"))
      .filter($"day".between(8, 12) && $"event_type" === "purchase")
      .select($"event_id", $"user_id", $"event_type",
        ($"value" + 1000.0).as("value"), $"day")
    withStatePartitions(spark, 8) {
      val q = updates.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // the touched partition keys are metadata-cardinality; the
          // rewrite is (base ⟕anti batch) ∪ batch over only those days.
          // The batch is read three times (day list, anti-join, union):
          // persist so the micro-batch's source files are read once —
          // the same discipline as the MoR twin below
          val b = batch.persist()
          try {
            val days = b.select($"day").distinct().collect()
              .map(_.getInt(0)).sorted
            if (days.nonEmpty) {
              val (at, current) = LakeOps.readMain(spark, out)
              val merged = current
                .join(b.select($"event_id"), Seq("event_id"), "left_anti")
                .unionByName(b)
              LakeOps.rewriteDays(spark, out, at, merged, days)
            }
            ()
          } finally b.unpersist()
        }
        .start()
      drain(q)
    }
    LakeOps.readCurrent(spark, out)
      .filter($"day".between(6, 12))
      .groupBy($"day".cast("long").as("day"))
      .agg(count(lit(1)).as("n"),
        count(when($"event_type" === "purchase", 1)).as("n_purchases"),
        dsum($"value").as("sum_value"))
      .orderBy($"day")
  }

  /** `stream_upsert_mor` — the MERGE-ON-READ streaming sink, the
    * scale-safe twin of [[streamUpsertSink]]'s copy-on-write bridge: each
    * micro-batch commits ONLY an appended delta file (the batch rows) and
    * a key-delete file (the batch's event_ids) — not one base byte is
    * rewritten, ever, no matter how hot the partitions or how frequent
    * the batches (LakeSpec proves by mtime). Readers merge at scan:
    * base ⟕anti deletes ∪ deltas. This is Iceberg v2's delete-file MoR
    * ([[graft.sources.LakeOps.deleteMor]]) applied per micro-batch; a
    * periodic [[compactStreamMor]] (the [[graft.sources.LakeOps
    * .compactMor]] shape) folds the sidecars back in. At 100 TB a
    * high-frequency stream touching hot partitions pays KBs of append
    * per batch instead of full partition rewrite amplification — the
    * round-7 verdict's exact ask. Drained on the finite stream the MoR
    * read equals the batch MERGE — that is the oracle. */
  def streamUpsertMor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (base, delta, deletes) = streamUpsertMorRun(spark, dir)
    morScan(spark, base, delta, deletes)
      .filter($"day".between(6, 12))
      .groupBy($"day".cast("long").as("day"))
      .agg(count(lit(1)).as("n"),
        count(when($"event_type" === "purchase", 1)).as("n_purchases"),
        dsum($"value").as("sum_value"))
      .orderBy($"day")
  }

  /** Drain the correction stream into the MoR layout (no compaction):
    * returns the base table's root and the delta and deletes sidecar
    * directories. Split out so LakeSpec can assert base immutability
    * and then fold with [[compactStreamMor]]. */
  private[graft] def streamUpsertMorRun(spark: SparkSession,
      dir: String): (String, String, String) = {
    import spark.implicits._
    val root = graft.sources.IngestOps.tmp("events_stream_mor")
    val (base, delta, deletes) =
      (s"$root/base", s"$root/delta", s"$root/deletes")
    org.apache.spark.network.util.JavaUtils
      .deleteRecursively(new java.io.File(root))
    // working copy of the shared immutable days-1-10 base (the spec's
    // compaction pass mutates it, so each run gets its own clone); the
    // timed path is the per-batch MoR commits
    LakeOps.cloneTree(upsertBaseLayout(spark, dir), base)
    val batchSchema = eventsSchema(spark, dir)
    val updates = Tables.normalizeTs(spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
      .withColumn("day", dayofmonth($"ts"))
      .filter($"day".between(8, 12) && $"event_type" === "purchase")
      .select($"event_id", $"user_id", $"event_type",
        ($"value" + 1000.0).as("value"), $"day")
    withStatePartitions(spark, 8) {
      val q = updates.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // the MoR commit: delta rows + doomed keys, both appends —
          // cost ∝ |batch|, independent of base size or partition heat.
          // Delta is day-partitioned like the base (one file per touched
          // day per batch, written in parallel) so the MoR merge can
          // prune delta partitions exactly like base partitions at scale.
          val b = batch.persist()
          // an empty micro-batch must commit NOTHING: writing it would
          // create schema-less delta/deletes dirs (only _SUCCESS) that
          // crash the MoR read's schema inference — the same guard the
          // CoW sink carries on its day list
          try if (!b.isEmpty) {
            b.repartition($"day")
              .write.mode(org.apache.spark.sql.SaveMode.Append)
              .partitionBy("day")
              .option("compression", "zstd").parquet(delta)
            // the doomed-key sidecar is a key-only projection — tiny
            // relative to the batch, so one file per commit is the
            // right small-file/metadata trade even at scale (Iceberg
            // likewise writes few, wide-scope equality-delete files)
            b.select($"event_id").coalesce(1)
              .write.mode(org.apache.spark.sql.SaveMode.Append)
              .option("compression", "zstd").parquet(deletes)
          } finally b.unpersist()
        }
        .start()
      drain(q)
    }
    (base, delta, deletes)
  }

  /** Shared immutable versioned events table (days 1-10, one snapshot)
    * both upsert sinks start from — built once per corpus fingerprint
    * ([[graft.sources.LakeOps.baseTableLayout]]) and cloned into scratch
    * per call ([[graft.sources.LakeOps.cloneTree]]), the
    * lake-mutation-base discipline applied to the streaming sinks. */
  private[graft] def upsertBaseLayout(spark: SparkSession,
      dir: String): String = {
    import spark.implicits._
    LakeOps.baseTableLayout(spark, "events_streambase_v4", dir) {
      graft.sources.IngestOps.eventsWithParts(spark, dir)
        .filter($"day".between(1, 10))
        .select($"event_id", $"user_id", $"event_type", $"value", $"day")
    }
  }

  /** The MoR merge at scan time: the current snapshot of the base table
    * at root `base`, minus deleted keys, plus deltas. The delete file is
    * KBs → broadcast anti-join, no shuffle of base. ABSENT sidecars are
    * a legal table state, not an error: a table no stream has committed
    * to yet (or one just compacted) has no delta and no delete files —
    * the merged view is simply the base. */
  private[graft] def morScan(spark: SparkSession, base: String,
      delta: String, deletes: String): DataFrame = {
    val b = LakeOps.readCurrent(spark, base)
    val afterDeletes =
      if (graft.sources.IngestOps.fsExists(spark, deletes))
        b.join(LakeOps.boundedBroadcast(spark.read.parquet(deletes)),
          Seq("event_id"), "left_anti")
      else b
    if (graft.sources.IngestOps.fsExists(spark, delta))
      afterDeletes.unionByName(spark.read.parquet(delta))
    else afterDeletes
  }

  /** Fold the streaming MoR sidecars into the base table (one
    * copy-on-write replace commit) and drop them
    * ([[graft.sources.LakeOps.compactMor]]'s planning: only partitions
    * that actually hold doomed or new rows are rewritten). After this a
    * PLAIN read of the base's current snapshot serves the merged
    * answer. */
  private[graft] def compactStreamMor(spark: SparkSession, base: String,
      delta: String, deletes: String): Unit = {
    import spark.implicits._
    // absent sidecars are a LEGAL table state (no stream committed yet,
    // a prior compaction already folded them, or a crash landed only
    // one side) — each missing side reads as empty, and nothing at all
    // is a no-op, not a crash
    val hasAdd = graft.sources.IngestOps.fsExists(spark, delta)
    val hasDel = graft.sources.IngestOps.fsExists(spark, deletes)
    if (!hasAdd && !hasDel) return
    val del = if (hasDel) spark.read.parquet(deletes)
      else spark.range(0).select($"id".as("event_id"))
    val (at, current) = LakeOps.readMain(spark, base)
    val add = if (hasAdd) spark.read.parquet(delta) else current.limit(0)
    val touched = current
      .join(LakeOps.boundedBroadcast(del), Seq("event_id"), "left_semi")
      .select($"day").distinct().collect().map(_.getInt(0)).toSet
    val days = (touched ++ add.select($"day").distinct().collect()
      .map(_.getInt(0))).toSeq.sorted
    val merged = current
      .join(LakeOps.boundedBroadcast(del), Seq("event_id"), "left_anti")
      .unionByName(add)
    LakeOps.rewriteDays(spark, base, at, merged, days)
    org.apache.spark.network.util.JavaUtils
      .deleteRecursively(new java.io.File(delta))
    org.apache.spark.network.util.JavaUtils
      .deleteRecursively(new java.io.File(deletes))
  }

  /** The raw change-feed stream: a file source over ONLY the files
    * committed by snapshots newer than the consumer's last-seen snapshot
    * (here 2 — so snapshot 3's delta). The file list and the stream's
    * schema come from snapshot 3's manifest and the schema record it
    * names (pure metadata); the day-directory glob it induces is
    * exact because the layout's commits are whole day partitions.
    * Shared with LakeSpec's only-delta-files-streamed proof. */
  private[graft] def cdfStream(spark: SparkSession,
      dir: String): (DataFrame, String) = {
    import spark.implicits._
    val root = graft.sources.IngestOps.snapshotLayout(spark, dir)
    val rels = graft.sources.IngestOps.snapshotManifest(spark, root, 3)
    val days = rels.flatMap(r =>
      "day=(\\d+)/".r.findFirstMatchIn(r).map(_.group(1)))
      .distinct.sorted
    val glob = s"$root/data/day={${days.mkString(",")}}"
    val sch = LakeOps.snapshotSchema(spark, root, 3).readSchema
    val stream = spark.readStream.option("basePath", s"$root/data")
      .schema(sch).parquet(glob)
    (stream, root)
  }

  /** `stream_cdf_read` — the change feed as a STREAM: the read-side twin
    * of [[streamUpsertSink]] (Delta/Iceberg's CDF-as-stream pattern). A
    * consumer that has processed snapshots 1-2 subscribes to the table
    * and receives ONLY the files later snapshots committed — never a
    * re-read of the table. Drained on the finite delta the aggregate
    * equals the batch answer over days 11-15; at 100 TB this is how a
    * downstream keeps a derived table fresh for the cost of the delta. */
  def streamCdfRead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (stream, _) = cdfStream(spark, dir)
    val queryName = s"cdf_read_${System.nanoTime()}"
    withStatePartitions(spark, 8) {
      val q = stream
        .groupBy($"day")
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
        .writeStream.outputMode("complete").format("memory")
        .queryName(queryName).start()
      drain(q)
    }
    releaseSink(spark, queryName)(spark.table(queryName)
      .select($"day".cast("long").as("day"), $"n", $"sum_value")
      .orderBy($"day"))
  }

  /** Drain the resume-test stream once: file source over `src`, parquet
    * sink at `sink`, offsets/seen-files under `cp`. Each call is a fresh
    * STREAM START against the same checkpoint — a restart, not a
    * continuation. Shared with LakeSpec's exactly-once assertions. */
  private[graft] def drainResumeOnce(spark: SparkSession, src: String,
      sink: String, cp: String,
      schema: org.apache.spark.sql.types.StructType): Unit =
    withStatePartitions(spark, 8) {
      val q = spark.readStream.schema(schema).parquet(src)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .start()
      drain(q)
    }

  /** `stream_resume_checkpoint` — restartable exactly-once pipeline:
    * the stream drains a first batch of files, STOPS, more files land,
    * and a NEW stream started against the same checkpoint processes
    * only the unseen files (the offset log + file-source seen-files
    * ledger). If the restart re-read old input the sink would
    * double-count and the batch oracle would catch it — exactly-once
    * across restarts is the whole contract of a production pipeline
    * that deploys, crashes, and resumes without reprocessing 100 TB. */
  def streamResumeCheckpoint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = graft.sources.IngestOps.tmp("stream_resume_src")
    val sink = graft.sources.IngestOps.tmp("stream_resume_sink")
    val cp = graft.sources.IngestOps.tmp("stream_resume_cp")
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(src, sink, cp).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      graft.sources.IngestOps.deleteOrThrow(p.getFileSystem(conf), p,
        recursive = true)
    }
    // both landing batches come pre-built from the shared layout; a
    // "landing" is a file-level copy into src (what a producer landing
    // files actually does), so the timed path is the two drains and the
    // restart bookkeeping, not two Spark writes of fixture data
    val lay = resumeBatchesLayout(spark, dir)
    def land(batch: String): Unit = {
      import java.nio.file._
      Files.createDirectories(Paths.get(src))
      val ls = Files.list(Paths.get(lay, batch))
      try ls.forEach { f =>
        if (f.getFileName.toString.endsWith(".parquet"))
          Files.copy(f, Paths.get(src, f.getFileName.toString))
      } finally ls.close()
    }
    land("b1")
    val schema = Tables.parquet(spark, s"$lay/b1").schema
    drainResumeOnce(spark, src, sink, cp, schema) // processes days 1-5
    land("b2")
    drainResumeOnce(spark, src, sink, cp, schema) // restart: days 6-8 only
    spark.read.parquet(sink)
      .groupBy($"day".cast("long").as("day"))
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"day")
  }

  /** Shared immutable landing batches for [[streamResumeCheckpoint]]:
    * `b1/` = days 1-5, `b2/` = days 6-8, distinct file names (separate
    * write UUIDs) so the file-source seen-files ledger treats the
    * second landing as new arrivals. */
  private[graft] def resumeBatchesLayout(spark: SparkSession,
      dir: String): String = {
    import spark.implicits._
    import graft.sources.IngestOps
    val out = IngestOps.sharedFor(spark, "stream_resumebatches", dir)
    IngestOps.buildShared(spark, out) { root =>
      val ev = IngestOps.eventsWithParts(spark, dir)
        .select($"event_id", $"event_type", $"value", $"day")
        .filter($"day".between(1, 8))
      ev.filter($"day".between(1, 5))
        .write.mode(SaveMode.Overwrite).parquet(s"$root/b1")
      ev.filter($"day".between(6, 8))
        .write.mode(SaveMode.Overwrite).parquet(s"$root/b2")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_late_drop" -> (streamLateDrop _),
    "stream_resume_checkpoint" -> (streamResumeCheckpoint _),
    "stream_cdf_read" -> (streamCdfRead _),
    "stream_upsert_sink" -> (streamUpsertSink _),
    "stream_upsert_mor" -> (streamUpsertMor _),
    "stream_join_dim" -> (streamJoinDim _),
    "stream_stream_join" -> (streamStreamJoin _),
    "stream_custom_state" -> (streamCustomState _),
    "stream_scd2_current" -> (streamScd2Current _),
    "stream_tws_state" -> (streamTwsState _),
    "stream_tws_timers" -> (streamTwsTimers _),
    "stream_hourly_rollup" -> (streamHourlyRollup _),
    "stream_session_agg" -> (streamSessionAgg _),
    "stream_session_watermark" -> (streamSessionWatermark _),
    "stream_dedup" -> (streamDedup _),
    "stream_dedup_watermark" -> (streamDedupWatermark _),
    "agg_session_window" -> (aggSessionWindow _))

  val oracles: Map[String, String] = Map(
    "stream_resume_checkpoint" ->
      """SELECT CAST(day(ts) AS BIGINT) AS day, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE day(ts) BETWEEN 1 AND 8
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_cdf_read" ->
      """SELECT CAST(day(ts) AS BIGINT) AS day, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE day(ts) BETWEEN 11 AND 15
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_join_dim" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(weight AS
        |    DECIMAL(4,2))) AS DOUBLE) AS weighted_value
        |FROM events JOIN (VALUES ('click', 0.5), ('view', 0.1),
        |    ('purchase', 5.0), ('signup', 2.0), ('error', 0.25))
        |  AS d(et, weight) ON event_type = et
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the MoR sink serves the SAME merged table as the CoW sink — the
    // storage strategy must be invisible to readers, so one oracle
    "stream_upsert_mor" ->
      """WITH upd AS (
        |  SELECT event_id, user_id, event_type, value + 1000 AS value,
        |    day(ts) AS day
        |  FROM events
        |  WHERE day(ts) BETWEEN 8 AND 12 AND event_type = 'purchase'),
        |base AS (
        |  SELECT event_id, user_id, event_type, value, day(ts) AS day
        |  FROM events WHERE day(ts) BETWEEN 1 AND 10),
        |merged AS (
        |  SELECT * FROM base
        |  WHERE event_id NOT IN (SELECT event_id FROM upd)
        |  UNION ALL SELECT * FROM upd)
        |SELECT CAST(day AS BIGINT) AS day, COUNT(*) AS n,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
        |    AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM merged WHERE day BETWEEN 6 AND 12
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_upsert_sink" ->
      """WITH upd AS (
        |  SELECT event_id, user_id, event_type, value + 1000 AS value,
        |    day(ts) AS day
        |  FROM events
        |  WHERE day(ts) BETWEEN 8 AND 12 AND event_type = 'purchase'),
        |base AS (
        |  SELECT event_id, user_id, event_type, value, day(ts) AS day
        |  FROM events WHERE day(ts) BETWEEN 1 AND 10),
        |merged AS (
        |  SELECT * FROM base
        |  WHERE event_id NOT IN (SELECT event_id FROM upd)
        |  UNION ALL SELECT * FROM upd)
        |SELECT CAST(day AS BIGINT) AS day, COUNT(*) AS n,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
        |    AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM merged WHERE day BETWEEN 6 AND 12
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_stream_join" ->
      """WITH e AS (SELECT * FROM events WHERE day(ts) <= 3),
        |v AS (SELECT user_id, ts FROM e WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts FROM e WHERE event_type = 'purchase')
        |SELECT day(v.ts) AS d, COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT v.user_id) AS n_users
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND p.ts BETWEEN v.ts AND v.ts + INTERVAL 1 HOUR
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_custom_state" ->
      """WITH last AS (
        |  SELECT user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |agg AS (
        |  SELECT user_id, COUNT(*) AS n, MAX(value) AS mx
        |  FROM events GROUP BY user_id)
        |SELECT a.user_id, a.n, a.mx AS max_value, l.event_type AS last_type
        |FROM agg a JOIN last l ON a.user_id = l.user_id AND l.rn = 1
        |ORDER BY a.user_id""".stripMargin,
    "stream_scd2_current" ->
      s"""${graft.operators.CdcOps.SCD2_CTES}
         |SELECT user_id, version, event_type FROM scd2
         |WHERE is_current ORDER BY user_id""".stripMargin,
    "stream_tws_state" ->
      """SELECT user_id, COUNT(DISTINCT event_type) AS n_types,
        |  COUNT(*) AS n, MAX(value) AS max_value
        |FROM events WHERE user_id % 4 = 3
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // batch gap-sessionization (30-min LAG rule) cut at the final
    // watermark: emitted sessions are exactly those whose ms-floored
    // end + gap the watermark (ms-floored max ts - 3 h) passed
    "stream_tws_timers" ->
      """WITH e AS (
        |  SELECT user_id, ts, value FROM events WHERE user_id % 5 = 4),
        |wm AS (
        |  SELECT epoch_ms(CAST(date_trunc('millisecond', MAX(ts))
        |    AS TIMESTAMP)) - 3*3600*1000 AS w
        |  FROM e),
        |flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           > INTERVAL 30 MINUTE OR
        |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged),
        |closed AS (
        |  SELECT user_id, epoch_us(MIN(ts)) AS session_start_us,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |    epoch_ms(CAST(date_trunc('millisecond', MAX(ts))
        |      AS TIMESTAMP)) AS end_ms
        |  FROM sessions GROUP BY user_id, sid)
        |SELECT user_id, session_start_us, n, sum_value
        |FROM closed, wm WHERE end_ms + 30*60*1000 <= w
        |ORDER BY user_id, session_start_us""".stripMargin,
    "stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // the doubled deliveries collapse back to the original events
    "stream_dedup_watermark" ->
      """SELECT CAST(day(ts) AS BIGINT) AS day, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           > INTERVAL 30 MINUTE OR
        |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM events WHERE user_id < 50),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "stream_session_agg" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           > INTERVAL 20 MINUTE OR
        |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM events WHERE user_id % 3 = 1),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "stream_session_watermark" ->
      // batch sessionization (25-min gap) CUT at the final watermark:
      // only sessions whose end (last event + gap) the watermark
      // (max filtered ts, ms precision, - 3h) passed were emitted
      """WITH e AS (
        |  SELECT user_id, ts, value FROM events WHERE user_id % 3 = 2),
        |wm AS (
        |  SELECT CAST(date_trunc('millisecond', MAX(ts)) AS TIMESTAMP)
        |    - INTERVAL 3 HOUR AS w
        |  FROM e),
        |flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           > INTERVAL 25 MINUTE OR
        |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, session_start, n, sum_value FROM (
        |  SELECT user_id, MIN(ts) AS session_start,
        |    MAX(ts) + INTERVAL 25 MINUTE AS session_end, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM sessions GROUP BY user_id, sid) s, wm
        |WHERE s.session_end <= wm.w
        |ORDER BY user_id, session_start""".stripMargin,
    "stream_hourly_rollup" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_late_drop" ->
      // drop-C (day-5 replay) rows are absent: they arrived behind the
      // watermark. Only windows the final watermark passed are emitted:
      // window_end <= max(fresh ts, ms precision) - 1h.
      """WITH base AS (
        |  SELECT ts, event_type, value FROM events
        |  WHERE day(ts) BETWEEN 5 AND 10),
        |wm AS (
        |  SELECT CAST(date_trunc('millisecond', MAX(ts)) AS TIMESTAMP)
        |    - INTERVAL 1 HOUR AS w
        |  FROM base)
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM base, wm
        |WHERE CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
        |      <= w
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
