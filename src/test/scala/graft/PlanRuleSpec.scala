package graft

import org.apache.spark.sql.functions._

/** TimestampPushdownRule: the added raw-nanos conjunct must be exactly
  * equivalent (floor-division boundary cases) and must reach the parquet
  * scan as a PushedFilter. SmallSortRule: a small global sort runs in one
  * partition with no range exchange, and every boundary of the rule. */
class PlanRuleSpec extends SparkSpecBase {

  test("boundary exactness: augmented filters keep every matching row") {
    import spark.implicits._
    // nanos straddling the micro boundary around T = 1_000_000 us
    val tUs = 1000000L
    val ns = Seq(tUs * 1000 - 1, tUs * 1000, tUs * 1000 + 1,
      tUs * 1000 + 999, tUs * 1000 + 1000, (tUs + 1) * 1000,
      (tUs - 1) * 1000 + 999)
    val df = ns.toDF("ts_ns")
      .select($"ts_ns", timestamp_micros(expr("ts_ns div 1000")).as("ts"))
    val t = timestamp_micros(lit(tUs))
    def expectedUs(p: Long => Boolean) =
      ns.filter(n => p(Math.floorDiv(n, 1000L))).toSet
    assert(df.filter($"ts" >= t).select($"ts_ns").collect()
      .map(_.getLong(0)).toSet == expectedUs(_ >= tUs))
    assert(df.filter($"ts" <= t).select($"ts_ns").collect()
      .map(_.getLong(0)).toSet == expectedUs(_ <= tUs))
    assert(df.filter($"ts" > t).select($"ts_ns").collect()
      .map(_.getLong(0)).toSet == expectedUs(_ > tUs))
    assert(df.filter($"ts" < t).select($"ts_ns").collect()
      .map(_.getLong(0)).toSet == expectedUs(_ < tUs))
  }

  test("native timestamp layout: the predicate is already sargable and " +
      "reaches the scan as a native PushedFilter (rule is a no-op)") {
    import spark.implicits._
    val df = graft.sources.Tables.events(spark, sf)
      .filter($"ts" >= lit("2024-01-28 00:00:00").cast("timestamp"))
    df.count()
    val scans = fileScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", ""))
      .mkString(";")
    assert(pushed.contains("GreaterThanOrEqual(ts"),
      s"native ts predicate did not reach the scan: $pushed")
    // and the rule must not have manufactured any raw-long twin: the
    // filter condition on a native column stays exactly one conjunct
    // (plus isnotnull) — no duplicated comparisons
    val cond = df.queryExecution.optimizedPlan.toString
    assert(">=".r.findAllIn(cond).size <= 1,
      s"rule added a spurious twin on a native layout: $cond")
  }

  test("long-nanos layout: the rule conjoins a raw-nanos twin that " +
      "reaches the parquet scan exactly once") {
    import spark.implicits._
    // synthesize the legacy encoding: int64 nanos column named ts
    val root = graft.sources.IngestOps.tmp("planrule_nanos")
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val us = Seq(1706399999999999L, 1706400000000000L, 1706400000000001L,
      1706486400000000L)
    us.zipWithIndex.map { case (u, i) => (i.toLong, u * 1000L) }
      .toDF("event_id", "ts")
      .coalesce(1).write.parquet(s"$root/events.parquet")
    val df = graft.sources.Tables.events(spark, root)
      .filter($"ts" >= lit("2024-01-28 00:00:00").cast("timestamp"))
    assert(df.count() == 3)   // floor semantics keep the boundary row out
    val plan = df.queryExecution.executedPlan.toString
    val pushed = "GreaterThanOrEqual\\(ts,\\d+\\)".r
      .findAllIn(plan).toSeq
    assert(pushed.nonEmpty, s"no raw pushdown in: $plan")
    assert(pushed.distinct.length <= 2, s"rule not idempotent: $pushed")
  }

  test("truncation semantics: pre-epoch (negative nanos) rows survive " +
      "augmentation in every operator spelling") {
    import spark.implicits._
    // `div` truncates TOWARD ZERO (n / 1000 in Java), not toward -inf:
    // -500 div 1000 = 0, so x = -500 must pass ts >= epoch. A
    // floor-semantics bound (x >= 0) silently dropped these rows.
    val ns = Seq(-2000L, -1999L, -1500L, -1000L, -999L, -500L, -1L,
      0L, 1L, 999L, 1000L)
    val df = ns.toDF("ts_ns")
      .select($"ts_ns", timestamp_micros(expr("ts_ns div 1000")).as("ts"))
    def got(c: org.apache.spark.sql.Column) =
      df.filter(c).select($"ts_ns").collect().map(_.getLong(0)).toSet
    def expected(p: Long => Boolean) = ns.filter(n => p(n / 1000L)).toSet
    for (tUs <- Seq(-2L, -1L, 0L, 1L)) {
      val t = timestamp_micros(lit(tUs))
      assert(got($"ts" >= t) == expected(_ >= tUs), s"ge T=$tUs")
      assert(got($"ts" <= t) == expected(_ <= tUs), s"le T=$tUs")
      assert(got($"ts" > t) == expected(_ > tUs), s"gt T=$tUs")
      assert(got($"ts" < t) == expected(_ < tUs), s"lt T=$tUs")
      // flipped operand order (lit OP ts), strict forms included —
      // these spellings previously derived no twin at all
      assert(got(t <= $"ts") == expected(_ >= tUs), s"flip-le T=$tUs")
      assert(got(t < $"ts") == expected(_ > tUs), s"flip-lt T=$tUs")
      assert(got(t >= $"ts") == expected(_ <= tUs), s"flip-ge T=$tUs")
      assert(got(t > $"ts") == expected(_ < tUs), s"flip-gt T=$tUs")
    }
  }

  test("overflow guard: far-future/far-past literals derive no bound " +
      "and drop no rows") {
    import spark.implicits._
    // 9999-12-31 is ~2.5e17 us; x1000 overflows Long. An overflowed
    // bound matches nothing — the augmented filter would return an
    // EMPTY result where the unaugmented one returns every row.
    val ns = Seq(-1000000000L, 0L, 1706400000000000000L)
    val df = ns.toDF("ts_ns")
      .select($"ts_ns", timestamp_micros(expr("ts_ns div 1000")).as("ts"))
    val hi = lit("9999-12-31 23:59:59").cast("timestamp")
    val lo = lit("1677-01-01 00:00:00").cast("timestamp")
    assert(df.filter($"ts" <= hi).count() == 3)
    assert(df.filter($"ts" >= lo).count() == 3)
    assert(df.filter($"ts" < hi && $"ts" > lo).count() == 3)
  }

  test("rule result matches unaugmented semantics on real events") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sf)
    val lo = lit("2024-01-10 00:00:00").cast("timestamp")
    val hi = lit("2024-01-12 00:00:00").cast("timestamp")
    val filtered = ev.filter($"ts".between(lo, hi)).count()
    // independent check straight from duck-typed raw micros arithmetic
    val expected = ev.select(unix_micros($"ts").as("us")).filter(
      $"us" >= 1704844800000000L && $"us" <= 1705017600000000L).count()
    assert(filtered == expected)
  }

  /** A global sort of every sf0.001 lineitem, an input estimate far below
    * the 1 MB default `coalescePartitions.minPartitionSize`. */
  private def smallSort = {
    import spark.implicits._
    graft.sources.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
  }

  private def sinkJobs(df: org.apache.spark.sql.DataFrame): Int =
    jobsOf(df.write.format("noop").mode("overwrite").save())

  /** What a lowered gate restores: the plan of a session without the
    * rule, the input's estimate being above 1 byte. */
  private val belowEstimate =
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1"

  test("a small global sort plans no range exchange, returns the same " +
      "rows in the same order, and runs fewer jobs") {
    val df = smallSort
    val rows = df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(!finalPlan.contains("rangepartitioning"), finalPlan)
    assert(planNodeNames(df.queryExecution.executedPlan)
      .contains("CoalesceExec"), finalPlan)
    val (kept, keptPlan) = GraftSession.withConf(spark, belowEstimate) {
      val k = smallSort
      (k.collect(), k.queryExecution.executedPlan.toString)
    }
    assert(keptPlan.contains("rangepartitioning"), keptPlan)
    assert(rows.length == graft.sources.Tables.lineitem(spark, sf).count() &&
      rows.toSeq == kept.toSeq)
    val jobs = sinkJobs(smallSort)
    val keptJobs =
      GraftSession.withConf(spark, belowEstimate)(sinkJobs(smallSort))
    assert(jobs < keptJobs, s"rewritten $jobs jobs, range sort $keptJobs")
  }

  test("a sort whose input estimate is above minPartitionSize keeps its " +
      "range exchange") {
    GraftSession.withConf(spark, belowEstimate) {
      val df = smallSort
      assert(df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
      }.isEmpty, df.queryExecution.optimizedPlan.toString)
      df.collect()
      assert(df.queryExecution.executedPlan.toString
        .contains("rangepartitioning"))
    }
  }

  test("orderBy(...).limit(k) still plans TakeOrderedAndProject") {
    val df = smallSort.limit(5)
    df.collect()
    val names = planNodeNames(df.queryExecution.executedPlan)
    assert(names.contains("TakeOrderedAndProjectExec") &&
      !names.contains("CoalesceExec"), names)
  }

  test("streaming plans and sessions without AQE partition coalescing " +
      "are untouched") {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.catalyst.expressions._
    val out = Seq(AttributeReference("x",
      org.apache.spark.sql.types.LongType)())
    def sorted(streaming: Boolean) = Sort(Seq(SortOrder(out.head, Ascending)),
      global = true, LocalRelation(out, Nil, isStreaming = streaming))
    // the same tiny sort is rewritten as a batch plan, not as a stream
    assert(graft.plans.SmallSortRule(sorted(false)) != sorted(false))
    assert(graft.plans.SmallSortRule(sorted(true)) == sorted(true))
    for (off <- Seq("spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled"))
      GraftSession.withConf(spark, off -> "false") {
        assert(graft.plans.SmallSortRule(sorted(false)) == sorted(false), off)
        val df = smallSort
        df.collect()
        assert(df.queryExecution.executedPlan.toString
          .contains("rangepartitioning"), off)
      }
  }

  test("SmallSortRule is idempotent: a second pass leaves the optimized " +
      "plan unchanged") {
    val optimized = smallSort.queryExecution.optimizedPlan
    assert(optimized.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
    }.size == 1, optimized.toString)
    assert(graft.plans.SmallSortRule(optimized) == optimized)
  }

  test("sf0.01 job counts: the rewritten interactive keys sink to noop in " +
      "fewer jobs and plan no range exchange") {
    val sf01 = sf.stripSuffix("sf0.001") + "sf0.01"
    // (with the rule, with the gate below every estimate: as without it)
    val expected = Map("add_cols" -> (1, 3), "explode_array" -> (1, 3),
      "snapshot_read_attime" -> (2, 4), "agg_approx_distinct" -> (3, 5))
    val got = expected.keys.toSeq.sorted.map { key =>
      val q = SparkEntry.queries(key)
      sinkJobs(q(spark, sf01)) // layouts and first-use costs outside
      val df = q(spark, sf01)
      val jobs = sinkJobs(df)
      df.collect()
      assert(!df.queryExecution.executedPlan.toString
        .contains("rangepartitioning"), key)
      key -> (jobs, GraftSession.withConf(spark, belowEstimate)(
        sinkJobs(q(spark, sf01))))
    }.toMap
    assert(got == expected)
  }
}
