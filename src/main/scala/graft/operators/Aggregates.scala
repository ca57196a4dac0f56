package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables

/** SURVEY.md §2c — aggregations.
  *
  * The reference does its grouping in plain Java hash maps
  * (`aig/AIGEventsTableCreator.java:385-394`, `:358-362`) and its time
  * histograms with a driver-side loop (`TimeBasedPartitioningExamples.java:256-280`).
  * Here each becomes a real distributed `groupBy` with map-side partial
  * aggregation; Catalyst plans partial+final HashAggregate automatically, so
  * at 100 TB the shuffle carries one row per (group × partition), not raw data.
  */
object Aggregates {

  /** Flagship — TPC-H-Q1-shaped pricing summary (SURVEY §7.1 M1).
    * Exercises scan → pushed filter → hash agg with exact decimal math. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val one = lit(1)
    val discPrice = (dec($"l_extendedprice") * (one - dec($"l_discount")))
      .cast(DecimalType(18, 4))
    val charge = (discPrice * (one + dec($"l_tax"))).cast(DecimalType(28, 6))
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= lit("1997-09-01 00:00:00").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        sum(discPrice).cast("double").as("sum_disc_price"),
        sum(charge).cast("double").as("sum_charge"),
        davg($"l_quantity").as("avg_qty"),
        davg($"l_extendedprice").as("avg_price"),
        davg($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Composite-partition-key rollup — the reference's core grouping shape
    * (`Creator:385-394`: Map<(tenant,y,m,d,h), List<Record>>), as one
    * shuffle-with-partial-agg instead of a driver-side map. */
  def aggGroupByPartition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"user_id", $"ts", $"value")
      .withColumn("year", year($"ts").cast("long"))
      .withColumn("month", month($"ts").cast("long"))
      .withColumn("day", dayofmonth($"ts").cast("long"))
      .withColumn("hour", hour($"ts").cast("long"))
      .groupBy($"user_id", $"year", $"month", $"day", $"hour")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"user_id", $"year", $"month", $"day", $"hour")
  }

  /** Per-tenant batch counts (`Creator:358-362`). */
  def aggGroupByTenant(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"user_id")
  }

  /** `agg_mode` — deterministic per-key MODE (most frequent event_type
    * per user, ties to the lexicographically smallest type): Spark 4's
    * built-in `mode()` leaves ties undefined, which can never hash-match
    * a second engine, so the key spells mode as top-1-per-key over the
    * (user, type) count table — counts first (one shuffle, map-side
    * combined), then rank-1 per user. The rank-1 window is exactly the
    * RankLimitToTopK shape, so the engine plans the bounded-heap
    * TopKPerKey operator: the exchange after the counts carries ≤ 1 row
    * per (user, upstream partition), never the per-user type lists. */
  def aggMode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.events(spark, dir)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n"))
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"n".desc, $"event_type".asc)
    counts
      .withColumn("rn", row_number().over(byUser))
      .filter($"rn" === 1)
      .select($"user_id", $"event_type".as("mode_type"), $"n".as("n_mode"))
      .orderBy($"user_id")
  }

  /** Record counts per table — the `recordCount++` loops of
    * `Local:112-121` / `Bulk:179-183` as metadata-only counts (Spark answers
    * these from parquet footers via an aggregate pushdown-friendly plan). */
  def aggCountRecords(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counted = Seq("lineitem", "orders", "customer", "events", "documents")
    // GLOBAL agg per table, not groupBy: a global count yields its one
    // row even over an empty table, matching the oracle's UNION ALL of
    // COUNT(*) — a groupBy would silently drop an empty table's row
    counted.map { t =>
      Tables(spark, dir, t).agg(count(lit(1)).as("n"))
        .select(lit(t).as("tbl"), col("n"))
    }.reduce(_.unionByName(_)).orderBy($"tbl")
  }

  /** Byte/size accounting per group (`Local:124`, `Debug:186` shape). */
  def aggSumBytes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"),
        max($"n_chars").as("max_chars"), min($"n_chars").as("min_chars"))
      .orderBy($"source")
  }

  /** 24-bucket hour-of-day histogram (`TimeEx:256-280`). */
  def aggHourlyHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(hour($"ts").cast("long").as("hour_of_day"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"hour_of_day")
  }

  /** Daily aggregation pattern (`TimeEx:166-169`): date_trunc day buckets. */
  def aggDaily(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(date_trunc("day", $"ts").as("day"))
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"day")
  }

  /** Token-usage-style stats per tenant/model (schema fields
    * `usage_total/input/output` — `Validator:91-94`), here per event_type. */
  def aggUsageStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        dsum($"value").as("sum_value"),
        davg($"value").as("avg_value"),
        min(dec($"value")).cast("double").as("min_value"),
        max(dec($"value")).cast("double").as("max_value"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"event_type")
  }

  /** Exact distinct counting (X-tier per SURVEY §2c note). */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_orderkey").as("n_orders"),
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"))
      .orderBy($"l_returnflag")
  }

  /** Approximate distinct (HLL) — HLL sketches are engine-specific, so
    * hash-matching the raw estimate against DuckDB is impossible. The key
    * is made FULLY oracle-checkable instead by folding the
    * engine-specific estimate into a deterministic answer: per group it
    * returns the exact distinct (both engines agree) plus a
    * `within_5pct` boolean of the HLL estimate vs that exact value
    * (true on both sides when the sketch honors its rsd=0.02 contract —
    * the oracle emits a literal TRUE, so a drifting sketch hash-fails
    * the round rather than hiding behind a rows-only check). */
  def aggApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    approxDistinctPerFlag(spark, dir)
      .select($"l_returnflag", $"exact_orders",
        (abs($"approx" - $"exact_orders") / $"exact_orders" < 0.05)
          .as("within_5pct"))
      .orderBy($"l_returnflag")
  }

  /** Per `l_returnflag`: the exact and the HLL (rsd 0.02) distinct
    * `l_orderkey` counts, planned distinct-first. Spark's plan for
    * `countDistinct` beside `approx_count_distinct` carries the sketch's
    * 411-long buffer for every (flag, order) group through a shuffle;
    * deduplicating (flag, order) first carries it once per flag per
    * task. Both answers are unchanged: a duplicate cannot raise an HLL
    * register (each keeps a maximum), and `count` over the distinct
    * non-NULL keys is their distinct count. */
  private[graft] def approxDistinctPerFlag(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select($"l_returnflag", $"l_orderkey").distinct()
      .groupBy($"l_returnflag")
      .agg(
        count($"l_orderkey").as("exact_orders"),
        approx_count_distinct($"l_orderkey", 0.02).as("approx"))
  }

  /** `agg_bitmap_distinct` — EXACT distinct counting via mergeable
    * bitmaps (Spark's bitmap_* family): each key maps to a
    * (bucket, bit) address; a partial pass ORs per-(group, bucket)
    * bitmaps, the final pass sums their bitmap_count — the
    * ClickHouse/Doris exact-distinct shape. Unlike countDistinct, whose
    * shuffle carries every distinct VALUE, this shuffle carries ≤ 4 KiB
    * per (group, bucket): at 100 TB counting a billion distinct ids per
    * group moves bitmap bytes ∝ id-range / 32768, not data rows — and
    * unlike HLL ([[aggApproxDistinct]]) the answer is exact, so the
    * DuckDB COUNT(DISTINCT) oracle checks it bit-for-bit. */
  def aggBitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag",
        bitmap_bucket_number($"l_orderkey").as("bkt"))
      .agg(bitmap_construct_agg(bitmap_bit_position($"l_orderkey"))
        .as("bm"))
      .groupBy($"l_returnflag")
      .agg(sum(bitmap_count($"bm")).as("n_orders"))
      .orderBy($"l_returnflag")
  }

  /** `agg_funnel_steps` — ordered-event FUNNEL (the ClickHouse
    * windowFunnel / product-analytics staple): how far does each user
    * get through view → click → purchase, each step STRICTLY AFTER the
    * previous? Expressed set-based: three conditional min-timestamp
    * aggregates chained by equi-joins on user — no per-user sort, no
    * stateful UDAF; at 100 TB each step is one shuffle on user_id (the
    * same key, so Catalyst reuses the partitioning across steps) and
    * the report is a 4-row rollup of per-user depths. */
  def aggFunnelSteps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // TRUE sliding conversion window (ClickHouse windowFunnel contract):
    // later steps must land within 2 days OF EACH USER'S FIRST VIEW —
    // t_step ∈ (t_prev, t1 + 2 days] — not within a calendar-date
    // prefix of the month (the old `dayofmonth <= 2` spelling, which
    // was a month-boundary predicate, not a per-user window).
    // ONE user-partitioned pass (r21, guide §2.4): the step times are
    // per-user scalars — t1 = min view ts, t2 = min qualifying click ts
    // (depends on t1), t3 = min qualifying purchase ts (depends on t2) —
    // so three stacked unordered window aggregates over the SAME
    // partitioning compute them with a single exchange of the events
    // table, where the old per-step groupBy/join chain scanned events
    // four times and shuffled seven. The per-user distinct reuses the
    // window's partitioning (grouping keys ⊇ partition key → no new
    // exchange); only the 4-row depth histogram shuffles after that.
    // Answers identical (oracle unchanged): null t1/t2 disqualify later
    // steps through the when-condition exactly as the joins dropped them.
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
    val horizon = $"t1" + expr("INTERVAL 2 DAYS")
    Tables.events(spark, dir)
      .select($"user_id", $"event_type", $"ts")
      .withColumn("t1",
        min(when($"event_type" === "view", $"ts")).over(w))
      .withColumn("t2",
        min(when($"event_type" === "click" &&
          $"ts" > $"t1" && $"ts" <= horizon, $"ts")).over(w))
      .withColumn("t3",
        min(when($"event_type" === "purchase" &&
          $"ts" > $"t2" && $"ts" <= horizon, $"ts")).over(w))
      .select($"user_id",
        when($"t3".isNotNull, 3L).when($"t2".isNotNull, 2L)
          .when($"t1".isNotNull, 1L).otherwise(0L).as("funnel_depth"))
      .distinct()
      .groupBy($"funnel_depth")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"funnel_depth")
  }

  /** `agg_count_min` — COUNT-MIN SKETCH frequency estimation, completing
    * the mergeable-sketch family (t-digest quantiles, HLL distinct,
    * bitmap exact-distinct, bloom membership — CMS is the frequency
    * member): one distributed pass builds a KB-sized sketch (partial
    * sketches merge associatively across partitions, exactly how it
    * ships across 1000 executors or accumulates across streaming
    * micro-batches), then the known event-type domain is probed
    * driver-side against the sketch. With eps=1e-4 and five keys the
    * estimates are collision-free, so the oracle can check them against
    * EXACT counts — the deterministic seed makes the sketch reproducible
    * run to run. At 100 TB the sketch answers "how often does key K
    * appear" for any K in O(KB) memory where an exact GROUP BY needs a
    * shuffle. */
  def aggCountMin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the sketch stays IN-PLAN: one aggregate row cross-joined (and
    // broadcast) against the 5 fixed probe keys, estimated by a probe
    // UDF — justified like the Bloom probe: Spark's CountMinSketchAgg
    // builds sketches but exposes no probe expression. The previous
    // spelling collected the sketch at DataFrame-construction time, so
    // plan-only callers paid a full events scan and the bench measured
    // a pre-materialized local relation.
    val sk = Tables.events(spark, dir)
      .select(expr("count_min_sketch(event_type, 0.0001d, 0.99d, 42)")
        .as("sk"))
    val probe = udf((bytes: Array[Byte], t: String) =>
      org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(bytes))
        .estimateCount(org.apache.spark.unsafe.types
          .UTF8String.fromString(t).getBytes))
    Seq("click", "error", "purchase", "signup", "view")
      .toDF("event_type")
      .crossJoin(broadcast(sk))
      .select($"event_type", probe($"sk", $"event_type").as("est_n"))
      .orderBy($"event_type")
  }

  /** ROLLUP over region→nation revenue; null group keys are coalesced to a
    * sentinel so sort order is engine-independent (SURVEY §7.3).
    *
    * Scale shape: the fact side is partially aggregated per orderkey BEFORE
    * the dimension joins, and the rollup's Expand runs over the ~25
    * (region, nation) grouped rows — not over raw joined lineitem rows.
    * Rolling up raw fact rows triples the Expand input at any scale; with
    * pre-aggregation the Expand cost is constant in the fact size. All
    * sums stay exact decimal until the final double cast, so partial
    * aggregation cannot perturb the oracle hash. */
  def aggRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val liAgg = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("li_n"),
        sum(dec($"l_extendedprice")).as("li_rev"))
    val o = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
    val c = Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")
    val n = Tables.nation(spark, dir)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
    val r = Tables.region(spark, dir).select($"r_regionkey", $"r_name")
    val perNation = liAgg
      .join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(sum($"li_n").as("nn"), sum($"li_rev").as("nrev"))
    perNation
      .rollup($"r_name", $"n_name")
      .agg(sum($"nn").as("n"), sum($"nrev").cast("double").as("revenue"))
      .select(
        coalesce($"r_name", lit("ALL")).as("region"),
        coalesce($"n_name", lit("ALL")).as("nation"),
        $"n", $"revenue")
      .orderBy($"region", $"nation")
  }

  /** CUBE over returnflag × linestatus. */
  def aggCube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"n", $"sum_qty")
      .orderBy($"returnflag", $"linestatus")
  }

  /** Custom typed Aggregator UDAF (SURVEY §2j "custom aggregate demo"):
    * size-weighted average retail price per brand, exact in integer cents
    * so partition merge order can't perturb the result. */
  def aggUdafWavg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wavg = udaf(graft.functions.WeightedAvgCents,
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    Tables.part(spark, dir)
      .groupBy($"p_brand")
      .agg(wavg($"p_retailprice", $"p_size".cast("long"))
        .as("wavg_price"),
        count(lit(1)).as("n"))
      .orderBy($"p_brand")
  }

  /** Explicit GROUPING SETS (X-tier per §2c note). */
  def aggGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq($"o_orderstatus", $"o_orderpriority"), Seq($"o_orderstatus"),
          Seq.empty),
        $"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
      .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        $"n", $"total")
      .orderBy($"status", $"priority")
  }

  /** `agg_quantile_sketch` — distributed MERGEABLE quantile sketch: a
    * fixed-width histogram (bin = floor(price/100)) whose state is exact
    * integer counts, so partial aggregation, merging across executors,
    * and re-aggregation across time windows are all plain `+`. The
    * shuffle carries one (group, bin, count) row per non-empty bin —
    * ~5k rows per group regardless of input size — where exact
    * `percentile` must shuffle or sort every value. Quantiles come back
    * by within-bin linear interpolation over the cumulative counts; the
    * whole reconstruction is deterministic double arithmetic, so the
    * DuckDB twin reproduces it bit-exactly (unlike HLL/t-digest sketches,
    * which are implementation-defined — this one is oracle-checkable).
    * At 100 TB: the sketch build is one map-side-combined shuffle; exact
    * p50/p90 of a quadrillion rows costs the same network as of a
    * thousand. */
  def aggQuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val binW = 100.0
    val hist = Tables.orders(spark, dir)
      .groupBy($"o_orderstatus".as("st"),
        floor($"o_totalprice" / binW).cast("long").as("bin"))
      .agg(count(lit(1)).as("c"))
    val byBin = org.apache.spark.sql.expressions.Window
      .partitionBy($"st").orderBy($"bin")
    val whole = org.apache.spark.sql.expressions.Window.partitionBy($"st")
    val cum = hist
      .withColumn("cum", sum($"c").over(byBin))
      .withColumn("n", sum($"c").over(whole))
    // the UNIQUE bin holding rank ceil(q*n): below < k <= cum
    def est(q: Double): Column = {
      val k = ceil(lit(q) * $"n").cast("double")
      val below = ($"cum" - $"c").cast("double")
      val hit = below < k && $"cum".cast("double") >= k
      max(when(hit, $"bin".cast("double") * binW +
        ((k - below) / $"c".cast("double")) * binW))
    }
    cum.groupBy($"st".as("o_orderstatus"))
      .agg(est(0.5).as("p50_est"), est(0.9).as("p90_est"),
        max($"n").as("n"))
      .orderBy($"o_orderstatus")
  }

  /** `agg_tdigest` — quantiles via the custom t-digest
    * TypedImperativeAggregate ([[graft.functions.TDigestQuantiles]]):
    * map-side partials build per-partition digests, the shuffle carries
    * one bounded centroid buffer per group per partition, merge is
    * concatenate+recompress. On l_quantity (≤ 50 distinct values, under
    * the δ=200 cardinality gate) no lossy compression ever runs, so the
    * quantiles are EXACT type-7 — which is what lets a sketch be
    * oracle-checked against quantile_cont; the lossy high-cardinality
    * regime is property-tested in TDigestSpec. */
  def aggTdigest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TDigestFunctions.tdigestQuantiles
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(tdigestQuantiles($"l_quantity", Seq(0.25, 0.5, 0.75, 0.95), 200)
        .as("qs"), count(lit(1)).as("n"))
      .select($"l_returnflag",
        round(element_at($"qs", 1), 4).as("p25"),
        round(element_at($"qs", 2), 4).as("p50"),
        round(element_at($"qs", 3), 4).as("p75"),
        round(element_at($"qs", 4), 4).as("p95"),
        $"n")
      .orderBy($"l_returnflag")
  }

  /** Exact interpolated percentiles (median/p90) on cent-exact values. */
  def aggPercentile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy($"o_orderstatus")
      .agg(
        round(expr("percentile(CAST(CAST(o_totalprice AS DECIMAL(18,2)) " +
          "AS DOUBLE), 0.5)"), 4).as("median"),
        round(expr("percentile(CAST(CAST(o_totalprice AS DECIMAL(18,2)) " +
          "AS DOUBLE), 0.9)"), 4).as("p90"))
      .orderBy($"o_orderstatus")
  }

  /** Pivot (wide aggregation): events per day × event_type. The pivot
    * value list is explicit — at scale an implicit pivot would need a
    * distinct-values job first and an unbounded column count. */
  def aggPivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(dayofmonth($"ts").cast("long").as("day"))
      .pivot("event_type",
        Seq("click", "error", "purchase", "signup", "view"))
      .count()
      // fill ONLY the pivoted counts: a blanket fill would also rewrite
      // a NULL day group key to 0, diverging from the oracle's NULL key
      .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
      .orderBy($"day")
  }

  /** `agg_corr_exact` — per-returnflag Pearson correlation of quantity vs
    * extended price from DECIMAL-EXACT second moments. The built-in
    * `corr()` streams float co-moments whose value depends on partition
    * visit order — unusable under a hash oracle and subtly
    * non-reproducible at 100 TB. Instead the five moments (Σx, Σy, Σx²,
    * Σy², Σxy) accumulate in decimal (2-dp inputs → 4-dp products, all
    * exact, order-independent, and map-side-combinable like any sum), and
    * the one-row-per-group corr formula runs in float64 at the end with
    * the same textual operation order as the oracle. Single shuffle,
    * partial aggregation, no second pass for the means. */
  def aggCorrExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val x = dec($"l_quantity")
    val y = dec($"l_extendedprice")
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
      .select($"l_returnflag", $"n",
        round(
          (d($"n") * d($"sxy") - d($"sx") * d($"sy")) /
            (sqrt(d($"n") * d($"sxx") - d($"sx") * d($"sx")) *
              sqrt(d($"n") * d($"syy") - d($"sy") * d($"sy"))),
          6).as("corr"))
      .orderBy($"l_returnflag")
  }

  /** `agg_hll_union` — MERGEABLE sketch rollup via Spark's DataSketches
    * HLL family (`hll_sketch_agg` / `hll_union_agg` /
    * `hll_sketch_estimate`): build one user-cardinality sketch PER DAY,
    * then union the day sketches into weekly estimates WITHOUT touching
    * a row again. This is the pre-aggregation contract a 100 TB metrics
    * pipeline lives on — persist tiny daily sketches (4 KiB at
    * lgK=12), answer any later rollup (week, month, arbitrary ad-hoc
    * ranges) by sketch union alone; `approx_count_distinct`
    * (`agg_approx_distinct`) cannot do this because its HLL++ state is
    * not exposed as a value. Tolerance folding per the
    * agg_approx_distinct discipline: the output carries the EXACT
    * weekly distinct plus a within-5% flag on the union estimate
    * (lgK=12 ⇒ rsd ≈ 1.6%), and the oracle emits literal TRUE — a
    * drifting sketch hash-fails the round instead of hiding. */
  def aggHllUnion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val daily = ev
      .groupBy(date_trunc("week", $"ts").as("week"),
        to_date($"ts").as("day"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    val weekly = daily.groupBy($"week")
      .agg(count(lit(1)).as("n_days"),
        expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"))
    val exact = ev
      .groupBy(date_trunc("week", $"ts").as("week"))
      .agg(countDistinct($"user_id").as("exact_users"))
    weekly.join(exact, Seq("week"))
      .select($"week", $"n_days", $"exact_users",
        (abs($"est" - $"exact_users") / $"exact_users" < 0.05)
          .as("within_5pct"))
      .orderBy($"week")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_hll_union" -> (aggHllUnion _),
    "agg_corr_exact" -> (aggCorrExact _),
    "agg_pivot" -> (aggPivot _),
    "agg_grouping_sets" -> (aggGroupingSets _),
    "agg_percentile" -> (aggPercentile _),
    "agg_tdigest" -> (aggTdigest _),
    "agg_quantile_sketch" -> (aggQuantileSketch _),
    "agg_udaf_wavg" -> (aggUdafWavg _),
    "q1_agg" -> (q1Agg _),
    "agg_group_by_partition" -> (aggGroupByPartition _),
    "agg_group_by_tenant" -> (aggGroupByTenant _),
    "agg_count_records" -> (aggCountRecords _),
    "agg_sum_bytes" -> (aggSumBytes _),
    "agg_hourly_histogram" -> (aggHourlyHistogram _),
    "agg_daily" -> (aggDaily _),
    "agg_usage_stats" -> (aggUsageStats _),
    "agg_distinct" -> (aggDistinct _),
    "agg_bitmap_distinct" -> (aggBitmapDistinct _),
    "agg_count_min" -> (aggCountMin _),
    "agg_funnel_steps" -> (aggFunnelSteps _),
    "agg_approx_distinct" -> (aggApproxDistinct _),
    "agg_rollup" -> (aggRollup _),
    "agg_cube" -> (aggCube _),
    "agg_mode" -> (aggMode _))

  private val D = "DECIMAL(18,2)"

  val oracles: Map[String, String] = Map(
    "agg_hll_union" ->
      """SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
        |  COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_5pct
        |FROM events GROUP BY 1 ORDER BY week""".stripMargin,
    "agg_corr_exact" ->
      s"""WITH m AS (
         |  SELECT l_returnflag, COUNT(*) AS n,
         |    SUM(CAST(l_quantity AS $D)) AS sx,
         |    SUM(CAST(l_extendedprice AS $D)) AS sy,
         |    SUM(CAST(l_quantity AS $D) * CAST(l_quantity AS $D)) AS sxx,
         |    SUM(CAST(l_extendedprice AS $D) *
         |      CAST(l_extendedprice AS $D)) AS syy,
         |    SUM(CAST(l_quantity AS $D) *
         |      CAST(l_extendedprice AS $D)) AS sxy
         |  FROM lineitem GROUP BY 1)
         |SELECT l_returnflag, n,
         |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
         |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
         |       CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
         |     sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
         |       CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr
         |FROM m ORDER BY l_returnflag""".stripMargin,
    "agg_mode" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS n
        |  FROM events GROUP BY user_id, event_type),
        |r AS (
        |  SELECT user_id, event_type, n,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY n DESC, event_type ASC) AS rn
        |  FROM c)
        |SELECT user_id, event_type AS mode_type, n AS n_mode
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "agg_pivot" ->
      """SELECT day(ts) AS day,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_grouping_sets" ->
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
         |  COALESCE(o_orderpriority, 'ALL') AS priority, COUNT(*) AS n,
         |  CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
         |  (o_orderstatus), ())
         |ORDER BY status, priority""".stripMargin,
    "agg_quantile_sketch" ->
      """WITH hist AS (
        |  SELECT o_orderstatus AS st,
        |    CAST(FLOOR(o_totalprice / 100.0) AS BIGINT) AS bin,
        |    COUNT(*) AS c
        |  FROM orders GROUP BY 1, 2),
        |cum AS (
        |  SELECT st, bin, c,
        |    CAST(SUM(c) OVER (PARTITION BY st ORDER BY bin) AS BIGINT)
        |      AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY st) AS BIGINT) AS n
        |  FROM hist)
        |SELECT st AS o_orderstatus,
        |  MAX(CASE WHEN CAST(cum - c AS DOUBLE) < CEIL(0.5 * n)
        |        AND CAST(cum AS DOUBLE) >= CEIL(0.5 * n)
        |      THEN CAST(bin AS DOUBLE) * 100.0 +
        |        ((CAST(CEIL(0.5 * n) AS DOUBLE) - CAST(cum - c AS DOUBLE))
        |          / CAST(c AS DOUBLE)) * 100.0 END) AS p50_est,
        |  MAX(CASE WHEN CAST(cum - c AS DOUBLE) < CEIL(0.9 * n)
        |        AND CAST(cum AS DOUBLE) >= CEIL(0.9 * n)
        |      THEN CAST(bin AS DOUBLE) * 100.0 +
        |        ((CAST(CEIL(0.9 * n) AS DOUBLE) - CAST(cum - c AS DOUBLE))
        |          / CAST(c AS DOUBLE)) * 100.0 END) AS p90_est,
        |  MAX(n) AS n
        |FROM cum GROUP BY st ORDER BY o_orderstatus""".stripMargin,
    "agg_tdigest" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 4) AS p25,
        |  round(quantile_cont(l_quantity, 0.50), 4) AS p50,
        |  round(quantile_cont(l_quantity, 0.75), 4) AS p75,
        |  round(quantile_cont(l_quantity, 0.95), 4) AS p95,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_percentile" ->
      s"""SELECT o_orderstatus,
         |  round(quantile_cont(CAST(CAST(o_totalprice AS $D) AS DOUBLE),
         |    0.5), 4) AS median,
         |  round(quantile_cont(CAST(CAST(o_totalprice AS $D) AS DOUBLE),
         |    0.9), 4) AS p90
         |FROM orders GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin,
    "agg_udaf_wavg" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(round(p_retailprice * 100) AS BIGINT) * p_size)
        |    AS DOUBLE) / (100.0 * SUM(p_size)) AS wavg_price,
        |  COUNT(*) AS n
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS $D)) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS $D)) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM(CAST(CAST(l_extendedprice AS $D) * (1 - CAST(l_discount AS $D)) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM(CAST(CAST(CAST(l_extendedprice AS $D) * (1 - CAST(l_discount AS $D)) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS $D)) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
         |  CAST(SUM(CAST(l_quantity AS $D)) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
         |  CAST(SUM(CAST(l_extendedprice AS $D)) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
         |  CAST(SUM(CAST(l_discount AS $D)) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1997-09-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_group_by_partition" ->
      s"""SELECT user_id, year(ts) AS year, month(ts) AS month,
         |  day(ts) AS day, hour(ts) AS hour, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM events
         |GROUP BY 1, 2, 3, 4, 5
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    "agg_group_by_tenant" ->
      s"""SELECT user_id, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_count_records" ->
      """SELECT 'customer' AS tbl, COUNT(*) AS n FROM customer
        |UNION ALL SELECT 'documents', COUNT(*) FROM documents
        |UNION ALL SELECT 'events', COUNT(*) FROM events
        |UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
        |UNION ALL SELECT 'orders', COUNT(*) FROM orders
        |ORDER BY tbl""".stripMargin,
    "agg_sum_bytes" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  MAX(n_chars) AS max_chars, MIN(n_chars) AS min_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "agg_hourly_histogram" ->
      """SELECT hour(ts) AS hour_of_day, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_daily" ->
      s"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         |  COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_usage_stats" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) / COUNT(value) AS avg_value,
         |  CAST(MIN(CAST(value AS $D)) AS DOUBLE) AS min_value,
         |  CAST(MAX(CAST(value AS $D)) AS DOUBLE) AS max_value,
         |  COUNT(DISTINCT user_id) AS n_users
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_bitmap_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "agg_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS exact_orders,
        |  TRUE AS within_5pct
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "agg_funnel_steps" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |v AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.ts) AS t2, MIN(v.t1) AS ct1
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t1
        |        AND e.ts <= v.t1 + INTERVAL 2 DAY GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        |        AND e.ts <= c.ct1 + INTERVAL 2 DAY GROUP BY 1)
        |SELECT CAST(CASE WHEN t3 IS NOT NULL THEN 3
        |  WHEN t2 IS NOT NULL THEN 2
        |  WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |  AS funnel_depth, COUNT(*) AS n_users
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |LEFT JOIN p USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the CMS estimates are collision-free at this domain size, so the
    // oracle checks them against exact counts — over the FIXED probe
    // domain (point queries probe keys whether or not they occur, and
    // an absent key must read 0 on both sides, not vanish)
    "agg_count_min" ->
      """SELECT t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS est_n
        |FROM (VALUES ('click'),('error'),('purchase'),('signup'),
        |  ('view')) t(event_type)
        |LEFT JOIN (SELECT event_type, COUNT(*) AS n FROM events
        |  GROUP BY 1) c USING (event_type)
        |ORDER BY t.event_type""".stripMargin,
    "agg_rollup" ->
      s"""SELECT COALESCE(r_name, 'ALL') AS region,
         |  COALESCE(n_name, 'ALL') AS nation, COUNT(*) AS n,
         |  CAST(SUM(CAST(l_extendedprice AS $D)) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name)
         |ORDER BY region, nation""".stripMargin,
    "agg_cube" ->
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
         |  COALESCE(l_linestatus, 'ALL') AS linestatus, COUNT(*) AS n,
         |  CAST(SUM(CAST(l_quantity AS $D)) AS DOUBLE) AS sum_qty
         |FROM lineitem
         |GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY returnflag, linestatus""".stripMargin)
}
