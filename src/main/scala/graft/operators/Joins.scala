package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** SURVEY.md §2d — joins (X-tier; reference has none — its closest shape is
  * the in-memory tenant→KMS map lookup at `Creator:60-62`, a broadcast-hash
  * join).
  *
  * Scale notes: dimension tables (`nation`, `region`, `supplier`, windows)
  * are explicitly `broadcast()` so the 100 TB fact side never shuffles for
  * them; the fact⋈fact joins (lineitem⋈orders) shuffle on the join key and
  * AQE handles skew at runtime. No driver-side loops anywhere.
  */
object Joins {

  /** Shuffled hash/sort-merge equi-join of two fact tables. */
  def joinInnerHash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total"))
      .orderBy($"c_mktsegment")
  }

  /** Left outer join preserving customers with zero orders. */
  def joinLeftOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir).filter($"c_custkey" < 500)
      .join(Tables.orders(spark, dir), $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("n_orders"),
        dsum(coalesce($"o_totalprice", lit(0.0))).as("total"))
      .orderBy($"c_custkey")
  }

  /** Left semi join — EXISTS. */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir).filter($"c_custkey" < 1000)
      .join(Tables.orders(spark, dir), $"c_custkey" === $"o_custkey",
        "left_semi")
      .select($"c_custkey", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  /** Left anti join — NOT EXISTS (customers with no events). */
  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir).filter($"c_custkey" < 1000)
      .join(Tables.events(spark, dir), $"c_custkey" === $"user_id",
        "left_anti")
      .select($"c_custkey", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  /** Broadcast-hash join of the dimension side (`part` ≪ `lineitem`) —
    * WITHOUT a forced hint: TPC-H `part` is sf-PROPORTIONAL
    * (|lineitem|/30), so a hard `broadcast(part)` is a plan that cannot
    * be built at 100× (the r20 verdict's last corpus-growing forced
    * broadcast; same posture as the hint-free dedup confirms, e0f1a0d).
    * At bench scale the projected dim sits far under
    * `autoBroadcastJoinThreshold`, so the planner still picks
    * BroadcastHashJoin on its own (plans/r21/join_broadcast_after.txt);
    * at corpus scale it degrades to a shuffle join instead of an
    * unbuildable 8 GB+ broadcast. The explicit select is the
    * project-before-exchange discipline (only the join key and the
    * group key ever cross), and JoinsSpec pins the plan hint-free. */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).select($"p_partkey", $"p_brand"),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("revenue"))
      .orderBy($"p_brand")
  }

  /** Theta/range join: events against broadcast window bounds. */
  def joinRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val windows = Seq(
      ("w1", "2024-01-01 00:00:00", "2024-01-08 00:00:00"),
      ("w2", "2024-01-08 00:00:00", "2024-01-15 00:00:00"),
      ("w3", "2024-01-15 00:00:00", "2024-01-22 00:00:00"),
      ("w4", "2024-01-22 00:00:00", "2024-01-29 00:00:00"))
      .toDF("w_name", "lo_s", "hi_s")
      .select($"w_name", $"lo_s".cast("timestamp").as("lo"),
        $"hi_s".cast("timestamp").as("hi"))
    Tables.events(spark, dir)
      .join(broadcast(windows), $"ts" >= $"lo" && $"ts" < $"hi")
      .groupBy($"w_name")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"w_name")
  }

  /** Five-way star join — lineitem⋈orders⋈customer⋈nation⋈region revenue. */
  def joinMultiway(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir)),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(count(lit(1)).as("n"),
        sum((dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("revenue"))
      .orderBy($"r_name", $"n_name")
  }

  /** As-of join (no Spark built-in — SURVEY §2d note): for each purchase,
    * the most recent prior click of the same user. Composed as equi+range
    * join then `row_number()=1`; at scale both sides shuffle once on
    * user_id and the window sorts within partitions. */
  def joinAsof(spark: SparkSession, dir: String): DataFrame =
    asOfJoined(spark, dir, tolerance = None)

  /** The shared as-of core: equi+range join then rank-1 per purchase,
    * optionally bounded by a staleness tolerance — ONE spelling for
    * both keys so the tie-break and projections cannot drift. */
  private def asOfJoined(spark: SparkSession, dir: String,
      tolerance: Option[String]): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).filter($"user_id" < 50)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id", $"ts".as("p_ts"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id".as("c_id"), $"user_id".as("c_user"),
        $"ts".as("c_ts"))
    val w = Window.partitionBy($"p_id")
      .orderBy($"c_ts".desc, $"c_id".desc)
    val range = tolerance.foldLeft(
      $"user_id" === $"c_user" && $"c_ts" <= $"p_ts")(
      (cond, t) => cond && $"c_ts" >= $"p_ts" - expr(s"INTERVAL $t"))
    purchases
      .join(clicks, range, "left")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"p_id", $"user_id", $"p_ts", $"c_id".as("asof_click_id"),
        $"c_ts".as("asof_click_ts"))
      .orderBy($"p_id")
  }

  /** `join_asof_tolerance` — [[joinAsof]] with a STALENESS BOUND (the
    * `tolerance` of pandas merge_asof / kdb wj): the most recent prior
    * click only counts within 2 hours of the purchase; staler matches
    * return NULL exactly like no match. The tolerance tightens the range
    * predicate, which at scale is what keeps the per-key sort window
    * small: with a bound, state per key is one tolerance-window of rows
    * (the same bound that makes the STREAMING interval join's state
    * finite), where unbounded as-of must keep full history. */
  def joinAsofTolerance(spark: SparkSession, dir: String): DataFrame =
    asOfJoined(spark, dir, tolerance = Some("2 HOURS"))

  /** `join_bucketed` — co-located fact⋈fact join over bucketed tables:
    * both sides written `bucketBy(8, key)` + `sortBy(key)` into the
    * catalog, so the join needs NO exchange — each task zips bucket i of
    * one table with bucket i of the other (EngineSpec asserts zero
    * ShuffleExchange under the join). This is the 100 TB answer for a
    * recurring big⋈big join: pay the shuffle once at write time, then
    * every subsequent join of the pair is scan+merge. Iceberg expresses
    * the same contract as a bucket partition transform
    * (`AIGEventsTableCreator.java:164-180` uses identity transforms; the
    * bucket transform is the sibling for high-cardinality keys). */
  def joinBucketed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (orders, customer) = bucketedJoinTables(spark, dir)
    // MERGE hint: at test scale Catalyst would broadcast the small side,
    // never exercising the bucket layout; at 100 TB sort-merge IS the
    // chosen strategy, and the buckets erase both of its exchanges.
    spark.table(orders)
      .join(spark.table(customer).hint("merge"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total"))
      .orderBy($"c_mktsegment")
  }

  /** `bucket_point_lookup` — BUCKET PRUNING for point lookups on a
    * high-cardinality NON-partition key (the read-side payoff of
    * [[joinBucketed]]'s layout): `o_custkey = K` on a table bucketed by
    * that key scans 1 of 8 bucket files — Spark's native bucket pruning
    * (`SelectedBucketsCount: 1 out of 8` in the scan, JoinSpec asserts).
    * Partitioning can't serve this (custkey is too fine to be a
    * directory); hashing it into a fixed bucket count gives point
    * lookups a 1/nbuckets scan without any index structure. At 100 TB a
    * key probe reads 1/nbuckets of one partition, not the table. */
  def bucketPointLookup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.table(bucketLookupTable(spark, dir))
      .filter($"o_custkey" === 7L)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total"),
        countDistinct($"o_orderstatus").as("n_statuses"))
      .orderBy($"o_custkey")
  }

  /** The co-bucketed orders/customer table pair behind [[joinBucketed]]
    * (8 buckets on the join key; built once per corpus fingerprint). */
  private[graft] def bucketedJoinTables(spark: SparkSession,
      dir: String): (String, String) = {
    import spark.implicits._
    val orders = bucketedTable(spark, dir, "orders_bkt",
      "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE",
      "o_custkey", srcTable = "orders") {
      Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    }
    val customer = bucketedTable(spark, dir, "customer_bkt",
      "c_custkey BIGINT, c_mktsegment STRING", "c_custkey",
      srcTable = "customer") {
      Tables.customer(spark, dir).select($"c_custkey", $"c_mktsegment")
    }
    (orders, customer)
  }

  /** Bucketed orders table for point lookups (8 buckets on o_custkey). */
  private[graft] def bucketLookupTable(spark: SparkSession,
      dir: String): String = {
    import spark.implicits._
    bucketedTable(spark, dir, "orders_pt",
      "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE", "o_custkey", srcTable = "orders") {
      Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
          $"o_totalprice")
    }
  }

  /** Write-once shared bucketed table (8 buckets, sorted, on `key`).
    * The old spelling DROPped and rebuilt a fixed-name managed table on
    * every invocation — unlocked, so concurrent JVMs (Verify + Bench) or
    * repeated bench samples could race DROP/saveAsTable against an
    * in-flight read of the same files. Now the DATA is a
    * fingerprint-keyed layout published once through
    * [[graft.sources.IngestOps.buildShared]] (cross-process lock,
    * marker-last, never mutated once complete), and each JVM merely
    * REGISTERS an external bucketed table over it: registration is
    * idempotent per-catalog and touches no data files, so nothing a
    * reader holds open is ever deleted. Bucket ids ride in the file
    * names (Spark's `BucketingUtils` contract), so a re-registered
    * catalog entry prunes and zip-joins exactly like the writing
    * session's. */
  private def bucketedTable(spark: SparkSession, dir: String, base: String,
      ddlSchema: String, key: String, srcTable: String)(
      rows: => DataFrame): String = {
    import graft.sources.IngestOps.{buildShared, layoutFor, tableFingerprint}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft")
    // keyed on the SOURCE TABLE's fingerprint (these are the only
    // layouts not derived from events, which the events-anchored
    // sourceFingerprint would not see regenerate) plus the sanitized
    // dir, so fingerprint collisions across corpus dirs cannot alias
    // catalog entries — the same two-component key sharedFor spells
    val fp = dir.replaceAll("[^A-Za-z0-9]+", "_") + "_" +
      tableFingerprint(spark, dir, srcTable)
    val name = s"graft.${base}_$fp"
    val loc = layoutFor(s"${base}_$fp", dir)
    buildShared(spark, loc) { tmpRoot =>
      spark.sql(s"DROP TABLE IF EXISTS $name") // stale incomplete build
      rows.write.bucketBy(8, key).sortBy(key)
        .option("path", tmpRoot).saveAsTable(name)
    }
    if (!spark.catalog.tableExists(name))
      // IF NOT EXISTS: two threads can reach here after both saw the
      // layout complete — registration must be idempotent, not a race
      spark.sql(s"""CREATE TABLE IF NOT EXISTS $name ($ddlSchema)
        USING PARQUET
        CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
        LOCATION '$loc'""")
    name
  }

  /** `join_skew_salted` — skew-mitigated join: `event_type` has 5 values,
    * so a plain shuffle join sends the whole 100 TB fact table to 5
    * reducers no matter how many executors exist. Salting restores
    * parallelism without broadcast (the technique for when the skewed
    * side's partner is too big to broadcast): the fact side gets a
    * deterministic salt in [0,16), the dim side is exploded ×16, and the
    * join key becomes (event_type, salt) — 80 evenly-loaded partitions
    * instead of 5 hot ones. The shuffle_hash hint keeps the demo honest
    * at test scale (Catalyst would broadcast the 80-row dim). Results are
    * provably identical to the unsalted join (JoinSpec + oracle). */
  /** The 5-row event_type→weight dimension both skew keys join (the two
    * oracles restate it as VALUES): one engine-side spelling, so a
    * weight change cannot fork the pair. */
  private def weightsDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("click", "0.5"), ("view", "0.1"), ("purchase", "5.0"),
      ("signup", "2.0"), ("error", "0.25")).toDF("et", "w")
      .withColumn("weight", $"w".cast("decimal(4,2)"))
  }

  def joinSkewSalted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nSalts = 16
    val dim = weightsDim(spark)
      .withColumn("d_salt", explode(sequence(lit(0), lit(nSalts - 1))))
    val fact = Tables.events(spark, dir)
      .withColumn("salt", pmod(hash($"event_id"), lit(nSalts)))
    fact.join(dim.hint("shuffle_hash"),
        $"event_type" === $"et" && $"salt" === $"d_salt")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(dec($"value") * $"weight").cast("double").as("weighted_value"))
      .orderBy($"event_type")
  }

  /** `join_skew_aqe` — the same skewed join healed by Spark's BUILT-IN
    * runtime skew handling instead of [[joinSkewSalted]]'s manual salt:
    * AQE's `OptimizeSkewedJoin` measures the shuffle's map output at the
    * stage boundary, spots the hot `event_type` partitions (5 keys ⇒ 5
    * live reducers, one of them holding most of a 100 TB fact table),
    * and SPLITS each hot partition into advisory-sized reader slices,
    * duplicating the matching dim rows per slice — the salt-and-explode
    * transform, derived at runtime from real sizes rather than guessed
    * at authoring time (no hand-tuned salt count to mis-guess when the
    * skew profile drifts). The thresholds here only scale the detector
    * down to test-scale bytes; `forceOptimizeSkewedJoin` accepts the
    * extra post-join shuffle the groupBy then needs — the same trade the
    * manual salt already makes. The frame is returned unexecuted: AQE
    * reads conf at EXECUTION, so the scaled-down detector thresholds
    * only engage for a caller that executes inside [[withSkewAqeConf]] —
    * which is exactly what EngineSpec does when it asserts
    * `isSkewJoin=true` and equality with the plain unsalted join. At
    * production scale no scoping is needed at all (the DEFAULT 256 MB /
    * 5×-median detector fires on real skew); at test-scale bytes an
    * unscoped execution is simply a plain SMJ with the identical
    * answer — hash-checked by the same unsalted oracle SQL. (Earlier
    * rounds force-materialized to scratch parquet inside the scope;
    * that paid a full write+read of the join result per invocation for
    * a property the spec already proves.) */
  def joinSkewAqe(spark: SparkSession, dir: String): DataFrame =
    skewAqeJoined(spark, dir)

  /** The skewed join as an inspectable plan (JoinSpec executes it under
    * [[withSkewAqeConf]] and asserts the SMJ node reports
    * `isSkewJoin=true`). MERGE hint for the same reason as
    * [[joinBucketed]]: at test scale Catalyst would broadcast the 5-row
    * dim and there would be no shuffle to heal. */
  private[graft] def skewAqeJoined(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val dim = weightsDim(spark)
    // AQE splits a skewed reduce partition along MAPPER boundaries; the
    // test corpus is one small parquet file = one map task = no seams.
    // A 100 TB fact arrives in thousands of map tasks — recreate that
    // topology at test bytes so the detector has something to split.
    Tables.events(spark, dir)
      .repartition(16, $"event_id")
      .join(dim.hint("merge"), $"event_type" === $"et")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(dec($"value") * $"weight").cast("double").as("weighted_value"))
      .orderBy($"event_type")
  }

  /** Scale AQE's skew detector down to test-scale bytes (at production
    * scale the DEFAULTS fire — 256 MB threshold, 5× median; only these
    * numbers change, not the plan shape) and restore the session conf
    * afterwards. */
  private[graft] def withSkewAqeConf[T](spark: SparkSession)(body: => T): T =
    graft.GraftSession.withConf(spark,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "0.5",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        "1k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")(body)

  /** Full outer join: customers vs active event users, null-safe key. */
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir).filter($"c_custkey" < 300)
      .select($"c_custkey", $"c_mktsegment")
    val u = Tables.events(spark, dir).filter($"user_id" < 300)
      .groupBy($"user_id").agg(count(lit(1)).as("n_events"))
    c.join(u, $"c_custkey" === $"user_id", "full_outer")
      .select(coalesce($"c_custkey", $"user_id").as("id"),
        coalesce($"c_mktsegment", lit("(no customer)")).as("segment"),
        coalesce($"n_events", lit(0L)).as("n_events"))
      .orderBy($"id")
  }

  /** Cross join (small × small — the only place a cross join is sane). */
  def joinCross(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val flags = Tables.lineitem(spark, dir)
      .select($"l_returnflag").distinct()
    Tables.region(spark, dir).crossJoin(flags)
      .select($"r_name", $"l_returnflag")
      .orderBy($"r_name", $"l_returnflag")
  }

  /** `join_bloom_prune` — runtime-filter join: a compact Bloom sketch of
    * the SELECTIVE dimension keys pre-filters the fact table BEFORE the
    * join shuffle, the join itself removes the false positives, so the
    * result is exactly the plain join's. This is the manual spelling of
    * Spark's InjectRuntimeFilter (same BloomFilterAggregate /
    * BloomFilterMightContain expressions), written out because the
    * optimizer only injects it when stats clear its thresholds — at 100 TB
    * you want the guarantee, not the heuristic. The sketch stays IN-PLAN
    * as a scalar subquery (no driver materialization): Spark computes the
    * one-row aggregate once and broadcasts it to every probe task; only
    * fact rows that might match ever enter the shuffle.
    *
    * Reference shape: the tenant→KMS in-memory lookup (`Creator:60-62`)
    * prunes work before the heavy path the same way. */
  def joinBloomPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain,
      Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val dim = Tables.orders(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT" && $"o_orderstatus" === "F")
      .select($"o_orderkey")
    // ~0.4% fpp at 10k keys; the sketch is ~64 KiB however big the fact is
    val bloomAgg = new BloomFilterAggregate(
      GraftBridge.eagerExpression(xxhash64($"o_orderkey")),
      Literal(10000L), Literal(64L * 1024 * 8))
    val bloomPlan = dim
      .select(GraftBridge.column(bloomAgg.toAggregateExpression()).as("bf"))
      .queryExecution.analyzed
    val mightMatch = GraftBridge.column(new BloomFilterMightContain(
      ScalarSubquery(bloomPlan),
      GraftBridge.eagerExpression(xxhash64($"l_orderkey"))))
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_returnflag", $"l_extendedprice")
      .filter(mightMatch)
      .join(dim, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("revenue"))
      .orderBy($"l_returnflag")
  }

  /** `join_dpp` — dynamic partition pruning: the fact side is the
    * tenant/year/month/day/hour partitioned layout, the dim side a small
    * filtered table joined on the PARTITION column, so Catalyst inserts a
    * `dynamicpruning` subquery into the fact scan's PartitionFilters —
    * the fact directories for non-qualifying days are skipped at RUNTIME
    * using the dim's broadcast result. This is Iceberg's
    * manifest-level join pruning (`TimeEx:180-195`) in its Spark form;
    * at 100 TB it's the difference between scanning the whole fact table
    * and scanning the few partitions the dim actually references.
    * JoinsSpec asserts the dynamicpruning expression reaches the scan. */
  def joinDpp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = graft.sources.IngestOps.partitionedLayout(spark, dir)
    val fact = graft.sources.IngestOps.readSharedTable(spark, root)
    // scan-backed dim (a literal frame would constant-fold its filter
    // away and DPP would see no selective predicate): urgent-order days
    // in a narrow band — the selective scan filter is what DPP keys on
    val dim = Tables.orders(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT" &&
        dayofmonth($"o_orderdate").between(5, 7))
      .select(dayofmonth($"o_orderdate").as("day")).distinct()
    fact.join(dim, "day")
      .groupBy($"day".cast("long").as("day"))
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"day")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_dpp" -> (joinDpp _),
    "join_bloom_prune" -> (joinBloomPrune _),
    "join_full_outer" -> (joinFullOuter _),
    "join_cross" -> (joinCross _),
    "join_inner_hash" -> (joinInnerHash _),
    "join_left_outer" -> (joinLeftOuter _),
    "join_semi" -> (joinSemi _),
    "join_anti" -> (joinAnti _),
    "join_broadcast" -> (joinBroadcast _),
    "join_range" -> (joinRange _),
    "join_multiway" -> (joinMultiway _),
    "join_bucketed" -> (joinBucketed _),
    "bucket_point_lookup" -> (bucketPointLookup _),
    "join_skew_salted" -> (joinSkewSalted _),
    "join_skew_aqe" -> (joinSkewAqe _),
    "join_asof" -> (joinAsof _),
    "join_asof_tolerance" -> (joinAsofTolerance _))

  private val D = "DECIMAL(18,2)"

  val oracles: Map[String, String] = Map(
    "join_dpp" ->
      s"""SELECT CAST(day(ts) AS BIGINT) AS day, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM events
         |WHERE day(ts) IN (
         |  SELECT DISTINCT day(o_orderdate) FROM orders
         |  WHERE o_orderpriority = '1-URGENT'
         |    AND day(o_orderdate) BETWEEN 5 AND 7)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "join_bloom_prune" ->
      s"""SELECT l_returnflag, COUNT(*) AS n,
         |  CAST(SUM(CAST(l_extendedprice AS $D)) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN (SELECT o_orderkey FROM orders
         |      WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F')
         |  ON l_orderkey = o_orderkey
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "join_full_outer" ->
      """SELECT COALESCE(c_custkey, user_id) AS id,
        |  COALESCE(c_mktsegment, '(no customer)') AS segment,
        |  COALESCE(n_events, 0) AS n_events
        |FROM (SELECT c_custkey, c_mktsegment FROM customer
        |      WHERE c_custkey < 300) c
        |FULL OUTER JOIN (SELECT user_id, COUNT(*) AS n_events FROM events
        |                 WHERE user_id < 300 GROUP BY user_id) u
        |  ON c_custkey = user_id
        |ORDER BY id""".stripMargin,
    "join_cross" ->
      """SELECT r_name, l_returnflag
        |FROM region CROSS JOIN (SELECT DISTINCT l_returnflag FROM lineitem)
        |ORDER BY r_name, l_returnflag""".stripMargin,
    "join_inner_hash" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "join_left_outer" ->
      s"""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
         |  CAST(SUM(CAST(COALESCE(o_totalprice, 0.0) AS $D)) AS DOUBLE) AS total
         |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |WHERE c_custkey < 500
         |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey < 1000
        |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey < 1000
        |  AND NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "join_broadcast" ->
      s"""SELECT p_brand, COUNT(*) AS n,
         |  CAST(SUM(CAST(l_extendedprice AS $D)) AS DOUBLE) AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "join_range" ->
      s"""SELECT w_name, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM events
         |JOIN (VALUES
         |  ('w1', TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-08 00:00:00'),
         |  ('w2', TIMESTAMP '2024-01-08 00:00:00', TIMESTAMP '2024-01-15 00:00:00'),
         |  ('w3', TIMESTAMP '2024-01-15 00:00:00', TIMESTAMP '2024-01-22 00:00:00'),
         |  ('w4', TIMESTAMP '2024-01-22 00:00:00', TIMESTAMP '2024-01-29 00:00:00'))
         |  AS w(w_name, lo, hi) ON ts >= lo AND ts < hi
         |GROUP BY w_name ORDER BY w_name""".stripMargin,
    "join_multiway" ->
      s"""SELECT r_name, n_name, COUNT(*) AS n,
         |  CAST(SUM(CAST(CAST(l_extendedprice AS $D) * (1 - CAST(l_discount AS $D)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "join_bucketed" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "bucket_point_lookup" ->
      s"""SELECT o_custkey, COUNT(*) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS total,
         |  COUNT(DISTINCT o_orderstatus) AS n_statuses
         |FROM orders WHERE o_custkey = 7
         |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "join_skew_salted" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS $D) * CAST(weight AS DECIMAL(4,2)))
         |    AS DOUBLE) AS weighted_value
         |FROM events JOIN (VALUES ('click', 0.5), ('view', 0.1),
         |    ('purchase', 5.0), ('signup', 2.0), ('error', 0.25))
         |  AS d(et, weight) ON event_type = et
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // runtime skew-split must not change the answer: same unsalted SQL
    "join_skew_aqe" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS $D) * CAST(weight AS DECIMAL(4,2)))
         |    AS DOUBLE) AS weighted_value
         |FROM events JOIN (VALUES ('click', 0.5), ('view', 0.1),
         |    ('purchase', 5.0), ('signup', 2.0), ('error', 0.25))
         |  AS d(et, weight) ON event_type = et
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "join_asof" ->
      """SELECT p_id, user_id, p_ts, asof_click_id, asof_click_ts FROM (
        |  SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts,
        |    c.event_id AS asof_click_id, c.ts AS asof_click_ts,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id
        |      ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM (SELECT * FROM events
        |        WHERE user_id < 50 AND event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events
        |             WHERE user_id < 50 AND event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts
        |) WHERE rn = 1 ORDER BY p_id""".stripMargin,
    "join_asof_tolerance" ->
      """SELECT p_id, user_id, p_ts, asof_click_id, asof_click_ts FROM (
        |  SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts,
        |    c.event_id AS asof_click_id, c.ts AS asof_click_ts,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id
        |      ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM (SELECT * FROM events
        |        WHERE user_id < 50 AND event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events
        |             WHERE user_id < 50 AND event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts
        |      AND c.ts >= p.ts - INTERVAL 2 HOUR
        |) WHERE rn = 1 ORDER BY p_id""".stripMargin)
}
