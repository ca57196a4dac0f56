package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.StructType

/** GraftMetaSource (DSv2 FILES metadata table): content fidelity vs the
  * manifests, planning-time partition pruning from pushed filters, and
  * column pruning reaching the reader. */
class MetaSourceSpec extends SparkSpecBase {

  private def root = graft.sources.IngestOps.snapshotLayout(spark, sf)

  private def filesDf = spark.read
    .format("graft.sources.GraftMetaSource").option("root", root).load()

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case _ => p +: p.children.flatMap(flatten)
  }

  test("files table matches the manifests exactly") {
    import spark.implicits._
    val got = filesDf.select($"snapshot_id", $"rel_path").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    val exp = (1 to 3).flatMap { n =>
      graft.sources.IngestOps.snapshotManifest(spark, root, n).map((n, _))
    }.toSet
    assert(got == exp && got.nonEmpty)
    // every file row carries its parsed partition day and a real size
    val bad = filesDf.filter($"day" < 1 || $"size_bytes" <= 0).count()
    assert(bad == 0)
  }

  test("snapshot_id predicate prunes input partitions at planning time") {
    import spark.implicits._
    assert(filesDf.rdd.getNumPartitions == 3) // one per snapshot
    assert(filesDf.filter($"snapshot_id" <= 2).rdd.getNumPartitions == 2)
    assert(filesDf.filter($"snapshot_id" === 3).rdd.getNumPartitions == 1)
    // day pushdown: one surviving file in one surviving snapshot
    val one = filesDf.filter($"day" === 3)
    assert(one.rdd.getNumPartitions == 1)
    assert(one.count() == 1)
  }

  test("per-file stats columns agree with the data they describe") {
    import spark.implicits._
    // n_rows summed over the files table == rows in the table itself
    val fromMeta = filesDf.agg(org.apache.spark.sql.functions.sum($"n_rows"))
      .head.getLong(0)
    val direct = spark.read.parquet(s"$root/data").count()
    assert(fromMeta == direct, s"meta says $fromMeta, table has $direct")
    // bounds are real bounds: no file claims an empty or inverted range
    assert(filesDf.filter($"min_value" > $"max_value" || $"n_rows" <= 0)
      .count() == 0)
  }

  private def metaDf(table: String, r: String = null) = spark.read
    .format("graft.sources.GraftMetaSource")
    .option("root", Option(r).getOrElse(root))
    .option("table", table).load()

  test("snapshots table: one row per commit, commit-log timestamps, " +
      "deltas that sum to the files table, pushdown prunes partitions") {
    import spark.implicits._
    val rows = metaDf("snapshots").orderBy($"snapshot_id").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // commit-log timestamps are the layout's deterministic literals
    rows.foreach { r =>
      assert(r.getLong(1) == 1705276800000L + r.getInt(0) * 1000L)
      assert(r.getLong(3) == 0) // append-only layout: nothing removed
    }
    // per-commit row deltas sum to the whole table; files-added agree
    // with the files metadata table
    assert(rows.map(_.getLong(5)).sum ==
      spark.read.parquet(s"$root/data").count())
    assert(rows.map(_.getLong(2)).sum == filesDf.count())
    // snapshot_id pushdown is visible at planning time
    assert(metaDf("snapshots").rdd.getNumPartitions == 3)
    assert(metaDf("snapshots").filter($"snapshot_id" <= 2)
      .rdd.getNumPartitions == 2)
  }

  test("partitions table: one row per live partition with true totals, " +
      "day pushdown prunes partitions") {
    import spark.implicits._
    val rows = metaDf("partitions").orderBy($"day").collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 15))
    assert(rows.forall(_.getLong(1) == 1)) // one file per day partition
    // per-partition row totals match the data
    val direct = spark.read.parquet(s"$root/data")
      .groupBy($"day").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(3) == direct(r.getInt(0))))
    assert(metaDf("partitions").filter($"day" === 3)
      .rdd.getNumPartitions == 1)
  }

  test("partitions table is the LIVE view: a logically-removed file " +
      "drops out; a pure-delete commit still gets its snapshots row") {
    import spark.implicits._
    val mini = graft.sources.IngestOps.tmp("meta_mini_table")
    spark.range(10).select($"id", ($"id" % 2 + 1).cast("int").as("day"))
      .repartition($"day")
      .write.mode("overwrite").partitionBy("day").parquet(s"$mini/data")
    val rels = graft.sources.IngestOps.listDataFiles(spark, s"$mini/data")
    graft.sources.IngestOps.writeMetaLines(spark, mini,
      "metadata/snap-1.txt", rels)
    // snapshot 2: a PURE delete — logically remove day=1's file, add none
    val doomed = rels.filter(_.startsWith("day=1/"))
    assert(doomed.size == 1)
    graft.sources.IngestOps.writeMetaLines(spark, mini,
      "metadata/snap-2.txt",
      doomed.map(graft.sources.ManifestEntry(_, removed = true).line))
    val parts = metaDf("partitions", mini).orderBy($"day").collect()
    assert(parts.map(_.getInt(0)).toSeq == Seq(2),
      s"removed partition still listed: ${parts.mkString(",")}")
    val snaps = metaDf("snapshots", mini).orderBy($"snapshot_id").collect()
    assert(snaps.map(_.getInt(0)).toSeq == Seq(1, 2))
    val del = snaps.find(_.getInt(0) == 2).get
    assert(del.getLong(2) == 0 && del.getLong(3) == 1)
    assert(del.isNullAt(1), "no commit log => committed_ms must be NULL")
    // no stats sidecar => row totals are UNKNOWN, not zero
    assert(snaps.forall(_.isNullAt(5)))
  }

  test("refs table: one row per named ref; snapshot_id pushdown prunes " +
      "a ref to zero input partitions at planning") {
    import spark.implicits._
    graft.sources.LakeOps.metaRefs(spark, sf).collect() // builds the layout
    val root = graft.sources.LakeOps.refsLayout(spark, sf)
    val refs = spark.read.format("graft.sources.GraftMetaSource")
      .option("root", root).option("table", "refs").load()
    assert(refs.rdd.getNumPartitions == 3) // main, audit, v1
    assert(refs.collect().map(r => r.getString(0) -> r.getInt(1)).toMap ==
      Map("main" -> 3, "audit" -> 2, "v1" -> 1))
    // a ref outside the predicate never becomes an InputPartition
    assert(refs.filter($"snapshot_id" <= 2).rdd.getNumPartitions == 2)
    assert(refs.filter($"snapshot_id" === 3).rdd.getNumPartitions == 1)
  }

  test("history table: made-current log surfaces the rollback, the " +
      "orphan reads non-ancestor, and snapshot_id pushdown prunes") {
    import spark.implicits._
    graft.sources.LakeOps.metaHistory(spark, sf).collect() // builds layout
    val root = graft.sources.LakeOps.historyLayout(spark, sf)
    val h = spark.read.format("graft.sources.GraftMetaSource")
      .option("root", root).option("table", "history").load()
    assert(h.rdd.getNumPartitions == 5) // one per made-current event
    val rows = h.orderBy($"seq").collect().map(r =>
      (r.getInt(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)), r.getBoolean(3)))
    assert(rows.toSeq == Seq(
      (1, 1, None, true), (2, 2, Some(1), true), (3, 3, Some(2), false),
      (4, 2, Some(1), true), (5, 4, Some(2), true)),
      s"history rows wrong: ${rows.toSeq}")
    // pushdown: snapshot 2's two made-current entries plan exactly 2
    // input partitions; the orphan alone plans 1
    assert(h.filter($"snapshot_id" === 2).rdd.getNumPartitions == 2)
    assert(h.filter($"snapshot_id" === 3).rdd.getNumPartitions == 1)
    // output pruning must not rewrite history: ancestry flags computed
    // over the FULL log even when the orphan is pruned out
    assert(h.filter($"snapshot_id" <= 2).collect().forall(_.getBoolean(3)))
  }

  test("manifests table: adds and removes kinds with entry counts that " +
      "reconcile against the physical manifests; pushdown prunes") {
    import spark.implicits._
    val got = graft.sources.LakeOps.metaManifests(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val root = graft.sources.LakeOps.manifestsLayout(spark, sf)
    val m = spark.read.format("graft.sources.GraftMetaSource")
      .option("root", root).option("table", "manifests").load()
    assert(m.rdd.getNumPartitions == 5) // 4 adds + 1 removes
    assert(m.filter($"snapshot_id" === 4).rdd.getNumPartitions == 2)
    // entry counts reconcile with the raw manifest line counts
    (1 to 4).foreach { n =>
      val exp = graft.sources.IngestOps
        .readMetaLines(spark, root, s"metadata/snap-$n.txt").size.toLong
      assert(got.contains((n.toLong, "adds", exp)),
        s"adds manifest $n: expected $exp entries in $got")
    }
    val expRm = graft.sources.IngestOps
      .readMetaFile(spark, root, "metadata/snap-4.txt")._3.size.toLong
    assert(got.contains((4L, "removes", expRm)) && expRm > 0)
    // full schema serves real byte sizes
    assert(m.collect().forall(_.getLong(4) > 0))
  }

  test("column pruning reaches the reader") {
    import spark.implicits._
    val df = filesDf.select($"rel_path")
    df.collect()
    val schemas = flatten(df.queryExecution.executedPlan).collect {
      case b: BatchScanExec => b.scan.readSchema()
    }
    assert(schemas.nonEmpty)
    assert(schemas.head == StructType(
      graft.sources.GraftMetaSource.FILES_SCHEMA.filter(_.name == "rel_path")),
      s"reader schema not pruned: ${schemas.head}")
  }
}
