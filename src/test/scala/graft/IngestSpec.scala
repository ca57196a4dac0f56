package graft

import java.io.File
import org.apache.spark.sql.functions._

/** Ingest/write-path behavior the oracle can't see (SURVEY.md §2a):
  * physical partition layout, one-file-per-partition discipline, and
  * partition-pruned read-back (`PartitionSpecTest.java:42-50` layout;
  * `TimeEx:180-195` pruning). */
class IngestSpec extends SparkSpecBase {

  test("write_partitioned produces Hive-style year=/month=/day= layout " +
    "with one file per partition") {
    import spark.implicits._
    graft.sources.IngestOps.writePartitioned(spark, sf).collect()
    val root = new File(graft.sources.IngestOps.tmp("events_partitioned"))
    val yearDirs = root.listFiles().filter(_.isDirectory).map(_.getName)
    assert(yearDirs.toSeq == Seq("year=2024"), yearDirs.toSeq)
    val dayDirs = new File(root, "year=2024/month=1").listFiles()
      .filter(_.isDirectory)
    assert(dayDirs.length >= 28, s"expected ~30 day dirs, ${dayDirs.length}")
    dayDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: ${files.length} files")
    }
  }

  test("partition filter prunes files on read-back") {
    import spark.implicits._
    val df = spark.read.parquet(graft.sources.IngestOps.tmp("events_partitioned"))
    val total = df.inputFiles.length
    val q = df.filter($"day" === 15)
    q.collect()
    val scanned = fileScans(q.queryExecution.executedPlan)
      .head.metrics("numFiles").value
    assert(scanned < total, s"scanned=$scanned should be < total=$total")
    assert(scanned == 1, s"day=15 should scan exactly 1 file, got $scanned")
  }

  test("predicate pushdown reaches the parquet scan") {
    import spark.implicits._
    val plan = graft.sources.Tables.lineitem(spark, sf)
      .filter($"l_orderkey" < 100)
      .select($"l_orderkey", $"l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey), " +
      "LessThan(l_orderkey,100)]"), plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint," +
      "l_quantity:double>"), plan)
  }

  test("zstd round-trip preserves row count exactly") {
    import spark.implicits._
    val got = graft.sources.IngestOps.writeParquetZstd(spark, sf).collect()
    val direct = graft.sources.Tables.lineitem(spark, sf).count()
    assert(got.head.getLong(0) == direct)
  }

  test("compound tenant+hour predicate prunes the 6-field layout to " +
      "matching cells only") {
    import spark.implicits._
    val root = graft.sources.IngestOps.partitionedLayout(spark, sf)
    val df = spark.read.parquet(root)
    val total = df.inputFiles.length
    val q = df.filter($"tenant_bucket" === 2 && $"day" === 15 &&
      $"hour".between(6, 12))
    q.collect()
    val scanned = fileScans(q.queryExecution.executedPlan)
      .head.metrics("numFiles").value
    // one bucket of 4, one day of the month, 7 hours of 24: directory
    // metadata alone must cut the file list to at most 7 cells
    assert(scanned <= 7, s"scanned=$scanned of $total, want <= 7")
    assert(scanned < total / 10,
      s"pruning ineffective: $scanned of $total files")
  }

  test("snapshot_read_asof never opens files committed after snapshot 2") {
    import spark.implicits._
    graft.sources.IngestOps.snapshotReadAsof(spark, sf).collect()
    val root = graft.sources.IngestOps.snapshotLayout(spark, sf)
    val asofRels = (1 to 2)
      .flatMap(n => graft.sources.IngestOps.snapshotManifest(spark, root, n))
      .toSet
    val snap3Rels = graft.sources.IngestOps.snapshotManifest(spark, root, 3)
      .toSet
    assert(snap3Rels.nonEmpty)
    // compare by manifest-relative path — input_file_name returns a URI
    val opened = spark.read.option("basePath", s"$root/data")
      .parquet(asofRels.map(rel => s"$root/data/$rel").toSeq: _*)
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
      .map(f => f.substring(f.lastIndexOf("/data/") + 6)).toSet
    assert(opened.nonEmpty)
    assert(opened.intersect(snap3Rels).isEmpty,
      s"asof read touched snapshot-3 files: ${opened.intersect(snap3Rels)}")
    assert(opened.subsetOf(asofRels))
  }

  test("snapshot_read_attime resolves its cutoff against the persisted " +
      "commit log; at-commit boundaries are inclusive") {
    import spark.implicits._
    val root = graft.sources.IngestOps.snapshotLayout(spark, sf)
    val log = graft.sources.IngestOps.commitLog(spark, root)
    assert(log.map(_._1) == Seq(1, 2, 3))
    assert(log.map(_._2) == log.map(_._2).sorted)
    // exactly-at-commit includes that commit; just-before excludes it
    assert(log.filter(_._2 <= log(1)._2).map(_._1).max == 2)
    assert(log.filter(_._2 <= log(1)._2 - 1).map(_._1).max == 1)
    // the by-time read serves exactly snapshot 2's state (days 1-10)
    val days = graft.sources.IngestOps.snapshotReadAttime(spark, sf)
      .select($"day").collect().map(_.getLong(0))
    assert(days.min == 1 && days.max == 10)
  }

  test("compact_files rewrites 64 fragments into 4 files, zero row loss") {
    val rows = graft.sources.IngestOps.compactFiles(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val n = graft.sources.Tables.events(spark, sf).count()
    assert(rows("before") == (64L, n))
    assert(rows("after") == (4L, n))
  }

  test("sort_cluster_write yields disjoint per-file user_id ranges") {
    import spark.implicits._
    graft.sources.IngestOps.sortClusterWrite(spark, sf).collect()
    val ranges = spark.read.parquet(graft.sources.IngestOps.tmp("events_clustered"))
      .groupBy(input_file_name().as("f"))
      .agg(min($"user_id").as("lo"), max($"user_id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(ranges.nonEmpty)
    // range partitioning: each file's [lo,hi] interval is disjoint, so a
    // user_id predicate can skip every other file on footer min/max alone
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2)
      case _ =>
    }
  }

  test("alter_nested_evolve merges struct footers recursively: the " +
      "unified policy struct gains region and v1 rows surface NULL in it") {
    import spark.implicits._
    import org.apache.spark.sql.types.StructType
    graft.sources.IngestOps.alterNestedEvolve(spark, sf).collect()
    val out = graft.sources.IngestOps.tmp("events_nested_evolved")
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    val policy = merged.schema("policy").dataType.asInstanceOf[StructType]
    assert(policy.fieldNames.toSeq == Seq("class", "score", "region"),
      policy.fieldNames.toSeq)
    assert(policy("region").nullable)
    // v1 rows (written before the struct widened) read NULL in the new
    // nested field; v2 rows carry real values — no v1 file was rewritten
    val counts = merged
      .groupBy($"policy.region".isNull.as("isV1")).count()
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set(true, false), counts)
  }

  test("manifest_prune_scan plans its file list from stats alone: files " +
      "whose bounds exclude the value range are never opened") {
    import spark.implicits._
    val root = graft.sources.IngestOps.statsLayout(spark, sf)
    val (hits, total) = graft.sources.IngestOps
      .statsQualifyingFiles(spark, root, 180.0, 220.0)
    // 16 value-clustered files over ~[0,500): a 40-unit band overlaps ~2
    assert(hits.nonEmpty && hits.size <= 3,
      s"stats pruning ineffective: ${hits.size} of $total files qualify")
    assert(total == 16, s"expected 16 clustered files, got $total")
    // the query's OWN executed scan reads exactly the qualifying files
    // and never a stats-excluded one — taken from the plan's file index,
    // not from a re-read of the planned list (which would be circular)
    val q = graft.sources.IngestOps.manifestPruneScan(spark, sf)
    q.collect()
    val scan = fileScans(q.queryExecution.executedPlan).head
    assert(scan.metrics("numFiles").value == hits.size,
      s"scanned=${scan.metrics("numFiles").value}, planned=${hits.size}")
    val scanRels = scan.relation.location.inputFiles
      .map(f => f.substring(f.lastIndexOf("/data/") + 6)).toSet
    val excluded = graft.sources.IngestOps
      .readStatsManifest(spark, root, "files.stats")
      .filter(s => s.maxValue < 180.0 || s.minValue > 220.0)
      .map(_.rel).toSet
    assert(excluded.nonEmpty && scanRels.nonEmpty)
    assert(scanRels.intersect(excluded).isEmpty,
      s"query scan lists excluded files: ${scanRels.intersect(excluded)}")
    // stats are sound: survivors' bounds genuinely overlap the predicate,
    // and re-running the same aggregate over ALL files gives the same rows
    val full = spark.read.parquet(s"$root/data")
      .filter($"value".between(180.0, 220.0))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"),
        graft.operators.dsum($"value").as("sum_value"))
      .orderBy($"event_type")
    assert(q.collect().toSeq == full.collect().toSeq)
  }

  test("ingest_quarantine: the split is lossless and clean — no bad row " +
      "in the table, no good row in quarantine, totals reconcile") {
    import spark.implicits._
    val r = graft.sources.IngestOps.ingestQuarantine(spark, sf)
      .collect().head
    val out = graft.sources.IngestOps.tmp("events_quarantine")
    val acc = spark.read.parquet(s"$out/accepted")
    val quar = spark.read.parquet(s"$out/quarantine")
    val bad = col("value").isNull || col("value") < 1.0 ||
      col("value") > 300.0
    assert(acc.filter(bad).count() == 0, "a bad row landed in the table")
    assert(acc.filter(col("value").isNull).count() == 0,
      "a NULL-valued row landed in the table")
    assert(quar.filter(!bad).count() == 0, "a good row was quarantined")
    val total = graft.sources.Tables.events(spark, sf).count()
    assert(r.getLong(0) + r.getLong(2) == total,
      "accepted + quarantined != source total: rows were lost or duplicated")
    assert(r.getLong(2) > 0, "the corpus plants bad rows; none were caught")
  }

  test("manifest_null_prune plans IS NULL from null-count stats alone: " +
      "files recorded null-free are never opened") {
    import spark.implicits._
    val root = graft.sources.IngestOps.nullStatsLayout(spark, sf)
    val stats = graft.sources.IngestOps
      .readStatsManifest(spark, root, "files.stats")
    val (withNulls, nullFree) = stats.partition(_.nNullValue > 0)
    // the nulls are day-clustered: most of the 16 files are null-free
    assert(stats.size == 16 && withNulls.nonEmpty && nullFree.nonEmpty)
    assert(withNulls.size < stats.size / 2,
      s"null clustering ineffective: ${withNulls.size} of 16 files hold nulls")
    // null-count stats are sound: recorded counts equal actual per file
    val actual = spark.read.parquet(s"$root/data")
      .groupBy(regexp_extract(input_file_name(), "/data/(.*)$", 1)
        .as("rel"))
      .agg(count(when($"value".isNull, 1)).as("nn"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    stats.foreach(s => assert(actual(s.rel) == s.nNullValue,
      s"stats lie for ${s.rel}: recorded=${s.nNullValue} actual=${actual(s.rel)}"))
    // the query's executed scan reads exactly the null-bearing files
    val q = graft.sources.IngestOps.manifestNullPrune(spark, sf)
    q.collect()
    val scan = fileScans(q.queryExecution.executedPlan).head
    assert(scan.metrics("numFiles").value == withNulls.size,
      s"scanned=${scan.metrics("numFiles").value}, planned=${withNulls.size}")
    val scanRels = scan.relation.location.inputFiles
      .map(f => f.substring(f.lastIndexOf("/data/") + 6)).toSet
    assert(scanRels.intersect(nullFree.map(_.rel).toSet).isEmpty,
      "the IS NULL scan lists a null-free file")
    // pruning is lossless: the full-table IS NULL answer is identical
    val full = spark.read.parquet(s"$root/data")
      .filter($"value".isNull)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct($"day".cast("long")).as("n_days"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"event_type")
    assert(q.collect().toSeq == full.collect().toSeq)
  }

  test("manifest_bloom_prune opens only the files whose bloom might " +
      "hold a probe key — never a bloom-excluded file") {
    import spark.implicits._
    val root = graft.sources.IngestOps.snapshotLayout(spark, sf)
    val sidecar = graft.sources.IngestOps.bloomSidecar(spark, sf, root)
    val keys = graft.sources.IngestOps.eventsWithParts(spark, sf)
      .filter($"day".isin(3, 9, 14))
      .groupBy($"day").agg(min($"event_id").as("k"))
      .collect().map(_.getLong(1)).toSeq.sorted
    assert(keys.size == 3)
    val (hits, total) = graft.sources.IngestOps
      .bloomQualifyingFiles(spark, sidecar, keys)
    // 15 day files, 3 keys on 3 distinct days, fpp ~1e-4: exactly 3
    assert(total == 15, s"expected 15 files with blooms, got $total")
    assert(hits.size == 3, s"bloom pruning ineffective: ${hits.size}")
    // the query's own executed scan reads exactly the qualifying files
    val q = graft.sources.IngestOps.manifestBloomPrune(spark, sf)
    val rows = q.collect()
    assert(rows.map(_.getLong(0)).toSeq == keys)
    val scan = fileScans(q.queryExecution.executedPlan).head
    assert(scan.metrics("numFiles").value == hits.size)
    val scanRels = scan.relation.location.inputFiles
      .map(f => f.substring(f.lastIndexOf("/data/") + 6)).toSet
    assert(scanRels == hits.toSet)
    // soundness: each key really lives in one of the opened files, and
    // probing a key that exists NOWHERE qualifies zero files
    val (none, _) = graft.sources.IngestOps
      .bloomQualifyingFiles(spark, sidecar, Seq(-987654321L))
    assert(none.isEmpty, s"phantom key qualified files: $none")
  }

  test("corrupt pruning metadata fails the plan loudly — a damaged " +
      "bloom or stats sidecar must never silently shrink the file list") {
    import spark.implicits._
    import graft.sources.IngestOps
    // a bit-flipped bloom DESERIALIZES fine but answers 'definitely
    // absent' for present keys — the one corruption mode that yields
    // wrong results instead of an error, hence the CRC column the probe
    // re-verifies executor-side. Corrupt a COPY (shared layouts are
    // never mutated): flip one sketch byte, keep the stored CRC.
    val root = IngestOps.snapshotLayout(spark, sf)
    val sidecar = IngestOps.bloomSidecar(spark, sf, root)
    val tmp = java.nio.file.Files
      .createTempDirectory("bloom_corrupt").toString
    val rows = spark.read.parquet(s"$sidecar/blooms.parquet")
      .select($"rel", $"bf", $"crc")
      .as[(String, Array[Byte], Long)].collect()
    assert(rows.nonEmpty)
    val (rel0, bits0, crc0) = rows.head
    val flipped = bits0.clone()
    flipped(flipped.length / 2) = (flipped(flipped.length / 2) ^ 0x10).toByte
    val corrupted = (rel0, flipped, crc0) +: rows.tail.toSeq
    spark.createDataset(corrupted).toDF("rel", "bf", "crc")
      .write.mode("overwrite").parquet(s"$tmp/blooms.parquet")
    val e = intercept[Exception] {
      IngestOps.bloomQualifyingFiles(spark, tmp, Seq(1L))
    }
    // the executor's IllegalStateException arrives wrapped in Spark's
    // task-failure chain — the CRC message must survive the wrapping
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains("CRC mismatch"), msgs)
    // stats sidecars are parquet with page checksums written and
    // verified — pin that physical damage (a truncated part-file)
    // throws rather than planning from a damaged manifest
    val statsRoot = IngestOps.statsLayout(spark, sf)
    val statsTmp = java.nio.file.Files
      .createTempDirectory("stats_corrupt").toString
    val srcDir = java.nio.file.Paths
      .get(s"$statsRoot/metadata/files.stats.parquet")
    val dstDir = java.nio.file.Paths
      .get(s"$statsTmp/metadata/files.stats.parquet")
    java.nio.file.Files.createDirectories(dstDir)
    val parts = java.nio.file.Files.list(srcDir).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
    parts.foreach(p => java.nio.file.Files.copy(p,
      dstDir.resolve(p.getFileName.toString)))
    val victim = java.nio.file.Files.list(dstDir).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .maxBy(java.nio.file.Files.size(_))
    val ch = java.nio.channels.FileChannel.open(victim,
      java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(math.max(4, java.nio.file.Files.size(victim) - 16))
    finally ch.close()
    assertThrows[Exception] {
      IngestOps.statsManifest(spark, statsTmp, "files.stats").collect()
    }
    // an ABSENT sidecar must also fail the plan (gates guarantee its
    // presence, so absence is damage) — an empty default would plan
    // zero files and return silently-empty results
    val e2 = intercept[IllegalStateException] {
      IngestOps.statsManifest(spark,
        java.nio.file.Files.createTempDirectory("no_sidecar").toString,
        "files.stats")
    }
    assert(e2.getMessage.contains("sidecar missing"), e2.getMessage)
  }

  test("sidecar planning never materializes payloads on the driver: " +
      "the bloom probe's task results carry rel paths, not bitmaps") {
    import spark.implicits._
    import graft.sources.IngestOps
    val root = IngestOps.snapshotLayout(spark, sf)
    val sidecar = IngestOps.bloomSidecar(spark, sf, root)
    val payloadBytes = spark.read.parquet(s"$sidecar/blooms.parquet")
      .agg(sum(length($"bf"))).head.getLong(0)
    assert(payloadBytes > 500000,
      s"fixture too small to prove anything: $payloadBytes payload bytes")
    val keys = IngestOps.eventsWithParts(spark, sf)
      .filter($"day".isin(3, 9, 14))
      .groupBy($"day").agg(min($"event_id").as("k"))
      .collect().map(_.getLong(1)).toSeq.sorted
    val resultBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) resultBytes.addAndGet(m.resultSize)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (hits, total) = IngestOps.bloomQualifyingFiles(spark, sidecar, keys)
      assert(hits.nonEmpty && total > 0)
      org.apache.spark.GraftListenerBridge
        .waitUntilEmpty(spark.sparkContext)
      // everything the driver received across the probe's jobs (rels +
      // per-task accumulator overhead) must stay far below the payload
      // volume — the old text-sidecar probe pulled every bitmap in
      assert(resultBytes.get() < payloadBytes / 2,
        s"driver received ${resultBytes.get()} bytes against " +
          s"$payloadBytes payload bytes — sidecar payloads are " +
          "reaching the driver")
      // the BUILD must hold the same contract (the old form collected
      // every bitmap before writing — ~50 GiB of driver heap at 800k
      // files): rebuild against scratch data and re-read the window
      val buildOut = IngestOps.tmp("bloom_build_probe")
      resultBytes.set(0)
      IngestOps.buildBloomSidecar(spark, s"$root/data", buildOut)
      org.apache.spark.GraftListenerBridge
        .waitUntilEmpty(spark.sparkContext)
      val builtBytes = spark.read.parquet(s"$buildOut/blooms.parquet")
        .agg(sum(length($"bf"))).head.getLong(0)
      assert(builtBytes > 500000, s"build produced $builtBytes bytes")
      assert(resultBytes.get() < builtBytes / 2,
        s"driver received ${resultBytes.get()} bytes during a build " +
          s"of $builtBytes payload bytes — the build is collecting " +
          "sketches")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("stats planning holds at metadata scale: a 100k-file sidecar " +
      "plans in ONE job and the driver receives only qualifying rels") {
    import spark.implicits._
    import graft.sources.IngestOps
    val tmp = IngestOps.tmp("mega_sidecar")
    // synthetic per-file stats at the 100 TB file count's order of
    // magnitude: file i covers the value band [i, i+1)
    spark.range(100000).select(
      concat(lit("part-"), lpad($"id".cast("string"), 6, "0"),
        lit(".parquet")).as("rel"),
      lit(1000L).as("n_rows"),
      lit(1).cast("int").as("min_day"), lit(30).cast("int").as("max_day"),
      $"id".cast("double").as("min_value"),
      ($"id" + 1).cast("double").as("max_value"),
      lit(0L).as("n_null_value"))
      .write.mode("overwrite")
      .parquet(s"$tmp/metadata/files.stats.parquet")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (hits, total) =
        IngestOps.statsQualifyingFiles(spark, tmp, 500.5, 503.5)
      org.apache.spark.GraftListenerBridge
        .waitUntilEmpty(spark.sparkContext)
      assert(total == 100000)
      // bands overlapping [500.5, 503.5]: i in 500..503 — exact
      assert(hits.map(_.split("/").last) ==
        (500 to 503).map(i => f"part-$i%06d.parquet"),
        s"got ${hits.size} hits: ${hits.take(5)}")
      // one scan job plans the whole 100k-file manifest — the explicit
      // sidecar schema means no inference job, and the total count
      // rides the qualify pass instead of a second action
      assert(jobs.get() == 1, s"planning cost ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("manifest_stats answers from metadata only — its plan reads no " +
      "data files") {
    // layout is built (a write-time cost); the QUERY plan itself must
    // aggregate the sidecar DATASETS — every scanned file lives under
    // metadata/, never under data/ (the distributed form of the old
    // "zero parquet scans" local-relation claim)
    graft.sources.IngestOps.snapshotLayout(spark, sf)
    val q = graft.sources.IngestOps.manifestStats(spark, sf)
    q.collect()
    val scannedFiles = fileScans(q.queryExecution.executedPlan)
      .flatMap(_.relation.location.inputFiles)
    assert(scannedFiles.nonEmpty, "expected sidecar-dataset scans")
    assert(scannedFiles.forall(f =>
      f.contains("/metadata/") && !f.contains("/data/")),
      s"manifest_stats read data files: ${scannedFiles.mkString(",")}")
    val rows = q.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // stats agree with a direct scan of the table
    val direct = spark.read
      .parquet(s"${graft.sources.IngestOps.snapshotLayout(spark, sf)}/data")
      .count()
    assert(rows.map(_.getLong(2)).sum == direct)
  }

  test("alter_widen_type: v1 footers stay INT32/FLOAT and are never " +
      "rewritten; the merged read serves the widened types") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val root = graft.sources.IngestOps.widenLayout(spark, sf)
    val p = new org.apache.hadoop.fs.Path(s"$root/v1")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def v1Mtimes(): Map[String, Long] = {
      val it = fs.listFiles(p, true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.toString.endsWith(".parquet"))
          b += f.getPath.toString -> f.getModificationTime
      }
      b.result()
    }
    val before = v1Mtimes()
    assert(before.nonEmpty)
    // the narrow physical types really are in the old footers
    val v1Schema = spark.read.parquet(s"$root/v1").schema
    assert(v1Schema("units").dataType == IntegerType)
    assert(v1Schema("score").dataType == FloatType)
    // the widening read: promoted types served, v1 bytes untouched
    val served = graft.sources.IngestOps.alterWidenType(spark, sf)
    assert(served.schema("sum_units").dataType == LongType)
    assert(served.schema("min_score").dataType == DoubleType)
    val rows = served.collect()
    assert(rows.nonEmpty)
    // v2 eras carry units beyond int32 range — the promotion is real
    val maxUnits = spark.read.parquet(s"$root/v2")
      .agg(max(col("units"))).head.getLong(0)
    assert(maxUnits > Int.MaxValue.toLong)
    assert(v1Mtimes() == before,
      "type widening rewrote v1 data files")
  }

  test("alter_add_col_default: pre-add rows serve the declared default " +
      "with zero rewrite; post-add rows serve their stored values") {
    import org.apache.spark.sql.functions._
    val root = graft.sources.IngestOps.defaultColLayout(spark, sf)
    val p = new org.apache.hadoop.fs.Path(s"$root/v1")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def v1Mtimes(): Map[String, Long] = {
      val it = fs.listFiles(p, true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.toString.endsWith(".parquet"))
          b += f.getPath.toString -> f.getModificationTime
      }
      b.result()
    }
    val before = v1Mtimes()
    assert(before.nonEmpty)
    // the pre-add footers genuinely lack the column
    assert(!spark.read.parquet(s"$root/v1").columns.contains("tier"))
    val rows = graft.sources.IngestOps.alterAddColDefault(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    assert(v1Mtimes() == before,
      "adding a defaulted column rewrote pre-add data files")
    // per-era split: every v1 row serves the default; v2 rows serve
    // BOTH stored values (the default is initial, not a constant)
    val v1n = spark.read.parquet(s"$root/v1").count()
    val v2 = spark.read.parquet(s"$root/v2")
    val v2premium = v2.filter(col("tier") === "premium").count()
    val v2standard = v2.filter(col("tier") === "standard").count()
    assert(v2premium > 0 && v2standard > 0,
      "fixture should exercise both stored values post-add")
    val byTier = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2))).toMap
    assert(byTier("standard")._2 == v1n,
      "every pre-add row must serve the default")
    assert(byTier("premium")._1 == v2premium)
    assert(byTier("standard")._1 == v1n + v2standard)
  }

  test("alter_drop_col: v1 footers keep the dropped column's bytes " +
      "untouched; the table serves the narrowed schema and prunes it " +
      "from the scan") {
    import org.apache.spark.sql.functions._
    val root = graft.sources.IngestOps.dropLayout(spark, sf)
    val p = new org.apache.hadoop.fs.Path(s"$root/v1")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def v1Mtimes(): Map[String, Long] = {
      val it = fs.listFiles(p, true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.toString.endsWith(".parquet"))
          b += f.getPath.toString -> f.getModificationTime
      }
      b.result()
    }
    val before = v1Mtimes()
    // the dropped column's bytes are still in the pre-drop footers;
    // post-drop files never carried it
    assert(spark.read.parquet(s"$root/v1").columns.contains("props"))
    assert(!spark.read.parquet(s"$root/v2").columns.contains("props"))
    val served = graft.sources.IngestOps.alterDropCol(spark, sf)
    assert(!served.columns.contains("props"))
    served.collect()
    // column pruning: no era's executed scan even READS the dropped
    // column — the drop is free at query time, not just at drop time
    fileScans(served.queryExecution.executedPlan).foreach { scan =>
      assert(!scan.schema.fieldNames.contains("props"),
        "the dropped column survived into a scan's ReadSchema")
    }
    assert(v1Mtimes() == before, "column drop rewrote v1 data files")
  }

  test("writeMetaLines fails loudly when the unlink before a rewrite is " +
      "refused, instead of truncating through a hard link") {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.Files
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.nodelete.impl", classOf[DeleteRefusingFileSystem].getName)
    hc.setBoolean("fs.nodelete.impl.disable.cache", true)
    try {
      val dir = java.nio.file.Paths.get(
        graft.sources.IngestOps.tmp("meta_nodelete"))
      Files.createDirectories(dir)
      val base = dir.resolve("base.txt")
      val clone = dir.resolve("clone.txt")
      Seq(clone, base).foreach(Files.deleteIfExists)
      Files.write(base, "a\nb".getBytes(UTF_8))
      // a cloned metadata file: a hard link into a shared base
      Files.createLink(clone, base)
      val e = intercept[java.io.IOException] {
        graft.sources.IngestOps.writeMetaLines(spark, s"nodelete://$dir",
          "clone.txt", Seq("z"))
      }
      assert(e.getMessage.contains("unlink"), e.getMessage)
      assert(new String(Files.readAllBytes(base), UTF_8) == "a\nb",
        "the rewrite truncated the shared base through the link")
    } finally {
      hc.unset("fs.nodelete.impl")
      hc.unset("fs.nodelete.impl.disable.cache")
    }
  }

  test("snapshot_mixed_format: era 1 is parquet, era 2 is ORC appended " +
      "without touching era 1, and the union answers correctly") {
    import org.apache.spark.sql.functions._
    val rows = graft.sources.IngestOps.snapshotMixedFormat(spark, sf)
      .collect()
    val root = graft.sources.IngestOps.tmp("events_mixed_format")
    val s1 = graft.sources.IngestOps.snapshotManifest(spark, root, 1)
    val s2 = graft.sources.IngestOps.snapshotManifest(spark, root, 2)
    assert(s1.nonEmpty && s1.forall(_.endsWith(".parquet")))
    assert(s2.nonEmpty && s2.forall(_.endsWith(".orc")))
    // the format split follows the day split exactly
    assert(s1.forall(r => "day=(\\d+)/".r.findFirstMatchIn(r)
      .get.group(1).toInt <= 5))
    assert(s2.forall(r => "day=(\\d+)/".r.findFirstMatchIn(r)
      .get.group(1).toInt >= 6))
    // the union equals a single-format recomputation from the source
    val direct = graft.sources.IngestOps.eventsWithParts(spark, sf)
      .filter(col("day").between(1, 10))
      .groupBy(col("day").cast("long").as("day"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        graft.operators.dsum(col("value")).as("sum_value"))
      .orderBy(col("day")).collect()
    assert(rows.toSeq == direct.toSeq)
  }

  test("alter_rename_chain: field-id resolution survives a→b then c→a " +
      "(a name-mapping reader would flip the two columns in era 1)") {
    import spark.implicits._
    val root = graft.sources.IngestOps.renameChainLayout(spark, sf)
    val current = graft.sources.IngestOps.readSchemaEra(spark, root, 3)
    // era 1's file carries PHYSICAL columns a (field 3) and c (field 5);
    // resolved against the current schema, its field 3 must surface as
    // `b` (the value column) and field 5 as `a` (the user_id column)
    val era1 = graft.sources.IngestOps.readEraById(spark, root, 1, current)
    val mismatch = era1.join(
        graft.sources.IngestOps.eventsWithParts(spark, sf)
          .filter($"day" <= 10)
          .select($"event_id", $"value".as("exp_b"),
            $"user_id".as("exp_a")),
        Seq("event_id"))
      .filter($"b" =!= $"exp_b" || $"a" =!= $"exp_a")
      .count()
    assert(mismatch == 0L,
      "era-1 fields mis-bound: physical a must resolve to current b")
    // the full 3-era union equals first principles over the source
    val got = graft.sources.IngestOps.alterRenameChain(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    val exp = graft.sources.Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        graft.operators.dsum($"value").as("sum_b"),
        sum($"user_id").as("sum_a"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(got == exp)
    // and a NAME-mapped read of era 1 (the single-rename shortcut)
    // really does differ — the guard the ids exist to provide
    val nameMapped = spark.read.parquet(s"$root/v1")
      .withColumnRenamed("c", "ignored") // name mapping can't know c→a
    assert(nameMapped.columns.contains("a"),
      "era-1 physical a would collide with the current a by name")
  }

  test("era field-ids live in the parquet FOOTERS (wire format): era-1 " +
      "binding needs no sidecar, and Spark's native id-resolving " +
      "reader binds the renamed columns from the stamped ids alone") {
    import spark.implicits._
    val root = graft.sources.IngestOps.renameChainLayout(spark, sf)
    // 1) the footers of every era carry the NestedField-style ids the
    //    era writers stamped — the same numbered-field mechanism the
    //    reference builds with Types.NestedField.required(id, name, _)
    assert(graft.sources.IngestOps.footerFieldIds(spark, s"$root/v1") ==
      Map(1 -> "event_id", 2 -> "event_type", 3 -> "a", 5 -> "c",
        4 -> "day"))
    assert(graft.sources.IngestOps.footerFieldIds(spark, s"$root/v3") ==
      Map(1 -> "event_id", 2 -> "event_type", 3 -> "b", 5 -> "a",
        4 -> "day"))
    // 2) sidecar-free binding: a fixture with id-stamped footers and NO
    //    metadata/ dir resolves purely from the footers
    val solo = graft.sources.IngestOps.tmp("fid_solo")
    Seq((10L, 1.5, 77L), (11L, 2.5, 78L))
      .toDF("event_id", "value", "user_id")
      .select(graft.sources.IngestOps.withFieldId($"event_id", "event_id", 1),
        graft.sources.IngestOps.withFieldId($"value", "a", 3),
        graft.sources.IngestOps.withFieldId($"user_id", "c", 5))
      .write.mode("overwrite").parquet(s"$solo/v1")
    val bound = graft.sources.IngestOps.readEraById(spark, solo, 1,
      Seq(1 -> "event_id", 3 -> "b", 5 -> "a"))
      .orderBy($"event_id").collect()
    assert(bound.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .toSeq == Seq((10L, 1.5, 77L), (11L, 2.5, 78L)),
      "footer-id binding failed without a sidecar")
    // 3) the stamped ids are REAL parquet field ids: Spark's own
    //    fieldId.read reader (the Iceberg-compatible resolution mode)
    //    binds by id across the rename with names that match nothing
    val readSchema = org.apache.spark.sql.types.StructType(Seq(
      ("event_id", org.apache.spark.sql.types.LongType, 1L),
      ("b", org.apache.spark.sql.types.DoubleType, 3L),
      ("a", org.apache.spark.sql.types.LongType, 5L)).map {
      case (n, t, id) => org.apache.spark.sql.types.StructField(n, t,
        nullable = true,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", id).build())
    })
    //    (non-vectorized reader: Spark 4.1's vectorized path mis-binds
    //    when an id-renamed column's OLD name still exists in the file
    //    with a different id — name shadowing; the engine's own era
    //    reads use the footer-projection path, which has no such hole)
    val keys = Seq("spark.sql.parquet.fieldId.read.enabled" -> "true",
      "spark.sql.parquet.enableVectorizedReader" -> "false")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val native = spark.read.schema(readSchema).parquet(s"$solo/v1")
        .orderBy($"event_id").collect()
      assert(native.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSeq == Seq((10L, 1.5, 77L), (11L, 2.5, 78L)),
        "native fieldId.read resolution mis-bound the renamed columns")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("era reads bind by footer id even when the session enables the " +
      "vectorized fieldId.read path (the Spark 4.1 name-shadowing " +
      "mis-bind): a future change routing readEraById through the " +
      "native vectorized resolution fails here") {
    import spark.implicits._
    // shadowing fixture: physical columns (event_id id1, a id3, c id5);
    // the era mapping renames id3→b and id5→a, so the requested name
    // "a" COLLIDES with a physical "a" that carries a different id —
    // exactly the case where Spark 4.1's vectorized fieldId.read reader
    // binds the wrong column. The engine's footer-projection path must
    // stay immune regardless of session conf.
    val solo = graft.sources.IngestOps.tmp("fid_vec_pin")
    Seq((10L, 1.5, 77L), (11L, 2.5, 78L))
      .toDF("event_id", "value", "user_id")
      .select(graft.sources.IngestOps.withFieldId($"event_id", "event_id", 1),
        graft.sources.IngestOps.withFieldId($"value", "a", 3),
        graft.sources.IngestOps.withFieldId($"user_id", "c", 5))
      .write.mode("overwrite").parquet(s"$solo/v1")
    val keys = Seq("spark.sql.parquet.fieldId.read.enabled" -> "true",
      "spark.sql.parquet.enableVectorizedReader" -> "true")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val bound = graft.sources.IngestOps.readEraById(spark, solo, 1,
        Seq(1 -> "event_id", 3 -> "b", 5 -> "a"))
        .orderBy($"event_id").collect()
      assert(bound.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSeq == Seq((10L, 1.5, 77L), (11L, 2.5, 78L)),
        "readEraById mis-bound under vectorized fieldId.read session " +
          "conf — era reads must resolve via footer projection")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("Iceberg-v2 metadata.json: version-hint resolves the current " +
      "metadata file, every required v2 field is present, the schema " +
      "carries the field ids, snapshots chain with live manifest " +
      "pointers, and the snapshot log agrees with the commit log and " +
      "the snapshots metadata table") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val root = graft.sources.IngestOps.snapshotLayout(spark, sf)
    val hint = graft.sources.IngestOps
      .readMetaLines(spark, root, "metadata/version-hint.text")
    assert(hint == Seq("3"), s"version hint: $hint")
    val txt = graft.sources.IngestOps
      .readMetaLines(spark, root, s"metadata/v${hint.head}.metadata.json")
      .mkString("\n")
    val j = JsonMethods.parse(txt)
    assert((j \ "format-version").extract[Int] == 2)
    for (req <- Seq("table-uuid", "location", "last-sequence-number",
        "last-updated-ms", "last-column-id", "current-schema-id",
        "schemas", "default-spec-id", "partition-specs",
        "last-partition-id", "default-sort-order-id", "sort-orders",
        "current-snapshot-id", "snapshots", "snapshot-log", "refs")) {
      assert((j \ req) != JNothing, s"required v2 field missing: $req")
    }
    // location and every pointer below are FULL URIs (spec requirement
    // — a reader must resolve them without a table-root convention)
    assert((j \ "location").extract[String] == s"file:$root")
    // schema: the field-id'd struct (ids are the column identities the
    // rename/era discipline binds on)
    val fields = (j \ "schemas")(0) \ "fields"
    assert(fields.children.map(f => ((f \ "id").extract[Int],
      (f \ "name").extract[String])) == List(1 -> "event_id",
      2 -> "user_id", 3 -> "event_type", 4 -> "value", 5 -> "day"))
    // partition spec: identity on day, sourced from field 5
    val pf = ((j \ "partition-specs")(0) \ "fields")(0)
    assert((pf \ "transform").extract[String] == "identity" &&
      (pf \ "source-id").extract[Int] == 5)
    // snapshots: ids 1..3, parent chain, ascending sequence numbers,
    // and every manifest-list pointer names a live file
    val snaps = (j \ "snapshots").children
    assert(snaps.map(s => (s \ "snapshot-id").extract[Int]) ==
      List(1, 2, 3))
    assert(snaps.tail.map(s =>
      (s \ "parent-snapshot-id").extract[Int]) == List(1, 2))
    snaps.foreach { s =>
      val ml = (s \ "manifest-list").extract[String]
      assert(ml.startsWith("file:"), s"manifest-list not a full URI: $ml")
      assert(graft.sources.IngestOps.fsExists(spark, ml),
        s"manifest-list $ml missing")
    }
    // snapshot summaries: operation + add counts agreeing with the
    // stats sidecars (what a real reader surfaces in its UI)
    snaps.foreach { s =>
      val id = (s \ "snapshot-id").extract[Int]
      assert((s \ "summary" \ "operation").extract[String] == "append")
      val sidecar = graft.sources.IngestOps
        .readStatsManifest(spark, root, s"snap-$id.stats")
      assert((s \ "summary" \ "added-data-files").extract[String]
        == sidecar.size.toString,
        s"summary added-data-files drifted from sidecar for snap $id")
      assert((s \ "summary" \ "added-records").extract[String]
        == sidecar.map(_.nRows).sum.toString,
        s"summary added-records drifted from sidecar for snap $id")
    }
    // snapshot-log == the commits.txt the AS-OF reads resolve against
    val log = (j \ "snapshot-log").children.map(e =>
      ((e \ "snapshot-id").extract[Int],
        (e \ "timestamp-ms").extract[Long]))
    assert(log == graft.sources.IngestOps.commitLog(spark, root).toList)
    // refs: main is a branch at the current snapshot
    assert((j \ "refs" \ "main" \ "snapshot-id").extract[Int] == 3)
    assert((j \ "refs" \ "main" \ "type").extract[String] == "branch")
    // cross-surface agreement: the snapshots metadata table serves the
    // SAME commit timestamps this metadata file records
    val table = graft.sources.IngestOps.metaSnapshots(spark, sf)
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1))).toMap
    table.foreach { case (id, ms) =>
      assert(log.contains((id, ms)),
        s"snapshots table and metadata.json disagree on commit $id")
    }
    // the manifest-list pointers are the REAL avro files
    snaps.foreach { s =>
      assert((s \ "manifest-list").extract[String]
        .endsWith(".avro"), "manifest-list is not the avro emission")
    }
  }

  test("avro manifests are real Iceberg-shaped avro: the list file " +
      "carries spec field-ids and one row per live manifest, and each " +
      "manifest's entries agree with the text manifest and the stats " +
      "sidecar file-for-file") {
    import scala.jdk.CollectionConverters._
    val root = graft.sources.IngestOps.snapshotLayout(spark, sf)
    def readAvro(rel: String)
        : (org.apache.avro.Schema,
           Seq[org.apache.avro.generic.GenericRecord],
           Map[String, String]) = {
      val p = new org.apache.hadoop.fs.Path(s"$root/$rel")
      val in = new org.apache.avro.mapred.FsInput(p,
        spark.sparkContext.hadoopConfiguration)
      val r = new org.apache.avro.file.DataFileReader(in,
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      try {
        val meta = r.getMetaKeys.asScala.filterNot(_.startsWith("avro."))
          .map(k => k -> r.getMetaString(k)).toMap
        (r.getSchema, r.iterator().asScala.toVector, meta)
      } finally r.close()
    }
    // manifest list of the current snapshot: 3 manifests, ascending
    // sequence numbers, spec field-ids on the avro schema itself, and
    // the spec-required key-value metadata in the avro header
    val (lschema, lrows, lmeta) =
      readAvro("metadata/manifest-list-snap-3.avro")
    assert(lmeta.get("format-version").contains("2") &&
      lmeta.get("snapshot-id").contains("3") &&
      lmeta.get("parent-snapshot-id").contains("2"),
      s"manifest-list avro metadata incomplete: $lmeta")
    assert(lschema.getField("manifest_path").getObjectProp("field-id")
      == 500, "manifest_path lacks its Iceberg field-id")
    assert(lschema.getField("added_snapshot_id").getObjectProp("field-id")
      == 503)
    assert(lrows.map(_.get("sequence_number").asInstanceOf[Long])
      == Vector(1L, 2L, 3L))
    lrows.foreach { r =>
      val mp = r.get("manifest_path").toString
      assert(mp.startsWith("file:"), s"manifest_path not a full URI: $mp")
      assert(graft.sources.IngestOps.fsExists(spark, mp),
        s"dangling manifest pointer $mp")
      assert(r.get("manifest_length").asInstanceOf[Long] > 0L)
    }
    // snapshot 1's manifest: entries equal the text manifest's file
    // set, and record counts equal the stats sidecar per file
    val (eschema, erows, emeta) = readAvro("metadata/manifest-snap-1.avro")
    // the manifest's avro header carries the spec-required properties a
    // HadoopCatalog reader resolves before touching rows — schema is
    // the field-id'd table schema, content marks a DATA manifest
    assert(emeta.get("format-version").contains("2") &&
      emeta.get("content").contains("data") &&
      emeta.get("schema-id").contains("0") &&
      emeta.get("partition-spec-id").contains("0"),
      s"manifest avro metadata incomplete: $emeta")
    assert(emeta("schema").contains(""""id":5,"name":"day""""),
      "manifest avro schema property lacks the field-id'd table schema")
    assert(emeta("partition-spec").contains(""""transform":"identity""""),
      "manifest avro partition-spec property missing the identity spec")
    val dataFileSchema = eschema.getField("data_file").schema()
    assert(dataFileSchema.getField("file_path").getObjectProp("field-id")
      == 100)
    val txtFiles = graft.sources.IngestOps
      .readMetaLines(spark, root, "metadata/snap-1.txt")
      .map(rel => s"file:$root/data/$rel").toSet
    val avroFiles = erows.map(e => e.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("file_path").toString).toSet
    assert(avroFiles == txtFiles,
      "avro manifest and text manifest disagree on snapshot 1's files")
    val statsRows = graft.sources.IngestOps
      .readStatsManifest(spark, root, "snap-1.stats")
      .map(st => s"file:$root/data/${st.rel}" -> st.nRows).toMap
    erows.foreach { e =>
      val df = e.get("data_file")
        .asInstanceOf[org.apache.avro.generic.GenericRecord]
      val fp = df.get("file_path").toString
      assert(df.get("record_count") == statsRows(fp),
        s"record_count drifted from the stats sidecar for $fp")
      assert(e.get("status") == 1) // ADDED
      // identity partition tuple round-trips the path's day value
      val day = df.get("partition")
        .asInstanceOf[org.apache.avro.generic.GenericRecord].get("day")
      assert(fp.contains(s"day=$day/"), s"partition tuple wrong: $day")
    }
  }
}

/** A local filesystem under the `nodelete:` scheme whose deletes all
  * report failure (as a permission-restricted mount or an object store
  * may) — [[IngestSpec]] drives `writeMetaLines` through it. */
class DeleteRefusingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("nodelete:///")
  override def getScheme: String = "nodelete"
  override def delete(p: org.apache.hadoop.fs.Path,
      recursive: Boolean): Boolean = false
}
