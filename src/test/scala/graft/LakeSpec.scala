package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** Lake mutation surface (LakeOps) + bucketed-join layout (Joins):
  * copy-on-write isolation, changelog-read equivalence, exchange-free
  * co-located joins. */
class LakeSpec extends SparkSpecBase {

  /** (day partition → max file modification time) under a table root. */
  private def partMtimes(root: String): Map[Int, Long] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val b = Seq.newBuilder[(Int, Long)]
    while (it.hasNext) {
      val f = it.next()
      val s = f.getPath.toString
      if (s.endsWith(".parquet")) {
        val day = "day=(\\d+)/".r.findFirstMatchIn(s).get.group(1).toInt
        b += day -> f.getModificationTime
      }
    }
    b.result().groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
  }

  /** A MERGE commit's row accounting on `root`: each day 8-12 holds its
    * base rows plus one insert per even event_id, none of them twice. */
  private def assertMergeRows(root: String): Unit = {
    import spark.implicits._
    val merged = $"day".between(8, 12)
    val exp = sources.IngestOps.eventsWithParts(spark, sf).filter(merged)
      .groupBy($"day").agg(count(lit(1)) +
        count(when(pmod($"event_id", lit(2L)) === 0, 1)))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val got = sources.LakeOps.readCurrent(spark, root).filter(merged)
      .groupBy($"day").agg(count(lit(1)), countDistinct($"event_id"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(exp.nonEmpty && got == exp.map { case (d, n) => d -> (n, n) },
      s"merged days must hold base + inserts, none doubled: $got vs $exp")
  }

  test("merge_upsert rewrites ONLY day partitions 8-12; merged rows " +
      "carry doubled values and re-keyed inserts") {
    val rows = sources.LakeOps.mergeUpsert(spark, sf).collect()
    val mt = partMtimes(graft.sources.IngestOps.tmp("events_merge"))
    val (touched, untouched) = mt.partition(kv => kv._1 >= 8 && kv._1 <= 12)
    assert(touched.nonEmpty && untouched.nonEmpty)
    // copy-on-write: every untouched partition's files predate the rewrite
    assert(untouched.values.max < touched.values.min,
      s"untouched partitions were rewritten: $mt")
    val byDay = rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2))).toMap
    // inserts only land in the merged day range
    (6L to 14L).foreach { d =>
      val (_, nIns) = byDay(d)
      if (d >= 8 && d <= 12) assert(nIns > 0, s"day=$d expected inserts")
      else assert(nIns == 0, s"day=$d unexpected inserts")
    }
    assertMergeRows(graft.sources.IngestOps.tmp("events_merge"))
  }

  test("delete_where removes clicks from days 3-7 only, rewriting only " +
      "those partitions") {
    val rows = sources.LakeOps.deleteWhere(spark, sf).collect()
    val mt = partMtimes(graft.sources.IngestOps.tmp("events_delete"))
    val (touched, untouched) = mt.partition(kv => kv._1 >= 3 && kv._1 <= 7)
    assert(touched.nonEmpty && untouched.nonEmpty)
    assert(untouched.values.max < touched.values.min,
      s"untouched partitions were rewritten: $mt")
    rows.foreach { r =>
      val (day, nClicks) = (r.getLong(0), r.getLong(2))
      if (day >= 3 && day <= 7)
        assert(nClicks == 0, s"day=$day still has $nClicks clicks")
      else assert(nClicks > 0, s"day=$day lost its clicks")
    }
  }

  test("incremental_read of snapshot 3 equals a direct day-11..15 scan " +
      "and the snapshot-3 manifest holds only day-11..15 files") {
    import spark.implicits._
    val got = sources.LakeOps.incrementalRead(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exp = sources.IngestOps.eventsWithParts(spark, sf)
      .filter($"day".between(11, 15))
      .groupBy($"day".cast("long").as("day"))
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"))
      .orderBy($"day").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sameElements(exp))
    val root = sources.IngestOps.snapshotLayout(spark, sf)
    val rels = sources.IngestOps.snapshotManifest(spark, root, 3)
    assert(rels.nonEmpty)
    rels.foreach { rel =>
      val day = "day=(\\d+)/".r.findFirstMatchIn(rel).get.group(1).toInt
      assert(day >= 11 && day <= 15, s"snapshot-3 manifest leaked $rel")
    }
  }

  test("partition_evolve: hour predicate opens no hour>=6 directory in " +
      "the evolved region, and v1 files are untouched by the evolution") {
    import spark.implicits._
    val (v1, v2) = sources.LakeOps.partitionEvolveLayout(spark, sf)
    val v1Mtime = partMtimes(v1).values.max
    // the evolved-region query prunes hour directories: every file the
    // scan opens sits under hour<6
    val files = spark.read.parquet(v2)
      .filter($"day".between(11, 12) && $"hour" < 6)
      .select(input_file_name().as("f")).distinct().collect()
      .map(_.getString(0))
    assert(files.nonEmpty)
    files.foreach { f =>
      val h = "hour=(\\d+)/".r.findFirstMatchIn(f).get.group(1).toInt
      val d = "day=(\\d+)/".r.findFirstMatchIn(f).get.group(1).toInt
      assert(h < 6 && d >= 11 && d <= 12, s"pruning leak: $f")
    }
    // writing the v2 region must not have rewritten any v1 file
    assert(partMtimes(v1).values.max == v1Mtime)
    val rows = sources.LakeOps.partitionEvolve(spark, sf).collect()
    assert(rows.map(_.getLong(0)).sameElements(Array(9L, 10L, 11L, 12L)))
  }

  test("zorder_cluster_write: a day-band predicate touches at most half " +
      "the files of the z-ordered layout but nearly all of the 1-D sort") {
    import spark.implicits._
    val ev = sources.IngestOps.eventsWithParts(spark, sf)
    val zOut = graft.sources.IngestOps.tmp("spec_zorder")
    val sOut = graft.sources.IngestOps.tmp("spec_usersorted")
    sources.IngestOps.zorderWrite(ev, zOut, nFiles = 16)
    ev.repartitionByRange(16, $"user_id")
      .sortWithinPartitions($"user_id", $"ts")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(sOut)
    def filesMatching(root: String): Long =
      spark.read.parquet(root).filter($"day".between(3, 4))
        .select(input_file_name().as("f")).distinct().count()
    val (zF, sF) = (filesMatching(zOut), filesMatching(sOut))
    // user-sorted layout scatters a day band across (nearly) every file;
    // the z-order curve confines it to the day-bit subtree
    assert(zF * 2 <= sF, s"z-order files=$zF vs user-sorted files=$sF")
    // and the z layout still serves a user band without a full scan
    val uF = spark.read.parquet(zOut)
      .filter($"user_id" <= 2).select(input_file_name().as("f"))
      .distinct().count()
    assert(uF < 16, s"user-band touched every z file ($uF)")
  }

  test("update_where rewrites ONLY day partitions 3-7; purchase counts " +
      "unchanged, purchase values scaled") {
    val rows = sources.LakeOps.updateWhere(spark, sf).collect()
    val mt = partMtimes(graft.sources.IngestOps.tmp("events_update"))
    val (touched, untouched) = mt.partition(kv => kv._1 >= 3 && kv._1 <= 7)
    assert(touched.nonEmpty && untouched.nonEmpty)
    assert(untouched.values.max < touched.values.min,
      s"untouched partitions were rewritten: $mt")
    // an UPDATE never changes cardinality — every day keeps its rows
    rows.foreach { r => assert(r.getLong(1) > 0 && r.getLong(2) > 0) }
  }

  test("merge_upsert_evolve: untouched partitions keep narrow footers " +
      "untouched; v1 rows surface NULL in the evolved column") {
    import spark.implicits._
    val rows = sources.LakeOps.mergeUpsertEvolve(spark, sf).collect()
    val out = graft.sources.IngestOps.tmp("events_merge_evolve")
    // only the merge-touched days were rewritten
    val mt = partMtimes(out)
    val (touched, untouched) = mt.partition(kv => kv._1 >= 8 && kv._1 <= 12)
    assert(touched.nonEmpty && untouched.nonEmpty)
    assert(untouched.values.max < touched.values.min,
      s"schema evolution rewrote untouched partitions: $mt")
    // the copy-on-write commit replaced the touched days' rows
    assertMergeRows(out)
    // untouched footers never learned the new column; touched ones did
    val L = sources.LakeOps
    val main = L.readRefs(spark, out)("main")
    def dayRead(d: Int) = spark.read.option("basePath", s"$out/data").parquet(
      L.liveFiles(spark, out, 1 to main).filter(_.startsWith(s"day=$d/"))
        .map(rel => s"$out/data/$rel"): _*)
    assert(!dayRead(3).columns.contains("origin"),
      "an untouched partition was rewritten with the evolved schema")
    assert(dayRead(9).columns.contains("origin"),
      "a touched partition did not adopt the evolved schema")
    // the unified read: v1 rows are NULL in origin, update rows carry it
    val unified = L.readCurrent(spark, out)
    assert(unified.filter($"day" < 8 && $"origin".isNotNull).count() == 0,
      "a pre-evolution row carries a non-NULL evolved column")
    assert(unified.filter($"origin" === "cdc").count() > 0)
    rows.foreach { r =>
      val (day, nOrigin, nInserted) =
        (r.getLong(0), r.getLong(2), r.getLong(3))
      if (day >= 8 && day <= 12)
        assert(nOrigin > 0, s"day=$day lost its merged origin rows")
      else assert(nOrigin == 0 && nInserted == 0,
        s"day=$day outside the merge range carries evolved rows")
    }
  }

  test("merge_upsert_evolve: readCurrent serves the committed widened " +
      "schema — origin is a column of the table, NULL on every row of an " +
      "untouched day") {
    import spark.implicits._
    sources.LakeOps.mergeUpsertEvolve(spark, sf).collect()
    val cur = sources.LakeOps.readCurrent(spark,
      graft.sources.IngestOps.tmp("events_merge_evolve"))
    assert(cur.columns.contains("origin"),
      s"readCurrent lost the evolved column: ${cur.columns.mkString(",")}")
    val untouched = cur.filter(!$"day".between(8, 12))
    assert(untouched.count() > 0)
    assert(untouched.filter($"origin".isNotNull).count() == 0,
      "an untouched-day row carries a non-NULL origin")
    assert(cur.filter($"day".between(8, 12) && $"origin" === "cdc")
      .count() > 0, "the merged days lost their origin values")
  }

  test("expire_snapshots opens each of its 5 snapshot manifests once") {
    import scala.jdk.CollectionConverters._
    val out = graft.sources.IngestOps.tmp("events_expire_opens")
    sources.LakeOps.cloneTree(sources.LakeOps.expireBaseLayout(spark, sf), out)
    spark.sparkContext.hadoopConfiguration.set("fs.opencount.impl",
      classOf[OpenCountingFileSystem].getName)
    OpenCountingFileSystem.opens.clear()
    val rows = sources.LakeOps.expireAt(spark,
      s"${OpenCountingFileSystem.Scheme}://$out").collect()
    val opens = OpenCountingFileSystem.opens.asScala.toMap.collect {
      case (p, n) if p.startsWith(s"$out/metadata/snap-") =>
        p.stripPrefix(s"$out/") -> n.intValue
    }
    assert(opens == (1 to 5).map(n => s"metadata/snap-$n.txt" -> 1).toMap,
      s"opened: $opens")
    assert(rows.toSeq == sources.LakeOps.expireSnapshots(spark, sf)
      .collect().toSeq)
  }

  test("expire_snapshots is ref-aware: unreachable files are deleted, " +
      "tag-pinned files survive, and the tag still answers afterwards") {
    import spark.implicits._
    sources.LakeOps.expireSnapshots(spark, sf).collect()
    val root = graft.sources.IngestOps.tmp("events_expire")
    val p = new Path(s"$root/data")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = {
      val it = fs.listFiles(p, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val s = it.next().getPath.toString
        if (s.endsWith(".parquet"))
          b += s.substring(s.lastIndexOf("/data/") + 6)
      }
      b.result()
    }
    // reachable = current live (main@5) ∪ the v1 tag's pinned view
    val live = sources.LakeOps.liveFiles(spark, root, 1 to 5).toSet
    val pinned = sources.LakeOps.liveFiles(spark, root, Seq(1)).toSet
    assert(onDisk == live ++ pinned,
      s"disk != reachable: disk=${onDisk.size} live=${live.size} " +
        s"pinned=${pinned.size}")
    // snapshot 2's superseded originals are reachable from NO ref — the
    // only truly unreachable files, and exactly the ones reclaimed
    val snap2 = graft.sources.IngestOps
      .readMetaLines(spark, root, "metadata/snap-2.txt").toSet
    assert(snap2.nonEmpty && (snap2 & onDisk).isEmpty,
      "unreachable snapshot-2 originals were not reclaimed")
    // the pinned fragments were replaced in the CURRENT view by the
    // snap-4 compaction, but the tag keeps them alive
    assert(pinned.nonEmpty && (pinned & live).isEmpty && pinned.subsetOf(onDisk),
      "tag-pinned fragments were deleted by expiry")
    // and the tag still reads green: its view equals a source recompute
    val tagRows = spark.read.option("basePath", s"$root/data")
      .parquet(pinned.toSeq.map(rel => s"$root/data/$rel"): _*)
      .groupBy($"day".cast("long").as("day"))
      .agg(count(lit(1)).as("n"), graft.operators.dsum($"value").as("sv"))
      .orderBy($"day").collect()
    val direct = graft.sources.IngestOps.eventsWithParts(spark, sf)
      .filter($"day".between(1, 5))
      .groupBy($"day".cast("long").as("day"))
      .agg(count(lit(1)).as("n"), graft.operators.dsum($"value").as("sv"))
      .orderBy($"day").collect()
    assert(tagRows.toSeq == direct.toSeq,
      "tag read diverged after expiry")
    // expiry is recorded in METADATA too (the Iceberg contract): the
    // snapshots whose as-of views lost files are marked expired, and
    // time travel to them errors cleanly at plan time instead of
    // dangling into FileNotFound mid-scan
    val expired = graft.sources.IngestOps
      .readMetaLines(spark, root, "metadata/expired.txt").map(_.toInt)
    assert(expired.nonEmpty && expired.forall(Set(2, 3, 4)),
      s"expected the unpinned middle snapshots expired, got $expired")
    expired.headOption.foreach { s =>
      val e = intercept[IllegalStateException] {
        sources.LakeOps.readLiveCompacted(spark, root, s)
      }
      assert(e.getMessage.contains("expired"), e.getMessage)
    }
  }

  test("copy-on-write rewrite drops a partition whose every row was " +
      "deleted — dynamic overwrite alone would keep its stale file") {
    import spark.implicits._
    val L = sources.LakeOps
    val out = graft.sources.IngestOps.tmp("events_cow_empty")
    val fs = new Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(out), true)
    L.appendCommit(spark, out,
      Seq((1L, 1, "a"), (2L, 1, "b"), (3L, 2, "a"), (4L, 2, "a"))
        .toDF("event_id", "day", "event_type"))
    // the delete's predicate empties day=2 entirely and thins day=1
    val base = L.readCurrent(spark, out)
    val doomed = $"event_type" === "a"
    val survivors = base.filter(!doomed)
    assert(L.rewriteDays(spark, out, 1, survivors, Seq(1, 2)) == 2)
    val live = L.liveFiles(spark, out, 1 to L.readRefs(spark, out)("main"))
    assert(live.nonEmpty && !live.exists(_.startsWith("day=2/")),
      s"emptied partition's stale files survived the delete: $live")
    val back = L.readCurrent(spark, out).collect()
    assert(back.map(_.getLong(0)).toSet == Set(2L),
      s"wrong survivors: ${back.mkString(",")}")
  }

  test("rollback_snapshot: abandoned snapshot-3 files stay on disk but " +
      "are never opened by the live read") {
    import spark.implicits._
    val df = sources.LakeOps.rollbackSnapshot(spark, sf)
    val root = graft.sources.IngestOps.tmp("events_rollback")
    val snap3 = sources.LakeOps.liveFiles(spark, root, Seq(3)).toSet
    assert(snap3.nonEmpty)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    snap3.foreach { rel =>
      assert(fs.exists(new Path(s"$root/data/$rel")),
        s"retention window violated: $rel deleted")
    }
    // re-run the live read tagged with file provenance
    val opened = spark.read.option("basePath", s"$root/data").parquet(
        sources.LakeOps.liveFiles(spark, root, Seq(1, 2, 4))
          .map(r => s"$root/data/$r"): _*)
      .select(regexp_extract(input_file_name(), "/data/(.*)$", 1).as("f"))
      .distinct().as[String].collect().toSet
    assert(opened.intersect(snap3).isEmpty,
      s"rolled-back snapshot files were read: ${opened.intersect(snap3)}")
    assert(df.collect().map(_.getLong(0)).max == 12L)
  }

  test("wap_publish: the staged snapshot is invisible to the pre-publish " +
      "pointer; publish moves the pointer after the audit passes") {
    val df = sources.LakeOps.wapPublish(spark, sf)
    val root = graft.sources.IngestOps.tmp("events_wap")
    val refs = sources.LakeOps.readRefs(spark, root)
    assert(refs("main") == 4, s"audit passed but main is at ${refs("main")}")
    assert(refs("audit") == 4)
    // the pre-publish view (snapshots 1-3) never references staged files
    val preLive = sources.LakeOps.liveFiles(spark, root, Seq(1, 2, 3))
    assert(preLive.nonEmpty &&
      !preLive.exists(_.matches("day=1[678]/.*")), s"staged leak: $preLive")
    val maxDayPre = spark.read.option("basePath", s"$root/data")
      .parquet(preLive.map(r => s"$root/data/$r"): _*)
      .agg(max("day")).head.getInt(0)
    assert(maxDayPre == 15,
      s"pre-publish reader saw staged data (max day $maxDayPre)")
    // the staged snapshot is exactly the day 16-18 delta
    val staged = sources.LakeOps.liveFiles(spark, root, Seq(4))
    assert(staged.nonEmpty && staged.forall(_.matches("day=1[678]/.*")),
      s"unexpected staged files: $staged")
    assert(df.collect().map(_.getLong(0)).max == 18L)
  }

  test("wap audit failure: corrupted staged data leaves the pointer at 3 " +
      "and readers never see the staged days") {
    val df = sources.LakeOps.wapRun(spark, sf, corrupt = true)
    val root = graft.sources.IngestOps.tmp("events_wap_fail")
    val refs = sources.LakeOps.readRefs(spark, root)
    assert(refs("main") == 3,
      s"corrupt stage was published (main at ${refs("main")})")
    // the staged branch exists — on disk and as a ref — but main's live
    // view excludes it
    assert(refs("audit") == 4)
    assert(sources.LakeOps.liveFiles(spark, root, Seq(4)).nonEmpty)
    val days = df.collect().map(_.getLong(0))
    assert(days.nonEmpty && days.max == 15L,
      s"reader saw staged days: ${days.mkString(",")}")
  }

  test("delete_mor rewrites NO data files: the delete commit is one " +
      "tiny key file, and the read equals the copy-on-write answer") {
    import spark.implicits._
    val morRows = sources.LakeOps.deleteMor(spark, sf).collect()
    val root = graft.sources.IngestOps.tmp("events_mor")
    val del = graft.sources.IngestOps.tmp("events_mor_deletes")
    // every data file predates the delete file: nothing was rewritten
    val dataMts = partMtimes(root)
    val fs = new Path(del).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val delFiles = {
      val it = fs.listFiles(new Path(del), true)
      val b = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.toString.endsWith(".parquet")) b += f
      }
      b.result()
    }
    assert(delFiles.size == 1, s"expected 1 delete file, ${delFiles.size}")
    assert(dataMts.values.max <= delFiles.head.getModificationTime,
      "a data file was rewritten by the merge-on-read delete")
    // the delete file holds exactly the doomed keys, nothing more
    val doomed = sources.LakeOps.readCurrent(spark, root)
      .filter($"event_type" === "click" && $"day".between(3, 7)).count()
    assert(spark.read.parquet(del).count() == doomed && doomed > 0)
    // same answer as the copy-on-write spelling
    val cowRows = sources.LakeOps.deleteWhere(spark, sf).collect()
    assert(morRows.toSeq == cowRows.toSeq)
  }

  test("delete_mor_pos addresses rows by physical position: the delete " +
      "file is (file_path, row_index) pairs and no data file is rewritten") {
    import org.apache.spark.sql.functions._
    val rows = sources.LakeOps.deleteMorPos(spark, sf).collect()
    val root = graft.sources.IngestOps.tmp("events_mor_pos")
    val del = graft.sources.IngestOps.tmp("events_mor_pos_deletes")
    val delDf = spark.read.parquet(del)
    assert(delDf.columns.toSeq == Seq("d_file", "d_pos"))
    val doomed = sources.LakeOps.readCurrent(spark, root)
      .filter(col("event_type") === "view" && col("day").between(4, 6))
      .count()
    assert(delDf.count() == doomed && doomed > 0)
    // positions are per-file unique — a delete file never addresses the
    // same physical row twice
    assert(delDf.distinct().count() == doomed)
    // the position-delete read equals the plain filtered aggregate
    val direct = sources.LakeOps.readCurrent(spark, root)
      .filter(!(col("event_type") === "view" && col("day").between(4, 6)))
      .filter(col("day").between(1, 10))
      .groupBy(col("day").cast("long").as("day"))
      .agg(count(lit(1)).as("n"),
        count(when(col("event_type") === "view", 1)).as("n_views"),
        graft.operators.dsum(col("value")).as("sum_value"))
      .orderBy(col("day")).collect()
    assert(rows.toSeq == direct.toSeq)
  }

  test("delete_mor_dv: the delete is one compressed bitmap per file — " +
      "no data file rewritten, answer equals copy-on-write, and a wide " +
      "delete's DV bytes are a fraction of the pair-file spelling") {
    import spark.implicits._
    val rows = sources.LakeOps.deleteMorDv(spark, sf).collect()
    val root = graft.sources.IngestOps.tmp("events_mor_dv")
    val dv = graft.sources.IngestOps.tmp("events_mor_dv_vectors")
    def parquetFiles(p: String) = {
      val path = new Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(path, true)
      val b = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.toString.endsWith(".parquet")) b += f
      }
      b.result()
    }
    // the DV commit rewrote no data file
    assert(partMtimes(root).values.max <=
      parquetFiles(dv).map(_.getModificationTime).min,
      "a data file was rewritten by the deletion-vector delete")
    // sidecar cardinality = touched data files, never doomed rows; the
    // recorded cardinalities reconcile with the doomed count
    val dvDf = spark.read.parquet(dv)
    val base = sources.LakeOps.readCurrent(spark, root)
    val doomedPred = col("event_type") =!= "purchase" &&
      col("day").between(3, 8)
    val touched = base.filter(doomedPred)
      .select(col("_metadata.file_path")).distinct().count()
    val doomed = base.filter(doomedPred).count()
    assert(dvDf.count() == touched && touched > 0)
    assert(dvDf.agg(sum($"n_deleted")).head.getLong(0) == doomed)
    // the DV read equals the plain filtered aggregate
    val direct = base.filter(!doomedPred)
      .filter(col("day").between(1, 10))
      .groupBy(col("day").cast("long").as("day"))
      .agg(count(lit(1)).as("n"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
        graft.operators.dsum(col("value")).as("sum_value"))
      .orderBy(col("day")).collect()
    assert(rows.toSeq == direct.toSeq)
    // the wide-delete economics: one 200k-row file, a 150k-row doomed
    // span (retention purge shape). The pair-file spelling writes a row
    // per doomed position; the DV collapses the span to a handful of
    // runs. Require a ≥10× gap, not a whisker.
    val wideRoot = graft.sources.IngestOps.tmp("dv_wide_base")
    val wideDv = graft.sources.IngestOps.tmp("dv_wide_vectors")
    val widePairs = graft.sources.IngestOps.tmp("dv_wide_pairs")
    spark.range(200000).select($"id", ($"id" % 1000).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(wideRoot)
    val doomedWide = spark.read.parquet(wideRoot)
      .filter($"id" >= 25000 && $"id" < 175000)
      .select($"_metadata.file_path".as("file"),
        $"_metadata.row_index".as("pos"))
    sources.LakeOps.writeDeletionVectors(spark, doomedWide, wideDv)
    doomedWide.withColumnRenamed("file", "d_file")
      .withColumnRenamed("pos", "d_pos")
      .coalesce(1).write.mode("overwrite").parquet(widePairs)
    val dvBytes = parquetFiles(wideDv).map(_.getLen).sum
    val pairBytes = parquetFiles(widePairs).map(_.getLen).sum
    assert(dvBytes * 10 < pairBytes,
      s"DV sidecar ($dvBytes B) should be a fraction of the pair file " +
        s"($pairBytes B) for a wide delete")
    // and the DV read serves exactly the survivors
    val (survivors, dvB) = sources.LakeOps
      .readWithDeletionVectors(spark, spark.read.parquet(wideRoot), wideDv)
    try {
      assert(survivors.count() == 50000)
      assert(survivors
        .filter($"id" >= 25000 && $"id" < 175000).count() == 0)
    } finally dvB.destroy()
  }

  test("manifest_rewrite compacts planning to one manifest without " +
      "touching data or history") {
    import spark.implicits._
    val rows = sources.LakeOps.manifestRewrite(spark, sf).collect()
    val root = graft.sources.IngestOps.tmp("events_manifest_rw")
    // the full manifest lists exactly the pre-rewrite live set, and the
    // compacted read plans from it alone
    val full = graft.sources.IngestOps
      .snapshotManifest(spark, root, 4).toSet
    assert(full == sources.LakeOps.liveFiles(spark, root, 1 to 3).toSet)
    // no data file was touched by the metadata commit
    val mt = partMtimes(s"$root/data")
    val metaMt = new Path(s"$root/metadata/snap-4.txt")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(new Path(s"$root/metadata/snap-4.txt"))
      .getModificationTime
    assert(mt.values.max <= metaMt, "a data file changed under rewrite")
    // history intact: time travel to snapshot 2 still answers days 1-10
    val asOf2 = spark.read.option("basePath", s"$root/data").parquet(
        sources.LakeOps.liveFiles(spark, root, 1 to 2)
          .map(r => s"$root/data/$r"): _*)
      .select($"day").distinct().collect().map(_.getInt(0)).sorted
    assert(asOf2.toSeq == (1 to 10))
    // the compacted answer equals the delta-union answer
    val direct = sources.LakeOps.readLiveCompacted(spark, root, 3)
      .filter($"day".between(1, 15))
      .groupBy($"day".cast("long").as("day"))
      .agg(count(lit(1)).as("n"),
        graft.operators.dsum($"value").as("sum_value"))
      .orderBy($"day").collect()
    assert(rows.toSeq == direct.toSeq)
  }

  test("table_clone is zero-copy: creation moves no data bytes, the " +
      "source stays untouched, and the clone evolves independently") {
    import spark.implicits._
    val srcRoot = graft.sources.IngestOps.snapshotLayout(spark, sf)
    val srcBefore = partMtimes(s"$srcRoot/data")
    val rows = sources.LakeOps.tableClone(spark, sf).collect()
    val clone = graft.sources.IngestOps.tmp("events_clone")
    // the clone's own storage holds ONLY the evolved days (16-17): the
    // inherited days 1-15 contributed zero copied bytes
    val local = graft.sources.IngestOps.listDataFiles(spark, s"$clone/data")
    assert(local.nonEmpty)
    local.foreach { rel =>
      val d = "day=(\\d+)/".r.findFirstMatchIn(rel).get.group(1).toInt
      assert(d >= 16 && d <= 17, s"clone copied inherited data: $rel")
    }
    // the source is byte-for-byte untouched by clone + evolution
    assert(partMtimes(s"$srcRoot/data") == srcBefore,
      "source table files changed under a shallow clone")
    // the clone serves inherited + local days as one table
    val days = rows.map(_.getLong(0))
    assert(days.toSeq == (1L to 17L))
    // day stays a PARTITION column through the clone read: a day=16
    // predicate prunes at planning and opens ONLY clone-local day-16
    // files — no base-era file, no other local day
    val opened = sources.LakeOps.cloneRead(spark, clone)
      .filter($"day" === 16)
      .select(input_file_name().as("f")).distinct().as[String].collect()
    assert(opened.nonEmpty)
    opened.foreach { f =>
      assert(f.contains("/events_clone/data/") && f.contains("day=16/"),
        s"clone day=16 query opened a non-pruned file: $f")
    }
  }

  test("compact_mor folds the delete file into ONLY the affected " +
      "partitions, removes it, and the plain scan equals the MoR answer") {
    import spark.implicits._
    val rows = sources.LakeOps.compactMor(spark, sf).collect()
    val root = graft.sources.IngestOps.tmp("events_mor_compact")
    val del = graft.sources.IngestOps.tmp("events_mor_compact_deletes")
    // the delete file is gone: the table is pure data files again
    assert(!new java.io.File(del).exists,
      "delete file survived compaction")
    // copy-on-write compaction: only partitions holding doomed rows were
    // rewritten; every other file predates the rewrite
    val mt = partMtimes(root)
    val (touched, untouched) = mt.partition(kv => kv._1 >= 5 && kv._1 <= 9)
    assert(touched.nonEmpty && untouched.nonEmpty)
    assert(untouched.values.max < touched.values.min,
      s"untouched partitions were rewritten: $mt")
    // the deletes are folded in: no purchases survive days 5-9, and the
    // compacted table still answers through a PLAIN scan (compactMor's
    // final read has no join)
    rows.foreach { r =>
      val (day, nPurch) = (r.getLong(0), r.getLong(2))
      if (day >= 5 && day <= 9)
        assert(nPurch == 0, s"day=$day still has $nPurch purchases")
      else assert(nPurch > 0, s"day=$day lost its purchases")
    }
    // row accounting: compacted table = source minus exactly the doomed
    // rows, and not a single doomed row survives anywhere in it
    val src = sources.IngestOps.eventsWithParts(spark, sf)
    val doomed = src
      .filter($"event_type" === "purchase" && $"day".between(5, 9)).count()
    val table = sources.LakeOps.readCurrent(spark, root)
    assert(doomed > 0)
    assert(table.count() == src.count() - doomed)
    assert(table.filter($"event_type" === "purchase" &&
      $"day".between(5, 9)).count() == 0)
  }

  test("commit_conflict_retry: the losing writer's CAS fails on the " +
      "taken slot and its retry lands on the next snapshot") {
    val rows = sources.LakeOps.commitConflictRetry(spark, sf).collect()
    val root = graft.sources.IngestOps.tmp("events_occ")
    val snap4 = sources.LakeOps.liveFiles(spark, root, Seq(4)).toSet
    val snap5 = sources.LakeOps.liveFiles(spark, root, Seq(5)).toSet
    assert(snap4.nonEmpty && snap5.nonEmpty)
    assert(snap4.intersect(snap5).isEmpty, "a file double-committed")
    assert(snap4.forall(_.startsWith("day=16/")) &&
      snap5.forall(_.startsWith("day=17/")), (snap4, snap5))
    // a CAS on an occupied slot must fail without disturbing it
    val before = sources.LakeOps.liveFiles(spark, root, Seq(5))
    assert(!sources.LakeOps.tryCommit(spark, root, 5, Seq("bogus")))
    assert(sources.LakeOps.liveFiles(spark, root, Seq(5)) == before)
    assert(rows.map(_.getLong(0)).toSeq == Seq(14L, 15L, 16L, 17L))
  }

  test("branch_read: the audit branch carries the staged commit while " +
      "main readers never open its files until the ref moves") {
    import org.apache.spark.sql.functions._
    val rows = sources.LakeOps.branchRead(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rows == Map("audit" -> 18L, "main" -> 15L, "v1" -> 10L), rows)
    val root = sources.LakeOps.branchesLayout(spark, sf)
    val refs = sources.LakeOps.readRefs(spark, root)
    assert(refs == Map("main" -> 3, "audit" -> 4, "v1" -> 2), refs)
    // main's plan never opens the audit branch's staged files
    val staged = sources.LakeOps.liveFiles(spark, root, Seq(4)).toSet
    assert(staged.nonEmpty)
    val mainRels = sources.LakeOps
      .liveFiles(spark, root, 1 to refs("main"))
    val opened = spark.read.option("basePath", s"$root/data")
      .parquet(mainRels.map(r => s"$root/data/$r"): _*)
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
      .map(f => f.substring(f.lastIndexOf("/data/") + 6)).toSet
    assert(opened.nonEmpty && opened.intersect(staged).isEmpty,
      s"main read touched staged files: ${opened.intersect(staged)}")
    // moving the ref is all it takes to publish: fast-forward main and
    // the same by-name read now serves the staged days (on a copy: the
    // layout is shared)
    val copy = graft.sources.IngestOps.tmp("events_branches")
    sources.LakeOps.cloneTree(root, copy)
    sources.LakeOps.setRef(spark, copy, "main", 4)
    val after = sources.LakeOps.readRefs(spark, copy)("main")
    assert(after == 4)
  }

  test("stream_cdf_read streams only the files snapshot 3 committed — " +
      "earlier snapshots' files never enter the stream") {
    import org.apache.spark.sql.functions._
    val (stream, root) = streaming.StreamingOps.cdfStream(spark, sf)
    val deltaRels = sources.IngestOps.snapshotManifest(spark, root, 3).toSet
    val earlier = (1 to 2)
      .flatMap(n => sources.IngestOps.snapshotManifest(spark, root, n)).toSet
    assert(deltaRels.nonEmpty && earlier.nonEmpty)
    val queryName = s"cdf_files_${System.nanoTime()}"
    val q = stream.select(input_file_name().as("f")).dropDuplicates("f")
      .writeStream.outputMode("append").format("memory")
      .queryName(queryName).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(queryName).collect().map(_.getString(0))
      .map(f => f.substring(f.lastIndexOf("/data/") + 6)).toSet
    assert(streamed == deltaRels,
      s"stream saw ${streamed.size} files, manifest lists ${deltaRels.size}")
    assert(streamed.intersect(earlier).isEmpty)
  }

  test("stream_resume_checkpoint is exactly-once across restarts: the " +
      "resumed stream processes only unseen files; an idle restart adds " +
      "zero rows") {
    import org.apache.spark.sql.functions._
    streaming.StreamingOps.streamResumeCheckpoint(spark, sf).collect()
    val src = graft.sources.IngestOps.tmp("stream_resume_src")
    val sink = graft.sources.IngestOps.tmp("stream_resume_sink")
    val cp = graft.sources.IngestOps.tmp("stream_resume_cp")
    val ev = sources.IngestOps.eventsWithParts(spark, sf)
    val exp15 = ev.filter(col("day").between(1, 5)).count()
    val exp18 = ev.filter(col("day").between(1, 8)).count()
    // after both drains the sink holds each input row exactly once
    assert(spark.read.parquet(sink).count() == exp18)
    assert(spark.read.parquet(sink)
      .filter(col("day") <= 5).count() == exp15)
    // a third restart with NO new input must add nothing
    val schema = spark.read.parquet(src).schema
    streaming.StreamingOps.drainResumeOnce(spark, src, sink, cp, schema)
    assert(spark.read.parquet(sink).count() == exp18,
      "an idle restart reprocessed seen files")
  }

  test("stream_upsert_sink: the micro-batch merge rewrites only day " +
      "partitions 8-12; day-11/12 rows are the inserted corrections") {
    val rows = streaming.StreamingOps.streamUpsertSink(spark, sf).collect()
    val mt = partMtimes(graft.sources.IngestOps.tmp("events_stream_upsert"))
    val (touched, untouched) = mt.partition(kv => kv._1 >= 8 && kv._1 <= 12)
    assert(touched.nonEmpty && untouched.nonEmpty)
    assert(untouched.values.max < touched.values.min,
      s"micro-batch merge rewrote untouched partitions: $mt")
    rows.foreach { r =>
      val (day, n, nPurch) = (r.getLong(0), r.getLong(1), r.getLong(2))
      if (day >= 11) assert(n == nPurch,
        s"day=$day should hold only inserted purchase corrections")
      else assert(n > nPurch, s"day=$day lost its non-purchase rows")
    }
  }

  test("stream_upsert_mor: micro-batches never touch a base byte; the " +
      "MoR read equals the CoW merge; compaction folds the sidecars") {
    import spark.implicits._
    val (base, delta, deletes) =
      streaming.StreamingOps.streamUpsertMorRun(spark, sf)
    // base immutability: every base file predates every sidecar file —
    // the stream committed appends only, no partition heat mattered
    val p = new Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mts(path: String): Seq[Long] = {
      val it = fs.listFiles(new Path(path), true)
      val b = Seq.newBuilder[Long]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.toString.endsWith(".parquet"))
          b += f.getModificationTime
      }
      b.result()
    }
    val (baseMts, sideMts) = (mts(base), mts(delta) ++ mts(deletes))
    assert(baseMts.nonEmpty && sideMts.nonEmpty)
    assert(baseMts.max <= sideMts.min,
      "a micro-batch rewrote base data files")
    // the MoR read equals the copy-on-write merge computed directly
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .filter($"day".between(6, 12))
      .groupBy($"day".cast("long").as("day"))
      .agg(count(lit(1)).as("n"), graft.operators.dsum($"value").as("sv"))
      .orderBy($"day").collect().toSeq
    val morRows = agg(streaming.StreamingOps
      .morScan(spark, base, delta, deletes))
    val src = graft.sources.IngestOps.eventsWithParts(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"value", $"day")
    val upd = src.filter($"day".between(8, 12) &&
        $"event_type" === "purchase")
      .withColumn("value", $"value" + 1000.0)
    val cow = src.filter($"day".between(1, 10))
      .join(upd.select($"event_id"), Seq("event_id"), "left_anti")
      .unionByName(upd)
    assert(morRows == agg(cow), "MoR read diverged from the batch MERGE")
    // compaction folds delta+deletes into base and drops them; a PLAIN
    // scan then serves the same answer
    streaming.StreamingOps.compactStreamMor(spark, base, delta, deletes)
    assert(!new java.io.File(delta).exists, "delta survived compaction")
    assert(!new java.io.File(deletes).exists, "deletes survived compaction")
    assert(agg(sources.LakeOps.readCurrent(spark, base)) == morRows,
      "plain scan after compaction diverged from the MoR answer")
  }

  test("delete_mor_seq: the delete applies only below its sequence — " +
      "re-inserted keys survive where a naive anti-join kills them") {
    import spark.implicits._
    val rows = sources.LakeOps.deleteMorSeq(spark, sf).collect()
    val out = graft.sources.IngestOps.tmp("events_mor_seq")
    // the re-inserts landed on day 5 and nowhere else
    val day5 = rows.find(_.getLong(0) == 5L).get
    assert(day5.getLong(2) > 0, "re-inserted rows missing from day 5")
    rows.filter(_.getLong(0) != 5L)
      .foreach(r => assert(r.getLong(2) == 0,
        s"day=${r.getLong(0)} has re-inserts"))
    // the sequence-ignorant read applies the delete to ALL data and
    // silently kills the newer re-inserts — exactly the bug the
    // sequence-number contract exists to prevent
    val deletes = spark.read.parquet(s"$out/deletes")
    val naive = sources.LakeOps.readCurrent(spark, out)
      .join(broadcast(deletes), Seq("event_id"), "left_anti")
    assert(naive.filter($"event_type" === "reinserted").count() == 0,
      "naive read unexpectedly kept the re-inserts")
    val nDoomed = deletes.count()
    assert(nDoomed > 0 && day5.getLong(2) == nDoomed,
      "every doomed key must come back as exactly one re-insert")
  }

  test("bucket_point_lookup: the point predicate prunes to 1 of 8 " +
      "bucket files") {
    val q = operators.Joins.bucketPointLookup(spark, sf)
    val rows = q.collect()
    assert(rows.length == 1 && rows.head.getLong(1) > 0)
    val scan = fileScans(q.queryExecution.executedPlan).head
    val selected = scan.optionalBucketSet.map(_.cardinality())
    assert(selected.contains(1),
      s"bucket pruning inactive: selected buckets = $selected")
  }

  test("join_bucketed: no shuffle exchange anywhere below the " +
      "sort-merge join (bucket layout replaces both exchanges)") {
    val df = operators.Joins.joinBucketed(spark, sf)
    assert(df.count() > 0)
    def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
      case other => other +: other.children.flatMap(unwrap)
    }
    val nodes = unwrap(df.queryExecution.executedPlan)
    val smj = nodes.collectFirst { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, "expected a sort-merge join over bucketed tables")
    val below = unwrap(smj.get)
    assert(!below.exists(_.isInstanceOf[ShuffleExchangeLike]),
      s"shuffle under the bucketed join:\n${smj.get}")
  }

  // --- crash consistency: every commit killed at every step ----------
  // The atomic-commit contract under fault injection: a writer that dies
  // at ANY boundary of the choreography (data files landed / manifest
  // attempt written / manifest linked but ref unmoved) must leave the
  // default reader (follow `main`) bit-identical to the pre-commit view,
  // must never expose a torn snapshot to time travel, and must leave
  // only debris orphanSweep reclaims — after which a retried commit
  // lands exactly once. Three inputs run through the same kill points:
  // an append (appendCommit of day 16), a REPLACE commit compacting
  // snapshot 1's fragments with the fragments as its removal set, and a
  // copy-on-write DELETE (rewriteDays) of day 2's clicks, whose removal
  // set is day 2's live files. Both replace commits carry their removal
  // entries inside the linked manifest, so a kill before the link leaves
  // no removal behind.

  /** Order-independent exact fingerprint: (row count, multiset checksum
    * of event ids) — wrap-around addition is deterministic. */
  private def fingerprint(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val r = df.agg(count(lit(1)),
      sum(pmod(xxhash64(col("event_id")), lit(1000000007L)))).collect().head
    (r.getLong(0), r.getLong(1))
  }

  private case class Kill(step: String) extends RuntimeException(step)

  /** The schema records the linked snapshots (1-4) of `root` name. */
  private def namedRecords(root: String): Set[String] = (1 to 4)
    .filter(n => java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "metadata", s"snap-$n.txt")))
    .flatMap(n => sources.IngestOps.readMetaFile(spark, root,
      s"metadata/snap-$n.txt")._2.get("schema")).toSet

  for (input <- Seq("append", "replace", "cow", "evolve");
       kp <- Seq("staged", "data-written", "attempt-written", "linked"))
  test(input match {
    case "replace" => s"crash consistency of a replace commit at '$kp': " +
      "pinned and current readers unchanged, orphan sweep reclaims " +
      "exactly the debris, retry lands exactly once"
    case "cow" => s"crash consistency of a copy-on-write delete at '$kp': " +
      "pinned and current readers unchanged, orphan sweep reclaims " +
      "exactly the debris, retry lands exactly once"
    case "evolve" => "crash consistency of a column-adding append at " +
      s"'$kp': readers keep the old schema record or see the new one, " +
      "the sweep never removes a named record, retry lands exactly once"
    case _ => s"crash consistency at '$kp': reader stays on the old " +
      "snapshot, orphan sweep reclaims the debris, retry lands exactly once"
  }) {
    import spark.implicits._
    val L = sources.LakeOps
    val replace = input == "replace" || input == "cow"
    val out = sources.IngestOps.tmp(s"events_crash_" +
      (if (input != "append") s"${input}_" else "") + kp.replace('-', '_'))
    L.cloneTree(L.versionedBaseLayout(spark, sf), out)
    L.setRef(spark, out, "main", 3)
    val baseline = fingerprint(L.readCurrent(spark, out))
    val oldSchema = L.readCurrent(spark, out).schema
    val pinned = fingerprint(L.readLive(spark, out, Seq(1)))
    // the files the commit under test replaces
    val frag = input match {
      case "replace" => L.liveFiles(spark, out, Seq(1))
      case "cow" => L.liveFiles(spark, out, 1 to 3)
        .filter(_.startsWith("day=2/"))
      case _ => Nil
    }
    // the commit under test, and the (rows, checksum) it adds to the view
    val (commitWith, (addN, addSum)) = if (input == "cow") {
      val doomed = $"event_type" === "click" && $"day" === 2
      val current = L.readCurrent(spark, out)
      val (goneN, goneSum) = fingerprint(current.filter(doomed))
      assert(goneN > 0, "fixture must have day-2 clicks to delete")
      val survivors = current.filter($"day" === 2 && !doomed)
        .localCheckpoint()
      ((onStep: String => Unit) =>
        L.rewriteDays(spark, out, 3, survivors, Seq(2), onStep),
        (-goneN, -goneSum))
    } else if (replace) {
      // the retry of a replace commit that loses its slot is the
      // lost-slot test after this group
      val compacted = L.readLive(spark, out, Seq(1)).localCheckpoint()
      ((onStep: String => Unit) => L.commit(spark, out,
        L.stage(spark, out, onStep)(compacted.repartition($"day")),
        Some(L.Removal(3, frag)), onStep = onStep), (0L, 0L))
    } else {
      val rows = sources.IngestOps.eventsWithParts(spark, sf)
        .filter($"day" === 16)
        .select($"event_id", $"user_id", $"event_type", $"value", $"day")
      // the evolving append adds a column the table has never had
      val slice = (if (input == "evolve")
        rows.withColumn("origin", lit("evolved")) else rows).localCheckpoint()
      val sliceN = slice.count()
      assert(sliceN > 0, "fixture must have day-16 rows to append")
      val sliceSum = slice.agg(sum(pmod(xxhash64($"event_id"),
        lit(1000000007L)))).collect().head.getLong(0)
      ((onStep: String => Unit) =>
        L.appendCommit(spark, out, slice, onStep = onStep), (sliceN, sliceSum))
    }
    val dataBefore = sources.IngestOps.listDataFiles(spark, s"$out/data")
    intercept[Kill] {
      commitWith(s => if (s == kp) throw Kill(s))
    }
    // 1) the default reader is untouched at every kill point
    assert(fingerprint(L.readCurrent(spark, out)) == baseline,
      s"reader view changed after a writer died at $kp")
    assert(fingerprint(L.readLive(spark, out, Seq(1))) == pinned,
      s"snapshot-1 reader changed after a writer died at $kp")
    assert(L.readCurrent(spark, out).schema == oldSchema,
      s"reader schema changed after a writer died at $kp")
    val snap4 = java.nio.file.Paths.get(out, "metadata", "snap-4.txt")
    if (kp == "linked") {
      // the link is the linearization point: snapshot 4 exists and is
      // COMPLETE (time travel to it sees the full append), only the
      // ref move is missing — recovery rolls forward, sweep keeps all
      assert(java.nio.file.Files.exists(snap4))
      assert(fingerprint(L.readLive(spark, out, 1 to 4)) ==
        (baseline._1 + addN, baseline._2 + addSum),
        "linked snapshot must be complete, never torn")
      assert(L.orphanSweep(spark, out).isEmpty,
        "sweep must not reclaim files a linked manifest references")
      namedRecords(out).foreach(r => assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(out, "metadata", r)), s"record $r swept"))
      L.setRef(spark, out, "main", 4) // roll-forward recovery
    } else {
      // pre-link kills: slot 4 never exists, so time travel cannot
      // observe a torn snapshot; debris (the staging dir, published
      // data files, the CAS attempt file — by kill point) is sweepable
      assert(!java.nio.file.Files.exists(snap4),
        s"kill at $kp must not publish snapshot 4")
      val published = (sources.IngestOps.listDataFiles(spark, s"$out/data")
        -- dataBefore).map("data/" + _)
      // the one metadata debris an evolving append adds: the new schema
      // record, written just before its CAS attempt and named by nothing
      val newRecord =
        if (input == "evolve" && kp == "attempt-written") {
          val meta = new java.io.File(s"$out/metadata").list().toSet
          val unnamed = meta.filter(_.matches("schema-.*\\.json")) --
            namedRecords(out)
          assert(unnamed.size == 1, s"expected one new record: $unnamed")
          unnamed.map("metadata/" + _)
        } else Set.empty[String]
      val swept = L.orphanSweep(spark, out)
      namedRecords(out).foreach(r => assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(out, "metadata", r)), s"record $r swept"))
      if (kp == "staged")
        assert(swept.exists(_.startsWith(".stage-")),
          s"sweep after $kp must reclaim the staging dir: $swept")
      else
        assert(swept.exists(_.startsWith("data/")),
          s"sweep after $kp must reclaim the uncommitted data files: $swept")
      if (kp == "attempt-written")
        assert(swept.exists(_.contains(".attempt-")),
          s"sweep after $kp must reclaim the CAS attempt file: $swept")
      // and EXACTLY the debris: the published files, plus the schema
      // record an evolving append wrote before dying
      assert(swept.filter(_.startsWith("data/")).toSet == published,
        s"sweep after $kp must reclaim exactly the published files")
      assert(swept.filter(s => s.startsWith("metadata/") &&
        !s.contains(".attempt-")).toSet == newRecord,
        s"sweep after $kp reclaimed the wrong metadata: $swept")
      assert(fingerprint(L.readLive(spark, out, Seq(1))) == pinned,
        s"snapshot-1 reader changed by the sweep after $kp")
      assert(L.orphanSweep(spark, out).isEmpty, "sweep must converge")
      // retry of the SAME logical commit lands exactly once
      assert(commitWith(_ => ()) == 4)
    }
    assert(fingerprint(L.readCurrent(spark, out)) ==
      (baseline._1 + addN, baseline._2 + addSum),
      s"recovered table after $kp must hold the append exactly once")
    if (replace)
      assert(L.liveFiles(spark, out, 1 to 4).intersect(frag).isEmpty,
        s"recovered table after $kp still lists replaced fragments")
    // the recovered reader has exactly the committed record's schema: the
    // old one, or the evolving append's, which adds only its column
    val recovered = L.readCurrent(spark, out).schema
    assert(recovered == L.snapshotSchema(spark, out, 4).readSchema)
    assert(recovered.fieldNames.toSeq == (if (input == "evolve")
      oldSchema.fieldNames.toSeq.init ++ Seq("origin", "day")
      else oldSchema.fieldNames.toSeq), recovered.treeString)
  }

  // --- replace commits beside other writers --------------------------
  // A competing commit is injected from the replace commit's onStep hook,
  // so each race is deterministic: the replace commit validates the
  // snapshots linked since its base, retries on a lost slot when they do
  // not conflict with it, and fails loudly when they do.

  /** A clone of the versioned base (main at 3) and a copy-on-write DELETE
    * of its day-2 clicks, planned at snapshot 3: the clone, the DELETE
    * (given its onStep), and the (rows, checksum) it removes. */
  private def day2Delete(name: String)
      : (String, (String => Unit) => Int, (Long, Long)) = {
    import spark.implicits._
    val L = sources.LakeOps
    val out = sources.IngestOps.tmp(name)
    L.cloneTree(L.versionedBaseLayout(spark, sf), out)
    L.setRef(spark, out, "main", 3)
    val current = L.readLive(spark, out, 1 to 3)
    val doomed = $"event_type" === "click" && $"day" === 2
    val gone = fingerprint(current.filter(doomed))
    assert(gone._1 > 0, "fixture must have day-2 clicks to delete")
    val survivors = current.filter($"day" === 2 && !doomed).localCheckpoint()
    (out, onStep => L.rewriteDays(spark, out, 3, survivors, Seq(2), onStep),
      gone)
  }

  /** The corpus rows of `day`, re-keyed so they never collide with a
    * row already in the table. */
  private def freshRows(day: Int) = {
    import spark.implicits._
    sources.IngestOps.eventsWithParts(spark, sf).filter($"day" === day)
      .select((-$"event_id" - 1L).as("event_id"), $"user_id",
        $"event_type", $"value", $"day")
      .localCheckpoint()
  }

  /** Runs `commit` with an onStep that calls `inject` once, at `step`. */
  private def injectAt[T](step: String, commit: (String => Unit) => T)(
      inject: => Unit): T = {
    var done = false
    commit(s => if (s == step && !done) { done = true; inject })
  }

  private def assertNoDoubles(df: org.apache.spark.sql.DataFrame): Unit =
    assert(df.select("event_id").distinct().count() == df.count(),
      "a row is doubled")

  test("a copy-on-write delete beside an append to an untouched day: " +
      "the delete lands on the next slot and both commits hold") {
    val L = sources.LakeOps
    val (out, delete, gone) = day2Delete("events_race_untouched")
    val baseline = fingerprint(L.readCurrent(spark, out))
    val day16 = freshRows(16)
    val add = fingerprint(day16)
    var appended = -1
    val won = injectAt("data-written", delete) {
      appended = L.appendCommit(spark, out, day16)
    }
    assert(appended == 4 && won == 5, (appended, won))
    assert(L.readRefs(spark, out)("main") == 5)
    val current = L.readCurrent(spark, out)
    assert(fingerprint(current) == (baseline._1 - gone._1 + add._1,
      baseline._2 - gone._2 + add._2))
    assertNoDoubles(current)
  }

  test("a copy-on-write delete beside an append to the day it rewrites " +
      "fails with a conflict: main stays on the append, no later " +
      "snapshot exists, and the sweep reclaims the delete's files") {
    import spark.implicits._
    val L = sources.LakeOps
    val (out, delete, _) = day2Delete("events_race_conflict")
    val baseline = fingerprint(L.readCurrent(spark, out))
    val day2 = freshRows(2)
    val add = fingerprint(day2)
    val before = sources.IngestOps.listDataFiles(spark, s"$out/data")
    val e = intercept[IllegalStateException] {
      injectAt("data-written", delete) { L.appendCommit(spark, out, day2) }
    }
    assert(e.getMessage.contains("conflicts with snapshot 4") &&
      e.getMessage.contains("day 2"), e.getMessage)
    assert(L.readRefs(spark, out)("main") == 4)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(out, "metadata", "snap-5.txt")))
    val staged = (sources.IngestOps.listDataFiles(spark, s"$out/data") --
      before -- L.liveFiles(spark, out, Seq(4))).map("data/" + _)
    assert(staged.nonEmpty && staged.forall(_.startsWith("data/day=2/")),
      staged)
    assert(L.orphanSweep(spark, out).filter(_.startsWith("data/")).toSet ==
      staged)
    val current = L.readCurrent(spark, out)
    assert(fingerprint(current) == (baseline._1 + add._1,
      baseline._2 + add._2))
    assert(current.filter($"day" === 2 && $"event_type" === "click")
      .count() > 0, "the failed delete removed rows")
  }

  test("a copy-on-write delete beside a compaction of the files it " +
      "replaces fails with a conflict, and no row is doubled") {
    import spark.implicits._
    val L = sources.LakeOps
    val (out, delete, _) = day2Delete("events_race_compaction")
    val baseline = fingerprint(L.readCurrent(spark, out))
    val frag = L.liveFiles(spark, out, Seq(1))
    val compacted = L.readLive(spark, out, Seq(1)).localCheckpoint()
    val e = intercept[IllegalStateException] {
      injectAt("data-written", delete) {
        assert(L.commit(spark, out, L.stage(spark, out)(
          compacted.repartition($"day")), Some(L.Removal(3, frag))) == 4)
      }
    }
    assert(e.getMessage.contains("conflicts with snapshot 4") &&
      e.getMessage.contains("removed day=2/"), e.getMessage)
    assert(L.readRefs(spark, out)("main") == 4)
    val current = L.readCurrent(spark, out)
    assert(fingerprint(current) == baseline)
    assertNoDoubles(current)
  }

  test("a replace commit that loses its slot to an append retries and " +
      "wins the next slot") {
    import spark.implicits._
    val L = sources.LakeOps
    val out = sources.IngestOps.tmp("events_race_retry")
    L.cloneTree(L.versionedBaseLayout(spark, sf), out)
    L.setRef(spark, out, "main", 3)
    val baseline = fingerprint(L.readCurrent(spark, out))
    val frag = L.liveFiles(spark, out, Seq(1))
    val compacted = L.readLive(spark, out, Seq(1)).localCheckpoint()
    val day16 = freshRows(16)
    val add = fingerprint(day16)
    var appended = -1
    val won = injectAt("attempt-written", onStep => L.commit(spark, out,
        L.stage(spark, out, onStep)(compacted.repartition($"day")),
        Some(L.Removal(3, frag)), maxAttempts = 2, onStep = onStep)) {
      appended = L.appendCommit(spark, out, day16)
    }
    assert(appended == 4 && won == 5, (appended, won))
    assert(L.readRefs(spark, out)("main") == 5)
    val current = L.readCurrent(spark, out)
    assert(fingerprint(current) == (baseline._1 + add._1,
      baseline._2 + add._2))
    assertNoDoubles(current)
    assert(L.liveFiles(spark, out, 1 to 5).intersect(frag).isEmpty)
    assert(L.orphanSweep(spark, out).isEmpty, "the lost attempt left debris")
  }

  test("a missing snapshot manifest throws naming it: no reader drops " +
      "its files, and the orphan sweep deletes none") {
    val L = sources.LakeOps
    val out = sources.IngestOps.tmp("events_missing_manifest")
    L.cloneTree(L.expireBaseLayout(spark, sf), out)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(out, "metadata", "snap-2.txt"))
    val data = sources.IngestOps.listDataFiles(spark, s"$out/data")
    // expiry's reachable set is liveFiles(1 to s) of every ref (main: 5)
    Seq[() => Any](() => L.liveFiles(spark, out, 1 to 3),
      () => L.liveFiles(spark, out, 1 to 5), () => L.readCurrent(spark, out),
      () => L.orphanSweep(spark, out)).foreach { read =>
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains("metadata/snap-2.txt"), e.getMessage)
    }
    assert(sources.IngestOps.listDataFiles(spark, s"$out/data") == data)
    // the optional metadata files still read as empty when absent
    assert(sources.IngestOps.readMetaLines(spark, out,
      "metadata/parents.txt").isEmpty)
  }

  test("eight concurrent writers through the CAS retry loop: every " +
      "append lands exactly once on a distinct slot, pointer at max") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val L = sources.LakeOps
    val out = sources.IngestOps.tmp("events_many_writers")
    L.cloneTree(L.versionedBaseLayout(spark, sf), out)
    L.setRef(spark, out, "main", 3)
    val baseline = fingerprint(L.readCurrent(spark, out))
    // 8 disjoint slices of day 16 (one per writer), prepared up front
    val day16 = sources.IngestOps.eventsWithParts(spark, sf)
      .filter($"day" === 16)
      .select($"event_id", $"user_id", $"event_type", $"value", $"day")
      .localCheckpoint()
    val slices = (0 until 8).map(i =>
      day16.filter(pmod($"event_id", lit(8L)) === i).localCheckpoint())
    val total = slices.map(_.count()).sum
    assert(total == day16.count())
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val wons = Await.result(
      Future.sequence(slices.map(s => Future {
        L.appendCommit(spark, out, s, maxAttempts = 32)
      })), 300.seconds)
    // every writer won some slot, all slots distinct, range exactly 4..11
    assert(wons.forall(_ > 0), s"a writer exhausted its retries: $wons")
    assert(wons.toSet.size == 8, s"two writers shared a slot: $wons")
    assert(wons.sorted == (4 to 11), s"slots not contiguous: $wons")
    assert(L.readRefs(spark, out)("main") == 11, "pointer must end at max")
    // exactly once: the current view holds base + every slice, no doubles
    val exp = fingerprint(L.readCurrent(spark, out))
    val day16Sum = day16.agg(sum(pmod(xxhash64($"event_id"),
      lit(1000000007L)))).collect().head.getLong(0)
    assert(exp == (baseline._1 + total, baseline._2 + day16Sum),
      "eight-writer run must land every row exactly once")
    assert(L.orphanSweep(spark, out).isEmpty, "no orphans after clean run")
  }

  test("age-gated orphan sweep: fresh debris (an in-flight writer's " +
      "working set) survives the grace window; aged debris is reclaimed") {
    import spark.implicits._
    val L = sources.LakeOps
    val out = sources.IngestOps.tmp("events_sweep_grace")
    L.cloneTree(L.versionedBaseLayout(spark, sf), out)
    L.setRef(spark, out, "main", 3)
    // a writer dies right after publishing its data files (pre-link)
    val slice = sources.IngestOps.eventsWithParts(spark, sf)
      .filter($"day" === 16)
      .select($"event_id", $"user_id", $"event_type", $"value", $"day")
    intercept[Kill] {
      L.appendCommit(spark, out, slice,
        onStep = s => if (s == "data-written") throw Kill(s))
    }
    // fresh debris is indistinguishable from a LIVE commit between
    // publish and link — a 1-hour grace must leave it alone
    assert(L.orphanSweep(spark, out, graceMs = 3600L * 1000).isEmpty,
      "fresh debris must survive the grace window")
    // age everything past the window; now it is provably abandoned
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 7200L * 1000)
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
    try w.forEach(p => java.nio.file.Files.setLastModifiedTime(p, old))
    finally w.close()
    val swept = L.orphanSweep(spark, out, graceMs = 3600L * 1000)
    assert(swept.exists(_.startsWith("data/")),
      s"aged debris must be reclaimed: $swept")
    // committed data files are referenced — age-gating never widens
    // the sweep beyond unreferenced debris
    assert(fingerprint(L.readCurrent(spark, out)) ==
      fingerprint(L.readLive(spark, out, 1 to 3)))
  }

  test("orphan sweep on a table that never linked a snapshot: a first " +
      "commit killed at 'data-written' leaves exactly its published files " +
      "to reclaim, and readCurrent still reports no commit") {
    import spark.implicits._
    val L = sources.LakeOps
    val slice = sources.IngestOps.eventsWithParts(spark, sf)
      .filter($"day" === 16)
      .select($"event_id", $"user_id", $"event_type", $"value", $"day")
    /** A first appendCommit into an empty root, killed at `kp`. */
    def killedFirstCommit(kp: String): String = {
      val out = sources.IngestOps.tmp(s"events_first_commit_$kp")
      org.apache.spark.network.util.JavaUtils
        .deleteRecursively(new java.io.File(out))
      intercept[Kill] {
        L.appendCommit(spark, out, slice,
          onStep = s => if (s == kp) throw Kill(s))
      }
      // the first CAS creates metadata/: a kill before it leaves none
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out,
        "metadata")), s"a kill at $kp must not create metadata/")
      out
    }
    val out = killedFirstCommit("data-written")
    val published = sources.IngestOps.listDataFiles(spark, s"$out/data")
      .map("data/" + _)
    assert(published.nonEmpty, "the killed commit published no data files")
    // stage removed its staging dir before 'data-written': the data
    // files are the whole of the debris
    assert(L.orphanSweep(spark, out).sorted == published.toSeq.sorted)
    assert(sources.IngestOps.listDataFiles(spark, s"$out/data").isEmpty)
    val e = intercept[IllegalStateException](L.readCurrent(spark, out))
    assert(e.getMessage.contains("no snapshot has been committed"),
      e.getMessage)
    // one step earlier not even data/ exists: the staging dir is the
    // whole of the debris
    val staged = L.orphanSweep(spark, killedFirstCommit("staged"))
    assert(staged.size == 1 && staged.head.startsWith(".stage-"), staged)
  }

  // --- reader isolation during a compaction replace-commit -------------
  test("a time-travel reader pinned at snapshot 3 is bit-identical at " +
      "EVERY intermediate state of a compaction replace-commit, and the " +
      "published compaction preserves content") {
    import spark.implicits._
    val L = sources.LakeOps
    val out = sources.IngestOps.tmp("events_compact_isolation")
    L.cloneTree(L.versionedBaseLayout(spark, sf), out)
    L.setRef(spark, out, "main", 3)
    val pinned = fingerprint(L.readLive(spark, out, 1 to 3))
    def assertPinned(state: String): Unit =
      assert(fingerprint(L.readLive(spark, out, 1 to 3)) == pinned,
        s"snapshot-3 reader saw a different table $state")
    // the replace-commit, step by step, a reader interleaved after
    // EVERY intermediate state. Both halves (added + removal entries)
    // are lines of the one linked manifest, so at the instant snapshot 4
    // becomes visible both exist — there is no moment a current reader
    // could see the compacted copies WITHOUT the fragment removal
    // (doubled rows).
    val data = s"$out/data"
    val frag = L.liveFiles(spark, out, Seq(1))
    val compacted = L.readLive(spark, out, Seq(1)).localCheckpoint()
    // (1) compacted files land under data/
    val before = sources.IngestOps.listDataFiles(spark, data)
    compacted.repartition($"day")
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .option("compression", "zstd").partitionBy("day").parquet(data)
    val delta = sources.IngestOps.listDataFiles(spark, data) -- before
    assertPinned("after the compacted files landed")
    // (2) the manifest with its removal entries (the replace half) is
    // written to the private attempt file — pre-link, inert; (3) the
    // link publishes snapshot 4 atomically — both halves live
    val removals = frag.map(f => sources.ManifestEntry(f, removed = true).line)
    assert(L.tryCommit(spark, out, 4, delta.toSeq ++ removals :+
      s"#schema ${L.snapshotSchema(spark, out, 3).name}", step =>
      if (step == "attempt-written")
        assertPinned("after the removal manifest landed")))
    assertPinned("after the manifest link")
    assert(fingerprint(L.readLive(spark, out, 1 to 4)) == pinned,
      "the replace commit must be content-preserving the instant it " +
        "becomes visible")
    // (4) the ref move: current readers switch, pinned readers don't
    L.setRef(spark, out, "main", 4)
    assert(fingerprint(L.readCurrent(spark, out)) == pinned,
      "compaction must preserve content")
    // old files still back the pinned snapshot (no premature delete)
    assertPinned("after publish")
  }

  test("remove_orphan_files: aged debris deleted, the recent in-flight " +
      "file retained, every committed file untouched, reads identical " +
      "before and after") {
    import spark.implicits._
    val L = sources.LakeOps
    val out = sources.IngestOps.tmp("orphan_spec")
    val before = graft.sources.Tables.events(spark, sf)
      .filter(dayofmonth($"ts").between(1, 15))
      .agg(count(lit(1)), sum(operators.dec($"value"))).collect().head
    val rep = L.removeOrphanFilesAt(spark, sf, out).collect().head
    assert(rep.getLong(0) === 3L, "orphans_removed")
    assert(rep.getLong(1) === 1L, "orphans_retained")
    assert(rep.getLong(2) === before.getLong(0), "row count intact")
    val dataDir = new java.io.File(s"$out/data")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val names = walk(dataDir).map(_.getName).toSet
    // the aged strays are gone; the recent in-flight upload survives
    assert(!names.exists(_.startsWith("orphan-")), names.toString)
    assert(names.contains("inflight-recent.parquet"))
    // every committed file still exists (reachable set untouched)
    val live = L.liveFiles(spark, out, 1 to 3)
    live.foreach { rel =>
      assert(new java.io.File(s"$out/data/$rel").exists(), rel) }
    // and the table still answers identically through the manifests
    val after = L.readLive(spark, out, 1 to 3)
      .filter($"day".between(1, 15))
      .agg(count(lit(1)), sum(operators.dec($"value"))).collect().head
    assert(after === before)
  }

  test("MoR delete broadcast is size-fenced: an oversized delete set " +
      "takes the hint-free (shuffle-capable) path, answers unchanged") {
    import spark.implicits._
    val L = sources.LakeOps
    def hints(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
    val base = spark.range(0, 1000).select($"id".as("event_id"),
      ($"id" % 7).as("v"))
    val deletes = spark.range(0, 200)
      .select(($"id" * 3).as("event_id")).localCheckpoint(true)
    def morRead(d: org.apache.spark.sql.DataFrame) =
      base.join(L.boundedBroadcast(d), Seq("event_id"), "left_anti")
        .agg(count(lit(1)), sum($"v"))
    // delta-sized delete frame: the hint applies (Iceberg's
    // equality-delete broadcast shape)
    val small = morRead(deletes)
    assert(hints(small).nonEmpty,
      "KB-sized delete frame lost its broadcast hint")
    // an "uncompacted month of deletes": past the fence the SAME join
    // is hint-free — at 100× AQE/planner choose from runtime size,
    // never a forced unbuildable broadcast
    val key = "spark.graft.mor.broadcastThreshold"
    val big = try {
      spark.conf.set(key, "1")
      morRead(deletes)
    } finally spark.conf.unset(key)
    assert(hints(big).isEmpty,
      "oversized delete frame still carries a forced broadcast hint")
    // the fence changes the plan, never the answer
    assert(small.collect().toSeq == big.collect().toSeq)
    // and the fenced read flows through the real MoR key unchanged:
    // delete_mor's answer is identical under a fence that forces the
    // shuffle path for its delete file
    val normal = L.deleteMor(spark, sf).collect().toSeq
    val fenced = try {
      spark.conf.set(key, "1")
      L.deleteMor(spark, sf).collect().toSeq
    } finally spark.conf.unset(key)
    assert(normal == fenced, "delete_mor answer changed under the fence")
  }

  // --- the manifest-planned read path (LakeOps.readFiles) --------------

  /** A fresh table of two appendCommits, each one file per day — more
    * than 32 live files, past Spark's parallel-listing threshold.
    * Built once; tests that damage a table work on a [[cloneTree]]. */
  private lazy val twoCommitTable: String = {
    import spark.implicits._
    val L = sources.LakeOps
    val out = sources.IngestOps.tmp("events_two_commits")
    org.apache.spark.network.util.JavaUtils
      .deleteRecursively(new java.io.File(out))
    Seq("data", "metadata").foreach(d => java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(out, d)))
    val ev = sources.IngestOps.eventsWithParts(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"value", $"day")
      .localCheckpoint()
    Seq(0, 1).foreach(i =>
      L.appendCommit(spark, out, ev.filter(pmod($"event_id", lit(2)) === i)))
    out
  }

  /** The spelling every manifest read used before [[readFiles]]. */
  private def listingRead(root: String, rels: Seq[String]) =
    spark.read.option("basePath", s"$root/data")
      .parquet(rels.map(r => s"$root/data/$r"): _*)

  private def partitionSchema(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          r: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) => r.partitionSchema
    }

  test("readCurrent plans from the manifest: no listing job, and the " +
      "schema, rows and input files of the old basePath-ed read") {
    val L = sources.LakeOps
    val out = twoCommitTable
    val live = L.liveFiles(spark, out, 1 to L.readRefs(spark, out)("main"))
    assert(live.size > 32, s"only ${live.size} live files")
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descs.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    // plan and (unless `run` is off) run `read`, returning it with the
    // jobs both started (the old spelling's listing job runs when the
    // read is planned)
    def jobsOf(read: => org.apache.spark.sql.DataFrame, run: Boolean = true) = {
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)
      descs.clear()
      val df = read
      if (run) df.collect()
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)
      import scala.jdk.CollectionConverters._
      (df, descs.asScala.toSeq)
    }
    sc.addSparkListener(listener)
    val ((old, oldJobs), (cur, curJobs), building, oldBuilding) =
      try (jobsOf(listingRead(out, live)), jobsOf(L.readCurrent(spark, out)),
        jobsOf(L.readCurrent(spark, out), run = false)._2,
        jobsOf(listingRead(out, live), run = false)._2)
      finally sc.removeSparkListener(listener)
    // building the frame starts no job at all: no listing, and no schema
    // inference over a footer (the schema is the committed record);
    // the old spelling's build starts jobs (the listener sees them)
    assert(building.isEmpty, s"building readCurrent started jobs: $building")
    assert(oldBuilding.nonEmpty, "the old build started no job")
    // (a) the listener sees the old spelling's listing job, and the
    // manifest-planned read starts none
    val listing = "Listing leaf files"
    assert(oldJobs.exists(_.startsWith(listing)),
      s"the old read ran no listing job — the listener is blind: $oldJobs")
    assert(!curJobs.exists(_.startsWith(listing)),
      s"readCurrent started a listing job: $curJobs")
    // (b) same fields, types, nullability and partition column
    assert(cur.schema == old.schema,
      s"${cur.schema.treeString} vs ${old.schema.treeString}")
    assert(partitionSchema(cur).map(_.fieldNames.toSeq) == Some(Seq("day")))
    assert(partitionSchema(cur) == partitionSchema(old))
    // (c) the same rows
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(cur) == rows(old))
    // (d) exactly the manifest's live set
    def local(fs: Seq[String]) = fs.map(f => new Path(f).toUri.getPath).toSet
    assert(local(cur.inputFiles.toSeq) ==
      local(live.map(rel => s"$out/data/$rel")))
  }

  test("readFiles: a live file missing on disk fails at plan time naming " +
      "it; an unlisted file beside live ones is never read; an empty " +
      "list is an empty frame with the table's schema") {
    val L = sources.LakeOps
    val out = sources.IngestOps.tmp("events_two_commits_damaged")
    L.cloneTree(twoCommitTable, out)
    val live = L.liveFiles(spark, out, 1 to 2)
    val schema = L.readCurrent(spark, out).schema
    val n = L.readCurrent(spark, out).count()
    // a file no manifest names, in a live partition directory: a
    // crashed writer's published debris looks exactly like this
    val donor = java.nio.file.Paths.get(out, "data", live.head)
    val stray = donor.resolveSibling("part-99999-stray.c000.zstd.parquet")
    java.nio.file.Files.copy(donor, stray)
    val read = L.readCurrent(spark, out)
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
    val strayName = stray.getFileName.toString
    assert(read.nonEmpty && !read.exists(_.endsWith(strayName)),
      "a file no manifest names was read")
    assert(L.readCurrent(spark, out).count() == n)
    // a manifest-listed file deleted from disk: the read fails when it
    // is planned (no action runs here), and says which file
    val gone = java.nio.file.Paths.get(out, "data", live.last)
    java.nio.file.Files.delete(gone)
    val e = intercept[java.io.FileNotFoundException](
      L.readCurrent(spark, out))
    assert(e.getMessage.contains(gone.toString), e.getMessage)
    // no files: empty, with the table's schema
    val empty = L.readFiles(spark, s"$out/data", Nil,
      L.snapshotSchema(spark, out, 2))
    assert(empty.schema == schema)
    assert(empty.count() == 0)
  }

  test("readCurrent on a table that never committed names the root and " +
      "says no snapshot was committed") {
    val out = sources.IngestOps.tmp("events_never_committed")
    Seq("data", "metadata").foreach(d => java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(out, d)))
    val e = intercept[IllegalStateException](
      sources.LakeOps.readCurrent(spark, out))
    assert(e.getMessage.contains(out) &&
      e.getMessage.contains("no snapshot has been committed"), e.getMessage)
  }

  test("an ORC commit killed at 'data-written' leaves debris the orphan " +
      "sweep reclaims: no unreferenced file remains") {
    import spark.implicits._
    val L = sources.LakeOps
    val out = sources.IngestOps.tmp("events_orc_killed")
    org.apache.spark.network.util.JavaUtils
      .deleteRecursively(new java.io.File(out))
    val slice = sources.IngestOps.eventsWithParts(spark, sf)
      .filter($"day".between(1, 3))
      .select($"event_id", $"user_id", $"event_type", $"value", $"day")
    intercept[Kill] {
      L.stage(spark, out, s => if (s == "data-written") throw Kill(s))(
        slice.repartition($"day"), format = "orc")
    }
    // every regular file under data/, whatever its name
    def onDisk: Seq[String] = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(out, "data"))
      try w.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(java.nio.file.Files.isRegularFile(_)).map(_.toString)
      finally w.close()
    }
    assert(onDisk.nonEmpty && onDisk.forall(_.endsWith(".orc")), onDisk)
    L.orphanSweep(spark, out, graceMs = 0)
    assert(onDisk.isEmpty, s"unreferenced files survive the sweep: $onDisk")
  }

  test("manifest entry stats are exact: row count, size, bounds and null " +
      "counts of a multi-row-group file agree with a Spark aggregate") {
    import spark.implicits._
    val L = sources.LakeOps
    val out = sources.IngestOps.tmp("events_entry_stats")
    org.apache.spark.network.util.JavaUtils
      .deleteRecursively(new java.io.File(out))
    // ±Infinity bound `inf`; a -0.0 minimum in `zero`; an all-NULL
    // column; NaN in `nan`; tabs and newlines in the strings of `s`
    val rows = spark.range(3000).select($"id",
      when($"id" === 0, lit(Double.PositiveInfinity))
        .when($"id" === 1, lit(Double.NegativeInfinity))
        .otherwise($"id" * 0.5 - 700).as("inf"),
      when($"id" % 2 === 0, lit(-0.0)).otherwise($"id".cast("double"))
        .as("zero"),
      lit(null).cast("double").as("gone"),
      when($"id" % 7 === 0, lit(Double.NaN)).otherwise($"id".cast("double"))
        .as("nan"),
      when($"id" % 5 === 0, lit(null).cast("string")).otherwise(concat(
        lit("s\t"), $"id".cast("string"), lit("\nx"))).as("s"))
      .coalesce(1)
    spark.conf.set("parquet.block.size", "4096")
    val staged = try L.stage(spark, out)(rows, Nil)
      finally spark.conf.unset("parquet.block.size")
    assert(L.commit(spark, out, staged) == 1)
    val Seq(rel) = staged.files
    val file = s"$out/data/$rel"
    val groups = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(file), spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getBlocks.size finally r.close()
    }
    assert(groups > 1, s"one row group only: the fixture proves no fold")
    // the entry is ONE line: tabs and newlines inside bounds are escaped
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "metadata", "snap-1.txt")), "UTF-8")
    assert(text.split("\n").filterNot(_.startsWith("#")).toSeq ==
      Seq(sources.IngestOps.readMetaFile(spark, out,
        "metadata/snap-1.txt")._1.head.line))
    val record = L.snapshotSchema(spark, out, 1)
    val st = sources.IngestOps.readMetaFile(spark, out,
      "metadata/snap-1.txt")._1.head.recorded
    val data = spark.read.parquet(file)
    assert(st.rows == data.count() && st.rows == 3000)
    assert(st.size == new java.io.File(file).length)
    Seq("id", "inf", "zero", "gone", "nan", "s").foreach { c =>
      assert(st.nulls(record.id(c)) == data.filter(col(c).isNull).count(),
        s"null count of $c")
    }
    def agg(c: String) = data.agg(min(col(c)), max(col(c))).head
    val id = agg("id")
    assert(st.lower(record.id("id")).toLong == id.getLong(0) &&
      st.upper(record.id("id")).toLong == id.getLong(1))
    Seq("inf", "zero").foreach { c =>
      val a = agg(c)
      assert(st.lower(record.id(c)).toDouble == a.getDouble(0) &&
        st.upper(record.id(c)).toDouble == a.getDouble(1),
        s"bounds of $c: ${st.lower.get(record.id(c))} " +
          s"${st.upper.get(record.id(c))} vs $a")
    }
    assert(st.lower(record.id("inf")) == "-Infinity" &&
      st.upper(record.id("inf")) == "Infinity")
    val s = agg("s")
    assert(st.lower(record.id("s")) == s.getString(0) &&
      st.upper(record.id("s")) == s.getString(1))
    // no bounds where the footer has none: an all-NULL column, and a
    // NaN-bearing double (Spark orders NaN above every value, so bounds
    // that skipped it would prune a file a `nan > x` predicate matches)
    Seq("gone", "nan").foreach { c =>
      assert(!st.lower.contains(record.id(c)) &&
        !st.upper.contains(record.id(c)), s"$c has bounds")
    }
    // so a range predicate never prunes the NaN-bearing file, while the
    // all-NULL column excludes it, and real bounds prune as they say
    assert(st.mayOverlap(record.id("nan"), 1e300, 1e301))
    assert(!st.mayOverlap(record.id("gone"), -1e300, 1e300))
    assert(st.mayOverlap(record.id("zero"), -1.0, 0.0) &&
      !st.mayOverlap(record.id("zero"), 3000.0, 4000.0))
  }
}
