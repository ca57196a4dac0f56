package graft

import org.apache.spark.sql.functions._

/** Cross-JVM concurrency proof for the optimistic commit protocol:
  * `commit_conflict_retry` races two writers inside one process, but
  * the CAS (create-exclusive hard link) and the refs lock are
  * FILESYSTEM primitives — so this spec races two real OS processes
  * (each its own Spark driver, barrier-released to contend the same
  * slot) and proves both appends land exactly once with disjoint
  * manifests and a forward-only pointer. */
class CrossProcessSpec extends SparkSpecBase {

  private def fingerprint(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      sum(pmod(xxhash64(col("event_id")), lit(1000000007L)))).collect().head
    (r.getLong(0), r.getLong(1))
  }

  /** The run.sh JVM flags: Spark 4 on Java 17 needs the add-opens set. */
  private def workerCmd(args: Seq[String]): Seq[String] = {
    val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
      "java.io", "java.net", "java.nio", "java.util",
      "java.util.concurrent", "java.util.concurrent.atomic",
      "sun.nio.ch", "sun.nio.cs", "sun.security.action",
      "sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    Seq(s"${System.getProperty("java.home")}/bin/java") ++ opens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      // the SPEC's own classpath, not a hardcoded machine layout — the
      // worker must run exactly the classes under test wherever the
      // build happens to live
      "-cp", System.getProperty("java.class.path"),
      "graft.sources.CommitWorker") ++ args
  }

  /** Appends days 16 and 17 to `out` from two [[sources.CommitWorker]]
    * processes, released at once through the go-file barrier in the
    * fresh directory `barrierName` once both are staged; runs `atGo` in
    * this JVM right after the release, then waits for both workers to
    * exit cleanly. */
  private def raceWorkers[T](out: String, barrierName: String)(
      atGo: => T): T = {
    val barrier = sources.IngestOps.tmp(barrierName)
    org.apache.spark.network.util.JavaUtils
      .deleteRecursively(new java.io.File(barrier))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(barrier))
    val go = s"$barrier/go"
    val procs = Seq(16, 17).map { day =>
      val pb = new ProcessBuilder(
        workerCmd(Seq(out, sf, day.toString, s"$barrier/ready-$day", go)): _*)
      pb.redirectErrorStream(true)
      pb.redirectOutput(java.io.File.createTempFile(s"xproc-$day", ".log"))
      day -> pb.start()
    }
    try {
      // release only once BOTH workers are staged and waiting
      val t0 = System.nanoTime()
      while (!Seq(16, 17).forall(d => java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$barrier/ready-$d")))) {
        assert(System.nanoTime() - t0 < 180L * 1000 * 1000 * 1000,
          "workers never reached the barrier")
        Thread.sleep(50)
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(go),
        "go".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val result = atGo
      procs.foreach { case (day, p) =>
        assert(p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
          s"worker $day hung")
        assert(p.exitValue() == 0, s"worker $day failed")
      }
      result
    } finally procs.foreach(_._2.destroyForcibly())
  }

  test("two writer PROCESSES contending one table: both appends land " +
      "exactly once, manifests are disjoint, the pointer only moves " +
      "forward") {
    import spark.implicits._
    val L = sources.LakeOps
    val out = sources.IngestOps.tmp("events_xproc")
    L.cloneTree(L.versionedBaseLayout(spark, sf), out)
    L.setRef(spark, out, "main", 3)
    val baseline = fingerprint(L.readCurrent(spark, out))
    val expect = sources.IngestOps.eventsWithParts(spark, sf)
      .filter($"day".isin(16, 17))
      .select($"event_id", $"user_id", $"event_type", $"value", $"day")
    val expectFp = fingerprint(expect)
    assert(expectFp._1 > 0, "fixture must have day-16/17 rows")
    raceWorkers(out, "xproc_barrier")(())
    // both slots exist and claim DISJOINT file sets
    val m4 = sources.IngestOps.readMetaLines(spark, out,
      "metadata/snap-4.txt").toSet
    val m5 = sources.IngestOps.readMetaLines(spark, out,
      "metadata/snap-5.txt").toSet
    assert(m4.nonEmpty && m5.nonEmpty, "both commits must have landed")
    assert((m4 & m5).isEmpty,
      s"manifests must never claim each other's files: ${m4 & m5}")
    // the pointer ends at the highest slot (forward-only under the lock)
    assert(L.readRefs(spark, out)("main") == 5)
    // exactly once: current view = baseline + both slices, no doubles
    assert(fingerprint(L.readCurrent(spark, out)) ==
      (baseline._1 + expectFp._1, baseline._2 + expectFp._2),
      "cross-process appends must land exactly once each")
    // no debris: every staged file was published and swept by its owner
    assert(L.orphanSweep(spark, out).isEmpty,
      "a clean two-writer run must leave no orphans")
  }

  test("a copy-on-write delete in this JVM races two appending writer " +
      "PROCESSES: all three commits land on distinct slots, main ends " +
      "at the highest, and no row is lost or doubled") {
    import spark.implicits._
    val L = sources.LakeOps
    val out = sources.IngestOps.tmp("events_xproc_delete")
    L.cloneTree(L.versionedBaseLayout(spark, sf), out)
    L.setRef(spark, out, "main", 3)
    val current = L.readLive(spark, out, 1 to 3)
    val baseline = fingerprint(current)
    val doomed = $"event_type" === "click" && $"day" === 2
    val gone = fingerprint(current.filter(doomed))
    assert(gone._1 > 0, "fixture must have day-2 clicks to delete")
    val survivors = current.filter($"day" === 2 && !doomed).localCheckpoint()
    val expectFp = fingerprint(sources.IngestOps.eventsWithParts(spark, sf)
      .filter($"day".isin(16, 17)))
    assert(expectFp._1 > 0, "fixture must have day-16/17 rows")
    val won = raceWorkers(out, "xproc_delete_barrier") {
      L.rewriteDays(spark, out, 3, survivors, Seq(2))
    }
    // three commits on slots 4-6, the delete's among them, no fourth
    val manifests = (4 to 6).map(n => sources.IngestOps.readMetaFile(spark,
      out, s"metadata/snap-$n.txt"))
    assert((4 to 6).contains(won), s"the delete won slot $won")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(out, "metadata", "snap-7.txt")))
    assert(manifests.map(_._3.nonEmpty) ==
      (4 to 6).map(_ == won), "exactly the delete's slot removes files")
    val added = manifests.flatMap(_._1.map(_.rel))
    assert(added.distinct.size == added.size, "a file committed twice")
    assert(L.readRefs(spark, out)("main") == 6)
    val now = L.readCurrent(spark, out)
    assert(fingerprint(now) == (baseline._1 - gone._1 + expectFp._1,
      baseline._2 - gone._2 + expectFp._2),
      "every commit must land exactly once")
    assert(now.select("event_id").distinct().count() == now.count(),
      "a row is doubled")
    assert(L.orphanSweep(spark, out).isEmpty,
      "three clean commits must leave no orphans")
  }

  test("buildShared crash contract: a build that throws publishes " +
      "nothing and the next call clears its files; clones carry no " +
      "marker") {
    import java.nio.file.{Files, Path, Paths}
    val I = sources.IngestOps
    val L = sources.LakeOps
    val pid = java.lang.ProcessHandle.current().pid()
    val out = I.shared(s"spec_buildshared_$pid")
    val derived = I.shared(s"spec_buildshared_derived_$pid")
    def done(p: String) = Files.exists(Paths.get(p + ".done"))
    def files(root: String): Set[String] = {
      val r = Paths.get(root)
      val w = Files.walk(r)
      try w.filter(p => Files.isRegularFile(p)).toArray.toSet
        .map((p: AnyRef) => r.relativize(p.asInstanceOf[Path]).toString)
      finally w.close()
    }
    def clear(): Unit = for (p <- Seq(out, derived);
        q <- Seq(p, p + ".done", p + ".lock"))
      org.apache.spark.network.util.JavaUtils
        .deleteRecursively(new java.io.File(q))
    def write(root: String, name: String): Unit = {
      Files.createDirectories(Paths.get(root))
      Files.write(Paths.get(root, name), name.getBytes("UTF-8"))
    }
    clear()
    try {
      // (a) a build that dies midway leaves its files but no marker ...
      intercept[IllegalStateException] {
        I.buildShared(spark, out) { root =>
          write(root, "partial.txt")
          throw new IllegalStateException("crash mid-build")
        }
      }
      assert(!done(out), "a build that threw was published")
      assert(files(out) == Set("partial.txt"))
      // ... and the next call clears them before it rebuilds
      var leftover = Set.empty[String]
      I.buildShared(spark, out) { root =>
        leftover = if (Files.exists(Paths.get(root))) files(root) else Set()
        write(root, "full.txt")
      }
      assert(leftover.isEmpty, s"the rebuild started over $leftover")
      assert(done(out) && files(out) == Set("full.txt"))
      // a complete layout is reused, never rebuilt
      var rebuilt = false
      I.buildShared(spark, out) { _ => rebuilt = true }
      assert(!rebuilt, "a complete layout was rebuilt")
      // (b) a derived build that clones the complete layout and then
      // dies is not complete: the base's marker stayed beside the base
      intercept[IllegalStateException] {
        I.buildShared(spark, derived) { root =>
          L.cloneTree(out, root)
          throw new IllegalStateException("crash after the clone")
        }
      }
      assert(files(derived) == Set("full.txt"))
      assert(!done(derived), "a crashed derived build reads as complete")
      I.buildShared(spark, derived) { root =>
        L.cloneTree(out, root)
        write(root, "derived.txt")
      }
      assert(done(derived) && files(derived) == Set("full.txt", "derived.txt"))
      // (c) cloning a real complete layout copies exactly its files,
      // and no completeness marker is among them
      val base = L.versionedBaseLayout(spark, sf)
      assert(done(base))
      val clone = I.tmp("buildshared_clone")
      L.cloneTree(base, clone)
      assert(files(clone) == files(base))
      assert(!files(clone).exists(f => f.contains("_DONE") ||
        f.endsWith(".done")), s"a marker was cloned: ${files(clone)}")
      assert(!done(clone))
    } finally clear()
  }
}
