package graft.sources

/** Cross-process commit client: one OS process = one independent
  * writer driving [[LakeOps.appendCommit]]'s optimistic retry loop
  * against a shared table root. `commit_conflict_retry` proves the CAS
  * within one JVM; this main exists so LakeSpec can prove it BETWEEN
  * JVMs — the create-exclusive link and the refs lock are filesystem
  * primitives, so the same protocol two Spark drivers on one
  * metadata store would run (the reference's concurrent committers
  * against the catalog pointer, `Bulk:97-101`).
  *
  * Args: `root sfDir day readyFile goFile`. The worker stages its
  * slice, then signals `readyFile` and spins on `goFile` — the
  * spawning test releases both workers at once so the slot CAS is
  * genuinely contended, not won by startup skew. Prints one JSON line
  * `{"won_slot":N,"day":D,"rows":R}` and exits 0 on success.
  */
object CommitWorker {
  def main(args: Array[String]): Unit = {
    val Array(root, sfDir, dayS, readyFile, goFile) = args.take(5)
    val day = dayS.toInt
    val spark = graft.GraftSession(2)
    import spark.implicits._
    val slice = IngestOps.eventsWithParts(spark, sfDir)
      .filter($"day" === day)
      .select($"event_id", $"user_id", $"event_type", $"value", $"day")
      .localCheckpoint()
    val rows = slice.count()
    // barrier: both workers are warm before either touches the table
    java.nio.file.Files.write(java.nio.file.Paths.get(readyFile),
      "ready".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val go = java.nio.file.Paths.get(goFile)
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!java.nio.file.Files.exists(go)) {
      if (System.nanoTime() > deadline) sys.error("go-file never appeared")
      Thread.sleep(10)
    }
    val won = LakeOps.appendCommit(spark, root, slice, maxAttempts = 10)
    println(s"""{"won_slot":$won,"day":$day,"rows":$rows}""")
    spark.stop()
    if (won < 0) sys.exit(1)
  }
}
