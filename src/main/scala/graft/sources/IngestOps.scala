package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{dec, dsum}

/** SURVEY.md §2a — scans / sources / sinks: the reference's whole ingest
  * pipeline re-expressed Spark-first.
  *
  * The reference reads parquet record-by-record and rewrites it into a
  * partitioned Iceberg layout with a thread pool and one atomic commit
  * (`BulkParquetToIcebergAtomicMultipart.java:78-101`,
  * `AIGEventsTableCreator.java:354-439`). Here the same semantics are a
  * declarative read → derive partition columns → `repartition(partition
  * cols)` → `write.partitionBy(...)`: grouping becomes the shuffle, the
  * 4-thread pool becomes the task scheduler, the atomic append commit
  * becomes the output-committer job commit (SURVEY §3.2 mapping). At 100 TB
  * the repartition bounds file counts to one file per partition per shuffle
  * partition instead of the reference's one-file-per-input-batch.
  *
  * All writes land under `<repo>/target/tmp` (driver-local scratch), zstd
  * like every reference write (`Creator:186-187`, `Local:84`).
  */
object IngestOps {

  /** Where the shared layouts and every JVM's scratch live. The literal
    * is the one spelling of the path, a placeholder that perfbench's
    * build rewrites to a dir of its own; left as is, it resolves to
    * `tmp` in the build's `target` dir (the compiled classes or jar sit
    * in `target/scala-2.13/`), i.e. `<repo>/target/tmp`. */
  private val sharedRoot: String = {
    val spelled = "/REPO_ROOT/target/tmp"
    if (!spelled.startsWith("/REPO_ROOT/")) spelled
    else {
      val code = new java.io.File(
        getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
      new java.io.File(code.getParentFile.getParentFile, "tmp").getPath
    }
  }

  /** Per-JVM scratch root: concurrent engine processes (an `sbt test`
    * beside a running bench) previously shared fixed per-query scratch
    * paths and could trash each other's files mid-read. Each JVM now
    * writes under its own pid-keyed dir; scratch of dead JVMs is reaped
    * on first use so repeated runs don't accumulate disk. Pid reuse can
    * delay a reap by one cycle or hand a new JVM a stale dir — benign
    * here because every per-query write is Overwrite-mode and stream
    * checkpoints are cleared at query start. */
  private[graft] lazy val scratchRoot: String = {
    val root = new java.io.File(sharedRoot)
    root.mkdirs()
    val mine = java.lang.ProcessHandle.current().pid()
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { f =>
      if (f.getName.startsWith("jvm-") && f.getName != s"jvm-$mine") {
        val alive = f.getName.stripPrefix("jvm-").toLongOption
          .exists(pidAlive)
        // best-effort: two starting JVMs may race to reap the same dir —
        // the loser's IOException must not fail this initializer
        if (!alive) try org.apache.spark.network.util.JavaUtils
          .deleteRecursively(f) catch { case _: java.io.IOException => }
      }
    }
    s"${root.getAbsolutePath}/jvm-$mine"
  }

  /** Per-query scratch — isolated per JVM (see [[scratchRoot]]). */
  private[graft] def tmp(name: String) = s"$scratchRoot/$name"

  /** Cross-process shared location for the write-once layouts: they are
    * content-fingerprint-keyed and published atomically by
    * [[buildShared]], so sharing is safe and saves every process
    * rebuilding ingest-time artifacts. */
  private[graft] def shared(name: String) = s"$sharedRoot/$name"

  /** Where the layout `name` of the corpus at `dir` lives: [[shared]],
    * unless the corpus lies under this JVM's [[scratchRoot]] — it dies
    * with the JVM, and so do its layouts, in `layouts/` there. */
  private[graft] def layoutFor(name: String, dir: String): String =
    if (dir.startsWith(s"$scratchRoot/")) s"$scratchRoot/layouts/$name"
    else shared(name)

  /** Fingerprint-keyed shared-layout path: the ONE spelling of the
    * cache key (prefix + sanitized dir + source fingerprint). Layouts
    * derive their key here — a drifted sanitizer or separator in a
    * hand-copied variant would silently fork that layout's cache. */
  private[graft] def sharedFor(spark: SparkSession, prefix: String,
      dir: String): String =
    layoutFor(prefix + "_" + dir.replaceAll("[^A-Za-z0-9.]+", "_") + "_" +
      sourceFingerprint(spark, dir), dir)

  /** Per-(session, root) resolved relation for IMMUTABLE shared
    * layouts. A raw-path `spark.read.parquet(root)` re-lists the tree
    * and re-infers partition values from every leaf path on EVERY
    * query — ~0.7 s of driver CPU against the 3 000-directory 6-field
    * layout, paid per invocation. A real deployment reads such a
    * table through the catalog, whose `CatalogFileIndex` + relation
    * cache resolve once per table lifetime; this map is that behavior
    * for the fingerprint-keyed write-once layouts (safe exactly
    * because they are immutable once published — mutated scratch
    * tables must never go through here). Keyed by sessionUUID — unique
    * per session by construction, where identityHashCode could collide
    * two sessions and serve a relation bound to the wrong (possibly
    * stopped) one. Entries are dropped lazily: any insert first evicts
    * keys of stopped sessions, so a spec churn of short-lived sessions
    * can't pin their relations for the JVM lifetime. */
  private val relationCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.DataFrame]()
  private[graft] def readSharedTable(spark: SparkSession,
      root: String): org.apache.spark.sql.DataFrame = {
    // misuse guard: per-JVM scratch (tmp(), "/jvm-<pid>/") is MUTABLE —
    // serving a cached relation of a path a mutation key rewrites would
    // return stale files. Only the write-once shared() namespace enters.
    require(!root.contains("/jvm-") || root.startsWith(s"$scratchRoot/layouts/"),
      s"readSharedTable is for immutable shared layouts, got scratch: $root")
    val key = (org.apache.spark.sql.GraftBridge.sessionId(spark), root)
    // piggybacked eviction on the MISS path only (the hot cached-read
    // path stays lock-free): a stopped session's entries are dead
    // weight (its DataFrames are unusable). The sweep runs BEFORE
    // computeIfAbsent — ConcurrentHashMap forbids mutating other
    // mappings from inside a mapping function (same-bin deadlock).
    if (!relationCache.containsKey(key)) {
      val it = relationCache.keySet().iterator()
      while (it.hasNext) {
        val k = it.next()
        val df = relationCache.get(k)
        if (df != null && df.sparkSession.sparkContext.isStopped) it.remove()
      }
    }
    relationCache.computeIfAbsent(key, _ => spark.read.parquet(root))
  }

  private[graft] def fsExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Delete `p`, failing loudly: a delete the file system reports as
    * failed on a path that still exists throws instead of letting the
    * caller carry on over files it believes are gone. */
  private[graft] def deleteOrThrow(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, recursive: Boolean): Unit =
    if (fs.exists(p) && !fs.delete(p, recursive))
      throw new java.io.IOException(s"could not delete $p")

  /** Cross-process-safe write-once build — the one build-once path for
    * every shared layout. All writers of `out` serialize on
    * [[withLayoutLock]]; under the lock an INCOMPLETE `out` (a crashed
    * build) is cleared, `build` fills `out` in place, and only then is
    * the sibling marker `<out>.done` created — that create is the
    * publish. The marker sits next to `<out>.lock`, outside the tree:
    * Spark's file index never lists it, and a [[LakeOps.cloneTree]] of
    * a complete layout can never carry it into a derived layout that
    * has not finished building. Invariant: a layout that ever read as
    * complete is never deleted or mutated again (the clear re-checks
    * the marker under the lock), so a process scanning a complete
    * layout can never have it swapped out from under it; late writers
    * re-check under the lock and simply reuse the winner's build.
    * Layouts are keyed by corpus, not code: a builder whose output
    * changes bumps its [[sharedFor]] prefix (`_v2`, `_w2`, ...). */
  private[graft] def buildShared(spark: SparkSession, out: String)(
      build: String => Unit): String = {
    val done = java.nio.file.Paths.get(out + ".done")
    if (java.nio.file.Files.exists(done)) return out
    withLayoutLock(out) {
      if (!java.nio.file.Files.exists(done)) { // a racer may have won
        val outPath = new org.apache.hadoop.fs.Path(out)
        deleteOrThrow(outPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration), outPath, recursive = true)
        build(out)
        java.nio.file.Files.createFile(done)
      }
    }
    out
  }

  private[graft] def pidAlive(p: Long): Boolean = {
    val h = java.lang.ProcessHandle.of(p)
    h.isPresent && h.get().isAlive
  }

  /** Liveness of the pid recorded in a lock/breaker file. Empty or
    * unparseable content has NO live owner — a writer died between
    * CREATE_NEW and its pid write, or the write tore — and MUST read as
    * dead in BOTH the take-lock and break-lock decisions: opposite
    * polarities here once wedged every waiter in a no-sleep spin (the
    * taker said "dead, break it", the breaker said "not provably dead,
    * refuse", forever). */
  private def lockOwnerAlive(content: String): Boolean =
    content.trim.toLongOption.exists(pidAlive)

  /** Hold `out`'s writer lock (an O_EXCL-created pid file) around `body`.
    * A lock whose owning pid is dead is broken and re-contended, so a
    * crashed build never wedges the layout. Pid-reuse can mis-read a
    * dead owner as alive for one reap cycle — acceptable for scratch
    * coordination (the lock is retried, never abandoned). */
  private[graft] def withLayoutLock[T](out: String)(body: => T): T = {
    val lock = java.nio.file.Paths.get(out + ".lock")
    java.nio.file.Files.createDirectories(lock.getParent)
    val me = java.lang.ProcessHandle.current().pid().toString
    var held = false
    while (!held) {
      // acquisition is write-then-LINK (the [[graft.sources.LakeOps
      // .tryCommit]] idiom): the pid lands in a private acquire file
      // first, and the lock appears via an atomic hard link — so the
      // lock file can NEVER be observed empty or torn. A bare
      // CREATE_NEW-then-write passes through a momentarily-empty state
      // that the dead-owner break (which must treat garbage as dead,
      // or crashes wedge the lock forever) could mis-read as breakable
      // and delete a LIVE owner's lock. A failed write dirties only
      // the private file, reaped in the finally — the shared location
      // never holds a partial acquisition.
      val acq = lock.resolveSibling(lock.getFileName.toString +
        s".acq-$me-${Thread.currentThread().getId}-${System.nanoTime()}")
      try {
        java.nio.file.Files.write(acq, me.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.createLink(lock, acq)
        held = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val ownerAlive = try {
            lockOwnerAlive(new String(
              java.nio.file.Files.readAllBytes(lock),
              java.nio.charset.StandardCharsets.UTF_8))
          } catch { case _: java.io.IOException => true } // racing: retry
          if (ownerAlive) Thread.sleep(100)
          else breakDeadLock(lock)
      } finally {
        try java.nio.file.Files.deleteIfExists(acq)
        catch { case _: java.io.IOException => () }
      }
    }
    try body finally java.nio.file.Files.deleteIfExists(lock)
  }

  /** Break a lock whose owner looked dead — atomically. A bare
    * `deleteIfExists` here is a TOCTOU hole: between our liveness read
    * and our delete, a racing waiter may have broken the lock itself and
    * re-acquired, so we'd delete a LIVE lock and let two builders run.
    * Deletions of `lock` are therefore serialized through a one-shot
    * breaker file (`<lock>.break`, O_EXCL): only its winner may delete,
    * and it re-verifies the owner is still dead immediately before doing
    * so. The lock file can't be re-created while it still exists (waiters
    * use CREATE_NEW), so the re-verified state can't change under us. A
    * breaker that dies mid-break is itself reaped by the same dead-pid
    * rule. */
  private def breakDeadLock(lock: java.nio.file.Path): Unit = {
    val breaker = lock.resolveSibling(lock.getFileName.toString + ".break")
    val me = java.lang.ProcessHandle.current().pid().toString
    try {
      java.nio.file.Files.write(breaker, me.getBytes(
        java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW)
      try {
        val ownerStillDead = try {
          // the SAME decision as the taker (lockOwnerAlive): empty or
          // garbage content must break, or the two sides deadlock
          !lockOwnerAlive(new String(
            java.nio.file.Files.readAllBytes(lock),
            java.nio.charset.StandardCharsets.UTF_8))
        } catch {
          case _: java.nio.file.NoSuchFileException => false // already broken
          case _: java.io.IOException                => false // unsure: don't
        }
        if (ownerStillDead) java.nio.file.Files.deleteIfExists(lock)
      } finally java.nio.file.Files.deleteIfExists(breaker)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        // Another breaker is in flight; reap it only if ITS owner died —
        // and not by bare delete: between our dead-pid read and a delete,
        // a faster racer can reap the dead breaker and CREATE_NEW its own
        // live one, so the delete would remove a LIVE breaker and re-open
        // the double-breaker hole. Reap by atomic same-dir rename into a
        // reaper-unique grave instead: exactly one racer's move succeeds
        // (the source vanishes for the rest), and the post-move content
        // check catches the theft window — if the moved file no longer
        // names the dead pid we observed, it is a racer's live breaker
        // and is restored. (Residual: the restore itself can lose its
        // slot to a third breaker in the same microsecond window; we
        // then yield and the retry loop re-contends — scratch-grade.)
        val deadPid: Option[String] = try {
          val s = new String(java.nio.file.Files.readAllBytes(breaker),
            java.nio.charset.StandardCharsets.UTF_8).trim
          s.toLongOption.filterNot(pidAlive).map(_ => s)
        } catch { case _: java.io.IOException => None }
        deadPid match {
          case Some(d) =>
            val grave = breaker.resolveSibling(
              breaker.getFileName.toString + s".reap.$d.$me")
            try {
              java.nio.file.Files.move(breaker, grave)
              val moved = new String(
                java.nio.file.Files.readAllBytes(grave),
                java.nio.charset.StandardCharsets.UTF_8).trim
              if (moved == d) java.nio.file.Files.delete(grave)
              else java.nio.file.Files.move(grave, breaker)
            } catch {
              case _: java.nio.file.NoSuchFileException => () // racer won
              case _: java.io.IOException => () // restore lost its slot
            }
          case None => Thread.sleep(50)
        }
    }
  }

  /** events + derived partition columns (`Hidden:133-135` identity
    * transforms; values from data, not wall clock). */
  private[graft] def eventsWithParts(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("year", year($"ts"))
      .withColumn("month", month($"ts"))
      .withColumn("day", dayofmonth($"ts"))
  }

  /** Content fingerprint of the source events file (length + mtime): keys
    * the cached layouts below so a regenerated dataset under the same path
    * can never be served stale, and sanitization collisions between
    * distinct dirs ('sf-1' vs 'sf_1') can't alias. */
  /** Fingerprint of ONE named table file under `dir` — for layouts
    * derived from a table other than events: [[sourceFingerprint]]
    * anchors on events.parquet alone, so a layout built from, say,
    * orders would not see orders regenerate. */
  private[graft] def tableFingerprint(spark: SparkSession, dir: String,
      table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    s"${st.getLen}_${st.getModificationTime}"
  }

  private[graft] def sourceFingerprint(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    s"${st.getLen}_${st.getModificationTime}"
  }

  /** `scan_parquet` — projection + pushed predicate over the raw file
    * (`Local:88-92`). */
  def scanParquet(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_orderkey" < 1000)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_extendedprice")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** `scan_schema_only` — footer-only schema read (`Main:30-34`); no row
    * data is touched, the plan is a LocalRelation over the StructType. */
  def scanSchemaOnly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val schema = Tables.lineitem(spark, dir).schema
    schema.fields.zipWithIndex
      .map { case (f, i) => (i.toLong, f.name, f.dataType.sql) }
      .toSeq.toDF("pos", "col_name", "data_type")
      .orderBy($"pos")
  }

  /** `schema_infer_sample` — infer a table's schema from its file's
    * footer on the driver, as `Bulk:109-118` reads the first footer
    * ([[Tables.apply]]). */
  def schemaInferSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val schema = Tables.orders(spark, dir).schema
    schema.fields.zipWithIndex
      .map { case (f, i) => (i.toLong, f.name, f.dataType.sql) }
      .toSeq.toDF("pos", "col_name", "data_type")
      .orderBy($"pos")
  }

  /** `schema_convert` — parquet physical schema → engine schema
    * (`ParquetSchemaUtil.convert` at `Main:37`, `Hidden:119`): the footer's
    * MessageType (int64 / list<float> / int32) surfaces as Spark SQL types
    * with nullability, over the nested-typed embeddings table so the
    * list-element conversion is exercised too. */
  def schemaConvert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val schema = Tables.embeddings(spark, dir).schema
    schema.fields.zipWithIndex
      .map { case (f, i) => (i.toLong, f.name, f.dataType.sql, f.nullable) }
      .toSeq.toDF("pos", "col_name", "data_type", "nullable")
      .orderBy($"pos")
  }

  /** `write_parquet_zstd` — zstd parquet sink + re-read round-trip
    * (`Local:98-133` append loop; here one distributed write). */
  def writeParquetZstd(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tmp("zstd_roundtrip")
    Tables.lineitem(spark, dir)
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd").parquet(out)
    spark.read.parquet(out)
      .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("sum_price"))
  }

  /** `write_partitioned` — Hive-style partition layout
    * `year=/month=/day=` from data-derived values (`Creator:385-409`,
    * `KMS:202-207`); repartition on the partition key first so each
    * partition gets exactly one file (the reference's 128 MB target-file
    * discipline, `Creator:188`). */
  def writePartitioned(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tmp("events_partitioned")
    eventsWithParts(spark, dir)
      .repartition($"year", $"month", $"day")
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .partitionBy("year", "month", "day")
      .parquet(out)
    spark.read.parquet(out)
      .filter($"month" === 1 && $"day".between(10, 12))
      .groupBy($"year".cast("long").as("year"),
        $"month".cast("long").as("month"), $"day".cast("long").as("day"))
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"year", $"month", $"day")
  }

  /** `append_commit` — atomic append of a second batch to an existing
    * layout (`Bulk:97-101` single commit; Spark's output committer gives
    * job-level atomicity, SURVEY §2a divergence note). */
  def appendCommit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tmp("events_append")
    // one source scan feeds both commits (the localCheckpoint lineage
    // cut used throughout), and each commit clusters by its partition
    // column first — without that, every one of the 32 write tasks
    // opens a file per day and the commit cost is files, not bytes
    val ev = eventsWithParts(spark, dir)
      .filter($"day".between(1, 10)).localCheckpoint()
    ev.filter($"day".between(1, 5)).repartition($"day")
      .write.mode(SaveMode.Overwrite).partitionBy("day").parquet(out)
    ev.filter($"day".between(6, 10)).repartition($"day")
      .write.mode(SaveMode.Append).partitionBy("day").parquet(out)
    spark.read.parquet(out)
      .groupBy($"day".cast("long").as("day"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"day")
  }

  /** `ingest_parallel` — the Bulk fan-out/join (`Bulk:78-101`): four
    * "batches" written independently, then ingested by ONE scan over all
    * four directories (Spark schedules the file reads across tasks — the
    * thread pool is the task scheduler). */
  def ingestParallel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // one source scan feeds all four batch writes (the same eager
    // lineage-cut discipline as appendCommit/ingestQuarantine)
    val ev = Tables.events(spark, dir).withColumn(
      "batch", pmod($"event_id", lit(4L)))
      .localCheckpoint()
    (0L until 4L).foreach { b =>
      ev.filter($"batch" === b).write.mode(SaveMode.Overwrite)
        .parquet(tmp(s"ingest_batch/b$b"))
    }
    spark.read.parquet((0 until 4).map(b => tmp(s"ingest_batch/b$b")): _*)
      .groupBy($"batch")
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"))
      .orderBy($"batch")
  }

  /** `datafile_stats` — per-file metadata after a partitioned write
    * (`DataFiles.builder` stats at `Local:126-132`): file counts and row
    * counts per partition via input_file_name(), proving the
    * one-file-per-partition layout. */
  def datafileStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tmp("events_stats")
    eventsWithParts(spark, dir)
      .repartition($"year", $"month", $"day")
      .write.mode(SaveMode.Overwrite).partitionBy("year", "month", "day")
      .parquet(out)
    spark.read.parquet(out)
      .withColumn("fname", input_file_name())
      .groupBy($"year".cast("long").as("year"),
        $"month".cast("long").as("month"), $"day".cast("long").as("day"))
      .agg(countDistinct($"fname").as("n_files"),
        count(lit(1)).as("n_rows"))
      .orderBy($"year", $"month", $"day")
  }

  /** `table_create` — idempotent catalog table creation + insert + query
    * (`Main:55-67`, `Creator:147-181`): namespace → `CREATE TABLE ...
    * USING parquet PARTITIONED BY`, then read back through the catalog. */
  def tableCreate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS graft")
    spark.sql("DROP TABLE IF EXISTS graft.events_tbl")
    // the in-memory catalog forgets tables between sessions but their
    // managed locations survive — clear the stale dir or CREATE fails
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/graft.db/events_tbl")
    deleteOrThrow(loc.getFileSystem(spark.sparkContext.hadoopConfiguration),
      loc, recursive = true)
    eventsWithParts(spark, dir)
      .select($"event_id", $"user_id", $"event_type", $"value", $"day")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("day")
      .saveAsTable("graft.events_tbl")
    spark.table("graft.events_tbl")
      .groupBy($"day".cast("long").as("day"))
      .agg(count(lit(1)).as("n"), countDistinct($"event_type").as("n_types"))
      .orderBy($"day")
  }

  /** `table_props` — write-property management (`table.updateProperties()
    * .set(...).commit()` at `Local:82-85`, values from `Creator:184-191`):
    * set via ALTER TABLE, read back via SHOW TBLPROPERTIES. */
  def tableProps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS graft")
    spark.sql("DROP TABLE IF EXISTS graft.props_tbl")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/graft.db/props_tbl")
    deleteOrThrow(loc.getFileSystem(spark.sparkContext.hadoopConfiguration),
      loc, recursive = true)
    spark.sql(
      "CREATE TABLE graft.props_tbl (k INT) USING parquet TBLPROPERTIES (" +
        "'write.parquet.compression-codec'='zstd')")
    spark.sql("ALTER TABLE graft.props_tbl SET TBLPROPERTIES (" +
      "'write.target-file-size-bytes'='134217728'," +
      "'write.parquet.page-size-bytes'='1048576'," +
      "'write.parquet.dict-size-bytes'='2097152')")
    spark.sql("SHOW TBLPROPERTIES graft.props_tbl")
      .filter($"key".startsWith("write."))
      .orderBy($"key")
  }

  /** Source-fingerprint-keyed partitioned layout on the reference's full
    * 6-field identity spec — tenant / year / month / day / hour
    * (`AIGEventsTableCreator.java:164-180`; tenant bucketed mod 4 so the
    * local dir count stays tractable — at 100 TB each identity cell is a
    * real partition). Written once per (dir, fingerprint) and reused, so a
    * regenerated dataset is never served stale and re-invocations measure
    * the pruned READ, not a rewrite. */
  private[graft] def partitionedLayout(spark: SparkSession,
      dir: String): String = {
    import spark.implicits._
    val out = sharedFor(spark, "events_layout", dir)
    buildShared(spark, out) { tmpRoot =>
      eventsWithParts(spark, dir)
        .withColumn("tenant_bucket", pmod($"user_id", lit(4L)))
        .withColumn("hour", hour($"ts"))
        .repartition(col("tenant_bucket"), col("year"), col("month"),
          col("day"), col("hour"))
        .write.mode(SaveMode.Overwrite)
        .option("compression", "zstd")
        .partitionBy("tenant_bucket", "year", "month", "day", "hour")
        .parquet(tmpRoot)
    }
  }

  /** `partition_prune_scan` — metadata-pruned read of the partitioned
    * layout with the reference's headline compound predicate: tenant bucket
    * AND hour range (`TimeEx:171-176` tenant+time scan planned over
    * manifests `TimeEx:180-195`). Both predicate legs are partition
    * columns, so pruning happens on directory metadata before any row is
    * read — file-count assertion in IngestSpec. */
  def partitionPruneScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = partitionedLayout(spark, dir)
    readSharedTable(spark, out)
      .filter($"tenant_bucket" === 2 && $"day" === 15 &&
        $"hour".between(6, 12))
      .groupBy($"hour".cast("long").as("hour"))
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"))
      .orderBy($"hour")
  }

  /** `alter_add_cols` — schema evolution on an EXISTING table
    * (`Bulk:120-126` add-columns semantics applied post-hoc): a v1 batch
    * lands without `event_type`/`day`, the table is then widened and a v2
    * batch written with the new columns; a `mergeSchema` read unifies the
    * footers and v1 rows surface NULLs in the added columns. */
  def alterAddCols(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tmp("events_evolved")
    val ev = eventsWithParts(spark, dir)
    ev.filter($"day" <= 15).select($"event_id", $"user_id", $"value")
      .write.mode(SaveMode.Overwrite).parquet(out)
    ev.filter($"day" > 15)
      .select($"event_id", $"user_id", $"value", $"event_type", $"day")
      .write.mode(SaveMode.Append).parquet(out)
    spark.read.option("mergeSchema", "true").parquet(out)
      .groupBy(when($"event_type".isNull, lit("v1")).otherwise(lit("v2"))
        .as("batch"))
      .agg(count(lit(1)).as("n"),
        count($"event_type").as("n_typed"),
        countDistinct($"event_type").as("n_types"),
        dsum($"value").as("sum_value"))
      .orderBy($"batch")
  }

  /** `alter_nested_evolve` — schema evolution INSIDE a nested struct
    * (the reference's whole nested machinery is the `policy` struct
    * recursion of `HiddenPartitionLoaderDemNested.java:230-282`; this is
    * its post-hoc evolution counterpart): v1 rows land with
    * `policy = struct(class, score)`, the struct is then widened and v2
    * rows carry an extra nested `region` field. A `mergeSchema` read
    * unifies the struct footers RECURSIVELY — v1 files are never
    * rewritten and their rows surface NULL in the added nested field,
    * exactly Iceberg's add-column contract applied one level down. */
  def alterNestedEvolve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tmp("events_nested_evolved")
    val ev = eventsWithParts(spark, dir)
    ev.filter($"day" <= 15)
      .select($"event_id", struct($"event_type".as("class"),
        $"value".as("score")).as("policy"))
      .write.mode(SaveMode.Overwrite).parquet(out)
    ev.filter($"day" > 15)
      .select($"event_id", struct($"event_type".as("class"),
        $"value".as("score"),
        concat(lit("r"), pmod($"user_id", lit(4L))).as("region"))
        .as("policy"))
      .write.mode(SaveMode.Append).parquet(out)
    spark.read.option("mergeSchema", "true").parquet(out)
      .groupBy(when($"policy.region".isNull, lit("v1")).otherwise(lit("v2"))
        .as("batch"))
      .agg(count(lit(1)).as("n"),
        count($"policy.region").as("n_region"),
        countDistinct($"policy.region").as("n_regions"),
        countDistinct($"policy.class").as("n_classes"),
        dsum($"policy.score").as("sum_score"))
      .orderBy($"batch")
  }

  /** Snapshot-versioned table emulation, written once per (dir,
    * fingerprint): three batch appends of the five declared columns land
    * like `Bulk:97-101` commits (days 1-5, 6-10, 11-15, one file per day
    * partition), each one [[LakeOps.stage]] + [[LakeOps.commit]] with no
    * ref, so the manifest `metadata/snap-N.txt` records exactly the data
    * files that snapshot added, with their stats, and the schema it
    * committed — the
    * Iceberg metadata-tree shape (`Debug:164-196`) that makes both the
    * history walk and time-travel reads pure metadata operations
    * afterwards. Returns the table root. */
  private[graft] def snapshotLayout(spark: SparkSession,
      dir: String): String = {
    // suffix versions the WIRE format (w4 = stats in the manifest
    // entries): a layout cached by an older build would otherwise be
    // served with the stale emission
    val out = sharedFor(spark, "events_snapshots_w4", dir)
    buildShared(spark, out) { tmpRoot =>
      val ev = eventsWithParts(spark, dir).filter(col("day").between(1, 15))
        .select("event_id", "user_id", "event_type", "value", "day")
      val snapsSeq = Seq((1, 5), (6, 10), (11, 15)).map { case (lo, hi) =>
        val staged = LakeOps.stage(spark, tmpRoot)(
          ev.filter(col("day").between(lo, hi)).repartition(col("day")))
        val n = LakeOps.commit(spark, tmpRoot, staged, ref = None)
        (n, 1705276800000L + n * 1000L, staged.files.size)
      }
      // commit log: snapshot -> committed-at millis (the reference stamps
      // wall clock; deterministic literals per SURVEY §7.3 so the oracle
      // can reproduce them). The log is what AS-OF-TIMESTAMP reads
      // resolve against — one metadata file, like Iceberg's
      // snapshot-log entries in table metadata.
      writeMetaLines(spark, tmpRoot, "metadata/commits.txt",
        (1 to 3).map(n => s"$n=${1705276800000L + n * 1000L}"))
      // the Iceberg-v2 table-metadata wire format over the same state:
      // real avro manifests + manifest-lists, then the metadata.json
      // pointing at them, both declaring the committed schema
      val schema = LakeOps.snapshotSchema(spark, tmpRoot, 3)
      val lists = writeAvroManifests(spark, tmpRoot, snapsSeq, schema)
      writeIcebergMetadataJson(spark, tmpRoot, snapsSeq, schema, lists)
    }
  }

  /** `path` as the fully-qualified URI its filesystem serves it under
    * (e.g. `file:/...` locally, `hdfs://nn/...` on a cluster) — the
    * form the Iceberg spec requires for every `manifest-list`,
    * `manifest_path` and `file_path` pointer, so an id-resolving
    * reader can open them without a table-root convention. Safe to
    * bake at build time: [[buildShared]] builds layouts IN PLACE at
    * their final fingerprint-keyed path (no rename), and moving an
    * Iceberg table has always required a metadata rewrite. */
  private def qualifiedUri(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  /** Write the Iceberg-v2-format `metadata/v{N}.metadata.json` +
    * `version-hint.text` for a 3-commit snapshot table (spec §"Table
    * Metadata", resolved through version-hint by `HadoopCatalog`
    * readers), every required v2 field from the table's real state: the
    * committed `schema` and its identity spec, the snapshots with
    * parentage, sequence numbers, the avro manifest-list URIs and
    * summaries agreeing with the manifest entries, the snapshot log from
    * the commits.txt AS-OF reads resolve against, and the refs.
    * IngestSpec parses it back against the metadata tables. */
  private[graft] def writeIcebergMetadataJson(spark: SparkSession,
      root: String, snaps: Seq[(Int, Long, Int)], schema: TableSchema,
      manifestLists: Map[Int, (String, Long)]): Unit = {
    val uuid = java.util.UUID.nameUUIDFromBytes(
      root.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val qroot = qualifiedUri(spark, root)
    val last = snaps.last
    val snapsJson = snaps.map { case (id, ms, nFiles) =>
      val parent = if (id == snaps.head._1) ""
        else s""""parent-snapshot-id":${id - 1},"""
      val (ml, addedRecords) = manifestLists(id)
      s"""{"snapshot-id":$id,${parent}"sequence-number":$id,""" +
        s""""timestamp-ms":$ms,""" +
        s""""manifest-list":"$ml",""" +
        s""""summary":{"operation":"append",""" +
        s""""added-data-files":"$nFiles","added-records":"$addedRecords"""" +
        s"""},"schema-id":0}"""
    }.mkString("[", ",", "]")
    val logJson = snaps.map { case (id, ms, _) =>
      s"""{"timestamp-ms":$ms,"snapshot-id":$id}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"format-version":2,"table-uuid":"$uuid",""" +
        s""""location":"$qroot","last-sequence-number":${last._1},""" +
        s""""last-updated-ms":${last._2},""" +
        s""""last-column-id":${schema.lastId},""" +
        s""""current-schema-id":0,"schemas":[${schema.icebergJson}],""" +
        s""""default-spec-id":0,"partition-specs":[{"spec-id":0,""" +
        s""""fields":${schema.icebergSpecJson}}],"last-partition-id":1000,""" +
        s""""default-sort-order-id":0,"sort-orders":[{"order-id":0,""" +
        s""""fields":[]}],"properties":{},""" +
        s""""current-snapshot-id":${last._1},"snapshots":$snapsJson,""" +
        s""""snapshot-log":$logJson,"metadata-log":[],""" +
        s""""refs":{"main":{"snapshot-id":${last._1},""" +
        s""""type":"branch"}}}"""
    writeMetaLines(spark, root,
      s"metadata/v${last._1}.metadata.json", Seq(json))
    writeMetaLines(spark, root, "metadata/version-hint.text",
      Seq(last._1.toString))
  }

  /** Iceberg avro schema of one MANIFEST entry (spec §"Manifests", v2):
    * the required fields with their spec field-ids carried as the
    * `field-id` attribute — the id mapping Iceberg's avro codec uses.
    * Unlisted optional columns (bounds, null counts) live in the text
    * manifest entries, the engine's planning surface. */
  private val ManifestEntrySchema = new org.apache.avro.Schema.Parser()
    .parse("""{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,
      | "field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,
      | "field-id":3},
      |{"name":"file_sequence_number","type":["null","long"],
      | "default":null,"field-id":4},
      |{"name":"data_file","field-id":2,"type":{"type":"record",
      | "name":"r2","fields":[
      |  {"name":"content","type":"int","field-id":134},
      |  {"name":"file_path","type":"string","field-id":100},
      |  {"name":"file_format","type":"string","field-id":101},
      |  {"name":"partition","field-id":102,"type":{"type":"record",
      |   "name":"r102","fields":[{"name":"day","type":["null","int"],
      |    "default":null,"field-id":1000}]}},
      |  {"name":"record_count","type":"long","field-id":103},
      |  {"name":"file_size_in_bytes","type":"long","field-id":104}
      |]}}]}""".stripMargin)

  /** Iceberg avro schema of one MANIFEST-LIST entry (spec §"Snapshots",
    * v2 required fields, spec field-ids as `field-id`). */
  private val ManifestListSchema = new org.apache.avro.Schema.Parser()
    .parse("""{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin)

  /** Write `records` as a real avro file at `path` (hadoop FS), with
    * `meta` as the file's key-value metadata — where the Iceberg spec
    * puts a manifest's schema/partition-spec/format-version/content
    * properties (set before create; avro freezes metadata at header
    * write). */
  private def writeAvro(spark: SparkSession, path: String,
      schema: org.apache.avro.Schema,
      records: Seq[org.apache.avro.generic.GenericRecord],
      meta: Map[String, String] = Map.empty): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val os = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](schema))
    try {
      meta.foreach { case (k, v) => w.setMeta(k, v) }
      w.create(schema, os)
      records.foreach(w.append)
    } finally w.close() // closes os
  }

  /** Emit REAL avro manifests for the 3-commit snapshot table (avro
    * ships with Spark): per snapshot, `manifest-snap-N.avro` holds one
    * spec-shaped manifest_entry per ADDED data file (status=1,
    * content=DATA, `day` tuple from the path, record_count and length
    * from the manifest entry), and `manifest-list-snap-N.avro` lists
    * the manifests of snapshots 1..N — the cumulative view a snapshot's
    * `manifest-list` pointer serves. Pointers are full URIs, field-ids
    * ride the avro schemas as `field-id` attributes, and each file
    * carries the spec's key-value metadata (manifests: the committed
    * `schema`'s Iceberg JSON, spec, ids, format-version, content; lists:
    * format-version and snapshot ids). Returns, per snapshot, the list's
    * URI and added-record count, so the metadata.json summary agrees
    * file-for-file (IngestSpec reads both back). */
  private[graft] def writeAvroManifests(spark: SparkSession, root: String,
      snaps: Seq[(Int, Long, Int)],
      schema: TableSchema): Map[Int, (String, Long)] = {
    import org.apache.avro.generic.GenericData
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qroot = qualifiedUri(spark, root)
    val manifestMeta = Map(
      "schema" -> schema.icebergJson,
      "schema-id" -> "0",
      "partition-spec" -> schema.icebergSpecJson,
      "partition-spec-id" -> "0",
      "format-version" -> "2",
      "content" -> "data")
    val perSnap = snaps.map { case (id, _, _) =>
      val added = readMetaFile(spark, root, s"metadata/snap-$id.txt")._1
      val entries = added.sortBy(_.rel).map { st =>
        val e = new GenericData.Record(ManifestEntrySchema)
        e.put("status", 1) // ADDED
        e.put("snapshot_id", id.toLong)
        e.put("sequence_number", id.toLong)
        e.put("file_sequence_number", id.toLong)
        val df = new GenericData.Record(
          ManifestEntrySchema.getField("data_file").schema())
        df.put("content", 0) // DATA
        df.put("file_path", s"$qroot/data/${st.rel}")
        df.put("file_format", "PARQUET")
        val part = new GenericData.Record(ManifestEntrySchema
          .getField("data_file").schema().getField("partition").schema())
        part.put("day", st.partition("day").map(Int.box).orNull)
        df.put("partition", part)
        df.put("record_count", st.recorded.rows)
        df.put("file_size_in_bytes", st.recorded.size)
        e.put("data_file", df)
        e
      }
      val mpath = s"metadata/manifest-snap-$id.avro"
      writeAvro(spark, s"$root/$mpath", ManifestEntrySchema, entries,
        manifestMeta)
      (id, mpath, entries.size, added.map(_.recorded.rows).sum)
    }
    snaps.map { case (id, _, _) =>
      val rows = perSnap.filter(_._1 <= id).map {
        case (mid, mpath, nf, nr) =>
          val r = new GenericData.Record(ManifestListSchema)
          r.put("manifest_path", s"$qroot/$mpath")
          r.put("manifest_length", fs.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$root/$mpath")).getLen)
          r.put("partition_spec_id", 0)
          r.put("content", 0) // data manifests
          r.put("sequence_number", mid.toLong)
          r.put("min_sequence_number", mid.toLong)
          r.put("added_snapshot_id", mid.toLong)
          r.put("added_files_count", nf)
          r.put("existing_files_count", 0)
          r.put("deleted_files_count", 0)
          r.put("added_rows_count", nr)
          r.put("existing_rows_count", 0L)
          r.put("deleted_rows_count", 0L)
          r
      }
      val lpath = s"metadata/manifest-list-snap-$id.avro"
      val listMeta = Map(
        "format-version" -> "2",
        "snapshot-id" -> id.toString,
        "sequence-number" -> id.toString,
        "parent-snapshot-id" ->
          (if (id == snaps.head._1) "null" else (id - 1).toString))
      writeAvro(spark, s"$root/$lpath", ManifestListSchema, rows, listMeta)
      val addedRows = perSnap.find(_._1 == id).map(_._4).getOrElse(0L)
      id -> (s"$qroot/$lpath", addedRows)
    }.toMap
  }

  /** Commit log (snapshot → committed-at ms), ascending by snapshot. */
  private[graft] def commitLog(spark: SparkSession,
      root: String): Seq[(Int, Long)] = {
    readMetaLines(spark, root, "metadata/commits.txt").map { l =>
      val Array(n, ms) = l.split("=", 2)
      (n.toInt, ms.toLong)
    }.sortBy(_._1)
  }

  /** Parse the newline-delimited metadata file `root/rel` into its
    * entries ([[ManifestEntry]]: a path or value, with a snapshot
    * manifest's stats), its `#key value` headers and, apart, a snapshot
    * manifest's removal entries — ONE parser behind every manifest/ref/log
    * surface. A `#crc` mismatch ([[ManifestEntry.seal]]) throws, and so
    * does an absent `metadata/snap-N.txt`, whose files a reader taking it
    * as empty would drop; any other absent file reads as empty. */
  private[graft] def readMetaFile(spark: SparkSession, root: String,
      rel: String): (Seq[ManifestEntry], Map[String, String],
      Seq[ManifestEntry]) = {
    val p = new org.apache.hadoop.fs.Path(root, rel)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = try fs.open(p) catch {
      case e: java.io.FileNotFoundException =>
        if (rel.matches("metadata/snap-\\d+\\.txt")) throw
          new IllegalStateException(s"$root/$rel is missing", e)
        return (Seq.empty, Map.empty, Seq.empty)
    }
    val txt = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    val lines = txt.split("\n").toSeq.filter(_.nonEmpty)
    val (headers, entries) = lines.partition(_.startsWith("#"))
    val hs = headers.map(_.drop(1).split(" ", 2))
      .map(kv => kv(0) -> kv.lift(1).getOrElse("")).toMap
    hs.get("crc").foreach { crc =>
      val got = ManifestEntry.crc(lines.filterNot(_.startsWith("#crc ")))
      if (got != crc) throw new IllegalStateException(s"$root/$rel is " +
        s"damaged: its lines checksum to $got, its #crc header says $crc")
    }
    val (removed, added) = entries.map(ManifestEntry.parse).partition(_.removed)
    (added, hs, removed)
  }

  /** The entry paths of the metadata file `root/rel` ([[readMetaFile]]). */
  private[graft] def readMetaLines(spark: SparkSession, root: String,
      rel: String): Seq[String] = readMetaFile(spark, root, rel)._1.map(_.rel)

  /** Overwrite `root/rel` with the sorted newline-delimited lines —
    * [[readMetaLines]]' write-side twin. */
  private[graft] def writeMetaLines(spark: SparkSession, root: String,
      rel: String, lines: Iterable[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(root, rel)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // delete-before-create: fs.create(overwrite=true) TRUNCATES the
    // existing inode, and metadata files may be hard links into a shared
    // immutable base (LakeOps.cloneTree) — truncating through the link
    // would corrupt the base for every later clone. The unlink breaks
    // the link first, turning the no-in-place-mutation convention into a
    // structural guarantee — so a refused unlink must fail the write,
    // never fall through to the truncating create.
    deleteOrThrow(fs, p, recursive = false)
    val os = fs.create(p, true)
    os.write(lines.toSeq.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    os.close()
  }

  /** Relative (to `data/`) paths of every data file under `data`: each
    * regular file whose path has no hidden (`_`/`.`) component, of any
    * format — an ORC commit's files are data files too. */
  private[graft] def listDataFiles(spark: SparkSession,
      data: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(data)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val b = Set.newBuilder[String]
    while (it.hasNext) {
      val f = it.next().getPath.toString
      val rel = f.substring(f.lastIndexOf("/data/") + 6)
      if (!rel.split("/").exists(_.matches("[_.].*"))) b += rel
    }
    b.result()
  }

  /** Data-file relative paths recorded by snapshot N's manifest. */
  private[graft] def snapshotManifest(spark: SparkSession, root: String,
      n: Int): Seq[String] =
    readMetaLines(spark, root, s"metadata/snap-$n.txt")

  /** `snapshot_log` — the Iceberg snapshot-history walk (`Debug:164-196`:
    * per-snapshot id, timestamp, operation, added file/record counts,
    * cumulative size) over the emulated snapshot table. Pure METADATA, no
    * data scan: the reference walks `table.snapshots()` whose summaries
    * come from manifest metrics recorded at commit time, and this engine's
    * manifest entries (stats read from each file's footer when its commit
    * staged it, [[LakeOps.stage]]) carry exactly those per-file record
    * counts — so the log is 4 tiny metadata reads regardless of table
    * size, which
    * is what makes a history walk over a 100 TB table instant. `n_files`
    * is the snapshot's distinct-day count — the layout's one-file-per-day
    * commit discipline — so a writer-side file split (e.g. a non-default
    * maxRecordsPerFile) can't change the logical answer; the physical
    * listing is asserted separately in IngestSpec. Commit timestamps are
    * literals per SURVEY §7.3 (the reference stamps wall clock). */
  def snapshotLog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = snapshotLayout(spark, dir)
    // committed-at stamps come from the PERSISTED commit log — the same
    // metadata snapshot_read_attime resolves against
    val commits = commitLog(spark, root).toMap
    var cum = 0L
    (1 to 3).map { n =>
      val added = readMetaFile(spark, root, s"metadata/snap-$n.txt")._1
      val nRows = added.map(_.recorded.rows).sum
      val nFiles = added.map(f => f.partition("day").fold(f.rel)(_.toString))
        .distinct.size.toLong
      cum += nRows
      (n.toLong, commits(n), "append", nFiles, nRows, cum)
    }.toDF("snapshot_id", "committed_ms", "operation", "n_files",
      "n_rows", "total_rows")
      .orderBy($"snapshot_id")
  }

  /** `snapshot_read_asof` — time-travel READ: query the table AS OF
    * snapshot 2 (`TimeEx:198-230` lists snapshots precisely to pick one;
    * `Debug:164-196` walks the same history). The scan's file list is the
    * union of manifests 1..2 — files committed by snapshot 3 are never
    * opened (input_file_name assertion in IngestSpec), which is exactly
    * Iceberg's planFiles-over-a-snapshot: time travel costs metadata, not
    * a table copy. */
  def snapshotReadAsof(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    LakeOps.readLive(spark, snapshotLayout(spark, dir), 1 to 2)
      .groupBy($"day".cast("long").as("day"))
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"))
      .orderBy($"day")
  }

  /** `snapshot_mixed_format` — a versioned table whose snapshots carry
    * DIFFERENT file formats: snapshot 1 commits parquet files, snapshot 2
    * commits ORC into the same table — Iceberg's per-DataFile
    * `file_format` field, the migration path a real lake walks when a
    * table changes formats without rewriting history. Each snapshot's
    * schema record names its format, so the live read plans each era
    * through its native vectorized reader and unions them
    * ([[LakeOps.readLive]]) — era 1's files are never rewritten
    * (IngestSpec asserts), so the migration costs zero bytes of history.
    * At 100 TB this is how a decade-old table adopts a new format:
    * per-snapshot, incrementally, invisible to readers. */
  def snapshotMixedFormat(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tmp("events_mixed_format")
    val outPath = new org.apache.hadoop.fs.Path(out)
    deleteOrThrow(outPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration), outPath, recursive = true)
    val ev = eventsWithParts(spark, dir)
      .select($"event_id", $"user_id", $"event_type", $"value", $"day")
    // snapshot 1: the parquet era; snapshot 2: the ORC era — appended,
    // era 1 untouched
    Seq((1, 5, "parquet"), (6, 10, "orc")).foreach { case (lo, hi, fmt) =>
      LakeOps.commit(spark, out, LakeOps.stage(spark, out)(
        ev.filter($"day".between(lo, hi)).repartition($"day"), format = fmt),
        ref = None)
    }
    LakeOps.readLive(spark, out, 1 to 2)
      .groupBy($"day".cast("long").as("day"))
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"),
        dsum($"value").as("sum_value"))
      .orderBy($"day")
  }

  /** `alter_rename_col` — column RENAME on an existing table, the third
    * leg of schema evolution beside [[alterAddCols]] (add, top-level)
    * and [[alterNestedEvolve]] (add, nested). Parquet resolves columns
    * by NAME, so a rename can never touch old footers — Iceberg solves
    * this with field-ids, and so does the engine: era 1 commits field 3
    * as `val`, era 2 as `value`, both stamped with id 3
    * ([[withFieldId]]), so the rename commits as a kept id under a new
    * name and the read projects v1's `val AS value` by id. Old files
    * keep their bytes and both eras serve the new name; the cost is one
    * alias in the v1 scan's projection, not a table rewrite. */
  def alterRenameCol(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tmp("events_renamed")
    val outPath = new org.apache.hadoop.fs.Path(out)
    deleteOrThrow(outPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration), outPath, recursive = true)
    // one source scan feeds both era commits (eager lineage cut, the
    // writeVersioned discipline)
    val ev = eventsWithParts(spark, dir)
      .select($"event_id", $"event_type", $"value", $"day")
      .localCheckpoint()
    commitEras(spark, out, Seq(ev.filter($"day" <= 15) -> "val",
      ev.filter($"day" > 15) -> "value").map { case (era, name) =>
        era.select($"event_id", $"event_type", withFieldId($"value", name, 3),
          $"day")
      })
    LakeOps.readCurrent(spark, out)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), countDistinct($"day").as("n_days"),
        dsum($"value").as("sum_value"))
      .orderBy($"event_type")
  }

  /** Stamp a column with its Iceberg-style field id for parquet WRITE:
    * Spark's parquet writer (fieldId.write, on by default) copies the
    * `parquet.field.id` metadata key into the footer's column ids — the
    * SAME numbered-field mechanism `AIGEventsSchemaValidator.java:61-146`
    * builds with `Types.NestedField.required(id, name, type)`, so the
    * era files this engine writes are id-stamped exactly like files an
    * Iceberg writer produces, and a commit keeps the stamped id in its
    * schema record ([[TableSchema.numbered]]): how a rename commits. */
  private[graft] def withFieldId(c: org.apache.spark.sql.Column,
      name: String, id: Int): org.apache.spark.sql.Column =
    c.as(name, new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(TableSchema.FieldId, id.toLong).build())

  /** Commit each of `eras` as one snapshot of the versioned table at
    * `root`, unpartitioned (`day` stays a data column, as the era
    * footers carry it), moving `main` — the schema-evolution layouts. */
  private def commitEras(spark: SparkSession, root: String,
      eras: Seq[DataFrame]): Unit = eras.foreach(era =>
    LakeOps.commit(spark, root, LakeOps.stage(spark, root)(era, Nil)))

  /** Three-era rename-chain table for [[alterRenameChain]], one commit
    * per era: field 3 starts as physical `a` (holding value), field 5 as
    * physical `c` (holding user_id); rename a→b lands era 2 (b, c),
    * rename c→a lands era 3 (b, a). Every era stamps its footer ids.
    * Built once per corpus fingerprint. */
  private[graft] def renameChainLayout(spark: SparkSession,
      dir: String): String = {
    import spark.implicits._
    buildShared(spark, sharedFor(spark, "events_rename_chain_v3", dir)) {
      out =>
        val ev = eventsWithParts(spark, dir)
          .select($"event_id", $"event_type", $"value", $"user_id", $"day")
          .localCheckpoint()
        def eraCols(valName: String, uidName: String) = Seq(
          withFieldId($"event_id", "event_id", 1),
          withFieldId($"event_type", "event_type", 2),
          withFieldId($"value", valName, 3),
          withFieldId($"user_id", uidName, 5),
          withFieldId($"day", "day", 4))
        commitEras(spark, out, Seq(
          ev.filter($"day" <= 10).select(eraCols("a", "c"): _*),
          ev.filter($"day".between(11, 20)).select(eraCols("b", "c"): _*),
          ev.filter($"day" > 20).select(eraCols("b", "a"): _*)))
    }
  }

  /** `alter_rename_chain` — the rename CHAIN (a→b, then c→a) that
    * separates field-id resolution from name mapping: after the chain,
    * the current name `a` denotes a DIFFERENT field than era 1's
    * physical `a`, so a reader that maps old names to new names (the
    * single-rename shortcut) would serve field 3's values (value) under
    * `a` for era-1 files — silently, with a valid schema. The read
    * resolves every era by field id against the current schema
    * ([[TableSchema.projectOnto]]): era 1's physical `a` binds to field
    * 3 (current name `b`) and current `a` = field 5 (physical `c`
    * there). The oracle computes b/a from value/user_id directly, so a
    * mis-binding flips two aggregate columns and the hash catches it. */
  def alterRenameChain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    LakeOps.readCurrent(spark, renameChainLayout(spark, dir))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsum($"b").as("sum_b"),
        sum($"a").as("sum_a"))
      .orderBy($"event_type")
  }

  /** Two-era table for TYPE-WIDENING evolution, one commit per era: v1
    * files (days 1-15) carry `units` as INT32 and `score` as FLOAT — the
    * narrow physical types stay in the old footers forever; v2 files
    * (days 16+) carry the widened LONG/DOUBLE, with v2 `units` values
    * beyond int32 range so the promotion is load-bearing, not cosmetic.
    * Built once per corpus fingerprint so the spec can prove the read
    * never rewrites a v1 byte. */
  private[graft] def widenLayout(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    buildShared(spark, sharedFor(spark, "events_widened_v3", dir)) { out =>
      val ev = eventsWithParts(spark, dir)
        .select($"event_id", $"event_type", $"user_id", $"value", $"day")
        .localCheckpoint()
      commitEras(spark, out, Seq(
        ev.filter($"day" <= 15).select($"event_id", $"event_type",
          ($"user_id" % 100000L).cast("int").as("units"),
          $"value".cast("float").as("score"), $"day"),
        ev.filter($"day" > 15).select($"event_id", $"event_type",
          (($"user_id" % 100000L) + 3000000000L).as("units"),
          $"value".as("score"), $"day")))
    }
  }

  /** `alter_widen_type` — TYPE-WIDENING schema evolution (int→long,
    * float→double), the fourth leg beside add, nested add and rename:
    * the era drift of the reference's footer-driven schema path
    * (`Bulk:109-126`), which Iceberg promotes natively and Spark's
    * `mergeSchema` REFUSES. The widening commit keeps the fields' ids,
    * so v1 files are scanned in their physical types and CAST in the
    * projection — v1 footers keep INT32/FLOAT bytes forever (IngestSpec
    * proves zero-rewrite by mtime); a type change costs a cast, not a
    * table rewrite. */
  def alterWidenType(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    LakeOps.readCurrent(spark, widenLayout(spark, dir))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"units").as("sum_units"),
        min($"score").as("min_score"), max($"score").as("max_score"))
      .orderBy($"event_type")
  }

  /** Two-era table for column DROP, one commit per era: v1 files (days
    * 1-15) carry the doomed `props` column; v2 files (days 16+) are
    * written AFTER the drop and never contain it. Built once per corpus
    * fingerprint so the spec can prove the drop never rewrites a v1
    * byte. */
  private[graft] def dropLayout(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    buildShared(spark, sharedFor(spark, "events_dropped_v3", dir)) { out =>
      val ev = eventsWithParts(spark, dir)
        .select($"event_id", $"event_type", $"value", $"props", $"day")
        .localCheckpoint()
      commitEras(spark, out,
        Seq(ev.filter($"day" <= 15), ev.filter($"day" > 15).drop("props")))
    }
  }

  /** `alter_drop_col` — column DROP, the fifth leg of schema evolution:
    * the dropped column's bytes stay in every pre-drop footer forever —
    * what changes is the TABLE schema, and the v1 scan's projection onto
    * it leaves the column out (column pruning: the bytes are never even
    * READ). The drop costs one metadata write and zero data IO
    * (IngestSpec mtime-proves) — Iceberg's drop-column contract. */
  def alterDropCol(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    LakeOps.readCurrent(spark, dropLayout(spark, dir))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        count(when($"day" <= 15, 1)).as("n_v1"),
        dsum($"value").as("sum_value"))
      .orderBy($"event_type")
  }

  /** Two-era table for DEFAULT-VALUE column add, one commit per era: v1
    * files (days 1-15) predate the column entirely; v2 files (days 16+)
    * are written after the ALTER, store real per-row `tier` values and
    * commit the column with its initial default `'standard'`. Built
    * once per corpus fingerprint so the spec can prove the add never
    * rewrites a v1 byte. */
  private[graft] def defaultColLayout(spark: SparkSession,
      dir: String): String = {
    import spark.implicits._
    buildShared(spark, sharedFor(spark, "events_defaultcol_v3", dir)) { out =>
      val ev = eventsWithParts(spark, dir)
        .select($"event_id", $"event_type", $"value", $"day")
        .localCheckpoint()
      commitEras(spark, out, Seq(ev.filter($"day" <= 15),
        ev.filter($"day" > 15).withColumn("tier",
          when($"value" >= 50.0, lit("premium")).otherwise(lit("standard"))
            .as("tier", new org.apache.spark.sql.types.MetadataBuilder()
              .putString(TableSchema.InitialDefault, "standard").build()))))
    }
  }

  /** `alter_add_col_default` — ADD COLUMN ... DEFAULT, the sixth leg of
    * schema evolution: Iceberg v3's INITIAL-DEFAULT semantics, `ALTER
    * TABLE ADD COLUMN tier STRING DEFAULT 'standard'` serves
    * `'standard'` (not the NULL a mergeSchema read surfaces) for every
    * row written BEFORE the alter, with zero rewrite. The default is
    * schema metadata, a literal in the pre-add era's projection; post-add
    * files serve their stored values. (IngestSpec mtime-proves the zero
    * rewrite and checks the per-era split.) */
  def alterAddColDefault(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    LakeOps.readCurrent(spark, defaultColLayout(spark, dir))
      .groupBy($"tier")
      .agg(count(lit(1)).as("n"),
        count(when($"day" <= 15, 1)).as("n_v1"),
        countDistinct($"event_type").as("n_types"),
        dsum($"value").as("sum_value"))
      .orderBy($"tier")
  }

  /** `snapshot_read_attime` — time-travel READ by TIMESTAMP (Iceberg's
    * `asOfTimestamp`, the twin of [[snapshotReadAsof]]'s by-id travel):
    * the cutoff resolves against the persisted commit log to the last
    * snapshot committed at-or-before it, then the scan plans that
    * snapshot's manifest union. Resolution is one metadata read; a
    * cutoff between commits 2 and 3 serves exactly snapshot 2's state. */
  def snapshotReadAttime(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = snapshotLayout(spark, dir)
    val cutoffMs = 1705276800000L + 2500L // between commits 2 and 3
    val snaps = commitLog(spark, root).filter(_._2 <= cutoffMs).map(_._1)
    LakeOps.readLive(spark, root, snaps)
      .groupBy($"day".cast("long").as("day"))
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"day")
  }

  /** Format round-trip: write a stable projection of events in `fmt`,
    * read it back, aggregate — proves the engine serves the same answers
    * through every batch source format it writes (the format layer is
    * pluggable; semantics are format-independent). Columns restricted to
    * types every format round-trips losslessly (long, string, double —
    * Double.toString text round-trips bit-exact for CSV/JSON). */
  private def formatRoundTrip(spark: SparkSession, dir: String,
      fmt: String): DataFrame = {
    import spark.implicits._
    val out = tmp(s"events_as_$fmt")
    Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .write.mode(SaveMode.Overwrite).format(fmt)
      .option("header", "true").save(out)
    val reader = spark.read.format(fmt)
      .option("header", "true")
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
        "value DOUBLE")
    // CSV alone needs quote-aware multi-line parsing: the writer quotes
    // an embedded newline, but the default reader splits the physical
    // line mid-record (silently wrong rows). JSON's multiLine option
    // means whole-FILE records — not wanted — and ORC is structural.
    // Cost at scale: a multiLine CSV file is not splittable; the files
    // here are the engine's own writes, sized by its own partitioning.
    (if (fmt == "csv") reader.option("multiLine", "true") else reader)
      .load(out)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"),
        dsum($"value").as("sum_value"))
      .orderBy($"event_type")
  }

  /** `scan_json` — JSON lines sink + schema-ful re-read. */
  def scanJson(spark: SparkSession, dir: String): DataFrame =
    formatRoundTrip(spark, dir, "json")

  /** `scan_csv` — CSV sink + schema-ful re-read (header, typed). */
  def scanCsv(spark: SparkSession, dir: String): DataFrame =
    formatRoundTrip(spark, dir, "csv")

  /** `scan_orc` — ORC columnar sink + re-read (same vectorized reader
    * discipline as parquet). */
  def scanOrc(spark: SparkSession, dir: String): DataFrame =
    formatRoundTrip(spark, dir, "orc")

  /** `compact_files` — small-file compaction (Iceberg's
    * rewriteDataFiles / the reference's 128 MB target-file discipline,
    * `Creator:188`): a fragmented layout of 64 undersized files is
    * rewritten into 4 right-sized ones; before/after file and row counts
    * prove rows survive byte-for-byte. At 100 TB the output file count is
    * ceil(sum(bytes)/target_file_size) per partition — fixed at 4 here so
    * the answer is environment-independent (zstd ratios vary); the
    * repartition IS the compaction shuffle, one pass over the data. */
  def compactFiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the fragmented base is the PRE-EXISTING table state compaction
    // heals — an immutable shared fixture (like the lake-mutation
    // bases), not work the compaction itself should be charged for
    val frag = s"${fragmentedLayout(spark, dir)}/data"
    val out = tmp("compact_rewritten")
    spark.read.parquet(frag)
      .repartition(4)
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd").parquet(out)
    def stats(path: String, phase: String) =
      spark.read.parquet(path)
        .withColumn("fname", input_file_name())
        .agg(countDistinct($"fname").as("n_files"),
          count(lit(1)).as("n_rows"))
        .select(lit(phase).as("phase"), $"n_files", $"n_rows")
    stats(out, "after").union(stats(frag, "before")).orderBy($"phase")
  }

  /** The 64-small-file fragmented events layout [[compactFiles]] rewrites
    * — built once per corpus fingerprint and never mutated (compaction
    * reads it, writes elsewhere), so it is shareable across processes
    * like the lake-mutation bases. */
  private[graft] def fragmentedLayout(spark: SparkSession,
      dir: String): String = {
    val out = sharedFor(spark, "events_fragmented", dir)
    buildShared(spark, out) { tmpRoot =>
      Tables.events(spark, dir)
        .repartition(64)
        .write.mode(SaveMode.Overwrite).parquet(s"$tmpRoot/data")
    }
  }

  /** `sort_cluster_write` — sort-ordered (clustered) layout: range-
    * partition by user_id, sort each file by (user_id, ts) — Iceberg's
    * SORTED BY write discipline. Every parquet row group then carries a
    * tight user_id min/max, so a point/range predicate skips all but one
    * file's worth of row groups at scan time — the complement of
    * directory-level pruning (partition_prune_scan) for high-cardinality
    * keys that can't be directory partitions. The read-back aggregates a
    * user_id band to prove the clustered layout serves it correctly. */
  def sortClusterWrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tmp("events_clustered")
    Tables.events(spark, dir)
      .repartitionByRange(8, $"user_id")
      .sortWithinPartitions($"user_id", $"ts")
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd").parquet(out)
    spark.read.parquet(out)
      .filter($"user_id".between(100L, 119L))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"user_id")
  }

  /** Bit-interleaved Z-value of two pre-bucketed dimensions (`bits` bits
    * each): dimension A's bit i lands at position 2i, B's at 2i+1. The
    * disjoint positions make `+` a safe OR. */
  private def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** `zorder_cluster_write` — multi-dimensional clustering (Delta/Iceberg
    * OPTIMIZE ZORDER BY (user_id, day)): each dimension is first mapped to
    * a 5-bit range bucket (user_id by its max — at 100 TB the bounds come
    * from a sample/approxQuantile, exactly Delta's range-ID step; day is
    * already 1-31), the buckets are bit-interleaved into a Z-value, and
    * the table is range-partitioned + sorted by that Z-value. Unlike the
    * 1-D sort (sort_cluster_write), BOTH a user-band predicate and a
    * day-band predicate skip most files — each dimension's selectivity
    * degrades only by the square root, not to a full scan (ZOrderSpec
    * asserts the file-skipping vs the 1-D layout). Read-back aggregates a
    * both-dims box to prove the clustered layout serves it correctly. */
  def zorderClusterWrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tmp("events_zorder")
    val ev = eventsWithParts(spark, dir)
    // box bounds relative to the data so the query is non-empty at every
    // scale factor (the oracle derives the same bounds with a subquery)
    val umax = ev.agg(max($"user_id")).head.getLong(0)
    zorderWrite(ev, out, nFiles = 16, umaxIn = Some(umax))
    spark.read.parquet(out)
      .filter($"user_id".between(umax / 4, umax / 2) && $"day".between(3, 6))
      .groupBy($"day".cast("long").as("day"))
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"),
        dsum($"value").as("sum_value"))
      .orderBy($"day")
  }

  /** Z-order the (user_id, day) dimensions of `ev` into `nFiles` files at
    * `out`; shared with ZOrderSpec's skipping assertions. */
  private[graft] def zorderWrite(ev: DataFrame, out: String,
      nFiles: Int, umaxIn: Option[Long] = None): Unit = {
    import ev.sparkSession.implicits._
    // range bounds: one metadata-scale aggregate (Delta samples instead;
    // either way the bounds are tiny relative to the write itself) —
    // reused from the caller when it already computed them
    val umax = umaxIn.getOrElse(ev.agg(max($"user_id")).head.getLong(0))
    val ubucket = least(floor($"user_id" * 32L / (umax + 1L)), lit(31L))
      .cast("long")
    val dbucket = least($"day".cast("long"), lit(31L))
    ev.withColumn("z", zValue(ubucket, dbucket, 5))
      .repartitionByRange(nFiles, $"z")
      .sortWithinPartitions($"z", $"user_id", $"ts")
      .drop("z")
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd").parquet(out)
  }

  /** `manifest_stats` — per-snapshot file/row counts and column bounds
    * answered ENTIRELY from the manifest entries' stats: the Iceberg
    * `table.files()` stats walk (`Debug:164-196`, DataFile metrics
    * `Local:126-132`) with zero data IO and no Spark job — where
    * [[datafileStats]] proves the physical layout by scanning, this
    * serves the same truths from metadata, which is what makes stats
    * maintenance worth its write-time cost at 100 TB. Days come from the
    * entries' partition paths; a file without `value` bounds (all NULL)
    * drops out of min/max. */
  def manifestStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = snapshotLayout(spark, dir)
    (1 to 3).map { n =>
      val (added, headers, _) =
        readMetaFile(spark, root, s"metadata/snap-$n.txt")
      val id = LakeOps.namedSchema(spark, root, n, headers).id("value")
      val days = added.map(_.partition("day").get.toLong)
      val stats = added.map(_.recorded)
      (n.toLong, added.size.toLong, stats.map(_.rows).sum, days.min,
        days.max, stats.flatMap(_.lower.get(id)).map(_.toDouble).minOption,
        stats.flatMap(_.upper.get(id)).map(_.toDouble).maxOption)
    }.toDF("snapshot_id", "n_files", "n_rows", "min_day", "max_day",
      "min_value", "max_value")
  }

  /** Write-once value-clustered stats table: events range-partitioned and
    * sorted by `value` into 16 files, per-file bounds recorded in their
    * manifest entries at commit. The clustering is what gives the stats their
    * pruning power — each file covers a tight, near-disjoint value band
    * (Iceberg's sort-order + column-metrics discipline; at 100 TB the
    * same recipe applies per partition). */
  private[graft] def statsLayout(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val out = sharedFor(spark, "events_valstats_v3", dir)
    buildShared(spark, out) { tmpRoot =>
      commitEras(spark, tmpRoot, Seq(eventsWithParts(spark, dir)
        .select($"event_id", $"user_id", $"event_type", $"value", $"day")
        .repartitionByRange(16, $"value")
        .sortWithinPartitions($"value")))
    }
  }

  /** Stats-qualifying file list (and the live file count) for a
    * `value`-range predicate over snapshot 1 of the stats layout —
    * planned from its manifest entries ALONE, on the driver, with no
    * Spark job, directory listing or footer read: exactly Iceberg's
    * metrics-based planFiles (`aig/TimeBasedPartitioningExamples.java:
    * 180-195` one level below directory pruning). An all-NULL file is
    * excluded; a file without bounds, or an entry without stats, is
    * kept ([[FileStats.mayOverlap]]). Shared with IngestSpec's
    * never-opened proof. */
  private[graft] def statsQualifyingFiles(spark: SparkSession, root: String,
      lo: Double, hi: Double): (Seq[String], Int) = {
    val (_, hits, total) = statsPlanned(spark, root, lo, hi)
    (hits, total)
  }

  /** [[statsQualifyingFiles]] with the schema record it planned under,
    * from one read of the manifest. */
  private def statsPlanned(spark: SparkSession, root: String, lo: Double,
      hi: Double): (TableSchema, Seq[String], Int) = {
    val (schema, live) = LakeOps.liveSnapshot(spark, root, 1)
    val id = schema.id("value")
    (schema, live.filter(_.stats.forall(_.mayOverlap(id, lo, hi)))
      .map(e => s"$root/data/${e.rel}").sorted, live.size)
  }

  /** `ingest_quarantine` — VALIDATING ingest with a reject table: rows
    * that violate the load's quality constraints (micro-amounts below
    * the 1.00 billing floor; implausible >300 outliers) are diverted to
    * a quarantine file AT LOAD TIME instead of poisoning the table —
    * the production loader pattern (bad rows preserved for forensics,
    * never silently dropped; the reference's schema-validation pass,
    * `AIGEventsSchemaValidator.java:149-275`, taken from report-only to
    * enforce-and-divert). One source pass feeds both sinks, and the
    * report is computed FROM THE WRITTEN FILES — a reconciliation of
    * what actually landed, not an estimate of what should have. */
  def ingestQuarantine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tmp("events_quarantine")
    // NULL `value` is routed explicitly: under three-valued logic both
    // `bad` and `!bad` would be false for NULL, silently dropping the
    // row from BOTH sinks — the one outcome a lossless split forbids.
    // isNull first makes `bad` total (never NULL), so !bad is exact.
    val bad = $"value".isNull || $"value" < 1.0 || $"value" > 300.0
    val src = eventsWithParts(spark, dir)
      .select($"event_id", $"event_type", $"value", $"day")
      .localCheckpoint() // one source scan feeds both sinks
    src.filter(!bad)
      .write.mode(SaveMode.Overwrite).option("compression", "zstd")
      .parquet(s"$out/accepted")
    src.filter(bad).coalesce(1)
      .write.mode(SaveMode.Overwrite).option("compression", "zstd")
      .parquet(s"$out/quarantine")
    spark.read.parquet(s"$out/accepted")
      .agg(count(lit(1)).as("n_accepted"),
        dsum($"value").as("sum_accepted"))
      .crossJoin(spark.read.parquet(s"$out/quarantine")
        .agg(count(lit(1)).as("n_quarantined"),
          count(when($"value" < 1.0, 1)).as("n_below_floor"),
          count(when($"value" > 300.0, 1)).as("n_outlier")))
  }

  /** Write-once layout for NULL-COUNT stats: `value` is NULL for clicks
    * of days 3-7 (a sensor-dropout band), files clustered by day so the
    * nulls concentrate in few files; per-file stats — including the
    * null counts the manifest entries record, the metric
    * `manifest_stats`' min/max bounds cannot express — are written at
    * ingest. Iceberg's null_value_counts column metrics. */
  private[graft] def nullStatsLayout(spark: SparkSession,
      dir: String): String = {
    import spark.implicits._
    val out = sharedFor(spark, "events_nullstats_v3", dir)
    buildShared(spark, out) { tmpRoot =>
      commitEras(spark, tmpRoot, Seq(eventsWithParts(spark, dir)
        .select($"event_id", $"user_id", $"event_type",
          when($"event_type" === "click" && $"day".between(3, 7),
            lit(null).cast("double")).otherwise($"value").as("value"),
          $"day")
        .repartitionByRange(16, $"day", $"event_id")
        .sortWithinPartitions($"day")))
    }
  }

  /** `manifest_null_prune` — an `IS NULL` query whose scan file list is
    * planned from per-file NULL COUNTS alone ([[manifestPruneScan]]'s
    * discipline extended to the predicate min/max bounds can never
    * serve): only files whose recorded null count is positive, or
    * unrecorded, are opened; a file with zero nulls is excluded by
    * metadata, not by reading it, and the plan starts no Spark job
    * (IngestSpec proves via the executed scan's file index).
    * At 100 TB an `IS NULL` audit over a mostly-complete column reads
    * the handful of files with gaps instead of the whole table. */
  def manifestNullPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = nullStatsLayout(spark, dir)
    val (schema, live) = LakeOps.liveSnapshot(spark, root, 1)
    val id = schema.id("value")
    val hits = live.filter(_.stats.forall(_.nulls.get(id).forall(_ > 0)))
    LakeOps.readFiles(spark, s"$root/data",
      hits.map(e => s"$root/data/${e.rel}"), schema)
      .filter($"value".isNull)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct($"day".cast("long")).as("n_days"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"event_type")
  }

  /** Per-file Bloom sidecar over the snapshot layout, built once per
    * corpus fingerprint (a separate shared artifact — complete layouts
    * are never mutated): one ~64 KiB sketch per data file keyed on
    * xxhash64(event_id), the Iceberg-Puffin-blob / parquet-bloom shape
    * lifted to the manifest level. Built with ONE distributed scan (a
    * per-file BloomFilterAggregate) and persisted as the PARQUET
    * DATASET `blooms.parquet` (rel, bf, crc32) by a DISTRIBUTED write —
    * no sketch ever visits the driver. The old text form collected
    * every bitmap first: at 800k files that is ~50 GiB of driver heap;
    * the dataset form prices the build as agg+write and the probe as a
    * metadata-table scan. Each row carries a CRC32 of its sketch
    * (computed executor-side by the crc32 expression): a bit-flipped
    * bloom deserializes fine and then answers FALSE NEGATIVES —
    * silently pruning files that hold the probed keys — so the probe
    * re-verifies before trusting any sketch. v3 bumps pre-dataset
    * sidecars to rebuild rather than read the retired text format. At
    * real scale the bits are sized ~16× the per-file row count; here
    * 64 KiB covers the largest SF's ~3.4k rows/file with fpp ≈ 1e-4. */
  private[graft] def bloomSidecar(spark: SparkSession, dir: String,
      root: String): String = {
    // the sidecar records REL PATHS of the snapshot layout's data
    // files; that layout is itself a rebuildable artifact (a prefix
    // bump rebuilds it with fresh random part names), so corpus-keying
    // alone is not enough — the key also pins the exact file listing
    // the blooms were built FROM, and a parent rebuild makes the
    // sidecar rebuild instead of planning scans from dangling paths
    val src = java.util.UUID.nameUUIDFromBytes(
      listDataFiles(spark, s"$root/data").toSeq.sorted.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
    buildShared(spark, sharedFor(spark, s"events_blooms_v3_$src", dir)) {
      tmpRoot => buildBloomSidecar(spark, s"$root/data", tmpRoot)
    }
  }

  /** The bloom sidecar BUILD: one distributed scan → per-file
    * BloomFilterAggregate → (rel, bf, crc32) parquet write. Exposed so
    * IngestSpec can drive a build against scratch data and pin that no
    * sketch ever rides a task result to the driver. */
  private[graft] def buildBloomSidecar(spark: SparkSession,
      dataRoot: String, outRoot: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val agg = new BloomFilterAggregate(
      GraftBridge.eagerExpression(xxhash64($"event_id")),
      Literal(10000L), Literal(64L * 1024 * 8))
    spark.read.parquet(dataRoot)
      .select(regexp_extract(input_file_name(), "/data/(.*)$", 1)
        .as("rel"), $"event_id")
      .groupBy($"rel")
      .agg(GraftBridge.column(agg.toAggregateExpression()).as("bf"))
      .withColumn("crc", crc32($"bf"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outRoot/blooms.parquet")
  }

  /** Bloom-sidecar dataset schema, pinned: a
    * schema'd read skips the inference footer pass (one fewer job on
    * the ~0.15 s/job scheduling floor the planner path budgets), and a
    * writer-side type drift (e.g. crc written as int) fails as a clear
    * parquet/schema error instead of an opaque encoder cast inside
    * `.as[(String, Array[Byte], Long)]`. Fields are declared nullable
    * because that is all the parquet file source actually guarantees
    * on read (user-schema nullability is not enforced); the non-null
    * INVARIANT is enforced explicitly by the probe's fence below. */
  private[graft] val bloomSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("rel",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("bf",
      org.apache.spark.sql.types.BinaryType, nullable = true),
    org.apache.spark.sql.types.StructField("crc",
      org.apache.spark.sql.types.LongType, nullable = true)))

  /** Files whose bloom MIGHT contain any of `keys` (+ the total count).
    * The probe SCANS the sidecar dataset: each executor verifies its
    * rows' CRC32s, deserializes, and probes — only the qualifying rel
    * paths (the list the scan needs anyway) ever reach the driver,
    * never a bitmap. The probe hashes with the SAME xxhash64 the build
    * used, and the sketch bytes deserialize through the same sketch
    * library Spark's BloomFilterMightContain reads — build and probe
    * cannot drift. A CRC mismatch fails the task (and the plan) loudly:
    * a damaged bloom answers "definitely absent" for present keys, so
    * corruption must never silently shrink the file list (IngestSpec
    * pins both the failure and the no-payloads-on-driver claim). */
  private[graft] def bloomQualifyingFiles(spark: SparkSession,
      sidecar: String, keys: Seq[Long]): (Seq[String], Int) = {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val hashes = keys.map(k =>
      new XxHash64(Seq(Literal(k))).eval(null).asInstanceOf[Long])
    val m = spark.read.schema(bloomSchema).parquet(s"$sidecar/blooms.parquet")
    // ONE pass emitting (rel, qualifies) per file — strings and
    // booleans to the driver, never a bitmap; total = rows returned
    val verdicts = m.select($"rel", $"bf", $"crc")
      .mapPartitions { it =>
        it.map { row =>
          // loud non-null fence: nullability is an invariant the file
          // source does not enforce on read, and a silently dropped
          // null row would SHRINK the file list (= wrong prune)
          if (row.isNullAt(0) || row.isNullAt(1) || row.isNullAt(2))
            throw new IllegalStateException(
              "bloom sidecar corrupt: null rel/bf/crc row — refusing " +
                "to plan from a damaged sidecar")
          val rel = row.getString(0)
          val bits = row.getAs[Array[Byte]](1)
          val crcStored = row.getLong(2)
          val crc = new java.util.zip.CRC32
          crc.update(bits)
          if (crc.getValue != crcStored)
            throw new IllegalStateException(
              s"bloom sidecar corrupt for $rel: CRC mismatch " +
                s"(${crc.getValue} != $crcStored) — refusing to plan " +
                "from a damaged sketch")
          val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bits))
          (rel, hashes.exists(bf.mightContainLong))
        }
      }.collect()
    (verdicts.filter(_._2).map(_._1).toSeq.sorted, verdicts.length)
  }

  /** `manifest_bloom_prune` — POINT-LOOKUP file skipping from per-file
    * Bloom sidecars ([[bloomSidecar]]): min/max stats cannot prune an
    * `event_id = K` probe (every file's id range overlaps every other's),
    * but a per-file sketch answers "definitely not here" at PLANNING
    * time — the scan opens only the files that might hold one of the 3
    * probe keys (IngestSpec: exactly the 3 holding files of 15, never a
    * bloom-excluded one). At 100 TB this is the needle-in-a-haystack
    * path: a key lookup prices as |files| metadata-level bloom probes
    * plus 1-2 file reads, not a table scan. */
  def manifestBloomPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = snapshotLayout(spark, dir)
    val sidecar = bloomSidecar(spark, dir, root)
    // deterministic probe keys (the oracle derives the same three): the
    // smallest event_id of days 3, 9, and 14 — one tiny aggregate
    val keys = eventsWithParts(spark, dir)
      .filter($"day".isin(3, 9, 14))
      .groupBy($"day").agg(min($"event_id").as("k"))
      .collect().map(_.getLong(1)).toSeq.sorted
    val (files, _) = bloomQualifyingFiles(spark, sidecar, keys)
    // zero qualifying files (no probe days in the corpus, or every
    // bloom excludes) is a valid empty answer: the read is an empty
    // frame with the table's schema
    LakeOps.readLive(spark, root, 1 to 3, files.toSet)
      .filter($"event_id".isin(keys: _*))
      .select($"event_id", $"event_type", $"value")
      .orderBy($"event_id")
  }

  /** `manifest_prune_scan` — a value-range query whose scan file list is
    * planned from per-file stats alone: of the 16 value-clustered files,
    * only the ~2 whose [min,max] band overlaps the predicate are ever
    * opened (IngestSpec asserts via scan metrics + an excluded-file
    * input_file_name proof). The residual filter still applies row-level
    * inside the survivors — stats pruning is sound, not exact. */
  def manifestPruneScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = statsLayout(spark, dir)
    val (schema, files, _) = statsPlanned(spark, root, 180.0, 220.0)
    // zero qualifying files is a valid plan (empty answer), not an error
    LakeOps.readFiles(spark, s"$root/data", files, schema)
      .filter($"value".between(180.0, 220.0))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"),
        dsum($"value").as("sum_value"))
      .orderBy($"event_type")
  }

  /** `meta_files` — the FILES metadata table served by the DSv2
    * connector ([[GraftMetaSource]]): per-snapshot file/day counts with
    * the `snapshot_id <= 2` predicate PUSHED into the connector, so
    * snapshot 3's manifest never even becomes an input partition — the
    * `table.files()` metadata walk of `Debug:164-196` as a first-class
    * Spark source. Oracle derives the expected counts from the events
    * data (snapshot 1 = days 1-5, 2 = days 6-10; one file per day). */
  def metaFiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = snapshotLayout(spark, dir)
    spark.read.format("graft.sources.GraftMetaSource")
      .option("root", root).load()
      .filter($"snapshot_id" <= 2)
      .groupBy($"snapshot_id".cast("long").as("snapshot_id"))
      .agg(countDistinct($"day").as("n_days"), count(lit(1)).as("n_files"))
      .orderBy($"snapshot_id")
  }

  /** `meta_snapshots` — the SNAPSHOTS metadata table served by the DSv2
    * connector ([[GraftMetaSource]]): one row per commit with its
    * file/row deltas and commit-log timestamp — Iceberg's `snapshots`
    * table, the list `aig/TimeBasedPartitioningExamples.java:198-230`
    * walks. `snapshot_id <= 2` is PUSHED into the connector, so
    * snapshot 3 never becomes an input partition (MetaSourceSpec
    * asserts). Metadata-only: no data file is opened to answer it. */
  def metaSnapshots(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = snapshotLayout(spark, dir)
    spark.read.format("graft.sources.GraftMetaSource")
      .option("root", root).option("table", "snapshots").load()
      .filter($"snapshot_id" <= 2)
      .select($"snapshot_id".cast("long").as("snapshot_id"),
        $"committed_ms", $"n_files_added", $"n_files_removed",
        $"n_rows_added")
      .orderBy($"snapshot_id")
  }

  /** `meta_partitions` — the PARTITIONS metadata table: one row per
    * LIVE partition with file/row totals (adds minus removes — the view
    * a planner prices partitions from without scanning them). The `day`
    * range predicate is PUSHED, so out-of-range partitions never become
    * input partitions. */
  def metaPartitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = snapshotLayout(spark, dir)
    spark.read.format("graft.sources.GraftMetaSource")
      .option("root", root).option("table", "partitions").load()
      .filter($"day".between(4, 12))
      .select($"day".cast("long").as("day"), $"n_files", $"n_rows")
      .orderBy($"day")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "manifest_stats" -> (manifestStats _),
    "manifest_prune_scan" -> (manifestPruneScan _),
    "manifest_null_prune" -> (manifestNullPrune _),
    "ingest_quarantine" -> (ingestQuarantine _),
    "manifest_bloom_prune" -> (manifestBloomPrune _),
    "meta_files" -> (metaFiles _),
    "meta_snapshots" -> (metaSnapshots _),
    "meta_partitions" -> (metaPartitions _),
    "zorder_cluster_write" -> (zorderClusterWrite _),
    "scan_json" -> (scanJson _),
    "scan_csv" -> (scanCsv _),
    "scan_orc" -> (scanOrc _),
    "compact_files" -> (compactFiles _),
    "sort_cluster_write" -> (sortClusterWrite _),
    "snapshot_log" -> (snapshotLog _),
    "snapshot_read_asof" -> (snapshotReadAsof _),
    "snapshot_read_attime" -> (snapshotReadAttime _),
    "snapshot_mixed_format" -> (snapshotMixedFormat _),
    "alter_add_cols" -> (alterAddCols _),
    "alter_nested_evolve" -> (alterNestedEvolve _),
    "alter_rename_col" -> (alterRenameCol _),
    "alter_rename_chain" -> (alterRenameChain _),
    "alter_widen_type" -> (alterWidenType _),
    "alter_add_col_default" -> (alterAddColDefault _),
    "alter_drop_col" -> (alterDropCol _),
    "partition_prune_scan" -> (partitionPruneScan _),
    "table_props" -> (tableProps _),
    "scan_parquet" -> (scanParquet _),
    "scan_schema_only" -> (scanSchemaOnly _),
    "schema_convert" -> (schemaConvert _),
    "schema_infer_sample" -> (schemaInferSample _),
    "write_parquet_zstd" -> (writeParquetZstd _),
    "write_partitioned" -> (writePartitioned _),
    "append_commit" -> (appendCommit _),
    "ingest_parallel" -> (ingestParallel _),
    "datafile_stats" -> (datafileStats _),
    "table_create" -> (tableCreate _))

  private val D = "DECIMAL(18,2)"

  private val FMT_ORACLE =
    """SELECT event_type, COUNT(*) AS n,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "manifest_stats" ->
      """SELECT CAST(CASE WHEN day(ts) <= 5 THEN 1
        |            WHEN day(ts) <= 10 THEN 2 ELSE 3 END AS BIGINT)
        |    AS snapshot_id,
        |  COUNT(DISTINCT day(ts)) AS n_files, COUNT(*) AS n_rows,
        |  CAST(MIN(day(ts)) AS BIGINT) AS min_day,
        |  CAST(MAX(day(ts)) AS BIGINT) AS max_day,
        |  MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events WHERE day(ts) BETWEEN 1 AND 15
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "manifest_prune_scan" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM events WHERE value BETWEEN 180.0 AND 220.0
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ingest_quarantine" ->
      s"""WITH t AS (
         |  SELECT value,
         |    (value IS NULL OR value < 1.0 OR value > 300.0) AS bad
         |  FROM events)
         |SELECT COUNT(CASE WHEN NOT bad THEN 1 END) AS n_accepted,
         |  CAST(SUM(CASE WHEN NOT bad THEN CAST(value AS $D) END)
         |    AS DOUBLE) AS sum_accepted,
         |  COUNT(CASE WHEN bad THEN 1 END) AS n_quarantined,
         |  COUNT(CASE WHEN value < 1.0 THEN 1 END) AS n_below_floor,
         |  COUNT(CASE WHEN value > 300.0 THEN 1 END) AS n_outlier
         |FROM t""".stripMargin,
    // the nulled rows are exactly clicks of days 3-7, so the oracle can
    // name them by predicate instead of reproducing the null injection
    "manifest_null_prune" ->
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT day(ts)) AS n_days,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE event_type = 'click' AND day(ts) BETWEEN 3 AND 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "manifest_bloom_prune" ->
      """WITH k AS (
        |  SELECT MIN(event_id) AS k FROM events WHERE day(ts) = 3
        |  UNION ALL
        |  SELECT MIN(event_id) FROM events WHERE day(ts) = 9
        |  UNION ALL
        |  SELECT MIN(event_id) FROM events WHERE day(ts) = 14)
        |SELECT event_id, event_type, value
        |FROM events JOIN k ON event_id = k.k
        |ORDER BY event_id""".stripMargin,
    "zorder_cluster_write" ->
      s"""SELECT CAST(day(ts) AS BIGINT) AS day, COUNT(*) AS n,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM events
         |WHERE user_id BETWEEN (SELECT MAX(user_id) // 4 FROM events)
         |                  AND (SELECT MAX(user_id) // 2 FROM events)
         |  AND day(ts) BETWEEN 3 AND 6
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "scan_json" -> FMT_ORACLE,
    "scan_csv" -> FMT_ORACLE,
    "scan_orc" -> FMT_ORACLE,
    "compact_files" ->
      """SELECT * FROM (
        |  SELECT 'after' AS phase, CAST(4 AS BIGINT) AS n_files,
        |    COUNT(*) AS n_rows FROM events
        |  UNION ALL
        |  SELECT 'before', 64, COUNT(*) FROM events
        |) ORDER BY phase""".stripMargin,
    "sort_cluster_write" ->
      s"""SELECT user_id, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM events WHERE user_id BETWEEN 100 AND 119
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "meta_files" ->
      """SELECT CAST(CASE WHEN d <= 5 THEN 1 ELSE 2 END AS BIGINT)
        |    AS snapshot_id,
        |  COUNT(DISTINCT d) AS n_days, COUNT(DISTINCT d) AS n_files
        |FROM (SELECT day(ts) AS d FROM events)
        |WHERE d BETWEEN 1 AND 10
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "meta_snapshots" ->
      """SELECT CAST(s AS BIGINT) AS snapshot_id,
        |  CAST(1705276800000 + s * 1000 AS BIGINT) AS committed_ms,
        |  CAST(COUNT(DISTINCT d) AS BIGINT) AS n_files_added,
        |  CAST(0 AS BIGINT) AS n_files_removed,
        |  COUNT(*) AS n_rows_added
        |FROM (SELECT day(ts) AS d,
        |        CASE WHEN day(ts) <= 5 THEN 1 ELSE 2 END AS s
        |      FROM events WHERE day(ts) BETWEEN 1 AND 10)
        |GROUP BY s ORDER BY s""".stripMargin,
    "meta_partitions" ->
      """SELECT CAST(day(ts) AS BIGINT) AS day,
        |  CAST(1 AS BIGINT) AS n_files, COUNT(*) AS n_rows
        |FROM events WHERE day(ts) BETWEEN 4 AND 12
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "snapshot_log" ->
      """WITH b AS (
        |  SELECT CASE WHEN day(ts) <= 5 THEN 1
        |              WHEN day(ts) <= 10 THEN 2 ELSE 3 END AS snapshot_id,
        |         day(ts) AS d
        |  FROM events WHERE day(ts) BETWEEN 1 AND 15)
        |SELECT CAST(snapshot_id AS BIGINT) AS snapshot_id,
        |  CAST(1705276800000 + snapshot_id * 1000 AS BIGINT) AS committed_ms,
        |  'append' AS operation,
        |  CAST(COUNT(DISTINCT d) AS BIGINT) AS n_files,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(COUNT(*)) OVER (ORDER BY snapshot_id) AS BIGINT)
        |    AS total_rows
        |FROM b GROUP BY snapshot_id ORDER BY snapshot_id""".stripMargin,
    "snapshot_read_asof" ->
      """SELECT day(ts) AS day, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events WHERE day(ts) BETWEEN 1 AND 10
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "snapshot_read_attime" ->
      s"""SELECT CAST(day(ts) AS BIGINT) AS day, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM events WHERE day(ts) BETWEEN 1 AND 10
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "snapshot_mixed_format" ->
      s"""SELECT CAST(day(ts) AS BIGINT) AS day, COUNT(*) AS n,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM events WHERE day(ts) BETWEEN 1 AND 10
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "alter_add_cols" ->
      s"""SELECT CASE WHEN day(ts) <= 15 THEN 'v1' ELSE 'v2' END AS batch,
         |  COUNT(*) AS n,
         |  COUNT(CASE WHEN day(ts) > 15 THEN event_type END) AS n_typed,
         |  COUNT(DISTINCT CASE WHEN day(ts) > 15 THEN event_type END)
         |    AS n_types,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "alter_nested_evolve" ->
      s"""SELECT CASE WHEN day(ts) <= 15 THEN 'v1' ELSE 'v2' END AS batch,
         |  COUNT(*) AS n,
         |  COUNT(CASE WHEN day(ts) > 15 THEN 1 END) AS n_region,
         |  COUNT(DISTINCT CASE WHEN day(ts) > 15
         |    THEN 'r' || CAST(user_id % 4 AS VARCHAR) END) AS n_regions,
         |  COUNT(DISTINCT event_type) AS n_classes,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_score
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "alter_rename_col" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |  COUNT(DISTINCT day(ts)) AS n_days,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // field-id resolution makes b ≡ value and a ≡ user_id in EVERY era;
    // a name-based mis-binding would flip the two sums for era-1 rows
    "alter_rename_chain" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_b,
         |  CAST(SUM(user_id) AS BIGINT) AS sum_a
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "alter_drop_col" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |  COUNT(CASE WHEN day(ts) <= 15 THEN 1 END) AS n_v1,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // v1 eras narrow `score` through REAL: DuckDB's double→float→double
    // round-trip is the same IEEE754 conversion Spark's cast performs
    // pre-add rows serve the declared default, post-add rows their
    // stored values — the oracle names both eras by predicate
    "alter_add_col_default" ->
      s"""WITH t AS (SELECT value, event_type, day(ts) AS day,
         |  CASE WHEN day(ts) <= 15 THEN 'standard'
         |       WHEN value >= 50.0 THEN 'premium'
         |       ELSE 'standard' END AS tier FROM events)
         |SELECT tier, COUNT(*) AS n,
         |  COUNT(CASE WHEN day <= 15 THEN 1 END) AS n_v1,
         |  COUNT(DISTINCT event_type) AS n_types,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "alter_widen_type" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN day(ts) > 15
        |    THEN user_id % 100000 + 3000000000
        |    ELSE user_id % 100000 END) AS BIGINT) AS sum_units,
        |  MIN(CASE WHEN day(ts) <= 15
        |    THEN CAST(CAST(value AS REAL) AS DOUBLE)
        |    ELSE value END) AS min_score,
        |  MAX(CASE WHEN day(ts) <= 15
        |    THEN CAST(CAST(value AS REAL) AS DOUBLE)
        |    ELSE value END) AS max_score
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "partition_prune_scan" ->
      """SELECT hour(ts) AS hour, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE user_id % 4 = 2 AND day(ts) = 15
        |  AND hour(ts) BETWEEN 6 AND 12
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "table_props" ->
      """SELECT * FROM (VALUES
        |  ('write.parquet.compression-codec', 'zstd'),
        |  ('write.parquet.dict-size-bytes', '2097152'),
        |  ('write.parquet.page-size-bytes', '1048576'),
        |  ('write.target-file-size-bytes', '134217728')
        |) AS t(key, value) ORDER BY key""".stripMargin,
    "scan_parquet" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_orderkey < 1000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "scan_schema_only" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'l_orderkey', 'BIGINT'),
        |  (1, 'l_partkey', 'BIGINT'),
        |  (2, 'l_suppkey', 'BIGINT'),
        |  (3, 'l_linenumber', 'INT'),
        |  (4, 'l_quantity', 'DOUBLE'),
        |  (5, 'l_extendedprice', 'DOUBLE'),
        |  (6, 'l_discount', 'DOUBLE'),
        |  (7, 'l_tax', 'DOUBLE'),
        |  (8, 'l_returnflag', 'STRING'),
        |  (9, 'l_linestatus', 'STRING'),
        |  (10, 'l_shipdate', 'TIMESTAMP_NTZ')
        |) AS t(pos, col_name, data_type) ORDER BY pos""".stripMargin,
    "schema_convert" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'vec_id', 'BIGINT', true),
        |  (1, 'embedding', 'ARRAY<FLOAT>', true),
        |  (2, 'label', 'INT', true)
        |) AS t(pos, col_name, data_type, nullable) ORDER BY pos""".stripMargin,
    "schema_infer_sample" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'o_orderkey', 'BIGINT'),
        |  (1, 'o_custkey', 'BIGINT'),
        |  (2, 'o_orderstatus', 'STRING'),
        |  (3, 'o_totalprice', 'DOUBLE'),
        |  (4, 'o_orderdate', 'TIMESTAMP_NTZ'),
        |  (5, 'o_orderpriority', 'STRING')
        |) AS t(pos, col_name, data_type) ORDER BY pos""".stripMargin,
    "write_parquet_zstd" ->
      s"""SELECT COUNT(*) AS n,
         |  CAST(SUM(CAST(l_extendedprice AS $D)) AS DOUBLE) AS sum_price
         |FROM lineitem""".stripMargin,
    "write_partitioned" ->
      s"""SELECT year(ts) AS year, month(ts) AS month, day(ts) AS day,
         |  COUNT(*) AS n, CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM events
         |WHERE month(ts) = 1 AND day(ts) BETWEEN 10 AND 12
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "append_commit" ->
      """SELECT day(ts) AS day, COUNT(*) AS n FROM events
        |WHERE day(ts) BETWEEN 1 AND 10
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ingest_parallel" ->
      """SELECT event_id % 4 AS batch, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "datafile_stats" ->
      """SELECT year(ts) AS year, month(ts) AS month, day(ts) AS day,
        |  CAST(1 AS BIGINT) AS n_files, COUNT(*) AS n_rows
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "table_create" ->
      """SELECT day(ts) AS day, COUNT(*) AS n,
        |  COUNT(DISTINCT event_type) AS n_types
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)
}
