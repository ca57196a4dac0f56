package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** The corpus loader must be encoding-proof: the driver has shipped
  * `events.ts` as parquet TIMESTAMP(NANOS) (read as long via
  * nanosAsLong), as timestamp[us] with isAdjustedToUTC=false (Spark's
  * TIMESTAMP_NTZ), and could ship micros-UTC next. All three physical
  * encodings must load to the SAME TimestampType column with the SAME
  * instants, or every downstream ts consumer breaks on a regeneration
  * (the r10 drift cost 10 query keys and 9 suites). */
class TablesSpec extends SparkSpecBase {

  test("events loader normalizes nanos-long, us-NTZ and us-UTC " +
      "encodings to identical TimestampType instants") {
    import spark.implicits._
    // ground truth: micros since epoch, spanning day boundaries and
    // non-integral seconds
    val us = Seq(1704067200000000L, 1704070800123456L, 1705276799999999L,
      1705276800000001L, 1706745599500000L)
    val base = us.zipWithIndex
      .map { case (u, i) => (i.toLong, u) }.toDF("event_id", "us")

    def writeVariant(name: String, tsCol: org.apache.spark.sql.Column)
        : String = {
      val root = graft.sources.IngestOps.tmp(s"tables_enc_$name")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      base.select($"event_id", tsCol.as("ts"))
        .coalesce(1).write.parquet(s"$root/events.parquet")
      root
    }

    // 1. long nanos (what nanosAsLong=true yields for TIMESTAMP(NANOS);
    //    a plain int64 column arrives through the identical LongType path)
    val nanosDir = writeVariant("nanos", ($"us" * 1000L).cast(LongType))
    // 2. micros NTZ (isAdjustedToUTC=false — the r10 corpus encoding)
    val ntzDir = writeVariant("ntz",
      timestamp_micros($"us").cast(TimestampNTZType))
    // 3. micros UTC (a plain TimestampType write)
    val utcDir = writeVariant("utc", timestamp_micros($"us"))

    Seq("nanos" -> nanosDir, "ntz" -> ntzDir, "utc" -> utcDir).foreach {
      case (name, dir) =>
        val loaded = graft.sources.Tables.events(spark, dir)
        assert(loaded.schema("ts").dataType == TimestampType,
          s"$name: loader must yield TimestampType, got " +
            loaded.schema("ts").dataType)
        val got = loaded
          .select($"event_id", unix_micros($"ts").as("us"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = us.zipWithIndex.map { case (u, i) => i.toLong -> u }.toMap
        assert(got == want,
          s"$name: instants drifted after load: got=$got want=$want")
    }
  }

  test("corpus drift canary: key columns load with the types the " +
      "operators assume") {
    // one focused failure naming the drifted column beats ten query keys
    // erroring downstream (the r10 ts re-encoding cost a full round);
    // on failure: adapt the loader in Tables, not the operators
    val expect: Seq[(String, Map[String, String])] = Seq(
      "events" -> Map("event_id" -> "bigint", "user_id" -> "bigint",
        "event_type" -> "string", "value" -> "double",
        "ts" -> "timestamp", "props" -> "string"),
      // the FULL fixture-table surfaces, not just the key columns: the
      // LLM-pipeline tier reads every documents/embeddings column
      "documents" -> Map("doc_id" -> "bigint", "text" -> "string",
        "source" -> "string", "lang" -> "string", "n_chars" -> "bigint"),
      "embeddings" -> Map("vec_id" -> "bigint",
        "embedding" -> "array<float>", "label" -> "int"),
      "lineitem" -> Map("l_orderkey" -> "bigint",
        "l_quantity" -> "double", "l_returnflag" -> "string"),
      "orders" -> Map("o_orderkey" -> "bigint",
        "o_totalprice" -> "double",
        // NTZ since the r10 regeneration; date-part operators and the
        // DuckDB oracles agree on it as-is (fn_date_arith is green), so
        // the loader leaves it alone
        "o_orderdate" -> "timestamp_ntz"))
    val drifted = expect.flatMap { case (table, cols) =>
      val schema =
        (if (table == "events") graft.sources.Tables.events(spark, sf)
         else graft.sources.Tables(spark, sf, table)).schema
      cols.flatMap { case (col, want) =>
        val got = schema.find(_.name == col).map(_.dataType.simpleString)
        if (got.contains(want)) None
        else Some(s"$table.$col: expected $want, loader yields " +
          got.getOrElse("MISSING"))
      }
    }
    assert(drifted.isEmpty,
      "corpus drift — normalize in Tables loaders:\n  " +
        drifted.mkString("\n  "))
  }

  test("live corpus: ts loads as TimestampType and round-trips " +
      "through unix_micros") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sf)
    assert(ev.schema("ts").dataType == TimestampType)
    // micros ordinal must be strictly reconstructible (no precision loss)
    val bad = ev.select($"ts", timestamp_micros(unix_micros($"ts")).as("rt"))
      .filter($"ts" =!= $"rt").count()
    assert(bad == 0, s"$bad rows lost precision in the micros round-trip")
  }

  test("building corpus frames starts no Spark job; spark.read.parquet " +
      "infers the schema with one") {
    import graft.sources.Tables
    Tables.lineitem(spark, sf) // first use loads the reader classes
    val jobs = jobsOf {
      Tables.lineitem(spark, sf); Tables.events(spark, sf)
      Tables.orders(spark, sf)
    }
    assert(jobs == 0, s"building three frames started $jobs jobs")
    val inferred = jobsOf(spark.read.parquet(s"$sf/orders.parquet"))
    assert(inferred > 0, "spark.read.parquet no longer starts an " +
      "inference job: the footer read in Tables saves nothing")
  }

  test("two orders frames self-join on their own columns, matching the " +
      "spark.read.parquet spelling") {
    def selfJoin(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame) =
      a.join(b, a("o_custkey") === b("o_custkey") &&
          a("o_orderkey") < b("o_orderkey"))
        .select(a("o_orderkey"), b("o_orderkey"), b("o_totalprice"))
        .collect().map(_.toSeq).toSeq.sortBy(r => (r(0).toString, r(1).toString))
    val got = selfJoin(graft.sources.Tables.orders(spark, sf),
      graft.sources.Tables.orders(spark, sf))
    val want = selfJoin(spark.read.parquet(s"$sf/orders.parquet"),
      spark.read.parquet(s"$sf/orders.parquet"))
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("a corpus file rewritten in place reads with its new schema in " +
      "the same session") {
    import spark.implicits._
    val root = graft.sources.IngestOps.tmp("tables_rewrite")
    val file = java.nio.file.Paths.get(root, "orders.parquet")
    def writeFlat(df: org.apache.spark.sql.DataFrame): Unit = {
      val stage = s"$root/stage"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
        .iterator().asScala.filter(_.toString.endsWith(".parquet")).next()
      java.nio.file.Files.move(part, file,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeFlat(Seq(1L, 2L).toDF("o_orderkey"))
    val before = graft.sources.Tables.orders(spark, root)
    assert(before.columns.toSeq == Seq("o_orderkey"))
    assert(before.count() == 2)
    writeFlat(Seq((3L, "x"), (4L, "y"), (5L, "z")).toDF("o_orderkey", "tag"))
    val after = graft.sources.Tables.orders(spark, root)
    assert(after.columns.toSeq == Seq("o_orderkey", "tag"))
    assert(after.as[(Long, String)].collect().sorted.toSeq ==
      Seq((3L, "x"), (4L, "y"), (5L, "z")))
  }

  test("local FS listings carry eagerly-loaded permissions (no lazy " +
      "DeprecatedRawLocalFileStatus => no ls-fork per listed file)") {
    // RawLocalFileSystem's DeprecatedRawLocalFileStatus loads permission
    // info by FORKING `ls -ld` per file on first getPermission() — and
    // LocatedFileStatus construction (fs.listFiles, Spark's
    // listLeafFiles with locality) calls it eagerly, so every listing
    // paid one fork per file. NioRawLocalFileSystem.enrich must return
    // plain FileStatus with the REAL mode pre-populated via java.nio.
    val root = graft.sources.IngestOps.tmp("tables_fs_enrich")
    val dir = java.nio.file.Paths.get(root)
    java.nio.file.Files.createDirectories(dir)
    val f = dir.resolve("probe.txt")
    java.nio.file.Files.write(f, "x".getBytes)
    java.nio.file.Files.setPosixFilePermissions(f,
      java.nio.file.attribute.PosixFilePermissions.fromString("rw-r-----"))
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = fs.listStatus(p)
      .filter(_.getPath.getName == "probe.txt") ++
      Seq(fs.getFileStatus(new org.apache.hadoop.fs.Path(f.toString)))
    assert(statuses.nonEmpty)
    statuses.foreach { s =>
      assert(!s.getClass.getName.contains("Deprecated"),
        s"lazy permission-forking status leaked from listing: ${s.getClass}")
      assert(s.getPermission.toShort == Integer.parseInt("640", 8).toShort,
        s"expected the real mode 640, got ${s.getPermission}")
      assert(s.getOwner.nonEmpty && s.getModificationTime > 0L)
    }
  }
}
