package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: graft.Verify <sfDir> <outDir>")
    val Array(sfDir, outDir) = args
    val spark = GraftSession(GraftSession.envCores)
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: SPARK_GRAFT_ONLY=k1,k2 dumps only those
    // keys (exact match). Unset for the driver's full run.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name)) }
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        // the gate builds its work list by globbing outDir — a stale
        // dump from a previous run would be hash-compared as if
        // current, reporting a broken query as PASS. Failure must
        // leave NO dump behind (overwrite-mode only deletes once the
        // write job starts, which a planning-time throw never reaches).
        // the delete must not itself abort the run: the remaining keys'
        // dumps and failures.json are what keep the gate honest
        try {
          val stale = new org.apache.hadoop.fs.Path(s"$outDir/$name")
          sources.IngestOps.deleteOrThrow(stale.getFileSystem(
            spark.sparkContext.hadoopConfiguration), stale, recursive = true)
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name stale-dump delete failed: " +
            e2.getMessage)
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // machine-readable failure record (Bench's errors-map discipline):
    // a key that threw must be VISIBLE in the artifact, not only on
    // stderr — a vanished glob entry reads as "never registered"
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    // exit 0 even on failures: the driver compares per-key, and a
    // nonzero exit could zero the whole round over one flaky key —
    // the artifact plus the deleted dump make the failure visible
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} keys FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}
