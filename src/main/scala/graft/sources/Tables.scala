package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InMemoryFileIndex, LogicalRelation, NoopCache}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver corpus (TESTDATA.md / FIXTURES.md §A).
  *
  * One parquet file per table under `/root/testdata/sfN/`. Mirrors the
  * reference's scan entry points (`LocalReadParquetToS3Iceberg.java:88-92`,
  * `BulkParquetToIcebergAtomicMultipart.java:146-149`) re-expressed as the
  * Spark vectorized parquet source: projection and predicates are pushed
  * down by Catalyst, so `Tables.lineitem(s, d).select(...).filter(...)`
  * reads only the needed columns/row-groups.
  *
  * Building a frame starts no Spark job. The schema comes from the file's
  * footer, read on the driver as the reference reads it (`Main:30-37`);
  * `spark.read.parquet` infers it with a one-task job per call instead.
  * Every call lists the file and reads its footer afresh, so a file
  * rewritten in place reads as it now is, and every frame has fresh
  * attributes, so two frames of one table self-join.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Entries of Spark's compiled-class cache, set by [[warmup]]: over
    * twice the engine's working set. One `graft.Verify` pass over all 251
    * keys at sf0.01, with the cache unbounded, compiles 2,310 distinct
    * classes (28 s of Janino time on a 4-core VM). Must not be 0, which
    * turns the cache off. */
  private[graft] final val CodegenCacheEntries = 5000

  /** Session prep: force Spark 4's CollationAwareUTF8String static init (a
    * full-Unicode ICU case-mapping table build — deferred to first use of
    * lower()/upper() deep into a session it can run against a saturated JIT
    * code cache and take 100+ seconds; at startup ~1s), install the
    * nanos-timestamp predicate pushdown rule, and read TIMESTAMP(NANOS)
    * parquet columns as long nanos (see [[events]]) for every batch and
    * streaming scan of the session.
    *
    * It also sizes Spark's compiled-class cache to [[CodegenCacheEntries]]
    * before anything generates code. `CodeGenerator` keeps the classes
    * Janino compiled in one JVM-wide LRU cache, keyed by the generated
    * source, and builds that cache once, when the class initializes, from
    * the static conf `spark.sql.codegen.cache.maxEntries` (default 100).
    * The engine's keys need far more than 100 classes, so traffic that
    * interleaves keys (perfbench's shuffled passes, an interactive
    * session) evicts a key's classes before the key runs again, and each
    * run pays up to ~30 recompilations, ~12 ms each, on the driver. Bench
    * cannot see this: its min-of-2 takes each key's second sample right
    * after the first, which always hits the cache. The static conf is set
    * on the session's `SQLConf` (`spark.conf.set` rejects static keys)
    * and `CodeGenerator` is initialized at once, with this session
    * active. A JVM whose first code generation ran before this call
    * already has its cache and keeps the default size. */
  def warmup(spark: SparkSession): Unit = {
    Class.forName(
      "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String")
    GraftBridge.sqlConf(spark).setConfString(
      "spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    GraftBridge.withActive(spark)(Class.forName(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.plans.TimestampPushdownRule.install(spark)
    graft.plans.RankLimitToTopKRule.install(spark)
    graft.plans.TopKPerKeyStrategy.install(spark)
    graft.plans.SmallSortRule.install(spark)
    // fork-free local FS (see NioLocalFileSystem); evict any cached
    // default instances so the override takes effect session-wide
    val hc = spark.sparkContext.hadoopConfiguration
    if (hc.get("fs.file.impl") == null) {
      hc.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
      org.apache.hadoop.fs.FileSystem.closeAll()
    }
    // streaming checkpoint/state commits default to the FileContext
    // API, which bypasses fs.file.impl and forks a chmod per created
    // file on libhadoop-less local FS — 0.7-0.9 s of commitTimeMs per
    // micro-batch on KB-sized state. The FileSystem-based manager
    // routes through NioLocalFileSystem like everything else.
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      "org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager")
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The parquet file, or directory of files, at `path`, as
    * `spark.read.parquet(path)` reads it, built with no job: the index
    * lists `path` on the driver, and the schema is the footer of the file
    * Spark's inference would pick (a `_common_metadata`, else a
    * `_metadata` summary, else the first data file in path order). */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val index = new InMemoryFileIndex(spark,
      Seq(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(p)), Map.empty, None, NoopCache)
    val summaries = Seq("_common_metadata", "_metadata")
    val first = index.allFiles().minByOption { f =>
      val name = f.getPath.getName
      (summaries.indexOf(name) match { case -1 => 2; case i => i },
        f.getPath.toString)
    }.getOrElse(throw new IllegalArgumentException(s"no parquet file at $path"))
    GraftBridge.ofRows(spark, LogicalRelation(HadoopFsRelation(index,
      index.partitionSchema, GraftBridge.asNullable(footerSchema(spark, first)),
      None, new ParquetFileFormat, Map.empty)(spark)))
  }

  /** Footer-only read options, built once (building them loads the codec
    * factory): the schema needs no row-group metadata. */
  private lazy val SchemaOnly = org.apache.parquet.ParquetReadOptions
    .builder().withMetadataFilter(org.apache.parquet.format.converter
      .ParquetMetadataConverter.SKIP_ROW_GROUPS).build()

  /** The Spark schema of the parquet file `status` from its footer,
    * converted as Spark's schema inference converts one footer: the
    * schema Spark wrote into the file if any, else the parquet schema
    * under the session's binary, INT96, NTZ, nanos and unknown-type
    * settings (the converter defaults for the rest, as inference has). */
  private def footerSchema(spark: SparkSession, status: FileStatus)
      : StructType = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status,
        spark.sparkContext.hadoopConfiguration), SchemaOnly)
    val footer = try r.getFooter finally r.close()
    val conf = GraftBridge.sqlConf(spark)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(status.getPath, footer),
      new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation =
          conf.parquetReaderRespectUnknownTypeAnnotation))
  }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** `events.ts` has shipped in several physical parquet encodings across
    * corpus generations; normalize every one of them to the same
    * TimestampType (UTC-instant) column so downstream operators and the
    * DuckDB oracles agree:
    *   - TIMESTAMP(NANOS): Spark's vectorized reader rejects it
    *     (SPARK-40819) — read as long nanos (the session conf
    *     [[warmup]] sets); `div 1000` truncates
    *     TOWARD ZERO, which is exactly DuckDB's ns→µs cast semantics
    *     (verified: −1500 ns → −1 µs on both engines, NOT floor's −2),
    *     so pre-epoch values agree too;
    *   - timestamp[us] isAdjustedToUTC=false → Spark's TIMESTAMP_NTZ:
    *     cast to TimestampType — the session TZ is pinned UTC, so the
    *     NTZ→instant mapping is bijective and hashes are unchanged;
    *   - timestamp[us] UTC → already TimestampType, untouched. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(apply(s, d, "events"))

  /** Normalize a `ts` column to TimestampType across the three physical
    * encodings the corpus has shipped (see [[events]]). Used by the batch
    * loader and every streaming file source over the events parquet. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** The `embeddings` scan with the ingest-validity guard every vector
    * consumer wants: exactly [[EMBEDDING_DIMS]] dims, all elements
    * finite, not the zero vector (and, via null comparison semantics,
    * not NULL). Hostile rows — truncated arrays (ANSI `element_at`
    * would THROW on them), NaN/Inf elements (would poison every
    * accumulation), zero vectors (cosine 0/0) — never reach a plan.
    * The predicates are all codegen'd scalar expressions (Size,
    * ArrayMin/ArrayMax, comparisons, and the repo's own fused L2
    * kernel — deliberately NOT higher-order functions, which are
    * CodegenFallback and would break every consumer's whole-stage
    * span), so at 100 TB the guard rides the scan for free. On the
    * driver corpus every row passes (all vectors unit-norm
    * float32[64]), so guarded plans hash identically to raw ones —
    * RobustnessSpec drives the hostile cases. */
  def embeddingsValid(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val e = col("embedding")
    embeddings(s, d).filter(
      size(e) === EMBEDDING_DIMS &&
        // NaN fails every comparison; ±Inf fails one of the two bounds
        array_max(e) < Float.PositiveInfinity &&
        array_min(e) > Float.NegativeInfinity &&
        (array_min(e) < 0f || array_max(e) > 0f) &&
        // a null ELEMENT slips past ArrayMin/ArrayMax (both skip
        // nulls) but would make every fused kernel null out — or worse,
        // read a phantom 0.0; l2sq(e, e) nulls exactly on null
        // elements, so this is the null-element fence, self-hosted on
        // the same codegen'd kernel consumers use
        graft.functions.VectorFunctions.l2sq(e, e).isNotNull)
  }

  /** Corpus embedding dimensionality (TESTDATA.md; asserted by
    * TablesSpec's drift canary). */
  val EMBEDDING_DIMS = 64
}
