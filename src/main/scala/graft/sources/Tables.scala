package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver corpus (TESTDATA.md / FIXTURES.md §A).
  *
  * One parquet file per table under `/root/testdata/sfN/`. Mirrors the
  * reference's scan entry points (`LocalReadParquetToS3Iceberg.java:88-92`,
  * `BulkParquetToIcebergAtomicMultipart.java:146-149`) re-expressed as the
  * Spark vectorized parquet source: projection and predicates are pushed
  * down by Catalyst, so `Tables.lineitem(s, d).select(...).filter(...)`
  * reads only the needed columns/row-groups.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Session prep: force Spark 4's CollationAwareUTF8String static init (a
    * full-Unicode ICU case-mapping table build — deferred to first use of
    * lower()/upper() deep into a session it can run against a saturated JIT
    * code cache and take 100+ seconds; at startup ~1s), install the
    * nanos-timestamp predicate pushdown rule, and read TIMESTAMP(NANOS)
    * parquet columns as long nanos (see [[events]]) for every batch and
    * streaming scan of the session. */
  def warmup(spark: SparkSession = null): Unit = {
    Class.forName(
      "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String")
    if (spark != null) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      graft.plans.TimestampPushdownRule.install(spark)
      graft.plans.RankLimitToTopKRule.install(spark)
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
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

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
