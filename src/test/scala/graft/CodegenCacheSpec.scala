package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Generated code compiles once per JVM: `Tables.warmup` sizes Spark's
  * compiled-class cache above the engine's working set, so a key that
  * runs again after other keys finds its classes still cached. */
class CodegenCacheSpec extends SparkSpecBase {
  // perfbench's interactive_query sample, plus more aggregates and joins;
  // not agg_hll_union, some of whose runs generate source no earlier run
  // did (0 or 4 new classes on a warm run), so no cache keeps it whole
  private val keys = Seq("add_cols", "agg_approx_distinct", "branch_read",
    "bucket_point_lookup", "explode_array", "fn_str_case", "join_multiway",
    "limit_first", "snapshot_read_attime", "win_first_last", "agg_cube",
    "agg_daily", "agg_grouping_sets", "agg_percentile", "agg_pivot",
    "agg_rollup", "join_anti", "join_semi", "join_full_outer",
    "join_broadcast")

  /** Classes Janino compiles while `order`'s keys run, each whole plan
    * into the `noop` sink. */
  private def compiledBy(order: Seq[String]): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    order.foreach { k =>
      SparkEntry.queries(k)(spark, sf).write.format("noop")
        .mode("overwrite").save()
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a second pass over more keys than Spark's default cache holds " +
      "compiles no class") {
    // the session first: its warmup sizes the cache, which touching
    // CodeGenerator before it would build at Spark's default size
    assert(spark.sparkContext.isLocal)
    assert(keys.forall(SparkEntry.queries.contains),
      keys.filterNot(SparkEntry.queries.contains).mkString(", "))
    // the cache is JVM-wide, and earlier suites may have filled it with
    // these keys' classes: empty it, so the first pass compiles them all
    val getCache = CodeGenerator.getClass.getDeclaredMethod("cache")
    getCache.setAccessible(true)
    val cache = getCache.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val first = compiledBy(keys)
    val second = compiledBy(keys.reverse)
    info(s"first pass compiled $first classes, second pass $second")
    assert(first > 100,
      s"the keys compiled $first classes, no more than Spark's default 100")
    assert(second == 0, s"the second pass recompiled $second of the " +
      s"$first classes the first compiled")
  }
}
