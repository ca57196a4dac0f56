package graft

import org.apache.spark.sql.SparkSession

/** Every fingerprint-keyed shared fixture layout in one list.
  *
  * These are ingest-time artifacts (partitioned/snapshot/stats/bloom
  * layouts, ANN indexes, bucketed tables) — built once per corpus
  * lifetime, exactly like the reference's table creation. Bench calls
  * [[prewarm]] in its UNTIMED setup so a corpus-fingerprint change costs
  * setup seconds, never query time: the r10 regeneration invalidated
  * every cached layout and the rebuilds landed inside the timed loop,
  * nearly doubling the headline number on unchanged code. Every
  * layout is built through `IngestOps.buildShared`, which owns the
  * completeness marker (`<layout>.done`, beside the layout); new
  * `buildShared` sites must be added here — EngineSpec cross-checks the
  * builder count against the `buildShared(` call sites in the source
  * tree so a forgotten entry fails a test, not a bench round.
  */
object Fixtures {

  /** (name, builder) for every shared layout; builders are idempotent
    * (fingerprint-keyed, published by buildShared's marker). */
  def builders(spark: SparkSession, dir: String): Seq[(String, () => Any)] =
    Seq(
      "events_partitioned" ->
        (() => sources.IngestOps.partitionedLayout(spark, dir)),
      "events_snapshots" ->
        (() => sources.IngestOps.snapshotLayout(spark, dir)),
      "events_valstats" ->
        (() => sources.IngestOps.statsLayout(spark, dir)),
      "events_fragmented" ->
        (() => sources.IngestOps.fragmentedLayout(spark, dir)),
      "events_nullstats" ->
        (() => sources.IngestOps.nullStatsLayout(spark, dir)),
      "events_rename_chain" ->
        (() => sources.IngestOps.renameChainLayout(spark, dir)),
      "events_widened" ->
        (() => sources.IngestOps.widenLayout(spark, dir)),
      "events_dropped" ->
        (() => sources.IngestOps.dropLayout(spark, dir)),
      "events_defaultcol" ->
        (() => sources.IngestOps.defaultColLayout(spark, dir)),
      "events_spec_evolution" ->
        (() => sources.LakeOps.partitionEvolveLayout(spark, dir)._1),
      "events_cow_base" ->
        (() => sources.LakeOps.cowBaseLayout(spark, dir)),
      "events_versioned_base" ->
        (() => sources.LakeOps.versionedBaseLayout(spark, dir)),
      "events_refs" ->
        (() => sources.LakeOps.refsLayout(spark, dir)),
      "events_branches" ->
        (() => sources.LakeOps.branchesLayout(spark, dir)),
      "events_history" ->
        (() => sources.LakeOps.historyLayout(spark, dir)),
      "events_manifests" ->
        (() => sources.LakeOps.manifestsLayout(spark, dir)),
      "events_expirebase" ->
        (() => sources.LakeOps.expireBaseLayout(spark, dir)),
      "events_blooms" ->
        (() => sources.IngestOps.bloomSidecar(spark, dir,
          sources.IngestOps.snapshotLayout(spark, dir))),
      "stream_latedrops" ->
        (() => streaming.StreamingOps.lateDropLayout(spark, dir)),
      "events_streambase" ->
        (() => streaming.StreamingOps.upsertBaseLayout(spark, dir)),
      "stream_resumebatches" ->
        (() => streaming.StreamingOps.resumeBatchesLayout(spark, dir)),
      // one entry PER clustering bound (the graphs differ: an edge
      // through a node outside the bound can merge components)
      "dedup_labels_40" ->
        (() => operators.PipelineOps.dedupLabelsLayout(spark, dir, 40)),
      "dedup_labels_200" ->
        (() => operators.PipelineOps.dedupLabelsLayout(spark, dir, 200)),
      "bpe_merges" ->
        (() => operators.TextOps.bpeMergesLayout(spark, dir)),
      "ivf_index" ->
        (() => operators.SimilarityOps.ivfIndexLayout(spark, dir)),
      "ivfpq_index" ->
        (() => operators.SimilarityOps.ivfpqIndexLayout(spark, dir)),
      "ivfpqr_index" ->
        (() => operators.SimilarityOps.ivfpqrIndexLayout(spark, dir)),
      // one entry PER bucketed layout (the pair builder is idempotent:
      // the second entry's call returns from the fingerprint cache)
      "bucketed_orders" ->
        (() => operators.Joins.bucketedJoinTables(spark, dir)._1),
      "bucketed_customer" ->
        (() => operators.Joins.bucketedJoinTables(spark, dir)._2),
      "bucketed_lookup_table" ->
        (() => operators.Joins.bucketLookupTable(spark, dir)))

  /** Per-layout prewarm outcome: failed builder names plus each
    * builder's wall seconds. The timings make a COLD tree's true setup
    * cost visible per layout (Bench records them as `setup_detail`) —
    * on a warm tree every entry is the ~ms fingerprint-cache probe, so
    * a layout whose entry suddenly reads in seconds on an unchanged
    * corpus is a cache-keying regression, not noise. */
  final case class PrewarmResult(failures: Seq[String],
      buildSec: Seq[(String, Double)])

  /** Build every shared layout (no-op when already complete). A failed
    * builder is reported and skipped: its queries will rebuild lazily
    * and the failure surfaces there with full context. FAILED builder
    * names are returned so the caller can make the condition
    * machine-visible (Bench records them as `prewarm_failures` in
    * BENCH_SUMMARY.json — a silent skip would shift the rebuild into
    * the timed loop, the exact artifact prewarm exists to prevent). */
  def prewarm(spark: SparkSession, dir: String): PrewarmResult = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val times = builders(spark, dir).map { case (name, build) =>
      val t0 = System.nanoTime()
      try build()
      catch {
        case e: Throwable =>
          System.err.println(s"[prewarm] $name failed: " +
            Option(e.getMessage).getOrElse(e.getClass.getName))
          failures += name
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    PrewarmResult(failures.toSeq, times)
  }
}
