package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The operation mix of each workload, drawn from the engine's public
  * key registries. Each module's keys are sampled with a fixed stride in
  * name order: the sample never depends on the seed, so every run times
  * the same operations, and a key added to a module can join it. */
object Workloads {
  type Query = (SparkSession, String) => DataFrame

  /** `keys` run in the timed loop as operations of `kind`; `layouts`
    * names the `Fixtures` layouts those keys read, built cold during
    * set-up; `passSeconds` is the nominal time of one pass on a 4-core
    * machine, which sizes the run's fixed number of passes. */
  final case class Spec(keys: Map[String, Query], kind: String,
      layouts: String => Boolean, passSeconds: Double)

  import graft.operators.{Aggregates, Filters, Joins, Scalars, SetOps, Windows}
  import graft.sources.{IngestOps, LakeOps}

  private def matching(m: Map[String, Query], pats: String*) =
    m.filter { case (k, _) => pats.exists(p => k.matches(p)) }

  /** Every `stride`-th key of `m` in name order. */
  private def sample(stride: Int)(m: Map[String, Query]) = {
    val keep = m.keys.toSeq.sorted.zipWithIndex
      .collect { case (k, i) if i % stride == 0 => k }.toSet
    m.filter { case (k, _) => keep(k) }
  }

  private def lake = IngestOps.queries ++ LakeOps.queries

  /** Short read keys: the relational modules and the read-only lake keys. */
  def readKeys(stride: Int): Map[String, Query] =
    Seq(Filters.queries, Aggregates.queries, Joins.queries, Windows.queries,
      SetOps.queries, Scalars.queries,
      matching(lake, "partition_prune_scan", "manifest_.*_prune",
        "snapshot_read_.*", "branch_read", "incremental_read", "meta_.*"))
      .map(sample(stride)).reduce(_ ++ _)

  /** Keys that write or commit to a table, and the two streaming upsert
    * sinks. */
  def writeKeys(stride: Int): Map[String, Query] =
    Seq(matching(lake, "write_.*", "ingest_parallel", ".*_cluster_write",
      "compact_.*", "merge_upsert.*", "delete_.*", "update_where",
      "expire_snapshots", "wap_publish", "commit_conflict_retry",
      "table_clone"),
      matching(graft.streaming.StreamingOps.queries, "stream_upsert_sink",
        "stream_upsert_mor"))
      .map(sample(stride)).reduce(_ ++ _)

  def apply(workload: String): Spec = workload match {
    // lake_ingest's pass is the commit loop plus one pass over the keys
    case "lake_ingest" => Spec(writeKeys(4), "write", Set("events_cow_base",
      "events_expirebase", "events_streambase", "events_versioned_base"),
      passSeconds = 12)
    case "interactive_query" => Spec(readKeys(12), "read",
      Set("events_snapshots", "bucketed_lookup_table"), passSeconds = 4)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }
}
