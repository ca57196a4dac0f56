package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Training-data curation operators over `documents` (SURVEY.md §2j tier):
  * duplicate-cluster resolution, deterministic stratified sampling,
  * train/val/test splitting, and domain-mixture weighting — the steps a
  * large-scale LLM data pipeline runs between dedup and tokenization.
  *
  * Scale design: sampling/splitting are pure per-row hash expressions (no
  * shuffle, no RNG state — the same row always lands in the same split on
  * any cluster size, which is what makes a 100 TB re-run reproducible).
  * Clustering is iterative min-label propagation over the near-dup edge
  * list — each step one shuffle join, the Pregel/GraphX formulation —
  * with lineage truncated per step so the plan stays bounded.
  */
object PipelineOps {

  /** Multiplicative integer hash → uniform bucket in [0, m). Spelled
    * identically in the DuckDB twin (`(doc_id * K) % m`); pure integer
    * arithmetic, so both engines agree bit-for-bit. K primes chosen
    * per-use so sampling and splitting decisions are independent.
    * Domain bound: `id * K` must fit Int64 — for the largest K here
    * that is id < ~3.5e9. Beyond it Spark (non-ANSI) wraps while
    * DuckDB raises, so the cross-engine contract ends there; a corpus
    * with wider ids should fold them (e.g. `hash(id) & 0x7fffffff`)
    * before bucketing, at the cost of re-deriving the twin. */
  private def hashBucket(id: org.apache.spark.sql.Column, k: Long,
      m: Long): org.apache.spark.sql.Column = pmod(id * lit(k), lit(m))

  /** `dedup_cluster` — resolve near-dup PAIRS into duplicate GROUPS:
    * connected components over the Jaccard ≥ 0.5 edge list, by iterative
    * min-label propagation (each doc's label converges to the smallest
    * doc_id reachable from it — the canonical representative a dedup
    * pipeline keeps). The loop is the Pregel formulation: per step, every
    * node takes the min of its own and its neighbours' labels — one
    * shuffle join + one aggregation per step, O(diameter) steps (near-dup
    * components are pairs and tiny cliques, so diameter ≈ 1-2); at 100 TB
    * this is exactly GraphX connectedComponents' shape. Singleton docs
    * never enter the loop. Lineage is truncated per iteration
    * (localCheckpoint) so the plan doesn't grow with the step count;
    * convergence is detected by the strictly-decreasing label sum (an
    * aggregate action, not a data collect). */
  def dedupCluster(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    dedupLabels(spark, dir, 40)
      .groupBy($"label".as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), max($"node").as("max_doc"))
      .orderBy($"cluster_id")
  }

  /** Persisted duplicate-group labels: connected components over the
    * Jaccard ≥ 0.5 edge list for `doc_id < maxDoc`, written once per
    * corpus fingerprint. Clustering is an INGEST-time stage of a dedup
    * pipeline — its output is a table every downstream resolve/audit
    * pass joins against, not something recomputed per query (at 100 TB
    * the prefix-filter join plus O(log² n) star contraction is hours of
    * cluster time; the labels table it produces is a few bytes per doc).
    * The graphs at different bounds differ (an edge through a node
    * outside the bound can merge components), so each bound is its own
    * layout — the two bounds used by the queries are prewarmed via
    * [[graft.Fixtures]]. */
  private[graft] def dedupLabels(spark: SparkSession, dir: String,
      maxDoc: Int): DataFrame =
    spark.read.parquet(s"${dedupLabelsLayout(spark, dir, maxDoc)}/labels")

  private[graft] def dedupLabelsLayout(spark: SparkSession, dir: String,
      maxDoc: Int): String = {
    import spark.implicits._
    import graft.sources.IngestOps
    val out = IngestOps.sharedFor(spark, s"dedup_labels_${maxDoc}", dir)
    IngestOps.buildShared(spark, out) { tmpRoot =>
      val docs = Tables.documents(spark, dir).filter($"doc_id" < maxDoc)
      // the reduced-shuffle scope must cover the EDGE CONSTRUCTION, not
      // just the propagation loop: jaccardPairs' lineage cut plans its
      // subtree at construction (localCheckpoint calls toRdd even when
      // lazy), which freezes spark.sql.shuffle.partitions before
      // connectedComponents' own scoping could apply
      withReducedShuffle(spark) {
        val edges = DedupOps.jaccardPairs(docs, 0.5)
          .select($"da".as("src"), $"db".as("dst"))
        connectedComponents(docs.select($"doc_id".as("node")), edges)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$tmpRoot/labels")
      }
    }
  }

  /** Min-label-propagation connected components (see [[dedupCluster]]):
    * `nodes(node)` × `edges(src,dst)` → `(node, label)` where label = the
    * smallest node id in the component. */
  private[graft] def connectedComponents(nodes: DataFrame,
      edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // near-dup graphs are a sliver of the corpus (only docs sharing a
    // candidate edge), so the per-step shuffles run at a reduced
    // partition count: each step's cost is dominated by fixed per-task
    // overhead, and 8 partitions beat 32 the same way the streaming
    // state stores do. Restored after the loop; at real scale callers
    // size spark.sql.shuffle.partitions to the edge volume.
    withReducedShuffle(spark)(connectedComponentsLoop(nodes, edges))
  }

  /** Scope `spark.sql.shuffle.partitions` down to `n` (never up) for
    * `f`, restored after — the sliver-sized dedup-graph stages where
    * fixed per-task overhead dominates. */
  private def withReducedShuffle[T](spark: SparkSession, n: Int = 8)(
      f: => T): T = {
    // shuffle-partition tuning has no per-plan knob, so the session
    // conf must flip. Residual: unrelated planning on OTHER threads
    // during the scope still sees the reduced value — acceptable for
    // these sliver-sized graph stages, and AQE re-coalesces partitions
    // at runtime regardless. The outer scope holds the conf lock while
    // the current value is read.
    val key = "spark.sql.shuffle.partitions"
    graft.GraftSession.withConf(spark) {
      val reduced = math.min(n, spark.conf.get(key).toInt)
      graft.GraftSession.withConf(spark, key -> reduced.toString)(f)
    }
  }

  private def connectedComponentsLoop(nodes: DataFrame,
      edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // both edge orientations in ONE pass over the (expensive) edge input
    // — a union of edges with its swap would evaluate the similarity-join
    // subtree twice. persist+count (not localCheckpoint) so the edge
    // build still runs through AQE — checkpointing materializes the raw
    // RDD lineage and would forfeit runtime coalescing/exchange reuse on
    // the most expensive stage of the whole pipeline.
    val sym = edges.select(explode(array(
        struct($"src", $"dst"),
        struct($"dst".as("src"), $"src".as("dst")))).as("e"))
      .select($"e.src", $"e.dst").persist()
    sym.count()
    // only edge-touched nodes enter the loop: in a near-dup graph the
    // overwhelming majority of a 100 TB corpus is singleton docs, and
    // they are their own label by definition — keeping them out of the
    // iteration shrinks every per-step shuffle from |corpus| to |docs
    // with at least one near-dup edge|
    var labels = sym.select($"src".as("node")).distinct()
      .select($"node", $"node".as("label"))
      .localCheckpoint()
    // labels only ever decrease under min-propagation, so the label sum
    // is a strictly-decreasing convergence metric: one tiny aggregate on
    // the checkpointed result per step instead of a diff join. Seeding
    // prevSum = -1 (label sums are non-negative) skips a pre-loop sum
    // job. The per-step localCheckpoint (not persist) is load-bearing:
    // it truncates lineage, so freeing the superseded step's blocks
    // can't cascade-invalidate the new step's cache the way unpersisting
    // a parent of a cached plan does.
    def labelSum() = {
      // SUM over an empty frame is NULL, not 0 — an empty node/edge set
      // must read as trivially converged, never NPE the driver unbox
      val r = labels.agg(sum($"label")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var prevSum = -1L
    var converged = false
    var steps = 0
    while (!converged && steps < 20) {
      val nbr = sym.join(labels, sym("dst") === labels("node"))
        .select(sym("src").as("node"), labels("label"))
      val next = labels.union(nbr)
        .groupBy($"node").agg(min($"label").as("label"))
        .localCheckpoint()
      labels.unpersist() // superseded checkpoint: free its blocks now
      labels = next
      val s = labelSum()
      converged = s == prevSum
      prevSum = s
      steps += 1
    }
    if (!converged) {
      // adversarial topology (a chain of chained near-dups has diameter
      // ∝ length): propagation costs O(diameter) rounds and would return
      // silently-wrong labels if capped — switch to the O(log² n)
      // alternating-star algorithm instead of guessing a bigger cap
      val out = connectedComponentsStar(nodes,
        sym.select($"src", $"dst"))
      sym.unpersist()
      labels.unpersist()
      return out
    }
    sym.unpersist()
    // singletons rejoin with label = own id; the loop's checkpoint backs
    // the returned (lazy) DataFrame and is freed by the ContextCleaner
    nodes.join(labels, Seq("node"), "left")
      .select($"node", coalesce($"label", $"node").as("label"))
  }

  /** Alternating large-star / small-star connected components (Kiveris
    * et al. 2014, "Connected Components in MapReduce and Beyond"):
    * converges in O(log² n) rounds on ANY topology, where min-label
    * propagation needs O(diameter). Per round, every node hangs its
    * strictly-larger neighbours onto its neighbourhood minimum
    * (large-star), then its smaller neighbourhood onto that minimum
    * (small-star) — each a groupBy-min + join over the current edge set,
    * monotonically flattening components into stars centred at their
    * global minimum. The fixed point IS the star graph, so labels fall
    * out of the final edges directly. Used as [[connectedComponentsLoop]]'s
    * fallback; also correct standalone. */
  private[graft] def connectedComponentsStar(nodes: DataFrame,
      edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // both orientations, self-loops dropped, deduped
    def sym(e: DataFrame) = e.select(explode(array(
        struct($"src", $"dst"),
        struct($"dst".as("src"), $"src".as("dst")))).as("e"))
      .select($"e.src", $"e.dst")
      .where($"src" =!= $"dst").distinct()
    // large-star: ∀v ∈ Γ(u), v > u: connect v to min(Γ(u) ∪ {u}).
    def largeStar(s: DataFrame) = {
      val m = s.groupBy($"src").agg(min($"dst").as("mn"))
        .select($"src".as("u"), least($"mn", $"src").as("m"))
      s.join(m, s("src") === m("u")).where(s("dst") > s("src"))
        .select(s("dst").as("src"), m("m").as("dst"))
        .where($"src" =!= $"dst").distinct()
    }
    // small-star: N⁻ = {v ∈ Γ(u), v ≤ u}; connect u and N⁻ \ {min} to
    // min(N⁻ ∪ {u}). Every undirected edge {a<b} survives via u=b.
    def smallStar(s: DataFrame) = {
      val sm = s.where($"dst" <= $"src")
      val m = sm.groupBy($"src").agg(min($"dst").as("m"))
      val vs = sm.join(m, Seq("src")).where($"dst" =!= $"m")
        .select($"dst".as("src"), $"m".as("dst"))
      val us = m.select($"src", $"m".as("dst"))
      vs.union(us).where($"src" =!= $"dst").distinct()
    }
    // convergence = (count, hash-xor) fixed point of the edge set — one
    // tiny aggregate per round, collision odds ~2⁻⁶⁴ (xor, not sum:
    // summing 64-bit hashes overflows under ANSI arithmetic)
    def sig(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), bit_xor(xxhash64($"src", $"dst"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var e = sym(edges).localCheckpoint()
    var prev = (-1L, 0L)
    var rounds = 0
    var cur = sig(e)
    while (cur != prev && rounds < 50) {
      val next = smallStar(sym(largeStar(sym(e)))).localCheckpoint()
      e.unpersist()
      e = next
      prev = cur
      cur = sig(e)
      rounds += 1
    }
    require(cur == prev, s"star contraction did not converge in $rounds")
    // fixed point = stars: every non-root node has its component min as
    // its sole (minimal) neighbour below it
    val labels = e.groupBy($"src".as("node")).agg(min($"dst").as("label"))
    nodes.join(labels, Seq("node"), "left")
      .select($"node", coalesce($"label", $"node").as("label"))
  }

  /** `dedup_resolve` — the step after clustering: keep each duplicate
    * group's canonical doc (smallest doc_id = the component label), drop
    * the rest, and audit the reduction per language. This is the actual
    * dedup a training pipeline applies; at 100 TB the keep-set join is a
    * broadcast of component labels or a shuffle join on doc_id. */
  def dedupResolve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).filter($"doc_id" < 200)
    val labels = dedupLabels(spark, dir, 200)
    docs.join(labels, docs("doc_id") === labels("node"))
      .withColumn("kept", ($"doc_id" === $"label").cast("long"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"kept").as("n_kept"),
        (count(lit(1)) - sum($"kept")).as("n_dropped"))
      .orderBy($"lang")
  }

  /** `shuffle_epoch` — deterministic per-epoch corpus shuffle, the order
    * a training run reads documents in. A global ORDER BY + row_number
    * would funnel the corpus through ONE partition; the scale-safe
    * spelling shards by the first hex digit of a salted md5 (16 shards
    * here; 4 hex digits = 65k shards at 100 TB) and numbers WITHIN each
    * shard — each window runs on its own partition, and shard-major
    * (shard, pos) order is the epoch's read order. Changing the epoch
    * salt reshuffles everything reproducibly; no RNG, so the order is
    * identical across re-runs and cluster sizes (the property that makes
    * a training run resumable). */
  def shuffleEpoch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val key = md5(concat(lit("epoch1:"), $"doc_id".cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"skey")
    Tables.documents(spark, dir)
      .select($"doc_id", key.as("skey"))
      .withColumn("shard", ascii(substring($"skey", 1, 1)).cast("long"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select($"doc_id", $"shard", $"pos")
      .orderBy($"shard", $"pos")
  }

  /** `sample_stratified` — deterministic per-language downsampling: the
    * dominant language keeps 25 % of docs, the rest keep 75 %, decided by
    * a per-row multiplicative hash of doc_id (no RNG — re-runs and
    * cluster-size changes can't move a row in or out of the sample). The
    * filter is a narrow codegen'd expression; only the per-stratum audit
    * count shuffles. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rate = when($"lang" === "en", lit(250L)).otherwise(lit(750L))
    Tables.documents(spark, dir)
      .withColumn("kept",
        (hashBucket($"doc_id", 2654435761L, 1000L) < rate).cast("long"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_total"), sum($"kept").as("n_kept"))
      .orderBy($"lang")
  }

  /** `sample_cap_per_key` — fixed-SIZE per-key sampling (cap every
    * source domain at k docs), the corpus-balancing pass every training
    * mix runs: fractions ([[sampleStratified]]) cannot bound a mega
    * domain, a cap can. Deterministic uniform choice WITHIN each key via
    * rank over an md5 ordering (seeded, replayable by the oracle — which
    * checks membership through the kept-id sum, not just counts).
    *
    * The key runs the single-window spelling — at this corpus's domain
    * sizes (≤ a few hundred docs each) one shuffle-and-rank is the
    * cheapest plan, and an A/B measured the two-phase form 6× slower
    * here (its extra count/threshold/verify passes cost more than they
    * save until a domain dwarfs its task). The MEGA-DOMAIN deployment
    * path is [[capPerKey]]: identical results by construction
    * (PipelineSpec proves row-for-row equality and the bounded rank
    * input on a synthetic 20k-doc hot domain), engaged when a corpus
    * profile says any key exceeds task scale. */
  def sampleCapPerKey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source")
      .orderBy(md5(concat(lit("cap42:"), $"doc_id".cast("string"))),
        $"doc_id")
    Tables.documents(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 100)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_kept"),
        countDistinct($"lang").as("n_langs"),
        sum($"doc_id").as("sum_ids"))
      .orderBy($"source")
  }

  /** TWO-PHASE per-key cap — the form a corpus with mega-domains runs,
    * keeping the hot key's sort at O(k log k) instead of O(n log n)
    * inside one task: (1) per-key counts (one partial+final agg, rows
    * = #domains); (2) a per-key hash threshold sized for ~3k expected
    * survivors, broadcast back as a map-side prefilter — a key's k
    * smallest md5 values PROVABLY survive whenever ≥ k rows clear the
    * threshold, because the 60-bit prefix comparison is a prefix of
    * the rank order itself (any eliminated row's md5 is strictly
    * greater than every survivor's); (3) exact rank over only the
    * survivors. The exactness guard makes this identical-by-
    * construction to [[sampleCapPerKey]]'s single-window spelling, not
    * approximately: a key whose survivor count falls below min(k, n)
    * (probability e^-Ω(k) at 3× slack, impossible for keys with
    * n ≤ 3k, which keep every row) falls back to ranking all its
    * rows. At 100 TB the window's shuffle carries ~3k rows per domain
    * instead of the domain. */
  private[graft] def capPerKey(docs0: DataFrame, k: Int): DataFrame = {
    val spark = docs0.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val slack = 3
    val max60 = 1L << 60 // 16^15: the hash-prefix value space
    val docs = docs0
      .withColumn("ord", md5(concat(lit("cap42:"), $"doc_id".cast("string"))))
      .withColumn("hv", conv(substring($"ord", 1, 15), 16, 10).cast("long"))
    // null-SAFE key comparisons throughout: a window treats NULL source
    // as its own partition, so the threshold joins must too — an
    // equi-join would silently drop null-source rows that the
    // single-window spelling caps normally
    val counts = docs.groupBy($"source".as("c_source"))
      .agg(count(lit(1)).as("n_key"))
    val thr = counts.withColumn("t",
      when($"n_key" <= k * slack, lit(max60))
        .otherwise(ceil(lit(max60.toDouble) *
          (lit((k * slack).toDouble) / $"n_key")).cast("long")))
    val joined = docs.join(broadcast(thr), $"source" <=> $"c_source")
    val surv = joined.filter($"hv" <= $"t")
    // exactness guard: any key with fewer than min(k, n) survivors is
    // re-ranked over ALL its rows (empty in practice; never wrong).
    // Derived from thr (which carries EVERY key) left-joined with the
    // survivor counts: deriving it from surv alone would silently drop
    // a key whose rows ALL exceed the threshold (zero survivors — it
    // never appears in surv's groups), turning the e^-Ω(k)-rare case
    // the guard exists for into the one case it misses
    val survCounts = surv.groupBy($"source".as("s_source"))
      .agg(count(lit(1)).as("n_surv"))
    val shortKeys = thr.join(survCounts, $"c_source" <=> $"s_source", "left")
      .filter(coalesce($"n_surv", lit(0L)) < least(lit(k.toLong), $"n_key"))
      .select($"c_source".as("s_source"))
    val rankInput = surv.join(broadcast(shortKeys),
        $"source" <=> $"s_source", "left_anti")
      .unionByName(joined.join(broadcast(shortKeys),
        $"source" <=> $"s_source", "left_semi"))
    val w = Window.partitionBy($"source").orderBy($"ord", $"doc_id")
    rankInput
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .drop("ord", "hv", "c_source", "n_key", "t", "rk")
  }

  /** `split_train_test` — deterministic 80/10/10 train/val/test split by
    * an independent doc_id hash (different multiplier than the sampler, so
    * split and sample membership are uncorrelated). Per-row expression,
    * no shuffle until the audit aggregate; a doc's split assignment is
    * stable across re-runs, partition counts, and cluster sizes — the
    * property that keeps eval sets uncontaminated at 100 TB. */
  def splitTrainTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val b = hashBucket($"doc_id", 179426549L, 100L)
    Tables.documents(spark, dir)
      .withColumn("split",
        when(b < 80, "train").when(b < 90, "val").otherwise("test"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"lang").as("n_langs"),
        sum($"n_chars").as("sum_chars"))
      .orderBy($"split")
  }

  /** `domain_mix` — per-language sampling weights to hit a target mixture
    * (uniform 20 % per language here): weight = target_share /
    * actual_share. One aggregation, then the corpus total rides a
    * 1-row broadcast crossJoin (the [[RetrievalOps]] stats-row pattern)
    * instead of an unpartitioned window — same |langs|-row input either
    * way, but the broadcast form neither triggers Spark's
    * single-partition WindowExec warning nor serializes the group rows
    * through one task; the weights feed a weighted sampler
    * (`sample_stratified`'s hash with per-stratum rates) in a real
    * pipeline. */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, dir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum($"n_docs").as("total"))
    counts.crossJoin(broadcast(total))
      .select($"lang", $"n_docs",
        round($"n_docs".cast("double") / $"total".cast("double"), 6)
          .as("share"),
        round(lit(0.2) * $"total".cast("double") /
          $"n_docs".cast("double"), 6).as("weight"))
      .orderBy($"lang")
  }

  /** `sample_temperature` — temperature-scaled domain rebalancing, the
    * multilingual-mix standard (sample language l ∝ n_l^α): keep-rates
    * flatten the head toward uniform, anchored at the largest language
    * so nothing upsamples — rate(l) = sqrt(n_l / n_max), i.e. α = 0.5.
    * sqrt (unlike pow(x, 0.3) — libm and the JVM disagree in ULPs) is
    * IEEE-correctly-rounded in both engines, and the rate snaps to
    * integer ppm so the per-row keep decision is exact integer
    * arithmetic: kept = (doc_id·K) mod 1e6 < rate_ppm, the same
    * deterministic hash sampler as [[sampleStratified]] — re-runs and
    * cluster resizes cannot move a row in or out. Scale: one
    * |langs|-row aggregate, a 1-row broadcast max, a broadcast join of
    * the |langs|-row rate table back onto the scan, and a narrow
    * codegen'd filter — nothing row-scale shuffles except the audit
    * count. */
  def sampleTemperature(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // lazy lineage cut: the |langs|-row counts feed BOTH the max and the
    // rate join — without it Catalyst re-inlines the corpus aggregation
    // under each consumer and the lang column scans twice (set-sized
    // duplication, the cut-worthy kind)
    val counts = Tables.documents(spark, dir)
      .groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      .localCheckpoint(false)
    val head = counts.agg(max($"n_docs").as("n_max"))
    val rates = counts.crossJoin(broadcast(head))
      .select($"lang", $"n_docs",
        round(lit(1e6) * sqrt($"n_docs".cast("double") /
          $"n_max".cast("double"))).cast("long").as("rate_ppm"))
    Tables.documents(spark, dir).select($"lang", $"doc_id")
      .join(broadcast(rates), Seq("lang"))
      .withColumn("kept",
        (hashBucket($"doc_id", 2654435761L, 1000000L) < $"rate_ppm")
          .cast("long"))
      .groupBy($"lang")
      .agg(first($"n_docs").as("n_docs"), first($"rate_ppm").as("rate_ppm"),
        sum($"kept").as("n_kept"))
      .orderBy($"lang")
  }

  /** `pack_sequences` — deterministic sequence packing: assign each doc
    * to a fixed 2048-token training window by its cumulative token
    * offset within its (lang, shard) stream (window id =
    * floor(preceding-tokens / 2048)), and report per-window fill so
    * over/under-packing is visible.
    *
    * The cumulative window partitions by (lang, SHARD), never by lang
    * alone: a per-language running sum funnels every document of a
    * language through ONE task, and on a real corpus one language is
    * 70%+ of the data — a single-task sort of most of the corpus (the
    * same hazard class the skew probe measured on the pack-per-group
    * reshapes). The shard is the salted-md5 discipline
    * [[shuffleEpoch]] proves: 16 shards here, 4 hex digits = 65k
    * shards at 100 TB, so each window runs on its own partition and
    * the hot language parallelizes across all of them.
    *
    * Seam-loss contract (standard in training-data packing): windows
    * never span shard seams, so each (lang, shard) stream's LAST
    * window may be underfilled — at most shards × 2047 tokens of slack
    * per language, a vanishing fraction of any corpus worth sharding.
    * The fill report makes the loss measurable, not assumed. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = size(split(trim($"text"), "\\s+")).cast("long")
    val shard = ascii(substring(
      md5(concat(lit("pack1:"), $"doc_id".cast("string"))), 1, 1))
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang", $"shard").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", toks.as("n_tokens"))
      .withColumn("shard", shard)
      .withColumn("cum_before", sum($"n_tokens").over(w) - $"n_tokens")
      .withColumn("seq_id", floor($"cum_before" / 2048L))
      .groupBy($"lang", $"shard", $"seq_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("seq_tokens"))
      .orderBy($"lang", $"shard", $"seq_id")
  }

  /** `pack_sequences_ffd` — capacity-AWARE packing: first-fit-decreasing
    * bin packing per (lang, shard), the form real trainers run. The
    * offset assignment [[packSequences]] uses lets a document straddle a
    * window boundary (windows over- AND under-fill); FFD sorts each
    * shard's docs by (tokens desc, doc_id) and places each into the
    * FIRST bin it fits (capacity 2048), opening a new bin otherwise —
    * so no bin exceeds capacity (unless a single doc does: an oversized
    * doc opens its own over-full bin rather than being silently
    * dropped) and waste is provably ≤ the offset scheme's
    * (PipelineSpec measures both). Scale shape: the imperative bin
    * state lives in `flatMapGroups` over (lang, shard) groups — the
    * SAME salted-shard bound packSequences carries (16 here, 65k at
    * 100 TB), so a group is always task-sized and the hot language
    * parallelizes across shards; this is the one justified
    * non-expression kernel in the file (bin fills are inherently
    * sequential state). Docs with NULL doc_id or token count carry no
    * packable evidence and are fenced to quarantine at ingest
    * (ingest_quarantine discipline — the fence is in the oracle too,
    * so the driver corpus answer is unchanged). Output: one row per
    * bin with its doc count and fill. */
  def packSequencesFfd(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = size(split(trim($"text"), "\\s+")).cast("long")
    val shard = ascii(substring(
      md5(concat(lit("pack1:"), $"doc_id".cast("string"))), 1, 1))
      .cast("long")
    packFfdFrame(Tables.documents(spark, dir)
      .select($"lang", shard.as("shard"), $"doc_id", toks.as("n_tokens")))
  }

  /** The FFD core over an arbitrary (lang, shard, doc_id, n_tokens)
    * frame — split out so PipelineSpec can drive crafted corpora
    * (where the capacity pressure that separates FFD from the offset
    * scheme actually materializes) through the exact kernel. */
  private[graft] def packFfdFrame(items0: DataFrame): DataFrame = {
    val spark = items0.sparkSession
    import spark.implicits._
    val items = items0
      .filter($"doc_id".isNotNull && $"n_tokens".isNotNull)
      .as[(String, Long, Long, Long)]
    items.groupByKey(t => (t._1, t._2))
      .flatMapGroups { (key: (String, Long),
          it: Iterator[(String, Long, Long, Long)]) =>
        val (lang, sh) = key
        val docs = it.toArray.sortBy { case (_, _, id, n) => (-n, id) }
        val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
        val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
        docs.foreach { case (_, _, _, n) =>
          val j = fills.indexWhere(_ + n <= 2048L)
          if (j < 0) { fills += n; counts += 1L }
          else { fills(j) += n; counts(j) += 1L }
        }
        fills.indices.iterator.map(i =>
          (lang, sh, (i + 1).toLong, counts(i), fills(i)))
      }
      .toDF("lang", "shard", "bin", "n_docs", "fill_tokens")
      .orderBy($"lang", $"shard", $"bin")
  }

  /** `contamination_check` — eval-set leakage audit over the FULL
    * corpus: for each held-out split, how many docs share at least one
    * 8-token-gram with any train document. This is the production
    * decontamination check (the GPT-3/Llama-style long-n-gram overlap
    * screen): a long gram collision is evidence of copied text, and the
    * audit is an EQUI-JOIN on the gram — work ∝ gram rows + true
    * collisions, never candidate pairs. The r18 formulation (pairwise
    * char-3-gram Jaccard under a `doc_id < 200` cap) could not scale on
    * principle: any fixed small shingle universe saturates, making
    * every doc pair a candidate and every exact threshold join ~n² on
    * BOTH engines — 8-token grams over even this 30-word vocabulary
    * span a ~10^11 universe (measured max df = 4 at sf0.1), so the
    * join is selective at any corpus size. 100 TB shape: explode, one
    * shuffle on the gram key, aggregate; hash grams to 64-bit and cap
    * runaway-df grams (both standard) if the string shuffle ever
    * dominates. Docs with <8 tokens have no grams and are reported
    * uncontaminated — identically on both engines. */
  def contaminationCheck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val b = hashBucket($"doc_id", 179426549L, 100L)
    contaminationOver(Tables.documents(spark, dir)
      .withColumn("split",
        when(b < 80, "train").when(b < 90, "val").otherwise("test")))
  }

  /** The gram-collision audit over any (doc_id, text, split) relation —
    * shared by the key and PipelineSpec's planted-leak corpora. */
  private[graft] def contaminationOver(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the corpus contract delivers one flat file → 1-2 input splits;
    // spreadSmall parallelizes the O(k·tokens) gram pass across the
    // session (no-op at real multi-file scale — its own doc)
    val grams = DedupOps.spreadSmall(docs.select($"doc_id", $"split",
      $"text"))
      .select($"doc_id", $"split",
        explode(DedupOps.tokenShingles($"text", 8)).as("s"))
    val trainGrams = grams.filter($"split" === "train")
      .select($"s").distinct()
    val contaminated = grams.filter($"split" =!= "train")
      .join(trainGrams, "s")
      .select($"doc_id", $"split").distinct()
    docs.filter($"split" =!= "train")
      .groupBy($"split").agg(count(lit(1)).as("n_docs"))
      .join(contaminated.groupBy($"split")
        .agg(count(lit(1)).as("n_contaminated")), Seq("split"), "left")
      .select($"split", $"n_docs",
        coalesce($"n_contaminated", lit(0L)).as("n_contaminated"))
      .orderBy($"split")
  }

  /** `token_histogram` — corpus length profile: docs bucketed by
    * whitespace-token count into width-16 integer bins (integer division —
    * no float bucketing drift across engines). The one-pass groupBy is the
    * curation diagnostic that sizes packing windows and length filters. */
  def tokenHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = size(split(trim($"text"), "\\s+")).cast("long")
    Tables.documents(spark, dir)
      .select((toks / 16L).cast("long").as("bucket"), toks.as("n"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"), min($"n").as("min_tokens"),
        max($"n").as("max_tokens"))
      .orderBy($"bucket")
  }

  /** `length_band_filter` — data-derived length filtering (the C4/Gopher
    * curation stage, but with EXACT order statistics instead of fixed
    * constants): keep documents whose whitespace-token count lies in the
    * corpus's [p5, p95] band, where the percentiles are true discrete
    * order statistics — the smallest length whose cumulative doc count
    * reaches ceil(q·N) — so both engines compute them with integer
    * arithmetic only (interpolating percentile_cont would put a
    * libm-shaped float contract between the engines). The cumulative
    * walk runs over the LENGTH HISTOGRAM, not the corpus: distinct
    * token counts are bounded by the longest document, not by corpus
    * size, so the global window here is histogram-sized by construction
    * (the bounded-global-window class PLANS.md audits). Scale: one
    * corpus pass for the histogram, a histogram-sized window, a 1-row
    * bounds broadcast back onto the scan, and a per-lang audit
    * aggregate. */
  def lengthBandFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val nToks = size(TextOps.tokens($"text")).cast("long")
    val d = Tables.documents(spark, dir)
      .select($"lang", nToks.as("n_tokens"))
    val hist = d.groupBy($"n_tokens").agg(count(lit(1)).as("c"))
    val byLen = Window.orderBy($"n_tokens")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.orderBy($"n_tokens")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cw = hist.select($"n_tokens",
      sum($"c").over(byLen).as("cum"), sum($"c").over(whole).as("total"))
    // ceil(N/20) and ceil(19N/20) in pure integer math (div truncates
    // toward zero — positive here, so it IS floor)
    val bounds = cw.agg(
      min(when($"cum" >= expr("(total + 19) div 20"), $"n_tokens"))
        .as("lo_tokens"),
      min(when($"cum" >= expr("(19 * total + 19) div 20"), $"n_tokens"))
        .as("hi_tokens"))
    d.crossJoin(broadcast(bounds))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(($"n_tokens" >= $"lo_tokens" && $"n_tokens" <= $"hi_tokens")
          .cast("long")).as("n_kept"),
        first($"lo_tokens").as("lo_tokens"),
        first($"hi_tokens").as("hi_tokens"))
      .orderBy($"lang")
  }

  /** `embedding_normalize` — L2-normalize the embedding column (the step
    * before any cosine ANN so dot product = cosine). Pure per-row
    * expression math in float64 with sequential accumulation — the same
    * formula as the cosine kernel, so the DuckDB twin is bit-identical —
    * and the output re-checks each normalized vector's unit norm. */
  def embeddingNormalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Σx² = l2sq(v, 0⃗) — x − 0.0 == x exactly in IEEE float64, and the
    // fused expression accumulates in the same ascending order as the
    // aggregate() fold it replaced (CodegenFallback); the valid-guard
    // pins dims, so the zero literal's length always matches
    val zeros = array(Seq.fill(Tables.EMBEDDING_DIMS)(lit(0.0)): _*)
    def dot(a: org.apache.spark.sql.Column) =
      graft.functions.VectorFunctions.l2sq(a, zeros)
    val norm = sqrt(dot($"embedding"))
    val unit = transform($"embedding", x => x.cast("double") / norm)
    Tables.embeddingsValid(spark, dir)
      .select($"vec_id", round(norm, 6).as("l2_norm"),
        round(sqrt(dot(unit)), 6).as("unit_norm"))
      .orderBy($"vec_id")
  }

  /** `embed_quantize` — symmetric int8 scalar quantization of the
    * embedding column (the 4× memory cut an ANN index takes before
    * serving): per-vector scale = 127 / max|x|, q_i = floor(x_i·scale +
    * 0.5) ∈ [-127, 127], and the report carries the quantized range plus
    * the mean |x - q/scale| reconstruction error. Pure per-row expression
    * math — no shuffle, no UDF; floor(·+0.5) instead of round() because
    * both engines define floor identically on IEEE doubles while their
    * round-half modes differ. */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = transform($"embedding", x => x.cast("double"))
    Tables.embeddingsValid(spark, dir)
      .select($"vec_id", v.as("v"),
        (lit(127.0) / array_max(transform(v, x => abs(x)))).as("scale"))
      .withColumn("q",
        transform($"v", x => floor(x * $"scale" + lit(0.5)).cast("int")))
      .select($"vec_id",
        size($"v").cast("long").as("n_dims"),
        round(lit(127.0) / $"scale", 6).as("max_abs"),
        array_min($"q").as("q_min"),
        array_max($"q").as("q_max"),
        round(aggregate(
            zip_with($"v", $"q",
              (x, qq) => abs(x - qq.cast("double") / $"scale")),
            lit(0.0), (acc, e) => acc + e) / size($"v"), 6).as("mae"))
      .orderBy($"vec_id")
  }

  /** `embed_kmeans` — one driver-coordinated Lloyd iteration of k-means
    * over the embedding column (k = 8): seed centroids from the k smallest
    * vec_ids, assign every vector to its nearest centroid (a NARROW
    * codegen'd expression — the centroid array is a broadcast-sized
    * literal, so assignment costs zero shuffles), recompute centroids from
    * per-(cluster, dimension) sums, re-assign, and report each cluster's
    * size and inertia (sum of squared distances — the k-means objective).
    * This is how distributed k-means actually runs at 100 TB: the data
    * never moves for assignment, and the only thing that ever reaches the
    * driver is k×dims aggregated values per iteration (the same
    * metadata-scale collect Iceberg does for manifests). Empty clusters
    * keep their previous centroid.
    *
    * Determinism: per-dimension sums run in DECIMAL(38,30) — the values
    * are |x| < 1 floats, so the cast error (≤5e-31/element) is ~20 orders
    * below assignment sensitivity and both engines produce identical
    * centroids; ties in assignment break by centroid id via a (dist, cid)
    * struct min. */
  def embedKmeans(spark: SparkSession, dir: String): DataFrame =
    embedKmeansReport(spark, dir, iters = 1)

  /** Parameterized Lloyd runner (see [[embedKmeans]]): report the per-
    * cluster sizes and inertia after `iters` centroid updates (0 = under
    * the seeds). PipelineSpec asserts the descent law: inertia is
    * non-increasing in `iters`. */
  private[graft] def embedKmeansReport(spark: SparkSession, dir: String,
      iters: Int): DataFrame = {
    import spark.implicits._
    val k = 8
    // checkpointed: every Lloyd iteration re-reads vecs — without the
    // cut the source scan + transform cost multiplies by the iteration
    // count. localCheckpoint, NOT cache: the ContextCleaner frees the
    // blocks when the returned plan is dropped, where a cache() pins
    // the table in executor storage for the session's lifetime. LAZY:
    // the seeds collect right below materializes it in its own job.
    val vecs = Tables.embeddingsValid(spark, dir)
      .select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("v"))
      .localCheckpoint(false)
    val seeds: Array[Seq[Double]] = vecs.filter($"vec_id" < k)
      .orderBy($"vec_id").collect().map(_.getSeq[Double](1))

    // fused single-pass assignment (NearestCentroid: argmin by d2,
    // tie -> lowest cid, straight float64 fold) — the k-struct
    // array_min spelling allocated per row per Lloyd pass;
    // PipelineSpec asserts equivalence against that spelling
    def assign(cs: Array[Seq[Double]]) =
      graft.functions.PqFunctions.nearestCentroid($"v", cs.toSeq)

    // Lloyd update: exact per-(cluster, dim) decimal sums -> k*dims rows
    // to the driver -> new centroid literals for the next assignment
    def update(cs: Array[Seq[Double]]): Array[Seq[Double]] = {
      // belt-and-braces: embeddingsValid fences unassignable vectors,
      // but a null assignment must not reach the driver read below
      // (Row.getInt throws NullPointerException on a null field, so the
      // Lloyd update would crash mid-iteration). The skip happens
      // DRIVER-side on the k*dims group rows: a distributed
      // .filter($"a".isNotNull) would be pushed below the projection
      // and run the fused assignment twice per row
      val sums = vecs.withColumn("a", assign(cs))
        .select($"v", $"a.cid".as("cid"))
        .select($"cid", posexplode($"v"))
        .groupBy($"cid", $"pos")
        .agg(sum(col("col").cast("decimal(38,30)")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val byCid = sums.filter(!_.isNullAt(0)).groupBy(_.getInt(0))
      cs.indices.map { cid =>
        byCid.get(cid) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(1)).toSeq
              .map(r => r.getDecimal(2).doubleValue / r.getLong(3))
          case None => cs(cid) // empty cluster keeps its centroid
        }
      }.toArray
    }

    val centroids = (1 to iters).foldLeft(seeds)((cs, _) => update(cs))
    // no isNotNull fence on the kernel output (pushdown would double
    // the per-row assignment — see update() above); if embeddingsValid
    // ever regresses, null assignments surface as a VISIBLE null-cid
    // group row instead of being silently dropped
    vecs.withColumn("a", assign(centroids))
      .select($"a.cid".cast("long").as("cid"), $"a.d2".as("d2"))
      .groupBy($"cid")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum($"d2".cast("decimal(18,9)")).cast("double"), 6)
          .as("inertia"))
      .orderBy($"cid")
  }

  /** `embed_pq` — PRODUCT-QUANTIZATION encode + asymmetric-distance
    * query (the FAISS IVF-PQ kernel): the 64-dim space splits into m=8
    * subspaces of 8 dims, each with a k=8-entry codebook (slices of
    * vectors 0-7 — deterministic seeds, the [[embedKmeans]] convention);
    * a vector's PQ code = its argmin centroid per subspace, so 64 floats
    * (256 B) compress to 8 code bytes (32×, [[embedQuantize]]'s scalar
    * 4× taken further). The query (vector 5) is answered WITHOUT
    * decoding anything: its per-subspace distances to the 8 centroids
    * form a lookup table (plan literals), and a vector's approximate
    * distance is the sum of 8 table lookups keyed by its codes —
    * narrow, shuffle-free, whole-stage-codegen'd; only the top-8 sort
    * moves rows. At 100 TB the codes ride a table 32× smaller than the
    * vectors and the ADC scan never touches a corpus float;
    * [[simPqRecall]] reports the fidelity this buys. */
  def embedPq(spark: SparkSession, dir: String): DataFrame =
    embedPqAll(spark, dir).limit(8)

  /** Product-quantization model shared by [[embedPq]] and the persisted
    * IVF-PQ index ([[SimilarityOps.simIvfpqIndex]]): m=8 subspaces of 8
    * dims, each with a k=8-entry codebook whose entries are slices of the
    * seed vectors 0-7 (deterministic, the [[embedKmeans]] convention);
    * query = vector 5. All sums are explicit left-to-right chains so the
    * DuckDB twin arithmetic is bit-identical. */
  private[graft] final case class PqModel(
      book: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      q: IndexedSeq[Double]) {
    val m = 8; val sub = 8; val k = 8

    /** query→centroid squared distance in subspace `s` — a driver-side
      * double folded in the oracle's list_sum order, so the plan literal
      * is bit-identical to DuckDB's. */
    def qd2(s: Int, c: Int): Double = {
      var acc = 0.0
      var i = 0
      while (i < sub) {
        val d = q(s * sub + i) - book(s)(c)(i); acc += d * d; i += 1
      }
      acc
    }

    /** full-vector query→centroid distance (coarse probe ranking):
      * chained subspace sum, same order as the qd oracle CTE. */
    def qd2Full(c: Int): Double = (0 until m).map(qd2(_, c)).reduce(_ + _)

    /** sequential squared distance of an 8-dim slice to a literal
      * codebook entry (the twin of list_sum(list_transform(...))) —
      * fused codegen [[graft.functions.L2Squared]], same fold order. */
    def sliceD2(vs: org.apache.spark.sql.Column,
        cs: IndexedSeq[Double]): org.apache.spark.sql.Column =
      graft.functions.VectorFunctions.l2sq(vs, array(cs.map(lit): _*))

    /** all m codes as one array column — the 8-byte index payload.
      * Fused single-pass encode ([[graft.functions.PqEncodeCodes]]):
      * the declarative m×k slice+l2sq+argmin spelling (kept in the spec
      * suite's ReferenceTwins as the equivalence twin PipelineSpec
      * asserts against) is allocation-bound — 64 slice arrays and 64
      * structs per vector. */
    def codesCol(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      graft.functions.PqFunctions.pqEncode(v, book)

    /** coarse (full-vector) distance to centroid `c`: chained subspace
      * sum — identical arithmetic to the oracle's fullv CTE. */
    def fullD2(v: org.apache.spark.sql.Column,
        c: Int): org.apache.spark.sql.Column =
      (0 until m).map(s =>
        sliceD2(slice(v, s * sub + 1, sub), book(s)(c))).reduce(_ + _)

    /** IVF bucket = argmin coarse centroid, tie → lowest id. */
    def bucketCol(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array_min(array((0 until k).map(c =>
        struct(fullD2(v, c).as("d2"), lit(c).as("cid"))): _*))
        .getField("cid")

    /** ADC distance from a STORED codes array: 8 table lookups keyed by
      * the codes — never touches a corpus float. */
    def adcFromCodes(codes: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (0 until m).map(s =>
        element_at(array((0 until k).map(c => lit(qd2(s, c))): _*),
          element_at(codes, s + 1) + 1)).reduce(_ + _)
  }

  /** RESIDUAL-PQ model — FAISS IVF-PQ proper, one fidelity step past
    * [[PqModel]]'s raw-vector codes: what gets quantized is the residual
    * `v − centroid(bucket(v))`, so the codebook only has to cover the
    * spread WITHIN a coarse cell instead of the whole space, and the
    * query builds one ADC table PER PROBED BUCKET from its own residual.
    * Coarse centroids = vectors 0-7 (the [[PqModel]] convention);
    * residual codebook = the residuals of seed vectors 8-15 w.r.t.
    * their own coarse cells. A vector whose residual IS a codebook
    * entry has EXACT ADC distance (the lookups reconstruct
    * ‖q − v‖² identically — PipelineSpec/SimilaritySpec assert), which
    * is the property that makes residual coding strictly more faithful
    * near codebook mass. All folds chain left-to-right for DuckDB twin
    * bit-identity. */
  private[graft] final case class PqrModel(
      centroids: IndexedSeq[IndexedSeq[Double]],
      bookR: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      q: IndexedSeq[Double]) {
    val m = 8; val sub = 8; val k = 8

    /** query residual w.r.t. probed bucket `b` (driver-side doubles). */
    def qResidual(b: Int): IndexedSeq[Double] =
      q.indices.map(i => q(i) - centroids(b)(i))

    /** ADC table literal: d² of the bucket-`b` query residual's subspace
      * `s` slice to residual-codebook entry `c`, oracle fold order. */
    def qd2(b: Int, s: Int, c: Int): Double = {
      val qr = qResidual(b)
      var acc = 0.0
      var i = 0
      while (i < sub) {
        val d = qr(s * sub + i) - bookR(s)(c)(i); acc += d * d; i += 1
      }
      acc
    }

    /** per-subspace centroid-slice table: `element_at(..., bucket+1)`
      * resolves a row's own centroid slice inside the projection. */
    private def centSlices(s: Int): org.apache.spark.sql.Column =
      array((0 until k).map(c =>
        array(centroids(c).slice(s * sub, (s + 1) * sub).map(lit): _*)): _*)

    /** residual slice s of vector column `v` given its `bucket` col. */
    def resSlice(v: org.apache.spark.sql.Column,
        bucket: org.apache.spark.sql.Column,
        s: Int): org.apache.spark.sql.Column =
      zip_with(slice(v, s * sub + 1, sub),
        element_at(centSlices(s), bucket + 1), (a, b) => a - b)

    /** residual-PQ code of subspace s: argmin residual-codebook entry. */
    def codeCol(v: org.apache.spark.sql.Column,
        bucket: org.apache.spark.sql.Column,
        s: Int): org.apache.spark.sql.Column = {
      val rs = resSlice(v, bucket, s)
      array_min(array((0 until k).map(c =>
        struct(graft.functions.VectorFunctions.l2sq(rs,
          array(bookR(s)(c).map(lit): _*))
          .as("d2"), lit(c).as("cid"))): _*))
        .getField("cid")
    }

    /** all m residual codes as one array column. */
    def codesCol(v: org.apache.spark.sql.Column,
        bucket: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array((0 until m).map(codeCol(v, bucket, _)): _*)

    /** ADC from STORED codes for probed bucket `b`: 8 lookups in that
      * bucket's own table — never decodes a corpus float. */
    def adcFromCodes(codes: org.apache.spark.sql.Column,
        b: Int): org.apache.spark.sql.Column =
      (0 until m).map(s =>
        element_at(array((0 until k).map(c => lit(qd2(b, s, c))): _*),
          element_at(codes, s + 1) + 1)).reduce(_ + _)
  }

  /** Build the residual model: 17 driver-side rows (centroid seeds 0-7,
    * residual-book seeds 8-15, query 5). Seed coarse assignment runs in
    * driver doubles with the same chained fold the engine plans, so the
    * residual book matches the oracle's bit-for-bit. */
  private[graft] def pqrModel(spark: SparkSession, dir: String): PqrModel = {
    import spark.implicits._
    val rows = Tables.embeddingsValid(spark, dir)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .filter($"vec_id" < 16 || $"vec_id" === 5)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq)
      .toMap
    val cents = (0 until 8).map(c => rows(c.toLong))
    def d2Full(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
      var total = 0.0
      var s = 0
      while (s < 8) {
        var acc = 0.0
        var i = 0
        while (i < 8) { val d = a(s * 8 + i) - b(s * 8 + i); acc += d * d; i += 1 }
        total += acc
        s += 1
      }
      total
    }
    val bookR = {
      val res = (8 until 16).map { j =>
        val v = rows(j.toLong)
        val b = (0 until 8).map(c => (d2Full(v, cents(c)), c)).min._2
        v.indices.map(i => v(i) - cents(b)(i))
      }
      (0 until 8).map(s => (0 until 8).map(c =>
        res(c).slice(s * 8, (s + 1) * 8)))
    }
    PqrModel(cents, bookR, rows(5L))
  }

  /** Build BOTH models from pqrModel's ONE collect (its row set is a
    * strict superset of pqModel's; the coarse centroids ARE the PQ
    * book's source vectors): the back-to-back call sites previously
    * paid two scans for duplicated driver-side slicing. */
  private[graft] def pqModels(spark: SparkSession,
      dir: String): (PqModel, PqrModel) = {
    val pqr = pqrModel(spark, dir)
    val book = (0 until 8).map(s => (0 until 8).map(c =>
      pqr.centroids(c).slice(s * 8, (s + 1) * 8)))
    (PqModel(book, pqr.q), pqr)
  }

  /** Build the PQ model: codebook seeds + query are 9 driver-side rows —
    * metadata cardinality, like Iceberg's manifest planning. */
  private[graft] def pqModel(spark: SparkSession, dir: String): PqModel = {
    import spark.implicits._
    val seed = Tables.embeddingsValid(spark, dir)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .filter($"vec_id" < 8 || $"vec_id" === 5)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val book = (0 until 8).map(s => (0 until 8).map(c =>
      seed(c.toLong).slice(s * 8, (s + 1) * 8).toIndexedSeq))
    PqModel(book, seed(5L).toIndexedSeq)
  }

  /** All ADC distances, unsorted-cut (see [[embedPq]]); split out so the
    * spec can check seeds, for which ADC is EXACT (a codebook vector's
    * codes reproduce its own slices, so the table lookups sum to the
    * true query distance). */
  private[graft] def embedPqAll(spark: SparkSession, dir: String,
      model: Option[PqModel] = None): DataFrame = {
    import spark.implicits._
    val pq = model.getOrElse(pqModel(spark, dir))
    val vecs = Tables.embeddingsValid(spark, dir)
      .select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("v"))
    // one fused encode per row — kept honest by NOT filtering on the
    // kernel output: Catalyst pushes Filter(isnotnull(codes)) below the
    // projection, re-inlining pq.codesCol into the filter and doubling
    // the per-row encode. Unencodable vectors (null codes — fenced by
    // embeddingsValid, belt-and-braces here) instead sort LAST, so
    // every top-k cut stays clean at zero extra per-row work. Deliberate
    // consequence: if the guard ever regresses, full-output consumers
    // see a TRAILING null-distance row (a loud, visible signal — the
    // spec's getDouble throws) rather than paying the kernel twice to
    // silently hide the regression.
    vecs.filter($"vec_id" =!= 5)
      .withColumn("codes", pq.codesCol($"v"))
      .select($"vec_id", round(pq.adcFromCodes($"codes"), 6).as("adc_d2"))
      .orderBy($"adc_d2".asc_nulls_last, $"vec_id")
  }

  /** `sim_pq_recall` — the honesty report for [[embedPq]], mirroring
    * [[SimilarityOps.simIvfRecall]]: recall@8 of the PQ
    * asymmetric-distance top-8 against the EXACT L2 top-8 for the same
    * query, one output row, computed in one plan (semi-join of the two
    * top-k lists). PQ trades 16× compression for ranking error — the
    * recall number is what a user needs before trusting the codes table;
    * at 100 TB exact ground truth comes from a sampled query set, the
    * same shape as this. */
  def simPqRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 8
    val vecs = Tables.embeddingsValid(spark, dir)
      .select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("v"))
    // the model already carries the query vector — reusing it (and
    // passing the model into embedPqAll) saves two embeddings-scan
    // collect jobs per run
    val pq = pqModel(spark, dir)
    val q = pq.q
    // exact squared-L2 to the query, same fold order as the oracle;
    // nulls LAST like embedPqAll's ADC cut — if the validity guard ever
    // regresses, a null distance must not silently crown the exact
    // top-k and deflate the recall it anchors
    val exactD2 = graft.functions.VectorFunctions.l2sq(
      $"v", array(q.map(lit): _*))
    val exactTop = vecs.filter($"vec_id" =!= 5)
      .select($"vec_id", round(exactD2, 6).as("d2"))
      .orderBy($"d2".asc_nulls_last, $"vec_id").limit(k)
      .select($"vec_id")
    val adcTop = embedPqAll(spark, dir, Some(pq)).limit(k)
      .select($"vec_id")
    adcTop.join(exactTop, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(k.toLong).as("k"), $"n_hits",
        round($"n_hits".cast("double") / k, 6).as("recall"))
  }

  /** `curation_funnel` — the end-to-end curation decision in ONE pass:
    * how many docs survive each stage (language gate → quality gate →
    * exact dedup on normalized text). All four funnel counts are
    * conditional aggregates of a single scan — one shuffle total, no
    * per-stage materialization — so at 100 TB the funnel costs exactly
    * one pass over the corpus (the distinct-text count expands to a
    * two-level aggregate, still one scan). The per-stage breakdown is
    * what a pipeline operator reports before committing a curation run. */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val langOk = $"lang" === "en"
    val qualityOk = langOk && length($"text") >= 50 &&
      size(array_remove(split($"text", " "), "")) >= 10
    val norm = trim(regexp_replace(lower($"text"), "\\s+", " "))
    Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_total"),
        count(when(langOk, 1)).as("n_lang"),
        count(when(qualityOk, 1)).as("n_quality"),
        countDistinct(when(qualityOk, norm)).as("n_unique"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curation_funnel" -> (curationFunnel _),
    "embed_kmeans" -> (embedKmeans _),
    "embed_pq" -> (embedPq _),
    "sim_pq_recall" -> (simPqRecall _),
    "embed_quantize" -> (embedQuantize _),
    "dedup_cluster" -> (dedupCluster _),
    "dedup_resolve" -> (dedupResolve _),
    "shuffle_epoch" -> (shuffleEpoch _),
    "sample_stratified" -> (sampleStratified _),
    "sample_temperature" -> (sampleTemperature _),
    "length_band_filter" -> (lengthBandFilter _),
    "sample_cap_per_key" -> (sampleCapPerKey _),
    "split_train_test" -> (splitTrainTest _),
    "domain_mix" -> (domainMix _),
    "pack_sequences" -> (packSequences _),
    "pack_sequences_ffd" -> (packSequencesFfd _),
    "contamination_check" -> (contaminationCheck _),
    "token_histogram" -> (tokenHistogram _),
    "embedding_normalize" -> (embeddingNormalize _))

  /** Shared CTE text: Jaccard ≥ 0.5 character-3-gram pairs (the twin of
    * [[DedupOps.jaccardPairs]] over doc_id < `bound`). */
  private def edgesCte(bound: Int) =
    s"""sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, greatest(len(text) - 1, 2)),
       |    i -> substr(text, i::INT, 3)))) AS s
       |  FROM documents WHERE doc_id < $bound),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT da, db FROM pairs
       |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
       |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5)""".stripMargin

  private val SPLIT =
    """CASE WHEN (doc_id * 179426549) % 100 < 80 THEN 'train'
      |     WHEN (doc_id * 179426549) % 100 < 90 THEN 'val'
      |     ELSE 'test' END""".stripMargin

  private val NTOK =
    "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)"

  /** Shared CTE text for the product-quantization oracles: `adc` =
    * per-vector ADC distance to query vector 5 under the 8×8 codebook
    * (the twin of [[embedPqAll]]). The per-subspace sum is an explicit
    * left-to-right chain so the fold order matches the engine's. */
  private[graft] val PQ_CTES =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |book AS (SELECT vec_id AS c, v AS cv FROM e WHERE vec_id < 8),
      |qv AS (SELECT v AS qvec FROM e WHERE vec_id = 5),
      |vd AS (
      |  SELECT e.vec_id, ss.s, b.c,
      |    list_sum(list_transform(range(1, 9),
      |      i -> (e.v[(ss.s * 8 + i)::INT] - b.cv[(ss.s * 8 + i)::INT])
      |         * (e.v[(ss.s * 8 + i)::INT] - b.cv[(ss.s * 8 + i)::INT])))
      |      AS d2v,
      |    list_sum(list_transform(range(1, 9),
      |      i -> (qv.qvec[(ss.s * 8 + i)::INT] - b.cv[(ss.s * 8 + i)::INT])
      |         * (qv.qvec[(ss.s * 8 + i)::INT] - b.cv[(ss.s * 8 + i)::INT])))
      |      AS d2q
      |  FROM e
      |  CROSS JOIN (SELECT unnest(range(0, 8)) AS s) ss
      |  CROSS JOIN book b
      |  CROSS JOIN qv
      |  WHERE e.vec_id <> 5),
      |codes AS (
      |  SELECT vec_id, s, d2q FROM (
      |    SELECT *, row_number()
      |      OVER (PARTITION BY vec_id, s ORDER BY d2v, c) AS rn FROM vd)
      |  WHERE rn = 1),
      |adc AS (
      |  SELECT vec_id, round(
      |      MAX(CASE WHEN s = 0 THEN d2q END)
      |    + MAX(CASE WHEN s = 1 THEN d2q END)
      |    + MAX(CASE WHEN s = 2 THEN d2q END)
      |    + MAX(CASE WHEN s = 3 THEN d2q END)
      |    + MAX(CASE WHEN s = 4 THEN d2q END)
      |    + MAX(CASE WHEN s = 5 THEN d2q END)
      |    + MAX(CASE WHEN s = 6 THEN d2q END)
      |    + MAX(CASE WHEN s = 7 THEN d2q END), 6) AS adc_d2
      |  FROM codes GROUP BY vec_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "curation_funnel" ->
      """SELECT COUNT(*) AS n_total,
        |  COUNT(CASE WHEN lang = 'en' THEN 1 END) AS n_lang,
        |  COUNT(CASE WHEN lang = 'en' AND length(text) >= 50
        |    AND len(list_filter(string_split(text, ' '), t -> t <> ''))
        |      >= 10 THEN 1 END) AS n_quality,
        |  COUNT(DISTINCT CASE WHEN lang = 'en' AND length(text) >= 50
        |    AND len(list_filter(string_split(text, ' '), t -> t <> ''))
        |      >= 10
        |    THEN trim(regexp_replace(lower(text), '\s+', ' ', 'g')) END)
        |    AS n_unique
        |FROM documents""".stripMargin,
    "embed_kmeans" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |d0 AS (
        |  SELECT e.vec_id, e.v, c0.cid,
        |    list_sum(list_transform(range(1, len(e.v) + 1),
        |      i -> (e.v[i::INT] - c0.cv[i::INT])
        |         * (e.v[i::INT] - c0.cv[i::INT]))) AS d2
        |  FROM e CROSS JOIN c0),
        |a0 AS (
        |  SELECT vec_id, v, cid FROM (
        |    SELECT *, row_number()
        |      OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d0)
        |  WHERE rn = 1),
        |s1 AS (
        |  SELECT cid, i AS d,
        |    CAST(SUM(CAST(v[i::INT] AS DECIMAL(38,30))) AS DOUBLE)
        |      / COUNT(*) AS cval
        |  FROM a0 CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dims
        |  GROUP BY cid, i),
        |c1 AS (
        |  SELECT c0.cid,
        |    COALESCE(any_value(s.cv), any_value(c0.cv)) AS cv
        |  FROM c0 LEFT JOIN (
        |    SELECT cid, list(cval ORDER BY d) AS cv FROM s1 GROUP BY cid) s
        |  ON c0.cid = s.cid GROUP BY c0.cid),
        |d1 AS (
        |  SELECT e.vec_id, c1.cid,
        |    list_sum(list_transform(range(1, len(e.v) + 1),
        |      i -> (e.v[i::INT] - c1.cv[i::INT])
        |         * (e.v[i::INT] - c1.cv[i::INT]))) AS d2
        |  FROM e CROSS JOIN c1),
        |a1 AS (
        |  SELECT vec_id, cid, d2 FROM (
        |    SELECT *, row_number()
        |      OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d1)
        |  WHERE rn = 1)
        |SELECT CAST(cid AS BIGINT) AS cid, COUNT(*) AS n_vecs,
        |  round(CAST(SUM(CAST(d2 AS DECIMAL(18,9))) AS DOUBLE), 6)
        |    AS inertia
        |FROM a1 GROUP BY cid ORDER BY cid""".stripMargin,
    "embed_pq" -> s"""WITH $PQ_CTES
        |SELECT vec_id, adc_d2 FROM adc
        |ORDER BY adc_d2, vec_id LIMIT 8""".stripMargin,
    "sim_pq_recall" -> s"""WITH $PQ_CTES,
        |pq AS (SELECT vec_id FROM adc ORDER BY adc_d2, vec_id LIMIT 8),
        |ex AS (
        |  SELECT vec_id FROM (
        |    SELECT e.vec_id, round(list_sum(list_transform(range(1, 65),
        |        i -> (e.v[i::INT] - qv.qvec[i::INT])
        |           * (e.v[i::INT] - qv.qvec[i::INT]))), 6) AS d2
        |    FROM e CROSS JOIN qv WHERE e.vec_id <> 5)
        |  ORDER BY d2, vec_id LIMIT 8)
        |SELECT CAST(8 AS BIGINT) AS k, COUNT(*) AS n_hits,
        |  round(COUNT(*) / 8.0, 6) AS recall
        |FROM pq JOIN ex USING (vec_id)""".stripMargin,
    "embed_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    127.0 / list_max(list_transform(embedding::DOUBLE[],
        |      x -> abs(x))) AS scale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, v, scale,
        |    list_transform(v, x -> CAST(floor(x * scale + 0.5) AS INT)) AS qv
        |  FROM s)
        |SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims,
        |  round(127.0 / scale, 6) AS max_abs,
        |  list_min(qv) AS q_min, list_max(qv) AS q_max,
        |  round(list_sum(list_transform(range(1, len(v) + 1),
        |    i -> abs(v[i::INT] - qv[i::INT] / scale))) / len(v), 6) AS mae
        |FROM q ORDER BY vec_id""".stripMargin,
    "pack_sequences" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, $NTOK AS n_tokens,
         |    CAST(ascii(substr(md5('pack1:' || CAST(doc_id AS VARCHAR)),
         |      1, 1)) AS BIGINT) AS shard
         |  FROM documents),
         |c AS (
         |  SELECT lang, shard, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      - n_tokens AS cum_before
         |  FROM d)
         |SELECT lang, shard,
         |  CAST(FLOOR(cum_before / 2048) AS BIGINT) AS seq_id,
         |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
         |FROM c GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "pack_sequences_ffd" ->
      // the sequential FFD walk as a recursive CTE: one step per item
      // per (lang, shard), carrying the bin-fill and bin-count lists;
      // j = first bin the item fits (0 = open a new bin)
      s"""WITH RECURSIVE d AS (
         |  SELECT lang,
         |    CAST(ascii(substr(md5('pack1:' || CAST(doc_id AS VARCHAR)),
         |      1, 1)) AS BIGINT) AS shard,
         |    doc_id, $NTOK AS n
         |  FROM documents
         |  WHERE doc_id IS NOT NULL AND $NTOK IS NOT NULL),
         |items AS (
         |  SELECT lang, shard, n,
         |    row_number() OVER (PARTITION BY lang, shard
         |      ORDER BY n DESC, doc_id) AS rn
         |  FROM d),
         |sizes AS (SELECT lang, shard, COUNT(*) AS m FROM items
         |  GROUP BY 1, 2),
         |fit AS (
         |  SELECT lang, shard, CAST(0 AS BIGINT) AS rn,
         |    CAST([] AS BIGINT[]) AS fills, CAST([] AS BIGINT[]) AS cnts, m
         |  FROM sizes
         |  UNION ALL
         |  SELECT f.lang, f.shard, f.rn + 1,
         |    CASE WHEN j.j = 0 THEN list_append(f.fills, i.n)
         |         ELSE list_transform(range(1, len(f.fills) + 1),
         |           x -> CASE WHEN x = j.j THEN f.fills[x::INT] + i.n
         |                     ELSE f.fills[x::INT] END) END,
         |    CASE WHEN j.j = 0 THEN list_append(f.cnts, CAST(1 AS BIGINT))
         |         ELSE list_transform(range(1, len(f.cnts) + 1),
         |           x -> CASE WHEN x = j.j THEN f.cnts[x::INT] + 1
         |                     ELSE f.cnts[x::INT] END) END,
         |    f.m
         |  FROM fit f
         |  JOIN items i ON i.lang = f.lang AND i.shard = f.shard
         |    AND i.rn = f.rn + 1,
         |  LATERAL (SELECT COALESCE(list_min(list_filter(
         |    range(1, len(f.fills) + 1),
         |    x -> f.fills[x::INT] + i.n <= 2048)), 0) AS j) j
         |  WHERE f.rn < f.m)
         |SELECT f.lang, f.shard, CAST(u.b AS BIGINT) AS bin,
         |  CAST(f.cnts[u.b::INT] AS BIGINT) AS n_docs,
         |  CAST(f.fills[u.b::INT] AS BIGINT) AS fill_tokens
         |FROM fit f, UNNEST(range(1, len(f.fills) + 1)) AS u(b)
         |WHERE f.rn = f.m
         |ORDER BY lang, shard, bin""".stripMargin,
    "contamination_check" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(w) - 7, 0) + 1),
         |    i -> array_to_string(w[i::INT:i::INT + 7], ' ')))) AS s
         |  FROM toks),
         |d AS (SELECT doc_id, $SPLIT AS split FROM documents),
         |tr AS (SELECT DISTINCT s FROM sh JOIN d USING (doc_id)
         |       WHERE split = 'train'),
         |cont AS (
         |  SELECT DISTINCT sh.doc_id, d.split FROM sh
         |  JOIN tr USING (s) JOIN d ON sh.doc_id = d.doc_id
         |  WHERE d.split <> 'train'),
         |base AS (
         |  SELECT split, COUNT(*) AS n_docs FROM d
         |  WHERE split <> 'train' GROUP BY 1),
         |cc AS (SELECT split, COUNT(*) AS n FROM cont GROUP BY 1)
         |SELECT base.split, base.n_docs,
         |  CAST(COALESCE(cc.n, 0) AS BIGINT) AS n_contaminated
         |FROM base LEFT JOIN cc ON base.split = cc.split
         |ORDER BY base.split""".stripMargin,
    "token_histogram" ->
      s"""WITH d AS (SELECT $NTOK AS n FROM documents)
         |SELECT n // 16 AS bucket, COUNT(*) AS n_docs,
         |  MIN(n) AS min_tokens, MAX(n) AS max_tokens
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "embedding_normalize" ->
      """SELECT vec_id,
        |  round(sqrt(list_dot_product(embedding::DOUBLE[],
        |    embedding::DOUBLE[])), 6) AS l2_norm,
        |  round(sqrt(list_dot_product(u, u)), 6) AS unit_norm
        |FROM (
        |  SELECT vec_id, embedding,
        |    list_transform(embedding::DOUBLE[], x ->
        |      x / sqrt(list_dot_product(embedding::DOUBLE[],
        |        embedding::DOUBLE[]))) AS u
        |  FROM embeddings)
        |ORDER BY vec_id""".stripMargin,
    "dedup_resolve" ->
      s"""WITH RECURSIVE ${edgesCte(200)},
         |sym AS (SELECT da AS s, db AS d FROM edges
         |        UNION ALL SELECT db, da FROM edges),
         |reach(node, l) AS (
         |  SELECT doc_id, doc_id FROM documents WHERE doc_id < 200
         |  UNION
         |  SELECT s.d, r.l FROM reach r JOIN sym s ON r.node = s.s),
         |lab AS (SELECT node, MIN(l) AS label FROM reach GROUP BY node)
         |SELECT d.lang, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN d.doc_id = lab.label THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN d.doc_id = lab.label THEN 0 ELSE 1 END)
         |    AS BIGINT) AS n_dropped
         |FROM documents d JOIN lab ON d.doc_id = lab.node
         |WHERE d.doc_id < 200
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "dedup_cluster" ->
      s"""WITH RECURSIVE ${edgesCte(40)},
         |sym AS (SELECT da AS s, db AS d FROM edges
         |        UNION ALL SELECT db, da FROM edges),
         |reach(node, l) AS (
         |  SELECT doc_id, doc_id FROM documents WHERE doc_id < 40
         |  UNION
         |  SELECT s.d, r.l FROM reach r JOIN sym s ON r.node = s.s),
         |lab AS (SELECT node, MIN(l) AS cluster_id FROM reach GROUP BY node)
         |SELECT cluster_id, COUNT(*) AS n_docs, MAX(node) AS max_doc
         |FROM lab GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "shuffle_epoch" ->
      """WITH keyed AS (
        |  SELECT doc_id, md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM documents),
        |sharded AS (
        |  SELECT doc_id, CAST(ascii(substr(skey, 1, 1)) AS BIGINT) AS shard,
        |    skey FROM keyed)
        |SELECT doc_id, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY skey)
        |    AS BIGINT) AS pos
        |FROM sharded ORDER BY shard, pos""".stripMargin,
    "sample_cap_per_key" ->
      """WITH ranked AS (
        |  SELECT source, lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5('cap42:' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS rk
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_kept,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM ranked WHERE rk <= 100
        |GROUP BY source ORDER BY source""".stripMargin,
    "length_band_filter" ->
      s"""WITH d AS (
        |  SELECT lang, CAST(len(${TextOps.toksSql("text")}) AS BIGINT)
        |    AS n_tokens FROM documents),
        |h AS (SELECT n_tokens, COUNT(*) AS c FROM d GROUP BY n_tokens),
        |cw AS (
        |  SELECT n_tokens,
        |    SUM(c) OVER (ORDER BY n_tokens
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER () AS total
        |  FROM h),
        |b AS (
        |  SELECT
        |    MIN(CASE WHEN cum >= (total + 19) // 20
        |      THEN n_tokens END) AS lo_tokens,
        |    MIN(CASE WHEN cum >= (19 * total + 19) // 20
        |      THEN n_tokens END) AS hi_tokens
        |  FROM cw)
        |SELECT d.lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN d.n_tokens BETWEEN b.lo_tokens AND
        |    b.hi_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  b.lo_tokens, b.hi_tokens
        |FROM d, b
        |GROUP BY d.lang, b.lo_tokens, b.hi_tokens
        |ORDER BY d.lang""".stripMargin,
    "sample_temperature" ->
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        |m AS (SELECT MAX(n_docs) AS n_max FROM c),
        |r AS (
        |  SELECT lang, n_docs,
        |    CAST(round(1000000 * sqrt(CAST(n_docs AS DOUBLE) /
        |      CAST(n_max AS DOUBLE))) AS BIGINT) AS rate_ppm
        |  FROM c, m)
        |SELECT d.lang, r.n_docs, r.rate_ppm,
        |  CAST(SUM(CASE WHEN (d.doc_id * 2654435761) % 1000000 <
        |    r.rate_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents d JOIN r ON d.lang = r.lang
        |GROUP BY d.lang, r.n_docs, r.rate_ppm
        |ORDER BY d.lang""".stripMargin,
    "sample_stratified" ->
      """SELECT lang, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN (doc_id * 2654435761) % 1000 <
        |    (CASE WHEN lang = 'en' THEN 250 ELSE 750 END)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "split_train_test" ->
      """SELECT CASE WHEN (doc_id * 179426549) % 100 < 80 THEN 'train'
        |            WHEN (doc_id * 179426549) % 100 < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "domain_mix" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  round(CAST(COUNT(*) AS DOUBLE) /
        |    CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6) AS share,
        |  round(0.2 * CAST(SUM(COUNT(*)) OVER () AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE), 6) AS weight
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
}
