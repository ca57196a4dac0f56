package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** North-star deduplication operators over `documents` (SURVEY.md §2j).
  *
  * Scale design: every variant is a shuffle-on-key formulation — group by
  * content hash (exact/near), or explode→bucket-join on shingle/band/bucket
  * keys (jaccard/minhash/simhash) — never an O(n²) cross join. At 100 TB the
  * candidate-pair space is bounded by bucket collisions, which is the whole
  * point of MinHash-LSH banding (Broder '97 / Leskovec MMDS ch.3).
  */
object DedupOps {

  /** The sf-PROPORTIONAL audit anchor of the three pairwise-confirm keys
    * (`dedup_ngram_jaccard`, `dedup_minhash_lsh`, `dedup_simhash`): a
    * deterministic multiplicative hash-sample `(doc_id * k) % 100 < pct`
    * — the same integer-arithmetic family as PipelineOps' sampling keys,
    * spelled identically in each DuckDB twin so both engines select the
    * exact same docs. k is chosen coprime to 100, so the predicate keeps
    * exactly pct% of every 100 consecutive ids: the audited set is a
    * fixed FRACTION of the corpus at every sf (sf-proportional), not the
    * fixed-size `doc_id < K` prefix r19 shipped (which covered ~0% at
    * 100×). The fraction — not the plan — bounds the replay cost: on
    * this small-vocab corpus pair DENSITY is scale-constant (~38% of all
    * pairs at char-3-gram Jaccard ≥ 0.5, ~7% at MinHash 0.4, ~2% at
    * hamming ≤ 3 — measured sf0.01 vs sf0.1), so result size grows with
    * sample², and the DuckDB oracle additionally replays 16 md5 calls
    * per shingle. Sizing: minhash's 4% and simhash's 10% land the sf0.1
    * sample exactly on their old caps' doc counts (200/500 —
    * bench-neutral); jaccard's 4% (200 docs) is a deliberate 5× widening
    * of its old 40-doc cap, priced in the r20 baseline reset (0.63 →
    * 1.46 s at sf0.1), so all three anchors share one pct family and
    * the sf1 oracle replay stays in seconds. Production uncaps: the
    * executed plans
    * (PPJoin prefix filter, banded bucket join, pigeonhole block join)
    * are the 100 TB shapes and never materialize non-candidate pairs.
    * Contract: doc_id ≥ 0 (the corpus invariant) — Spark's `pmod` and
    * DuckDB's `%` agree only on nonnegative operands; `id * k` must
    * also fit Int64 (holds to id < ~9.4e9 for the largest k here). */
  private[graft] def anchorSample(k: Long, pct: Int): Column =
    pmod(col("doc_id") * lit(k), lit(100L)) < pct

  /** Distinct character 3-gram shingles of a doc's text — the fused
    * linear-pass expression ([[graft.functions.Shingles3]]). Value-equal
    * to the declarative spelling the spec suite keeps (ReferenceTwins;
    * DedupSpec proves it on the edge cases), the readable semantics
    * reference behind the DuckDB twin [[SH]]: the declarative form's
    * per-substr codepoint scan is O(len²) per doc — fine at test sizes,
    * ruinous on 100 KB documents. */
  private[graft] def shingles3(text: Column): Column =
    graft.functions.TextShingleFunctions.shingles3(text)

  /** Distinct word k-gram shingles of a doc — the TOKEN-level shingle
    * unit (k=8 grams drive the contamination audit).
    * Built as k-1 zip_with passes over shifted slices, NOT a transform
    * with element_at(t, i): a lambda-body reference to the split array
    * re-evaluates the regex split PER ELEMENT (≈k·tokens splits per
    * row — measured as 11 s of a 5k-doc shingle pass); slice arguments
    * evaluate the split once per reference, a fixed ~k per row. */
  private[graft] def tokenShingles(text: Column, k: Int): Column = {
    require(k >= 2, s"k-gram needs k >= 2, got $k")
    val t = split(trim(text), "\\s+")
    val n = size(t)
    val len = n - (k - 1)
    val grams = (2 to k).foldLeft(slice(t, lit(1), len)) { (acc, j) =>
      zip_with(acc, slice(t, lit(j), len),
        (a, b) => concat_ws(" ", a, b))
    }
    when(n >= k, array_distinct(grams))
      .otherwise(array().cast("array<string>"))
  }

  /** Spread an under-partitioned frame across the session's cores.
    * A bounded-subset scan (200 docs from one parquet file) arrives as
    * ONE partition, so every downstream per-row hash lane (16 md5s per
    * shingle in the portable signature) runs single-threaded. At corpus
    * scale the scan has thousands of partitions and this is the no-op
    * branch — the repartition only fires when the input is narrower
    * than the executor, where shuffling a few hundred rows costs
    * nothing and the hash stage parallelizes fully. The width estimate
    * comes from file METADATA (relation bytes / maxPartitionBytes),
    * never `df.rdd.getNumPartitions` — materializing the RDD lineage
    * under AQE executes query stages just to read a partition count.
    *
    * Scale caveat (deliberate): the estimate reads WHOLE-relation bytes
    * before filter/partition pruning, so a selective bounded anchor
    * over a large corpus estimates wide and skips the spread — correct
    * for throughput (the pruned scan still has enough partitions at
    * that size), wrong only if a future caller pairs a huge relation
    * with a prune down to a handful of rows AND a hash-heavy map stage;
    * such a caller should repartition explicitly after the filter. */
  private[operators] def spreadSmall(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val bytes = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.sizeInBytes
    }.sum
    // non-file-backed inputs (checkpointed fixtures) estimate as narrow,
    // which is what they are in every caller
    val estParts = (bytes / BigInt(math.max(1L, maxBytes))).toLong + 1
    if (estParts < cores) df.repartition(cores) else df
  }

  /** PORTABLE 60-bit hash: the top 15 hex chars of md5, read base-16.
    * Every engine with md5 computes this bit-identically (DuckDB:
    * `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`), which is what
    * lets the MinHash-LSH and SimHash keys carry FULL DuckDB oracles —
    * xxhash64 is Spark-specific, so the xx-based spellings could only
    * ever be rows-checked. 60 uniform bits lose nothing an LSH family
    * cares about; the fused XXH64 signature expression
    * (functions/MinHashSignature.scala) remains the single-engine fast
    * path and is property-tested separately.
    *
    * Executed form: the fused [[graft.functions.Md5Prefix60]] codegen
    * expression — same value, none of the declarative chain's per-call
    * 32-char hex-string + substring + conv-parse allocations (r21
    * per-task-work pass, guide §1.2 step 2; DedupSpec pins
    * value-equality against the declarative chain, kept in the spec
    * suite's ReferenceTwins). */
  private[graft] def portableHash(c: Column): Column =
    graft.functions.PortableHashFunctions.md5Prefix60(c)

  /** `dedup_exact` — exact duplicate removal on raw text: keep min doc_id
    * per identical text, report group sizes. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy($"text")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select($"keep_id", $"n_copies", length($"text").cast("long").as("len"))
      .orderBy($"keep_id")
  }

  /** `dedup_near` — near-dup grouping on normalized text (lower, collapse
    * whitespace, strip punctuation) hashed with sha2-256. */
  def dedupNear(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val norm = regexp_replace(
      lower(trim(regexp_replace($"text", "\\s+", " "))), "[^a-z0-9 ]", "")
    Tables.documents(spark, dir)
      .select($"doc_id", sha2(norm.cast("binary"), 256).as("h"))
      .groupBy($"h")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select($"keep_id", $"n_copies", $"h")
      .orderBy($"keep_id")
  }

  /** `dedup_ngram_jaccard` — pairwise Jaccard over character-3-gram
    * shingles via the prefix-filtered similarity join ([[jaccardPairs]]):
    * candidates only from globally-rare shingles, confirm by
    * `array_intersect` — no cross join, no hot-shingle blowup. Audits a
    * deterministic 4% [[anchorSample]] of the corpus (sf-proportional;
    * 20 docs at sf0.01, 200 at sf0.1, 2k at sf1). */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    jaccardPairs(
      Tables.documents(spark, dir).filter(anchorSample(982451653L, 4)), 0.5)
      .orderBy($"da", $"db")
  }

  /** All doc pairs with character-3-gram Jaccard ≥ threshold, via the
    * AllPairs/PPJoin prefix filter (Bayardo et al., WWW'07): candidates
    * come from an equi-join restricted to each doc's `n - ceil(t·n) + 1`
    * globally-RAREST shingles, then exact Jaccard is confirmed with one
    * `array_intersect` per candidate pair.
    *
    * Lossless: J(a,b) ≥ t forces |a∩b| ≥ t·max(na,nb), and an overlap that
    * large must reach into both docs' (n - ceil(t·n) + 1)-prefixes under
    * any shared total order of the shingle universe. Ordering by ascending
    * document frequency makes the prefixes the rare shingles, so corpus-hot
    * shingles ("the", " a ") never enter the join — the k-docs-share-a-
    * shingle k² blowup that a naive co-shingle self-join suffers is gone,
    * which is what keeps this shape viable at 100 TB.
    * Columns: da, db, inter, na, nb, jaccard (rounded 6dp). Also the edge
    * generator for [[PipelineOps.dedupCluster]]. */
  private[graft] def jaccardPairs(docs: DataFrame,
      threshold: Double): DataFrame = {
    import docs.sparkSession.implicits._
    thresholdJaccard(jaccardPairStats(docs, threshold), threshold)
      .select($"da", $"db", $"inter", $"na", $"nb",
        round($"jaccard", 6).as("jaccard"))
  }

  /** The jaccard pipeline up to (da, db, na, nb, inter) — shingle sets,
    * prefix table, candidate join (length + positional filters), one
    * intersection per pair. Split out pre-cut (like
    * [[minhashPairStats]]) so plan capture and specs can see the
    * candidate-join strategy that [[thresholdJaccard]]'s lineage cut
    * hides. */
  private[graft] def jaccardPairStats(docs: DataFrame,
      threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // The shingle-set subtree feeds FOUR consumers below (the prefix
    // self-join's two sides and the confirm's two set joins); an eager
    // lineage cut materializes it once instead of re-shingling per branch.
    // Bounded: one row per doc with its shingle array, and every caller
    // restricts docs to a candidate subset first. At full corpus scale the
    // same cut is a persist(DISK_ONLY) on the shingle table.
    // SORTED once per doc (r21): element order is semantics-free for
    // every consumer (explode→freq, global-window prefix ranks, set
    // size, intersection count), and a sorted set lets the confirm run
    // the linear merge kernel per pair instead of building a hash set —
    // n·log n once per doc amortized over every pair the doc joins.
    val sets = spreadSmall(
      docs.select($"doc_id", sort_array(shingles3($"text")).as("ss")))
      .localCheckpoint()
    val sh = sets.select($"doc_id", size($"ss").as("n"), explode($"ss").as("s"))
    val freq = sh.groupBy($"s").agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"df".asc, $"s".asc)
    // same cut for the prefix table: it is both sides of the candidate
    // self-join, and the window+join subtree is the edge build's most
    // expensive stage
    // the required bound is n - ceil(t·n) + 1; computing it as
    // floor((1-t)·n)+1 under-counts by 1 whenever (1-t) is inexact in
    // binary (t=0.8, n=10: floor(1.999…96)+1 = 2, not 3) and a short
    // prefix silently DROPS qualifying pairs. The epsilon guards the
    // dual hazard — t·n landing a hair above its exact integer value —
    // by erring toward a one-longer prefix (still lossless, just less
    // pruning). All current callers pass t=0.5 where both forms agree.
    val prefix = sh.join(freq, "s")
      .withColumn("rk", row_number().over(byRarity))
      .filter($"rk" <= $"n" - ceil(lit(threshold) * $"n" - lit(1e-9)) + 1)
      .select($"doc_id", $"s", $"n", $"rk")
      .localCheckpoint()
    // PPJoin's length filter rides the candidate join: J(a,b) ≥ t forces
    // t·max(na,nb) ≤ |a∩b| ≤ min(na,nb), so docs whose set sizes differ
    // by more than the ratio t can never qualify — pruning them HERE
    // costs two long comparisons per joined row, before the pair ever
    // reaches distinct() or the array confirm. The epsilon mirrors the
    // prefix bound's guard above: when fl(t) rounds UP, fl(fl(t)·n) can
    // exceed the exact t·n and the strict ≥ would drop a pair sitting
    // exactly AT the threshold — err toward admitting the boundary
    // candidate (the exact confirm still decides it). Lossless by the
    // same inequality that defines the threshold.
    //
    // PPJoin's POSITIONAL filter rides the same join (Xiao et al.,
    // WWW'08 §3.2): J ≥ t forces |a∩b| ≥ t·(na+nb)/(1+t), and at a
    // shared prefix shingle with per-doc rarity ranks (ia, ib) the
    // overlap is bounded by 1 + min(na−ia, nb−ib) — valid for the
    // globally-rarest shared shingle, which is always join-visible
    // (a shared shingle rarer than a both-prefix match would rank
    // earlier in BOTH docs and so sit in both prefixes itself), and
    // monotonically tighter for later matches, so keep-if-ANY-row-
    // passes equals the exact first-match test. Lossless; the r21
    // measured effect is pre-distinct candidate rows cut before the
    // exchange (guide §2.3) and confirm pairs cut with them. Spelled
    // fraction-free ((1+t)·ubound ≥ t·(na+nb) − ε, ubound integral) so
    // no ceil-rounding hazard exists to guard beyond the boundary ε.
    // r22: the join's BUILD side carries only each doc's INDEX prefix
    // (AllPairs/PPJoin): for a pair with na ≤ nb the required overlap is
    // α = ceil(t/(1+t)·(na+nb)) ≥ ceil(2t/(1+t)·na), so the smaller doc
    // only needs its first na − ceil(2t/(1+t)·na) + 1 rarest shingles in
    // the join. Lossless by the joint-prefix lemma (Xiao et al., WWW'08
    // Lemma 1): if the two prefixes under one global order don't
    // intersect, overlap ≤ na − |idx prefix| < α — and the globally
    // RAREST shared shingle is then itself in both prefixes (it precedes
    // every other shared shingle in both docs' rarity orders), so the
    // positional filter still sees its exact-valid first-match row.
    // Enumeration drops from Σ c(s)² to Σ c_idx(s)·c(s); the ε errs
    // toward a longer prefix exactly like the probe bound above.
    //
    // The equi-key is xxhash64(s), not s: a 64-bit probe/build compare
    // beats a UTF8String one across the ~Σc_idx·c enumerated matches,
    // and a hash collision merely ADDS candidate pairs — the exact
    // confirm decides survivors, so the result is unchanged by
    // construction (measured at sf1: identical 1.6 M candidate set,
    // candidate stage 7.1→4.0 s).
    //
    // Orientation is (n, doc_id)-lexicographic — the size ordering the
    // index bound needs — so (da, db) is re-canonicalized to doc_id
    // order afterwards; each unordered pair enumerates exactly once.
    val idxPrefix = prefix.filter($"rk" <=
      $"n" - ceil(lit(2 * threshold / (1 + threshold)) * $"n" - lit(1e-9))
        + 1)
    val ubound = lit(1) +
      least($"a.n" - $"a.rk", $"b.n" - $"b.rk")
    val cand = idxPrefix.as("a").join(prefix.as("b"),
        xxhash64($"a.s") === xxhash64($"b.s") &&
          ($"a.n" < $"b.n" ||
            ($"a.n" === $"b.n" && $"a.doc_id" < $"b.doc_id")) &&
          $"a.n" >= lit(threshold) * $"b.n" - lit(1e-9) &&
          (lit(1.0) + lit(threshold)) * ubound >=
            lit(threshold) * ($"a.n" + $"b.n") - lit(1e-6))
      .select(least($"a.doc_id", $"b.doc_id").as("da"),
        greatest($"a.doc_id", $"b.doc_id").as("db")).distinct()
    pairStats(cand, sets)
  }

  /** (da, db, na, nb, inter) for each candidate pair — the confirm's
    * scalar stats, one `array_intersect` per pair by construction.
    * Bounded: one narrow row per candidate pair.
    *
    * NO broadcast hint on the per-doc set table (same posture as
    * [[SimilarityOps]]' embedding confirm, r20): under the
    * sf-proportional anchors the set table GROWS with the corpus, so a
    * hinted broadcast is a plan that cannot be built at 100× — the
    * pair list joins back to the sets as plain joins instead. The set
    * table is a localCheckpoint leaf (LogicalRDD) with no stats, so
    * the STATIC plan is a shuffle join; AQE converts it to a broadcast
    * at runtime when the actual exchanged size is small (measured: the
    * hint-free spelling is a wash at sf0.1 AND sf1 — the r19 "5-8 s
    * without the hint" note predated AQE seeing these leaves and the
    * r19 contamination redesign). At true 100 TB the confirm stays two
    * shuffle joins co-partitioned on doc_id — the pair list is the big
    * side there, and nothing else changes. */
  private def pairStats(cand: DataFrame, sets: DataFrame): DataFrame = {
    import cand.sparkSession.implicits._
    cand
      .join(sets.select($"doc_id".as("da"), $"ss".as("ssa")), "da")
      .join(sets.select($"doc_id".as("db"), $"ss".as("ssb")), "db")
      .select($"da", $"db", size($"ssa").cast("long").as("na"),
        size($"ssb").cast("long").as("nb"),
        // fused size(array_intersect(...)): the confirm reads ONLY the
        // cardinality, so the intersection array is never materialized,
        // and both callers build `sets` through sort_array, so the
        // SORTED merge kernel applies — one linear pass per pair, no
        // per-pair hash set (functions/IntersectionSize.scala; DedupSpec
        // pins value equality and the one-intersect-per-pair shape)
        graft.functions.IntersectionSizeFunctions
          .sortedIntersectionSize($"ssa", $"ssb").cast("long").as("inter"))
  }

  /** The shared scalar-stats cut + threshold filter behind both confirm
    * steps: the jaccard predicate references `inter` twice and the
    * output recomputes it, so a filter directly over the stats
    * projection would be pushed below it, re-inlining the O(|ss|)
    * array_intersect 3× per candidate pair (twice in the predicate,
    * once for the output). The LAZY lineage cut plants a LogicalRDD
    * leaf that blocks the pushdown at plan level, so the intersect runs
    * exactly ONCE and the filter reads longs. Lazy, not eager: an eager
    * cut pays a synchronous job per DataFrame construction (measured
    * +0.8 s on contamination_check, which builds this frame just to
    * read the pair list). */
  private def thresholdJaccard(stats: DataFrame,
      threshold: Double): DataFrame = {
    import stats.sparkSession.implicits._
    stats.localCheckpoint(false)
      .withColumn("jaccard",
        $"inter".cast("double") / ($"na" + $"nb" - $"inter"))
      .filter($"jaccard" >= threshold)
  }

  /** `dedup_minhash_lsh` — MinHash signatures (16 hash permutations over
    * character 3-gram shingles) banded 4×4 into LSH buckets; candidate
    * pairs share ≥1 band bucket, then exact Jaccard confirms ≥ 0.4.
    * Runs the PORTABLE [[portableHash]] family so the whole pipeline —
    * shingling, 16 signature lanes, band buckets, candidate join,
    * Jaccard confirm — has an exact DuckDB twin and the key is fully
    * hash-oracle-checked (it was rows-only while on xxhash64);
    * DedupSpec's planted-duplicate recall tests cover the xx fast path
    * through the same pipeline. Audits a deterministic 4%
    * [[anchorSample]] of the corpus (sf-proportional). */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    minhashPipeline(
      Tables.documents(spark, dir).filter(anchorSample(479001599L, 4)),
      nHashes = 16, bandSize = 4, threshold = 0.4, portable = true)
  }

  /** Reusable MinHash-LSH pipeline over any (doc_id, text) DataFrame:
    * signatures → banded buckets → candidate pairs → exact-Jaccard confirm.
    * Docs whose true Jaccard ≥ threshold are found with probability
    * 1-(1-t^bandSize)^(nHashes/bandSize) (the LSH S-curve).
    *
    * Scale design: the shingle set stays an ARRAY column end-to-end — no
    * explode, no shuffle for signatures (array_min over a transform is a
    * narrow codegen'd pass), and the confirm joins the candidate PAIR list
    * back to the per-doc sets and scores each pair with one
    * `array_intersect`. Total work is ∝ |candidate pairs|: a shingle shared
    * by k candidate docs costs k set-membership probes, not the k² join
    * rows a co-shingle self-join would emit. The only wide stages are the
    * band-bucket self-join and the two pair→set hash joins. */
  def minhashPipeline(docs: DataFrame, nHashes: Int, bandSize: Int,
      threshold: Double, portable: Boolean = false): DataFrame = {
    import docs.sparkSession.implicits._
    // [[thresholdJaccard]] carries the scalar-stats cut (one intersect
    // per pair); DedupSpec asserts the confirm shape on
    // [[minhashPairStats]], which the cut would otherwise hide.
    thresholdJaccard(minhashPairStats(docs, nHashes, bandSize, portable),
        threshold)
      .select($"da", $"db", round($"jaccard", 6).as("jaccard"))
      .orderBy($"da", $"db")
  }

  /** The pipeline up to (da, db, na, nb, inter) — signatures, banded
    * buckets, candidate pairs, one array_intersect per pair. Split out
    * pre-cut so the plan-shape spec can see the confirm strategy. */
  private[graft] def minhashPairStats(docs: DataFrame, nHashes: Int,
      bandSize: Int, portable: Boolean): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // per-doc distinct shingle set, carried as an array column. Eager
    // lineage cut: the set feeds the signature build AND both confirm
    // joins below. NULL text and empty sets carry no similarity
    // evidence and are dropped — without the null filter a null doc's
    // shingle set is [NULL], its lanes all NULL, and concat_ws (which
    // SKIPS nulls) would give every null doc the same bucket, pairing
    // all hostile rows with each other.
    // sorted once per doc for the merge-kernel confirm (see
    // [[jaccardPairStats]]'s sets note); signature lanes are
    // min-over-elements, so order is semantics-free here too
    val sets = spreadSmall(docs.filter($"text".isNotNull)
      .select($"doc_id", sort_array(shingles3($"text")).as("ss"))
      .filter(size($"ss") > 0))
      .localCheckpoint()
    // the k-lane signature. Fast path: one fused codegen'd Expression
    // (functions/MinHashSignature.scala) — a map-only narrow stage, no
    // explode blowup, no k aggregate buffers, no exchange; lane j is
    // bit-identical to min(xxhash64(lit(j), s)) (DedupSpec proves it).
    // Portable path: the same lanes from [[portableHash]] over `j:s`,
    // ALSO fused (functions/PortableHash.scala) — the k md5 calls per
    // shingle are the portability contract and stay, but the k array
    // traversals and per-call concat + hex-string + conv allocations
    // of the declarative transform spelling do not (DedupSpec pins
    // lane-equality against that spelling, kept in the spec suite's
    // ReferenceTwins.portableSignatureDeclarative).
    val sig =
      if (portable) sets.select($"doc_id",
        graft.functions.PortableHashFunctions
          .portableMinhashSignature($"ss", nHashes).as("sig"))
      else sets.select($"doc_id",
        graft.functions.MinHashFunctions
          .minhashSignature($"ss", nHashes).as("sig"))
    // bands: bucket key = hash of the bandSize signature slice
    val bandCols = (0 until nHashes / bandSize).map { b =>
      val lanes = (b * bandSize until (b + 1) * bandSize)
        .map(i => $"sig".getItem(i))
      struct(lit(b).as("band"),
        (if (portable) portableHash(concat_ws(":", lit(b) +: lanes: _*))
         else xxhash64(lit(b) +: lanes: _*)).as("bucket"))
    }
    // cut before the self-join: both sides read the materialized buckets
    // (docs × bands rows) instead of re-hashing the corpus per branch
    val buckets = sig.select($"doc_id", explode(array(bandCols: _*)).as("bb"))
      .select($"doc_id", $"bb.band", $"bb.bucket")
      .localCheckpoint()
    val cand = buckets.as("x").join(buckets.as("y"),
        $"x.band" === $"y.band" && $"x.bucket" === $"y.bucket" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("da"), $"y.doc_id".as("db")).distinct()
    // confirm: look up both docs' shingle sets for each candidate pair and
    // compute exact Jaccard via array_intersect — the join output (and the
    // intersection work) is bounded by |candidate pairs|, immune to
    // high-frequency-shingle blowup
    pairStats(cand, sets)
  }

  /** `dedup_simhash` — SimHash over whitespace tokens (per-bit majority
    * vote of token hashes); near-dups = hamming distance ≤ 3 via
    * self-join on equal-width signature blocks (a pair within hamming
    * h < nBlocks shares ≥1 exact block — pigeonhole). Runs the PORTABLE
    * [[portableHash]] family (60 signature bits, 4×15-bit blocks) so
    * tokenization, votes, blocks, candidate join and hamming confirm
    * all have an exact DuckDB twin and the key is fully
    * hash-oracle-checked (rows-only while on xxhash64); DedupSpec's
    * planted-duplicate tests cover the 64-bit xx fast path (8×8-bit
    * blocks) through the same pipeline. Audits a deterministic 10%
    * [[anchorSample]] of the corpus (sf-proportional). */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    simhashPipeline(
      Tables.documents(spark, dir).filter(anchorSample(715225741L, 10)),
      maxHamming = 3, portable = true)
  }

  /** Reusable SimHash near-dup pipeline over any (doc_id, text)
    * DataFrame; candidate generation via equal-width block equality
    * (64-bit xxhash64 / 8×8-bit blocks, or the portable 60-bit family /
    * 4×15-bit blocks). */
  def simhashPipeline(docs: DataFrame, maxHamming: Int,
      portable: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bits = if (portable) 60 else 64
    val (nBlocks, blockBits) = if (portable) (4, 15) else (8, 8)
    require(maxHamming < nBlocks,
      s"pigeonhole needs maxHamming < $nBlocks blocks")
    val blockMask = (1L << blockBits) - 1
    val toks = array_remove(split($"text", " "), "")
    // spreadSmall: same single-partition-scan rationale as the minhash
    // sets — the per-token portable hash otherwise runs on one core
    val th = spreadSmall(docs)
      .select($"doc_id", explode(array_distinct(toks)).as("t"))
      .select($"doc_id",
        (if (portable) portableHash($"t") else xxhash64($"t")).as("h"))
    // per-bit vote: +1 if bit set else -1; simhash bit = vote > 0
    val voteCols = (0 until bits).map(i =>
      sum(when(($"h".bitwiseAND(lit(1L << i))) =!= 0L, 1).otherwise(-1))
        .as(s"v$i"))
    val votes = th.groupBy($"doc_id").agg(voteCols.head, voteCols.tail: _*)
    val sim = votes.select($"doc_id",
      (0 until bits).map(i =>
        when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
    val withBlocks = sim.select($"doc_id", $"simhash",
      explode(array((0 until nBlocks).map(b =>
        struct(lit(b).as("block_idx"),
          shiftright($"simhash", b * blockBits).bitwiseAND(lit(blockMask))
            .as("block_val"))): _*)).as("p"))
      .select($"doc_id", $"simhash", $"p.block_idx", $"p.block_val")
    val cand = withBlocks.as("x").join(withBlocks.as("y"),
        $"x.block_idx" === $"y.block_idx" &&
          $"x.block_val" === $"y.block_val" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("da"), $"x.simhash".as("ha"),
        $"y.doc_id".as("db"), $"y.simhash".as("hb")).distinct()
    cand
      .withColumn("hamming",
        bit_count($"ha".bitwiseXOR($"hb")).cast("long"))
      .filter($"hamming" <= maxHamming)
      .select($"da", $"db", $"hamming")
      .orderBy($"da", $"db")
  }

  /** `dedup_url` — crawl-frontier URL dedup: the same page arrives as
    * many surface forms (tracking params, fragments, host case, trailing
    * slash); canonicalize, then dedup on the canonical form. Three
    * deterministic variants per doc are synthesized, canonicalization is
    * a pure per-row expression chain (fragment strip → host lowercase →
    * trailing-slash trim → drop utm params → sort the rest), and the
    * audit groups by source: 3n URLs in, n canonical out. No shuffle
    * except the final per-source aggregate — at 100 TB the frontier
    * dedup itself would be the same expressions feeding a groupBy on
    * the canonical key. */
  def dedupUrl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v1 = concat(lit("https://"), $"source", lit(".Example.COM/d/"),
      $"doc_id", lit("?utm_source=feed&lang="), $"lang", lit("#top"))
    val v2 = concat(lit("https://"), $"source", lit(".example.com/d/"),
      $"doc_id", lit("?lang="), $"lang")
    val v3 = concat(lit("https://"), $"source", lit(".example.com/d/"),
      $"doc_id", lit("/?lang="), $"lang", lit("&utm_campaign=x"))
    val noFrag = regexp_replace($"url", "#.*$", "")
    val base = regexp_replace(lower(regexp_extract(noFrag, "^([^?]*)", 1)),
      "/$", "")
    val params = array_join(array_sort(filter(
      split(regexp_extract(noFrag, "\\?(.*)$", 1), "&"),
      p => !p.startsWith("utm"))), "&")
    Tables.documents(spark, dir)
      .select($"source", explode(array(v1, v2, v3)).as("url"))
      .select($"source", concat(base, lit("?"), params).as("canon"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct($"canon").as("n_canonical"))
      .orderBy($"source")
  }

  /** `dedup_substring` — EXACT-SUBSTRING duplication audit (the Lee et
    * al. '22 "Deduplicating Training Data" shape, suffix-array dedup
    * re-expressed relationally): a duplicate span is a run of K=8
    * consecutive whitespace tokens appearing verbatim in ≥ 2 distinct
    * documents — the cross-document boilerplate (licenses, headers,
    * templated sentences) that exact- and near-dedup both miss because
    * the CONTAINING docs differ. Per language: total docs, docs carrying
    * at least one shared span, and distinct shared spans.
    *
    * Scale shape: one explode to (doc, span) — rows ∝ total corpus
    * tokens, the same cost the suffix-array build pays — then a
    * shuffle-on-span count to find spans with ≥ 2 distinct docs, and a
    * semi-join back. No pairwise comparison anywhere, so hot spans
    * (million-doc boilerplate) cost their row count, never a quadratic
    * pair list. At 100 TB the span column rides the shuffle as a 64-bit
    * hash (xxhash64(span)) instead of the string; here it stays a string
    * so DuckDB reproduces the values bit-for-bit. */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 8
    val docs = Tables.documents(spark, dir)
    val toks = array_remove(split($"text", " "), "")
    // all K-token spans of a doc, distinct per doc (a doc repeating its
    // own boilerplate is not cross-doc duplication)
    val spans = docs.select($"doc_id", $"lang",
        explode(when(size(toks) >= k,
            transform(sequence(lit(1), size(toks) - (k - 1)),
              i => array_join(slice(toks, i, lit(k)), " ")))
          .otherwise(array().cast("array<string>"))).as("span"))
      .distinct()
    val dup = spans.groupBy($"span")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"span")
    val perLang = spans.join(dup, "span")
      .groupBy($"lang")
      .agg(countDistinct($"doc_id").as("n_dup_docs"),
        countDistinct($"span").as("n_dup_spans"))
    docs.groupBy($"lang").agg(countDistinct($"doc_id").as("n_docs"))
      .join(perLang, Seq("lang"), "left")
      .select($"lang", $"n_docs",
        coalesce($"n_dup_docs", lit(0L)).as("n_dup_docs"),
        coalesce($"n_dup_spans", lit(0L)).as("n_dup_spans"))
      .orderBy($"lang")
  }

  /** `dedup_corpus_bloom` — INCREMENTAL corpus-membership dedup, the
    * crawl-ingest shape exact/near dedup don't cover: an incoming batch
    * must drop every doc whose content hash already exists in the
    * reference corpus, EXACTLY, without joining the whole batch against
    * the corpus. A Bloom filter over the corpus hashes
    * (`DataFrameStatFunctions.bloomFilter`, explicitly broadcast) splits
    * the batch map-side: bloom-NEGATIVES are proven novel and never
    * reach a shuffle; only the bloom-positives — true members plus
    * ~fpp·|batch| false positives — are confirmed by an anti-join
    * against the corpus, so the result is exact while the join input
    * shrinks from |batch| to |members| + fpp·|batch|. That is the whole
    * 100 TB story: the filter is MBs per hundred-million keys and rides
    * a broadcast; the corpus hash projection is cached, so the parquet
    * is SCANNED once and the three logical passes (sizing count, bloom
    * aggregation, confirm anti-join) all read the cached columns (at
    * scale the filter is a maintained artifact like the IVF index,
    * rebuilt per corpus snapshot, not per batch). The probe is Spark's
    * own codegen'd `BloomFilterMightContain` expression — the same one
    * the optimizer's runtime bloom joins inject — fed by a
    * `BloomFilterAggregate` scalar subquery over the corpus, so the
    * sketch is built by one aggregate job and broadcast to every probe
    * task without ever materializing on the driver, and the membership
    * test stays inside whole-stage codegen (no scalar UDF). The result
    * is materialized eagerly (localCheckpoint) so the corpus cache can
    * be released before returning — repeated invocations (bench's 2
    * samples, spec runs) must not accumulate cache blocks until the
    * ContextCleaner wakes up.
    *
    * Membership layout (both engines compute it from doc_id alone):
    * corpus = even doc_ids plus every 7th doc (the re-delivered ones);
    * incoming = odd doc_ids — so ~1/14 of the table genuinely collides
    * and the confirm path is exercised, not vacuous. */
  def dedupCorpusBloom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .select($"doc_id", md5($"text".cast("binary")).as("h"))
    val corpus = d.filter($"doc_id" % 2 === 0 || $"doc_id" % 7 === 0)
      .select($"h").persist()
    val (novel, _) = bloomMembershipNovel(inc = d.filter($"doc_id" % 2 === 1),
      corpus = corpus, fpp = 0.03)
    // eager: novel's lineage (bloom probe + anti-join against the cache)
    // runs NOW; the returned frame reads only checkpoint blocks, so the
    // cache is safe to drop synchronously
    val out = novel.orderBy($"doc_id").localCheckpoint(true)
    corpus.unpersist()
    out
  }

  /** The bloom-prefiltered membership split behind [[dedupCorpusBloom]]:
    * returns (novel = proven-negatives ∪ anti-join-confirmed false
    * positives, bloom-positive candidates). Split out so DedupSpec can
    * assert the scale claims — the candidate set is bounded by
    * members + fpp·|inc|, and the negative path's plan holds no join.
    *
    * The sketch is a `BloomFilterAggregate` over `xxhash64(h)` carried
    * as a scalar subquery: Spark evaluates the one-row aggregate once,
    * broadcasts the serialized filter to every probe task, and the
    * probe (`BloomFilterMightContain`) compiles into whole-stage
    * codegen — the same machinery `spark.sql.optimizer.runtime
    * .bloomFilter` injects, used directly because the optimizer's
    * injection is stats-gated and this split must hold by construction.
    * Bits are sized from the corpus count at the caller's fpp
    * (m = −n·ln p ⁄ ln²2, the standard optimum). */
  private[graft] def bloomMembershipNovel(inc: DataFrame,
      corpus: DataFrame, fpp: Double): (DataFrame, DataFrame) = {
    val spark = inc.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{
      BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val n = math.max(corpus.count(), 64L)
    val numBits = math.max(64L,
      math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bloomPlan = corpus
      .select(GraftBridge.column(new BloomFilterAggregate(
          GraftBridge.eagerExpression(xxhash64($"h")),
          Literal(n), Literal(numBits)).toAggregateExpression()).as("bf"))
      .queryExecution.analyzed
    // fresh ScalarSubquery per use (each carries its own ExprId); the
    // shared analyzed plan means both probes reuse one sketch build
    def might = GraftBridge.column(new BloomFilterMightContain(
      ScalarSubquery(bloomPlan),
      GraftBridge.eagerExpression(xxhash64($"h"))))
    val neg = inc.filter(!might)
    val pos = inc.filter(might)
    val novel = neg.unionByName(
      pos.join(corpus, Seq("h"), "left_anti")
        .select(inc.columns.map(org.apache.spark.sql.functions.col): _*))
    (novel, pos)
  }

  /** `dedup_fuzzy_edit` — blocked edit-distance near-dup pairs: the
    * fuzzy tier BETWEEN `dedup_near` (hash-exact after normalization —
    * distance 0 only) and the shingle families (set overlap — blind to
    * character-level typo edits). Docs are blocked on (lang | first 12
    * normalized chars); only same-block pairs are compared, with
    * Levenshtein over the 80-char ASCII head as the confirm.
    *
    * Scale shape: candidate generation is a bucket equi-join — the same
    * discipline as the LSH bands — so the corpus NEVER sees an all-pairs
    * product. Two guards make the worst case structural, not hoped-for:
    * docs whose normalized text is shorter than the block key are
    * excluded (the null/empty hot bucket cannot form), and any block
    * larger than 64 members is dropped by a windowed count BEFORE the
    * join (corpus-hot boilerplate prefixes — a block of B docs costs
    * B²/2 O(80²) confirms, so the cap bounds per-block work at ~2k
    * comparisons; production would route dropped blocks to the shingle
    * path instead). Levenshtein runs on the ASCII projection because
    * the two engines agree on unit-cost character edits only there —
    * the honest portability bound, stated rather than hidden. */
  def dedupFuzzyEdit(spark: SparkSession, dir: String): DataFrame =
    fuzzyEditPairs(Tables.documents(spark, dir))

  /** Blocked edit-distance pairs over any (doc_id, text, lang) relation
    * — shared by the key and DedupSpec's planted-typo corpora. */
  private[graft] def fuzzyEditPairs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ascii = regexp_replace(coalesce($"text", lit("")),
      "[^\\x20-\\x7e]", "")
    val norm = regexp_replace(
      lower(trim(regexp_replace($"text", "\\s+", " "))), "[^a-z0-9 ]", "")
    val blocked = docs
      .select($"doc_id", substring(ascii, 1, 80).as("head"),
        norm.as("norm"), coalesce($"lang", lit("")).as("lang"))
      .filter(length($"norm") >= 12)
      .select($"doc_id", $"head",
        concat($"lang", lit("|"), substring($"norm", 1, 12)).as("blk"))
    // eager cut: the guarded block table feeds both join sides (the
    // jaccardPairs discipline); at full scale this is persist(DISK_ONLY)
    val guarded = blocked
      .withColumn("bn",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy($"blk")))
      .filter($"bn" <= 64).drop("bn")
      .localCheckpoint(true)
    // confirm kernel, cheapest test first: (1) equal heads are distance
    // 0 via an O(len) comparison — on a replica-heavy corpus (the
    // common dedup case; the uniform 10x ladder corpus is EXACTLY
    // this) nearly every surviving pair takes this branch and never
    // pays the DP; (2) heads whose lengths differ by more than the
    // threshold cannot be within it (each edit changes length by ≤1) —
    // an integer reject; (3) the remainder runs the THRESHOLD
    // Levenshtein (Ukkonen band, O(len·k) not O(len²)), whose -1
    // overflow sentinel the filter discards. Result values are
    // identical to the plain-Levenshtein spelling, which is what the
    // DuckDB twin runs (its CASE takes the same equal-head shortcut).
    val hA = col("a.head"); val hB = col("b.head")
    val dist = when(hA === hB, lit(0L))
      .when(abs(length(hA) - length(hB)) > 8, lit(-1L))
      .otherwise(levenshtein(hA, hB, 8).cast("long"))
    guarded.as("a").join(guarded.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.blk").as("blk"), dist.as("dist"))
      .filter($"dist" >= 0 && $"dist" <= 8)
      .orderBy($"da", $"db")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_fuzzy_edit" -> (dedupFuzzyEdit _),
    "dedup_corpus_bloom" -> (dedupCorpusBloom _),
    "dedup_substring" -> (dedupSubstring _),
    "dedup_url" -> (dedupUrl _),
    "dedup_exact" -> (dedupExact _),
    "dedup_near" -> (dedupNear _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_simhash" -> (dedupSimhash _))

  private val SH = "list_distinct(list_transform(range(1, " +
    "greatest(len(text) - 1, 2)), i -> substr(text, i::INT, 3)))"

  /** DuckDB twin of [[portableHash]] — bit-identical 60-bit values. */
  private def PH(x: String) =
    s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"

  /** Full DuckDB replay of [[dedupMinhashLsh]]: same shingles, 16
    * portable-hash signature lanes, 4 band buckets, candidate join and
    * exact-Jaccard confirm — generated, not hand-kept, so the lane and
    * band constants can never drift from the Spark side. `source` is any
    * (doc_id, text) relation — the default is the key's corpus; the
    * robustness key replays the same pipeline over the malformed CTE. */
  private[operators] def minhashOracle(source: String =
      "SELECT doc_id, text FROM documents " +
        "WHERE (doc_id * 479001599) % 100 < 4"): String = {
    val n = 16; val bs = 4
    val lanes = (0 until n).map(j =>
      s"list_min(list_transform(ss, s -> ${PH(s"'$j:' || s")}))")
      .mkString(",\n  ")
    val bands = (0 until n / bs).map { b =>
      val items = (b * bs until (b + 1) * bs).map(i => s"sig[${i + 1}]")
      s"SELECT doc_id, $b AS band, " +
        PH(s"concat_ws(':', $b, ${items.mkString(", ")})") +
        " AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH nsets AS (
       |  SELECT doc_id, ss FROM (
       |    SELECT doc_id, $SH AS ss FROM ($source)
       |    WHERE text IS NOT NULL)
       |  WHERE len(ss) > 0),
       |sig AS (SELECT doc_id, [$lanes] AS sig FROM nsets),
       |buckets AS ($bands),
       |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |  FROM buckets x JOIN buckets y ON x.band = y.band
       |    AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |sc AS (SELECT da, db,
       |    CAST(len(list_intersect(a.ss, b.ss)) AS BIGINT) AS inter,
       |    len(a.ss) AS na, len(b.ss) AS nb
       |  FROM cand JOIN nsets a ON da = a.doc_id
       |  JOIN nsets b ON db = b.doc_id)
       |SELECT da, db,
       |  round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
       |FROM sc WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.4
       |ORDER BY da, db""".stripMargin
  }

  /** Full DuckDB replay of [[dedupSimhash]]: same tokens, 60 portable
    * signature bits, 4×15-bit blocks, candidate join and hamming
    * confirm — generated like [[minhashOracle]]. */
  private def simhashOracle: String = {
    val bits = 60; val nBlocks = 4; val blockBits = 15
    val mask = (1L << blockBits) - 1
    val votes = (0 until bits).map(i =>
      s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i")
      .mkString(", ")
    val simexpr = (0 until bits).map(i =>
      s"CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    val blocks = (0 until nBlocks).map(b =>
      s"SELECT doc_id, simhash, $b AS block_idx, " +
        s"(simhash >> ${b * blockBits}) & $mask AS block_val FROM sim")
      .mkString("\n  UNION ALL ")
    s"""WITH th AS (
       |  SELECT doc_id, ${PH("t")} AS h FROM (
       |    SELECT doc_id, unnest(list_distinct(
       |      list_filter(string_split(text, ' '), x -> x <> ''))) AS t
       |    FROM documents WHERE (doc_id * 715225741) % 100 < 10)),
       |votes AS (SELECT doc_id, $votes FROM th GROUP BY doc_id),
       |sim AS (SELECT doc_id, $simexpr AS simhash FROM votes),
       |blocks AS ($blocks),
       |cand AS (SELECT DISTINCT x.doc_id AS da, x.simhash AS ha,
       |    y.doc_id AS db, y.simhash AS hb
       |  FROM blocks x JOIN blocks y ON x.block_idx = y.block_idx
       |    AND x.block_val = y.block_val AND x.doc_id < y.doc_id)
       |SELECT da, db, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
       |ORDER BY da, db""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "dedup_fuzzy_edit" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    substr(regexp_replace(coalesce(text, ''),
        |      '[^\x20-\x7e]', '', 'g'), 1, 80) AS head,
        |    regexp_replace(lower(trim(regexp_replace(text, '\s+', ' ',
        |      'g'))), '[^a-z0-9 ]', '', 'g') AS norm,
        |    coalesce(lang, '') AS lang
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, head,
        |    concat(lang, '|', substr(norm, 1, 12)) AS blk
        |  FROM d WHERE length(norm) >= 12),
        |g AS (
        |  SELECT doc_id, head, blk FROM (
        |    SELECT doc_id, head, blk,
        |      COUNT(*) OVER (PARTITION BY blk) AS bn FROM f)
        |  WHERE bn <= 64)
        |SELECT da, db, blk, dist FROM (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.blk AS blk,
        |    CAST(CASE WHEN a.head = b.head THEN 0
        |      ELSE levenshtein(a.head, b.head) END AS BIGINT) AS dist
        |  FROM g a JOIN g b ON a.blk = b.blk AND a.doc_id < b.doc_id)
        |WHERE dist <= 8 ORDER BY da, db""".stripMargin,
    "dedup_corpus_bloom" ->
      """WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
        |corpus AS (
        |  SELECT h FROM d WHERE doc_id % 2 = 0 OR doc_id % 7 = 0),
        |inc AS (SELECT doc_id, h FROM d WHERE doc_id % 2 = 1)
        |SELECT i.doc_id, i.h FROM inc i
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = i.h)
        |ORDER BY i.doc_id""".stripMargin,
    "dedup_substring" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |spans AS (
        |  SELECT DISTINCT doc_id, lang,
        |    array_to_string(t[i:i+7], ' ') AS span
        |  FROM (SELECT doc_id, lang, t,
        |          unnest(range(1, len(t) - 6)) AS i
        |        FROM toks WHERE len(t) >= 8)),
        |dup AS (
        |  SELECT span FROM spans
        |  GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2),
        |per AS (
        |  SELECT lang, COUNT(DISTINCT doc_id) AS n_dup_docs,
        |    COUNT(DISTINCT span) AS n_dup_spans
        |  FROM spans JOIN dup USING (span) GROUP BY lang)
        |SELECT d.lang, COUNT(DISTINCT d.doc_id) AS n_docs,
        |  COALESCE(ANY_VALUE(p.n_dup_docs), CAST(0 AS BIGINT))
        |    AS n_dup_docs,
        |  COALESCE(ANY_VALUE(p.n_dup_spans), CAST(0 AS BIGINT))
        |    AS n_dup_spans
        |FROM documents d LEFT JOIN per p USING (lang)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "dedup_url" ->
      """WITH u AS (
        |  SELECT source, unnest([
        |    'https://' || source || '.Example.COM/d/' || doc_id ||
        |      '?utm_source=feed&lang=' || lang || '#top',
        |    'https://' || source || '.example.com/d/' || doc_id ||
        |      '?lang=' || lang,
        |    'https://' || source || '.example.com/d/' || doc_id ||
        |      '/?lang=' || lang || '&utm_campaign=x']) AS url
        |  FROM documents),
        |c AS (
        |  SELECT source,
        |    regexp_replace(lower(regexp_extract(
        |      regexp_replace(url, '#.*$', ''), '^([^?]*)', 1)),
        |      '/$', '') || '?' ||
        |    array_to_string(list_sort(list_filter(string_split(
        |      regexp_extract(regexp_replace(url, '#.*$', ''),
        |        '\?(.*)$', 1), '&'),
        |      p -> NOT starts_with(p, 'utm'))), '&') AS canon
        |  FROM u)
        |SELECT source, COUNT(*) AS n_urls,
        |  COUNT(DISTINCT canon) AS n_canonical
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
        |  length(MIN(text)) AS len
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "dedup_near" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies, h FROM (
        |  SELECT doc_id, sha256(regexp_replace(lower(trim(
        |    regexp_replace(text, '\s+', ' ', 'g'))), '[^a-z0-9 ]', '', 'g'))
        |    AS h
        |  FROM documents
        |) GROUP BY h ORDER BY keep_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($SH) AS s FROM documents
         |  WHERE (doc_id * 982451653) % 100 < 4
         |), sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT da, db, inter, x.n AS na, y.n AS nb,
         |  round(CAST(inter AS DOUBLE) / (x.n + y.n - inter), 6) AS jaccard
         |FROM pairs
         |JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
         |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5
         |ORDER BY da, db""".stripMargin,
    "dedup_minhash_lsh" -> minhashOracle(),
    "dedup_simhash" -> simhashOracle)
}
