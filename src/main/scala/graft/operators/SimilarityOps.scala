package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** North-star similarity search over `embeddings` (SURVEY.md §2j):
  * brute-force cosine top-k as the correctness baseline, a sign-LSH
  * bucketed variant as the scale path, and a single-query kNN.
  *
  * Scale design: the all-pairs form is explicitly bounded (subset filter) —
  * at 100 TB you never cross-join the full table; the LSH variant buckets
  * by deterministic hyperplane signs so candidate generation is an
  * equi-join on the bucket key, and only in-bucket pairs pay the O(d) dot
  * product. Cosine math runs in float64 with sequential accumulation so
  * DuckDB's twin expression produces bit-identical scores.
  */
object SimilarityOps {

  /** Fused codegen cosine (graft.functions.CosineSimilarity): float64
    * sequential accumulation, bit-identical to the DuckDB twin formula. */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine(a, b)

  /** IVF coarse assignment: every vector to its nearest centroid
    * (cosine, tie → lowest centroid id) via one broadcast pass — the ONE
    * spelling of the index-build subtree shared by the persisted layout,
    * the in-plan kNN, and the recall report, so a tie-break or metric
    * change can't drift the three apart. */
  private def assignToCentroids(e: DataFrame,
      centroids: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val wAssign = Window.partitionBy($"vec_id")
      .orderBy($"c_cos".desc, $"c_id")
    e.crossJoin(broadcast(centroids))
      .select($"vec_id", $"embedding", $"c_id",
        cosine($"embedding", $"c_emb").as("c_cos"))
      .withColumn("rn", row_number().over(wAssign))
      .filter($"rn" === 1)
      .select($"vec_id", $"embedding", $"c_id".as("bucket"))
  }

  /** Probe selection shared by the whole IVF-PQ family: rank the 8
    * coarse centroids against the query driver-side (pure arithmetic on
    * the broadcast-tiny codebook, no job) and keep the top-2. */
  private def topProbes(pq: PipelineOps.PqModel): Seq[Int] =
    (0 until pq.k).map(c => (pq.qd2Full(c), c)).sorted.take(2).map(_._2)

  /** Residual ADC over the 2 probed buckets: each probed cell gets its
    * OWN lookup table (the query residual differs per cell). One
    * spelling for the residual index key and its rerank/recall twins. */
  private def residualAdc(pqr: PipelineOps.PqrModel,
      probeIds: Seq[Int]): Column =
    when(col("bucket") === probeIds.head,
      pqr.adcFromCodes(col("codes"), probeIds.head))
      .otherwise(pqr.adcFromCodes(col("codes"), probeIds(1)))

  /** Stage-2 exact refine: fetch ONLY the shortlisted vectors (broadcast
    * semi-join into the corpus) and re-rank by true squared L2 to the
    * model's query. Shared by both rerank keys — exact work stays
    * O(shortlist) at any corpus size. */
  private def exactRerank(spark: SparkSession, dir: String,
      q: IndexedSeq[Double], shortlist: DataFrame): DataFrame = {
    import spark.implicits._
    val exactD2 = graft.functions.VectorFunctions.l2sq(
      $"v", array(q.map(lit): _*))
    Tables.embeddingsValid(spark, dir)
      .select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("v"))
      .join(broadcast(shortlist), Seq("vec_id"), "left_semi")
      .select($"vec_id", round(exactD2, 6).as("d2"))
      .orderBy($"d2", $"vec_id")
      .limit(10)
  }

  /** Write-once IVF index layout: every corpus vector assigned to its
    * nearest of 8 fixed centroids, persisted as parquet PARTITIONED BY
    * bucket — the inverted lists are physical directories, so probing a
    * list is directory pruning, not a scan+filter. Cached per (dir,
    * source-fingerprint) like the partitioned event layout: an ANN index
    * is an ingest-time artifact, queries pay only the probed-list read. */
  private[graft] def ivfIndexLayout(spark: SparkSession,
      dir: String): String = {
    import spark.implicits._
    val out = graft.sources.IngestOps.sharedFor(spark, "ivf_index", dir)
    graft.sources.IngestOps.buildShared(spark, out) { tmpRoot =>
      val e = Tables.embeddingsValid(spark, dir).select($"vec_id", $"embedding")
      val centroids = e.filter($"vec_id" < 8)
        .select($"vec_id".as("c_id"), $"embedding".as("c_emb"))
      assignToCentroids(e, centroids)
        .repartition($"bucket")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("compression", "zstd")
        .partitionBy("bucket").parquet(s"$tmpRoot/data")
    }
  }

  /** `sim_ivf_index` — kNN against the PERSISTED index: the query vector
    * ranks the 8 centroids (broadcast-tiny), picks 2 lists to probe, and
    * the scan reads ONLY those two bucket directories (static partition
    * pruning — SimilaritySpec asserts ≤ 2 bucket dirs are opened). Same
    * answer as [[simIvfKnn]], which rebuilds its index in-plan; here the
    * build is amortized across queries, the way an ANN service runs. At
    * 100 TB the probed read is (probes/nlist) of the corpus — the other
    * 6/8ths are never listed, opened, or decoded. */
  def simIvfIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ivfIndexLayout(spark, dir)
    val e = Tables.embeddingsValid(spark, dir).select($"vec_id", $"embedding")
    val centroids = e.filter($"vec_id" < 8)
      .select($"vec_id".as("c_id"), $"embedding".as("c_emb"))
    // probe selection: rank centroids against the query — 8 rows of
    // metadata, same cardinality Iceberg plans over manifests
    val probes = e.filter($"vec_id" === 0)
      .select($"embedding".as("q_emb"))
      .crossJoin(broadcast(centroids))
      .select($"c_id", $"q_emb", cosine($"q_emb", $"c_emb").as("c_cos"))
      .orderBy($"c_cos".desc, $"c_id").limit(2)
      .collect()
    val probeIds = probes.map(_.getLong(0))
    // element-type-agnostic (the corpus could re-encode embeddings as
    // double — cosine() accepts either, so preserve what arrived)
    val qEmb = probes.head.getSeq[Any](1) match {
      case s if s.headOption.exists(_.isInstanceOf[Double]) =>
        typedLit(s.map(_.asInstanceOf[Double]))
      case s => typedLit(s.map(_.asInstanceOf[Float]))
    }
    spark.read.parquet(s"$root/data")
      .filter($"bucket".isin(probeIds.map(Long.box): _*) &&
        $"vec_id" =!= 0)
      .select($"vec_id", $"bucket".cast("long").as("bucket"),
        round(cosine($"embedding", qEmb), 6).as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  /** Write-once IVF-PQ index layout (the production FAISS shape): every
    * corpus vector is coarse-assigned to its nearest of 8 centroids by
    * FULL-vector L2 (the IVF part) and fine-encoded as m=8 one-byte PQ
    * codes ([[graft.operators.PipelineOps.PqModel]]); what's persisted is
    * (vec_id, codes, bucket) PARTITIONED BY bucket — the inverted lists
    * are physical directories holding CODES ONLY, no embedding floats.
    * At 100 TB the index is 32× smaller than the corpus, a probe is
    * directory pruning, and the scan decodes nothing. */
  private[graft] def ivfpqIndexLayout(spark: SparkSession,
      dir: String): String = {
    import spark.implicits._
    // v2: the cache key is (name, source fingerprint) — it does not see
    // builder-code changes, so the write-time null-codes fence below
    // needs a layout-version bump or a pre-fence index would be served
    // from the cache forever
    val out = graft.sources.IngestOps.sharedFor(spark, "ivfpq_index_v2", dir)
    graft.sources.IngestOps.buildShared(spark, out) { tmpRoot =>
      val pq = PipelineOps.pqModel(spark, dir)
      Tables.embeddingsValid(spark, dir)
        .select($"vec_id",
          transform($"embedding", x => x.cast("double")).as("v"))
        .select($"vec_id", pq.codesCol($"v").as("codes"),
          pq.bucketCol($"v").as("bucket"))
        // write-time fence: a null-codes row persisted here would poison
        // every later probe (NULL adc_d2 sorts FIRST under asc) from a
        // cached, fingerprint-keyed index. The filter's pushdown does
        // re-run the encode once more per row, but only in this
        // write-once build — never on the query path.
        .filter($"codes".isNotNull)
        .repartition($"bucket")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("compression", "zstd")
        .partitionBy("bucket").parquet(s"$tmpRoot/data")
    }
  }

  /** `sim_ivfpq_index` — ANN against the PERSISTED IVF-PQ index: the
    * query (vector 5) ranks the 8 coarse centroids driver-side (8 doubles
    * of metadata), probes its top-2 inverted lists — static partition
    * pruning, only 2 of 8 bucket directories are ever opened — and ranks
    * the candidates by ASYMMETRIC DISTANCE: 8 table lookups keyed by the
    * stored codes, never decoding a corpus float. This composes
    * [[simIvfIndex]]'s dir-pruned layout with [[PipelineOps.embedPq]]'s
    * ADC kernel; at 100 TB a query reads probes/nlist of a codes table
    * that is itself 32× smaller than the vectors. [[simIvfpqRecall]]
    * reports what the two approximations cost. */
  def simIvfpqIndex(spark: SparkSession, dir: String): DataFrame =
    simIvfpqIndexWith(spark, dir, PipelineOps.pqModel(spark, dir))

  /** [[simIvfpqIndex]] with a caller-supplied model, so the recall
    * report doesn't pay a second model-build collect (commit-24aa30e
    * model-reuse discipline). */
  private def simIvfpqIndexWith(spark: SparkSession, dir: String,
      pq: PipelineOps.PqModel): DataFrame = {
    import spark.implicits._
    val root = ivfpqIndexLayout(spark, dir)
    val probeIds = topProbes(pq)
    spark.read.parquet(s"$root/data")
      .filter($"bucket".isin(probeIds.map(Int.box): _*) && $"vec_id" =!= 5)
      .select($"vec_id", $"bucket".cast("long").as("bucket"),
        round(pq.adcFromCodes($"codes"), 6).as("adc_d2"))
      .orderBy($"adc_d2", $"vec_id")
      .limit(10)
  }

  /** Write-once RESIDUAL IVF-PQ layout (FAISS IVF-PQ proper — see
    * [[graft.operators.PipelineOps.PqrModel]]): same bucket-partitioned
    * codes-only shape as [[ivfpqIndexLayout]], but the codes quantize
    * `v − centroid(bucket(v))` against a residual codebook, so the 8
    * codebook entries only span one coarse cell's spread. */
  private[graft] def ivfpqrIndexLayout(spark: SparkSession,
      dir: String): String = {
    import spark.implicits._
    // v2: same layout-version bump as [[ivfpqIndexLayout]]
    val out = graft.sources.IngestOps.sharedFor(spark, "ivfpqr_index_v2", dir)
    graft.sources.IngestOps.buildShared(spark, out) { tmpRoot =>
      // coarse assignment + residual encoding from one collect
      val (pq, pqr) = PipelineOps.pqModels(spark, dir)
      Tables.embeddingsValid(spark, dir)
        .select($"vec_id",
          transform($"embedding", x => x.cast("double")).as("v"))
        .withColumn("bucket", pq.bucketCol($"v"))
        .select($"vec_id", pqr.codesCol($"v", $"bucket").as("codes"),
          $"bucket")
        // same write-time fence as [[ivfpqIndexLayout]]: never persist
        // a null-codes row into the write-once index
        .filter($"codes".isNotNull)
        .repartition($"bucket")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("compression", "zstd")
        .partitionBy("bucket").parquet(s"$tmpRoot/data")
    }
  }

  /** `sim_ivfpq_residual` — ANN against the RESIDUAL IVF-PQ index, the
    * exact algorithm FAISS ships as IVFPQ: quantize residuals (not raw
    * vectors), probe 2 of 8 inverted-list directories, and rank by ADC
    * with a DISTINCT lookup table per probed bucket (the query's
    * residual differs per cell). Strictly more faithful than
    * [[simIvfpqIndex]] near codebook mass: a vector whose residual IS a
    * codebook entry gets its EXACT distance from the lookups
    * (SimilaritySpec asserts on the book seeds). Same 100 TB posture —
    * codes-only scan, static dir pruning, zero float decode. */
  def simIvfpqResidual(spark: SparkSession, dir: String): DataFrame = {
    val (pq, pqr) = PipelineOps.pqModels(spark, dir)
    simIvfpqResidualWith(spark, dir, pq, pqr)
  }

  /** [[simIvfpqResidual]] with caller-supplied models — same model-reuse
    * seam as [[simIvfpqIndexWith]]. */
  private def simIvfpqResidualWith(spark: SparkSession, dir: String,
      pq: PipelineOps.PqModel, pqr: PipelineOps.PqrModel): DataFrame = {
    import spark.implicits._
    val root = ivfpqrIndexLayout(spark, dir)
    val probeIds = topProbes(pq)
    spark.read.parquet(s"$root/data")
      .filter($"bucket".isin(probeIds.map(Int.box): _*) && $"vec_id" =!= 5)
      .select($"vec_id", $"bucket".cast("long").as("bucket"),
        round(residualAdc(pqr, probeIds), 6).as("adc_d2"))
      .orderBy($"adc_d2", $"vec_id")
      .limit(10)
  }

  /** `sim_ivfpqr_recall` — recall@10 of the RESIDUAL index's probed-ADC
    * top-10 vs the exact L2 top-10 ([[simIvfpqRecall]]'s twin for
    * [[simIvfpqResidual]]): the number that answers "did residual
    * coding buy fidelity over raw-vector codes at the same probe
    * budget" — measured, not assumed. */
  def simIvfpqrRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 10
    // ONE model build feeds both the ground truth and the probed path
    val (pq, pqr) = PipelineOps.pqModels(spark, dir)
    val vecs = Tables.embeddingsValid(spark, dir)
      .select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("v"))
    val exactD2 = graft.functions.VectorFunctions.l2sq(
      $"v", array(pq.q.map(lit): _*))
    val exactTop = vecs.filter($"vec_id" =!= 5)
      .select($"vec_id", round(exactD2, 6).as("d2"))
      .orderBy($"d2", $"vec_id").limit(k)
      .select($"vec_id")
    simIvfpqResidualWith(spark, dir, pq, pqr).select($"vec_id")
      .join(exactTop, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(k.toLong).as("k"), lit(2L).as("probes"), $"n_hits",
        round($"n_hits".cast("double") / k, 6).as("recall"))
  }

  /** `sim_ivfpqr_rerank` — the COMPLETE FAISS IVFPQR: the refine stage
    * of [[simIvfpqRerank]] composed over the RESIDUAL index of
    * [[simIvfpqResidual]] (round 8 shipped the two pieces separately;
    * this is their composition). Stage 1 shortlists the top-32 by
    * residual ADC — per-probed-bucket lookup tables over codes that
    * only span one coarse cell's spread, the best quantized ordering
    * the index family offers — and stage 2 fetches ONLY those 32 true
    * vectors (broadcast semi-join) for the exact final top-10. Both
    * improvements stack: the shortlist misses less (residual coding),
    * and what it ranks wrongly the refine repairs
    * (SimilaritySpec asserts recall ≥ the unrefined residual recall).
    * Same 100 TB posture: corpus-scale work stays codes-only and
    * dir-pruned; exact work is O(shortlist). */
  def simIvfpqrRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ivfpqrIndexLayout(spark, dir)
    val (pq, pqr) = PipelineOps.pqModels(spark, dir)
    val probeIds = topProbes(pq)
    // stage 1: residual-ADC shortlist from the codes-only index
    val shortlist = spark.read.parquet(s"$root/data")
      .filter($"bucket".isin(probeIds.map(Int.box): _*) && $"vec_id" =!= 5)
      .select($"vec_id", round(residualAdc(pqr, probeIds), 6).as("adc_d2"))
      .orderBy($"adc_d2", $"vec_id")
      .limit(32)
      .select($"vec_id")
    exactRerank(spark, dir, pq.q, shortlist)
  }

  /** `sim_ivfpq_rerank` — the REFINE stage of two-stage retrieval (the
    * FAISS IVFPQR / production ANN-service shape): the persisted IVF-PQ
    * index shortlists the top-32 candidates by ADC — codes only, no
    * float decoded — and ONLY those 32 rows' true vectors are fetched
    * (a broadcast semi-join into the corpus) and exactly re-ranked for
    * the final top-10. This repairs quantization ordering errors inside
    * the probed lists at the cost of reading 32 full vectors instead of
    * zero; recall@10 can only rise vs [[simIvfpqIndex]] (SimilaritySpec
    * asserts). At 100 TB the corpus-scale work stays code-sized and the
    * exact work is O(shortlist). */
  def simIvfpqRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ivfpqIndexLayout(spark, dir)
    val pq = PipelineOps.pqModel(spark, dir)
    val probeIds = topProbes(pq)
    // stage 1: ADC shortlist from the codes-only index
    val shortlist = spark.read.parquet(s"$root/data")
      .filter($"bucket".isin(probeIds.map(Int.box): _*) && $"vec_id" =!= 5)
      .select($"vec_id",
        round(pq.adcFromCodes($"codes"), 6).as("adc_d2"))
      .orderBy($"adc_d2", $"vec_id")
      .limit(32)
      .select($"vec_id")
    exactRerank(spark, dir, pq.q, shortlist)
  }

  /** `sim_ivfpq_recall` — the honesty report for [[simIvfpqIndex]]:
    * recall@10 of the probed-ADC top-10 against the exact L2 top-10 for
    * the same query, in one plan. Two approximations stack here (probing
    * 2/8 lists AND ranking by quantized distance) — this row is the
    * number a user must see before trusting the index. */
  def simIvfpqRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 10
    // ONE model build feeds both the ground truth and the probed path
    val pq = PipelineOps.pqModel(spark, dir)
    val vecs = Tables.embeddingsValid(spark, dir)
      .select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("v"))
    // exact squared-L2 ground truth, same fold order as the oracle
    val exactD2 = graft.functions.VectorFunctions.l2sq(
      $"v", array(pq.q.map(lit): _*))
    val exactTop = vecs.filter($"vec_id" =!= 5)
      .select($"vec_id", round(exactD2, 6).as("d2"))
      .orderBy($"d2", $"vec_id").limit(k)
      .select($"vec_id")
    val approxTop = simIvfpqIndexWith(spark, dir, pq).select($"vec_id")
    approxTop.join(exactTop, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(k.toLong).as("k"), lit(2L).as("probes"), $"n_hits",
        round($"n_hits".cast("double") / k, 6).as("recall"))
  }

  /** `sim_cosine_topk` — top-20 most similar pairs. Exact all-pairs over
    * a bounded subset (the brute-force baseline the bucketed
    * [[simAnnLsh]] path is measured against — SimilaritySpec asserts
    * pair parity between the two on their overlap). */
  def simCosineTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddingsValid(spark, dir).filter($"vec_id" < 400)
      .select($"vec_id", $"embedding")
    e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("va"), $"b.vec_id".as("vb"),
        round(cosine($"a.embedding", $"b.embedding"), 6).as("cos"))
      .orderBy($"cos".desc, $"va", $"vb")
      .limit(20)
  }

  /** `sim_knn_query` — k nearest neighbours of one query vector against
    * the whole table (broadcast the query row; single scan, top-k merge). */
  def simKnnQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddingsValid(spark, dir)
    val q = e.filter($"vec_id" === 0)
      .select($"embedding".as("q_emb"))
    e.filter($"vec_id" =!= 0).crossJoin(broadcast(q))
      .select($"vec_id", $"label",
        round(cosine($"embedding", $"q_emb"), 6).as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  /** `sim_ann_lsh` — approximate NN via deterministic sign-LSH: bucket =
    * sign bits of 8 fixed dimensions (a fixed axis-aligned hyperplane
    * family), candidates = same-bucket pairs, then exact cosine + top-50.
    * The bucket join replaces the cross join — this is the 100 TB path. */
  def simAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddingsValid(spark, dir).filter($"vec_id" < 2000)
      .select($"vec_id", $"embedding", signBucket($"embedding").as("bucket"))
    e.as("a").join(e.as("b"),
        $"a.bucket" === $"b.bucket" && $"a.vec_id" < $"b.vec_id")
      .select($"a.bucket".as("bucket"), $"a.vec_id".as("va"),
        $"b.vec_id".as("vb"),
        round(cosine($"a.embedding", $"b.embedding"), 6).as("cos"))
      .orderBy($"cos".desc, $"va", $"vb")
      .limit(50)
  }

  /** `dedup_embedding` — embedding-cosine near-duplicate pairs (cos ≥
    * 0.35) over the FULL corpus, found by multi-band sign-LSH: every
    * vector explodes to [[DedupBands]] (band, bucket) keys — 8 disjoint
    * bands of 8 consecutive sign bits, all 64 dims used — candidates
    * are the distinct pairs sharing ≥1 band bucket (an EQUI-join), and
    * each candidate is confirmed with one exact [[cosine]]. This
    * replaces the r18 bounded cartesian (`vec_id < 600` theta-join):
    * candidates are now ∝ colliding pairs instead of n², the executed
    * plan contains no CartesianProduct/BroadcastNestedLoopJoin node
    * (SimilaritySpec pins that), and the key runs uncapped at every sf.
    * Recall is an honest, MEASURED artifact: [[dedupLshParity]] scores
    * this exact banding against the O(n²) ground-truth recount on a
    * bounded sample (low on this corpus's near-orthogonal random
    * vectors, whose "near-dups" sit at wide angles; ≥0.94 by the LSH
    * S-curve at the cos ≥ 0.9 similarity real near-dup corpora show) —
    * production stacks more/shorter bands to trade shuffle volume for
    * recall, which changes [[DedupBands]], not the plan. */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    dedupLshPairs(Tables.embeddingsValid(spark, dir)
        .select($"vec_id", $"embedding"))
      .select($"va", $"vb", round($"raw_cos", 6).as("cos"))
      .orderBy($"va", $"vb")
  }

  /** The SHARED body of the shipped embedding-dedup plan — multi-band
    * candidates + exact-cosine confirm over any (vec_id, embedding)
    * frame, returning (va, vb, raw_cos) for pairs ≥ 0.35. ONE spelling
    * for both the key ([[dedupEmbedding]]) and the recall report
    * ([[dedupLshParity]]): the parity key exists to score the executed
    * plan, so the two must be incapable of drifting apart.
    *
    * The exact-cosine confirm deliberately carries NO broadcast hint:
    * the embeddings frame is corpus-sized, so a hinted broadcast is a
    * plan that cannot be built at a billion vectors — the pair list
    * rides a shuffle hash join back to the two vector sides instead,
    * and at local scale AQE is still free to pick a broadcast from
    * runtime stats (an adaptive choice, not a forced one). The r19 A/B
    * (PLANS.md "dedup_embedding confirm-shape A/B") measured the
    * shuffle spelling as a wash at sf1; SimilaritySpec pins the plan
    * both cartesian-free and hint-free. */
  private def dedupLshPairs(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val bb = e.select($"vec_id", explode(bandBuckets($"embedding")).as("bb"))
    val cand = bb.as("a").join(bb.as("b"),
        $"a.bb" === $"b.bb" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("va"), $"b.vec_id".as("vb")).distinct()
    cand
      .join(e.select($"vec_id".as("va"), $"embedding".as("ea")), "va")
      .join(e.select($"vec_id".as("vb"), $"embedding".as("eb")), "vb")
      .select($"va", $"vb", cosine($"ea", $"eb").as("raw_cos"))
      .filter($"raw_cos" >= 0.35)
  }

  /** Bands × bits of the [[dedupEmbedding]] LSH family. */
  private[graft] val DedupBands = 8
  private[graft] val DedupBandBits = 8

  /** The multi-band sign-LSH family of [[dedupEmbedding]]: element b of
    * the result is "b:" + the sign bits of dims b·8+1 … b·8+8, so keys
    * from different bands can never collide in the equi-join. */
  private def bandBuckets(emb: Column): Column =
    array((0 until DedupBands).map(b =>
      concat(lit(s"$b:") +: (1 to DedupBandBits).map(j =>
        when(element_at(emb, b * DedupBandBits + j) >= 0f, "1")
          .otherwise("0")): _*)): _*)

  /** The fixed sign-LSH family shared by [[simAnnLsh]] and the parity
    * report keys: one bit per axis-aligned hyperplane (dims 1,9,…,57),
    * concatenated to an 8-bit bucket label. */
  private def signBucket(emb: Column): Column =
    concat(Seq(1, 9, 17, 25, 33, 41, 49, 57).map(i =>
      when(element_at(emb, i) >= 0f, "1").otherwise("0")): _*)

  /** `sim_lsh_parity` — the sign-LSH *honesty report* as a first-class
    * oracle key (the cross-engine twin of SimilaritySpec's exact-vs-
    * bucketed parity test): one row with the corpus size, the all-pairs
    * denominator, and the bucket join's pair count + order-independent
    * cosine checksum. The Spark side produces the counts from the
    * BUCKETED equi-join (the scale formulation); the DuckDB oracle
    * recomputes them from the exact all-pairs join filtered to equal
    * buckets — so a hash match proves the bucket join visits exactly
    * the colliding pairs (none dropped, none phantom) with identical
    * cosines, not merely that two copies of the same plan agree.
    * Checksum goes through DECIMAL(18,6) so summation order can't
    * drift the hash (§7.3 discipline). */
  def simLshParity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddingsValid(spark, dir).filter($"vec_id" < 400)
      .select($"vec_id", $"embedding", signBucket($"embedding").as("bucket"))
    val n = e.agg(count(lit(1)).as("n_vectors"))
      .withColumn("n_all_pairs",
        ($"n_vectors" * ($"n_vectors" - 1) / 2).cast("long"))
    val pairs = e.as("a").join(e.as("b"),
        $"a.bucket" === $"b.bucket" && $"a.vec_id" < $"b.vec_id")
      .agg(count(lit(1)).as("n_bucket_pairs"),
        sum(round(cosine($"a.embedding", $"b.embedding"), 6)
          .cast("decimal(18,6)")).cast("double").as("cos_sum"))
    n.crossJoin(pairs)
  }

  /** `dedup_lsh_parity` — the LSH-dedup recall report as a first-class
    * oracle key (cross-engine twin of SimilaritySpec's dedup parity
    * test): on a bounded sample (`vec_id < 600` — replica-0 rows at
    * every sf, so the ground truth stays O(sample²) while the shipped
    * key runs uncapped) and [[dedupEmbedding]]'s threshold, one row
    * with the exact near-dup pair count from the O(n²) recount, the
    * multi-band bucketed plan's pair count, and its recall. The LSH
    * side IS the shipped key's family ([[bandBuckets]]), so this
    * number scores the executed plan, not a stand-in; production adds
    * bands to drive recall → 1 and this key is where that tradeoff
    * becomes a driver-checked artifact. */
  def dedupLshParity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddingsValid(spark, dir).filter($"vec_id" < 600)
      .select($"vec_id", $"embedding")
    val exact = e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
      .filter(cosine($"a.embedding", $"b.embedding") >= 0.35)
      .agg(count(lit(1)).as("n_exact_pairs"))
    // the LSH side runs the SHIPPED key's plan body ([[dedupLshPairs]] —
    // the same code object, not a copy) on the bounded sample, so the
    // recall this report carries is the recall of dedup_embedding's
    // executed plan by construction
    val lsh = dedupLshPairs(e).agg(count(lit(1)).as("n_lsh_pairs"))
    exact.crossJoin(lsh)
      .select($"n_exact_pairs", $"n_lsh_pairs",
        when($"n_exact_pairs" === 0, lit(1.0)).otherwise(
          round($"n_lsh_pairs" / $"n_exact_pairs", 4)).as("recall"))
  }

  /** `sim_ivf_knn` — IVF-style ANN: a fixed centroid set (deterministic:
    * the first 8 vectors) partitions the space; every vector is assigned to
    * its nearest centroid (inverted lists = bucket column); a query probes
    * only the lists of its top-2 centroids and ranks candidates exactly.
    * At 100 TB the assignment is one broadcast-join pass and the probe
    * touches ~2/8 of the data instead of all of it. */
  def simIvfKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddingsValid(spark, dir).select($"vec_id", $"embedding")
    val centroids = e.filter($"vec_id" < 8)
      .select($"vec_id".as("c_id"), $"embedding".as("c_emb"))
    val assigned = assignToCentroids(e, centroids)
    // query = vec 0: probe its two nearest centroid lists. The query
    // embedding comes straight from the source (assignment doesn't
    // alter it) — routing it through `assigned` would plan a second
    // copy of the crossJoin+window subtree for an 8-row probe.
    val qProbe = e.filter($"vec_id" === 0)
      .select($"embedding".as("q_emb"))
      .crossJoin(broadcast(centroids))
      .select($"c_id", $"q_emb", cosine($"q_emb", $"c_emb").as("c_cos"))
      .orderBy($"c_cos".desc, $"c_id").limit(2)
    assigned.filter($"vec_id" =!= 0)
      .join(broadcast(qProbe), $"bucket" === $"c_id")
      .select($"vec_id", $"bucket",
        round(cosine($"embedding", $"q_emb"), 6).as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  /** `sim_ivf_recall` — the index-build + query + quality-report flow in
    * one set-based plan: assign every vector to its nearest of
    * `nCentroids` fixed centroids (the IVF index build — one broadcast
    * pass), run `nQueries` queries each probing their `probes` nearest
    * lists, and report mean recall@k against the exact top-k. This is the
    * recall/work dial an ANN deployment tunes: probes/nCentroids of the
    * data scanned per query, recall measured not guessed. All ranking is
    * windowed top-k per query — no driver loop; at 100 TB the same plan
    * fans out per query-batch. */
  def simIvfRecall(spark: SparkSession, dir: String): DataFrame =
    ivfRecallAtK(spark, dir, nQueries = 20, k = 10, nCentroids = 8,
      probes = 4)

  /** Parameterized recall@k report (see [[simIvfRecall]]): one output row
    * (n_queries, k, probes, recall). */
  def ivfRecallAtK(spark: SparkSession, dir: String, nQueries: Int, k: Int,
      nCentroids: Int, probes: Int): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddingsValid(spark, dir).select($"vec_id", $"embedding")
    val centroids = e.filter($"vec_id" < nCentroids)
      .select($"vec_id".as("c_id"), $"embedding".as("c_emb"))
    val assigned = assignToCentroids(e, centroids)
    val queries = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val wq = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
    // exact top-k per query (the ground truth)
    val exact = e.as("e").join(broadcast(queries), $"e.vec_id" =!= $"q_id")
      .select($"q_id", $"e.vec_id".as("vec_id"),
        cosine($"e.embedding", $"q_emb").as("cos"))
      .withColumn("rn", row_number().over(wq)).filter($"rn" <= k)
      .select($"q_id", $"vec_id")
    // probe lists: each query's `probes` nearest centroids
    val wp = Window.partitionBy($"q_id").orderBy($"c_cos".desc, $"c_id")
    val probeLists = queries.crossJoin(broadcast(centroids))
      .select($"q_id", $"q_emb", $"c_id",
        cosine($"q_emb", $"c_emb").as("c_cos"))
      .withColumn("rn", row_number().over(wp)).filter($"rn" <= probes)
      .select($"q_id", $"q_emb", $"c_id")
    // approximate top-k: rank only vectors in the probed lists
    val approx = assigned
      .join(broadcast(probeLists), $"bucket" === $"c_id" &&
        $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", cosine($"embedding", $"q_emb").as("cos"))
      .withColumn("rn", row_number().over(wq)).filter($"rn" <= k)
      .select($"q_id", $"vec_id")
    exact.as("x")
      .join(approx.as("a"),
        $"x.q_id" === $"a.q_id" && $"x.vec_id" === $"a.vec_id", "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(nQueries.toLong).as("n_queries"), lit(k.toLong).as("k"),
        lit(probes.toLong).as("probes"),
        round($"n_hits".cast("double") / lit((nQueries * k).toDouble), 6)
          .as("recall"))
  }

  /** `sim_ndcg_quantized` — rank-quality eval of int8 scalar
    * quantization (the `embed_quantize` compression): for query vectors
    * 0..9, compare the top-10 by cosine over DEQUANTIZED vectors against
    * the exact-cosine top-10, reporting per-query hit overlap, DCG, and
    * NDCG. Recall keys (`sim_ivf_recall` etc.) measure set overlap only;
    * this measures ORDER quality — the eval a serving stack runs before
    * shipping a compressed index.
    *
    * NDCG uses the reciprocal (1/rank) discount rather than 1/log2(1+r):
    * IEEE division is correctly rounded on every engine, while libm log2
    * is not guaranteed bit-portable — the discount choice is what makes
    * the metric hash-provable. Graded relevance of exact-rank i is
    * (11 − i), 0 outside the exact top-10; terms are cast to
    * DECIMAL(18,12) so the per-query sums are order-independent.
    *
    * Scale shape: each ranking branch is a broadcast of the 10 queries
    * against one corpus scan, reduced by the per-key bounded heap
    * (`TopK.perKey` — the custom physical operator, NOT a full window
    * sort): only 10 rows per (query, branch) ever leave a partition.
    * Ranking the two 10-row lists and fusing them is metadata-scale by
    * construction (the RetrievalOps discipline). */
  def simNdcgQuantized(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = transform($"embedding", x => x.cast("double"))
    rankEval(Tables.embeddingsValid(spark, dir)
      .select($"vec_id", v.as("v"),
        (lit(127.0) / array_max(transform(v, x => abs(x)))).as("scale"))
      .select($"vec_id", $"v",
        transform($"v", x => floor(x * $"scale" + lit(0.5)) / $"scale")
          .as("dq")))
  }

  /** Rank-quality eval over any (vec_id, v, dq) relation — queries are
    * vec_id < 10, candidates the rest, ranked by cosine over `v` (truth)
    * vs `dq` (approximation). Shared by the key and SimilaritySpec's
    * identity law (dq = v must score NDCG exactly 1.0). */
  private[graft] def rankEval(rawBase: DataFrame): DataFrame = {
    val spark = rawBase.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    // eager cut: the (vec_id, v, dq) table feeds FOUR consumers (each
    // branch's corpus and query side); without it every branch re-scans
    // and re-runs the CodegenFallback dequantize lambdas. Bounded: one
    // row per vector. At 100 TB the same cut is persist(DISK_ONLY) —
    // or the quantized table is already a persisted artifact of
    // embed_quantize's write path.
    val base = rawBase.localCheckpoint(true)
    def queriesSide = broadcast(base.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"dq".as("qdq")))
    def corpus = base.filter($"vec_id" >= 10)
    def topBranch(score: Column, rankName: String): DataFrame = {
      val scored = corpus.crossJoin(queriesSide)
        .select($"qid", $"vec_id".as("vid"), round(score, 6).as("s"))
      val rw = Window.partitionBy($"qid").orderBy($"s".desc, $"vid")
      graft.plans.TopK.perKey(scored, Seq($"qid"),
          Seq($"s".desc, $"vid".asc), 10)
        .withColumn(rankName, row_number().over(rw).cast("long"))
        .select($"qid", $"vid", col(rankName))
    }
    val eTop = topBranch(cosine($"v", $"qv"), "erank")
    val qTop = topBranch(cosine($"dq", $"qdq"), "qrank")
    val dec12 = DecimalType(18, 12)
    val zero = lit(0).cast(dec12)
    val rel = coalesce(lit(11.0) - $"erank".cast("double"), lit(0.0))
    eTop.join(qTop, Seq("qid", "vid"), "full_outer")
      .groupBy($"qid")
      .agg(
        sum(when($"erank".isNotNull && $"qrank".isNotNull, 1L)
          .otherwise(0L)).as("n_hits"),
        sum(coalesce((rel / $"qrank".cast("double")).cast(dec12), zero))
          .as("dcg_d"),
        sum(when($"erank".isNotNull,
            ((lit(11.0) - $"erank".cast("double")) /
              $"erank".cast("double")).cast(dec12))
          .otherwise(zero)).as("idcg_d"))
      .select($"qid", $"n_hits",
        round($"dcg_d".cast("double"), 6).as("dcg"),
        round($"idcg_d".cast("double"), 6).as("idcg"),
        round($"dcg_d".cast("double") / $"idcg_d".cast("double"), 6)
          .as("ndcg"))
      .orderBy($"qid")
  }

  /** `sim_hard_negatives` — hard-negative mining for contrastive
    * training: for each query vector (vec_id < 10), the top-5
    * most-cosine-similar vectors whose LABEL differs from the query's —
    * the "looks the same, is not the same" examples an embedding
    * trainer needs per anchor. Same physical shape as the rank-eval
    * branches: one corpus scan against the broadcast 10-row query side,
    * the label-mismatch predicate fused into the scan-side filter, and
    * the per-query bounded heap ([[graft.plans.TopK]]) so only 5 rows
    * per (query, partition) ever shuffle. At 100 TB with 10⁶ anchors
    * this exact plan becomes anchor-batched broadcast rounds over the
    * ANN index instead of the exact scan — the candidate generation
    * changes, the mining predicate and heap do not. */
  def simHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddingsValid(spark, dir)
    val q = broadcast(e.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("q_emb"),
        $"label".as("q_label")))
    val scored = e.filter($"vec_id" >= 10).crossJoin(q)
      .filter($"label" =!= $"q_label")
      .select($"qid", $"vec_id".as("vid"), $"label",
        round(cosine($"embedding", $"q_emb"), 6).as("cos"))
    graft.plans.TopK.perKey(scored, Seq($"qid"),
        Seq($"cos".desc, $"vid".asc), 5)
      .withColumn("neg_rank", row_number().over(
        Window.partitionBy($"qid").orderBy($"cos".desc, $"vid"))
        .cast("long"))
      .select($"qid", $"vid", $"label", $"cos", $"neg_rank")
      .orderBy($"qid", $"neg_rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_hard_negatives" -> (simHardNegatives _),
    "sim_ndcg_quantized" -> (simNdcgQuantized _),
    "sim_ivfpq_index" -> (simIvfpqIndex _),
    "sim_ivfpq_recall" -> (simIvfpqRecall _),
    "sim_ivfpq_rerank" -> (simIvfpqRerank _),
    "sim_ivfpq_residual" -> (simIvfpqResidual _),
    "sim_ivfpqr_recall" -> (simIvfpqrRecall _),
    "sim_ivfpqr_rerank" -> (simIvfpqrRerank _),
    "sim_ivf_recall" -> (simIvfRecall _),
    "sim_ivf_knn" -> (simIvfKnn _),
    "sim_ivf_index" -> (simIvfIndex _),
    "sim_cosine_topk" -> (simCosineTopk _),
    "sim_knn_query" -> (simKnnQuery _),
    "sim_ann_lsh" -> (simAnnLsh _),
    "sim_lsh_parity" -> (simLshParity _),
    "dedup_lsh_parity" -> (dedupLshParity _),
    "dedup_embedding" -> (dedupEmbedding _))

  /** DuckDB twin of `cosine(...)`: same formula, same float64 order. */
  private[operators] def cosSql(a: String, b: String): String =
    s"list_dot_product($a::DOUBLE[], $b::DOUBLE[]) / " +
      s"(sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[])) * " +
      s"sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[])))"

  /** DuckDB twin of [[signBucket]]. */
  private val BUCKET_SQL = Seq(1, 9, 17, 25, 33, 41, 49, 57)
    .map(i => s"CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END")
    .mkString("concat(", ", ", ")")

  /** DuckDB twin of [[bandBuckets]]: a list literal of the 8 band
    * strings, unnested by the consumers. */
  private val BANDS_SQL = (0 until DedupBands).map(b =>
    (1 to DedupBandBits).map(j =>
        s"CASE WHEN embedding[${b * DedupBandBits + j}] >= 0 " +
          "THEN '1' ELSE '0' END")
      .mkString(s"concat('$b:', ", ", ", ")"))
    .mkString("[", ", ", "]")

  /** IVF-PQ oracle CTEs: extend [[PipelineOps.PQ_CTES]] (e/book/qv/vd/
    * codes/adc, query = vec 5) with the coarse layer — full-vector
    * centroid distances as the SAME chained sum of per-subspace d2v the
    * engine uses, the argmin bucket assignment, and the 2-list probe. */
  private val IVFPQ_CTES =
    s"""${PipelineOps.PQ_CTES},
       |fullv AS (
       |  SELECT vec_id, c,
       |      MAX(CASE WHEN s = 0 THEN d2v END)
       |    + MAX(CASE WHEN s = 1 THEN d2v END)
       |    + MAX(CASE WHEN s = 2 THEN d2v END)
       |    + MAX(CASE WHEN s = 3 THEN d2v END)
       |    + MAX(CASE WHEN s = 4 THEN d2v END)
       |    + MAX(CASE WHEN s = 5 THEN d2v END)
       |    + MAX(CASE WHEN s = 6 THEN d2v END)
       |    + MAX(CASE WHEN s = 7 THEN d2v END) AS d2f
       |  FROM vd GROUP BY vec_id, c),
       |assigned AS (
       |  SELECT vec_id, c AS bucket FROM (
       |    SELECT vec_id, c, row_number()
       |      OVER (PARTITION BY vec_id ORDER BY d2f, c) AS rn FROM fullv)
       |  WHERE rn = 1),
       |qd AS (
       |  SELECT c,
       |      MAX(CASE WHEN s = 0 THEN d2q END)
       |    + MAX(CASE WHEN s = 1 THEN d2q END)
       |    + MAX(CASE WHEN s = 2 THEN d2q END)
       |    + MAX(CASE WHEN s = 3 THEN d2q END)
       |    + MAX(CASE WHEN s = 4 THEN d2q END)
       |    + MAX(CASE WHEN s = 5 THEN d2q END)
       |    + MAX(CASE WHEN s = 6 THEN d2q END)
       |    + MAX(CASE WHEN s = 7 THEN d2q END) AS d2f
       |  FROM (SELECT s, c, ANY_VALUE(d2q) AS d2q FROM vd GROUP BY s, c)
       |  GROUP BY c),
       |probe AS (SELECT c FROM qd ORDER BY d2f, c LIMIT 2),
       |ivfadc AS (
       |  SELECT a.vec_id, a.bucket, x.adc_d2
       |  FROM assigned a JOIN adc x USING (vec_id)
       |  JOIN probe p ON a.bucket = p.c)""".stripMargin

  /** Residual-PQ oracle CTEs on top of [[IVFPQ_CTES]] (which supplies
    * e/book/qv/assigned/qd/probe): residuals against the assigned
    * centroid, residual codebook from seeds 8-15, per-probed-bucket
    * query tables, and the residual-ADC ranking. */
  private val IVFPQR_CTES =
    s"""$IVFPQ_CTES,
       |sss AS (SELECT unnest(range(0, 8)) AS s),
       |resid AS (
       |  SELECT a.vec_id, a.bucket,
       |    list_transform(range(1, 65),
       |      i -> e.v[i::INT] - b.cv[i::INT]) AS r
       |  FROM assigned a JOIN e USING (vec_id)
       |  JOIN book b ON a.bucket = b.c),
       |bookr AS (
       |  SELECT vec_id - 8 AS rc, r AS rv FROM resid
       |  WHERE vec_id BETWEEN 8 AND 15),
       |rvd AS (
       |  SELECT resid.vec_id, sss.s, br.rc,
       |    list_sum(list_transform(range(1, 9),
       |      i -> (resid.r[(sss.s * 8 + i)::INT] - br.rv[(sss.s * 8 + i)::INT])
       |         * (resid.r[(sss.s * 8 + i)::INT] - br.rv[(sss.s * 8 + i)::INT])))
       |      AS d2v
       |  FROM resid CROSS JOIN sss CROSS JOIN bookr br),
       |rcodes AS (
       |  SELECT vec_id, s, rc FROM (
       |    SELECT *, row_number()
       |      OVER (PARTITION BY vec_id, s ORDER BY d2v, rc) AS rn FROM rvd)
       |  WHERE rn = 1),
       |qres AS (
       |  SELECT b.c AS bkt,
       |    list_transform(range(1, 65),
       |      i -> qv.qvec[i::INT] - b.cv[i::INT]) AS qr
       |  FROM book b JOIN probe p ON b.c = p.c CROSS JOIN qv),
       |qtab AS (
       |  SELECT qres.bkt, sss.s, br.rc,
       |    list_sum(list_transform(range(1, 9),
       |      i -> (qres.qr[(sss.s * 8 + i)::INT] - br.rv[(sss.s * 8 + i)::INT])
       |         * (qres.qr[(sss.s * 8 + i)::INT] - br.rv[(sss.s * 8 + i)::INT])))
       |      AS d2q
       |  FROM qres CROSS JOIN sss CROSS JOIN bookr br),
       |radc AS (
       |  SELECT k.vec_id, a.bucket, round(
       |      MAX(CASE WHEN k.s = 0 THEN t.d2q END)
       |    + MAX(CASE WHEN k.s = 1 THEN t.d2q END)
       |    + MAX(CASE WHEN k.s = 2 THEN t.d2q END)
       |    + MAX(CASE WHEN k.s = 3 THEN t.d2q END)
       |    + MAX(CASE WHEN k.s = 4 THEN t.d2q END)
       |    + MAX(CASE WHEN k.s = 5 THEN t.d2q END)
       |    + MAX(CASE WHEN k.s = 6 THEN t.d2q END)
       |    + MAX(CASE WHEN k.s = 7 THEN t.d2q END), 6) AS adc_d2
       |  FROM rcodes k JOIN assigned a USING (vec_id)
       |  JOIN qtab t ON t.bkt = a.bucket AND t.s = k.s AND t.rc = k.rc
       |  GROUP BY k.vec_id, a.bucket)""".stripMargin

  /** ONE oracle for `sim_ivf_index` and `sim_ivf_knn`: the persisted
    * index holds the same assignment the in-plan build computes, so the
    * two keys MUST return the same answer — sharing the string makes
    * that equivalence structural instead of a copy-paste invariant. */
  private val IVF_KNN_SQL =
    s"""WITH c AS (
       |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
       |  WHERE vec_id < 8),
       |assigned AS (
       |  SELECT vec_id, embedding, c_id AS bucket FROM (
       |    SELECT e.vec_id, e.embedding, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.c_id)
       |        AS rn
       |    FROM embeddings e CROSS JOIN c)
       |  WHERE rn = 1),
       |probe AS (
       |  SELECT c.c_id, q.embedding AS q_emb FROM c,
       |    (SELECT embedding FROM embeddings WHERE vec_id = 0) q
       |  ORDER BY ${cosSql("q.embedding", "c.c_emb")} DESC, c.c_id
       |  LIMIT 2)
       |SELECT a.vec_id, a.bucket,
       |  round(${cosSql("a.embedding", "p.q_emb")}, 6) AS cos
       |FROM assigned a JOIN probe p ON a.bucket = p.c_id
       |WHERE a.vec_id <> 0
       |ORDER BY cos DESC, a.vec_id LIMIT 10""".stripMargin

  val oracles: Map[String, String] = Map(
    "sim_hard_negatives" ->
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS q_emb, label AS q_label
         |  FROM embeddings WHERE vec_id < 10),
         |s AS (
         |  SELECT qid, e.vec_id AS vid, e.label AS label,
         |    round(${cosSql("e.embedding", "q_emb")}, 6) AS cos
         |  FROM embeddings e, q
         |  WHERE e.vec_id >= 10 AND e.label <> q.q_label),
         |r AS (
         |  SELECT qid, vid, label, cos,
         |    CAST(row_number() OVER
         |      (PARTITION BY qid ORDER BY cos DESC, vid) AS BIGINT)
         |      AS neg_rank
         |  FROM s)
         |SELECT qid, vid, label, cos, neg_rank FROM r
         |WHERE neg_rank <= 5 ORDER BY qid, neg_rank""".stripMargin,
    "sim_ndcg_quantized" ->
      s"""WITH s AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |    127.0 / list_max(list_transform(embedding::DOUBLE[],
         |      x -> abs(x))) AS scale
         |  FROM embeddings),
         |dqv AS (
         |  SELECT vec_id, v,
         |    list_transform(v, x -> floor(x * scale + 0.5) / scale) AS dq
         |  FROM s),
         |e AS (SELECT vec_id, v, dq FROM dqv WHERE vec_id >= 10),
         |q AS (SELECT vec_id AS qid, v AS qv, dq AS qdq FROM dqv
         |  WHERE vec_id < 10),
         |px AS (
         |  SELECT qid, e.vec_id AS vid,
         |    round(${cosSql("e.v", "qv")}, 6) AS ex,
         |    round(${cosSql("e.dq", "qdq")}, 6) AS qx
         |  FROM e, q),
         |er AS (SELECT qid, vid, erank FROM (
         |  SELECT qid, vid, CAST(row_number() OVER
         |    (PARTITION BY qid ORDER BY ex DESC, vid) AS BIGINT) AS erank
         |  FROM px) WHERE erank <= 10),
         |qr AS (SELECT qid, vid, qrank FROM (
         |  SELECT qid, vid, CAST(row_number() OVER
         |    (PARTITION BY qid ORDER BY qx DESC, vid) AS BIGINT) AS qrank
         |  FROM px) WHERE qrank <= 10),
         |j AS (
         |  SELECT coalesce(er.qid, qr.qid) AS qid, erank, qrank
         |  FROM er FULL OUTER JOIN qr
         |    ON er.qid = qr.qid AND er.vid = qr.vid),
         |agg AS (
         |  SELECT qid,
         |    CAST(SUM(CASE WHEN erank IS NOT NULL AND qrank IS NOT NULL
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |    SUM(coalesce(CAST(
         |      coalesce(11.0 - CAST(erank AS DOUBLE), 0.0) /
         |        CAST(qrank AS DOUBLE) AS DECIMAL(18,12)),
         |      CAST(0 AS DECIMAL(18,12)))) AS dcg_d,
         |    SUM(CASE WHEN erank IS NOT NULL THEN CAST(
         |        (11.0 - CAST(erank AS DOUBLE)) / CAST(erank AS DOUBLE)
         |        AS DECIMAL(18,12))
         |      ELSE CAST(0 AS DECIMAL(18,12)) END) AS idcg_d
         |  FROM j GROUP BY qid)
         |SELECT qid, n_hits,
         |  round(CAST(dcg_d AS DOUBLE), 6) AS dcg,
         |  round(CAST(idcg_d AS DOUBLE), 6) AS idcg,
         |  round(CAST(dcg_d AS DOUBLE) / CAST(idcg_d AS DOUBLE), 6)
         |    AS ndcg
         |FROM agg ORDER BY qid""".stripMargin,
    "sim_ivfpqr_recall" ->
      s"""WITH $IVFPQR_CTES,
         |rtop AS (
         |  SELECT vec_id FROM radc ORDER BY adc_d2, vec_id LIMIT 10),
         |ex AS (
         |  SELECT vec_id FROM (
         |    SELECT e.vec_id, round(list_sum(list_transform(range(1, 65),
         |        i -> (e.v[i::INT] - qv.qvec[i::INT])
         |           * (e.v[i::INT] - qv.qvec[i::INT]))), 6) AS d2
         |    FROM e CROSS JOIN qv WHERE e.vec_id <> 5)
         |  ORDER BY d2, vec_id LIMIT 10)
         |SELECT CAST(10 AS BIGINT) AS k, CAST(2 AS BIGINT) AS probes,
         |  COUNT(*) AS n_hits, round(COUNT(*) / 10.0, 6) AS recall
         |FROM rtop JOIN ex USING (vec_id)""".stripMargin,
    "sim_ivfpq_residual" ->
      s"""WITH $IVFPQR_CTES
         |SELECT vec_id, CAST(bucket AS BIGINT) AS bucket, adc_d2
         |FROM radc ORDER BY adc_d2, vec_id LIMIT 10""".stripMargin,
    "sim_ivfpqr_rerank" ->
      s"""WITH $IVFPQR_CTES,
         |short AS (
         |  SELECT vec_id FROM radc ORDER BY adc_d2, vec_id LIMIT 32)
         |SELECT e.vec_id, round(list_sum(list_transform(range(1, 65),
         |    i -> (e.v[i::INT] - qv.qvec[i::INT])
         |       * (e.v[i::INT] - qv.qvec[i::INT]))), 6) AS d2
         |FROM e JOIN short USING (vec_id) CROSS JOIN qv
         |ORDER BY d2, vec_id LIMIT 10""".stripMargin,
    "sim_ivfpq_index" ->
      s"""WITH $IVFPQ_CTES
         |SELECT vec_id, CAST(bucket AS BIGINT) AS bucket, adc_d2
         |FROM ivfadc ORDER BY adc_d2, vec_id LIMIT 10""".stripMargin,
    "sim_ivfpq_rerank" ->
      s"""WITH $IVFPQ_CTES,
         |short AS (
         |  SELECT vec_id FROM ivfadc ORDER BY adc_d2, vec_id LIMIT 32)
         |SELECT e.vec_id, round(list_sum(list_transform(range(1, 65),
         |    i -> (e.v[i::INT] - qv.qvec[i::INT])
         |       * (e.v[i::INT] - qv.qvec[i::INT]))), 6) AS d2
         |FROM e JOIN short USING (vec_id) CROSS JOIN qv
         |ORDER BY d2, vec_id LIMIT 10""".stripMargin,
    "sim_ivfpq_recall" ->
      s"""WITH $IVFPQ_CTES,
         |pqtop AS (
         |  SELECT vec_id FROM ivfadc ORDER BY adc_d2, vec_id LIMIT 10),
         |ex AS (
         |  SELECT vec_id FROM (
         |    SELECT e.vec_id, round(list_sum(list_transform(range(1, 65),
         |        i -> (e.v[i::INT] - qv.qvec[i::INT])
         |           * (e.v[i::INT] - qv.qvec[i::INT]))), 6) AS d2
         |    FROM e CROSS JOIN qv WHERE e.vec_id <> 5)
         |  ORDER BY d2, vec_id LIMIT 10)
         |SELECT CAST(10 AS BIGINT) AS k, CAST(2 AS BIGINT) AS probes,
         |  COUNT(*) AS n_hits, round(COUNT(*) / 10.0, 6) AS recall
         |FROM pqtop JOIN ex USING (vec_id)""".stripMargin,
    "sim_ivf_recall" ->
      s"""WITH c AS (
         |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
         |  WHERE vec_id < 8),
         |assigned AS (
         |  SELECT vec_id, embedding, c_id AS bucket FROM (
         |    SELECT e.vec_id, e.embedding, c.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.c_id)
         |        AS rn
         |    FROM embeddings e CROSS JOIN c)
         |  WHERE rn = 1),
         |q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |  WHERE vec_id < 20),
         |exact AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.q_id, e.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.q_id
         |        ORDER BY ${cosSql("e.embedding", "q.q_emb")} DESC, e.vec_id)
         |        AS rn
         |    FROM embeddings e JOIN q ON e.vec_id <> q.q_id)
         |  WHERE rn <= 10),
         |probe AS (
         |  SELECT q_id, q_emb, c_id FROM (
         |    SELECT q.q_id, q.q_emb, c.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.q_id
         |        ORDER BY ${cosSql("q.q_emb", "c.c_emb")} DESC, c.c_id)
         |        AS rn
         |    FROM q CROSS JOIN c)
         |  WHERE rn <= 4),
         |approx AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT p.q_id, a.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY p.q_id
         |        ORDER BY ${cosSql("a.embedding", "p.q_emb")} DESC, a.vec_id)
         |        AS rn
         |    FROM assigned a JOIN probe p
         |      ON a.bucket = p.c_id AND a.vec_id <> p.q_id)
         |  WHERE rn <= 10)
         |SELECT CAST(20 AS BIGINT) AS n_queries, CAST(10 AS BIGINT) AS k,
         |  CAST(4 AS BIGINT) AS probes,
         |  round(CAST(COUNT(*) AS DOUBLE) / 200.0, 6) AS recall
         |FROM exact x WHERE EXISTS (
         |  SELECT 1 FROM approx a
         |  WHERE a.q_id = x.q_id AND a.vec_id = x.vec_id)""".stripMargin,
    "sim_ivf_index" -> IVF_KNN_SQL,
    "sim_ivf_knn" -> IVF_KNN_SQL,
    "sim_cosine_topk" ->
      s"""SELECT a.vec_id AS va, b.vec_id AS vb,
         |  round(${cosSql("a.embedding", "b.embedding")}, 6) AS cos
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE a.vec_id < 400 AND b.vec_id < 400
         |ORDER BY cos DESC, va, vb LIMIT 20""".stripMargin,
    "sim_knn_query" ->
      s"""SELECT e.vec_id, e.label,
         |  round(${cosSql("e.embedding", "q.embedding")}, 6) AS cos
         |FROM embeddings e,
         |  (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |WHERE e.vec_id <> 0
         |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin,
    "sim_ann_lsh" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, $BUCKET_SQL AS bucket
         |  FROM embeddings WHERE vec_id < 2000)
         |SELECT a.bucket AS bucket, a.vec_id AS va, b.vec_id AS vb,
         |  round(${cosSql("a.embedding", "b.embedding")}, 6) AS cos
         |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |ORDER BY cos DESC, va, vb LIMIT 50""".stripMargin,
    "dedup_embedding" ->
      s"""WITH bb AS (
         |  SELECT vec_id, unnest($BANDS_SQL) AS bb FROM embeddings),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
         |  FROM bb a JOIN bb b ON a.bb = b.bb AND a.vec_id < b.vec_id)
         |SELECT va, vb, round(raw_cos, 6) AS cos FROM (
         |  SELECT c.va, c.vb,
         |    ${cosSql("x.embedding", "y.embedding")} AS raw_cos
         |  FROM cand c JOIN embeddings x ON c.va = x.vec_id
         |  JOIN embeddings y ON c.vb = y.vec_id)
         |WHERE raw_cos >= 0.35
         |ORDER BY va, vb""".stripMargin,
    // the oracle deliberately takes the EXACT all-pairs formulation and
    // filters to equal buckets — hash-matching the engine's bucket
    // equi-join proves the two formulations find the same pairs
    "sim_lsh_parity" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, $BUCKET_SQL AS bucket
         |  FROM embeddings WHERE vec_id < 400),
         |n AS (
         |  SELECT count(*) AS n_vectors,
         |    count(*) * (count(*) - 1) // 2 AS n_all_pairs FROM e),
         |p AS (
         |  SELECT count(*) AS n_bucket_pairs,
         |    CAST(sum(CAST(round(cos, 6) AS DECIMAL(18,6))) AS DOUBLE)
         |      AS cos_sum
         |  FROM (
         |    SELECT ${cosSql("a.embedding", "b.embedding")} AS cos
         |    FROM e a JOIN e b ON a.vec_id < b.vec_id
         |    WHERE a.bucket = b.bucket))
         |SELECT n.n_vectors, n.n_all_pairs, p.n_bucket_pairs, p.cos_sum
         |FROM n, p""".stripMargin,
    "dedup_lsh_parity" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 600),
         |bb AS (
         |  SELECT vec_id, unnest($BANDS_SQL) AS bb
         |  FROM embeddings WHERE vec_id < 600),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
         |  FROM bb a JOIN bb b ON a.bb = b.bb AND a.vec_id < b.vec_id),
         |x AS (
         |  SELECT count(*) AS n_exact_pairs
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35),
         |l AS (
         |  SELECT count(*) AS n_lsh_pairs
         |  FROM cand c JOIN e p ON c.va = p.vec_id
         |  JOIN e q ON c.vb = q.vec_id
         |  WHERE ${cosSql("p.embedding", "q.embedding")} >= 0.35)
         |SELECT x.n_exact_pairs, l.n_lsh_pairs,
         |  CASE WHEN x.n_exact_pairs = 0 THEN 1.0
         |       ELSE round(l.n_lsh_pairs / x.n_exact_pairs, 4)
         |  END AS recall
         |FROM x, l""".stripMargin)
}
