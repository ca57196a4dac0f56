package graft

import org.apache.spark.sql.functions._
import graft.operators.PipelineOps

/** Training-data curation ops: clustering against a union-find reference,
  * hash-sampling determinism and rates, split partition laws, mixture
  * weight algebra, and stream-stream-join batch equivalence. */
class PipelineSpec extends SparkSpecBase {

  test("shuffle_epoch: order is a permutation, stable across partition " +
      "counts, and a different epoch salt reorders it") {
    import spark.implicits._
    val a = graft.operators.PipelineOps.shuffleEpoch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(a.length == nDocs, "shuffle dropped or duplicated docs")
    assert(a.map(_._1).distinct.length == a.length)
    // per-shard positions are 1..n with no gaps
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // determinism across a different physical partitioning
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try {
      val b = graft.operators.PipelineOps.shuffleEpoch(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(a.toSeq == b.toSeq, "epoch order depends on partitioning")
    } finally spark.conf.set(key, prev)
    // a different salt must produce a different order (reshuffled epoch)
    val c = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id",
        md5(concat(lit("epoch2:"), $"doc_id".cast("string"))).as("skey"))
      .withColumn("shard", ascii(substring($"skey", 1, 1)).cast("long"))
      .withColumn("pos", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"shard").orderBy($"skey")).cast("long"))
      .select($"doc_id", $"shard", $"pos").orderBy($"shard", $"pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(c.map(_._1).toSeq != a.map(_._1).toSeq,
      "epoch salt did not reshuffle")
  }

  test("dedup_cluster matches a union-find reference over the edge list") {
    // edges = jaccardPairs over dedup_cluster's OWN doc_id < 40 subset
    // (dedup_ngram_jaccard moved to an sf-proportional hash-sample
    // anchor in r20, so the key no longer shares this subset)
    val edges = graft.operators.DedupOps.jaccardPairs(
        graft.sources.Tables.documents(spark, sf)
          .filter(col("doc_id") < 40), 0.5)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") < 40).select("doc_id")
      .collect().map(_.getLong(0))
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = nodes.groupBy(find).map { case (_, ms) =>
      (ms.min, ms.length.toLong, ms.max) }.toSet
    val got = PipelineOps.dedupCluster(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect)
  }

  test("star-contraction CC matches union-find on random graphs and " +
      "solves a chain whose diameter defeats bounded propagation") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    for (_ <- 0 until 3) {
      val n = 40 + rng.nextInt(40)
      val nodes = (0L until n.toLong).toSeq
      val edges = (0 until n).flatMap { _ =>
        val (a, b) = (rng.nextInt(n).toLong, rng.nextInt(n).toLong)
        if (a != b) Some((a, b)) else None
      }
      val parent = scala.collection.mutable.Map(nodes.map(x => x -> x): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = nodes.map(x => x -> find(x)).toMap
      val got = PipelineOps.connectedComponentsStar(
          nodes.toDF("node"), edges.toDF("src", "dst")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"star CC diverged from union-find (n=$n)")
    }
    // a 120-node path has diameter 119 — the propagation loop's 20-step
    // cap cannot finish it; the ADAPTIVE entry point must fall back to
    // star contraction and still return exact labels
    val n = 120L
    val chainNodes = (0L until n).toDF("node")
    val chainEdges = (0L until n - 1).map(i => (i, i + 1))
      .toDF("src", "dst")
    val viaStar = PipelineOps.connectedComponentsStar(
      chainNodes, chainEdges).collect()
    assert(viaStar.length == n && viaStar.forall(_.getLong(1) == 0L))
    val adaptive = PipelineOps.connectedComponents(
      chainNodes, chainEdges).collect()
    assert(adaptive.length == n && adaptive.forall(_.getLong(1) == 0L),
      "adaptive CC returned wrong labels past the propagation cap")
    // degenerate graphs: no edges -> every node its own singleton; no
    // nodes at all -> empty answer, never an NPE on the null label SUM
    val singletons = PipelineOps.connectedComponents(
      chainNodes, spark.emptyDataset[(Long, Long)].toDF("src", "dst"))
      .collect()
    assert(singletons.length == n &&
      singletons.forall(r => r.getLong(0) == r.getLong(1)))
    val none = PipelineOps.connectedComponents(
      spark.emptyDataset[Long].toDF("node"),
      spark.emptyDataset[(Long, Long)].toDF("src", "dst")).collect()
    assert(none.isEmpty)
  }

  test("dedup_resolve keeps exactly one canonical doc per component") {
    val rows = PipelineOps.dedupResolve(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1),
        s"${r.getString(0)}: kept+dropped != total")
    }
    val totalKept = rows.map(_.getLong(2)).sum
    // one keeper per component: kept count == number of components among
    // the subset, which the cluster op reports over its own (smaller)
    // subset — so just require every lang keeps at least one doc here
    assert(totalKept > 0)
    rows.foreach(r => assert(r.getLong(2) > 0, s"${r.getString(0)} kept 0"))
  }

  test("sample_stratified is deterministic and applies per-lang rates") {
    val a = PipelineOps.sampleStratified(spark, sf).collect()
    val b = PipelineOps.sampleStratified(spark, sf).collect()
    assert(a.toSeq == b.toSeq)
    a.foreach { r =>
      val (lang, total, kept) = (r.getString(0), r.getLong(1), r.getLong(2))
      val rate = if (lang == "en") 0.25 else 0.75
      // multiplicative-hash uniformity: binomial 3-sigma bound
      val sigma = math.sqrt(total * rate * (1 - rate))
      assert(math.abs(kept - total * rate) <= 3 * sigma + 1,
        s"$lang kept=$kept of $total, want ~${total * rate}")
    }
  }

  test("split_train_test partitions every doc exactly once, ~80/10/10") {
    val rows = PipelineOps.splitTrainTest(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set("train", "val", "test"))
    val total = rows.values.sum
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(total == nDocs)
    assert(math.abs(rows("train") - 0.8 * total) <= 0.1 * total)
    assert(rows("val") > 0 && rows("test") > 0)
  }

  test("domain_mix weights invert the observed shares to the 20% target") {
    val rows = PipelineOps.domainMix(spark, sf).collect()
    val shares = rows.map(_.getDouble(2))
    assert(math.abs(shares.sum - 1.0) < 1e-4)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(2) * r.getDouble(3) - 0.2) < 1e-4,
        s"share*weight != 0.2 for ${r.getString(0)}")
    }
  }

  test("pack_sequences conserves tokens and numbers windows contiguously " +
      "per (lang, shard) stream") {
    import spark.implicits._
    val rows = PipelineOps.packSequences(spark, sf).collect()
    val totalPacked = rows.map(_.getLong(4)).sum
    val totalTokens = graft.sources.Tables.documents(spark, sf)
      .select(size(split(trim($"text"), "\\s+")).cast("long").as("n"))
      .agg(sum($"n")).head.getLong(0)
    assert(totalPacked == totalTokens) // seams reorder tokens, never lose any
    rows.groupBy(r => (r.getString(0), r.getLong(1))).foreach {
      case ((lang, shard), rs) =>
        val ids = rs.map(_.getLong(2)).sorted
        assert(ids.head == 0L && ids.last == ids.length - 1,
          s"$lang/$shard windows not contiguous: ${ids.mkString(",")}")
    }
    // the sharding must actually split the hot axis: every language
    // packs across >1 independent stream (the 100 TB parallelism claim)
    val streamsPerLang = rows.groupBy(_.getString(0))
      .map { case (_, rs) => rs.map(_.getLong(1)).distinct.size }
    assert(streamsPerLang.forall(_ > 1),
      s"sharding did not split languages: $streamsPerLang")
  }

  test("contamination_check counts are bounded and deterministic") {
    val a = PipelineOps.contaminationCheck(spark, sf).collect()
    val b = PipelineOps.contaminationCheck(spark, sf).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.map(_.getString(0)).toSet == Set("val", "test"))
    a.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("contamination_check planted-leak law: exactly the eval docs " +
      "sharing an 8-token-gram with train flag, shorter overlaps and " +
      "sub-8-token docs never do") {
    import spark.implicits._
    val passage = "alpha beta gamma delta epsilon zeta eta theta"  // 8 tokens
    val docs = Seq(
      // train corpus: the passage embedded mid-document
      (1L, s"lead in words $passage trailing text here", "train"),
      (2L, "completely unrelated train document body text", "train"),
      // leaked: contains the full 8-token passage
      (10L, s"prefix $passage suffix", "val"),
      // 7-token overlap only -> NOT contaminated at k=8
      (11L, "alpha beta gamma delta epsilon zeta eta other words pad",
        "val"),
      (12L, s"$passage", "test"),            // exactly the 8 tokens
      (13L, "seven short tokens only here no more", "test"),  // <8 toks? 7
      (14L, "nothing shared with training data at all right here",
        "test")).toDF("doc_id", "text", "split")
    val got = PipelineOps.contaminationOver(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("val") === ((2L, 1L)))   // only doc 10
    assert(got("test") === ((3L, 1L)))  // only doc 12
  }

  test("tokenShingles law (randomized): equals a driver-side " +
      "sliding-window reference for k in {2,3,8} over random token " +
      "sequences spanning the under/at/over-k boundary") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("a", "bb", "ccc", "d", "ee")
    val docs = (1L to 120L).map { id =>
      val n = rnd.nextInt(12) // 0..11 tokens straddles every k boundary
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    def ref(text: String, k: Int): Seq[String] = {
      val t = text.trim.split("\\s+").toSeq.filter(_ => text.trim.nonEmpty)
      if (t.size < k) Seq.empty
      else t.sliding(k).map(_.mkString(" ")).toSeq.distinct
    }
    for (k <- Seq(2, 3, 8)) {
      val got = docs.toDF("doc_id", "text")
        .select($"doc_id",
          graft.operators.DedupOps.tokenShingles($"text", k).as("ss"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      docs.foreach { case (id, text) =>
        assert(got(id) == ref(text, k),
          s"k=$k doc $id: got ${got(id)}, want ${ref(text, k)}")
      }
    }
  }

  test("tokenShingles: sliding k-grams, distinct, empty under k tokens") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"), (2L, "a b"), (3L, ""), (4L, "  x   y  z  "),
      (5L, "r r r r")).toDF("doc_id", "text")
    val got = df.select($"doc_id",
        graft.operators.DedupOps.tokenShingles($"text", 3).as("ss"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) === Seq("a b c", "b c d"))
    assert(got(2L) === Seq.empty)
    assert(got(3L) === Seq.empty)
    // irregular whitespace collapses through the same \s+ split both
    // engines use
    assert(got(4L) === Seq("x y z"))
    // repeated gram deduplicates
    assert(got(5L) === Seq("r r r"))
  }

  test("token_histogram buckets partition the corpus by width-16 bins") {
    val rows = PipelineOps.tokenHistogram(spark, sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nDocs)
    rows.foreach { r =>
      val (b, lo, hi) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(lo >= b * 16 && hi < (b + 1) * 16 && lo <= hi)
    }
  }

  test("embedding_normalize yields exact unit norms after rescale") {
    val rows = PipelineOps.embeddingNormalize(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(1) > 0.0)
      assert(r.getDouble(2) == 1.0,
        s"vec ${r.getLong(0)} unit_norm=${r.getDouble(2)}")
    }
  }

  test("fused kernels evaluate once per row: no filter or collapsed " +
      "projection re-inlines the encode into the plan") {
    // guards the round-14 fix: a belt-and-braces isNotNull filter on the
    // kernel output gets pushed below the projection by Catalyst,
    // re-inlining the 512-FLOP kernel into FilterExec and silently
    // doubling the per-row cost (the nulls-last sort / driver-side skip
    // spellings exist precisely to avoid that). One occurrence each.
    val pqPlan = operators.PipelineOps.embedPqAll(spark, sf)
      .queryExecution.optimizedPlan.toString
    val nEnc = "pq_encode".r.findAllIn(pqPlan).size
    assert(nEnc == 1, s"expected exactly one pq_encode, got $nEnc:\n$pqPlan")
    val kmPlan = operators.PipelineOps.embedKmeansReport(spark, sf, 0)
      .queryExecution.optimizedPlan.toString
    val nAssign = "nearest_centroid".r.findAllIn(kmPlan).size
    assert(nAssign == 1,
      s"expected exactly one nearest_centroid, got $nAssign:\n$kmPlan")
  }

  test("embed_kmeans: Lloyd update strictly decreases total inertia and " +
      "keeps every vector assigned") {
    def totals(iters: Int): (Long, Double) = {
      val rows = operators.PipelineOps
        .embedKmeansReport(spark, sf, iters).collect()
      (rows.map(_.getLong(1)).sum, rows.map(_.getDouble(2)).sum)
    }
    val (n0, i0) = totals(0)
    val (n1, i1) = totals(1)
    val (n2, i2) = totals(2)
    val nVecs = graft.sources.Tables.embeddings(spark, sf).count()
    assert(n0 == nVecs && n1 == nVecs && n2 == nVecs)
    assert(i1 < i0, s"update did not descend: $i0 -> $i1")
    assert(i2 <= i1, s"second update ascended: $i1 -> $i2")
  }

  test("stream_stream_join equals the batch interval join") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sf)
      .filter(dayofmonth($"ts") <= 3)
    val v = ev.filter($"event_type" === "view")
      .select($"user_id".as("vu"), $"ts".as("vts"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"ts".as("pts"))
    val batch = v.join(p, $"vu" === $"pu" &&
        $"pts".between($"vts", $"vts" + expr("INTERVAL 1 HOUR")))
      .groupBy(dayofmonth($"vts").cast("long").as("d"))
      .agg(count(lit(1)).as("n_pairs"), countDistinct($"vu").as("n_users"))
      .orderBy($"d").collect().toSeq
    val streamed = graft.streaming.StreamingOps
      .streamStreamJoin(spark, sf).collect().toSeq
    assert(streamed == batch)
  }

  test("embed_pq: ADC is exact for codebook seeds, non-negative and " +
      "sorted everywhere") {
    import spark.implicits._
    val all = PipelineOps.embedPqAll(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(all.forall(_._2 >= 0.0))
    assert(all.map(_._2).toSeq == all.map(_._2).toSeq.sorted)
    // seeds 0-3 ARE codebook entries: their codes reproduce their own
    // slices exactly, so the table-lookup sum equals the true squared
    // distance to the query (vector 5)
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("v"))
      .filter($"vec_id" < 8).orderBy($"vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val q = vecs(5L)
    val byId = all.toMap
    (0L to 7L).filter(_ != 5L).foreach { c =>
      // fold per 8-dim subspace then sum, matching the engine's order
      val exact = (0 until 8).map { s =>
        var acc = 0.0
        (0 until 8).foreach { i =>
          val d = q(s * 8 + i) - vecs(c)(s * 8 + i); acc += d * d }
        acc
      }.reduce(_ + _)
      assert(math.abs(byId(c) - exact) < 1e-6,
        s"seed $c: adc=${byId(c)} exact=$exact")
    }
  }

  test("stream_late_drop: replayed rows for already-emitted windows " +
      "vanish — every window counted once, cut at the final watermark") {
    import spark.implicits._
    val got = graft.streaming.StreamingOps.streamLateDrop(spark, sf)
      .collect().toSeq
    // batch control: fresh rows only (days 5-10), hourly agg, windows
    // whose end the final watermark passed. The day-5 replay (drop C)
    // must appear NOWHERE — neither as extra windows nor as doubled
    // counts inside existing ones.
    val ev = graft.sources.Tables.events(spark, sf)
      .filter(dayofmonth($"ts").between(5, 10))
      .select($"ts", $"event_type", $"value")
    val wm = ev.agg(max(date_trunc("millisecond", $"ts"))).head
      .getTimestamp(0).getTime - 3600 * 1000L
    val batch = ev
      .withColumn("hour_start", date_trunc("hour", $"ts"))
      .filter(unix_millis($"hour_start") + 3600 * 1000L <= wm)
      .groupBy($"hour_start", $"event_type")
      .agg(count(lit(1)).as("n"),
        graft.operators.dsum($"value").as("sum_value"))
      .orderBy($"hour_start", $"event_type").collect().toSeq
    assert(got.nonEmpty && got == batch)
    // single emission per window key: append mode never re-emits
    val keys = got.map(r => (r.get(0), r.getString(1)))
    assert(keys.distinct.size == keys.size, "a window emitted twice")
  }

  test("pack_sequences_ffd: capacity respected, tokens conserved, and " +
      "measured waste strictly below the offset assignment's") {
    import spark.implicits._
    val ffd = graft.operators.PipelineOps.packSequencesFfd(spark, sf)
      .collect()
    assert(ffd.nonEmpty)
    // no doc in this corpus exceeds 2048 tokens, so no FFD bin may
    // exceed capacity (an offset window CAN — that is the point)
    ffd.foreach(r => assert(r.getLong(4) <= 2048L, s"overfull bin: $r"))
    // token conservation vs the raw corpus
    val total = graft.sources.Tables.documents(spark, sf)
      .select(size(split(trim($"text"), "\\s+")).cast("long"))
      .as[Long].collect().sum
    assert(ffd.map(_.getLong(4)).sum == total)
    // fill report: waste = sum |capacity - fill| across bins/windows.
    // FFD's is all underfill; the offset scheme pays straddle overflow
    // AND underfill, so FFD can never be worse (at sf0.001 every
    // (lang, shard) group fits one bin, so they tie; the strict win is
    // proven under real capacity pressure below)
    val off = graft.operators.PipelineOps.packSequences(spark, sf)
      .collect()
    val wasteOff = off.map(r => math.abs(2048L - r.getLong(4))).sum
    val wasteFfd = ffd.map(r => 2048L - r.getLong(4)).sum
    assert(wasteFfd <= wasteOff,
      s"FFD waste $wasteFfd above offset waste $wasteOff")
  }

  test("pack_sequences_ffd under capacity pressure: strictly less " +
      "waste than the offset assignment, no overfull bin, and the " +
      "kernel equals a driver-side reference FFD") {
    import spark.implicits._
    // one shard, doc sizes that straddle 2048 boundaries: the offset
    // scheme overfills window 0 and underfills the tail
    val sizes = Seq(1200L, 1100L, 1000L, 900L, 800L, 700L, 600L, 500L,
      400L, 300L, 200L, 100L, 90L, 60L, 30L)
    val docs = sizes.zipWithIndex.map { case (n, i) =>
      ("en", 0L, i.toLong, n) }
    val ffd = graft.operators.PipelineOps
      .packFfdFrame(docs.toDF("lang", "shard", "doc_id", "n_tokens"))
      .collect()
    ffd.foreach(r => assert(r.getLong(4) <= 2048L, s"overfull bin: $r"))
    assert(ffd.map(_.getLong(4)).sum == sizes.sum)
    // driver-side reference FFD over (n desc, doc_id)
    val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
    sizes.sorted(Ordering.Long.reverse).foreach { n =>
      val j = fills.indexWhere(_ + n <= 2048L)
      if (j < 0) fills += n else fills(j) += n
    }
    assert(ffd.map(_.getLong(4)).toSeq == fills.toSeq,
      s"kernel ${ffd.map(_.getLong(4)).toSeq} != reference $fills")
    val wasteFfd = ffd.map(r => 2048L - r.getLong(4)).sum
    // the offset assignment on the same stream (doc_id order)
    var cum = 0L
    val offFills = scala.collection.mutable.Map.empty[Long, Long]
    sizes.foreach { n =>
      val w = cum / 2048L
      offFills(w) = offFills.getOrElse(w, 0L) + n
      cum += n
    }
    val wasteOff = offFills.values.map(f => math.abs(2048L - f)).sum
    assert(wasteFfd < wasteOff,
      s"FFD waste $wasteFfd not strictly below offset waste $wasteOff")
  }

  test("stream_session_watermark: emitted = batch sessionization cut " +
      "at the final watermark, the held tail is non-empty, and the " +
      "watermark ACTUALLY evicted state (measured, not prose)") {
    import spark.implicits._
    val got = graft.streaming.StreamingOps
      .streamSessionWatermark(spark, sf).collect().toSeq
    // batch control: session_window in BATCH mode over the same slice,
    // cut where session end (last event + gap) <= max ts (ms) - 3h
    val e = graft.sources.Tables.events(spark, sf)
      .filter($"user_id" % 3 === 2)
    val wmMs = e.agg(max(date_trunc("millisecond", $"ts"))).head
      .getTimestamp(0).getTime - 3 * 3600 * 1000L
    val sessions = e
      .groupBy(session_window($"ts", "25 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"),
        graft.operators.dsum($"value").as("sum_value"))
      .select($"user_id", $"session_window.start".as("session_start"),
        $"session_window.end".as("session_end"), $"n", $"sum_value")
    val nAll = sessions.count()
    val emitted = sessions.filter(unix_millis($"session_end") <= wmMs)
      .select($"user_id", $"session_start", $"n", $"sum_value")
      .orderBy($"user_id", $"session_start").collect().toSeq
    assert(got.nonEmpty && got == emitted)
    assert(nAll > got.size,
      "no held sessions — the watermark cut is vacuous at this sf")
    // eviction proof: drain the same append-mode query by hand and read
    // the session-window state operator's removal/total counters
    val batchSchema = spark.read.parquet(s"$sf/events.parquet").schema
    val q = graft.sources.Tables.normalizeTs(spark.readStream
        .schema(batchSchema)
        .option("pathGlobFilter", "events.parquet").parquet(sf))
      .filter($"user_id" % 3 === 2)
      .withWatermark("ts", "3 hours")
      .groupBy(session_window($"ts", "25 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("append").format("memory")
      .queryName("session_wm_spec").start()
    try {
      q.processAllAvailable()
      val removed = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
      val held = q.recentProgress.last.stateOperators
        .map(_.numRowsTotal).sum
      assert(removed == got.size.toLong,
        s"evicted $removed state rows, emitted ${got.size} sessions")
      assert(held == nAll - got.size,
        s"state holds $held rows, want ${nAll - got.size} " +
          "(exactly the sessions the watermark has not passed)")
    } finally {
      q.stop(); spark.catalog.dropTempView("session_wm_spec")
    }
  }

  test("fused PQ encode equals the declarative slice+l2sq+argmin " +
      "spelling on every corpus vector (codegen path)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pq = graft.operators.PipelineOps.pqModel(spark, sf)
    val rows = graft.sources.Tables.embeddingsValid(spark, sf)
      .select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("v"))
      .select($"vec_id",
        pq.codesCol($"v").as("fused"),
        new ReferenceTwins.PqTwin(pq).codesColDeclarative($"v").as("decl"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"codes diverge at vec ${r.getLong(0)}")
    }
  }

  test("fused NearestCentroid equals the l2sq+struct+array_min " +
      "argmin spelling, including tie-break to the lowest cid") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pq = graft.operators.PipelineOps.pqModel(spark, sf)
    val cents = (0 until 8).map(c =>
      (0 until 8).flatMap(s => pq.book(s)(c)))
    val rows = graft.sources.Tables.embeddingsValid(spark, sf)
      .select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("v"))
      .select($"vec_id",
        graft.functions.PqFunctions.nearestCentroid($"v", cents)
          .as("fused"),
        array_min(array(cents.indices.map(c =>
          struct(graft.functions.VectorFunctions.l2sq($"v",
              array(cents(c).map(lit): _*)).as("d2"),
            lit(c).as("cid"))): _*)).as("decl"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val f = r.getStruct(1); val d = r.getStruct(2)
      assert(f.getDouble(0) == d.getDouble(0) &&
        f.getInt(1) == d.getInt(1), s"argmin diverges at ${r.getLong(0)}")
    }
    // tie-break: a vector equidistant from two centroids picks the
    // lower cid (strict < on the running minimum)
    val tie = Seq(Tuple1(Array(0.0, 0.0)))
      .toDF("v")
      .select(graft.functions.PqFunctions.nearestCentroid($"v",
        Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0))).as("a"))
      .head().getStruct(0)
    assert(tie.getInt(1) == 0 && tie.getDouble(0) == 1.0)
  }

  test("capPerKey two-phase sampling equals the naive full-window rank " +
      "row-for-row, and a synthetic mega-key's rank input is " +
      "threshold-bounded") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val k = 100
    // base corpus plus one mega-domain dwarfing the rest (the skew case
    // the two-phase form exists for)
    val docs = sources.Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"source")
      .unionByName(spark.range(100000, 120000)
        .select($"id".as("doc_id"), lit("en").as("lang"),
          lit("megadomain").as("source")))
      // a NULL-source stratum: the window ranks it as its own
      // partition, so the two-phase path must cap it too (null-safe
      // threshold joins), never drop it
      .unionByName(spark.range(200000, 200500)
        .select($"id".as("doc_id"), lit("en").as("lang"),
          lit(null).cast("string").as("source")))
      .localCheckpoint()
    val got = operators.PipelineOps.capPerKey(docs, k)
      .select($"doc_id", $"source")
      .as[(Long, String)].collect().toSet
    // the naive spelling the two-phase path must reproduce EXACTLY
    val w = Window.partitionBy($"source")
      .orderBy(md5(concat(lit("cap42:"), $"doc_id".cast("string"))),
        $"doc_id")
    val naive = docs.withColumn("rk", row_number().over(w))
      .filter($"rk" <= k).select($"doc_id", $"source")
      .as[(Long, String)].collect().toSet
    assert(got == naive, "two-phase cap diverged from the full rank")
    // every key kept min(k, n) rows (the cap's contract)
    val kept = got.groupBy(_._2).view.mapValues(_.size).toMap
    val ns = docs.groupBy($"source").count().as[(String, Long)]
      .collect().toMap
    ns.foreach { case (src, n) =>
      assert(kept(src) == math.min(k.toLong, n).toInt,
        s"$src kept ${kept.getOrElse(src, 0)} of $n")
    }
    // the scale claim: the mega-key feeds the rank a threshold-bounded
    // survivor set, not its 20k rows (3k expected at slack 3; the
    // binomial tail makes 6x a forever-safe spec bound)
    val docs2 = docs
      .withColumn("ord", md5(concat(lit("cap42:"), $"doc_id".cast("string"))))
      .withColumn("hv", conv(substring($"ord", 1, 15), 16, 10).cast("long"))
    val max60 = 1L << 60
    val t = math.ceil(max60.toDouble * (3.0 * k / 20000)).toLong
    val megaSurv = docs2.filter($"source" === "megadomain" && $"hv" <= t)
      .count()
    assert(megaSurv >= k && megaSurv <= 6L * k,
      s"mega-key survivor set $megaSurv outside [$k, ${6 * k}]")
  }

  test("packGroupsChunked law (randomized): for arbitrary group-size " +
      "profiles and chunk targets, re-exploded chunks equal the " +
      "single-array packing and every chunk stays bounded") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(42)
    (1 to 3).foreach { round =>
      val chunkTarget = Seq(64, 256, 1024)(round - 1)
      // 8 keys with sizes spanning sub-target to many-chunk
      val sizes = (0 until 8).map(_ => 1 + rng.nextInt(5000))
      val rows = sizes.zipWithIndex.map { case (n, i) =>
        spark.range(i * 100000, i * 100000 + n)
          .select(lit(s"k$i").as("grp"),
            struct($"id", ($"id" % 31).as("v")).as("pay"))
      }.reduce(_ unionByName _).localCheckpoint()
      val packed = operators.Filters
        .packGroupsChunked(rows, "grp", $"pay", chunkTarget).collect()
      val byKey = packed.groupBy(_.getString(0))
      sizes.zipWithIndex.foreach { case (n, i) =>
        val chunks = byKey(s"k$i")
        val expectMax = math.max(1, math.ceil(n.toDouble / chunkTarget).toInt)
        assert(chunks.length >= 1 && chunks.length <= expectMax,
          s"k$i (n=$n, target=$chunkTarget): ${chunks.length} chunks")
        chunks.foreach(c => assert(c.getSeq[Any](2).size <= 3 * chunkTarget,
          s"k$i chunk ${c.getLong(1)} holds ${c.getSeq[Any](2).size}"))
        assert(chunks.map(_.getSeq[Any](2).size).sum == n,
          s"k$i lost rows across chunks")
      }
      val naive = rows.groupBy($"grp")
        .agg(sort_array(collect_list($"pay")).as("items")).collect()
        .map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
      byKey.foreach { case (key, chunks) =>
        assert(chunks.flatMap(_.getSeq[Any](2)).sortBy(_.toString).toSeq ==
          naive(key).sortBy(_.toString).toSeq,
          s"round $round: chunked content diverged for $key")
      }
    }
  }

  test("packGroupsChunked bounds every task's buffer at the chunk and " +
      "re-explodes to exactly the single-array packing on a 100k-row " +
      "mega-group") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val chunkTarget = 4096
    // one 100k-row mega-group (the skew corpus's mega-order hazard),
    // two task-scale groups, and a NULL key that must chunk like any
    // other group
    val rows = spark.range(0, 100000)
      .select(lit("mega").as("grp"), $"id")
      .unionByName(spark.range(100000, 100300)
        .select(lit("small_a").as("grp"), $"id"))
      .unionByName(spark.range(200000, 200007)
        .select(lit("small_b").as("grp"), $"id"))
      .unionByName(spark.range(300000, 300200)
        .select(lit(null).cast("string").as("grp"), $"id"))
      .select($"grp", struct($"id", ($"id" % 97).as("v")).as("pay"))
      .localCheckpoint()
    val packed = operators.Filters
      .packGroupsChunked(rows, "grp", $"pay", chunkTarget)
      .select($"k", $"chunk", $"items")
      .collect()
    // bounded task memory: no chunk buffers more than ~2x the target
    // (hash balance over 25 chunks of 4k expected each; 2x is a
    // forever-safe binomial-tail bound), and the mega-group actually
    // SPLIT into its ceil(n/target) chunks
    val byKey = packed.groupBy(r => Option(r.getString(0)))
    val megaChunks = byKey(Some("mega"))
    assert(megaChunks.length == math.ceil(100000.0 / chunkTarget).toInt,
      s"mega split into ${megaChunks.length} chunks")
    packed.foreach { r =>
      assert(r.getSeq[Any](2).size <= 2 * chunkTarget,
        s"chunk ${r.get(0)}/${r.getLong(1)} buffered ${r.getSeq[Any](2).size}")
    }
    // task-scale groups pay zero chunking overhead: exactly one chunk
    assert(byKey(Some("small_a")).length == 1 &&
      byKey(Some("small_b")).length == 1 && byKey(None).length == 1)
    // exactness: re-exploded chunks == the single-array packing, per key
    val naive = rows.groupBy($"grp")
      .agg(sort_array(collect_list($"pay")).as("items"))
      .collect()
      .map(r => Option(r.getString(0)) -> r.getSeq[Any](1)).toMap
    byKey.foreach { case (key, chunks) =>
      val reExploded = chunks.flatMap(_.getSeq[Any](2))
        .sortBy(_.toString)
      assert(reExploded.toSeq == naive(key).sortBy(_.toString).toSeq,
        s"chunked content diverged for $key")
    }
  }

  test("sample_temperature: the head language keeps everything, rates " +
      "are monotone in corpus size, and the per-row hash decision " +
      "replays exactly") {
    val rows = PipelineOps.sampleTemperature(spark, sf).collect()
    val byN = rows.sortBy(_.getLong(1))
    assert(byN.last.getLong(2) == 1000000L,
      "largest language must keep rate 1.0 — temperature flattening " +
        "never upsamples")
    val rates = byN.map(_.getLong(2))
    assert(rates.zip(rates.tail).forall { case (a, b) => a <= b },
      s"rates not monotone in n_docs: ${byN.mkString(", ")}")
    // exact driver replay of the rate derivation and the hash sampler
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = docs.groupBy(_._1).map { case (l, xs) => l -> xs.length.toLong }
    val nMax = n.values.max
    val ppm = n.map { case (l, c) =>
      l -> math.round(1e6 * math.sqrt(c.toDouble / nMax)) }
    val kept = docs.groupBy(_._1).map { case (l, xs) =>
      l -> xs.count { case (_, id) =>
        java.lang.Math.floorMod(id * 2654435761L, 1000000L) < ppm(l) }.toLong }
    rows.foreach { r =>
      val l = r.getString(0)
      assert(r.getLong(1) == n(l) && r.getLong(2) == ppm(l) &&
        r.getLong(3) == kept(l), s"$l: $r vs (${n(l)}, ${ppm(l)}, ${kept(l)})")
    }
  }

  test("length_band_filter: the [p5, p95] bounds are the exact discrete " +
      "order statistics and the per-lang audit replays exactly") {
    val rows = PipelineOps.lengthBandFilter(spark, sf).collect()
    val lens = graft.sources.Tables.documents(spark, sf)
      .select("lang", "text").collect()
      .map(r => (r.getString(0),
        r.getString(1).split(" ").count(_.nonEmpty).toLong))
    val sorted = lens.map(_._2).sorted
    val n = sorted.length.toLong
    def kth(k: Long) = sorted((k - 1).toInt) // k-th smallest, 1-based
    val lo = kth((n + 19) / 20)
    val hi = kth((19 * n + 19) / 20)
    rows.foreach { r =>
      val l = r.getString(0)
      val mine = lens.filter(_._1 == l)
      assert(r.getLong(3) == lo && r.getLong(4) == hi,
        s"bounds ${r.getLong(3)}..${r.getLong(4)} vs $lo..$hi")
      assert(r.getLong(1) == mine.length.toLong)
      assert(r.getLong(2) ==
        mine.count(x => x._2 >= lo && x._2 <= hi).toLong)
    }
    // the band drops roughly a tenth of the corpus (5% each tail; ties
    // can shift it, but the head can never be empty)
    val kept = rows.map(_.getLong(2)).sum
    assert(kept > 0 && kept <= n)
  }

  test("sample_temperature plan: exactly one corpus scan — the counts " +
      "subtree is checkpointed, never re-inlined under both consumers") {
    val df = PipelineOps.sampleTemperature(spark, sf)
    df.collect()
    val scans = fileScans(df.queryExecution.executedPlan)
    assert(scans.size == 1,
      s"expected 1 parquet scan, found ${scans.size}: " +
        scans.map(_.tableIdentifier).mkString(", "))
    val names = planNodeNames(df.queryExecution.executedPlan)
    assert(names.exists(_.contains("BroadcastHashJoin")),
      s"rate table not broadcast: $names")
  }
}
