package graft

import graft.operators.DedupOps

/** MinHash-LSH and SimHash pipelines against planted near-duplicates —
  * the recall check SURVEY.md §5(2) calls for (the driver corpus has no
  * duplicates, so the oracle alone can't prove dedup finds any). */
class DedupSpec extends SparkSpecBase {

  test("fused Shingles3 expression equals the declarative spelling on " +
      "edge cases, multibyte text, and random strings — same values, " +
      "same first-occurrence order") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(7)
    val alphabet = "ab xyé漢🙂\t."
    val randoms = Seq.fill(60)(
      Seq.fill(rng.nextInt(40))(
        alphabet(rng.nextInt(alphabet.length))).mkString)
    val edge = Seq("", "a", "ab", "abc", " ", "  ", "aaa", "aaaa",
      "héllo wörld 漢字 🙂 café", "🙂", "🙂🙂", "🙂🙂🙂", "🙂a漢b🙂",
      "x" * 50, "ab " * 40, "ctlx", "ααββγγ")
    val df = (edge ++ randoms).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("id", "text")
      .select($"id", $"text",
        operators.DedupOps.shingles3($"text").as("fused"),
        ReferenceTwins.shingles3Declarative($"text").as("decl"))
    val bad = df.filter(not($"fused" <=> $"decl"))
      .select($"text", $"fused", $"decl").collect()
    assert(bad.isEmpty, s"fused != declarative on: ${bad.take(3).toSeq}")
    // null propagates
    val nulls = Seq((1L, null.asInstanceOf[String])).toDF("id", "text")
      .select(operators.DedupOps.shingles3($"text")).collect()
    assert(nulls.head.isNullAt(0))
  }

  private val base =
    "the quick brown fox jumps over the lazy dog near the river bank " +
      "while data engines shuffle partitions and join tables at scale " +
      "every hour of every day in the warehouse of records"

  /** 20 distinct docs (disjoint vocabularies) + 3 planted near-dup pairs
    * (small token edits of a shared base). */
  private def plantedDocs = {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val distinct = (0L until 20L).map { i =>
      (i, (0 until 30)
        .map(j => s"w${i}q${j}x${rng.nextInt(1000)}").mkString(" "))
    }
    val nearDups = Seq(
      (100L, base), (101L, base.replace("quick", "swift")),
      (102L, base + " extra tail"), (103L, base + " extra tail words"),
      (104L, base.replace("lazy", "sleepy")),
      (105L, base.replace("lazy", "sleepy").replace("dog", "cat")))
    (distinct ++ nearDups).toDF("doc_id", "text")
  }

  test("minhash-lsh finds planted near-dup pairs, no false high-jaccard") {
    // 8 bands of 4: miss probability at j=0.9 is (1-0.9^4)^8 ≈ 2e-4,
    // and deterministic given the fixed xxhash64 family
    val got = DedupOps.minhashPipeline(plantedDocs, nHashes = 32,
      bandSize = 4, threshold = 0.4).collect()
    val pairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)), s"missing (100,101) in $pairs")
    assert(pairs.contains((102L, 103L)))
    assert(pairs.contains((104L, 105L)))
    // distinct shuffled docs share vocabulary but shingle-jaccard is low
    assert(!pairs.exists { case (a, b) => a < 20 && b < 20 })
  }

  test("minhash candidates confirmed by exact jaccard >= threshold") {
    val got = DedupOps.minhashPipeline(plantedDocs, nHashes = 16,
      bandSize = 4, threshold = 0.4).collect()
    got.foreach(r => assert(r.getDouble(2) >= 0.4))
  }

  test("minhash confirm is pair-bounded array_intersect, not a " +
    "co-shingle self-join") {
    // the exact-Jaccard confirm must score each candidate pair with
    // array_intersect over the two docs' shingle sets — a co-shingle
    // self-join would emit k² rows for a shingle shared by k candidate
    // docs and defeat the banding at scale. The pipeline checkpoints
    // the stats frame (hiding its lineage), so the shape is asserted on
    // the pre-cut [[DedupOps.minhashPairStats]]: exactly 3 joins
    // (band-bucket candidates + the two pair→set lookups) and exactly
    // ONE array_intersect — the cut exists precisely so the threshold
    // filter's pushdown cannot re-inline the intersect into the join
    // condition and triple the per-pair cost.
    val df = DedupOps.minhashPairStats(plantedDocs, nHashes = 16,
      bandSize = 4, portable = false)
    val plan = df.queryExecution.optimizedPlan.toString
    // r21: the confirm runs the fused intersection_size expression
    // (cardinality only, no intersection array) — same one-per-pair shape
    val nIntersect = "intersection_size".r.findAllIn(plan).size
    assert(nIntersect == 1,
      s"expected exactly one intersection_size confirm in plan, " +
        s"got $nIntersect:\n$plan")
    val nJoins = "Join Inner".r.findAllIn(plan).size
    assert(nJoins == 3, s"expected 3 joins, got $nJoins:\n$plan")
    // ...and the pair→set confirm joins carry NO forced broadcast of
    // the per-doc set table (r20, same posture as dedup_embedding's
    // confirm): under the sf-proportional anchors the set table grows
    // with the corpus, so a hinted broadcast cannot be built at 100× —
    // the logical plan must be hint-free (AQE choosing a broadcast
    // from runtime stats is adaptive and fine)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"forced broadcast in minhash confirm: $hints")
    // (the jaccard path's confirm is the SAME pairStats function, so
    // this pin covers both; jaccardPairs' own output plan is cut at a
    // LogicalRDD leaf by thresholdJaccard and would assert vacuously)
  }

  test("minhash_signature expression is bit-identical to the " +
      "k×min(xxhash64) aggregate spelling, with codegen fallback off") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false") // a codegen bug must fail, not fall back
    try {
      val sets = plantedDocs
        .select($"doc_id",
          split(lower($"text"), " ").as("toks"))
        .select($"doc_id", array_distinct(expr(
          "transform(sequence(0, size(toks) - 3), " +
            "i -> concat_ws(' ', slice(toks, i + 1, 3)))")).as("ss"))
        .filter(size($"ss") > 0)
      val fused = sets.select($"doc_id",
        functions.MinHashFunctions.minhashSignature($"ss", 16).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val agg = sets.select($"doc_id", explode($"ss").as("s"))
        .groupBy($"doc_id")
        .agg(array((0 until 16)
          .map(i => min(xxhash64(lit(i), $"s"))): _*).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(fused.keySet == agg.keySet)
      fused.foreach { case (id, sig) =>
        assert(sig == agg(id), s"signature mismatch for doc $id")
      }
    } finally spark.conf.set(key, prev)
  }

  test("fused Md5Prefix60 equals the declarative conv(substring(md5)) " +
      "spelling on unicode/edge/random strings, codegen fallback off") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false") // a codegen bug must fail, not fall back
    try {
      val rng = new scala.util.Random(13)
      val alphabet = "ab :0189xyé漢🙂\t."
      val randoms = Seq.fill(80)(Seq.fill(rng.nextInt(60))(
        alphabet(rng.nextInt(alphabet.length))).mkString)
      val edge = Seq("", "a", "0:x", "15:shingle", "héllo漢🙂", "x" * 200)
      val df = (edge ++ randoms).zipWithIndex
        .map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
        .select($"id", $"s",
          DedupOps.portableHash($"s").as("fused"),
          ReferenceTwins.portableHashDeclarative($"s").as("decl"))
      val bad = df.filter(not($"fused" <=> $"decl")).collect()
      assert(bad.isEmpty, s"fused != declarative on: ${bad.take(3).toSeq}")
      // null propagates like the declarative chain
      val nulls = Seq((1L, null.asInstanceOf[String])).toDF("id", "s")
        .select(DedupOps.portableHash($"s")).collect()
      assert(nulls.head.isNullAt(0))
    } finally spark.conf.set(key, prev)
  }

  test("fused SortedIntersectionSize equals size(array_intersect) on " +
      "sorted random arrays, duplicates, nulls, and empties — codegen " +
      "fallback off") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val rng = new scala.util.Random(29)
      val vocab = (0 until 40).map(i => s"s$i") :+ "漢🙂"
      def arr() = Seq.fill(rng.nextInt(30))(
        if (rng.nextInt(20) == 0) null else vocab(rng.nextInt(vocab.size)))
      val cases = Seq.fill(120)((arr(), arr())) ++ Seq(
        (Seq.empty[String], Seq("a")), (Seq("a"), Seq.empty[String]),
        (Seq(null, "a", "a", null), Seq("a", null)),
        (Seq("x", "y"), Seq("y", "x", "y")))
      // the SORTED merge kernel: same value on sort_array'd inputs
      // (the contract both production call sites establish), including
      // duplicates, nulls-first runs, and empties
      val sorted = cases.zipWithIndex.map { case ((a, b), i) =>
          (i.toLong, a, b) }
        .toDF("id", "a", "b")
        .select($"id",
          graft.functions.IntersectionSizeFunctions
            .sortedIntersectionSize(
              sort_array($"a"), sort_array($"b")).as("merge"),
          size(array_intersect($"a", $"b")).as("decl"))
      val badSorted = sorted.filter(not($"merge" <=> $"decl")).collect()
      assert(badSorted.isEmpty, s"sorted merge kernel != " +
        s"size(array_intersect): ${badSorted.take(3).toSeq}")
      val nulls2 = Seq((1L, null.asInstanceOf[Seq[String]], Seq("a")))
        .toDF("id", "a", "b")
        .select(graft.functions.IntersectionSizeFunctions
          .sortedIntersectionSize($"a", $"b")).collect()
      assert(nulls2.head.isNullAt(0))
    } finally spark.conf.set(key, prev)
  }

  test("fused PortableMinHashSignature lanes equal the declarative " +
      "array_min(transform(portableHash)) spelling, codegen fallback off") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val sets = plantedDocs.filter($"text".isNotNull)
        .select($"doc_id", DedupOps.shingles3($"text").as("ss"))
        .filter(size($"ss") > 0)
      val fused = sets.select($"doc_id",
        functions.PortableHashFunctions
          .portableMinhashSignature($"ss", 16).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val decl = sets.select($"doc_id",
        ReferenceTwins.portableSignatureDeclarative($"ss", 16).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(fused.keySet == decl.keySet)
      fused.foreach { case (id, sig) =>
        assert(sig == decl(id), s"portable signature mismatch for doc $id")
      }
    } finally spark.conf.set(key, prev)
  }

  test("minhash_signature mergeability law: sig(A ∪ B) is the " +
      "element-wise min of sig(A) and sig(B), over 50 random set pairs") {
    // this law is what makes the signature distributable: per-shard
    // signatures of a sharded corpus combine by element-wise min into
    // the corpus signature, with no re-hash of the raw shingles
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(7)
    val cases = (0 until 50).map { i =>
      val a = (0 until rng.nextInt(40) + 1)
        .map(_ => s"t${rng.nextInt(60)}").distinct
      val b = (0 until rng.nextInt(40) + 1)
        .map(_ => s"t${rng.nextInt(60)}").distinct
      (i.toLong, a, b, (a ++ b).distinct)
    }
    val df = cases.toDF("id", "a", "b", "u").select($"id",
      functions.MinHashFunctions.minhashSignature($"a", 8).as("sa"),
      functions.MinHashFunctions.minhashSignature($"b", 8).as("sb"),
      functions.MinHashFunctions.minhashSignature($"u", 8).as("su"))
    df.collect().foreach { r =>
      val (sa, sb, su) =
        (r.getSeq[Long](1), r.getSeq[Long](2), r.getSeq[Long](3))
      val merged = sa.zip(sb).map { case (x, y) => math.min(x, y) }
      assert(merged == su, s"merge law broken for id=${r.getLong(0)}")
    }
  }

  test("dedup_substring equals an independent driver-side " +
      "recomputation of shared 8-token spans") {
    val got = DedupOps.dedupSubstring(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // brute force over the collected corpus (sf0.001 is small)
    val docs = sources.Tables.documents(spark, sf)
      .selectExpr("cast(doc_id as long) doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val spans: Seq[(Long, String, String)] = docs.toSeq.flatMap {
      case (id, lang, text) =>
        val t = text.split(" ").filter(_.nonEmpty)
        if (t.length < 8) Seq.empty
        else t.sliding(8).map(w => (id, lang, w.mkString(" ")))
          .toSeq.distinct
    }
    val dup = spans.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2)
      .keySet
    val perLang = spans.filter(s => dup(s._3)).groupBy(_._2)
    val exp = docs.map(_._2).distinct.sorted.map { lang =>
      val hits = perLang.getOrElse(lang, Seq.empty)
      (lang, docs.count(_._2 == lang).toLong,
        hits.map(_._1).distinct.size.toLong,
        hits.map(_._3).distinct.size.toLong)
    }.toSeq
    assert(got == exp)
    // the op is non-trivial on this corpus: some shared spans exist
    assert(got.exists(_._4 > 0))
  }

  test("simhash: near-dups within hamming 3, distinct docs far apart") {
    val got = DedupOps.simhashPipeline(plantedDocs, maxHamming = 3)
      .collect()
    val pairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)))
    assert(pairs.contains((104L, 105L)))
    // shuffled-word docs have IDENTICAL token sets only if same marker —
    // markers differ, so no sub-20 pair should be within hamming 3
    assert(!pairs.exists { case (a, b) => a < 20 && b < 20 })
  }

  test("corpus-bloom dedup is exact, bloom-bounded, and join-free on " +
    "the negative path") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fpp = 0.03
    val d = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", md5($"text".cast("binary")).as("h"))
    val corpus = d.filter($"doc_id" % 2 === 0 || $"doc_id" % 7 === 0)
      .select($"h")
    val inc = d.filter($"doc_id" % 2 === 1).persist()
    try {
      val (novel, pos) =
        DedupOps.bloomMembershipNovel(inc, corpus, fpp)
      // exactness: bloom false positives must be weeded by the confirm
      // anti-join — result identical to the direct (full-batch) anti-join
      val direct = inc.join(corpus, Seq("h"), "left_anti")
        .select($"doc_id").as[Long].collect().sorted.toSeq
      val got = novel.select($"doc_id").as[Long].collect().sorted.toSeq
      assert(got == direct, "bloom path diverged from direct anti-join")
      // the scale claim: only members + ~fpp·|inc| rows reach the
      // confirm join (3× slack on the fpp term for a tiny filter)
      val nInc = inc.count()
      val members = inc.join(corpus, Seq("h"), "left_semi").count()
      assert(pos.count() <= members + (3 * fpp * nInc).toLong + 4,
        s"bloom candidates ${pos.count()} exceed members=$members + " +
          s"fpp bound on |inc|=$nInc")
      // the negative path (the bulk of the batch) must shuffle nothing:
      // the union's FIRST child (the proven-novel branch) has no join
      // beneath it — bloom-negatives go straight from scan to output
      val union = novel.queryExecution.optimizedPlan.collectFirst {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
      }
      assert(union.isDefined, "expected Union(neg, confirmed-fp) shape")
      val negBranch = union.get.children.head
      val joins = negBranch.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      assert(joins.isEmpty, "bloom-negative branch must be join-free")
      // the membership probe is the native codegen'd expression, not a
      // scalar UDF — and the native probe actually reached the plan
      val exprs = novel.queryExecution.optimizedPlan.collect {
        case p => p.expressions.flatMap(_.collect {
          case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
        })
      }.flatten
      assert(exprs.isEmpty, "membership path must hold no scalar UDF")
      val probes = novel.queryExecution.optimizedPlan.collect {
        case p => p.expressions.flatMap(_.collect {
          case b: org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain => b
        })
      }.flatten
      assert(probes.nonEmpty, "expected a BloomFilterMightContain probe")
    } finally {
      inc.unpersist()
    }
  }

  test("jaccardPairs prefix filter is lossless at a threshold where " +
      "(1-t) is inexact in binary (the floor((1-t)*n) regression)") {
    import spark.implicits._
    // doc 2's text is a strict prefix of doc 1's: 12 chars -> 10
    // distinct shingles vs 10 chars -> 8 shingles, all shared, so
    // J = 8/10 = exactly the 0.8 threshold. Under the old FP bound
    // doc 1's prefix allowance was floor(0.19999...*10)+1 = 2 - just
    // its two df=1 shingles - so no shared shingle reached both
    // prefixes and this true pair silently vanished. The integer-safe
    // bound (n - ceil(t*n) + 1 = 3) admits one shared shingle.
    val docs = Seq(
      (1L, "abcdefghijkl"),
      (2L, "abcdefghij"),
      (3L, "zzzz other text entirely")).toDF("doc_id", "text")
    val pairs = DedupOps.jaccardPairs(docs, 0.8)
      .select($"da", $"db", $"jaccard").collect()
    assert(pairs.length == 1, s"expected exactly the planted pair: " +
      pairs.mkString(", "))
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(pairs.head.getDouble(2) == 0.8)
  }

  test("fuzzy edit-distance pairs: planted typos found at their exact " +
      "distance, cross-block pairs impossible, far tails rejected by " +
      "the threshold, hot blocks dropped by the 64-member cap") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "some more filler text to pass eighty characters of head easily"
    // block A: exact dup (dist 0), two single-char typos past the
    // 12-char block key, one same-block doc with a hostile tail
    val blockA = Seq(
      (1L, base, "en"),
      (2L, base, "en"),                                  // dist 0 to 1
      (3L, base.updated(20, 'x'), "en"),                 // dist 1
      (4L, base.updated(20, 'x').updated(30, 'q'), "en"),// dist 2
      (5L, base.take(15) + ("Z" * 70), "en"))            // dist >> 8
    // block B: same text, different lang -> different block
    val blockB = Seq((6L, base, "de"))
    // hot block: 70 near-identical docs sharing a 12-char prefix
    val hot = (100L until 170L).map(i =>
      (i, s"hotprefix common boilerplate row number $i padded out to " +
        "be long enough for the ascii head window", "en"))
    val docs = (blockA ++ blockB ++ hot).toDF("doc_id", "text", "lang")
    val got = DedupOps.fuzzyEditPairs(docs)
      .select($"da", $"db", $"dist").collect()
      .map(r => (r.getLong(0), r.getLong(1))-> r.getLong(2)).toMap
    // planted pairs at their exact Levenshtein distances (head = first
    // 80 ascii chars, so the distances are those of the 80-char heads)
    assert(got((1L, 2L)) === 0L)
    assert(got((1L, 3L)) === 1L)
    assert(got((1L, 4L)) === 2L)
    assert(got((3L, 4L)) === 1L)
    // doc 5 shares the block but its tail is beyond the threshold
    assert(!got.keySet.exists(p => p._1 == 5L || p._2 == 5L))
    // doc 6 is in a different lang-block: never paired despite equal text
    assert(!got.keySet.exists(p => p._1 == 6L || p._2 == 6L))
    // the 70-member hot block is dropped whole: no pair involves it
    assert(!got.keySet.exists(p => p._1 >= 100L || p._2 >= 100L))
  }
  test("anchorSample law: exactly pct docs of every aligned 100-id " +
      "block, invariant under the sf1 generator's replica offsets, and " +
      "equal to the integer-arithmetic twin the DuckDB oracles spell") {
    import spark.implicits._
    for ((k, pct) <- Seq((982451653L, 4), (479001599L, 4),
        (715225741L, 10))) {
      // dense id blocks at several alignments, including the 10^6
      // replica offsets gen_sf1.py applies (offset % 100 == 0, so each
      // replica must select the same positions-in-block)
      for (base <- Seq(0L, 100L, 1000000L, 9000000L)) {
        val ids = spark.range(base, base + 100).toDF("doc_id")
        val n = ids.filter(DedupOps.anchorSample(k, pct)).count()
        assert(n == pct, s"k=$k pct=$pct base=$base selected $n")
        // replica invariance: the SAME in-block positions are chosen
        val pos = ids.filter(DedupOps.anchorSample(k, pct))
          .select(($"doc_id" - base).as("p")).collect()
          .map(_.getLong(0)).toSet
        val pos0 = spark.range(0, 100).toDF("doc_id")
          .filter(DedupOps.anchorSample(k, pct))
          .collect().map(_.getLong(0)).toSet
        assert(pos == pos0,
          s"k=$k base=$base replica drift: $pos vs $pos0")
      }
      // the twin spelling the oracles use: (doc_id * k) % 100 < pct
      // over nonnegative ids (driver-side integer arithmetic)
      val sample = (0L until 5000L).filter(id => (id * k) % 100 < pct)
      val got = spark.range(0, 5000).toDF("doc_id")
        .filter(DedupOps.anchorSample(k, pct))
        .collect().map(_.getLong(0)).toSet
      assert(got == sample.toSet,
        s"k=$k pct=$pct diverged from the integer-arithmetic twin")
    }
  }

  test("anchorSample corpus contract holds on the live corpus: doc_id " +
      "is nonnegative and id*k fits Int64 for every anchor multiplier") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{max, min}
    // past these bounds Spark's non-ANSI multiply wraps silently while
    // DuckDB raises on BIGINT overflow (and pmod vs % diverge on
    // negatives) — the engines would drift with nothing pointing at the
    // cause, so a contract break must fail HERE, loudly
    val bounds = graft.sources.Tables.documents(spark, sf)
      .agg(min($"doc_id").as("lo"), max($"doc_id").as("hi")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    assert(lo >= 0L, s"corpus min doc_id $lo breaks the pmod/% agreement")
    val maxK = Seq(982451653L, 479001599L, 715225741L).max
    assert(hi <= Long.MaxValue / maxK,
      s"corpus max doc_id $hi overflows doc_id*$maxK in Int64")
  }
}
