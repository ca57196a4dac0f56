package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** North-star text-analysis operators over `documents` (SURVEY.md §2j):
  * language-ID heuristic, quality scoring, token counting, fingerprinting,
  * term frequencies. All are per-row expression pipelines (no shuffle except
  * the final aggregates) and whole-stage-codegen-friendly, so they stream at
  * scan speed over 100 TB.
  */
object TextOps {

  /** Whitespace tokens, empties dropped. `array_remove` (codegen'd)
    * rather than higher-order `filter` (CodegenFallback) — the lambda
    * form drops every consumer out of whole-stage codegen AND defeats
    * subexpression elimination, so each tokens() reference re-split
    * the text; this form keeps the whole text tier in one codegen
    * span. Values are identical: split never yields nulls, so
    * "remove empty strings" = "keep non-empty". */
  private[operators] def tokens(c: org.apache.spark.sql.Column) =
    array_remove(split(c, " "), "")

  /** Count of tokens equal to any of `terms` — the same codegen'd
    * size-difference trick (chained array_remove), replacing the
    * CodegenFallback `filter(toks, t === ...)` lambda form. */
  private[operators] def countIn(toks: Column, terms: String*): Column =
    size(toks) - size(terms.foldLeft(toks)((a, t) => array_remove(a, t)))

  /** `text_stats` — per-doc char/token counts + mean token length. */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .filter($"lang" === "en")
      .select($"doc_id", $"lang", $"n_chars",
        length($"text").cast("long").as("n_chars_measured"),
        size(tokens($"text")).cast("long").as("n_tokens"),
        // token-free docs (empty/whitespace-only — hostile corpus) have
        // no mean length: NULL, not an ANSI divide-by-zero crash.
        // sum(token lengths) = chars left after deleting the split
        // delimiter — one codegen'd translate, not an aggregate() fold
        when(size(tokens($"text")) === 0, lit(null))
          .otherwise(
            length(translate($"text", " ", "")).cast("double") /
              size(tokens($"text"))).as("mean_token_len"))
      .orderBy($"doc_id")
  }

  /** `text_langid` — n-gram/stopword language heuristic: count marker
    * tokens per language family, pick the dominant. (The corpus text is
    * synthetic; the heuristic's value is exercising the shape.) */
  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    val nThe = countIn(toks, "the", "a")
    val nData = countIn(toks, "data", "table")
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang",
        nThe.cast("long").as("n_en_markers"),
        nData.cast("long").as("n_domain_markers"),
        when(nThe > 0, "en").otherwise("unk").as("lang_guess"))
      .orderBy($"doc_id")
  }

  /** `text_quality` — length / punctuation / stopword-ratio scoring. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nChars = length($"text").cast("long")
    val nAlnum = length(regexp_replace($"text", "[^a-zA-Z0-9 ]", ""))
      .cast("long")
    val toks = tokens($"text")
    val nToks = size(toks).cast("long")
    val nStop = countIn(toks, "the", "a", "and", "of").cast("long")
    // zero-char / zero-token docs (hostile corpus) have undefined
    // ratios: NULL, not an ANSI divide-by-zero crash; quality_ok stays
    // a defined FALSE for them (false && null = false)
    val punctRatio = when(nChars === 0, lit(null))
      .otherwise((nChars - nAlnum).cast("double") / nChars)
    val stopRatio = when(nToks === 0, lit(null))
      .otherwise(nStop.cast("double") / nToks)
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", nChars.as("n_chars_m"),
        (nChars - nAlnum).as("n_punct"),
        punctRatio.as("punct_ratio"),
        nToks.as("n_tokens"),
        stopRatio.as("stopword_ratio"),
        (nToks.between(5, 1000) && punctRatio < lit(0.2))
          .as("quality_ok"))
      .orderBy($"doc_id")
  }

  /** `text_token_count` — BPE-ish regex tokenizer count: word pieces,
    * number runs, single punctuation marks. */
  def textTokenCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        size(expr(
          "regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
          .cast("long").as("n_bpe_tokens"),
        size(tokens($"text")).cast("long").as("n_ws_tokens"))
      .orderBy($"doc_id")
  }

  /** `text_chunk` — RAG-style document chunking: every document splits
    * into overlapping fixed-size token windows (size 32, stride 24 →
    * 8-token overlap so no boundary sentence is lost), each chunk
    * carrying its index, token count, and a content digest — the
    * retrieval-corpus build step between curation and embedding. Pure
    * per-row expressions (split → sequence → explode → slice → md5):
    * rows out ∝ tokens in, zero shuffles before the output sort; at
    * 100 TB this is one narrow pass. */
  def textChunk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sz = 32; val stride = 24
    Tables.documents(spark, dir)
      .select($"doc_id", tokens($"text").as("t"))
      // a token-free document (empty, whitespace-only, or null text)
      // has no chunkable content: emitting its "chunk" would give every
      // such doc the identical md5('') digest — dropped on BOTH sides
      .filter(size($"t") > 0)
      // integer ceil-div chunk count; GREATEST guards the short-doc case
      // against floor-vs-truncate division divergence across engines
      .withColumn("nc", expr(
        s"greatest(0, size(t) - $sz + ${stride - 1}) div $stride + 1"))
      .select($"doc_id", $"t",
        explode(sequence(lit(0), $"nc".cast("int") - 1)).as("chunk_idx"))
      .select($"doc_id", $"chunk_idx",
        slice($"t", $"chunk_idx" * stride + 1, lit(sz)).as("chunk"))
      .select($"doc_id", $"chunk_idx".cast("long").as("chunk_idx"),
        size($"chunk").cast("long").as("n_tokens"),
        md5(concat_ws(" ", $"chunk")).as("digest"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** `text_fingerprint` — normalized-content digest (md5 of
    * lower+whitespace-collapsed text) + polynomial rolling hash of the
    * character stream (mod 1e9+7, seeded by the first char — identical
    * fold in DuckDB's list_reduce). Known exception to the file's
    * whole-stage-codegen contract: the transform+aggregate fold is
    * CodegenFallback (as is textRepetition's transform) — a fused
    * expression in the Shingles3 style is the upgrade path if this op
    * ever shows up hot; it has not (0.1 s at sf0.1, linear at 10×). */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // explicit whitespace class, not \s: Java \s matches vertical tab,
    // RE2 (DuckDB) \s does not — either engine's shorthand would
    // silently fork the twins on the first \x0B in a crawl
    val norm = lower(trim(regexp_replace($"text",
      "[ \t\n\r\u000B\f]+", " ")))
    val charCodes = transform(split($"text", ""), c => ascii(c).cast("long"))
    // the fold covers the ENTIRE character stream (slice length =
    // size-1): a fixed cap would silently fingerprint only a prefix of
    // long documents while the oracle folds everything
    val rolling = aggregate(
      slice(charCodes, lit(2), greatest(size(charCodes) - 1, lit(0))),
      element_at(charCodes, 1),
      (acc, x) => pmod(acc * 31 + x, lit(1000000007L)))
    Tables.documents(spark, dir)
      .select($"doc_id",
        md5(norm.cast("binary")).as("content_md5"),
        substring(md5(norm.cast("binary")), 1, 16).as("fp16"),
        rolling.as("rolling_hash"))
      .orderBy($"doc_id")
  }

  /** `text_pii_redact` — PII scrubbing before training: emails, phone
    * numbers, and long digit runs are replaced with typed placeholder
    * tags and the per-row redaction counts kept for audit. Input lines
    * are synthesized deterministically from `events` (the fixture corpus
    * contains no digits — GenOps discipline, same construction in the
    * oracle), the redaction itself is the real regex pipeline: three
    * codegen'd regexp passes, no shuffle, streams at scan speed. */
  def textPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val line = format_string(
      "user %d wrote to u%d@example.com or 555-%04d about order %d",
      $"user_id", $"user_id", pmod($"event_id", lit(10000L)), $"event_id")
    val email = "[a-z0-9]+@[a-z0-9.]+"
    val phone = "555-[0-9]{4}"
    val num = "[0-9]{3,}"
    val redacted = regexp_replace(
      regexp_replace(regexp_replace(line, email, "<EMAIL>"), phone,
        "<PHONE>"), num, "<NUM>")
    Tables.events(spark, dir)
      .filter($"event_id" < 500)
      .select($"event_id",
        regexp_count(line, lit(email)).cast("long").as("n_emails"),
        regexp_count(line, lit(phone)).cast("long").as("n_phones"),
        redacted.as("redacted"))
      .orderBy($"event_id")
  }

  /** `text_repetition` — repeated-3-gram ratio, the Gopher/RefinedWeb
    * style repetition filter for training corpora: a doc whose 3-grams
    * are mostly duplicates is boilerplate/spam. Pure array expressions
    * (no explode, no shuffle): token trigrams via `transform` over an
    * index sequence, dup ratio from `array_distinct`. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    val n = size(toks)
    val grams = when(n >= 3,
      transform(sequence(lit(1), n - 2), i => concat_ws(" ",
        element_at(toks, i), element_at(toks, i + 1),
        element_at(toks, i + 2))))
      .otherwise(array())
    val nG = size(grams)
    val nDist = size(array_distinct(grams))
    Tables.documents(spark, dir)
      .select($"doc_id", nG.cast("long").as("n_grams"),
        nDist.cast("long").as("n_distinct"),
        when(nG > 0, (nG - nDist).cast("double") / nG)
          .otherwise(lit(0.0)).as("dup_ratio"),
        (nG > 0 && (nG - nDist).cast("double") / nG > 0.2)
          .as("is_repetitive"))
      .orderBy($"doc_id")
  }

  /** `tf_top_terms` — corpus term frequency via explode (UDTF shape):
    * top-20 terms, count-desc then term for a total order. */
  def tfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(tokens($"text")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"term")
      .limit(20)
  }

  /** `text_html_strip` — web-corpus boilerplate removal: each doc is
    * wrapped in a deterministic HTML shell (title, script, div chrome —
    * the shape a crawl dump carries), then stripped back to clean text
    * with a three-stage regexp chain (script blocks → tags → whitespace
    * collapse). Per-lang audit of chars in vs chars out. Pure per-row
    * expressions — streams at scan speed; the only shuffle is the 3-row
    * final aggregate. */
  def textHtmlStrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val html = concat(
      lit("<html><head><title>"), $"source",
      lit("</title><script>var t=1;</script></head><body><p>"), $"text",
      lit("</p><br/><div class=\"nav\">menu</div></body></html>"))
    val stripped = trim(regexp_replace(regexp_replace(regexp_replace(
      html, "<script>[^<]*</script>", " "), "<[^>]+>", " "),
      "[ \t\n\r\u000B\f]+", " "))
    Tables.documents(spark, dir)
      .select($"lang", length(html).cast("long").as("html_chars"),
        length(stripped).cast("long").as("clean_chars"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n"),
        sum($"html_chars").cast("bigint").as("html_chars"),
        sum($"clean_chars").cast("bigint").as("clean_chars"))
      .orderBy($"lang")
  }

  /** `text_rarity` — corpus-frequency rarity scoring (the CCNet-style
    * LM-quality-filter shape, integer-exact): pass 1 computes each
    * term's document frequency (one shuffle), pass 2 joins tokens back
    * to their df and scores each doc by how many rare (df < 5) and
    * common (df ≥ 100) terms it uses, with a permille rarity ratio in
    * exact integer arithmetic. At 100 TB both passes shuffle on the
    * term — the vocabulary join is the same equi-join a real LM-score
    * pipeline runs; no floating point anywhere, so the oracle hashes
    * bit-identically. */
  def textRarity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", explode(tokens($"text")).as("t"))
    val df = toks.distinct()
      .groupBy($"t").agg(count(lit(1)).as("df"))
    toks.join(df, "t")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when($"df" < 5, 1)).as("n_rare"),
        count(when($"df" >= 100, 1)).as("n_common"))
      .select($"doc_id", $"n_tokens", $"n_rare", $"n_common",
        expr("n_rare * 1000 DIV n_tokens").as("rarity_permille"))
      .orderBy($"doc_id")
  }

  /** `text_perplexity_filter` — unigram-LM quality filtering (the
    * CCNet discipline: train a small LM on the corpus, score every
    * document by per-token negative log-likelihood, drop the worst):
    * pass 1 trains — token counts in one shuffle, then the TOP-K vocab
    * (K = 24 here so the OOV class is genuinely exercised against this
    * corpus's 31-token vocabulary; K ≈ 200k at 100 TB, which is still
    * broadcastable — real LM filters cap the vocab for exactly this
    * reason) with add-one smoothing over K + 1 classes (the +1 is the
    * OOV bucket). Pass 2 scores — a BROADCAST join from tokens to the
    * vocab's precomputed per-token NLL (no shuffle; text_rarity by
    * contrast pays the full term-shuffle join because its vocabulary
    * is uncapped), then a doc-level aggregate and the keep/drop cut.
    * Float discipline: -ln p is computed ONCE per vocab entry (+ once
    * for OOV) and rounded to DECIMAL(18,9), so the per-doc sum is
    * exact integer arithmetic and the oracle's only float ops are the
    * same single-input ln/divide both engines evaluate on identical
    * doubles — per-doc float accumulation (ordering-sensitive) never
    * happens. Driver work is one 2-value stats row; the vocab
    * broadcast is K-bounded. */
  def textPerplexityFilter(spark: SparkSession, dir: String): DataFrame =
    perplexityOver(Tables.documents(spark, dir), k = 24, tau = 4.8)

  /** The unigram-LM train+score core over an arbitrary (doc_id, lang,
    * text) frame — split out so TextSpec can drive a hand-computable
    * corpus through the exact production pipeline. */
  private[graft] def perplexityOver(docs: DataFrame, k: Int,
      tau: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs
      .select($"doc_id", $"lang", explode(tokens($"text")).as("tok"))
    val counts = toks.groupBy($"tok").agg(count(lit(1)).as("c"))
    // coalesce: a token-free corpus (hostile sweep's degenerate case)
    // must yield an empty result, not a null-decode NPE on the stats row
    val (tAll, vDistinct) = counts
      .agg(coalesce(sum($"c"), lit(0L)), count(lit(1)))
      .as[(Long, Long)].head()
    val v = math.min(k.toLong, vDistinct)
    val denom = (tAll + v + 1).toDouble
    val vocabNll = counts.orderBy($"c".desc, $"tok").limit(k)
      .select($"tok",
        round(-log(($"c" + 1.0) / denom), 9)
          .cast("decimal(18,9)").as("nll"))
    val oovNll = new java.math.BigDecimal(-math.log(1.0 / denom))
      .setScale(9, java.math.RoundingMode.HALF_UP)
    toks.join(broadcast(vocabNll), Seq("tok"), "left")
      .select($"doc_id", $"lang",
        coalesce($"nll", lit(oovNll)).as("nll"))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_tokens"), sum($"nll").as("sum_nll"))
      .select($"doc_id", $"lang", $"n_tokens",
        round($"sum_nll".cast("double") / $"n_tokens", 4).as("nll"))
      .withColumn("keep", $"nll" <= tau)
      .orderBy($"doc_id")
  }

  /** `bpe_top_pairs` — the BPE-training kernel, distributed: the corpus
    * first compresses to a (word, count) table (the classic
    * tokenizer-training trick — pair statistics over DISTINCT words
    * weighted by frequency, never over raw text, so a 100 TB corpus
    * becomes a |vocab|-row problem after one shuffle), then each word
    * emits its adjacent character pairs as a per-row expression and a
    * second shuffle sums pair counts; the top-20 ride a TakeOrdered,
    * never a full sort. This is one iteration of the merge loop — a
    * production vocab build re-applies the winning merge to the (tiny,
    * broadcast) word table and repeats, each round touching |vocab|
    * rows, not the corpus. Counting is exact integer arithmetic end to
    * end, so the DuckDB twin hash-matches with no float contract. */
  def bpeTopPairs(spark: SparkSession, dir: String): DataFrame =
    bpePairCounts(Tables.documents(spark, dir))
      .orderBy(col("n_occurrences").desc, col("pair")).limit(20)

  /** The pair-count core over an arbitrary frame with a `text` column —
    * split out so TextSpec can drive RANDOMIZED corpora through the
    * exact distributed pipeline the key runs (full counts, no top-k). */
  private[graft] def bpePairCounts(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("n"))
      // sequence(1, len-1) on a 1-char word would be sequence(1, 0) —
      // a BACKWARDS range in Spark, not an empty one
      .filter(length($"w") >= 2)
    words
      .select(explode(transform(
        sequence(lit(1), length($"w") - 1),
        i => $"w".substr(i, lit(2)))).as("pair"), $"n")
      .groupBy($"pair").agg(sum($"n").as("n_occurrences"))
  }

  /** Symbol separator for the BPE word representation. Each symbol is
    * wrapped as `SEP sym SEP` and the wrapped symbols concatenated, so
    * applying the merge (l, r) is ONE non-overlapping left-to-right
    * string replace of `SEP l SEP SEP r SEP` with `SEP l r SEP` — the
    * exact greedy leftmost-match semantics BPE specifies. The doubled
    * separator matters: adjacent matches share no characters, so a run
    * like [a,a,a,a] merges to [aa,aa] (a single-separator spelling
    * consumes the boundary and drops every second merge), and a match
    * can never end inside a multi-character symbol ([a,bc] does not
    * match pair (a,b)). Both engines' `replace` scan left-to-right
    * over non-overlapping occurrences, verified by TextSpec. Words
    * containing the separator are fenced out of the vocabulary (same
    * fence in the oracle), so the representation is unambiguous. */
  private[graft] val BpeSep = "\u001F"

  /** Merge rounds `bpe_learn_merges` runs and the encode fixture stores. */
  private[graft] val BpeSteps = 8

  /** The distinct-word table in wrapped-symbol representation: (w, repr,
    * n). This is the ONLY corpus-wide pass of the whole BPE train loop —
    * after this one shuffle every merge round touches |vocab| rows. */
  private def bpeWordTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(explode(tokens($"text")).as("w"))
      .filter(length($"w") >= 2 && !$"w".contains(BpeSep))
      .groupBy($"w").agg(count(lit(1)).as("n"))
      .withColumn("repr", concat(lit(BpeSep),
        array_join(array_remove(split($"w", ""), ""), BpeSep + BpeSep),
        lit(BpeSep)))
  }

  /** Frequency-weighted adjacent-pair statistics of the CURRENT
    * symbolization — input and output are both vocab-sized. */
  private def bpePairStats(words: DataFrame): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val syms = split($"repr".substr(lit(2), length($"repr") - 2),
      BpeSep + BpeSep)
    words.select(syms.as("syms"), $"n")
      // sequence(1, 0) on a single-symbol word would step BACKWARDS
      .filter(size($"syms") >= 2)
      .select(explode(transform(sequence(lit(1), size($"syms") - 1),
        i => struct(element_at($"syms", i).as("l"),
          element_at($"syms", i + 1).as("r")))).as("p"), $"n")
      .groupBy($"p.l".as("l"), $"p.r".as("r"))
      .agg(sum($"n").as("cnt"))
  }

  /** Run `steps` BPE merge rounds over `docs` and return (merge table,
    * final word symbolization). Round i: argmax pair by (count desc,
    * left, right — the deterministic tie-break that makes the table
    * oracle-able), then ONE string replace over the vocab table. The
    * word table is localCheckpoint-cut each round, so iteration i's
    * argmax job scans the checkpointed |vocab| rows — NEVER the corpus
    * (PLANS.md carries the executed-plan excerpt); this is the
    * Lloyd-iteration shape embed_kmeans uses, with per-round driver
    * traffic of exactly one (l, r, count) row. Stops early if the
    * corpus runs out of pairs (the oracle's empty-CTE cascade emits
    * the same truncated table). */
  private[graft] def bpeLearn(docs: DataFrame, steps: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    var words = bpeWordTable(docs).localCheckpoint(false)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var exhausted = false
    for (step <- 1 to steps if !exhausted) {
      val top = bpePairStats(words)
        .orderBy($"cnt".desc, $"l", $"r").limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += ((step, l, r, c))
        // chain the replace on top of the ONE checkpoint: re-running
        // ≤steps constant-folded replaces per round is vocab-scale
        // noise, and skipping the per-round re-checkpoint keeps only
        // one RDD pinned for the loop's lifetime (A/B measured a wash
        // on wall time — the lazy materializations fuse either way)
        words = words.withColumn("repr", replace($"repr",
          lit(BpeSep + l + BpeSep + BpeSep + r + BpeSep),
          lit(BpeSep + l + r + BpeSep)))
      }
    }
    (merges.result(), words)
  }

  /** `bpe_learn_merges` — the BPE TRAINING loop `bpe_top_pairs` is one
    * round of, closed: 8 merge rounds over the distinct-word table,
    * emitting the learned merge table (step, left, right, merged,
    * n_occurrences). The corpus is scanned ONCE (the word-table
    * build); every round after that is vocab-scale (see [[bpeLearn]]).
    * Oracle: the same 8 rounds unrolled as DuckDB CTEs. */
  def bpeLearnMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (merges, _) = bpeLearn(Tables.documents(spark, dir), BpeSteps)
    merges.map { case (s, l, r, c) => (s.toLong, l, r, l + r, c) }
      .toDF("step", "left", "right", "merged", "n_occurrences")
      .orderBy($"step")
  }

  /** Learned-merge fixture for `text_bpe_encode`: the 8-round merge
    * table persisted once per corpus fingerprint (training is an
    * ingest-time artifact exactly like the ANN indexes — a tokenizer
    * is trained once and applied everywhere). */
  private[graft] def bpeMergesLayout(spark: SparkSession,
      dir: String): String = {
    val out = graft.sources.IngestOps.sharedFor(spark, "bpe_merges", dir)
    graft.sources.IngestOps.buildShared(spark, out) { tmpRoot =>
      import spark.implicits._
      val (merges, _) = bpeLearn(Tables.documents(spark, dir), BpeSteps)
      merges.map { case (s, l, r, c) => (s.toLong, l, r, c) }
        .toDF("step", "left", "right", "n_occurrences")
        .coalesce(1).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$tmpRoot/merges.parquet")
    }
  }

  /** Driver-side read of a persisted merge table, ordered by step.
    * parquet-mr in the planning JVM: the table is 8 rows of KB-scale
    * metadata the ENCODE plan is built from — a Spark job here would
    * put a scheduling wave in front of every encode (the r16 metadata
    * lesson). */
  private[graft] def readBpeMerges(spark: SparkSession,
      root: String): Seq[(Long, String, String)] = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/merges.parquet")
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.setBoolean("parquet.page.verify-checksum.enabled", true)
    val fs = dir.getFileSystem(conf)
    val parts = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val out = Seq.newBuilder[(Long, String, String)]
    parts.foreach { p =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
        .withConf(conf).build()
      try {
        var g = reader.read()
        while (g != null) {
          out += ((g.getLong("step", 0), g.getString("left", 0),
            g.getString("right", 0)))
          g = reader.read()
        }
      } finally reader.close()
    }
    out.result().sortBy(_._1)
  }

  /** `text_bpe_encode` — tokenizer APPLY at corpus width: encode every
    * document with the learned merge table and report per-doc word and
    * BPE-symbol counts. The merges come from the persisted fixture
    * ([[bpeMergesLayout]], read driver-side) and are applied IN LEARNED
    * ORDER as a chain of 8 constant-folded `replace`s over the
    * distinct-WORD table (vocab-sized — the classic apply trick: encode
    * the vocabulary, not the corpus), which then broadcast-joins back
    * to the exploded corpus tokens; the only corpus-scale work is one
    * explode + broadcast hash join + per-doc sum. Words outside the
    * vocabulary fence (single chars, separator carriers) count their
    * raw character length — the same defined fallback in the oracle. */
  def textBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val merges = readBpeMerges(spark, bpeMergesLayout(spark, dir))
    val docs = Tables.documents(spark, dir)
    val encoded = merges.foldLeft(bpeWordTable(docs)) {
      case (df, (_, l, r)) =>
        df.withColumn("repr", replace($"repr",
          lit(BpeSep + l + BpeSep + BpeSep + r + BpeSep),
          lit(BpeSep + l + r + BpeSep)))
    }.select($"w", size(split($"repr".substr(lit(2),
      length($"repr") - 2), BpeSep + BpeSep)).as("n_sym"))
    val perDoc = docs
      .select($"doc_id", explode(tokens($"text")).as("w"))
      .join(broadcast(encoded), Seq("w"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce($"n_sym", length($"w")).cast("long")).as("n_bpe"))
    docs.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"n_words", lit(0L)).as("n_words"),
        coalesce($"n_bpe", lit(0L)).as("n_bpe"))
      .orderBy($"doc_id")
  }

  /** `text_line_dedup` — C4-style LINE-level boilerplate removal stats:
    * split every doc into trimmed non-empty lines, count each distinct
    * line's document frequency corpus-wide, and report per doc how many
    * of its lines are corpus-hot (df ≥ 3 — the cookie-banner/nav-bar
    * tier every web-scrape pipeline strips) plus the retained fraction.
    * Distinct-per-doc lines feed the count, so a doc repeating its own
    * boilerplate 50 times cannot promote it to "corpus-hot" alone.
    *
    * Scale shape: explode → per-(line) count (one shuffle, map-side
    * combinable) → broadcast-join the HOT SET back (hot lines are a
    * tiny fraction by Zipf — at 100 TB the hot set is the only thing
    * that moves; production would pass it as a bloom filter, the
    * dedup_corpus_bloom discipline). The driver corpus has no repeated
    * lines (all-zero hot counts — the honest degenerate answer);
    * TextSpec plants shared boilerplate and proves the flagging. */
  def textLineDedup(spark: SparkSession, dir: String): DataFrame =
    lineDedupOver(Tables.documents(spark, dir))

  /** The line-dedup report over any (doc_id, text) relation. */
  private[graft] def lineDedupOver(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lines = docs
      .select($"doc_id", explode(array_distinct(filter(
        transform(split(coalesce($"text", lit("")), "\n"),
          l => trim(l)), l => l =!= ""))).as("line"))
    val hot = lines.groupBy($"line")
      .agg(countDistinct($"doc_id").as("df"))
      .filter($"df" >= 3)
    lines.join(broadcast(hot), Seq("line"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when($"df".isNotNull, 1L).otherwise(0L)).as("n_hot"))
      .select($"doc_id", $"n_lines", $"n_hot",
        round(($"n_lines" - $"n_hot").cast("double") /
          $"n_lines".cast("double"), 6).as("retained_ratio"))
      .orderBy($"doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_line_dedup" -> (textLineDedup _),
    "bpe_top_pairs" -> (bpeTopPairs _),
    "bpe_learn_merges" -> (bpeLearnMerges _),
    "text_bpe_encode" -> (textBpeEncode _),
    "text_html_strip" -> (textHtmlStrip _),
    "text_rarity" -> (textRarity _),
    "text_perplexity_filter" -> (textPerplexityFilter _),
    "text_stats" -> (textStats _),
    "text_langid" -> (textLangid _),
    "text_quality" -> (textQuality _),
    "text_token_count" -> (textTokenCount _),
    "text_chunk" -> (textChunk _),
    "text_fingerprint" -> (textFingerprint _),
    "text_pii_redact" -> (textPiiRedact _),
    "text_repetition" -> (textRepetition _),
    "tf_top_terms" -> (tfTopTerms _))

  /** DuckDB twin of [[tokens]] over an arbitrary column expression —
    * ONE definition of the tokenizer contract both engines share
    * (RetrievalOps applies it to a null-coalesced text). */
  private[operators] def toksSql(col: String): String =
    s"list_filter(string_split($col, ' '), t -> t <> '')"

  private val TOKS = toksSql("text")

  /** DuckDB spelling of [[BpeSep]] — chr(31), kept out of the SQL text
    * so the oracle JSON carries no raw control characters. */
  private val SEP = "chr(31)"

  /** The learn loop's DuckDB twin, unrolled: CTEs w0..w`steps` where
    * w0 is the wrapped-symbol word table and each round extracts pair
    * stats (s/p/c), picks the argmax under the shared tie-break (m),
    * and applies the merge with the same `replace` (w{i+1}). Returns
    * (cte chain text, last word-table CTE name). If a tiny corpus
    * exhausts its pairs, m{i} is empty and the w{i+1} cross join
    * cascades empty — matching the Scala loop's early stop. */
  private def bpeCtes(steps: Int): (String, String) = {
    val rounds = (0 until steps).map { i =>
      s"""s$i AS (SELECT string_split(repr[2:len(repr)-1], $SEP||$SEP)
         |  AS syms, n FROM w$i),
         |p$i AS (SELECT syms[k::INT] AS l, syms[(k+1)::INT] AS r, n
         |  FROM s$i, UNNEST(range(1, len(syms))) AS u(k)),
         |c$i AS (SELECT l, r, CAST(SUM(n) AS BIGINT) AS cnt
         |  FROM p$i GROUP BY l, r),
         |m$i AS (SELECT l, r, cnt FROM c$i
         |  ORDER BY cnt DESC, l, r LIMIT 1),
         |w${i + 1} AS (SELECT w,
         |  replace(repr, $SEP||m.l||$SEP||$SEP||m.r||$SEP,
         |          $SEP||m.l||m.r||$SEP) AS repr, n
         |  FROM w$i, m$i m)""".stripMargin
    }.mkString(",\n")
    val chain =
      s"""toks AS (SELECT unnest($TOKS) AS w FROM documents),
         |w0 AS (
         |  SELECT w, $SEP || array_to_string(string_split(w, ''),
         |    $SEP||$SEP) || $SEP AS repr, COUNT(*) AS n
         |  FROM toks WHERE len(w) >= 2 AND strpos(w, $SEP) = 0
         |  GROUP BY w),
         |$rounds""".stripMargin
    (chain, s"w$steps")
  }

  val oracles: Map[String, String] = Map(
    "text_line_dedup" ->
      """WITH lines AS (
        |  SELECT DISTINCT doc_id, trim(l) AS line FROM (
        |    SELECT doc_id, unnest(string_split(coalesce(text, ''),
        |      chr(10))) AS l
        |    FROM documents)
        |  WHERE trim(l) <> ''),
        |hot AS (
        |  SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines
        |  GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3)
        |SELECT l.doc_id, COUNT(*) AS n_lines,
        |  CAST(SUM(CASE WHEN h.df IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hot,
        |  round(CAST(COUNT(*) - SUM(CASE WHEN h.df IS NOT NULL
        |      THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE), 6) AS retained_ratio
        |FROM lines l LEFT JOIN hot h ON l.line = h.line
        |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin,
    "bpe_learn_merges" -> {
      val (chain, _) = bpeCtes(BpeSteps)
      val union = (0 until BpeSteps).map(i =>
        s"""SELECT CAST(${i + 1} AS BIGINT) AS step, l AS "left",
           |  r AS "right", l || r AS merged, cnt AS n_occurrences
           |  FROM m$i""".stripMargin).mkString("\nUNION ALL\n")
      s"WITH $chain\nSELECT * FROM (\n$union\n) ORDER BY step"
    },
    "text_bpe_encode" -> {
      val (chain, last) = bpeCtes(BpeSteps)
      s"""WITH $chain,
         |enc AS (SELECT w, len(string_split(repr[2:len(repr)-1],
         |  $SEP||$SEP)) AS n_sym FROM $last),
         |tok AS (SELECT doc_id, unnest($TOKS) AS w FROM documents),
         |per AS (
         |  SELECT t.doc_id, COUNT(*) AS n_words,
         |    SUM(COALESCE(e.n_sym, len(t.w))) AS n_bpe
         |  FROM tok t LEFT JOIN enc e USING (w) GROUP BY t.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
         |  CAST(COALESCE(p.n_bpe, 0) AS BIGINT) AS n_bpe
         |FROM documents d LEFT JOIN per p USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    "bpe_top_pairs" ->
      s"""WITH toks AS (SELECT unnest($TOKS) AS w FROM documents),
         |w AS (
         |  SELECT w, COUNT(*) AS n FROM toks
         |  WHERE len(w) >= 2 GROUP BY w),
         |p AS (
         |  SELECT substr(w, i::INT, 2) AS pair, n
         |  FROM w, UNNEST(range(1, len(w))) AS r(i))
         |SELECT pair, CAST(SUM(n) AS BIGINT) AS n_occurrences
         |FROM p GROUP BY pair
         |ORDER BY n_occurrences DESC, pair LIMIT 20""".stripMargin,
    "text_chunk" ->
      s"""WITH d AS (
         |  SELECT doc_id, $TOKS AS t FROM documents),
         |d2 AS (SELECT * FROM d WHERE len(t) > 0),
         |c AS (
         |  SELECT doc_id, i AS chunk_idx,
         |    t[(i*24+1)::INT:(i*24+32)::INT] AS chunk
         |  FROM d2, UNNEST(range(0,
         |    GREATEST(0, len(t) - 32 + 23) // 24 + 1)) AS u(i))
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(len(chunk) AS BIGINT) AS n_tokens,
         |  md5(array_to_string(chunk, ' ')) AS digest
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "text_html_strip" ->
      """WITH h AS (SELECT lang,
        |  '<html><head><title>' || source ||
        |  '</title><script>var t=1;</script></head><body><p>' || text ||
        |  '</p><br/><div class="nav">menu</div></body></html>' AS html
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(length(html)) AS BIGINT) AS html_chars,
        |  CAST(SUM(length(trim(regexp_replace(regexp_replace(regexp_replace(
        |    html, '<script>[^<]*</script>', ' ', 'g'),
        |    '<[^>]+>', ' ', 'g'), '[ \t\n\r\x0B\f]+', ' ', 'g')))) AS BIGINT)
        |    AS clean_chars
        |FROM h GROUP BY lang ORDER BY lang""".stripMargin,
    "text_rarity" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($TOKS) AS t FROM documents),
         |df AS (
         |  SELECT t, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY t)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |  COUNT(CASE WHEN df < 5 THEN 1 END) AS n_rare,
         |  COUNT(CASE WHEN df >= 100 THEN 1 END) AS n_common,
         |  (COUNT(CASE WHEN df < 5 THEN 1 END) * 1000) // COUNT(*)
         |    AS rarity_permille
         |FROM toks JOIN df USING (t)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_perplexity_filter" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, unnest($TOKS) AS tok FROM documents),
         |counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
         |stats AS (
         |  SELECT CAST(SUM(c) AS BIGINT) AS t_all,
         |    LEAST(COUNT(*), 24) AS v
         |  FROM counts),
         |vocab AS (SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT 24),
         |vnll AS (
         |  SELECT tok, CAST(ROUND(-ln((c + 1.0) /
         |    CAST(s.t_all + s.v + 1 AS DOUBLE)), 9) AS DECIMAL(18,9)) AS nll
         |  FROM vocab, stats s),
         |oov AS (
         |  SELECT CAST(ROUND(-ln(1.0 /
         |    CAST(t_all + v + 1 AS DOUBLE)), 9) AS DECIMAL(18,9)) AS nll
         |  FROM stats),
         |scored AS (
         |  SELECT doc_id, lang, COUNT(*) AS n_tokens,
         |    SUM(COALESCE(vn.nll, (SELECT nll FROM oov))) AS sum_nll
         |  FROM toks LEFT JOIN vnll vn USING (tok)
         |  GROUP BY doc_id, lang)
         |SELECT doc_id, lang, n_tokens,
         |  ROUND(CAST(sum_nll AS DOUBLE) / n_tokens, 4) AS nll,
         |  (ROUND(CAST(sum_nll AS DOUBLE) / n_tokens, 4) <= 4.8) AS keep
         |FROM scored ORDER BY doc_id""".stripMargin,
    "text_stats" ->
      s"""SELECT doc_id, lang, n_chars, length(text) AS n_chars_measured,
         |  len($TOKS) AS n_tokens,
         |  CAST(list_sum(list_transform($TOKS, t -> length(t))) AS DOUBLE)
         |    / len($TOKS) AS mean_token_len
         |FROM documents WHERE lang = 'en' ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      s"""SELECT doc_id, lang,
         |  len(list_filter($TOKS, t -> t = 'the' OR t = 'a'))
         |    AS n_en_markers,
         |  len(list_filter($TOKS, t -> t = 'data' OR t = 'table'))
         |    AS n_domain_markers,
         |  CASE WHEN len(list_filter($TOKS, t -> t = 'the' OR t = 'a')) > 0
         |    THEN 'en' ELSE 'unk' END AS lang_guess
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id, lang, length(text) AS n_chars_m,
         |  length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_punct,
         |  CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / NULLIF(length(text), 0) AS punct_ratio,
         |  len($TOKS) AS n_tokens,
         |  CAST(len(list_filter($TOKS, t -> t IN ('the','a','and','of'))) AS DOUBLE) / len($TOKS) AS stopword_ratio,
         |  len($TOKS) BETWEEN 5 AND 1000 AND
         |    CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / NULLIF(length(text), 0) < 0.2 AS quality_ok
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_token_count" ->
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text,
         |    '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\x0B\\f]'))
         |    AS n_bpe_tokens,
         |  len($TOKS) AS n_ws_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text,
        |    '[ \t\n\r\x0B\f]+', ' ', 'g'))))
        |    AS content_md5,
        |  substr(md5(lower(trim(regexp_replace(text,
        |    '[ \t\n\r\x0B\f]+', ' ', 'g')))), 1, 16)
        |    AS fp16,
        |  list_reduce(
        |    list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_hash
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_pii_redact" ->
      """WITH lines AS (
        |  SELECT event_id,
        |    printf('user %d wrote to u%d@example.com or 555-%04d about order %d',
        |      user_id, user_id, event_id % 10000, event_id) AS line
        |  FROM events WHERE event_id < 500)
        |SELECT event_id,
        |  len(regexp_extract_all(line, '[a-z0-9]+@[a-z0-9.]+')) AS n_emails,
        |  len(regexp_extract_all(line, '555-[0-9]{4}')) AS n_phones,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(line, '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |      '555-[0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{3,}', '<NUM>', 'g') AS redacted
        |FROM lines ORDER BY event_id""".stripMargin,
    "text_repetition" ->
      s"""WITH g AS (
         |  SELECT doc_id,
         |    CASE WHEN len($TOKS) >= 3 THEN
         |      list_transform(range(1, len($TOKS) - 1),
         |        i -> $TOKS[i] || ' ' || $TOKS[i+1] || ' ' || $TOKS[i+2])
         |    ELSE [] END AS grams
         |  FROM documents)
         |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
         |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
         |  CASE WHEN len(grams) > 0 THEN
         |    CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
         |      / len(grams) ELSE 0.0 END AS dup_ratio,
         |  len(grams) > 0 AND
         |    CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
         |      / len(grams) > 0.2 AS is_repetitive
         |FROM g ORDER BY doc_id""".stripMargin,
    "tf_top_terms" ->
      s"""SELECT term, COUNT(*) AS n FROM (
         |  SELECT unnest($TOKS) AS term FROM documents
         |) GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin)
}
