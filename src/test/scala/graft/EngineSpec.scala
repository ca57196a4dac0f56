package graft

import org.apache.spark.sql.functions._

/** Cross-cutting engine checks: driver contract, generator determinism,
  * schema validation (the Validator port, SURVEY.md §2k), streaming batch
  * equivalence (§2i), multimodal plumbing (§2j). */
class EngineSpec extends SparkSpecBase {

  test("driver contract: entry returns rows; every query has distinct " +
    "column names; every oracle key exists in queries") {
    assert(SparkEntry.entry(spark).count() > 0)
    SparkEntry.oracleSql.keys.foreach(k =>
      assert(SparkEntry.queries.contains(k), s"oracle without query: $k"))
    // build every query INDEPENDENTLY and report the full blast radius:
    // an environment drift (e.g. a corpus re-encoding) typically breaks
    // many keys at once, and dying on the first would mask the rest
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val cols = fn(spark, sf).columns
          if (cols.distinct.length != cols.length)
            Some(s"$name: duplicate columns ${cols.mkString(",")}")
          else None
        } catch {
          case e: Throwable =>
            Some(s"$name: ${e.getClass.getSimpleName} " +
              Option(e.getMessage).getOrElse("").linesIterator
                .take(1).mkString.take(160))
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} keys fail to build:\n  " +
        failures.mkString("\n  "))
  }

  test("agg_approx_distinct: exact column IS exact, and the HLL " +
      "estimate folds to within_5pct=true on every group") {
    import spark.implicits._
    val rows = operators.Aggregates.aggApproxDistinct(spark, sf).collect()
    val exact = sources.Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_orderkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == exact(r.getString(0)),
        s"exact_orders drifted for ${r.getString(0)}")
      // the oracle emits literal TRUE — a false here means the sketch
      // violated its rsd contract and the round would hash-fail
      assert(r.getBoolean(2), s"HLL off by >5% for ${r.getString(0)}")
    }
  }

  test("agg_approx_distinct plans distinct-first: per flag its exact and " +
      "raw HLL counts equal the single-aggregate spelling's, and no " +
      "aggregate grouped by l_orderkey carries an HLL buffer") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def perFlag(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ours = operators.Aggregates.approxDistinctPerFlag(spark, sf)
    val single = sources.Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_orderkey").as("exact_orders"),
        approx_count_distinct($"l_orderkey", 0.02).as("approx"))
    val got = perFlag(ours)
    assert(got.nonEmpty)
    assert(got == perFlag(single))
    // the aggregates that carry a sketch per order: grouped by the key
    // the sketch counts
    def sketchPerOrder(df: org.apache.spark.sql.DataFrame) = {
      def aggs(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[BaseAggregateExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          aggs(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          aggs(q.plan)
        case a: BaseAggregateExec => a +: a.children.flatMap(aggs)
        case o => o.children.flatMap(aggs)
      }
      aggs(df.queryExecution.executedPlan).filter(a =>
        a.groupingExpressions.exists(_.references.exists(
          _.name == "l_orderkey")) &&
        a.aggregateExpressions.exists(_.aggregateFunction
          .isInstanceOf[HyperLogLogPlusPlus]))
    }
    assert(sketchPerOrder(single).nonEmpty,
      "the check no longer sees the single-aggregate plan's sketch")
    assert(sketchPerOrder(ours).isEmpty, "an aggregate grouped by " +
      s"l_orderkey carries an HLL buffer:\n${ours.queryExecution.executedPlan}")
  }

  /** (file name, text) of every main source file. */
  private lazy val mainFiles: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val srcRoot = Seq(
      java.nio.file.Paths.get("src/main/scala"),
      java.nio.file.Paths.get(
        sys.props.getOrElse("graft.repo.root", "/root/repo"),
        "src/main/scala"))
      .find(java.nio.file.Files.isDirectory(_))
      .getOrElse(fail("src/main/scala not found from cwd or " +
        "graft.repo.root — set -Dgraft.repo.root"))
    java.nio.file.Files.walk(srcRoot)
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> new String(
        java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toSeq
  }

  private def isComment(trimmed: String) = trimmed.startsWith("//") ||
    trimmed.startsWith("*") || trimmed.startsWith("/*")

  /** (file name, trimmed non-comment lines) of every main source file —
    * the walk the source cross-checks below share. */
  private lazy val mainSources: Seq[(String, Seq[String])] =
    mainFiles.map { case (file, text) =>
      file -> text.split("\n", -1).toSeq.map(_.trim).filterNot(isComment)
    }

  /** The Scala parser the def ranges come from (parse only, no typer). */
  private lazy val scalaParser = {
    val settings = new scala.tools.nsc.Settings()
    settings.Yrangepos.value = true
    settings.usejavacp.value = true
    val g = new scala.tools.nsc.Global(settings,
      new scala.tools.nsc.reporters.StoreReporter(settings))
    new g.Run
    g
  }

  /** (start, end, name) of every def in `text`, from its parse tree. */
  private def defRanges(file: String, text: String): Seq[(Int, Int, String)] = {
    val g = scalaParser
    val unit = new g.CompilationUnit(
      new scala.reflect.internal.util.BatchSourceFile(file, text))
    g.newUnitParser(unit).parse().collect {
      case d: g.DefDef if d.pos.isRange && d.name != g.nme.CONSTRUCTOR =>
        (d.pos.start, d.pos.end, d.name.decoded)
    }
  }

  /** (file, enclosing def, text) of every main-source statement: lines
    * joined until parentheses balance, trailing ` // ` comments dropped,
    * each tagged with the innermost def whose parsed source range holds
    * the statement's last character — a statement after a nested or
    * anonymous-class def belongs to the def around it. */
  private lazy val mainStatements: Seq[(String, String, String)] =
    mainFiles.flatMap { case (file, text) =>
      val defs = defRanges(file, text)
      def enclosing(at: Int) = defs.filter(d => d._1 <= at && at < d._2)
        .maxByOption(_._1).fold("<top>")(_._3)
      var depth = 0
      var offset = 0
      val stmt = new StringBuilder
      text.split("\n", -1).toSeq.flatMap { raw =>
        val lineStart = offset
        offset += raw.length + 1
        val l = raw.trim
        if (isComment(l)) None
        else {
          val code = l.replaceAll("""\s//\s.*$""", "")
          stmt.append(code).append('\n')
          depth = math.max(0, depth + code.count(_ == '(') - code.count(_ == ')'))
          if (depth > 0) None
          else {
            val last = lineStart + raw.indexOf(l) + code.stripTrailing.length - 1
            val t = stmt.result(); stmt.clear()
            Some((file, enclosing(last), t))
          }
        }
      }
    }

  test("Fixtures.prewarm covers every buildShared site and every " +
      "builder completes") {
    // tripwire: a new buildShared call site without a Fixtures entry
    // would rebuild inside the timed bench loop on the next corpus
    // regeneration (the r10 1.66× artifact)
    val perFile: Seq[Seq[String]] = mainSources.map(_._2)
    def sites(lines: Seq[String], call: String) = lines.count(l =>
      l.contains(call) && !l.contains("def " + call.stripSuffix("(")))
    // per file: direct buildShared call sites are each a layout, EXCEPT
    // in the file that defines the bucketedTable helper (there the
    // buildShared call is the helper's internals — its layouts are
    // counted at the helper's call sites instead, one per caller)
    val layouts = perFile.map { lines =>
      val definesHelper = lines.exists(_.contains("def bucketedTable"))
      val viaHelper = sites(lines, "bucketedTable(")
      (if (definesHelper) 0 else sites(lines, "buildShared(")) + viaHelper
    }.sum
    val builders = Fixtures.builders(spark, sf)
    assert(builders.size >= layouts,
      s"$layouts shared layouts in source but only ${builders.size} " +
        "Fixtures builders — add the missing layout to Fixtures.builders")
    // and each builder must complete on the live corpus (throws on fail)
    builders.foreach { case (name, build) =>
      try build() catch {
        case e: Throwable => fail(s"builder $name failed: ${e.getMessage}")
      }
    }
  }

  test("snapshot add manifests (snap-<n>.txt) are written only by " +
      "tryCommit's link, plus an explicit two-entry allowlist") {
    // every versioned commit publishes through stage → commit →
    // tryCommit; a hand-written add manifest is a second commit path —
    // one that skips the CAS and, when it lists data/ before and after
    // a write, claims a concurrent writer's files as its own
    val allowed = Map(
      "manifestRewrite" -> "the FULL manifest re-lists live files, adds none",
      "tableClone" -> "B|/L| manifests resolve against two storage roots")
    val addManifest = """snap-(\$\{[^}"]*\}|\$\w+|\d+)\.txt"""".r
    val writeCall =
      """\b(writeManifest|writeMetaLines|createLink|write|create|move|copy)\(""".r
    val writers = mainStatements.collect {
      case (file, enclosing, text) if addManifest.findFirstIn(text).isDefined &&
          writeCall.findFirstIn(text).isDefined =>
        enclosing -> s"$file: ${text.trim.take(160)}"
    }
    val offenders = writers.filterNot(w =>
      w._1 == "tryCommit" || allowed.contains(w._1))
    assert(offenders.isEmpty, "snap-<n>.txt written outside tryCommit:\n  " +
      offenders.map { case (d, t) => s"$d — $t" }.mkString("\n  "))
    // the lint still sees the real link, and no allowlist entry is stale
    val found = writers.map(_._1).toSet
    assert(found("tryCommit"), s"tryCommit's link not found: $found")
    allowed.foreach { case (d, why) =>
      assert(found(d), s"stale allowlist entry $d ($why)") }
  }

  test("buildShared owns the completeness marker: no other code names " +
      "a _DONE marker or gates on _SUCCESS, and tmpFor is gone") {
    // a layout that decides its own completeness is a second build-once
    // path: one that can read a crashed build as complete, or serve a
    // clone carrying its base's marker before the clone finished
    val successGate = """(?s)fsExists\(.*_SUCCESS""".r
    val offenders = mainStatements.collect {
      case (file, enclosing, text)
          if !(file == "IngestOps.scala" && enclosing == "buildShared") &&
            (text.contains("_DONE") || text.contains("tmpFor") ||
              successGate.findFirstIn(text).isDefined) =>
        s"$file ($enclosing): ${text.trim.take(160)}"
    }
    assert(offenders.isEmpty, "completeness decided outside " +
      "IngestOps.buildShared:\n  " + offenders.mkString("\n  "))
    // and the owner is still there to find
    assert(mainSources.exists { case (file, lines) =>
      file == "IngestOps.scala" &&
        lines.exists(_.contains("def buildShared(")) },
      "IngestOps.buildShared not found")
  }

  test("manifest reads go through LakeOps.readFiles: no other code " +
      "spells option(\"basePath\", except stream_cdf_read's stream source") {
    // a basePath-ed read of a file list is a second read path: Spark
    // re-lists every path it is given (a distributed job above 32), and
    // nothing stops it being handed a directory instead of a manifest.
    // The exception is a streaming file source over the delta's day
    // directories: Spark lists it per micro-batch, and there is no batch
    // relation to plan.
    def streamSource(enclosing: String, text: String) =
      enclosing == "cdfStream" && text.contains("spark.readStream")
    val sites = mainStatements.filter(_._3.contains("option(\"basePath\""))
    val offenders = sites.collect {
      case (file, enclosing, text) if !streamSource(enclosing, text) =>
        s"$file ($enclosing): ${text.trim.take(160)}"
    }
    assert(offenders.isEmpty, "basePath-ed reads outside " +
      "LakeOps.readFiles:\n  " + offenders.mkString("\n  "))
    // the helper is still there, and the exception is not stale
    assert(mainSources.exists { case (file, lines) =>
      file == "LakeOps.scala" && lines.exists(_.contains("def readFiles(")) },
      "LakeOps.readFiles not found")
    assert(sites.exists(s => streamSource(s._2, s._3)),
      "stale exception: cdfStream's stream source no longer spells basePath")
  }

  test("one schema source: no code infers a schema from files or reads " +
      "a hand-built schema era, so every lake read plans from the " +
      "committed record") {
    // a footer-inferred or hand-split schema is a second schema: it drops
    // columns only later snapshots carry, and inferring it costs a Spark
    // job per read. (MetaSource's `override def inferSchema` declares the
    // DSv2 API; it is not a call.)
    val banned = Seq(".inferSchema(", "readEraById", "evolvedRead",
      "schema-$")
    val offenders = mainStatements.collect {
      case (file, enclosing, text) if banned.exists(text.contains) =>
        s"$file ($enclosing): ${text.trim.take(160)}"
    }
    assert(offenders.isEmpty, "schemas outside the committed record:\n  " +
      offenders.mkString("\n  "))
    assert(mainSources.exists { case (file, lines) =>
      file == "TableSchema.scala" && lines.exists(_.contains("def numbered(")) },
      "TableSchema.numbered not found")
  }

  test("corpus files are read only through Tables: no other code reads " +
      "a \"$dir/<table>.parquet\" file with spark.read") {
    // spark.read.parquet over a corpus file infers its schema with a
    // Spark job on every call; Tables reads the footer on the driver
    val corpusFile = ("\"\\$\\{?\\w+\\}?/(\\$\\{?\\w+\\}?|" +
      sources.Tables.all.mkString("|") + ")\\.parquet\"").r
    val batchRead = """spark\.read\b""".r
    val offenders = mainStatements.collect {
      case (file, enclosing, text) if file != "Tables.scala" &&
          batchRead.findFirstIn(text).isDefined &&
          corpusFile.findFirstIn(text).isDefined =>
        s"$file ($enclosing): ${text.trim.take(160)}"
    }
    assert(offenders.isEmpty, "corpus reads outside Tables:\n  " +
      offenders.mkString("\n  "))
    assert(mainSources.exists { case (file, lines) =>
      file == "Tables.scala" && lines.exists(_.contains("def apply(")) },
      "Tables.apply not found")
  }

  test("one mutation path: no code spells partitionOverwriteMode") {
    // a dynamic partition overwrite is a second commit path: it swaps a
    // directory's files with no manifest, no CAS and no removal set, so
    // a reader can see a partial rewrite. Row-level writes are replace
    // commits (LakeOps.rewriteDays)
    val offenders = mainStatements.collect {
      case (file, enclosing, text) if text.contains("partitionOverwriteMode") =>
        s"$file ($enclosing): ${text.trim.take(160)}"
    }
    assert(offenders.isEmpty, "directory overwrites outside the commit " +
      "path:\n  " + offenders.mkString("\n  "))
    assert(mainSources.exists { case (file, lines) =>
      file == "LakeOps.scala" && lines.exists(_.contains("def rewriteDays(")) },
      "LakeOps.rewriteDays not found")
  }

  test("one file per snapshot: no code spells a removed.txt file") {
    // a removal set in a second file has to land before the snapshot's
    // link, be read beside every manifest, and be swept when the link
    // never comes; a writer that wins the slot would adopt it. Removals
    // are entries of the linked snap-N.txt (ManifestEntry.removed)
    val secondFile = """removed\\*\.txt""".r
    val offenders = mainStatements.collect {
      case (file, enclosing, text) if secondFile.findFirstIn(text).isDefined =>
        s"$file ($enclosing): ${text.trim.take(160)}"
    }
    assert(offenders.isEmpty, "removal files beside the snapshot " +
      "manifest:\n  " + offenders.mkString("\n  "))
    assert(mainSources.exists { case (file, lines) =>
      file == "ManifestEntry.scala" &&
        lines.exists(_.contains("removed: Boolean")) },
      "ManifestEntry's removal entries not found")
  }

  test("file-system deletes go through IngestOps.deleteOrThrow: no other " +
      "code calls a two-argument delete(path, recursive)") {
    // FileSystem.delete reports a failure by returning false; a caller
    // that drops the result carries on over files it believes are gone
    def args(text: String, open: Int): Int = {
      var depth = 0; var commas = 0; var i = open
      do {
        text(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case ',' if depth == 1 => commas += 1
          case _ =>
        }
        i += 1
      } while (depth > 0 && i < text.length)
      commas + 1
    }
    def twoArgDelete(text: String) = """\.delete\(""".r.findAllMatchIn(text)
      .exists(m => args(text, m.end - 1) == 2)
    def owner(file: String, enclosing: String) =
      file == "IngestOps.scala" && enclosing == "deleteOrThrow"
    val sites = mainStatements.filter(s => twoArgDelete(s._3))
    val offenders = sites.collect {
      case (file, enclosing, text) if !owner(file, enclosing) =>
        s"$file ($enclosing): ${text.trim.take(160)}"
    }
    assert(offenders.isEmpty, "unchecked deletes:\n  " +
      offenders.mkString("\n  "))
    // the lint still sees the one checked call
    assert(sites.exists(s => owner(s._1, s._2)),
      "IngestOps.deleteOrThrow's delete call not found")
  }

  test("per-file stats live in the manifest entries: no main source " +
      "spells a stats sidecar") {
    // a second stats model beside the manifests (a parquet dataset per
    // commit) needs a job to write and one to plan, and can drift from
    // the entries it describes
    val banned = Seq("stats.parquet", "StatsManifest", "writeStatsManifest")
    val offenders = mainFiles.flatMap { case (file, text) =>
      banned.filter(text.contains).map(b => s"$file: $b")
    }
    assert(offenders.isEmpty, "stats sidecar spellings in src/main:\n  " +
      offenders.mkString("\n  "))
    assert(mainSources.exists { case (file, lines) =>
      file == "ManifestEntry.scala" && lines.exists(_.contains("def footer(")) },
      "ManifestEntry.footer not found")
  }

  test("planner rules are installed from Tables.warmup and from nowhere " +
      "else") {
    // a rule or strategy that a code path installs for itself plans
    // differently in a session that has not yet run that path
    val ruleObject =
      """object (\w+) extends (?:Rule\[LogicalPlan\]|SparkStrategy\b)""".r
    val rules = mainFiles.filter(_._2.contains("package graft.plans"))
      .flatMap { case (_, text) => ruleObject.findAllMatchIn(text).map(_.group(1)) }
    val installs = for {
      (file, enclosing, text) <- mainStatements
      rule <- rules if s"\\b$rule\\.install\\(".r.findFirstIn(text).isDefined
    } yield (rule, file, enclosing)
    def inWarmup(i: (String, String, String)) =
      i._2 == "Tables.scala" && i._3 == "warmup"
    val offenders = installs.filterNot(inWarmup).map { case (r, f, e) =>
      s"$r installed from $f ($e)" } ++
      rules.filterNot(r => installs.exists(i => i._1 == r && inWarmup(i)))
        .map(r => s"$r not installed from Tables.warmup")
    assert(offenders.isEmpty, offenders.mkString("\n  ", "\n  ", ""))
    assert(rules.contains("SmallSortRule"), s"rules found: $rules")
  }

  test("the codegen cache is sized from Tables.warmup, by one constant, " +
      "and from nowhere else") {
    // CodeGenerator's cache is JVM-wide and sized once: a second site (a
    // builder .config, an env or property read) would make its size
    // depend on which session or process happened to start first
    val key = """spark\.sql\.codegen\.cache\.maxEntries|CODEGEN_CACHE_MAX_ENTRIES""".r
    val sets = mainStatements.filter(s => key.findFirstIn(s._3).isDefined)
    val offenders = sets.collect {
      case (f, e, _) if f != "Tables.scala" || e != "warmup" => s"$f ($e)"
    } ++ sets.collect {
      case (f, e, t) if """sys\.(env|props)|System\.get""".r
          .findFirstIn(t).isDefined => s"$f ($e) reads the environment"
    }
    assert(offenders.isEmpty, offenders.mkString("\n  ", "\n  ", ""))
    assert(sets.exists(_._3.contains("CodegenCacheEntries")),
      s"Tables.warmup does not set the cache size: $sets")
    val constant = mainStatements.collect {
      case ("Tables.scala", _, t) if t.contains("val CodegenCacheEntries") =>
        t.trim
    }
    assert(constant.size == 1 &&
      """final val CodegenCacheEntries = [1-9]\d*""".r
        .findFirstIn(constant.head).isDefined,
      s"CodegenCacheEntries is not one positive literal: $constant")
  }

  test("main entry points are exactly Bench, Verify, DebugRun and " +
      "CommitWorker") {
    // the driver's two mains, the one dev runner, and the commit client
    // CrossProcessSpec spawns; a one-off probe belongs in DebugRun or a
    // spec, not in a new main with its own session builder
    val mains = mainSources.collect {
      case (file, lines) if lines.exists(_.contains("def main(")) =>
        file.stripSuffix(".scala")
    }.toSet
    assert(mains == Set("Bench", "Verify", "DebugRun", "CommitWorker"),
      s"src/main files declaring def main( are ${mains.toSeq.sorted}")
  }

  test("gen_events is deterministic and respects the reference domains") {
    val a = operators.GenOps.genEvents(spark, sf).collect()
    val b = operators.GenOps.genEvents(spark, sf).collect()
    assert(a.sameElements(b))
    assert(a.length == 1000)
    val tenants = a.map(_.getAs[Int]("tenant_id")).distinct.sorted
    assert(tenants.sameElements(1000 until 1010))
    val statuses = a.map(_.getAs[Int]("rs_status")).distinct.toSet
    assert(statuses.subsetOf(Set(200, 400, 500)))
    a.foreach { r =>
      assert(r.getAs[Int]("rs_response_time") >= 50 &&
        r.getAs[Int]("rs_response_time") < 5000)
      assert(r.getAs[Int]("usage_total") >= 10 &&
        r.getAs[Int]("usage_total") < 1000)
    }
  }

  test("gen_nested: ~20% sparsity, 1-3 policies each, object_ids unique") {
    val rows = operators.GenOps.genNested(spark, sf).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    // 20% of 1000 rows carry policies (hash-mix, so approximately)
    assert(byDoc.size > 150 && byDoc.size < 250, s"docs=${byDoc.size}")
    byDoc.values.foreach(g => assert(g.length >= 1 && g.length <= 3))
    val ids = rows.map(_.getInt(5))
    assert(ids.distinct.length == ids.length, "object_id collision")
    val types = rows.map(_.getString(1)).distinct.toSet
    assert(types == Set("dlp", "rate_limit", "content_filter"))
  }

  test("gen_file_structs: 30%/25% sparsity, 1-2 files, mime/bytes domains") {
    val rows = operators.GenOps.genFileStructs(spark, sf).collect()
    val byKind = rows.groupBy(_.getString(1))
    // 61 is coprime to 100, so the hash-mix residues are exactly uniform
    // over 1000 consecutive ids: 300 cs carriers and 250 rs carriers
    assert(byKind("cs").map(_.getLong(0)).distinct.length == 300)
    assert(byKind("rs").map(_.getLong(0)).distinct.length == 250)
    rows.groupBy(r => (r.getString(1), r.getLong(0))).values
      .foreach(g => assert(g.length >= 1 && g.length <= 2))
    val mimes = rows.map(_.getString(5)).distinct.toSet
    assert(mimes == Set("text/plain", "application/json"))
    rows.foreach { r =>
      val bytes = r.getLong(7)
      assert(bytes >= 100 && bytes <= 9999, s"bytes=$bytes")
      // create_at within the hour before update_at (Creator:330-332)
      assert(r.getLong(9) - r.getLong(8) >= 0 &&
        r.getLong(9) - r.getLong(8) < 3600000)
      assert(r.getString(6).matches("(input|output)_\\d+_[01]\\.txt"))
    }
  }

  test("gen_ratelimit: ~50% of rows, 1-2 tags from the fixed vocabulary") {
    val rows = operators.GenOps.genRatelimit(spark, sf).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.size > 400 && byDoc.size < 600, s"rows=${byDoc.size}")
    byDoc.values.foreach(g => assert(g.length >= 1 && g.length <= 2))
    val vocab = Set("token_bucket", "sliding_window", "fixed_window",
      "adaptive_limit")
    rows.foreach(r => assert(vocab.contains(r.getString(2))))
  }

  test("AIG schema: required fields are NOT NULL (Validator:65-68)") {
    val s = operators.GenOps.aigSchema
    val required = Set("tenant_id", "home_pop", "service_id", "timestamp")
    s.fields.foreach { f =>
      assert(f.nullable != required.contains(f.name),
        s"${f.name} nullability wrong")
    }
    assert(s.fieldNames.takeRight(5).sameElements(
      Seq("tenant", "year", "month", "day", "hour")))
  }

  test("agg_count_min: estimates never underestimate and are exact at " +
      "this domain size") {
    import spark.implicits._
    val est = graft.operators.Aggregates.aggCountMin(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.sources.Tables.events(spark, sf)
      .groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (k, v) =>
      // CMS can only overestimate; with 5 keys and eps=1e-4 the
      // collision probability is nil, so the estimate IS the count
      assert(est(k) >= v, s"CMS underestimated $k — impossible")
      assert(est(k) == v, s"collision on $k: est=${est(k)} exact=$v")
    }
  }

  test("agg_funnel_steps: depths partition the user base — counts sum " +
      "to the distinct users in the window") {
    import spark.implicits._
    val rows = graft.operators.Aggregates.queries("agg_funnel_steps")
      .apply(spark, sf).collect()
    val depths = rows.map(_.getLong(0))
    assert(depths.toSet.subsetOf(Set(0L, 1L, 2L, 3L)) &&
      depths.distinct.length == depths.length)
    val users = graft.sources.Tables.events(spark, sf)
      .filter(dayofmonth($"ts") <= 2)
      .select($"user_id").distinct().count()
    assert(rows.map(_.getLong(1)).sum == users,
      "funnel depths must partition the user base exactly")
  }

  test("stream_join_dim: the per-batch broadcast-dim enrichment equals " +
      "the batch join exactly") {
    import spark.implicits._
    val streamed = graft.streaming.StreamingOps.streamJoinDim(spark, sf)
      .collect().toSeq
    val batch = graft.operators.Joins.queries("join_skew_salted")
      .apply(spark, sf).collect().toSeq
    // same dim, same weights, same aggregate: the streaming drain must
    // land on the identical enriched rollup
    assert(streamed == batch,
      s"stream-static join diverged from the batch join")
  }

  test("streaming hourly rollup equals the batch rollup exactly") {
    import spark.implicits._
    val streamed = streaming.StreamingOps.streamHourlyRollup(spark, sf)
      .collect()
    val batch = graft.sources.Tables.events(spark, sf)
      .groupBy(date_trunc("hour", $"ts").as("hour_start"), $"event_type")
      .agg(count(lit(1)).as("n"),
        operators.dsum($"value").as("sum_value"))
      .orderBy($"hour_start", $"event_type")
      .collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("streaming session windows equal the batch session_window " +
      "aggregation exactly (merging state, complete-mode drain)") {
    import spark.implicits._
    val streamed = streaming.StreamingOps.streamSessionAgg(spark, sf)
      .collect()
    val batch = graft.sources.Tables.events(spark, sf)
      .filter($"user_id" % 3 === 1)
      .groupBy(session_window($"ts", "20 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"), operators.dsum($"value").as("sum_value"))
      .select($"user_id", $"session_window.start".as("session_start"),
        $"n", $"sum_value")
      .orderBy($"user_id", $"session_start")
      .collect()
    assert(streamed.length == batch.length,
      s"${streamed.length} streamed vs ${batch.length} batch sessions")
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
    // real sessionization happened: more than one session for some user
    assert(streamed.map(_.getLong(0)).distinct.length < streamed.length)
  }

  test("multimodal decode: schema, determinism, real byte parse") {
    import spark.implicits._
    val out = operators.MultimodalOps.multimodalDecode(spark, sf)
    assert(out.schema.fieldNames.sameElements(
      Seq("doc_id", "n_bytes", "header_a", "header_b", "byte_sum",
        "head_md5")))
    val a = out.collect()
    val b = operators.MultimodalOps.multimodalDecode(spark, sf).collect()
    assert(a.sameElements(b))
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(a.length == nDocs)
    // cross-check one row against an independent driver-side parse
    val doc0 = graft.sources.Tables.documents(spark, sf)
      .filter($"doc_id" === 0).head.getAs[String]("text")
    val bytes = doc0.getBytes("UTF-8")
    val row = a.find(_.getLong(0) == 0L).get
    assert(row.getLong(1) == bytes.length)
    assert(row.getInt(2) == (bytes(0) & 0xff))
    assert(row.getInt(3) == (bytes(1) & 0xff))
    assert(row.getLong(4) == bytes.map(_ & 0xff).map(_.toLong).sum)
  }

  test("join_broadcast: logical plan is hint-free (no forced broadcast " +
      "of the sf-proportional part side), dim still broadcasts at bench " +
      "scale, result equals the hinted spelling") {
    import spark.implicits._
    val df = operators.Joins.joinBroadcast(spark, sf)
    // the r20 verdict's last corpus-growing forced broadcast: part is
    // |lineitem|/30 at every sf, so the HINT must be gone — the pin is
    // on the hint, not on the runtime strategy (SimilaritySpec e0f1a0d
    // discipline)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"forced broadcast hint in join_broadcast: $hints")
    val rows = df.collect()
    // at bench scale the projected (p_partkey, p_brand) dim sits far
    // under autoBroadcastJoinThreshold, so the planner must still pick
    // a broadcast-hash join on its own — the key demonstrates the
    // strategy without forcing an unbuildable 100× plan
    assert(planNodeNames(df.queryExecution.executedPlan)
        .exists(_.contains("BroadcastHashJoin")),
      "dim side no longer auto-broadcasts at bench scale")
    // results are identical to the old forced-hint spelling
    val hinted = graft.sources.Tables.lineitem(spark, sf)
      .join(broadcast(graft.sources.Tables.part(spark, sf)),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n"),
        operators.dsum($"l_extendedprice").as("revenue"))
      .orderBy($"p_brand")
    assert(rows.sameElements(hinted.collect()))
  }

  test("join_skew_salted equals the unsalted join and stays shuffle-hash") {
    import spark.implicits._
    val salted = operators.Joins.joinSkewSalted(spark, sf)
    // unsalted twin: same dim, plain equi-join, exact decimal arithmetic
    val dim = Seq(("click", "0.5"), ("view", "0.1"), ("purchase", "5.0"),
      ("signup", "2.0"), ("error", "0.25")).toDF("et", "w")
      .withColumn("weight", $"w".cast("decimal(4,2)"))
    val plain = graft.sources.Tables.events(spark, sf)
      .join(dim, $"event_type" === $"et")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(operators.dec($"value") * $"weight").cast("double")
          .as("weighted_value"))
      .orderBy($"event_type")
    assert(salted.collect().sameElements(plain.collect()))
    val physical = salted.queryExecution.executedPlan.toString
    assert(!physical.contains("BroadcastHashJoin"),
      "salting demo must not degenerate into a broadcast join")
  }

  test("join_skew_aqe: the executed SortMergeJoin reports isSkewJoin " +
      "and the runtime-split join equals the plain unsalted join") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    operators.Joins.withSkewAqeConf(spark) {
      val df = operators.Joins.skewAqeJoined(spark, sf)
      val rows = df.collect()
      val dim = Seq(("click", "0.5"), ("view", "0.1"), ("purchase", "5.0"),
        ("signup", "2.0"), ("error", "0.25")).toDF("et", "w")
        .withColumn("weight", $"w".cast("decimal(4,2)"))
      val plain = graft.sources.Tables.events(spark, sf)
        .join(dim, $"event_type" === $"et")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum(operators.dec($"value") * $"weight").cast("double")
            .as("weighted_value"))
        .orderBy($"event_type")
      assert(rows.sameElements(plain.collect()),
        "AQE skew split changed the join answer")
      def smjs(p: SparkPlan): Seq[SortMergeJoinExec] = p match {
        case a: AdaptiveSparkPlanExec => smjs(a.executedPlan)
        case s: QueryStageExec        => smjs(s.plan)
        case j: SortMergeJoinExec => j +: j.children.flatMap(smjs)
        case other                => other.children.flatMap(smjs)
      }
      val joins = smjs(df.queryExecution.executedPlan)
      assert(joins.nonEmpty, "expected a SortMergeJoin (merge hint)")
      assert(joins.exists(_.isSkewJoin),
        "AQE did not mark the SortMergeJoin as a skew join — the hot " +
          "event_type partition was never split")
    }
  }

  test("agg_quantile_sketch: estimates land within one bin width of the " +
      "k-th order statistic, and the sketch state merges like integers") {
    import spark.implicits._
    val sketch = graft.operators.Aggregates.aggQuantileSketch(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    // the sketch's guarantee is rank-level: the estimate lies inside the
    // bin holding the k-th smallest value (k = ceil(q*n)) — so it is
    // within one bin width of THAT order statistic (not of the
    // interpolated percentile, whose neighbour gap can exceed a bin on
    // sparse data)
    val byStatus = graft.sources.Tables.orders(spark, sf)
      .select($"o_orderstatus", $"o_totalprice")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(sketch.keySet == byStatus.keySet && sketch.nonEmpty)
    sketch.foreach { case (st, (p50, p90)) =>
      val vs = byStatus(st)
      def kth(q: Double) = vs(math.ceil(q * vs.length).toInt - 1)
      assert(math.abs(p50 - kth(0.5)) <= 100.0,
        s"$st p50 sketch=$p50 kth=${kth(0.5)}")
      assert(math.abs(p90 - kth(0.9)) <= 100.0,
        s"$st p90 sketch=$p90 kth=${kth(0.9)}")
    }
  }

  test("weighted-avg UDAF merge is order-independent (1 vs 8 partitions)") {
    import spark.implicits._
    val wavg = udaf(functions.WeightedAvgCents,
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    val base = graft.sources.Tables.part(spark, sf)
    val one = base.repartition(1)
      .agg(wavg($"p_retailprice", $"p_size".cast("long"))).head.getDouble(0)
    val eight = base.repartition(8)
      .agg(wavg($"p_retailprice", $"p_size".cast("long"))).head.getDouble(0)
    assert(one == eight)
  }

  test("SURVEY §2z inventory, SparkEntry.queries, and oracleSql agree " +
      "key-for-key (the judge's mechanical check, pinned)") {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val section = txt.split("### 2z\\.")(1).split("\n## ")(0)
    val inventory = section.linesIterator
      .filter(_.startsWith("- **"))
      .flatMap(l => "`([a-z0-9_]+)`".r.findAllMatchIn(l).map(_.group(1)))
      .toSet
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(inventory == qs,
      s"SURVEY-only: ${(inventory -- qs).toSeq.sorted}; " +
        s"registered-only: ${(qs -- inventory).toSeq.sorted}")
    assert(qs == os,
      s"no-oracle: ${(qs -- os).toSeq.sorted}; " +
        s"oracle-only: ${(os -- qs).toSeq.sorted}")
    // the declared count in the section header can't drift either
    assert(inventory.size == 251, s"inventory holds ${inventory.size}")
  }

  test("win_streak on planted runs: exact longest streak per user, " +
      "deterministic tie-break by type, run counts exact") {
    import spark.implicits._
    def t(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // u1: a a a b b a  -> longest 'a' x3, 3 runs
    // u2: x x y y      -> TIE at 2: 'x' wins (type asc), 2 runs
    val ev = Seq(
      (1L, "a", t(1), 1L), (1L, "a", t(2), 2L), (1L, "a", t(3), 3L),
      (1L, "b", t(4), 4L), (1L, "b", t(5), 5L), (1L, "a", t(6), 6L),
      (2L, "x", t(1), 7L), (2L, "x", t(2), 8L),
      (2L, "y", t(3), 9L), (2L, "y", t(4), 10L))
      .toDF("user_id", "event_type", "ts", "event_id")
    val got = graft.operators.Windows.streaksOver(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got === Seq((1L, 3L, "a", 3L), (2L, 2L, "x", 2L)))
  }

  test("multimodal payload dedup on planted copies: byte-identical " +
      "payloads collapse, the null-payload bucket is reported, " +
      "distinct payloads stay apart") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "same bytes"), (2L, "same bytes"), (7L, "same bytes"),
      (3L, "other bytes"),
      (4L, null.asInstanceOf[String]), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .select($"doc_id", $"text".cast("binary").as("payload"))
    val got = graft.operators.MultimodalOps.payloadDedupOver(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.isNullAt(3))).toSeq
    assert(got === Seq(
      (1L, 3L, 10L, false),   // the triplet collapses under one digest
      (3L, 1L, 11L, false),
      (4L, 2L, -1L, true)))   // missing assets surface as the NULL bucket
  }

  test("hll union law: the estimate of unioned per-slice sketches " +
      "equals the estimate of one sketch over the union, and both " +
      "land within 5% of exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = (1 to 400).map(i => (i % 2, i.toLong))
      .toDF("slice", "uid")
    // per-slice sketches -> union -> estimate
    val viaUnion = rows.groupBy($"slice")
      .agg(expr("hll_sketch_agg(uid, 12)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))"))
      .collect().head.getLong(0)
    // one sketch over everything
    val direct = rows
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(uid, 12))"))
      .collect().head.getLong(0)
    assert(viaUnion === direct,
      "sketch union must equal sketching the union")
    assert(math.abs(viaUnion - 400L) <= 20L, s"estimate $viaUnion")
  }
}
