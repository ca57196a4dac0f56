package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan,
  GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector exposing the snapshot table's metadata as
  * first-class Spark sources — the Iceberg metadata-table surface
  * (`table.files()` / the per-file walk in
  * `aig/PartitionValueDebugger.java:164-196`, the snapshot list of
  * `aig/TimeBasedPartitioningExamples.java:198-230`):
  *
  * {{{
  *   spark.read.format("graft.sources.GraftMetaSource")
  *     .option("root", tableRoot)
  *     .option("table",
  *       "files" | "snapshots" | "partitions" | "refs" |
  *       "history" | "manifests")
  *     .load()
  * }}}
  *
  *  - `files` (default): one row per data file per committing snapshot —
  *    (snapshot_id, day, rel_path, size_bytes, n_rows, min/max_value).
  *  - `snapshots`: one row per commit — file/byte/row deltas plus the
  *    commit-log timestamp (Iceberg's `snapshots` table).
  *  - `partitions`: one row per live partition — file/byte/row totals of
  *    the CURRENT view, adds minus removes (Iceberg's `partitions`
  *    table); a logically-replaced file is excluded even though its
  *    bytes still exist for time travel.
  *  - `refs`: one row per named branch/tag (`metadata/refs.txt`) — the
  *    map readers resolve against and ref-aware expiry walks.
  *  - `history`: one row per made-current event (`metadata/ref-log.txt`,
  *    rollbacks included) with parentage and the is-current-ancestor
  *    flag (Iceberg's `history` table).
  *  - `manifests`: one row per manifest kind of each snapshot — adds /
  *    removes / full-rewrite, entry counts, bytes (Iceberg's `manifests`
  *    table).
  *
  * The rows come from the manifests + a driver-side listing — metadata
  * scale, like the system it mirrors — but the CONNECTOR mechanics are
  * the real thing:
  *
  *  - `SupportsPushDownFilters`: comparisons on each table's prune
  *    column (`snapshot_id` / `day`) are consumed at PLANNING time — a
  *    pruned manifest never becomes an InputPartition (time travel and
  *    partition pruning priced as metadata; MetaSourceSpec asserts via
  *    the partition count).
  *  - `SupportsPushDownRequiredColumns`: the reader materializes only
  *    the projected fields.
  *
  * At 100 TB the FILES table of a real lake is itself big data (millions
  * of files); this same connector shape then plans one InputPartition
  * per manifest and the executors parse manifests in parallel — the
  * driver never holds the file list. The `snapshots`/`partitions` rows
  * stay metadata-small at any scale (one per commit / per partition).
  */
class GraftMetaSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftMetaSource.schemaFor(options.getOrDefault("table", "files"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftMetaTable(properties.get("root"),
      Option(properties.get("table")).getOrElse("files"))
  override def supportsExternalMetadata(): Boolean = false
}

object GraftMetaSource {
  /** The manifest naming contract, defined ONCE for every consumer in
    * this file — the writers in LakeOps/IngestOps spell the same name. */
  private[sources] val AddsManifest = "snap-(\\d+)\\.txt".r

  /** One row per data file per committing snapshot — the Iceberg
    * `files` metadata-table shape: identity, size, and the per-file
    * stats the writer recorded (record count + `value` bounds,
    * `Local:126-132`), served from the file's manifest entry. */
  val FILES_SCHEMA: StructType = StructType(Seq(
    StructField("snapshot_id", IntegerType, nullable = false),
    StructField("day", IntegerType, nullable = false),
    StructField("rel_path", StringType, nullable = false),
    // stats are NULLABLE: an entry that records none has UNKNOWN stats,
    // which must stay distinguishable from real data (a 0 row count
    // would silently read as an empty file)
    StructField("size_bytes", LongType, nullable = true),
    StructField("n_rows", LongType, nullable = true),
    StructField("min_value", DoubleType, nullable = true),
    StructField("max_value", DoubleType, nullable = true)))

  /** One row per commit — Iceberg's `snapshots` metadata table. The
    * commit timestamp is NULLABLE: a table without a commit log (one
    * built before `commits.txt` existed) must stay readable. */
  val SNAPSHOTS_SCHEMA: StructType = StructType(Seq(
    StructField("snapshot_id", IntegerType, nullable = false),
    StructField("committed_ms", LongType, nullable = true),
    StructField("n_files_added", LongType, nullable = false),
    StructField("n_files_removed", LongType, nullable = false),
    StructField("bytes_added", LongType, nullable = true),
    StructField("n_rows_added", LongType, nullable = true)))

  /** One row per LIVE partition — Iceberg's `partitions` metadata
    * table: totals of the current view (adds minus removes). */
  val PARTITIONS_SCHEMA: StructType = StructType(Seq(
    StructField("day", IntegerType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("total_bytes", LongType, nullable = true),
    StructField("n_rows", LongType, nullable = true)))

  /** One row per named ref — Iceberg's `refs` metadata table: the
    * branch/tag map readers resolve against and ref-aware expiry walks. */
  val REFS_SCHEMA: StructType = StructType(Seq(
    StructField("ref_name", StringType, nullable = false),
    StructField("snapshot_id", IntegerType, nullable = false)))

  /** One row per time a snapshot BECAME CURRENT — Iceberg's `history`
    * metadata table: the made-current log (`metadata/ref-log.txt`, one
    * snapshot id per move, rollbacks included), each row carrying the
    * snapshot's parent (`metadata/parents.txt`; absent file = linear
    * ancestry) and whether it is an ancestor of the CURRENT state —
    * the flag that tells audits which rows of history survived a
    * rollback. `seq` is the move's position in the log (the engine's
    * deterministic stand-in for Iceberg's `made_current_at` wall
    * clock). */
  val HISTORY_SCHEMA: StructType = StructType(Seq(
    StructField("seq", IntegerType, nullable = false),
    StructField("snapshot_id", IntegerType, nullable = false),
    StructField("parent_id", IntegerType, nullable = true),
    StructField("is_current_ancestor", BooleanType, nullable = false)))

  /** One row per physical MANIFEST file — Iceberg's `manifests` table:
    * which metadata files a planner must union per snapshot, their kind
    * (adds / removes / full rewrite), entry counts and bytes. */
  val MANIFESTS_SCHEMA: StructType = StructType(Seq(
    StructField("snapshot_id", IntegerType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("n_entries", LongType, nullable = false),
    StructField("size_bytes", LongType, nullable = false)))

  private[sources] def schemaFor(table: String): StructType = table match {
    case "files" => FILES_SCHEMA
    case "snapshots" => SNAPSHOTS_SCHEMA
    case "partitions" => PARTITIONS_SCHEMA
    case "refs" => REFS_SCHEMA
    case "history" => HISTORY_SCHEMA
    case "manifests" => MANIFESTS_SCHEMA
    case other => throw new IllegalArgumentException(
      s"graft.sources.GraftMetaSource: unknown table '$other' " +
        "(expected files | snapshots | partitions | refs | history | " +
        "manifests)")
  }

  // Each row case class below holds its table's columns in schema order:
  // the reader ([[GraftMetaReaderFactory]]) projects them by position.
  private[sources] case class MetaEntry(snap: Int, day: Int, rel: String,
      size: Option[Long], rows: Option[Long], minValue: Option[Double],
      maxValue: Option[Double])

  private[sources] case class SnapshotRow(snap: Int,
      committedMs: Option[Long], nAdded: Long, nRemoved: Long,
      bytesAdded: Option[Long], rowsAdded: Option[Long])

  private[sources] case class PartitionRow(day: Int, nFiles: Long,
      totalBytes: Option[Long], nRows: Option[Long])

  /** The sum of `vs`, None when any is unknown — a partial sum would read
    * as a real total. */
  private def total(vs: Seq[Option[Long]]): Option[Long] =
    if (vs.forall(_.isDefined)) Some(vs.flatten.sum) else None

  private[sources] case class RefRow(name: String, snap: Int)

  private[sources] case class HistoryRow(seq: Int, snap: Int,
      parent: Option[Int], isCurrentAncestor: Boolean)

  private[sources] case class ManifestRow(snap: Int, path: String,
      kind: String, nEntries: Long, sizeBytes: Long)

  /** One [[RefRow]] per `metadata/refs.txt` entry, name-sorted. */
  private[sources] def refRows(root: String): Seq[RefRow] =
    LakeOps.readRefs(SparkSession.active, root).toSeq.sortBy(_._1)
      .map { case (n, s) => RefRow(n, s) }

  /** One [[HistoryRow]] per made-current log entry. Ancestry of the
    * CURRENT state (the log's last entry) is walked through the parent
    * map — a snapshot orphaned by a rollback stays in history but
    * reads `is_current_ancestor = false`, exactly Iceberg's flag. A
    * missing parents file means the timeline never diverged: parent =
    * previous id. */
  private[sources] def historyRows(root: String): Seq[HistoryRow] = {
    val spark = SparkSession.active
    // `seq=snap` lines: the manifest writer normalizes line order, so
    // the move sequence is explicit in the data, not the file order
    def kv(rel: String): Seq[(Int, Int)] =
      IngestOps.readMetaLines(spark, root, s"metadata/$rel").map { l =>
        // loud, located parse failure — a truncated or hand-mangled
        // line must name its file, not throw a bare MatchError
        l.split("=", 2) match {
          case Array(a, b) =>
            try a.toInt -> b.toInt
            catch { case _: NumberFormatException =>
              throw new IllegalStateException(
                s"malformed $rel line at $root: '$l'") }
          case _ => throw new IllegalStateException(
            s"malformed $rel line at $root: '$l'")
        }
      }
    val log = kv("ref-log.txt").sortBy(_._1)
    if (log.isEmpty) return Seq.empty
    val snaps = log.map(_._2)
    val parents: Map[Int, Int] = kv("parents.txt") match {
      case Seq() => snaps.distinct.sorted.sliding(2)
        .collect { case Seq(p, c) => c -> p }.toMap
      case pairs => pairs.toMap
    }
    // the walk is BOUNDED by the parent-map size: corrupt metadata with
    // a cycle (or a self-parent) must fail loudly, not spin the driver
    // inside query planning forever
    val ancestors = scala.collection.mutable.Set.empty[Int]
    var cur = Option(snaps.last)
    while (cur.isDefined) {
      val c = cur.get
      if (!ancestors.add(c))
        throw new IllegalStateException(
          s"cycle in metadata/parents.txt at $root involving snapshot $c")
      cur = parents.get(c)
    }
    log.map { case (seq, s) =>
      HistoryRow(seq, s, parents.get(s), ancestors.contains(s))
    }
  }

  /** One [[ManifestRow]] per manifest kind under `metadata/`: adds
    * (`snap-N.txt`; `full` when the `snap-N.FULL` rewrite marker is
    * present) and, if it removed files, removes (its removal entries),
    * with entry counts and the file's byte size. */
  private[sources] def manifestRows(root: String): Seq[ManifestRow] = {
    val spark = SparkSession.active
    val metaDir = new org.apache.hadoop.fs.Path(root, "metadata")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing = fs.listStatus(metaDir).toSeq
    // the .FULL rewrite markers are already IN the listing — testing
    // membership there instead of one fs.exists per adds manifest
    // saves a HEAD request per manifest per plan on an object store
    val fullRe = "snap-(\\d+)\\.FULL".r
    val full = listing.map(_.getPath.getName)
      .collect { case fullRe(n) => n.toInt }.toSet
    listing.flatMap { st =>
      val name = st.getPath.getName
      name match {
        case AddsManifest(n) =>
          val (added, _, removed) =
            IngestOps.readMetaFile(spark, root, s"metadata/$name")
          (Seq((if (full(n.toInt)) "full" else "adds") -> added) ++
            Option.when(removed.nonEmpty)("removes" -> removed)).map {
            case (k, es) => ManifestRow(n.toInt, s"metadata/$name", k,
              es.size.toLong, st.getLen)
          }
        case _ => Nil
      }
    }.sortBy(r => (r.snap, r.kind))
  }

  /** Planning-time evaluation of a filter against one row's prune
    * columns, supplied by `v` (attr → value; None = not a prune column
    * of this table). None result = a shape this source cannot evaluate —
    * such filters are never pushed (they stay in the residual set Spark
    * re-applies). ONE function backs both the push decision and the
    * prune, so the two can never drift apart and silently drop a pushed
    * filter. */
  private[sources] def evalFilterOn(f: Filter,
      v: String => Option[Int]): Option[Boolean] = {
    f match {
      case EqualTo(a, lit: Integer) => v(a).map(_ == lit.intValue())
      case GreaterThan(a, lit: Integer) => v(a).map(_ > lit.intValue())
      case GreaterThanOrEqual(a, lit: Integer) => v(a).map(_ >= lit.intValue())
      case LessThan(a, lit: Integer) => v(a).map(_ < lit.intValue())
      case LessThanOrEqual(a, lit: Integer) => v(a).map(_ <= lit.intValue())
      case IsNotNull(a) => v(a).map(_ => true)
      case _ => None
    }
  }

  /** Prune-column lookup per metadata table: which attributes planning
    * can evaluate against a candidate row. */
  private[sources] def lookupFor(table: String, snap: Int,
      day: Int): String => Option[Int] = table match {
    case "files" => {
      case "snapshot_id" => Some(snap)
      case "day" => Some(day)
      case _ => None
    }
    case "snapshots" => {
      case "snapshot_id" => Some(snap)
      case _ => None
    }
    case "partitions" => {
      case "day" => Some(day)
      case _ => None
    }
    case "refs" | "history" | "manifests" => {
      case "snapshot_id" => Some(snap)
      case _ => None
    }
  }

  /** A snapshot manifest's adds, headers and removals. */
  private[sources] type Manifest = (Seq[ManifestEntry], Map[String, String],
    Seq[ManifestEntry])

  /** Every linked snapshot's manifest ([[IngestOps.readMetaFile]]), read
    * once, by snapshot id. */
  private[sources] def manifests(root: String): Seq[(Int, Manifest)] = {
    val spark = SparkSession.active
    val metaDir = new org.apache.hadoop.fs.Path(root, "metadata")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(metaDir).map(_.getPath.getName)
      .collect { case AddsManifest(n) => n.toInt }.sorted.toSeq.map(n =>
        n -> IngestOps.readMetaFile(spark, root, s"metadata/snap-$n.txt"))
  }

  /** One [[MetaEntry]] per added entry of the `read` manifests, its stats
    * read from the entry (`value` bounds by the id the snapshot's schema
    * record gives it); an entry that records none lists with NULL stats,
    * its unknowns visible. */
  private[sources] def listEntries(root: String,
      read: Seq[(Int, Manifest)]): Seq[MetaEntry] = {
    val spark = SparkSession.active
    read.flatMap { case (n, (entries, headers, _)) =>
      val value = headers.get("schema").flatMap(_ => LakeOps
        .namedSchema(spark, root, n, headers).fields.find(_.name == "value")
        .flatMap(TableSchema.idOf))
      entries.map { e =>
        def bound(m: FileStats[Int] => Map[Int, String]) = for {
          s <- e.stats; id <- value; b <- m(s).get(id) } yield b.toDouble
        MetaEntry(n, e.partition("day").getOrElse(-1), e.rel,
          e.stats.map(_.size), e.stats.map(_.rows), bound(_.lower),
          bound(_.upper))
      }
    }
  }

  /** One [[SnapshotRow]] per commit: add/remove deltas from the
    * manifests, byte and row deltas from the entries' stats (None when
    * ANY added file lacks stats), timestamps from the commit log. A
    * pure-delete commit (removes, no adds) still gets its row. */
  private[sources] def snapshotRows(root: String): Seq[SnapshotRow] = {
    val read = manifests(root)
    val bySnap = listEntries(root, read).groupBy(_.snap)
    val commits = IngestOps.commitLog(SparkSession.active, root).toMap
    read.map { case (n, (_, _, removed)) =>
      val es = bySnap.getOrElse(n, Seq.empty)
      SnapshotRow(n, commits.get(n), es.size.toLong, removed.size.toLong,
        total(es.map(_.size)), if (es.isEmpty) None else total(es.map(_.rows)))
    }
  }

  /** One [[PartitionRow]] per LIVE partition: every added file not
    * logically replaced by a later remove, grouped by partition value.
    * Byte and row totals are None when any live file lacks stats. */
  private[sources] def partitionRows(root: String): Seq[PartitionRow] = {
    val read = manifests(root)
    val dead = read.flatMap(_._2._3.map(_.rel)).toSet
    listEntries(root, read).filterNot(e => dead(e.rel))
      .groupBy(_.day).toSeq.sortBy(_._1).map { case (day, es) =>
        PartitionRow(day, es.size.toLong, total(es.map(_.size)),
          total(es.map(_.rows)))
      }
  }
}

private[sources] class GraftMetaTable(root: String, table: String)
    extends Table with SupportsRead {
  require(root != null, "graft.sources.GraftMetaSource needs .option(\"root\", tableRoot)")
  override def name(): String = s"graft_meta_$table($root)"
  override def schema(): StructType = GraftMetaSource.schemaFor(table)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new GraftMetaScanBuilder(root, table)
}

private[sources] class GraftMetaScanBuilder(root: String, table: String)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = GraftMetaSource.schemaFor(table)
  private var pushed: Array[Filter] = Array.empty

  /** Planning-time evaluable comparisons on this table's prune columns —
    * exactly the filters [[GraftMetaSource.evalFilterOn]] can evaluate
    * with this table's lookup, so push and prune can never drift. */
  private def prunable(f: Filter): Boolean =
    GraftMetaSource.evalFilterOn(f,
      GraftMetaSource.lookupFor(table, 0, 0)).isDefined

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(prunable)
    filters.filterNot(prunable) // residual: Spark re-applies the rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftMetaScan(root, table, required, pushed)
}

private[sources] class GraftMetaScan(root: String, table: String,
    required: StructType, pushed: Array[Filter]) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_meta_$table PushedFilters: ${pushed.mkString("[", ", ", "]")}, " +
      s"ReadSchema: ${required.catalogString}"

  private def keep(snap: Int, day: Int)(f: Filter): Boolean =
    GraftMetaSource.evalFilterOn(f,
      GraftMetaSource.lookupFor(table, snap, day)).getOrElse(
      // a filter this scan holds was accepted by pushFilters, so Spark
      // dropped it from the residual set — failing to evaluate it here
      // would return wrong rows; fail loudly instead
      throw new IllegalStateException(
        s"graft_meta_$table holds pushed filter $f it cannot evaluate"))

  /** One input partition per row: pushdown visible as a partition count. */
  private def each(rows: Seq[Product]): Array[InputPartition] =
    rows.map(r => GraftMetaPartition(Array(r)): InputPartition).toArray

  override def planInputPartitions(): Array[InputPartition] = table match {
    case "files" =>
      val survivors = GraftMetaSource.listEntries(root,
        GraftMetaSource.manifests(root))
        .filter(e => pushed.forall(keep(e.snap, e.day)))
      // one partition per surviving snapshot: pushdown on snapshot_id is
      // visible as a smaller partition count (asserted in the spec)
      survivors.groupBy(_.snap).toSeq.sortBy(_._1).map { case (_, es) =>
        GraftMetaPartition(es.toArray[Product]): InputPartition
      }.toArray
    case "snapshots" =>
      each(GraftMetaSource.snapshotRows(root)
        .filter(r => pushed.forall(keep(r.snap, -1))))
    case "partitions" =>
      each(GraftMetaSource.partitionRows(root)
        .filter(r => pushed.forall(keep(-1, r.day))))
    case "refs" =>
      // a ref pointing outside the predicate never becomes an
      // InputPartition (MetaSourceSpec asserts)
      each(GraftMetaSource.refRows(root)
        .filter(r => pushed.forall(keep(r.snap, -1))))
    case "history" =>
      // a made-current entry outside the snapshot predicate is pruned
      // at planning (ancestry is still computed over the FULL log —
      // pruning the output must not rewrite history)
      each(GraftMetaSource.historyRows(root)
        .filter(r => pushed.forall(keep(r.snap, -1))))
    case "manifests" =>
      each(GraftMetaSource.manifestRows(root)
        .filter(r => pushed.forall(keep(r.snap, -1))))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftMetaReaderFactory(GraftMetaSource.schemaFor(table),
      required.fieldNames)
}

/** Rows of one metadata table: case classes whose fields follow the
  * table's schema, column for column. */
private[sources] case class GraftMetaPartition(rows: Array[Product])
    extends InputPartition

private[sources] class GraftMetaReaderFactory(schema: StructType,
    fields: Array[String]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val at = fields.map(schema.fieldIndex)
    val it = partition.asInstanceOf[GraftMetaPartition].rows.iterator.map {
      r => new GenericInternalRow(at.map(i => r.productElement(i) match {
        case o: Option[_] => o.getOrElse(null)
        case s: String => UTF8String.fromString(s)
        case v => v
      }))
    }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
