package graft.sources

import scala.jdk.CollectionConverters._

/** One data file's stats, the DataFile metrics the reference records at
  * write time (`Local:126-132`, `Creator:424-430`): size, row count and,
  * per column keyed by `K` (its name while staged, its field id once
  * committed), null count and lower/upper bound. A bound is the physical
  * value as text; a column the footer gives none (all NULL, NaN-bearing,
  * decimal) has none, and a missing bound never prunes. */
private[graft] case class FileStats[K](size: Long, rows: Long,
    nulls: Map[K, Long], lower: Map[K, String], upper: Map[K, String]) {

  def rekey[J](key: K => Option[J]): FileStats[J] = {
    def re[V](m: Map[K, V]) = m.flatMap { case (k, v) => key(k).map(_ -> v) }
    FileStats(size, rows, re(nulls), re(lower), re(upper))
  }

  /** Whether the file may hold a value of column `k` in `[lo, hi]`: an
    * all-NULL column holds none, a column without both bounds may. */
  def mayOverlap(k: K, lo: Double, hi: Double): Boolean =
    !nulls.get(k).contains(rows) && lower.get(k).zip(upper.get(k))
      .forall { case (l, u) => u.toDouble >= lo && l.toDouble <= hi }
}

/** One snapshot-manifest line: the data file's path relative to `data/`
  * and, after a TAB, its [[FileStats]] as JSON with Iceberg's DataFile
  * field names. Stats parse on first use, so a reader of the file list
  * never pays for them. A `removed` entry (Iceberg's DELETED status) is
  * the path of a file the snapshot replaced, spelled `-<path>`. */
private[graft] case class ManifestEntry(rel: String, statsJson: String = "",
    removed: Boolean = false) {
  lazy val stats: Option[FileStats[Int]] =
    Option.when(statsJson.nonEmpty)(ManifestEntry.parseStats(statsJson))

  def line: String = (if (removed) "-" else "") +
    (if (statsJson.isEmpty) rel else s"$rel\t$statsJson")

  /** The stats, which every entry a commit wrote carries. */
  def recorded: FileStats[Int] = stats.getOrElse(throw
    new IllegalStateException(s"manifest entry $rel records no stats"))

  /** The value of the integer partition column `name`, from the entry's
    * path; None for a NULL (`__HIVE_DEFAULT_PARTITION__`) partition. */
  def partition(name: String): Option[Int] =
    s"(?:^|/)$name=(-?\\d+)/".r.findFirstMatchIn(rel).map(_.group(1).toInt)
}

private[graft] object ManifestEntry {
  private val Mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def parse(line: String): ManifestEntry =
    if (line.startsWith("-")) parse(line.drop(1)).copy(removed = true)
    else line.indexOf('\t') match {
      case -1 => ManifestEntry(line)
      case i => ManifestEntry(line.take(i), line.drop(i + 1))
    }

  def of(rel: String, stats: FileStats[Int]): ManifestEntry = {
    val o = Mapper.createObjectNode()
      .put("file_size_in_bytes", stats.size).put("record_count", stats.rows)
    Seq("null_value_counts" -> stats.nulls, "lower_bounds" -> stats.lower,
      "upper_bounds" -> stats.upper).foreach { case (name, m) =>
      val b = o.putObject(name)
      m.toSeq.sortBy(_._1).foreach { case (k, v) => b.putPOJO(k.toString, v) }
    }
    ManifestEntry(rel, Mapper.writeValueAsString(o))
  }

  private def parseStats(json: String): FileStats[Int] = {
    val o = Mapper.readTree(json)
    def byId[V](name: String, v: com.fasterxml.jackson.databind.JsonNode => V) =
      o.required(name).properties().asScala
        .map(e => e.getKey.toInt -> v(e.getValue)).toMap
    FileStats(o.required("file_size_in_bytes").asLong,
      o.required("record_count").asLong, byId("null_value_counts", _.asLong),
      byId("lower_bounds", _.asText), byId("upper_bounds", _.asText))
  }

  /** `lines` sorted under a `#crc` header, the CRC32 of the rest in that
    * order, which [[IngestOps.readMetaFile]] checks on every read: a
    * truncated manifest or an edited bound fails loudly instead of
    * mis-pruning. The header sorts first, so a writer that sorts again
    * keeps the order the checksum covers. */
  def seal(lines: Seq[String]): Seq[String] = {
    val sorted = lines.sorted
    s"#crc ${crc(sorted)}" +: sorted
  }

  def crc(lines: Seq[String]): String = {
    val c = new java.util.zip.CRC32
    c.update(lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.toHexString(c.getValue)
  }

  /** Read options for footer-only reads, built once: building them loads
    * the codec factory, about 10 ms a file when done per read. */
  private lazy val FooterOptions =
    org.apache.parquet.ParquetReadOptions.builder().build()

  /** The stats of the `format` data file at `path`, keyed by column name.
    * Parquet: summed and folded over the footer's row groups for each
    * top-level column, which loses its bounds when a row group holding a
    * non-NULL value has none, and its null count when one lacks it.
    * Other formats: size and row count only. */
  def footer(conf: org.apache.hadoop.conf.Configuration, path: String,
      format: String): FileStats[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val size = p.getFileSystem(conf).getFileStatus(p).getLen
    format match {
      case "parquet" =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf),
          FooterOptions)
        try parquetStats(size, r.getFooter) finally r.close()
      case "orc" =>
        val r = org.apache.orc.OrcFile.createReader(p,
          org.apache.orc.OrcFile.readerOptions(conf))
        try FileStats(size, r.getNumberOfRows, Map.empty[String, Long],
          Map.empty, Map.empty) finally r.close()
      case f => throw new IllegalArgumentException(s"unknown file format $f")
    }
  }

  private def parquetStats(size: Long,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : FileStats[String] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val blocks = footer.getBlocks.asScala.toSeq
    val columns = footer.getFileMetaData.getSchema.getFields.asScala.toSeq
      .filter(_.isPrimitive).map(_.asPrimitiveType).map { t =>
        val chunks = blocks.flatMap(_.getColumns.asScala
          .find(_.getPath.toArray.sameElements(Array(t.getName))))
        val nulls = Option.when(chunks.forall(_.getStatistics.isNumNullsSet))(
          chunks.map(_.getStatistics.getNumNulls).sum)
        val valued = chunks.filter(c =>
          c.getStatistics.getNumNulls < c.getValueCount).map(_.getStatistics)
        val boundable = (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
          case (BINARY, _: StringLogicalTypeAnnotation) => true
          case (BINARY | INT96 | FIXED_LEN_BYTE_ARRAY, _) => false
          case (_, a) => !a.isInstanceOf[DecimalLogicalTypeAnnotation]
        }
        val bounds = Option.when(boundable && valued.nonEmpty &&
            valued.forall(_.hasNonNullValue)) {
          val cmp = valued.head.comparator()
            .asInstanceOf[java.util.Comparator[AnyRef]]
          def pick(vs: Seq[Any], sign: Int) = text(vs.map(_.asInstanceOf[AnyRef])
            .reduce((a, b) => if (cmp.compare(a, b) * sign <= 0) a else b))
          (pick(valued.map(_.genericGetMin), 1), pick(valued.map(_.genericGetMax), -1))
        }
        (t.getName, nulls, bounds)
      }
    FileStats(size, blocks.map(_.getRowCount).sum,
      columns.flatMap(c => c._2.map(c._1 -> _)).toMap,
      columns.flatMap(c => c._3.map(c._1 -> _._1)).toMap,
      columns.flatMap(c => c._3.map(c._1 -> _._2)).toMap)
  }

  /** A footer bound as text; a zero of either sign is `0.0` (they compare
    * equal). */
  private def text(v: AnyRef): String = v match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case d: java.lang.Double => (d + 0.0).toString
    case f: java.lang.Float => (f + 0.0f).toString
    case o => o.toString
  }
}
