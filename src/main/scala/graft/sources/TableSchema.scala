package graft.sources

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** A table's committed schema, the one schema a lake read uses: the data
  * fields and the partition fields, each carrying its field id (and,
  * optionally, its initial default) in field metadata, plus the file
  * format and the highest field id the table ever assigned — the schema
  * Iceberg keeps in table metadata, with ids as the reference assigns
  * them (`Validator:60-147`). [[LakeOps.commit]] writes it as the
  * write-once, content-keyed `metadata/<name>` and its manifest names
  * it; [[LakeOps.readFiles]] plans from it and never opens a footer. */
private[graft] case class TableSchema(data: StructType,
    partition: StructType, format: String, lastId: Int) {
  import TableSchema._

  def fields: Seq[StructField] = data.fields.toSeq ++ partition.fields

  /** The field id of the field named `name`. */
  def id(name: String): Int = fields.find(_.name == name).flatMap(idOf)
    .getOrElse(throw new IllegalArgumentException(s"no numbered field $name"))

  /** The record: Spark's own `StructType.json` of both field lists. */
  def json: String = s"""{"format":"$format","last-column-id":$lastId,""" +
    s""""partition":${partition.json},"schema":${data.json}}"""

  /** Content-keyed file name: equal schemas share one record. */
  def name: String = "schema-" + java.util.UUID.nameUUIDFromBytes(
    json.getBytes(java.nio.charset.StandardCharsets.UTF_8)) + ".json"

  /** The scan schema: data then partition fields, without metadata, so a
    * session's `parquet.fieldId.read` cannot rebind a column by id. */
  def readSchema: StructType =
    StructType(fields.map(_.copy(metadata = Metadata.empty)))

  /** This schema numbered on top of `base`, the newest committed one: a
    * field stamped with `parquet.field.id` keeps that id (how a rename
    * commits), any other keeps the id its name has in `base`, and a new
    * name takes the next unused id, data fields first. A field keeps
    * `base`'s initial default unless it carries its own. */
  def numbered(base: Option[TableSchema]): TableSchema = {
    val prev = base.toSeq.flatMap(_.fields)
    val byName = prev.map(f => f.name -> f).toMap
    val byId = prev.flatMap(f => idOf(f).map(_ -> f)).toMap
    var last = (base.map(_.lastId).toSeq ++ fields.flatMap(idOf))
      .maxOption.getOrElse(0)
    def number(f: StructField): StructField = {
      val id = idOf(f).orElse(byName.get(f.name).flatMap(idOf))
        .getOrElse { last += 1; last }
      val md = new MetadataBuilder().putLong(FieldId, id)
      defaultOf(f).orElse(byId.get(id).flatMap(defaultOf))
        .foreach(md.putString(InitialDefault, _))
      f.copy(metadata = md.build())
    }
    val d = StructType(data.map(number))
    val p = StructType(partition.map(number))
    val ids = (d ++ p).flatMap(idOf)
    require(ids.distinct.size == ids.size,
      s"two fields share a field id: ${(d ++ p).mkString(", ")}")
    TableSchema(d, p, format, last)
  }

  /** `df`, scanned under this schema, projected by field id onto `to`: a
    * field present here is cast to `to`'s type under `to`'s name, an
    * absent one is `to`'s initial default or NULL, a field `to`
    * dropped is not projected, and a column of `df` outside this schema
    * (a scan's file path) is kept as it is. */
  def projectOnto(df: DataFrame, to: TableSchema): DataFrame = {
    val physical = data.flatMap(f => idOf(f).map(_ -> f.name)).toMap
    df.select(to.data.map { f =>
      idOf(f).flatMap(physical.get).map(col)
        .orElse(defaultOf(f).map(lit)).getOrElse(lit(null))
        .cast(f.dataType).as(f.name)
    } ++ to.partition.map(f => col(f.name)) ++
      df.columns.filterNot(fields.map(_.name).toSet).map(col): _*)
  }

  /** The Iceberg-v2 schema JSON (`schema-id` 0) of these fields. */
  def icebergJson: String = fields.map { f =>
    s"""{"id":${idOf(f).get},"name":"${f.name}","required":false,""" +
      s""""type":"${IcebergTypes.getOrElse(f.dataType, throw new
        IllegalArgumentException(s"no Iceberg type for ${f.dataType}"))}"}"""
  }.mkString("""{"type":"struct","schema-id":0,"fields":[""", ",", "]}")

  /** The identity partition spec's fields, ids from 1000. */
  def icebergSpecJson: String = partition.zipWithIndex.map { case (f, i) =>
    s"""{"name":"${f.name}","transform":"identity",""" +
      s""""source-id":${idOf(f).get},"field-id":${1000 + i}}"""
  }.mkString("[", ",", "]")
}

private[graft] object TableSchema {
  val FieldId = "parquet.field.id"
  val InitialDefault = "initial-default"

  def idOf(f: StructField): Option[Int] = Option.when(
    f.metadata.contains(FieldId))(f.metadata.getLong(FieldId).toInt)

  def defaultOf(f: StructField): Option[String] = Option.when(
    f.metadata.contains(InitialDefault))(f.metadata.getString(InitialDefault))

  /** The schema of `rows` written partitioned by `partitionBy` in
    * `format`, all fields nullable, numbered only where stamped. */
  def written(rows: DataFrame, partitionBy: Seq[String] = Seq("day"),
      format: String = "parquet"): TableSchema = {
    val all = GraftBridge.asNullable(rows.schema)
    TableSchema(StructType(all.filterNot(f => partitionBy.contains(f.name))),
      StructType(partitionBy.map(all(_))), format, 0)
  }

  def parse(text: String): TableSchema = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, parse => parseJson, render}
    implicit val formats: Formats = DefaultFormats
    val j = parseJson(text)
    def struct(k: String) =
      DataType.fromJson(compact(render(j \ k))).asInstanceOf[StructType]
    TableSchema(struct("schema"), struct("partition"),
      (j \ "format").extract[String], (j \ "last-column-id").extract[Int])
  }

  private val IcebergTypes: Map[DataType, String] = Map(LongType -> "long",
    IntegerType -> "int", StringType -> "string", DoubleType -> "double",
    FloatType -> "float", BooleanType -> "boolean", DateType -> "date",
    TimestampType -> "timestamptz", TimestampNTZType -> "timestamp")
}
