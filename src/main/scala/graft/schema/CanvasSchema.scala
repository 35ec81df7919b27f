package graft.schema

import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * The versioned remote schema catalog of the reference, as Scala case classes.
 *
 * Mirrors `/root/reference/src/api_client.rs:394-450`:
 * `SchemaDefinition { version, schema: BTreeMap<String, TableDefinition> }`,
 * `TableDefinition { dw_type, description, hints, incremental, table_name, columns }`,
 * `ColumnDefinition { db_type, description, name, length, dimension }`,
 * `DimensionDefinition { name, id, role }` (FK metadata only — the reference
 * never creates constraints; we keep it to drive broadcast-join hints for
 * dimension tables).
 *
 * JSON decoding uses json4s (ships with Spark). The reference re-fetches the
 * whole schema once per imported file (`importer.rs:248-258`) — we decode once
 * and look tables up in the map.
 */
final case class DimensionDefinition(name: String, id: String, role: Option[String])

final case class ColumnDefinition(
    name: String,
    dbType: String,
    description: Option[String],
    length: Option[Long],
    dimension: Option[DimensionDefinition]) {

  /** One StructField; always nullable (TSV `\N` may hit any column). */
  def toStructField: StructField = {
    val mb = new MetadataBuilder()
    length.foreach(mb.putLong("length", _))
    dimension.foreach { d =>
      mb.putString("dimension.name", d.name)
      mb.putString("dimension.id", d.id)
      d.role.foreach(mb.putString("dimension.role", _))
    }
    StructField(name, TypeMapping.toSparkType(dbType), nullable = true, mb.build())
  }
}

final case class TableDefinition(
    tableName: String,
    dwType: String, // "dimension" | "fact" — explicit star-schema modeling
    incremental: Boolean,
    hints: Map[String, String],
    columns: Seq[ColumnDefinition]) {

  /** Columns in schema order — TSV files have no header, order IS the contract
    * (`importer.rs:315-327`). */
  def toStructType: StructType = StructType(columns.map(_.toStructField))

  def isDimension: Boolean = dwType == "dimension"
}

final case class SchemaDefinition(version: String, tables: Map[String, TableDefinition]) {

  /** Case-insensitive lookup, matching `get_table_definition`'s linear scan
    * (`api_client.rs:181-221`) without the per-file HTTP refetch. */
  def tableDefinition(name: String): Option[TableDefinition] = {
    val lower = name.toLowerCase
    tables.get(name).orElse(tables.collectFirst {
      case (k, v) if k.toLowerCase == lower => v
    })
  }
}

object CanvasSchema {

  /** Decode the `/api/schema/latest` JSON document. */
  def fromJson(json: String): SchemaDefinition = {
    val root = JsonMethods.parse(json)
    val version = (root \ "version") match {
      case JString(v) => v
      case _          => throw new IllegalArgumentException("schema JSON missing 'version'")
    }
    val tables = (root \ "schema") match {
      case JObject(fields) =>
        fields.map { case (tableKey, tv) => tableKey -> parseTable(tableKey, tv) }.toMap
      case _ => throw new IllegalArgumentException("schema JSON missing 'schema' object")
    }
    SchemaDefinition(version, tables)
  }

  private def str(v: JValue): Option[String] = v match {
    case JString(s) => Some(s)
    case _          => None
  }

  private def parseTable(key: String, tv: JValue): TableDefinition = {
    val hints = (tv \ "hints") match {
      case JObject(fs) => fs.collect { case (k, JString(s)) => k -> s }.toMap
      case _           => Map.empty[String, String]
    }
    val cols = (tv \ "columns") match {
      case JArray(items) => items.map(parseColumn)
      case _             => Seq.empty
    }
    TableDefinition(
      tableName = str(tv \ "tableName").orElse(str(tv \ "table_name")).getOrElse(key),
      dwType = str(tv \ "dw_type").orElse(str(tv \ "dwType")).getOrElse("fact"),
      incremental = (tv \ "incremental") match {
        case JBool(b) => b
        case _        => false
      },
      hints = hints,
      columns = cols)
  }

  private def parseColumn(cv: JValue): ColumnDefinition = {
    val dim = (cv \ "dimension") match {
      case JObject(_) =>
        for {
          n <- str(cv \ "dimension" \ "name")
          i <- str(cv \ "dimension" \ "id")
        } yield DimensionDefinition(n, i, str(cv \ "dimension" \ "role"))
      case _ => None
    }
    ColumnDefinition(
      name = str(cv \ "name").getOrElse(throw new IllegalArgumentException("column missing name")),
      dbType = str(cv \ "type").orElse(str(cv \ "db_type")).getOrElse("text"),
      description = str(cv \ "description"),
      length = (cv \ "length") match {
        case JInt(n)  => Some(n.toLong)
        case JLong(n) => Some(n)
        case _        => None
      },
      dimension = dim)
  }
}
