package graft.xbrl

import org.apache.spark.sql.types._

/** Core data model for the XBRL engine (SURVEY.md §2.2, §3).
  *
  * Mirrors the semantics of the reference's instance/taxonomy models
  * (ferc-xbrl-extractor instance.py:25-236, taxonomy.py:20-66) as plain
  * case classes with Spark encoders — the long fact store and context
  * store are distributed Datasets, one row per fact/context across ALL
  * filings at once (the reference holds one filing in memory at a time;
  * at 100 TB the fact store is just another table).
  */

/** One reported fact: concept name (snake_case), context ref, raw string
  * value, and whether its context period is instant (vs duration).
  * Reference: instance.py:202-236 (Fact), instant/duration split at
  * instance.py:394-399.
  */
case class RawFact(
    filing_name: String,
    c_id: String,
    name: String,
    value: String,
    instant: Boolean)

/** One context: entity + period + dimensions.
  * `dims` maps snake_case axis name -> value (explicit member text or
  * typed member text). Reference: instance.py:136-199 (Context/Entity/
  * Period/Axis).
  */
case class XbrlContext(
    filing_name: String,
    c_id: String,
    entity_id: String,
    start_date: String, // null for instant periods
    end_date: String,
    instant: Boolean,
    dims: Map[String, String])

/** One fact's concept name and raw value, as grouped under its context. */
case class FactValue(name: String, value: String)

/** One context of one filing with the facts reported against it and the
  * filing's rssfeed publication_time: the unit the grouped fact store
  * resolves into one `name -> value` map.
  */
case class ContextFacts(
    filing_name: String,
    c_id: String,
    facts: Seq[FactValue],
    entity_id: String,
    start_date: String,
    end_date: String,
    instant: Boolean,
    dims: Map[String, String],
    publication_time: java.sql.Timestamp)

/** Filing-level metadata from the archive's rssfeed JSON + parsed facts.
  * Reference: instance.py:411-451 (instances_from_zip), report_date logic
  * at instance.py:294-304.
  */
case class FilingMeta(
    filing_name: String,
    publication_time: java.sql.Timestamp,
    taxonomy_version: String,
    report_date: String)

/** XBRL base types and their Spark/schema mappings.
  * Reference: taxonomy.py:20-66 (XBRLType); FIELD_TO_PANDAS /
  * CONVERT_DTYPES datapackage.py:116-140.
  */
object XbrlBaseType {
  val All = Set("string", "decimal", "gyear", "integer", "boolean", "date", "duration")

  /** Frictionless table-schema type (datapackage.py Field.type). */
  def schemaType(base: String): String = base match {
    case "gyear"   => "year"
    case "decimal" => "number"
    case "duration" => "string"
    case other     => other
  }

  /** Spark type for the output column (the engine's FIELD_TO_PANDAS). */
  def sparkType(schemaType: String): DataType = schemaType match {
    case "number"  => DoubleType
    case "integer" => LongType
    case "year"    => LongType
    case "boolean" => BooleanType
    case _         => StringType // string, date, duration kept as strings
  }
}

/** A taxonomy concept node. Leaves become output columns; concepts named
  * `*Axis` become dimension/PK columns. Reference: taxonomy.py:69-123.
  */
case class Concept(
    name: String,
    standardLabel: String,
    documentation: String,
    typeBase: String, // one of XbrlBaseType.All
    periodType: String, // "instant" | "duration"
    balance: Option[String], // credit | debit | None
    calculations: Seq[Calculation],
    references: Map[String, Seq[Map[String, String]]],
    children: Seq[Concept],
    // every label linkbase role for the concept (role URI -> text),
    // like Arelle's label store; standardLabel/documentation above are
    // the two the reference's own model surfaces (taxonomy.py:115-116)
    labels: Map[String, String] = Map.empty)

/** Calculation-linkbase edge: this concept = sum(child x weight).
  * Reference: arelle_interface.py:78-90.
  */
case class Calculation(name: String, weight: Double)

/** A link role = one "fact table" grouping of concepts.
  * Reference: taxonomy.py:156-195.
  */
case class LinkRole(role: String, definition: String, concepts: Concept)

/** A parsed taxonomy version. */
case class Taxonomy(version: String, roles: Seq[LinkRole])

/** One column of a derived table schema. */
case class TableField(name: String, title: String, schemaType: String, description: String)

/** A derived output table: (link role x period type).
  * `primaryKey` = entity_id, filing_name, publication_time, date columns,
  * then axes; `fields` = primaryKey ++ data columns.
  * Reference: datapackage.py:249-283 (Schema.from_concept_tree).
  */
case class TableSchema(
    name: String,
    periodType: String, // "instant" | "duration"
    fields: Seq[TableField],
    primaryKey: Seq[String],
    title: String = "",       // "{role definition} - {period}" (datapackage.py:336)
    description: String = "") { // root concept documentation

  def axes: Seq[String] = primaryKey.filter(_.endsWith("axis"))

  def dataColumns: Seq[TableField] = fields.filterNot(f => primaryKey.contains(f.name))

  def sparkSchema: StructType =
    StructType(fields.map { f =>
      val dt =
        if (f.name == "publication_time") TimestampType
        else XbrlBaseType.sparkType(f.schemaType)
      StructField(f.name, dt, nullable = !primaryKey.contains(f.name))
    })
}

/** Name conversion matching the reference's `stringcase.snakecase` (used
  * for fact names, axis names, and column names — instance.py:219,
  * datapackage.py:39) : first char lowercased, every other uppercase char
  * replaced by `_` + lowercase. Digits and existing underscores pass
  * through.
  */
object Names {
  def snakecase(raw: String): String = {
    val s = raw.replaceAll("[\\-\\.\\s]", "_")
    if (s.isEmpty) return s
    val sb = new StringBuilder
    sb.append(Character.toLowerCase(s.charAt(0)))
    var i = 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isUpperCase(c)) { sb.append('_'); sb.append(Character.toLowerCase(c)) }
      else sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** Strip `prefix:` from a QName-ish string (instance.py:75-79). */
  def stripPrefix(s: String): String = {
    val idx = s.indexOf(':')
    if (idx >= 0) s.substring(idx + 1) else s
  }
}
