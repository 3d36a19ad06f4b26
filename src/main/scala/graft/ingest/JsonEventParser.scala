package graft.ingest

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.io.JsonStringEncoder
import graft.schema.{CollectionId, EventSchema, FieldNames, FieldType}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, LocalDateTime, OffsetDateTime, ZoneOffset}
import scala.collection.mutable

/** Wire dialect of the JSON envelope.
  *
  * Reference behaviors replicated (SURVEY.md §1.2/§2.2, FIXTURES.md §1-2):
  *  - Fabric: `{id, metadata, data:{_project,_collection,…props}}`; numeric
  *    epoch-millis accepted for TIMESTAMP columns
  *    (FabricJsonDeserializer.java:373-390).
  *  - Rakam: `{project, collection, properties:{…}}`; unknown top-level keys
  *    are an error (RakamJsonDeserializer.java:156-157); numeric timestamp
  *    values coerce to null (RakamJsonDeserializer.java:363-377).
  */
sealed trait JsonDialect extends Serializable {
  /** epoch-millis numbers accepted as TIMESTAMP values? */
  def numericTimestamps: Boolean
}
object JsonDialect {
  case object Fabric extends JsonDialect { val numericTimestamps = true }
  case object Rakam  extends JsonDialect { val numericTimestamps = false }
}

/** Malformed record: logged + skipped by callers (JSON path logs & continues,
  * reference json/JsonMessageEventTransformer.java:44-60).
  */
final class MalformedEventException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

/** Minimal JSON value tree built via Jackson *streaming* parse with the
  * reference's duplicate-key semantics: first value wins, later duplicates
  * are `skipChildren()`ed (FabricJsonDeserializer.java:249-256). Number
  * lexemes are preserved for loss-free re-encoding of nested values. The
  * event kernels read only array and object property values into it.
  */
object JVal {
  sealed trait JVal extends Serializable
  case object JNull extends JVal
  final case class JStr(v: String) extends JVal
  final case class JNum(text: String) extends JVal {
    def toDouble: Double = java.lang.Double.parseDouble(text)
    def toLong: Long = try java.lang.Long.parseLong(text)
                       catch { case _: NumberFormatException => toDouble.toLong }
  }
  final case class JBool(v: Boolean) extends JVal
  final case class JArr(items: Vector[JVal]) extends JVal
  final case class JObj(fields: Vector[(String, JVal)]) extends JVal {
    lazy val toMap: Map[String, JVal] = fields.toMap
  }

  /** Read the value starting at the parser's current token. */
  def read(p: JsonParser): JVal = p.currentToken() match {
    case JsonToken.VALUE_NULL   => JNull
    case JsonToken.VALUE_STRING => JStr(p.getText)
    case JsonToken.VALUE_TRUE   => JBool(true)
    case JsonToken.VALUE_FALSE  => JBool(false)
    case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT => JNum(p.getText)
    case JsonToken.START_ARRAY =>
      val items = Vector.newBuilder[JVal]
      while (p.nextToken() != JsonToken.END_ARRAY) items += read(p)
      JArr(items.result())
    case JsonToken.START_OBJECT =>
      val fields = Vector.newBuilder[(String, JVal)]
      val seen = mutable.HashSet.empty[String]
      while (p.nextToken() != JsonToken.END_OBJECT) {
        val name = p.currentName()
        p.nextToken()
        if (seen.add(name)) fields += name -> read(p)
        else p.skipChildren() // duplicate key: first wins
      }
      JObj(fields.result())
    case t => throw new MalformedEventException(s"unexpected token $t")
  }

  private val enc = JsonStringEncoder.getInstance()

  /** Re-encode a value as compact JSON (for the nested-value-as-string rule). */
  def encode(v: JVal): String = {
    val sb = new java.lang.StringBuilder
    encodeTo(v, sb)
    sb.toString
  }
  private def encodeTo(v: JVal, sb: java.lang.StringBuilder): Unit = v match {
    case JNull    => sb.append("null")
    case JBool(b) => sb.append(b)
    case JNum(t)  => sb.append(t)
    case JStr(s)  => sb.append('"').append(enc.quoteAsString(s)).append('"')
    case JArr(items) =>
      sb.append('[')
      var first = true
      items.foreach { i => if (!first) sb.append(','); first = false; encodeTo(i, sb) }
      sb.append(']')
    case JObj(fields) =>
      sb.append('{')
      var first = true
      fields.foreach { case (k, fv) =>
        if (!first) sb.append(','); first = false
        sb.append('"').append(enc.quoteAsString(k)).append('"').append(':')
        encodeTo(fv, sb)
      }
      sb.append('}')
  }
}

/** Streaming parser for dynamic-schema event JSON.
  *
  * This is the engine's one genuinely custom component: Spark's
  * `from_json`/`schema_of_json` have different semantics (LongType for ints,
  * no date sniffing, no truncation, nulls create columns, duplicate keys
  * last-wins), so the reference's rules
  * (FabricJsonDeserializer.java:313-602) are implemented here and driven
  * from `mapPartitions`.
  *
  * Both per-record kernels are one Jackson token walk over the envelope
  * (`EnvelopeWalk`), with no per-record value tree: scalars are typed or
  * coerced straight from their token, and only array and object values are
  * read into a [[JVal]] for [[inferValue]] / [[coerce]].
  *  - inference: an [[InferFold]] per partition folds each event's fields
  *    into one `name → type` map per collection; schemas are built once
  *    per partition, not per event.
  *  - parse: a [[ParsePlan]] per partition and schema holds the column
  *    index, types and `_time` flags; properties outside the schema are
  *    skipped without allocating.
  * [[inferEvent]] / [[parseEvent]] run the same walks for one record.
  *
  * Inference rules (getTypeForUnknown, ref :497-602):
  *  - any JSON number → DOUBLE (the load-bearing default)
  *  - string → DATE if `yyyy-MM-dd`, TIMESTAMP if timestamp-like, else STRING
  *  - field named `_time` → always TIMESTAMP
  *  - array/map → element/value type from FIRST element; empty → no column;
  *    complex first element → ARRAY_STRING / MAP_STRING with JSON-encoding
  *  - null / empty array / empty object → column not created
  * Coercion rules (getValue, ref :313-495):
  *  - strings truncated to 100 chars
  *  - un-parseable date/timestamp values → null
  *  - scalar type mismatch → whole record skipped
  *  - duplicate keys: first value wins
  */
object JsonEventParser {
  import JVal._

  val MaxStringLength = 100

  private val factory = new JsonFactory()

  /** Parse an arbitrary JSON document to the first-wins value tree (used by
    * registry persistence and tooling, not the event hot path).
    */
  def mapperRead(json: String): JVal.JVal = {
    val p = factory.createParser(json)
    try { p.nextToken(); JVal.read(p) } finally p.close()
  }

  // ------------------------------------------------------------- envelope

  /** First occurrence of a property name within one record: a stamp per
    * name, so the steady state (the same names record after record)
    * allocates nothing. Bounded: the table is dropped at a record boundary
    * once it holds more than 4096 distinct names.
    */
  private final class FirstSeen {
    private[this] val stamps = new java.util.HashMap[String, Array[Int]]()
    private[this] var record = 0

    def nextRecord(): Unit = {
      record += 1
      if (stamps.size > 4096) stamps.clear()
    }

    /** True for the first occurrence of `name` in the current record. */
    def first(name: String): Boolean = {
      val s = stamps.get(name)
      if (s == null) { stamps.put(name, Array(record)); true }
      else if (s(0) == record) false
      else { s(0) = record; true }
    }
  }

  /** One Jackson token walk over an envelope, shared by inference and
    * parse. The walk reads the whole root object (so malformed JSON anywhere
    * in it skips the record, as a full read would), applies the dialect's
    * envelope rules, and hands every FIRST occurrence of a property of the
    * event object (`data` / `properties`) to [[field]] with the parser on
    * the value token; later duplicates are `skipChildren()`ed.
    *
    *  - Fabric: the first `data` key must hold an object; its first
    *    `_project`/`_collection` must be strings and route the record.
    *  - Rakam: the first `project`/`collection` (strings) and `properties`
    *    (object) route the record; any top-level key outside
    *    `project, collection, properties, api` rejects it
    *    (RakamJsonDeserializer.java:156-157).
    */
  private abstract class EnvelopeWalk(dialect: JsonDialect) {
    private[this] val seen = new FirstSeen
    private[this] var project: String = _
    private[this] var collection: String = _

    /** Called once per record before the walk. */
    protected def begin(): Unit

    /** Consume the value under the parser: read a scalar or leave it, read
      * or `skipChildren()` a container.
      */
    protected def field(name: String, t: JsonToken, p: JsonParser): Unit

    /** Routing id of the last record [[walk]] accepted. */
    final def id: CollectionId = CollectionId.normalize(project, collection)

    /** Walk one envelope; false = malformed or unroutable (record skipped). */
    final def walk(json: String): Boolean =
      try {
        val p = factory.createParser(json)
        try {
          project = null; collection = null
          seen.nextRecord(); begin()
          p.nextToken() == JsonToken.START_OBJECT && (dialect match {
            case JsonDialect.Fabric => fabric(p)
            case JsonDialect.Rakam  => rakam(p)
          }) && CollectionId.isValid(project, collection)
        } finally p.close()
      } catch { case _: Exception => false }

    private def nextKey(p: JsonParser): Boolean = p.nextToken() match {
      case JsonToken.END_OBJECT => false
      case JsonToken.FIELD_NAME => true
      case t => throw new MalformedEventException(s"unexpected token $t")
    }

    private def stringOrSkip(t: JsonToken, p: JsonParser): String =
      if (t == JsonToken.VALUE_STRING) p.getText else { p.skipChildren(); null }

    private def fabric(p: JsonParser): Boolean = {
      var data = false
      while (nextKey(p)) {
        val name = p.currentName()
        val t = p.nextToken()
        if (!data && name == "data") {
          data = true
          if (t != JsonToken.START_OBJECT) return false
          event(p, routed = true)
        } else p.skipChildren()
      }
      data
    }

    private def rakam(p: JsonParser): Boolean = {
      var proj = false; var coll = false; var props = false
      while (nextKey(p)) {
        val name = p.currentName()
        val t = p.nextToken()
        name match {
          case "project" if !proj => proj = true; project = stringOrSkip(t, p)
          case "collection" if !coll => coll = true; collection = stringOrSkip(t, p)
          case "properties" if !props =>
            props = true
            if (t != JsonToken.START_OBJECT) return false
            event(p, routed = false)
          case "project" | "collection" | "properties" | "api" => p.skipChildren()
          case _ => return false // unknown top-level field
        }
      }
      props
    }

    /** The event object; `routed` = it carries `_project`/`_collection`. */
    private def event(p: JsonParser, routed: Boolean): Unit =
      while (nextKey(p)) {
        val name = p.currentName()
        val t = p.nextToken()
        if (!seen.first(name)) p.skipChildren() // duplicate key: first wins
        else {
          if (routed) {
            if (name == "_project")
              project = if (t == JsonToken.VALUE_STRING) p.getText else null
            else if (name == "_collection")
              collection = if (t == JsonToken.VALUE_STRING) p.getText else null
          }
          field(name, t, p)
        }
      }
  }

  /** Cheap routing extract: streams tokens and early-exits once project and
    * collection are both seen (the reference's two-phase parse pattern —
    * TokenBuffer routing pre-pass / DecoupleMessage,
    * FabricJsonDeserializer.java:105-179, KafkaDecoupleMessage.java:46-114).
    * Unlike the walk behind [[inferEvent]]/[[parseEvent]], it reads no
    * property value.
    */
  def routing(json: String, dialect: JsonDialect): Option[CollectionId] =
    try {
      val p = factory.createParser(json)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return None
        val (projField, collField, scope) = dialect match {
          case JsonDialect.Fabric => ("_project", "_collection", "data")
          case JsonDialect.Rakam  => ("project", "collection", null)
        }
        var proj: String = null
        var coll: String = null
        def scan(): Unit = {
          while (p.nextToken() != JsonToken.END_OBJECT) {
            val name = p.currentName()
            p.nextToken()
            if (name == projField && p.currentToken() == JsonToken.VALUE_STRING) proj = p.getText
            else if (name == collField && p.currentToken() == JsonToken.VALUE_STRING) coll = p.getText
            else if (scope != null && name == scope && p.currentToken() == JsonToken.START_OBJECT) {
              scan(); if (proj != null && coll != null) return
            }
            else p.skipChildren()
            if (proj != null && coll != null) return
          }
        }
        if (scope == null) scan()
        else {
          // routing fields live inside the scope object; walk top level for it
          while (p.nextToken() != JsonToken.END_OBJECT && (proj == null || coll == null)) {
            val name = p.currentName()
            p.nextToken()
            if (name == scope && p.currentToken() == JsonToken.START_OBJECT) scan()
            else p.skipChildren()
          }
        }
        if (proj != null && coll != null && CollectionId.isValid(proj, coll))
          Some(CollectionId.normalize(proj, coll))
        else None
      } finally p.close()
    } catch { case _: Exception => None }

  /** Pre-parse extraction of (routing, event-time) only — the reference's
    * DecoupleMessage (KafkaDecoupleMessage.java:46-114): streams tokens,
    * `skipChildren()` on everything else, early-exits once all three fields
    * are seen. Time is returned as epoch millis (numeric value passed
    * through; string value sniffed with [[parseTimestamp]]).
    */
  def decouple(json: String, dialect: JsonDialect, names: FieldNames)
      : Option[(CollectionId, Option[Long])] =
    try {
      val p = factory.createParser(json)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return None
        val (projField, collField, propsScope) = dialect match {
          case JsonDialect.Fabric => ("_project", "_collection", "data")
          case JsonDialect.Rakam  => ("project", "collection", "properties")
        }
        var proj: String = null; var coll: String = null
        var time: Option[Long] = None; var timeSeen = false
        def inProps(): Unit = {
          while (p.nextToken() != JsonToken.END_OBJECT) {
            val name = p.currentName(); p.nextToken()
            if (name == projField && p.currentToken() == JsonToken.VALUE_STRING) proj = p.getText
            else if (name == collField && p.currentToken() == JsonToken.VALUE_STRING) coll = p.getText
            else if (name == names.timeField && !timeSeen) {
              timeSeen = true
              p.currentToken() match {
                case JsonToken.VALUE_NUMBER_INT => time = Some(p.getLongValue)
                case JsonToken.VALUE_STRING => time = parseTimestamp(p.getText).map(_.getTime)
                case _ => p.skipChildren()
              }
            } else p.skipChildren()
            val needRouting = dialect == JsonDialect.Fabric
            if ((!needRouting || (proj != null && coll != null)) && timeSeen) return
          }
        }
        dialect match {
          case JsonDialect.Fabric =>
            // everything lives inside `data`
            var done = false
            while (!done && p.nextToken() != JsonToken.END_OBJECT) {
              val name = p.currentName(); p.nextToken()
              if (name == propsScope && p.currentToken() == JsonToken.START_OBJECT) {
                inProps(); done = true
              } else p.skipChildren()
            }
          case JsonDialect.Rakam =>
            // routing at top level, `_time` inside `properties`
            while (p.nextToken() != JsonToken.END_OBJECT &&
                   !(proj != null && coll != null && timeSeen)) {
              val name = p.currentName(); p.nextToken()
              if (name == projField && p.currentToken() == JsonToken.VALUE_STRING) proj = p.getText
              else if (name == collField && p.currentToken() == JsonToken.VALUE_STRING) coll = p.getText
              else if (name == propsScope && p.currentToken() == JsonToken.START_OBJECT) inProps()
              else p.skipChildren()
            }
        }
        if (proj != null && coll != null && CollectionId.isValid(proj, coll))
          Some((CollectionId.normalize(proj, coll), time))
        else None
      } finally p.close()
    } catch { case _: Exception => None }

  // -------------------------------------------------------------- inference

  /** Inference walk: the record's first-wins fields in document order, as
    * (name, type) pairs in reusable buffers. Scalars are typed from their
    * token; only arrays and objects are read into a [[JVal]] for
    * [[inferValue]]. Reserved fields and untyped values (null, empty
    * containers) produce no pair.
    */
  private final class InferWalk(dialect: JsonDialect, names: FieldNames)
      extends EnvelopeWalk(dialect) {
    var size = 0
    var fieldNames = new Array[String](32)
    var fieldTypes = new Array[FieldType](32)

    protected def begin(): Unit = size = 0

    protected def field(name: String, t: JsonToken, p: JsonParser): Unit =
      if (isReserved(name, names)) p.skipChildren()
      else if (name == names.timeField) { p.skipChildren(); add(name, FieldType.FTimestamp) }
      else t match {
        case JsonToken.VALUE_NULL => ()
        case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT => add(name, FieldType.FDouble)
        case JsonToken.VALUE_TRUE | JsonToken.VALUE_FALSE => add(name, FieldType.FBoolean)
        case JsonToken.VALUE_STRING => add(name, stringType(p.getText))
        case _ => inferValue(read(p), name, names).foreach(add(name, _))
      }

    private def add(name: String, ft: FieldType): Unit = {
      if (size == fieldNames.length) {
        fieldNames = java.util.Arrays.copyOf(fieldNames, size * 2)
        fieldTypes = java.util.Arrays.copyOf(fieldTypes, size * 2)
      }
      fieldNames(size) = name
      fieldTypes(size) = ft
      size += 1
    }
  }

  /** Infer the field types of one event. Returns the routing id plus fields
    * in document order (duplicates: first wins; null/empty: skipped).
    * Routing/reserved fields are excluded from the data columns.
    */
  def inferEvent(json: String, dialect: JsonDialect, names: FieldNames)
      : Option[(CollectionId, mutable.LinkedHashMap[String, FieldType])] = {
    val w = new InferWalk(dialect, names)
    if (!w.walk(json)) None
    else {
      val out = mutable.LinkedHashMap.empty[String, FieldType]
      var i = 0
      while (i < w.size) { out += w.fieldNames(i) -> w.fieldTypes(i); i += 1 }
      Some((w.id, out))
    }
  }

  /** One partition's inference: every event's fields folded, in document
    * order, into one `name → type` map per collection — a new name appends,
    * a known one widens with [[EventSchema.widen]]. That is
    * `EventSchema.evolve(current, event)` applied field by field, without
    * building a schema per event; [[result]] builds each collection's
    * `StructType` once.
    */
  final class InferFold(dialect: JsonDialect, names: FieldNames) {
    private final class Acc {
      val fields = new java.util.LinkedHashMap[String, DataType]()
      var rows = 0L
    }
    private[this] val walk = new InferWalk(dialect, names)
    private[this] val accs = new java.util.LinkedHashMap[CollectionId, Acc]()

    /** Fold one event in; malformed or unroutable events are skipped. */
    def add(json: String): Unit = if (walk.walk(json)) {
      val id = walk.id
      var acc = accs.get(id)
      if (acc == null) { acc = new Acc; accs.put(id, acc) }
      acc.rows += 1
      var i = 0
      while (i < walk.size) {
        val name = walk.fieldNames(i)
        val dt = walk.fieldTypes(i).sparkType
        val cur = acc.fields.get(name)
        if (cur == null) acc.fields.put(name, dt)
        else if (cur != dt) acc.fields.put(name, EventSchema.widen(cur, dt))
        i += 1
      }
    }

    /** Per collection, in first-seen order: observed schema and row count. */
    def result: Iterator[(CollectionId, StructType, Long)] = {
      import scala.jdk.CollectionConverters._
      accs.entrySet.iterator.asScala.map { e =>
        val fields = e.getValue.fields.entrySet.iterator.asScala.map { f =>
          StructField(f.getKey, f.getValue, nullable = true)
        }.toArray
        (e.getKey, StructType(fields), e.getValue.rows)
      }
    }
  }

  private def isReserved(name: String, names: FieldNames): Boolean =
    name == "_project" || name == "_collection" || name == names.checkpointField

  /** String sniffing: DATE if `yyyy-MM-dd`, TIMESTAMP if timestamp-like. */
  private def stringType(s: String): FieldType =
    if (looksLikeDate(s)) FieldType.FDate
    else if (looksLikeTimestamp(s)) FieldType.FTimestamp
    else FieldType.FString

  /** getTypeForUnknown (ref :497-602). None = do not create a column. */
  def inferValue(v: JVal, fieldName: String, names: FieldNames): Option[FieldType] = {
    if (fieldName == names.timeField) return Some(FieldType.FTimestamp) // _time rule, ref :500-502
    v match {
      case JNull    => None
      case _: JNum  => Some(FieldType.FDouble) // ints infer DOUBLE, ref :529-531
      case _: JBool => Some(FieldType.FBoolean)
      case JStr(s)  => Some(stringType(s))
      case JArr(items) =>
        if (items.isEmpty) None // empty array: no column, ref :535-540
        else items.head match {
          case _: JArr | _: JObj => Some(FieldType.FArray(FieldType.FString)) // nested → JSON-encoded
          case JNull => // null first element: container later ⇒ ARRAY_STRING,
                        // all-scalar ⇒ no column (ref :549-560)
            if (items.exists(i => i.isInstanceOf[JArr] || i.isInstanceOf[JObj]))
              Some(FieldType.FArray(FieldType.FString))
            else None
          case first => inferValue(first, "", names).map(FieldType.FArray(_))
        }
      case JObj(fields) =>
        if (fields.isEmpty) None // empty object: no column, ref :550-571
        else fields.head._2 match {
          case _: JArr | _: JObj => Some(FieldType.FMap(FieldType.FString))
          case JNull => // same null-first fallback as arrays (ref :580-593)
            if (fields.exists { case (_, fv) => fv.isInstanceOf[JArr] || fv.isInstanceOf[JObj] })
              Some(FieldType.FMap(FieldType.FString))
            else None
          case first => inferValue(first, "", names).map(FieldType.FMap(_))
        }
    }
  }

  // --------------------------------------------------------------- coercion

  /** A schema compiled for the parse walk: name → column index, each
    * column's [[FieldType]] and `_time` flag, resolved once per partition.
    * [[parse]] writes each first-wins property straight from its token into
    * a fresh value array; properties outside the schema are
    * `skipChildren()`ed without allocating. `tail` extra trailing slots are
    * left for the caller (the cohort parse appends the routing columns).
    */
  final class ParsePlan(val schema: StructType, dialect: JsonDialect, names: FieldNames,
                        tail: Int = 0) {
    private[this] val width = schema.length
    private[this] val index = new java.util.HashMap[String, Integer]()
    schema.fieldNames.zipWithIndex.foreach { case (n, i) => index.put(n, i) }
    // null = a type the parser cannot fill: a record carrying that field is
    // skipped, as per-record resolution skipped it
    private[this] val types: Array[FieldType] = schema.fields.map { f =>
      try FieldType.fromSpark(f.dataType) catch { case _: IllegalArgumentException => null }
    }
    private[this] val isTime: Array[Boolean] = schema.fields.map(_.name == names.timeField)

    private final class ParseWalk extends EnvelopeWalk(dialect) {
      var values: Array[Any] = _
      protected def begin(): Unit = values = new Array[Any](width + tail)
      protected def field(name: String, t: JsonToken, p: JsonParser): Unit = {
        val i = index.get(name)
        if (i == null) p.skipChildren()
        else {
          val ft = types(i)
          if (ft == null) throw new MalformedEventException(s"unsupported column type for $name")
          values(i) = coerceToken(t, p, ft, isTime(i), dialect)
        }
      }
    }
    private[this] val walk = new ParseWalk

    /** Values aligned to `schema` (missing fields null), or null when the
      * record is skipped: malformed, unroutable, or a type mismatch.
      */
    def parse(json: String): Array[Any] = if (walk.walk(json)) walk.values else null

    /** Routing id of the last record [[parse]] accepted. */
    def id: CollectionId = walk.id
  }

  /** Parse one event against a fixed schema; values aligned to `schema`
    * field order, missing fields null. Returns None for malformed records or
    * scalar type mismatches (record-skip semantics, ref
    * JsonMessageEventTransformer.java:50-60). Streaming callers compile a
    * [[ParsePlan]] once per partition instead.
    */
  def parseEvent(json: String, dialect: JsonDialect, schema: StructType,
                 names: FieldNames): Option[(CollectionId, Row)] = {
    val plan = new ParsePlan(schema, dialect, names)
    val values = plan.parse(json)
    if (values == null) None
    else Some((plan.id,
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(values, schema)))
  }

  /** [[coerce]] of the value under the parser: scalars straight from their
    * token, containers through a [[JVal]] read.
    */
  private def coerceToken(t: JsonToken, p: JsonParser, target: FieldType, isTime: Boolean,
                          dialect: JsonDialect): Any = t match {
    case JsonToken.VALUE_NULL => null
    case JsonToken.VALUE_STRING => coerceString(p.getText, target, isTime)
    case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT =>
      coerceNumber(p.getText, target, isTime, dialect)
    case JsonToken.VALUE_TRUE => coerceBoolean(b = true, target)
    case JsonToken.VALUE_FALSE => coerceBoolean(b = false, target)
    case _ => coerce(read(p), target, isTime, dialect)
  }

  /** getValue (ref :313-495) — faithful to the reference's leniency model:
    *
    *  - scalar targets use Jackson's lenient `getValueAs*` coercions
    *    (numeric strings parse into numeric columns, garbage → 0/false,
    *    booleans → 0/1) — matching the reference byte-for-byte
    *  - a container value in a scalar column: STRING ⇒ compact-JSON-encoded
    *    (untruncated, ref :488-493); other scalars ⇒ null (skipChildren)
    *  - a mismatched container (array in a MAP column etc.) ⇒ null
    *    (ref :404-407, :457-462)
    *  - the ONLY record-skip: a nested container inside an ARRAY/MAP whose
    *    element type is not STRING (ref :437-444, :471-478)
    *  - un-parseable date/timestamp strings ⇒ null
    *
    * Documented deviations: DECIMAL parses properly (the reference writes
    * null — a TODO in its source); TIME accepts numbers as seconds-of-day
    * and parses `LocalTime` strings to seconds-of-day (the reference's
    * `LocalTime.getSecond()` keeps only the seconds-of-minute component).
    */
  def coerce(v: JVal, target: FieldType, isTime: Boolean, dialect: JsonDialect): Any = v match {
    case JNull    => null
    case JStr(s)  => coerceString(s, target, isTime)
    case JNum(t)  => coerceNumber(t, target, isTime, dialect)
    case JBool(b) => coerceBoolean(b, target)
    case c => target match {
      case FieldType.FString => JVal.encode(c) // container → JSON-encoded, ref :488-490
      case FieldType.FArray(elem) => c match {
        case JArr(items) =>
          items.map {
            case JNull => null
            case el @ (_: JArr | _: JObj) =>
              if (elem == FieldType.FString) JVal.encode(el)
              else throw new MalformedEventException( // record skip, ref :471-478
                "nested array element for non-string array")
            case el => coerce(el, elem, isTime = false, dialect)
          }
        case _ => null // non-array for ARRAY column → null (ref :457-462)
      }
      case FieldType.FMap(valueT) => c match {
        case JObj(fields) => // key dedup first-wins already applied by JVal.read
          fields.map { case (k, mv) =>
            val coerced = mv match {
              case JNull => null
              case nested @ (_: JArr | _: JObj) =>
                if (valueT == FieldType.FString) JVal.encode(nested)
                else throw new MalformedEventException( // record skip, ref :437-444
                  "nested map value for non-string map")
              case el => coerce(el, valueT, isTime = false, dialect)
            }
            k -> coerced
          }.toMap
        case _ => null // non-object for MAP column → null (ref :404-407)
      }
      case _ => null // container in any other scalar column
    }
  }

  private def coerceString(s: String, target: FieldType, isTime: Boolean): Any = target match {
    case FieldType.FString    => truncate(s) // ref :325-328
    case FieldType.FBoolean   => java.lang.Boolean.valueOf(s.trim.equalsIgnoreCase("true"))
    case FieldType.FDouble    => java.lang.Double.valueOf(asDoubleLenient(s))
    case FieldType.FLong      => java.lang.Long.valueOf(asLongLenient(s))
    case FieldType.FInteger   => java.lang.Integer.valueOf(asLongLenient(s).toInt)
    case FieldType.FTime =>
      try java.lang.Integer.valueOf(java.time.LocalTime.parse(s).toSecondOfDay)
      catch { case _: Exception => null }
    case FieldType.FDecimal =>
      try new java.math.BigDecimal(s.trim) catch { case _: Exception => null }
    case FieldType.FDate      => parseDate(s).orNull // un-parseable → null (ref :356-372)
    case FieldType.FTimestamp => parseTimestamp(s).orNull
    case FieldType.FBinary =>
      try java.util.Base64.getDecoder.decode(s) catch { case _: Exception => null }
    case _ => null // scalar in an ARRAY/MAP column
  }

  /** `text` is the number's JSON lexeme. */
  private def coerceNumber(text: String, target: FieldType, isTime: Boolean,
                           dialect: JsonDialect): Any = target match {
    case FieldType.FString   => truncate(text)
    case FieldType.FBoolean  => java.lang.Boolean.valueOf(asLongLenient(text) != 0L)
    case FieldType.FDouble   => java.lang.Double.valueOf(java.lang.Double.parseDouble(text))
    case FieldType.FLong     => java.lang.Long.valueOf(numberToLong(text))
    case FieldType.FInteger  => java.lang.Integer.valueOf(numberToLong(text).toInt)
    case FieldType.FTime     => java.lang.Integer.valueOf(numberToLong(text).toInt) // seconds-of-day
    case FieldType.FDecimal  => new java.math.BigDecimal(text)
    case FieldType.FTimestamp =>
      // Fabric: epoch millis accepted; Rakam: numeric timestamps → null
      // except for the canonical `_time` field (ref :373-390 vs Rakam :363-377)
      if (dialect.numericTimestamps || isTime)
        java.sql.Timestamp.from(Instant.ofEpochMilli(numberToLong(text)))
      else null
    case _ => null // numeric DATE → null (ref :360-362); BINARY, ARRAY, MAP
  }

  private def coerceBoolean(b: Boolean, target: FieldType): Any = target match {
    case FieldType.FString  => if (b) "true" else "false"
    case FieldType.FBoolean => java.lang.Boolean.valueOf(b)
    case FieldType.FDouble  => java.lang.Double.valueOf(if (b) 1.0 else 0.0)
    case FieldType.FLong    => java.lang.Long.valueOf(if (b) 1L else 0L)
    case FieldType.FInteger => java.lang.Integer.valueOf(if (b) 1 else 0)
    case _                  => null
  }

  /** A JSON number lexeme as a long: integral parse, else double-truncation. */
  private def numberToLong(text: String): Long =
    try java.lang.Long.parseLong(text)
    catch { case _: NumberFormatException => java.lang.Double.parseDouble(text).toLong }

  /** Jackson `NumberInput.parseAsLong` semantics: integral parse, fall back
    * to double-truncation, then 0.
    */
  private def asLongLenient(s: String): Long = {
    val t = s.trim
    try java.lang.Long.parseLong(t)
    catch {
      case _: NumberFormatException =>
        try java.lang.Double.parseDouble(t).toLong
        catch { case _: NumberFormatException => 0L }
    }
  }

  private def asDoubleLenient(s: String): Double =
    try java.lang.Double.parseDouble(s.trim)
    catch { case _: NumberFormatException => 0.0 }

  private def truncate(s: String): String =
    if (s.length > MaxStringLength) s.substring(0, MaxStringLength) else s

  // ------------------------------------------------------------ date/time

  def looksLikeDate(s: String): Boolean = parseDate(s).isDefined

  /** ISO `yyyy-MM-dd` only: ten characters with the dashes at 4 and 7 (the
    * shape check spares `LocalDate.parse` — and its exception — on the
    * ten-character strings that cannot be dates).
    */
  def parseDate(s: String): Option[java.sql.Date] =
    if (s.length != 10 || s.charAt(4) != '-' || s.charAt(7) != '-') None
    else try Some(java.sql.Date.valueOf(LocalDate.parse(s)))
    catch { case _: Exception => None }

  def looksLikeTimestamp(s: String): Boolean = parseTimestamp(s).isDefined

  /** Timestamp sniffing: ISO local/offset datetimes with space or 'T'
    * separator, optional fractional seconds, optional zone. Zone-less values
    * are interpreted as UTC (session timezone is pinned to UTC).
    */
  def parseTimestamp(s: String): Option[java.sql.Timestamp] = {
    if (s.length < 19 || s.length > 35) return None
    if (s.charAt(4) != '-' || s.charAt(7) != '-') return None
    val normalized = if (s.charAt(10) == ' ') s.substring(0, 10) + "T" + s.substring(11) else s
    try {
      val hasZone = normalized.length > 19 &&
        (normalized.endsWith("Z") || normalized.lastIndexOf('+') > 10 ||
         normalized.lastIndexOf('-') > 10)
      if (hasZone)
        Some(java.sql.Timestamp.from(OffsetDateTime.parse(normalized).toInstant))
      else
        Some(java.sql.Timestamp.from(
          LocalDateTime.parse(normalized, DateTimeFormatter.ISO_LOCAL_DATE_TIME)
            .toInstant(ZoneOffset.UTC)))
    } catch { case _: Exception => None }
  }
}
