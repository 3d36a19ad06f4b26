package graft

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import graft.ingest.{JsonDialect, JsonEventParser, MalformedEventException}
import graft.ingest.JVal
import graft.schema.{CollectionId, EventSchema, FieldNames, FieldType}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.time.{Instant, LocalDate}
import scala.collection.mutable

/** Differential oracle for the JSON event kernels: the tree-based envelope
  * parse, inference and coercion they replaced, kept verbatim. Every
  * record is read into a full first-wins [[JVal]] tree before any rule
  * applies, and inference folds one `StructType` per event with
  * `EventSchema.evolve`. Slow by design; only specs call it.
  */
object JsonTreeOracle {
  import JVal._

  val MaxStringLength = 100

  private val factory = new JsonFactory()

  // ------------------------------------------------------------- envelope

  /** Full parse of the envelope: routing id + the properties object. */
  def parseEnvelope(json: String, dialect: JsonDialect): Option[(CollectionId, JObj)] =
    try {
      val p = factory.createParser(json)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return None
        val root = read(p).asInstanceOf[JObj]
        envelopeOf(root, dialect)
      } finally p.close()
    } catch { case _: Exception => None }

  private def envelopeOf(root: JObj, dialect: JsonDialect): Option[(CollectionId, JObj)] =
    dialect match {
      case JsonDialect.Fabric =>
        root.toMap.get("data") match {
          case Some(data: JObj) =>
            (data.toMap.get("_project"), data.toMap.get("_collection")) match {
              case (Some(JStr(proj)), Some(JStr(coll)))
                  if CollectionId.isValid(proj, coll) =>
                Some((CollectionId.normalize(proj, coll), data))
              case _ => None
            }
          case _ => None
        }
      case JsonDialect.Rakam =>
        val allowed = Set("project", "collection", "properties", "api")
        if (root.fields.exists { case (k, _) => !allowed(k) })
          throw new MalformedEventException("unknown top-level field")
        (root.toMap.get("project"), root.toMap.get("collection"),
         root.toMap.get("properties")) match {
          case (Some(JStr(proj)), Some(JStr(coll)), Some(props: JObj))
              if CollectionId.isValid(proj, coll) =>
            Some((CollectionId.normalize(proj, coll), props))
          case _ => None
        }
    }

  // -------------------------------------------------------------- inference

  /** Infer the field types of one event. Returns the routing id plus fields
    * in document order (duplicates: first wins; null/empty: skipped).
    * Routing/reserved fields are excluded from the data columns.
    */
  def inferEvent(json: String, dialect: JsonDialect, names: FieldNames)
      : Option[(CollectionId, mutable.LinkedHashMap[String, FieldType])] =
    try {
      parseEnvelope(json, dialect).map { case (id, data) =>
        val out = mutable.LinkedHashMap.empty[String, FieldType]
        data.fields.foreach { case (name, v) =>
          if (!isReserved(name, names) && !out.contains(name))
            inferValue(v, name, names).foreach(ft => out += name -> ft)
        }
        (id, out)
      }
    } catch { case _: Exception => None }

  private def isReserved(name: String, names: FieldNames): Boolean =
    name == "_project" || name == "_collection" || name == names.checkpointField

  /** getTypeForUnknown (ref :497-602). None = do not create a column. */
  def inferValue(v: JVal, fieldName: String, names: FieldNames): Option[FieldType] = {
    if (fieldName == names.timeField) return Some(FieldType.FTimestamp) // _time rule, ref :500-502
    v match {
      case JNull    => None
      case _: JNum  => Some(FieldType.FDouble) // ints infer DOUBLE, ref :529-531
      case _: JBool => Some(FieldType.FBoolean)
      case JStr(s) =>
        if (looksLikeDate(s)) Some(FieldType.FDate)
        else if (looksLikeTimestamp(s)) Some(FieldType.FTimestamp)
        else Some(FieldType.FString)
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

  /** Parse one event against a fixed schema; values aligned to `schema`
    * field order, missing fields null. Returns None for malformed records or
    * scalar type mismatches (record-skip semantics, ref
    * JsonMessageEventTransformer.java:50-60).
    */
  def parseEvent(json: String, dialect: JsonDialect, schema: StructType,
                 names: FieldNames): Option[(CollectionId, Row)] =
    try {
      parseEnvelope(json, dialect).flatMap { case (id, data) =>
        val values = new Array[Any](schema.length)
        val idx = schema.fieldNames.zipWithIndex.toMap
        data.fields.foreach { case (name, v) =>
          idx.get(name) match {
            case Some(i) =>
              values(i) = coerce(v, FieldType.fromSpark(schema(i).dataType),
                                 isTime = schema(i).name == names.timeField, dialect)
            case None => ()
          }
        }
        Some((id, new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(values, schema)))
      }
    } catch {
      case _: MalformedEventException => None
      case _: Exception => None
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
  def coerce(v: JVal, target: FieldType, isTime: Boolean, dialect: JsonDialect): Any = {
    if (v == JNull) return null
    target match {
      case FieldType.FString => v match {
        case JStr(s)  => truncate(s) // ref :325-328
        case JNum(t)  => truncate(t)
        case JBool(b) => b.toString
        case c        => JVal.encode(c) // container → JSON-encoded, ref :488-490
      }
      case FieldType.FBoolean => v match {
        case JBool(b) => java.lang.Boolean.valueOf(b)
        case JNum(t)  => java.lang.Boolean.valueOf(asLongLenient(t) != 0L)
        case JStr(s)  => java.lang.Boolean.valueOf(s.trim.equalsIgnoreCase("true"))
        case _        => null
      }
      case FieldType.FDouble => v match {
        case n: JNum  => java.lang.Double.valueOf(n.toDouble)
        case JStr(s)  => java.lang.Double.valueOf(asDoubleLenient(s))
        case JBool(b) => java.lang.Double.valueOf(if (b) 1.0 else 0.0)
        case _        => null
      }
      case FieldType.FLong => v match {
        case n: JNum  => java.lang.Long.valueOf(n.toLong)
        case JStr(s)  => java.lang.Long.valueOf(asLongLenient(s))
        case JBool(b) => java.lang.Long.valueOf(if (b) 1L else 0L)
        case _        => null
      }
      case FieldType.FInteger => v match {
        case n: JNum  => java.lang.Integer.valueOf(n.toLong.toInt)
        case JStr(s)  => java.lang.Integer.valueOf(asLongLenient(s).toInt)
        case JBool(b) => java.lang.Integer.valueOf(if (b) 1 else 0)
        case _        => null
      }
      case FieldType.FTime => v match {
        case n: JNum => java.lang.Integer.valueOf(n.toLong.toInt) // seconds-of-day
        case JStr(s) =>
          try java.lang.Integer.valueOf(java.time.LocalTime.parse(s).toSecondOfDay)
          catch { case _: Exception => null }
        case _ => null
      }
      case FieldType.FDecimal => v match {
        case JNum(t) => new java.math.BigDecimal(t)
        case JStr(s) => try new java.math.BigDecimal(s.trim)
                        catch { case _: Exception => null }
        case _       => null
      }
      case FieldType.FDate => v match {
        case JStr(s) => parseDate(s).orNull // un-parseable → null (ref :356-372)
        case _       => null // numeric → null (ref :360-362)
      }
      case FieldType.FTimestamp => v match {
        case n: JNum =>
          // Fabric: epoch millis accepted; Rakam: numeric timestamps → null
          // except for the canonical `_time` field (ref :373-390 vs Rakam :363-377)
          if (dialect.numericTimestamps || isTime)
            java.sql.Timestamp.from(Instant.ofEpochMilli(n.toLong))
          else null
        case JStr(s) => parseTimestamp(s).orNull
        case _       => null
      }
      case FieldType.FBinary => v match {
        case JStr(s) => try java.util.Base64.getDecoder.decode(s)
                        catch { case _: Exception => null }
        case _       => null
      }
      case FieldType.FArray(elem) => v match {
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
      case FieldType.FMap(valueT) => v match {
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
    }
  }

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

  def parseDate(s: String): Option[java.sql.Date] =
    if (s.length != 10) None
    else try Some(java.sql.Date.valueOf(LocalDate.parse(s)))
    catch { case _: Exception => None }

  def looksLikeTimestamp(s: String): Boolean = JsonEventParser.looksLikeTimestamp(s)
  def parseTimestamp(s: String): Option[java.sql.Timestamp] = JsonEventParser.parseTimestamp(s)

  // ---------------------------------------------------------------- fold

  /** The per-event inference fold the partition kernel replaced: one
    * `StructType` per event, merged with `EventSchema.evolve`.
    */
  def inferFold(jsons: Iterator[String], dialect: JsonDialect, names: FieldNames)
      : Seq[(CollectionId, StructType, Long)] = {
    val acc = mutable.LinkedHashMap.empty[CollectionId, (StructType, Long)]
    jsons.foreach { json =>
      inferEvent(json, dialect, names).foreach { case (id, fields) =>
        val observed = StructType(fields.toSeq.map { case (n, ft) =>
          StructField(n, ft.sparkType, nullable = true)
        })
        acc(id) = acc.get(id) match {
          case Some((cur, n)) => (EventSchema.evolve(cur, observed), n + 1)
          case None           => (observed, 1L)
        }
      }
    }
    acc.iterator.map { case (id, (st, n)) => (id, st, n) }.toSeq
  }
}
