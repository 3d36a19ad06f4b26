package graft

import graft.ingest.{JsonDialect, JsonEventParser}
import graft.schema.FieldNames
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Differential parity of the token-walk JSON kernels against the tree
  * oracle ([[JsonTreeOracle]]): on seeded envelopes of both dialects —
  * duplicate keys at every level, null / empty / nested containers,
  * date- and timestamp-shaped strings, numeric `_time`, strings over 100
  * characters, Rakam's unknown top-level keys, truncated JSON — the kernels
  * must make the same skip-or-keep decision, infer the same fields and
  * per-collection schemas (column order included), and parse the same rows.
  */
class JsonKernelParitySpec extends AnyFunSuite {
  private val names = FieldNames()
  private val PerDialect = 5000

  private def samples[T](gen: Gen[T], n: Int, seed: Long): Seq[T] = {
    val out = Seq.newBuilder[T]
    var i = 0
    var tries = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default.withSize(12), Seed(seed + tries)).foreach { t =>
        out += t; i += 1
      }
      tries += 1
    }
    out.result()
  }

  // ------------------------------------------------------------ generators

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c    => sb += c
    }
    sb += '"'
    sb.result()
  }

  private val stringGen: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("a", "word", "", " TRUE ", "true", "42", "3.5", "-7", "1e3", "x y",
      "aGVsbG8=", "01:02:03", "23:59", "é ü ☃", "line\nbreak", "quo\"te", "back\\slash"),
    3 -> Gen.oneOf("2024-01-05", "2024-13-45", "abcd-ef-gh", "2024-1-5", "20240105ab",
      "1999-12-31", "+024-01-05"),
    3 -> Gen.oneOf("2024-01-05 10:20:30", "2024-01-05T10:20:30.123Z",
      "2024-01-05T10:20:30+02:00", "2024-01-05T10:20:30-05:30", "2024-01-05 25:61:00",
      "2024-01-05T10:20:30.123456789", "2024-01-05X10:20:30", "2024-01-05T10:20"),
    2 -> Gen.alphaNumStr.map(_.take(30)),
    1 -> Gen.chooseNum(95, 140).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'é', '☃', '"', ' ')).map(_.mkString)))

  private val numberGen: Gen[String] = Gen.frequency(
    3 -> Gen.chooseNum(-100000L, 100000L).map(_.toString),
    2 -> Gen.oneOf("0", "-0", "1.5", "-2.25e-3", "1E3", "0.1", "-0.0",
      "9223372036854775807", "9223372036854775808", "123456789012345678901234567890",
      "1700000000000", "1.7e12", "86399", "4.9e-324"),
    1 -> Gen.chooseNum(-1e9, 1e9).map(_.toString))

  private val scalarGen: Gen[String] = Gen.frequency(
    2 -> Gen.const("null"),
    2 -> Gen.oneOf("true", "false"),
    5 -> numberGen,
    6 -> stringGen.map(quote))

  private val keyGen: Gen[String] = Gen.frequency(
    8 -> Gen.oneOf("a", "b", "c", "n", "s", "arr", "m", "_user", "x1"),
    2 -> Gen.oneOf("_time", "_shard_time", "_project", "_collection", "data", "project"),
    1 -> Gen.alphaLowerStr.map(s => "k" + s.take(6)))

  private def valueGen(depth: Int): Gen[String] =
    if (depth <= 0) scalarGen
    else Gen.frequency(
      8 -> scalarGen,
      2 -> arrayGen(depth - 1),
      2 -> objectGen(depth - 1))

  private def arrayGen(depth: Int): Gen[String] = Gen.frequency(
    1 -> Gen.const("[]"),
    1 -> Gen.oneOf("[null]", "[null,1]", "[null,[1]]", "[null,{\"a\":1}]", "[[],[]]",
      "[{\"a\":1,\"a\":2}]", "[1,\"a\",true,null]", "[\"2024-01-05\",\"x\"]"),
    3 -> Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, valueGen(depth)))
      .map(_.mkString("[", ",", "]")))

  private def objectGen(depth: Int): Gen[String] = Gen.frequency(
    1 -> Gen.const("{}"),
    1 -> Gen.oneOf("{\"a\":null}", "{\"a\":null,\"b\":[1]}", "{\"a\":1,\"a\":\"dup\"}",
      "{\"k\":\"2024-01-05\"}", "{\"x\":{\"y\":[1,2]}}"),
    3 -> Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, Gen.zip(keyGen, valueGen(depth))))
      .map(_.map { case (k, v) => quote(k) + ":" + v }.mkString("{", ",", "}")))

  private val projectGen: Gen[String] = Gen.frequency(
    8 -> Gen.oneOf("p", "P", "proj").map(quote),
    1 -> Gen.oneOf("\"\"", "\"_x\"", "\".hidden\"", "\"a/b\"", "1", "null", "{}", "[\"p\"]"))
  private val collectionGen: Gen[String] = Gen.frequency(
    8 -> Gen.oneOf("c1", "c2", "C1", "events").map(quote),
    1 -> Gen.oneOf("\"\"", "\"_c\"", "\"a\\\\b\"", quote("c" * 101), "2", "null", "[]"))

  private val timeGen: Gen[String] = Gen.oneOf(
    Gen.const("1700000000000"), Gen.const("1.7e12"), Gen.const("-1"),
    Gen.const(quote("2024-01-05 10:20:30")), Gen.const(quote("junk")), Gen.const("null"),
    Gen.const("[1]"), Gen.const("{\"t\":1}"))

  /** Event object entries; routing entries may repeat (first wins). */
  private def eventEntries(routed: Boolean): Gen[List[(String, String)]] = for {
    n     <- Gen.choose(0, 10)
    props <- Gen.listOfN(n, Gen.zip(keyGen, valueGen(2)))
    time  <- Gen.option(timeGen)
    proj  <- Gen.listOfN(if (routed) 1 else 0, projectGen)
    proj2 <- Gen.option(projectGen)
    coll  <- Gen.listOfN(if (routed) 1 else 0, collectionGen)
    coll2 <- Gen.option(collectionGen)
    dropR <- Gen.frequency(12 -> false, 1 -> true)
    order <- Gen.choose(0, Int.MaxValue)
  } yield {
    val routing =
      (if (dropR) Nil else proj.map("_project" -> _) ++ coll.map("_collection" -> _)) ++
      (if (routed) proj2.map("_project" -> _) ++ coll2.map("_collection" -> _) else Nil)
    val all = props ++ time.map("_time" -> _) ++ routing
    // a seeded rotation keeps routing keys anywhere in the object
    val k = if (all.isEmpty) 0 else order % all.size
    val rotated = all.drop(k) ++ all.take(k)
    // duplicate some entries later in the object
    rotated ++ rotated.filter(_ => order % 3 == 0).take(2).map { case (key, _) => key -> "\"dup\"" }
  }

  private def obj(entries: Seq[(String, String)]): String =
    entries.map { case (k, v) => quote(k) + ":" + v }.mkString("{", ",", "}")

  private val fabricGen: Gen[String] = for {
    data     <- eventEntries(routed = true)
    before   <- Gen.listOfN(2, Gen.zip(Gen.oneOf("id", "metadata", "x"), valueGen(1)))
    after    <- Gen.listOfN(1, Gen.zip(Gen.oneOf("id", "meta", "z"), valueGen(1)))
    dataKind <- Gen.frequency(20 -> 0, 1 -> 1, 1 -> 2, 1 -> 3)
    dupData  <- Gen.frequency(6 -> false, 1 -> true)
  } yield {
    val dataValue = dataKind match {
      case 0 => obj(data)
      case 1 => "[1,2]"
      case 2 => "null"
      case _ => quote("data")
    }
    val root = before.toList ++
      (if (dataKind == 3) Nil else List("data" -> dataValue)) ++
      (if (dupData) List("data" -> obj(List("_project" -> "\"q\"", "_collection" -> "\"dup\""))) else Nil) ++
      after
    obj(root)
  }

  private val rakamGen: Gen[String] = for {
    props   <- eventEntries(routed = false)
    proj    <- projectGen
    coll    <- collectionGen
    dupProj <- Gen.option(projectGen)
    api     <- Gen.option(valueGen(1))
    unknown <- Gen.frequency(8 -> None, 1 -> Some("extra"), 1 -> Some("Project"))
    shape   <- Gen.frequency(20 -> 0, 1 -> 1, 1 -> 2)
    order   <- Gen.choose(0, 7)
  } yield {
    val propsValue = shape match {
      case 0 => obj(props)
      case 1 => "[]"
      case _ => "\"props\""
    }
    val entries = List("project" -> proj, "collection" -> coll, "properties" -> propsValue) ++
      dupProj.map("project" -> _) ++ api.map("api" -> _) ++ unknown.map(_ -> "1") ++
      (if (order == 0) List("properties" -> obj(List("a" -> "\"second\""))) else Nil)
    val k = order % entries.size
    obj(entries.drop(k) ++ entries.take(k))
  }

  /** Truncations, trailing content and non-object documents. */
  private def damaged(valid: Gen[String]): Gen[String] = Gen.frequency(
    16 -> valid,
    2 -> valid.flatMap(s => Gen.choose(0, math.max(0, s.length - 1)).map(s.take)),
    1 -> valid.map(_ + " trailing"),
    1 -> Gen.oneOf("", "[1,2]", "\"str\"", "42", "{", "}", "{\"data\":{}}", "not json",
      "{\"data\":{\"_project\":\"p\",\"_collection\":\"c\",\"a\":1,}}",
      "{\"data\":{\"_project\":\"p\",\"_collection\":\"c\",\"a\":\"\\x\"}}"))

  // ---------------------------------------------------------- comparison

  /** A row's values with exact doubles (bit patterns) and byte arrays by
    * content, so `-0.0` vs `0.0` or a different array instance cannot hide.
    */
  private def canon(v: Any): Any = v match {
    case null               => null
    case d: java.lang.Double => ("double", java.lang.Double.doubleToRawLongBits(d))
    case b: Array[Byte]     => ("bytes", b.toSeq)
    case s: Seq[_]          => ("seq", s.map(canon))
    case m: Map[_, _]       => ("map", m.toSeq.map { case (k, x) => (k, canon(x)) }.toSet)
    case d: java.math.BigDecimal => ("decimal", d.unscaledValue, d.scale)
    case other              => (other.getClass.getName, other)
  }
  private def canonRow(r: Row): Seq[Any] = r.toSeq.map(canon)

  private val scalarTypes: Seq[DataType] = Seq(StringType, BooleanType, DoubleType, LongType,
    IntegerType, DateType, TimestampType, DecimalType(38, 18), BinaryType)

  private val dataTypeGen: Gen[DataType] = Gen.frequency(
    10 -> Gen.oneOf(scalarTypes),
    3 -> Gen.oneOf(scalarTypes).map(ArrayType(_, containsNull = true)),
    3 -> Gen.oneOf(scalarTypes).map(MapType(StringType, _, valueContainsNull = true)),
    1 -> Gen.oneOf[DataType](TimestampNTZType, StructType(Seq(StructField("f", StringType)))))

  /** Declared schemas over the generator's key pool, every target type. */
  private val schemaGen: Gen[StructType] = for {
    ks  <- Gen.someOf("a", "b", "c", "n", "s", "arr", "m", "_user", "x1", "_time",
                      "_project", "_shard_time", "data", "kfoo")
    tps <- Gen.listOfN(ks.size, dataTypeGen)
  } yield StructType(ks.toSeq.zip(tps).map { case (k, t) => StructField(k, t) })

  private def checkDialect(dialect: JsonDialect, gen: Gen[String], seed: Long): Unit = {
    val jsons = samples(damaged(gen), PerDialect, seed)
    var kept = 0
    jsons.foreach { json =>
      val expected = JsonTreeOracle.inferEvent(json, dialect, names)
      val actual = JsonEventParser.inferEvent(json, dialect, names)
      assert(actual.map { case (id, f) => (id, f.toSeq) } ==
        expected.map { case (id, f) => (id, f.toSeq) }, s"inferEvent on $json")
      if (expected.isDefined) kept += 1
    }
    // both outcomes must be well represented, or the comparison says little
    assert(kept > PerDialect / 3 && kept < PerDialect * 9 / 10, s"kept $kept of $PerDialect")

    // the partition fold: same collections, order, schemas and counts
    val fold = new JsonEventParser.InferFold(dialect, names)
    jsons.foreach(fold.add)
    val folded = fold.result.toSeq
    assert(folded == JsonTreeOracle.inferFold(jsons.iterator, dialect, names))
    assert(folded.nonEmpty)

    // parse: one plan reused over every record, per schema — the inferred
    // ones plus declared schemas of every target type
    val schemas = folded.map(_._2) ++ samples(schemaGen, 24, seed + 7777)
    schemas.foreach { schema =>
      val plan = new JsonEventParser.ParsePlan(schema, dialect, names)
      jsons.foreach { json =>
        val expected = JsonTreeOracle.parseEvent(json, dialect, schema, names)
        val values = plan.parse(json)
        assert((values != null) == expected.isDefined, s"skip decision on $json vs $schema")
        expected.foreach { case (id, row) =>
          assert(plan.id == id)
          assert(canonRow(Row.fromSeq(values.toSeq)) == canonRow(row), s"row of $json vs $schema")
        }
        val single = JsonEventParser.parseEvent(json, dialect, schema, names)
        assert(single.map { case (id, r) => (id, canonRow(r)) } ==
          expected.map { case (id, r) => (id, canonRow(r)) }, s"parseEvent on $json")
      }
    }
  }

  test(s"Fabric: $PerDialect envelopes match the tree oracle (infer, fold, parse)") {
    checkDialect(JsonDialect.Fabric, fabricGen, 1000L)
  }

  test(s"Rakam: $PerDialect envelopes match the tree oracle (infer, fold, parse)") {
    checkDialect(JsonDialect.Rakam, rakamGen, 2000L)
  }

  test("duplicate-name tracking stays exact past its table bound") {
    // more distinct names than the per-walk table keeps: the table is
    // dropped at a record boundary and first-wins must still hold
    val jsons = (0 until 6000).map { i =>
      s"""{"data":{"_project":"p","_collection":"c","u$i":$i,"u$i":"dup","a":"x","a":1}}"""
    }
    val fold = new JsonEventParser.InferFold(JsonDialect.Fabric, names)
    jsons.foreach(fold.add)
    assert(fold.result.toSeq == JsonTreeOracle.inferFold(jsons.iterator, JsonDialect.Fabric, names))
    val schema = StructType(Seq(StructField("a", StringType), StructField("u5999", StringType)))
    val plan = new JsonEventParser.ParsePlan(schema, JsonDialect.Fabric, names)
    jsons.foreach { json =>
      val values = plan.parse(json)
      val (_, row) = JsonTreeOracle.parseEvent(json, JsonDialect.Fabric, schema, names).get
      assert(canonRow(Row.fromSeq(values.toSeq)) == canonRow(row))
    }
  }
}
