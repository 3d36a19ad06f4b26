package ingestbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** One workload: the shape of the seeded event stream it replays. */
final case class Spec(
    name: String,
    avro: Boolean,           // tagged-Avro wire (IngestStream.startAvro) vs Fabric JSON
    perPoll: Int,            // records per micro-batch (one generated group)
    collections: Int,
    families: Int,           // distinct property sets; collections share them round-robin
    lateShare: Double,       // records 2-20 days old, handed to the historical output
    resendShare: Double,     // exact copies of an earlier record, dropped by dedup
    malformedShare: Double,  // envelopes the decouple pass cannot route
    evolving: Boolean,       // collection 0 gains one field per group
    nominalBatchS: Double)   // sizes the timed drain: ceil(--seconds / nominalBatchS) polls

object Spec {
  val JsonPoll = Spec("json_poll", avro = false, perPoll = 80000, collections = 5,
    families = 5, lateShare = 0, resendShare = 0, malformedShare = 0, evolving = false,
    nominalBatchS = 4.3)
  val AvroPoll = JsonPoll.copy(name = "avro_poll", avro = true, nominalBatchS = 2.8)
  val StressMix = Spec("stress_mix", avro = false, perPoll = 10000, collections = 100,
    families = 10, lateShare = 0.10, resendShare = 0.02, malformedShare = 0.005,
    evolving = true, nominalBatchS = 7.0)
  val all: Seq[Spec] = Seq(JsonPoll, AvroPoll, StressMix)
  def apply(name: String): Spec = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}

/** Expected contents of one collection (or of the historical output). */
final case class Tally(count: Long, checksum: Long) {
  def +(o: Tally): Tally = Tally(count + o.count, checksum + o.checksum)
}
object Tally {
  val zero: Tally = Tally(0, 0)
  /** Order-independent checksum term over (event id, value). */
  def term(eid: Long, value: Double): Long =
    Gen.mix64(eid * 0x9E3779B97F4A7C15L ^ java.lang.Double.doubleToLongBits(value))
}

/** What one generated group (= one poll) must produce. */
final case class GroupManifest(
    realtime: Map[String, Tally],  // per collection
    historical: Tally,
    resends: Int,
    malformed: Int)

/** Seeded generator. Every record is a pure function of (seed, event id),
  * and every group's kind layout (late / re-send / malformed positions) a
  * pure function of (seed, group), so the verifier can regenerate any
  * record without keeping the input. Shares are exact per group.
  *
  * Event times are anchored to the UTC day the input is generated on,
  * because the engine's day split compares them with `current_date()`:
  * real-time events fall on the anchor day, late ones 2-20 days before it.
  * The same seed therefore gives the same bytes within one UTC day.
  */
final class Gen(val spec: Spec, seed: Long, anchorMillis: Long) {
  import Gen._

  val project = "bench"
  def collection(c: Int): String = f"c$c%03d"

  private val seedMix = mix64(seed ^ 0x5DEECE66DL)

  // unequal collection sizes: weight 1 + (c*7 mod 11), cumulative for picks
  private val cumWeights: Array[Int] =
    (0 until spec.collections).map(c => 1 + (c * 7) % 11).scanLeft(0)(_ + _).tail.toArray

  /** Property names and kinds (0 double, 1 string, 2 boolean) of a family. */
  def familyProps(f: Int): IndexedSeq[(String, Int)] =
    (0 until PropsPerRecord).map(k => (s"f${f}p$k", (k + f) % 3))
  def familyOf(c: Int): Int = c % spec.families

  /** Event id = group * GroupStride + index. An event's time is its day plus
    * its id in milliseconds, so (user, time) pairs never repeat as long as
    * ids stay below one day of milliseconds (under 86 groups).
    */
  require(spec.perPoll < GroupStride, s"perPoll must be < $GroupStride")
  def eid(g: Int, i: Int): Long = g.toLong * GroupStride + i
  def groupOf(eid: Long): Int = (eid / GroupStride).toInt

  /** Kinds of a group's records, exact shares by construction. */
  def kinds(g: Int): Array[Byte] = {
    val n = spec.perPoll
    val out = Array.fill[Byte](n)(Normal)
    val perm = Array.tabulate(n)(identity)
    val r = new SplittableRandom(mix64(seedMix ^ (g.toLong * 0x2545F4914F6CDD1DL)))
    var k = n - 1
    while (k > 0) { val j = r.nextInt(k + 1); val t = perm(k); perm(k) = perm(j); perm(j) = t; k -= 1 }
    val nMal = math.round(n * spec.malformedShare).toInt
    val nRes = math.round(n * spec.resendShare).toInt
    val nLate = math.round(n * spec.lateShare).toInt
    var p = 0
    while (p < nMal + nRes + nLate) {
      out(perm(p)) = if (p < nMal) Malformed else if (p < nMal + nRes) Resend else Late
      p += 1
    }
    out
  }

  /** Source event id of each re-send in group `g` (half from the previous
    * poll, so the dedup state must span batches; the rest from this one).
    */
  def resendSources(g: Int, kind: Array[Byte]): Map[Int, Long] = {
    val r = new SplittableRandom(mix64(seedMix ^ (g.toLong * 0x9E3779B97F4A7C15L) ^ 0xABCDL))
    val prevKinds = if (g > 0) kinds(g - 1) else null
    def pick(ks: Array[Byte]): Int = {
      var j = r.nextInt(ks.length)
      while (ks(j) != Normal && ks(j) != Late) j = r.nextInt(ks.length)
      j
    }
    kind.indices.filter(kind(_) == Resend).map { i =>
      if (prevKinds != null && r.nextBoolean()) i -> eid(g - 1, pick(prevKinds))
      else i -> eid(g, pick(kind))
    }.toMap
  }

  /** The record content every encoding shares. */
  final class Rec(val eid: Long) {
    private val r = new SplittableRandom(mix64(seedMix ^ mix64(eid)))
    val coll: Int = {
      val x = r.nextInt(cumWeights.last)
      val i = java.util.Arrays.binarySearch(cumWeights, x + 1)
      if (i >= 0) i else -i - 1
    }
    val user: String = "u" + r.nextInt(20000)
    val value: Double = r.nextInt(10000000) / 100.0
    val lateDays: Int = 2 + r.nextInt(19)
    /** Property values in family order: Double, String or Boolean. */
    val props: IndexedSeq[Any] = familyProps(familyOf(coll)).zipWithIndex.map {
      case ((_, 0), k) => if (k % 2 == 0) r.nextInt(1000).toDouble else r.nextInt(100000) / 100.0
      case ((_, 1), k) => if (k % 2 == 0) Vocab(r.nextInt(Vocab.length)) else randomWord(r)
      case _           => r.nextBoolean()
    }
    def timeMillis(late: Boolean): Long =
      if (late) anchorMillis - lateDays.toLong * DayMillis + eid else anchorMillis + eid
  }

  def rec(eid: Long): Rec = new Rec(eid)

  /** Fabric JSON envelope of a record; `late` puts it 2-20 days back. */
  def json(rec: Rec, late: Boolean): String = {
    val sb = new java.lang.StringBuilder(512)
    sb.append("{\"id\":\"").append(rec.eid).append("\",\"metadata\":{},\"data\":{")
    sb.append("\"_project\":\"").append(project).append("\",\"_collection\":\"")
      .append(collection(rec.coll)).append("\",\"_time\":").append(rec.timeMillis(late))
      .append(",\"_user\":\"").append(rec.user).append("\",\"eid\":").append(rec.eid)
      .append(",\"value\":").append(rec.value)
    familyProps(familyOf(rec.coll)).zip(rec.props).foreach { case ((name, _), v) =>
      sb.append(",\"").append(name).append("\":")
      v match {
        case d: Double if d == math.rint(d) => sb.append(d.toLong)
        case d: Double  => sb.append(d)
        case s: String  => sb.append('"').append(s).append('"')
        case b: Boolean => sb.append(b)
        case other      => throw new IllegalStateException(s"unexpected value $other")
      }
    }
    if (spec.evolving && rec.coll == 0) sb.append(",\"x").append(groupOf(rec.eid)).append("\":1")
    sb.append("}}").toString
  }

  /** An envelope with no routing fields: the decouple pass drops it. */
  def malformedJson(eid: Long): String =
    "{\"id\":\"" + eid + "\",\"metadata\":{},\"data\":{\"_pro"

  /** Expected outcome of one group; the same for every encoding. */
  def manifest(g: Int): GroupManifest = {
    val kind = kinds(g)
    val rt = scala.collection.mutable.HashMap.empty[String, Tally]
    var hist = Tally.zero
    var i = 0
    while (i < kind.length) {
      kind(i) match {
        case Normal =>
          val r = rec(eid(g, i))
          val c = collection(r.coll)
          rt(c) = rt.getOrElse(c, Tally.zero) + Tally(1, Tally.term(r.eid, r.value))
        case Late =>
          val r = rec(eid(g, i))
          hist = hist + Tally(1, Tally.term(r.eid, r.value))
        case _ => ()
      }
      i += 1
    }
    GroupManifest(rt.toMap, hist,
      resends = kind.count(_ == Resend), malformed = kind.count(_ == Malformed))
  }

  /** The lines of group `g` in file order (JSON encoding). */
  def jsonLines(g: Int): Iterator[String] = {
    val kind = kinds(g)
    val src = resendSources(g, kind)
    val prevKinds = if (src.values.exists(groupOf(_) != g)) kinds(g - 1) else null
    def kindOfEid(e: Long): Byte = if (groupOf(e) == g) kind((e % GroupStride).toInt)
      else prevKinds((e % GroupStride).toInt)
    Iterator.range(0, kind.length).map { i =>
      kind(i) match {
        case Malformed => malformedJson(eid(g, i))
        case Resend    => val e = src(i); json(rec(e), late = kindOfEid(e) == Late)
        case k         => json(rec(eid(g, i)), late = k == Late)
      }
    }
  }

  /** Write group `g` as `parts` files into `dir`, stamped with a
    * per-group modification time so the file source takes exactly one
    * group per trigger under `maxFilesPerTrigger = parts`.
    */
  def writeGroup(g: Int, dir: Path, parts: Int): Seq[Path] = {
    Files.createDirectories(dir)
    val n = spec.perPoll
    val bounds = (0 to parts).map(p => (p.toLong * n / parts).toInt)
    val files =
      if (spec.avro) writeAvroGroup(g, dir, bounds)
      else {
        val lines = jsonLines(g)
        (0 until parts).map { p =>
          val f = dir.resolve(f"g$g%05d-p$p%03d.json")
          val w = Files.newBufferedWriter(f, StandardCharsets.UTF_8)
          try {
            var i = bounds(p)
            while (i < bounds(p + 1)) { w.write(lines.next()); w.write('\n'); i += 1 }
          } finally w.close()
          f
        }
      }
    files.foreach(f => Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(MtimeBase + g * 10000L)))
    files
  }

  /** Avro rows of a collection in the order JSON inference produces them. */
  def rowSchema(c: Int): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("_time", TimestampType), StructField("_user", StringType),
      StructField("eid", DoubleType), StructField("value", DoubleType)) ++
      familyProps(familyOf(c)).map { case (name, k) =>
        StructField(name, k match { case 0 => DoubleType; case 1 => StringType; case _ => BooleanType })
      })
  }

  /** Tagged Avro (tag 0, key `project.collection`) in (key, value) parquet,
    * the Kafka record shape `IngestStream.startAvro` reads.
    */
  private def writeAvroGroup(g: Int, dir: Path, bounds: IndexedSeq[Int]): Seq[Path] = {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    require(!spec.evolving && spec.resendShare == 0 && spec.malformedShare == 0,
      "the Avro wire carries plain records only")
    val schemas = (0 until spec.collections).map(c =>
      graft.ingest.AvroIngest.avroSchema(rowSchema(c), collection(c)))
    val writers = schemas.map(s => new GenericDatumWriter[GenericRecord](s))
    val pq = MessageTypeParser.parseMessageType(
      "message kafka { required binary key (UTF8); required binary value; }")
    val factory = new SimpleGroupFactory(pq)
    val kind = kinds(g)
    val out = new java.io.ByteArrayOutputStream(512)
    var enc: org.apache.avro.io.BinaryEncoder = null
    bounds.indices.dropRight(1).map { p =>
      val f = dir.resolve(f"g$g%05d-p$p%03d.parquet")
      Files.deleteIfExists(f)
      val w = ExampleParquetWriter.builder(new org.apache.parquet.io.LocalOutputFile(f))
        .withType(pq).build()
      try {
        var i = bounds(p)
        while (i < bounds(p + 1)) {
          val r = rec(eid(g, i))
          val rec0 = new GenericData.Record(schemas(r.coll))
          rec0.put("_time", r.timeMillis(kind(i) == Late))
          rec0.put("_user", r.user)
          rec0.put("eid", r.eid.toDouble)
          rec0.put("value", r.value)
          familyProps(familyOf(r.coll)).zip(r.props).foreach { case ((name, _), v) => rec0.put(name, v) }
          out.reset(); out.write(0) // tag 0: collection from the key
          enc = org.apache.avro.io.EncoderFactory.get().directBinaryEncoder(out, enc)
          writers(r.coll).write(rec0, enc)
          enc.flush()
          w.write(factory.newGroup()
            .append("key", s"$project.${collection(r.coll)}")
            .append("value", Binary.fromConstantByteArray(out.toByteArray)))
          i += 1
        }
      } finally w.close()
      f
    }
  }
}

object Gen {
  val Normal: Byte = 0
  val Late: Byte = 1
  val Resend: Byte = 2
  val Malformed: Byte = 3

  val PropsPerRecord = 13
  val GroupStride = 1000000L
  val DayMillis: Long = 86400000L
  /** Fixed base for input modification times; only their order matters. */
  val MtimeBase: Long = 1700000000000L

  /** Dictionary-friendly string values (the other string columns are random). */
  val Vocab: IndexedSeq[String] = (for {
    a <- Seq("alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "theta")
    b <- Seq("red", "green", "blue", "amber", "cyan")
  } yield s"${a}_$b").toIndexedSeq

  private val Alnum = "abcdefghijklmnopqrstuvwxyz0123456789"
  def randomWord(r: SplittableRandom): String = {
    val n = 8 + r.nextInt(9)
    val cs = new Array[Char](n)
    var i = 0
    while (i < n) { cs(i) = Alnum.charAt(r.nextInt(Alnum.length)); i += 1 }
    new String(cs)
  }

  /** Stafford variant 13 of the splitmix64 finalizer. */
  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Midnight UTC of the current day. */
  def anchorToday(): Long = {
    val now = System.currentTimeMillis()
    now - Math.floorMod(now, DayMillis)
  }
}
