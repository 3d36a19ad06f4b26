package ingestbench

import graft.schema.CollectionId
import graft.sinks.ColumnarSink
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Read-back verifier: every collection through `ColumnarSink.read`, plus
  * the historical text output, compared record by record with what the
  * generator says the consumed groups must produce.
  */
object Verify {

  final case class Result(
      correct: Boolean,
      expected: Long,            // records that should reach the sink or the historical output
      failed: Long,              // of those: missing, duplicated, altered or misplaced
      sinkRecords: Long,
      readbackMs: Double,
      sourceRowsPerRecord: Double,  // Spark's numInputRows over records offered
      realtimeByBatch: Map[Long, Long],
      messages: Seq[String])

  /** Groups whose per-collection tallies are compared across wires. */
  val PrefixGroups = 5

  def check(spark: SparkSession, gen: Gen, dirs: Main.RunDirs,
            progress: Seq[StreamingQueryProgress], groups: Int, dedup: Boolean): Result = {
    val msgs = Seq.newBuilder[String]
    var ok = true
    def fail(m: String): Unit = { ok = false; msgs += s"FAIL $m" }

    // one poll per micro-batch; the per-record checks below show every
    // record of the consumed groups arrived exactly once
    if (progress.size != groups)
      fail(s"${progress.size} batches ran, expected $groups")
    val inputRows = groups.toLong * gen.spec.perPoll

    val manifests = (0 until groups).map(gen.manifest)
    val expRt = manifests.flatMap(_.realtime).groupMapReduce(_._1)(_._2)(_ + _)
    val expHist = manifests.map(_.historical).foldLeft(Tally.zero)(_ + _)
    val expResends = manifests.map(_.resends.toLong).sum
    val expMalformed = manifests.map(_.malformed.toLong).sum

    // sink read-back: one ColumnarSink.readAll over every collection at rest
    val sink = new ColumnarSink(dirs.sink.toString)
    val t0 = System.nanoTime()
    val rows: Map[CollectionId, Array[(Long, Double, Long)]] =
      if (collectionsAt(dirs.sink).isEmpty) Map.empty
      else sink.readAll(spark)
        .select(col("project"), col("collection"), col("eid"), col("value"),
          col("batch").cast("long"))
        .collect()
        .groupMap(r => CollectionId(r.getString(0), r.getString(1)))(r =>
          (r.getDouble(2).toLong, r.getDouble(3), r.getLong(4)))
    val readbackMs = (System.nanoTime() - t0) / 1e6
    val sinkRecords = rows.values.map(_.length.toLong).sum

    var failed = 0L
    val names = (expRt.keySet ++ rows.keySet.map(_.collection)).toSeq.sorted
    names.foreach { c =>
      val actual = rows.collectFirst { case (id, rs) if id.collection == c => rs }
        .getOrElse(Array.empty[(Long, Double, Long)])
      val tally = actual.foldLeft(Tally.zero)((t, r) => t + Tally(1, Tally.term(r._1, r._2)))
      val want = expRt.getOrElse(c, Tally.zero)
      if (tally != want) {
        val expected = expectedRealtime(gen, groups, c)
        val bad = diff(expected, actual.map(r => (r._1, r._2)))
        failed += bad.total
        fail(s"collection ${gen.project}/$c: expected ${want.count} records, found " +
          s"${tally.count} (${bad.describe})")
      }
    }

    // historical output: the raw envelopes the day split handed off
    val histLines = textLines(dirs.historical)
    val hist = histLines.map(parseEidValue)
    val histTally = hist.foldLeft(Tally.zero)((t, r) => t + Tally(1, Tally.term(r._1, r._2)))
    if (histTally != expHist) {
      val expected = (0 until groups).flatMap { g =>
        val k = gen.kinds(g)
        k.indices.filter(k(_) == Gen.Late).map { i => val r = gen.rec(gen.eid(g, i)); r.eid -> r.value }
      }.toMap
      val bad = diff(expected, hist)
      failed += bad.total
      fail(s"historical output: expected ${expHist.count} records, found ${histTally.count} " +
        s"(${bad.describe})")
    }

    // expected drops: re-sends at dedup, unroutable envelopes at decouple
    val dedupDropped = progress.flatMap(_.stateOperators)
      .map(s => Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue()).getOrElse(0L))
      .sum
    if (dedup && dedupDropped != expResends)
      fail(s"dedup dropped $dedupDropped records, manifest has $expResends re-sends")
    val malformedDropped = inputRows - dedupDropped - sinkRecords - hist.size
    if (malformedDropped != expMalformed)
      fail(s"$malformedDropped records dropped before the sink, manifest has $expMalformed " +
        "unparseable envelopes")

    // per-collection tallies over a fixed group prefix, comparable across wires
    val prefix = names.map { c =>
      val t = rows.collectFirst { case (id, rs) if id.collection == c => rs }.getOrElse(Array.empty)
        .filter(r => gen.groupOf(r._1) < PrefixGroups)
        .foldLeft(Tally.zero)((t, r) => t + Tally(1, Tally.term(r._1, r._2)))
      s"$c=${t.count}:${t.checksum}"
    }
    msgs += s"prefix$PrefixGroups ${prefix.mkString(" ")}"
    msgs += s"sink ${sinkRecords} records in ${rows.size} collections, historical ${hist.size}, " +
      s"dedup dropped $dedupDropped, malformed dropped $malformedDropped, read-back " +
      f"$readbackMs%.1f ms"

    val realtimeByBatch = rows.values.flatten.groupMapReduce(_._3)(_ => 1L)(_ + _)
    val sourceRows = progress.map(_.numInputRows).sum.toDouble / inputRows
    if (sourceRows != 1.0)
      msgs += f"note: the source reported $sourceRows%.2f input rows per record offered " +
        "(numInputRows counts every execution of the source scan in a batch)"
    Result(ok && failed == 0, expRt.values.map(_.count).sum + expHist.count, failed,
      sinkRecords, readbackMs, sourceRows, realtimeByBatch, msgs.result())
  }

  final case class Diff(missing: Long, extra: Long, altered: Long) {
    def total: Long = missing + extra + altered
    def describe: String = s"missing $missing, duplicated or misplaced $extra, altered $altered"
  }

  /** Record-level difference between the expected (event id → value) map
    * and the rows found.
    */
  def diff(expected: Map[Long, Double], actual: Iterable[(Long, Double)]): Diff = {
    val seen = scala.collection.mutable.HashMap.empty[Long, Int]
    var extra = 0L; var altered = 0L
    actual.foreach { case (e, v) =>
      val n = seen.getOrElse(e, 0) + 1
      seen(e) = n
      expected.get(e) match {
        case None => extra += 1
        case Some(_) if n > 1 => extra += 1
        case Some(x) if x != v => altered += 1
        case _ => ()
      }
    }
    Diff(expected.keys.count(e => !seen.contains(e)).toLong, extra, altered)
  }

  def expectedRealtime(gen: Gen, groups: Int, c: String): Map[Long, Double] =
    (0 until groups).flatMap { g =>
      val k = gen.kinds(g)
      k.indices.filter(k(_) == Gen.Normal).map(i => gen.rec(gen.eid(g, i)))
        .filter(r => gen.collection(r.coll) == c).map(r => r.eid -> r.value)
    }.toMap

  private val EidValue = "\"eid\":(\\d+),\"value\":([^,}]+)".r.unanchored
  def parseEidValue(line: String): (Long, Double) = line match {
    case EidValue(e, v) => (e.toLong, v.toDouble)
    case _ => (-1L, Double.NaN)
  }

  /** `project=…/collection=…` directories at rest. */
  def collectionsAt(root: Path): Seq[CollectionId] = {
    def kids(p: Path, prefix: String): Seq[(String, Path)] =
      if (!Files.isDirectory(p)) Nil
      else {
        val s = Files.list(p)
        try s.iterator().asScala.filter(d => Files.isDirectory(d) &&
          d.getFileName.toString.startsWith(prefix))
          .map(d => d.getFileName.toString.stripPrefix(prefix) -> d).toList
        finally s.close()
      }
    kids(root, "project=").flatMap { case (p, pd) =>
      kids(pd, "collection=").map { case (c, _) => CollectionId(p, c) }
    }.sortBy(_.collection)
  }

  def dataFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && {
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }).toList
      finally s.close()
    }

  def textLines(root: Path): Seq[String] =
    dataFiles(root).flatMap(f => Files.readAllLines(f).asScala).filter(_.nonEmpty)

  /** Bytes at rest under `root`, every regular file counted. */
  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Test hook: duplicate one data file of the first collection, the way
    * a sink that re-committed a batch would.
    */
  def corrupt(sinkRoot: Path): Unit = {
    val id = collectionsAt(sinkRoot).head
    val dir = sinkRoot.resolve(s"project=${id.project}").resolve(s"collection=${id.collection}")
    val victim = dataFiles(dir).filter(_.toString.endsWith(".parquet")).minBy(_.toString)
    Files.copy(victim, victim.resolveSibling("part-99999-duplicate.snappy.parquet"))
    println(s"[corrupt] duplicated $victim")
  }
}
