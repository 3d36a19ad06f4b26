package graft

import graft.schema.{CollectionId, EventSchema}
import graft.sinks.{ColumnarSink, EventSink, MemorySink}
import graft.streaming.{FileHistoricalHandler, HistoricalHandler, IngestConfig, IngestStream}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.{CurrentBatchTimestamp, CurrentDate, CurrentTimestampLike, LocalTimestamp}

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Batch-level behavior of `IngestStream.processBatch`: the late-data
  * hand-off runs only when the day split found late rows, and one clock
  * reading serves the whole batch.
  */
class IngestBatchSpec extends SparkSpec {

  private def fabric(coll: String, time: Long, extra: String = ""): String =
    s"""{"data":{"_project":"p","_collection":"$coll","_time":$time,"_user":"u1"$extra}}"""

  private val lateMillis =
    java.time.Instant.now().minus(java.time.Duration.ofDays(40)).toEpochMilli

  /** Hand-off that counts its calls and keeps the frames it was given. */
  private final class Recording(delegate: HistoricalHandler) extends HistoricalHandler {
    val frames = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    override def handle(raw: DataFrame): Unit = { frames.add(raw); delegate.handle(raw) }
  }

  /** Jobs submitted while `f` runs, counted after the listener bus drained. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try { f; ListenerBusDrain(sc); jobs.get() }
    finally sc.removeSparkListener(listener)
  }

  private def batch(lines: Seq[String]): Dataset[String] = {
    import spark.implicits._
    lines.toDS()
  }

  test("an all-real-time batch submits no hand-off job; one late record is still handed off") {
    val now = System.currentTimeMillis()
    val realTime = batch((1 to 20).map(i => fabric(if (i % 2 == 0) "a" else "b", now + i)))
    def run(h: Option[HistoricalHandler]): Int = jobsDuring {
      IngestStream.processBatch(spark, realTime, new EventSchema.Registry(), new MemorySink,
        h, IngestConfig())
    }
    val dir = Files.createTempDirectory("hist")
    val handler = new Recording(new FileHistoricalHandler(s"$dir/data"))
    run(None) // warm-up: first-use planning and codegen
    val withHandler = run(Some(handler))
    val withoutHandler = run(None)
    assert(handler.frames.isEmpty, "the hand-off ran on a batch without late records")
    assert(withHandler == withoutHandler,
      s"$withHandler jobs with a hand-off target vs $withoutHandler without")

    val sink = new MemorySink
    val mixed = batch(fabric("a", now) +: fabric("a", lateMillis, ""","late":1""") +:
      (1 to 5).map(i => fabric("b", now + i)))
    val counts = IngestStream.processBatch(spark, mixed, new EventSchema.Registry(), sink,
      Some(handler), IngestConfig())
    assert(handler.frames.size == 1)
    val handed = spark.read.text(s"$dir/data").collect().map(_.getString(0))
    assert(handed.length == 1 && handed.head.contains("\"late\":1"))
    assert(counts(CollectionId("p", "a")) == 1 && counts(CollectionId("p", "b")) == 5)
  }

  test("no frame of a batch reads the clock: day split and _shard_time are literals") {
    val frames = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    val base = Files.createTempDirectory("clock").toString
    val columnar = new ColumnarSink(base)
    // records the frame of every write shape, then writes it for real
    val sink = new EventSink {
      override def getColumns(id: CollectionId) = columnar.getColumns(id)
      override def insert(id: CollectionId, df: DataFrame): Unit = {
        frames.add(df); columnar.insert(id, df)
      }
      override def insert(id: CollectionId, df: DataFrame, batchId: Long): Unit = {
        frames.add(df); columnar.insert(id, df, batchId)
      }
      override def supportsConsolidated: Boolean = true
      override def insertConsolidated(rows: DataFrame, batchId: Long): Unit = {
        frames.add(rows); columnar.insertConsolidated(rows, batchId)
      }
    }
    val handler = new Recording(new FileHistoricalHandler(
      Files.createTempDirectory("hist").toString + "/data"))
    val now = System.currentTimeMillis()
    // three same-schema collections (a cohort at threshold 2) plus one with
    // its own schema (a single write), and one late record
    val lines = Seq("a", "b", "c").flatMap(c => (1 to 3).map(i => fabric(c, now + i))) ++
      Seq(fabric("d", now, ""","x":1"""), fabric("a", lateMillis))
    IngestStream.processBatch(spark, batch(lines), new EventSchema.Registry(), sink,
      Some(handler), IngestConfig(consolidateThreshold = 2), batchId = 0L)
    val all = frames.asScala.toSeq ++ handler.frames.asScala
    assert(frames.size == 2 && handler.frames.size == 1, s"${frames.size} writes")
    all.foreach { df =>
      val clocks = df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
        case e @ (_: CurrentDate | _: CurrentTimestampLike | _: LocalTimestamp |
                  _: CurrentBatchTimestamp) => e
      }))
      assert(clocks.isEmpty, s"frame reads the clock: $clocks\n${df.queryExecution.analyzed}")
    }
    // one instant for the whole batch: every written row carries the same _shard_time
    val shard = columnar.readAll(spark).select("_shard_time").distinct().collect()
    assert(shard.length == 1, shard.mkString(", "))
  }
}
