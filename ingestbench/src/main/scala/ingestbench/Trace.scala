package ingestbench

import graft.schema.{CollectionId, EventSchema}
import graft.sinks.{ColumnarSink, EventSink}
import graft.streaming.HistoricalHandler
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The traced run's recorder. Spans and samples stay in memory and are
  * written out when the run ends. Four sources feed it:
  *  - progress events of the query (batch spans, durations, state operators);
  *  - the delegating [[EventSink]] and [[HistoricalHandler]] wrappers, which
  *    time each call and tag the jobs it submits with the span's id;
  *  - a [[SparkListener]] (jobs, stages and task metrics, keyed by the
  *    micro-batch id Spark sets on every job of a batch);
  *  - a stack sampler over the stream-execution thread (wall shares) and
  *    the task threads (CPU), for the work inside the barrier that has no
  *    boundary the benchmark can wrap.
  *
  * `unlabelledFrames` is a test hook: every engine frame then counts as
  * unattributed, which must fail the run.
  */
final class Tracer(spark: SparkSession, unlabelledFrames: Boolean = false) {
  import Tracer._

  private val sc = spark.sparkContext
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Wall-clock milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  // ---------------------------------------------------------------- spans

  final case class Span(id: Long, name: String, key: String, batch: Long,
                        startMs: Double, endMs: Double)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val spanIds = new AtomicLong(0)

  def span[T](name: String, key: String, batch: Long)(body: => T): T = {
    val id = spanIds.incrementAndGet()
    val prev = sc.getLocalProperty(SparkContextDescription)
    sc.setJobDescription(s"$DescPrefix$name#$id")
    val start = nowMs()
    try body
    finally {
      spans.add(Span(id, name, key, batch, start, nowMs()))
      sc.setJobDescription(prev)
    }
  }

  /** Registry state seen at a batch's first sink call: its field count and
    * cumulative save time. Evolution runs before the writes, save after.
    */
  val registryAt = new ConcurrentHashMap[Long, (Long, Long)]()
  def atBatch(batch: Long, registry: EventSchema.Registry): Unit =
    if (!registryAt.containsKey(batch))
      registryAt.putIfAbsent(batch,
        (registry.all.values.map(_.length.toLong).sum, registry.persistMillis))

  /** Historical part files each hand-off call left, by batch. */
  val historicalFiles = new ConcurrentHashMap[Long, Seq[Path]]()

  def sink(base: ColumnarSink, registry: EventSchema.Registry): EventSink =
    new TracingSink(base, this, registry)
  def historical(h: HistoricalHandler, dir: Path): HistoricalHandler =
    new TracingHistorical(h, this, dir)

  // ------------------------------------------------------- spark listener

  final class JobRec(val id: Int, val batch: Long, val desc: String, val startMs: Long,
                     val stages: Seq[Int]) { @volatile var endMs: Long = 0L }
  final class StageAgg {
    var tasks = 0L; var cpuNs = 0L; var gcMs = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val rec = new JobRec(e.jobId, prop(BatchIdKey).map(_.toLong).getOrElse(-1L),
        prop(SparkContextDescription).getOrElse(""), e.time, e.stageIds)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  })

  def jobOfStage(stage: Int): Option[JobRec] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))

  // -------------------------------------------------------- stack sampler

  final case class DriverSample(ms: Double, label: String)
  final case class CpuSample(ms: Double, label: String, cpuNs: Long)
  val driverSamples = new ConcurrentLinkedQueue[DriverSample]()
  val cpuSamples = new ConcurrentLinkedQueue[CpuSample]()
  /** Unattributed driver stacks, for the trace file. */
  val otherStacks = new ConcurrentHashMap[String, Int]()
  @volatile private var sampling = false
  private var sampler: Thread = null

  def startSampling(): Unit = {
    sampling = true
    sampler = new Thread(() => sampleLoop(), "ingestbench-sampler")
    sampler.setDaemon(true)
    sampler.start()
  }

  def stopSampling(): Unit = {
    sampling = false
    if (sampler != null) sampler.join()
  }

  /** Every live thread, listed without stopping any. */
  private def liveThreads(): Array[Thread] = {
    var g = Thread.currentThread().getThreadGroup
    while (g.getParent != null) g = g.getParent
    var buf = new Array[Thread](256)
    var n = g.enumerate(buf, true)
    while (n == buf.length) { buf = new Array[Thread](buf.length * 2); n = g.enumerate(buf, true) }
    buf.take(n)
  }

  /** One thread dump per tick (a single VM operation) covers the stream
    * thread and the task threads; CPU comes from each thread's own clock.
    */
  private def sampleLoop(): Unit = {
    val mx = ManagementFactory.getThreadMXBean
    val lastCpu = scala.collection.mutable.HashMap.empty[Long, Long]
    while (sampling) {
      val wanted = liveThreads().filter { t =>
        val n = t.getName
        n.startsWith(StreamThreadPrefix) || n.startsWith(TaskThreadPrefix)
      }
      if (wanted.nonEmpty) {
        val now = nowMs()
        mx.getThreadInfo(wanted.map(_.getId), Int.MaxValue).filter(_ != null).foreach { ti =>
          val stack = ti.getStackTrace
          val name = ti.getThreadName
          if (name.startsWith(StreamThreadPrefix)) {
            val label = classifyDriver(stack)
            if (label == Other)
              otherStacks.merge(stack.take(12).mkString(" <- "), 1, (a: Int, b: Int) => a + b)
            driverSamples.add(DriverSample(now, label))
          } else {
            val id = ti.getThreadId
            val cpu = mx.getThreadCpuTime(id)
            val prev = lastCpu.getOrElse(id, cpu)
            lastCpu(id) = cpu
            if (cpu > prev) cpuSamples.add(CpuSample(now, classifyTask(stack, name), cpu - prev))
          }
        }
      }
      Thread.sleep(SamplePeriodMs)
    }
  }

  private def label(f: StackTraceElement): Option[String] =
    if (unlabelledFrames && f.getClassName.startsWith("graft."))
      Some(s"graft:${f.getClassName}.${f.getMethodName}")
    else frameLabel(f)

  /** Driver rule: the innermost classified `graft.` frame names the work
    * the stream thread is doing (or waiting on); without one, Spark's own
    * part of the trigger.
    */
  def classifyDriver(stack: Array[StackTraceElement]): String = {
    val hit = stack.iterator.map(label).collectFirst { case Some(l) => l }
    hit.getOrElse {
      if (stack.exists(f => f.getClassName.contains("ForeachBatchSink"))) "streaming.add_batch_spark"
      else if (stack.exists(_.getClassName.contains("MicroBatchExecution"))) "streaming.bookkeeping"
      else Other
    }
  }

  private val StageInName = """in stage (\d+)\.""".r.unanchored

  /** Task rule: the outermost classified `graft.` frame names the pass the
    * task runs; frames outside the engine count toward the layer whose span
    * submitted the job.
    */
  def classifyTask(stack: Array[StackTraceElement], threadName: String): String = {
    val hit = stack.reverseIterator.map(label).collectFirst { case Some(l) => l }
    hit.getOrElse {
      val desc = threadName match {
        case StageInName(s) => jobOfStage(s.toInt).map(_.desc).getOrElse("")
        case _ => ""
      }
      if (desc.startsWith(DescPrefix + "sinks.insert")) "sinks.write"
      else if (desc.startsWith(DescPrefix + "streaming.historical")) "streaming.historical"
      else "spark.task"
    }
  }

  // --------------------------------------------------------------- report

  /** Per-layer metrics over the timed batches, with the attribution table
    * and the trace file as side outputs, and whether the trace's own checks
    * held: at most [[MaxOtherShare]] of any timed batch's wall time
    * unattributed, and the layer totals equal to the manifest.
    */
  def report(spec: Spec, gen: Gen, progress: Seq[StreamingQueryProgress], warmup: Int,
             dirs: Main.RunDirs, registry: EventSchema.Registry, check: Verify.Result,
             out: Option[Path]): (Seq[(String, String, Double)], Boolean) = {
    val timed = progress.drop(warmup)
    val timedIds = timed.map(_.batchId).toSet
    val driver = driverSamples.asScala.toSeq
    val cpu = cpuSamples.asScala.toSeq
    val allSpans = spans.asScala.toSeq
    val batchDirs = sinkBatchDirs(dirs.sink)
    val manifests = (warmup until progress.size).map(gen.manifest)

    final case class B(id: Long, values: Map[String, Double],
                       attribution: Map[String, Double], cpuMs: Map[String, Double])
    val perBatch = timed.map { p =>
      val b = p.batchId
      val start = Main.startMillis(p).toDouble
      val te = Main.durMs(p, "triggerExecution").toDouble
      val end = start + te
      val add = Main.durMs(p, "addBatch").toDouble
      val krec = spec.perPoll / 1000.0
      val inWin = driver.filter(s => s.ms >= start && s.ms <= end)
      val shares = inWin.groupBy(_.label).map { case (l, xs) => l -> xs.size.toDouble / math.max(1, inWin.size) }
      def share(prefix: String) = shares.filter(_._1.startsWith(prefix)).values.sum
      val cpuWin = cpu.filter(s => s.ms > start && s.ms <= end)
      def cpuMsPerKrec(label: String) = cpuWin.filter(_.label == label).map(_.cpuNs).sum / 1e6 / krec
      val bJobs = jobs.values.asScala.filter(_.batch == b).toSeq
      val bStages = bJobs.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s)))
      def stageSum(f: StageAgg => Long) = bStages.map(f).sum.toDouble
      val state = p.stateOperators.toSeq
      val ins = allSpans.filter(s => s.batch == b && s.name == "sinks.insert")
      val insSum = ins.map(s => s.endMs - s.startMs).sum
      val hist = allSpans.filter(s => s.batch == b && s.name == "streaming.historical")
      val histRecs = Option(historicalFiles.get(b)).map(_.map(f =>
        Files.readAllLines(f).asScala.count(_.nonEmpty).toLong).sum).getOrElse(0L)
      val dropped = state.map(s => Option(s.customMetrics.get("numDroppedDuplicateRows"))
        .map(_.longValue()).getOrElse(0L)).sum
      val realtime = check.realtimeByBatch.getOrElse(b, 0L)
      val reg = Option(registryAt.get(b)).getOrElse((0L, 0L))
      val regPrev = Option(registryAt.get(b - 1)).getOrElse(reg)
      val regNext = Option(registryAt.get(b + 1)).map(_._2).getOrElse(registry.persistMillis)
      val files = batchDirs.getOrElse(b, Nil)
      val values = Map(
        "streaming.add_batch_ms" -> add,
        "streaming.bookkeeping_ms" -> (te - add),
        "streaming.jobs_per_batch" -> bJobs.size.toDouble,
        "streaming.tasks_per_batch" -> stageSum(_.tasks),
        "streaming.gc_ms_per_batch" -> stageSum(_.gcMs),
        "streaming.spill_bytes_per_batch" -> stageSum(_.spill),
        "streaming.shuffle_bytes_per_batch" -> stageSum(_.shuffleWrite),
        "streaming.dedup_ms" -> state.map(s => s.allUpdatesTimeMs + s.allRemovalsTimeMs + s.commitTimeMs).sum.toDouble,
        "streaming.dedup_state_rows" -> state.map(_.numRowsTotal).sum.toDouble,
        "streaming.dedup_state_bytes" -> state.map(_.memoryUsedBytes).sum.toDouble,
        "streaming.dedup_dropped" -> dropped.toDouble,
        "streaming.historical_ms" -> hist.map(s => s.endMs - s.startMs).sum,
        "streaming.historical_records" -> histRecs.toDouble,
        "ops.decouple_cpu_ms_per_krec" -> cpuMsPerKrec("ops.decouple"),
        "ops.decouple_driver_share" -> share("ops.decouple"),
        "ops.day_split_driver_share" -> share("ops.day_split"),
        "ops.realtime_records" -> realtime.toDouble,
        "ops.historical_records" -> histRecs.toDouble,
        "ops.malformed_dropped" -> (spec.perPoll - dropped - realtime - histRecs).toDouble,
        "ingest.infer_cpu_ms_per_krec" -> cpuMsPerKrec("ingest.infer"),
        "ingest.infer_driver_share" -> share("ingest.infer"),
        "ingest.parse_cpu_ms_per_krec" -> cpuMsPerKrec("ingest.parse"),
        "ingest.avro_route_driver_share" -> share("ingest.avro_route"),
        "ingest.avro_decode_cpu_ms_per_krec" -> cpuMsPerKrec("ingest.avro_decode"),
        "schema.evolve_driver_share" -> share("schema.evolve"),
        "schema.columns_added" -> (reg._1 - regPrev._1).toDouble,
        "schema.save_ms" -> (regNext - reg._2).toDouble,
        "sinks.insert_ms" -> insSum,
        "sinks.insert_overlap" -> (if (ins.isEmpty) 0.0 else insSum / unionLength(ins.map(s => (s.startMs, s.endMs)))),
        "sinks.insert_calls" -> ins.size.toDouble,
        "sinks.retries" -> (ins.size - ins.map(_.key).distinct.size).toDouble,
        "sinks.write_cpu_ms_per_krec" -> cpuMsPerKrec("sinks.write"),
        "sinks.files_per_batch" -> files.map(_._2).sum.toDouble,
        "sinks.bytes_per_batch" -> files.map(_._3).sum.toDouble,
        "sinks.dirs_per_batch" -> files.size.toDouble,
        "trace.other_share" -> (shares.getOrElse(Other, 0.0) +
          shares.filter(_._1.startsWith("graft:")).values.sum),
        "trace.driver_samples" -> inWin.size.toDouble)
      B(b, values, shares.map { case (l, s) => l -> s * te },
        cpuWin.groupMapReduce(_.label)(_.cpuNs / 1e6)(_ + _))
    }

    def med(k: String) = Stats.median(perBatch.map(_.values(k)))
    def total(k: String) = perBatch.map(_.values(k)).sum
    val expHist = manifests.map(_.historical.count).sum.toDouble
    val expRt = manifests.map(_.realtime.values.map(_.count).sum).sum.toDouble
    val expResends = manifests.map(_.resends).sum.toDouble
    val expMalformed = manifests.map(_.malformed).sum.toDouble

    val metrics: Seq[(String, String, Double)] = PerBatchMetrics.map { case (n, u, isTotal) =>
      (n, u, if (isTotal) total(n) else med(n))
    } ++ Seq(
      ("sinks.readback_ms", "ms", check.readbackMs),
      ("streaming.source_rows_per_record", "ratio", check.sourceRowsPerRecord),
      ("trace.other_share_max", "ratio", perBatch.map(_.values("trace.other_share")).max))

    // absent layers and the manifest cross-checks
    val absent: Map[String, String] = absentReasons(spec)
    metrics.foreach { case (n, u, v) =>
      val note = absent.find { case (p, _) => n.startsWith(p) }.map(x => s"  (absent: ${x._2})").getOrElse("")
      println(f"[layer] $n%-36s ${Stats.num(v)}%16s $u$note")
    }
    def vsManifest(name: String, want: Double): Boolean = {
      val got = total(name)
      println(s"[layer] check $name total ${got.toLong} vs manifest ${want.toLong}: " +
        (if (got == want) "equal" else "MISMATCH"))
      got == want
    }
    val totalsOk = Seq(
      vsManifest("ops.realtime_records", expRt),
      vsManifest("ops.historical_records", expHist),
      vsManifest("ops.malformed_dropped", expMalformed),
      vsManifest("streaming.dedup_dropped", expResends)).forall(identity)

    // wall-time attribution of the timed batches, by label and by layer
    val labels = perBatch.flatMap(_.attribution.keys).distinct.sorted
    val batchMs = Stats.median(timed.map(p => Main.durMs(p, "triggerExecution").toDouble))
    println(f"[attrib] median per timed batch (trigger $batchMs%.1f ms, ${perBatch.size} batches, " +
      f"${Stats.median(perBatch.map(_.values("trace.driver_samples")))}%.0f driver samples each)")
    labels.foreach { l =>
      val ms = Stats.median(perBatch.map(_.attribution.getOrElse(l, 0.0)))
      println(f"[attrib] $l%-36s $ms%10.1f ms")
    }
    println("[attrib] task CPU by pass, median ms per timed batch:")
    perBatch.flatMap(_.cpuMs.keys).distinct.sorted.foreach { l =>
      println(f"[attrib]   $l%-34s ${Stats.median(perBatch.map(_.cpuMs.getOrElse(l, 0.0)))}%10.1f ms")
    }
    val otherMax = perBatch.map(_.values("trace.other_share")).max
    val attributed = otherMax <= MaxOtherShare
    println(f"[attrib] unattributed (other) max share over timed batches: ${otherMax * 100}%.2f%% " +
      (if (attributed) f"(within ${MaxOtherShare * 100}%.0f%%)"
       else f"FAIL: above ${MaxOtherShare * 100}%.0f%%"))

    out.foreach(f => writeTrace(f, spec, progress, warmup, perBatch.map(b =>
      (b.id, b.values, b.attribution, b.cpuMs)), timedIds))
    (metrics, totalsOk && attributed)
  }

  private def writeTrace(f: Path, spec: Spec, progress: Seq[StreamingQueryProgress], warmup: Int,
                         batches: Seq[(Long, Map[String, Double], Map[String, Double], Map[String, Double])],
                         timedIds: Set[Long]): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""
    def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}:${Stats.num(v)}" }.mkString("{", ",", "}")
    val sb = new StringBuilder
    sb.append("{\"workload\":").append(q(spec.name)).append(",\"warmup_batches\":").append(warmup)
    sb.append(",\"batches\":[")
    sb.append(progress.map { p =>
      val b = batches.find(_._1 == p.batchId)
      s"""{"id":${p.batchId},"timed":${timedIds(p.batchId)},"start_ms":${Main.startMillis(p)},""" +
        s""""records":${p.numInputRows},"duration_ms":${p.durationMs.asScala.map { case (k, v) =>
          s"${q(k)}:${v.longValue()}" }.mkString("{", ",", "}")}""" +
        b.map(x => s""","metrics":${obj(x._2)},"attribution_ms":${obj(x._3)},""" +
          s""""task_cpu_ms":${obj(x._4)}""").getOrElse("") + "}"
    }.mkString(","))
    sb.append("],\"spans\":[")
    sb.append(spans.asScala.toSeq.sortBy(_.startMs).map(s =>
      s"""{"id":${s.id},"name":${q(s.name)},"key":${q(s.key)},"parent_batch":${s.batch},""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""").mkString(","))
    sb.append("],\"jobs\":[")
    sb.append(jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      val st = j.stages.flatMap(s => Option(stages.get(s)))
      s"""{"id":${j.id},"parent_batch":${j.batch},"description":${q(j.desc)},""" +
        s""""start_ms":${j.startMs},"end_ms":${j.endMs},"stages":${j.stages.size},""" +
        s""""tasks":${st.map(_.tasks).sum},"cpu_ms":${st.map(_.cpuNs).sum / 1000000},""" +
        s""""gc_ms":${st.map(_.gcMs).sum},"shuffle_write_bytes":${st.map(_.shuffleWrite).sum},""" +
        s""""spill_bytes":${st.map(_.spill).sum}}"""
    }.mkString(","))
    sb.append("],\"unattributed_driver_stacks\":[")
    sb.append(otherStacks.asScala.toSeq.sortBy(-_._2).take(20).map { case (k, n) =>
      s"""{"samples":$n,"stack":${q(k)}}""" }.mkString(","))
    sb.append("]}")
    Files.createDirectories(f.toAbsolutePath.getParent)
    Files.write(f, sb.toString.getBytes("UTF-8"))
    println(s"[trace] spans, jobs and per-batch attribution written to $f")
  }
}

object Tracer {
  /** Per-layer metrics taken per timed batch: name, unit, and whether the
    * run reports their total (else the median over timed batches).
    */
  val PerBatchMetrics: Seq[(String, String, Boolean)] = Seq(
    ("streaming.add_batch_ms", "ms", false),
    ("streaming.bookkeeping_ms", "ms", false),
    ("streaming.jobs_per_batch", "count", false),
    ("streaming.tasks_per_batch", "count", false),
    ("streaming.gc_ms_per_batch", "ms", false),
    ("streaming.spill_bytes_per_batch", "bytes", false),
    ("streaming.shuffle_bytes_per_batch", "bytes", false),
    ("streaming.dedup_ms", "ms", false),
    ("streaming.dedup_state_rows", "count", false),
    ("streaming.dedup_state_bytes", "bytes", false),
    ("streaming.dedup_dropped", "count", true),
    ("streaming.historical_ms", "ms", false),
    ("streaming.historical_records", "count", false),
    ("ops.decouple_cpu_ms_per_krec", "ms/krec", false),
    ("ops.decouple_driver_share", "ratio", false),
    ("ops.day_split_driver_share", "ratio", false),
    ("ops.realtime_records", "count", true),
    ("ops.historical_records", "count", true),
    ("ops.malformed_dropped", "count", true),
    ("ingest.infer_cpu_ms_per_krec", "ms/krec", false),
    ("ingest.infer_driver_share", "ratio", false),
    ("ingest.parse_cpu_ms_per_krec", "ms/krec", false),
    ("ingest.avro_route_driver_share", "ratio", false),
    ("ingest.avro_decode_cpu_ms_per_krec", "ms/krec", false),
    ("schema.evolve_driver_share", "ratio", false),
    ("schema.columns_added", "count", true),
    ("schema.save_ms", "ms", false),
    ("sinks.insert_ms", "ms", false),
    ("sinks.insert_overlap", "ratio", false),
    ("sinks.insert_calls", "count", false),
    ("sinks.retries", "count", true),
    ("sinks.write_cpu_ms_per_krec", "ms/krec", false),
    ("sinks.files_per_batch", "count", false),
    ("sinks.bytes_per_batch", "bytes", false),
    ("sinks.dirs_per_batch", "count", false))

  val SamplePeriodMs = 20L
  /** Largest share of a timed batch's wall time the trace may leave unattributed. */
  val MaxOtherShare = 0.05
  val Other = "other"
  val DescPrefix = "ingestbench:"
  val BatchIdKey = "streaming.sql.batchId"
  val SparkContextDescription = "spark.job.description"
  val StreamThreadPrefix = "stream execution thread"
  val TaskThreadPrefix = "Executor task launch worker"

  /** Module of a `graft.` frame, by the function it belongs to. Lambdas
    * (`$anonfun$name$n`) count as their enclosing function except where a
    * function only orchestrates (then the frame is skipped and the next one
    * decides). Unknown engine functions get a `graft:` label, which counts
    * as unattributed.
    */
  def frameLabel(f: StackTraceElement): Option[String] = {
    val cls = f.getClassName
    if (!cls.startsWith("graft.") || cls.contains("$$Lambda") ||
        f.getMethodName == "$deserializeLambda$") return None
    val simple = cls.substring(cls.lastIndexOf('.') + 1).stripSuffix("$")
    val m = f.getMethodName
    val lambda = m.startsWith("$anonfun$")
    val base = (if (lambda) m.stripPrefix("$anonfun$") else m).takeWhile(_ != '$')
    (simple, base) match {
      case ("EventOps", "decouple") => Some("ops.decouple")
      case ("JsonEventParser", "decouple") => Some("ops.decouple")
      case ("EventOps", "daySplit") => Some("ops.day_split")
      case ("EventOps", _) => Some("ops.plan")
      case ("JsonIngest", "inferSchemasWithCounts" | "inferSchemas") => Some("ingest.infer")
      case ("JsonEventParser", "inferEvent") => Some("ingest.infer")
      case ("JsonIngest", "parseCollection" | "parseCohort" | "parseAllRouted") => Some("ingest.parse")
      case ("JsonEventParser", "parseEvent") => Some("ingest.parse")
      case ("AvroIngest", "routingOf") => Some("ingest.avro_route")
      case ("AvroIngest", "decodeTagged" | "decodeRecord" | "toRow") => Some("ingest.avro_decode")
      case ("AvroIngest", "processBatch") if !lambda => Some("ingest.avro_route")
      case ("AvroIngest", _) => None
      case ("EventSchema$Registry", n) if n.startsWith("save") || n.startsWith("load") ||
        n == "writeAtomic" => Some("schema.save")
      case ("EventSchema$Registry" | "EventSchema", _) => Some("schema.evolve")
      case ("FileHistoricalHandler" | "KafkaHistoricalHandler", _) => Some("streaming.historical")
      case ("IngestStream", "deduplicated") => Some("streaming.dedup")
      case ("IngestStream", "processBatch") if !lambda => Some("streaming.process_batch")
      case ("IngestStream", "start" | "startAvro") => Some("streaming.foreach_batch")
      case ("IngestStream", "withRetry") => Some("sinks.retry")
      case ("IngestStream", _) => None
      case ("ParallelWrites", _) => Some("sinks.parallel_writes")
      case ("ObservedCount", _) => Some("sinks.observed_count")
      case ("ColumnarSink" | "EventSink", _) => Some("sinks.write")
      case _ => Some(s"graft:$simple.$m")
    }
  }

  def unionLength(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) { if (!curS.isNaN) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    math.max(total, 1e-9)
  }

  /** `batch=N` directories at rest → (dir, data files, data bytes), by N. */
  def sinkBatchDirs(root: Path): Map[Long, Seq[(Path, Int, Long)]] = {
    if (!Files.exists(root)) return Map.empty
    val s = Files.walk(root)
    val dirs = try s.iterator().asScala.filter(d => Files.isDirectory(d) &&
      d.getFileName.toString.matches("batch=\\d+")).toList finally s.close()
    dirs.map { d =>
      val fs = Verify.dataFiles(d)
      (d.getFileName.toString.stripPrefix("batch=").toLong, (d, fs.size, fs.map(Files.size).sum))
    }.groupMap(_._1)(_._2)
  }

  def absentReasons(spec: Spec): Map[String, String] = {
    val m = Map.newBuilder[String, String]
    if (spec.avro) {
      m += "ops.decouple" -> "the Avro wire has no JSON decouple pass"
      m += "ops.day_split" -> "the Avro path has no day split"
      m += "ingest.infer" -> "Avro schemas come fixed from the registry"
      m += "ingest.parse" -> "no JSON parse on the Avro wire"
      m += "streaming.historical" -> "the Avro path has no historical hand-off"
      m += "ops.historical" -> "the Avro path has no historical hand-off"
    } else m += "ingest.avro" -> "JSON wire"
    if (spec.resendShare == 0) m += "streaming.dedup" -> "dedup is off on this workload"
    m.result()
  }
}

/** Delegating sink: a span around every insert, jobs tagged with its id. */
final class TracingSink(delegate: ColumnarSink, @transient tracer: Tracer,
                        @transient registry: EventSchema.Registry) extends EventSink {
  override def getColumns(id: CollectionId) = delegate.getColumns(id)
  override def insert(id: CollectionId, df: DataFrame): Unit =
    tracer.span("sinks.insert", id.collection, -1L)(delegate.insert(id, df))
  override def insert(id: CollectionId, df: DataFrame, batchId: Long): Unit = {
    tracer.atBatch(batchId, registry)
    tracer.span("sinks.insert", id.collection, batchId)(delegate.insert(id, df, batchId))
  }
  override def supportsConsolidated: Boolean = delegate.supportsConsolidated
  override def insertConsolidated(rows: DataFrame, batchId: Long): Unit = {
    tracer.atBatch(batchId, registry)
    tracer.span("sinks.insert", "cohort:" + rows.schema.json.hashCode.toHexString, batchId)(
      delegate.insertConsolidated(rows, batchId))
  }
}

/** Delegating historical hand-off: a span per call, and the part files it
  * left, so the traced run can count records per batch afterwards.
  */
final class TracingHistorical(delegate: HistoricalHandler, @transient tracer: Tracer,
                              dir: Path) extends HistoricalHandler {
  override def handle(raw: DataFrame): Unit = {
    val batch = Option(raw.sparkSession.sparkContext.getLocalProperty(Tracer.BatchIdKey))
      .map(_.toLong).getOrElse(-1L)
    val before = Verify.dataFiles(dir).toSet
    tracer.span("streaming.historical", "historical", batch)(delegate.handle(raw))
    tracer.historicalFiles.put(batch, Verify.dataFiles(dir).filterNot(before))
    ()
  }
}
