package ingestbench

import graft.schema.{CollectionId, EventSchema}
import graft.sinks.{ColumnarSink, EventSink}
import graft.streaming.{FileHistoricalHandler, HistoricalHandler, IngestConfig, IngestStream}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import java.nio.file.{Files, Path, Paths}

/** Ingest benchmark driver: replays a seeded event stream through the
  * engine's streaming entry points (`IngestStream.start` for Fabric JSON,
  * `IngestStream.startAvro` for tagged Avro) into a `ColumnarSink`, checks
  * the sink and the historical output against the generator's manifest,
  * and prints one JSON result line last.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--trace-out <file>] [--corrupt-sink] [--unlabelled-frames]`, or
  * `Main --gen-only --workload <name> --seed <n> --work <dir>`.
  */
object Main {

  /** Warm-up groups drained before the timed region; they count toward
    * `setup_s`, which runs from SparkSession creation to the first timed
    * trigger start. Batches keep getting faster for the first few while the
    * JIT compiles, so fewer warm-up groups leave that trend in the timed
    * batches.
    */
  val Warmup = 4
  /** Upper bound on timed groups, which keeps event times inside one day. */
  val MaxTimedGroups = 60
  val MinTimedGroups = 2
  /** Groups `--gen-only` writes. */
  val GenOnlyGroups = 2

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, traceOut: Option[Path], corruptSink: Boolean,
                        unlabelledFrames: Boolean, genOnly: Boolean)

  private val Flags = Set("--corrupt-sink", "--unlabelled-frames", "--gen-only")

  def parse(argv: Array[String]): Args = {
    val kv = scala.collection.mutable.HashMap.empty[String, String]
    val flags = scala.collection.mutable.HashSet.empty[String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i)
      if (Flags(k)) { flags += k; i += 1 }
      else if (k.startsWith("--") && i + 1 < argv.length) { kv(k) = argv(i + 1); i += 2 }
      else throw new IllegalArgumentException(s"unexpected argument '$k'")
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, kv.getOrElse("--seconds", "10").toInt,
      kv.getOrElse("--trace", "0") == "1", Paths.get(need("--work")),
      kv.get("--trace-out").map(Paths.get(_)), flags("--corrupt-sink"),
      flags("--unlabelled-frames"), flags("--gen-only"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spec = Spec(args.workload)
    if (args.genOnly) { genOnly(spec, args); return }
    val code =
      try { if (run(spec, args)) 0 else 1 }
      catch { case e: Throwable => e.printStackTrace(); 2 }
      finally deleteTree(args.work)
    System.out.flush()
    // a non-daemon thread left by a library must not keep a failed run alive
    System.exit(code)
  }

  /** Write the first groups and print one SHA-256 over every input byte. */
  private def genOnly(spec: Spec, args: Args): Unit = {
    val gen = new Gen(spec, args.seed, Gen.anchorToday())
    val cpus = Runtime.getRuntime.availableProcessors()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (0 until GenOnlyGroups).foreach { g =>
      gen.writeGroup(g, args.work, cpus).sortBy(_.toString).foreach { f =>
        md.update(f.getFileName.toString.getBytes("UTF-8"))
        md.update(Files.readAllBytes(f))
      }
    }
    println(md.digest().map("%02x".format(_)).mkString)
  }

  /** Per-query progress plus process CPU at each batch commit; kept in
    * untraced runs too (one callback per batch).
    */
  final class ProgressLog extends StreamingQueryListener {
    final case class Entry(p: StreamingQueryProgress, cpuNanos: Long, hostCpu: HostCpu)
    val entries = new java.util.concurrent.ConcurrentLinkedQueue[Entry]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      entries.add(Entry(e.progress, processCpuNanos(), HostCpu.now())); ()
    }
    def of(q: StreamingQuery): Seq[Entry] = {
      import scala.jdk.CollectionConverters._
      entries.asScala.filter(_.p.runId == q.runId).toSeq
        .filter(_.p.numInputRows > 0).sortBy(_.p.batchId)
    }
  }

  def processCpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** Host-wide CPU jiffies from /proc/stat: all, and stolen by the hypervisor. */
  final case class HostCpu(total: Long, steal: Long) {
    def stealShareSince(o: HostCpu): Double =
      if (total > o.total) (steal - o.steal).toDouble / (total - o.total) else 0.0
  }
  object HostCpu {
    def now(): HostCpu = {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        HostCpu(v.take(8).sum, if (v.length > 7) v(7) else 0L)
      } finally f.close()
    }
  }

  def vmHwmMb(): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    val line = try f.getLines().find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      finally f.close()
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Heap in use after a full collection: the data the engine retains. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def startMillis(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def durMs(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(0L)

  /** Directories of one run: input, checkpoint, sink, historical output. */
  final class RunDirs(root: Path) {
    val input: Path = root.resolve("input")
    val checkpoint: Path = root.resolve("checkpoint")
    val sink: Path = root.resolve("sink")
    val historical: Path = root.resolve("historical")
    Files.createDirectories(input)
  }

  def session(work: Path, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("ingestbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def run(spec: Spec, args: Args): Boolean = {
    val cpus = Runtime.getRuntime.availableProcessors()
    deleteTree(args.work)
    val gen = new Gen(spec, args.seed, Gen.anchorToday())
    // a fixed amount of timed work per workload, sized so the drain takes
    // about --seconds on a 4-vCPU box
    val timed = math.min(MaxTimedGroups, math.max(MinTimedGroups,
      math.ceil(args.seconds / spec.nominalBatchS).toInt))
    val tGen = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    val dirs = new RunDirs(args.work.resolve("run"))
    try {
      (0 until Warmup + timed).map(g => pool.submit(() => gen.writeGroup(g, dirs.input, cpus)))
        .foreach(_.get())
    } finally pool.shutdown()
    val genS = (System.nanoTime() - tGen) / 1e9

    val t0 = System.currentTimeMillis()
    val spark = session(args.work, cpus)
    val sessionS = (System.currentTimeMillis() - t0) / 1e3
    val log = new ProgressLog
    spark.streams.addListener(log)
    val tracer = if (args.trace) Some(new Tracer(spark, args.unlabelledFrames)) else None
    val cfg = IngestConfig(availableNow = true,
      dedupWithinWatermark = if (spec.resendShare > 0) Some("30 days") else None)

    // one query start drains the warm-up groups, then the timed ones
    val registry = new EventSchema.Registry()
    if (spec.avro) (0 until spec.collections).foreach(c =>
      registry.put(CollectionId(gen.project, gen.collection(c)), gen.rowSchema(c)))
    val base = new ColumnarSink(dirs.sink.toString)
    val sink: EventSink = tracer.map(_.sink(base, registry)).getOrElse(base)
    val hist0: HistoricalHandler = new FileHistoricalHandler(dirs.historical.toString)
    val hist = tracer.map(_.historical(hist0, dirs.historical)).getOrElse(hist0)
    tracer.foreach(_.startSampling())
    val q =
      if (spec.avro) {
        val source = spark.readStream.schema("key STRING, value BINARY")
          .option("maxFilesPerTrigger", cpus).parquet(dirs.input.toString)
        IngestStream.startAvro(spark, source, registry, sink, dirs.checkpoint.toString, cfg)
      } else {
        val source = IngestStream.fileSource(spark, dirs.input.toString, Some(cpus))
        IngestStream.start(spark, source, registry, sink, Some(hist),
          dirs.checkpoint.toString, cfg)
      }
    q.awaitTermination()
    tracer.foreach(_.stopSampling())
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val progress = log.of(q)
    require(progress.size == Warmup + timed, s"the query ran ${progress.size} batches")
    val hwm = vmHwmMb()
    val liveHeap = liveHeapMb()
    val groups = Warmup + timed
    val w = Warmup
    val timedP = progress.drop(w)

    if (args.corruptSink) Verify.corrupt(dirs.sink)
    val check = Verify.check(spark, gen, dirs, progress.map(_.p).toSeq, groups,
      dedup = spec.resendShare > 0)
    check.messages.foreach(m => println(s"[verify] $m"))

    // end-to-end metrics over the timed drain
    val recordsIn = timedP.size.toLong * spec.perPoll
    val wallMs = (startMillis(timedP.last.p) + durMs(timedP.last.p, "triggerExecution")) -
      startMillis(timedP.head.p)
    val cpuNs = timedP.last.cpuNanos - progress(w - 1).cpuNanos
    val steal = timedP.last.hostCpu.stealShareSince(progress(w - 1).hostCpu)
    val batchMs = timedP.map(e => durMs(e.p, "triggerExecution").toDouble)
    val sinkBytes = Verify.treeBytes(dirs.sink)
    val setupS = (startMillis(timedP.head.p) - t0) / 1e3
    val e2e = Seq(
      ("records_per_s", "records/s", recordsIn / (wallMs / 1e3)),
      ("batch_p50_ms", "ms", Stats.median(batchMs)),
      ("cpu_s_per_mrec", "s", cpuNs / 1e9 / (recordsIn / 1e6)),
      ("peak_rss_mb", "MiB", hwm),
      ("live_heap_mb", "MiB", liveHeap),
      ("sink_bytes_per_rec", "bytes", sinkBytes.toDouble / math.max(1L, check.sinkRecords)),
      ("setup_s", "s", setupS))
    val failedShare = check.failed.toDouble / math.max(1L, check.expected)

    println(f"[run] workload=${spec.name} seed=${args.seed} cpus=$cpus " +
      f"groups=$groups (warm-up $w, timed $timed) " +
      f"records_per_poll=${spec.perPoll}")
    println(f"[run] input generation $genS%.3f s (excluded from setup_s); " +
      f"session ${sessionS}%.3f s; warm-up trigger ms " +
      progress.take(w).map(e => durMs(e.p, "triggerExecution")).mkString(" "))
    println(f"[run] host CPU stolen by the hypervisor during the timed drain: ${steal * 100}%.1f%%")
    println(s"[run] timed trigger ms " + batchMs.map(_.toLong).mkString(" "))
    e2e.foreach { case (n, u, v) => println(f"[e2e] $n%-20s $v%14.4f $u") }
    println(f"[e2e] ${"failed_share"}%-20s $failedShare%14.6f ratio")
    Stats.tail(batchMs) match {
      case Some((pct, v)) => println(f"[e2e] ${"batch_tail_ms"}%-20s $v%14.4f ms (p$pct%.0f of ${batchMs.size} batches)")
      case None => println(s"[e2e] batch_tail_ms        omitted: ${batchMs.size} timed batches (< 20)")
    }

    // a traced run also fails when its attribution or manifest checks do
    val (metrics, traceOk) =
      if (!args.trace) (e2e, true)
      else tracer.get.report(spec, gen, progress.map(_.p).toSeq, w, dirs, registry, check,
        args.traceOut)
    val correct = check.correct && traceOk
    val json = metrics.map { case (n, u, v) =>
      s""""$n": {"value": ${Stats.num(v)}, "unit": "$u"}""" }.mkString(", ")
    spark.stop()
    println(f"[run] JVM wall ${(System.nanoTime() - tGen) / 1e9}%.1f s after start-up")
    // the result line is the last line of stdout
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, check.expected)}, """ +
      s""""failed": ${check.failed}, "metrics": {$json}}""")
    correct
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => { Files.deleteIfExists(f); () })
      finally s.close()
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  /** The highest percentile with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 20) None
    else {
      val s = xs.sorted
      val idx = s.size - 11
      Some((100.0 * (idx + 1) / s.size, s(idx)))
    }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
