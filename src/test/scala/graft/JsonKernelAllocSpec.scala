package graft

import graft.ingest.{JsonDialect, JsonEventParser}
import graft.schema.FieldNames
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.scalatest.funsuite.AnyFunSuite

/** Allocation budget of the JSON kernels — a regression counter that the
  * noise of a shared machine does not move: bytes the calling thread
  * allocates per record, after warm-up, over records shaped like the
  * ingest benchmark's `json_poll` (Fabric envelope, numeric `_time`, 13
  * double / string / boolean properties). The tree-based kernels these
  * replaced allocated ~18 KB per record to infer and ~9.4 KB to parse.
  */
class JsonKernelAllocSpec extends AnyFunSuite {
  private val names = FieldNames()
  private val Records = 10000
  private val InferBudget = 4096L
  private val ParseBudget = 5120L

  private val words = Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
    "golf", "hotel", "india", "juliett", "kilo", "lima")

  /** `json_poll`-shaped envelopes: 5 collections, 5 property families. */
  private val collections: Array[Int] = {
    val r = new java.util.SplittableRandom(11)
    Array.fill(Records)(r.nextInt(5))
  }
  private val records: Array[String] = {
    val r = new java.util.SplittableRandom(7)
    Array.tabulate(Records) { i =>
      val c = collections(i)
      val sb = new java.lang.StringBuilder(512)
      sb.append("{\"id\":\"").append(i).append("\",\"metadata\":{},\"data\":{")
        .append("\"_project\":\"bench\",\"_collection\":\"c00").append(c)
        .append("\",\"_time\":").append(1700000000000L + i)
        .append(",\"_user\":\"u").append(r.nextInt(20000)).append("\",\"eid\":").append(i)
        .append(",\"value\":").append(r.nextInt(10000000) / 100.0)
      (0 until 13).foreach { k =>
        sb.append(",\"f").append(c).append('p').append(k).append("\":")
        (k + c) % 3 match {
          case 0 => if (k % 2 == 0) sb.append(r.nextInt(1000)) else sb.append(r.nextInt(100000) / 100.0)
          case 1 => sb.append('"').append(words(r.nextInt(words.length)))
                      .append(r.nextInt(1000)).append('"')
          case _ => sb.append(r.nextBoolean())
        }
      }
      sb.append("}}").toString
    }
  }

  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes allocated per record by `f` over all records (best of 3 passes
    * after 3 warm-up passes, so a JIT or TLAB hiccup cannot fail it).
    */
  private def bytesPerRecord(f: Array[String] => Unit): Double = {
    val tid = Thread.currentThread().getId
    (0 until 3).foreach(_ => f(records))
    (0 until 3).map { _ =>
      val before = mx.getThreadAllocatedBytes(tid)
      f(records)
      (mx.getThreadAllocatedBytes(tid) - before).toDouble / Records
    }.min
  }

  test(s"inference allocates at most $InferBudget bytes per record") {
    assume(mx.isThreadAllocatedMemorySupported && mx.isThreadAllocatedMemoryEnabled)
    var schemas = 0
    val perRecord = bytesPerRecord { rs =>
      val fold = new JsonEventParser.InferFold(JsonDialect.Fabric, names)
      rs.foreach(fold.add)
      schemas = fold.result.size
    }
    assert(schemas == 5)
    info(f"inference: $perRecord%.0f bytes per record")
    assert(perRecord <= InferBudget, f"inference allocates $perRecord%.0f bytes per record")
  }

  test(s"parse allocates at most $ParseBudget bytes per record") {
    assume(mx.isThreadAllocatedMemorySupported && mx.isThreadAllocatedMemoryEnabled)
    val fold = new JsonEventParser.InferFold(JsonDialect.Fabric, names)
    records.foreach(fold.add)
    val schemas = fold.result.map { case (id, st, _) => id.collection -> st }.toMap
    var kept = 0
    val perRecord = bytesPerRecord { rs =>
      // what a parse partition does per record: walk against the record's
      // collection schema, then wrap the row
      val plans = Array.tabulate(5)(c =>
        new JsonEventParser.ParsePlan(schemas(s"c00$c"), JsonDialect.Fabric, names))
      kept = 0
      var i = 0
      while (i < rs.length) {
        val plan = plans(collections(i))
        val values = plan.parse(rs(i))
        if (values != null && new GenericRow(values).length == plan.schema.length) kept += 1
        i += 1
      }
    }
    assert(kept == Records)
    info(f"parse: $perRecord%.0f bytes per record")
    assert(perRecord <= ParseBudget, f"parse allocates $perRecord%.0f bytes per record")
  }
}
