package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Spark counters per layer span. The harness sets a job group around each
  * layer call; this listener attributes every job, and every task of the
  * job's stages, to that group. Nothing inside the engine is instrumented.
  */
final class Ledger extends SparkListener {

  final class Acc {
    var jobs = 0L
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    /** Task run intervals, wall-clock ms (launch, finish). */
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val accs = mutable.HashMap.empty[String, Acc]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach { g =>
      accs.getOrElseUpdate(g, new Acc).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = accs.getOrElseUpdate(g, new Acc)
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
      }
      a.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  /** Remove and return a group's counters; call after the bus drained. */
  def take(group: String): Acc = synchronized {
    accs.remove(group).getOrElse(new Acc)
  }
}

object Ledger {

  /** Milliseconds of [t0, t1] covered by at least one interval. */
  def covered(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var total = 0L
    var end = t0
    intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) {
          total += b - math.max(a, end)
          end = b
        }
      }
    total
  }
}

/** One span of the workload → op → layer tree. Wall-clock ms bound the
  * task-interval overlap; the duration itself comes from nanoTime.
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Int) {
  val startMs: Long = System.currentTimeMillis()
  private val t0 = System.nanoTime()
  private val cpu0 = Span.processCpuNs()
  var endMs: Long = startMs
  var seconds: Double = 0.0
  /** Process CPU (every JVM thread) over the span. */
  var cpuSeconds: Double = 0.0
  val counters = mutable.LinkedHashMap.empty[String, Double]

  def close(): Unit = {
    seconds = (System.nanoTime() - t0) / 1e9
    cpuSeconds = (Span.processCpuNs() - cpu0) / 1e9
    endMs = System.currentTimeMillis()
  }
}

object Span {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs(): Long = os.getProcessCpuTime
}

/** In-memory span tree, written out when the run ends. */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]

  def open(name: String, parent: Int, op: Int): Span = {
    val s = new Span(all.size, name, parent, op)
    all += s
    s
  }

  def json: String = all.map { s =>
    val c = s.counters.map { case (k, v) => s"\"$k\":${Json.num(v)}" }
      .mkString("{", ",", "}")
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""op":${s.op},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
      s""""s":${Json.num(s.seconds)},"cpu_s":${Json.num(s.cpuSeconds)},""" +
      s""""counters":$c}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
