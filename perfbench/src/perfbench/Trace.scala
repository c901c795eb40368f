package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Engine counters collected by the benchmark's own SparkListener. */
final class Recorder extends SparkListener {
  private var jobs = 0L
  private var tasks = 0L
  private var cpuNs = 0L
  private var gcMs = 0L
  private var shuffleWrite = 0L
  private var spill = 0L
  private val jobStarts = mutable.HashMap.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageOrder = mutable.ArrayBuffer.empty[Int]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += 1
    jobSpans += ((jobStarts.remove(e.jobId).getOrElse(e.time), e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.diskBytesSpilled
    }
    val key = e.stageId * 1000 + e.stageAttemptId
    stageTaskMs.getOrElseUpdate(key, { stageOrder += key; mutable.ArrayBuffer.empty }) +=
      e.taskInfo.duration
  }

  /** Runs `body` with the listener bus drained before and after, so that
    * every event its actions posted has been counted; returns its value
    * with the counters it accumulated and its wall-clock extent. */
  def counted[A](sc: SparkContext)(body: => A): Counted[A] = {
    Bus.drain(sc)
    val snap = snapshot()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val a = body
    val dur = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    Bus.drain(sc)
    Counted(a, delta(snap, t0, t1), t0, t1, dur)
  }

  def snapshot(): Recorder.Snap = synchronized {
    Recorder.Snap(jobs, tasks, cpuNs, gcMs, shuffleWrite, spill, jobSpans.length, stageOrder.length)
  }

  /** Counters accumulated between `from` and now, for a span that ran from
    * wall-clock millisecond `t0` to `t1`. */
  def delta(from: Recorder.Snap, t0: Long, t1: Long): Counters = synchronized {
    val newStages = stageOrder.drop(from.stages).map(stageTaskMs)
    // task skew of the heaviest stage: the stage whose tasks the span
    // waited on most sets the span's time when one task runs long
    val skew = if (newStages.isEmpty) 0.0 else {
      val heavy = newStages.maxBy(_.sum).sorted
      val med = heavy(heavy.length / 2)
      if (med <= 0) heavy.last.toDouble.max(1.0) else heavy.last.toDouble / med
    }
    // wall time of the span that no Spark job covered: planning, result
    // handling and everything else the driver does on its own
    val intervals = jobSpans.drop(from.jobSpans)
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    intervals.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    Counters(jobs - from.jobs, tasks - from.tasks, (cpuNs - from.cpuNs) / 1e9,
      (gcMs - from.gcMs) / 1e3, (shuffleWrite - from.shuffleWrite) / 1e6,
      (spill - from.spill) / 1e6, skew, covered / 1e3, math.max(0L, t1 - t0 - covered) / 1e3)
  }
}

object Recorder {
  final case class Snap(jobs: Long, tasks: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                        spill: Long, jobSpans: Int, stages: Int)

  def install(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    r
  }
}

final case class Counters(jobs: Long, tasks: Long, executorCpuS: Double, gcS: Double,
                          shuffleWriteMb: Double, spillMb: Double, taskSkew: Double,
                          jobsS: Double, driverS: Double)

final case class Counted[A](value: A, counters: Counters, startMs: Long, endMs: Long, durS: Double)

final case class Span(id: Int, parent: Int, name: String, runId: String, startMs: Long,
                      endMs: Long, durS: Double, counters: Counters) {
  def json: String =
    s"""{"id":$id,"parent":$parent,"name":"$name","run_id":"$runId","start_ms":$startMs,""" +
      s""""end_ms":$endMs,"dur_s":$durS,"jobs":${counters.jobs},"tasks":${counters.tasks},""" +
      s""""executor_cpu_s":${counters.executorCpuS},"gc_s":${counters.gcS},""" +
      s""""shuffle_write_mb":${counters.shuffleWriteMb},"spill_mb":${counters.spillMb},""" +
      s""""task_skew":${counters.taskSkew},"jobs_s":${counters.jobsS},"driver_s":${counters.driverS}}"""
}

/** Spans around the benchmark's calls into each layer, kept in memory and
  * written as one JSON file when the run ends. The listener's counters are
  * read at the same boundaries. */
final class Tracer(spark: SparkSession, val rec: Recorder, runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val c = try rec.counted(spark.sparkContext)(body) finally stack = stack.tail
    done += Span(id, parent, name, runId, c.startMs, c.endMs, c.durS, c.counters)
    c.value
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq
  def get(name: String): Span = done.find(_.name == name).getOrElse(
    throw new NoSuchElementException(s"no span $name"))

  /** Duration minus the part of it that the span's children cover. */
  def selfS(s: Span): Double = s.durS - done.filter(_.parent == s.id).map(_.durS).sum

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path,
      spans.map(s => s.json.dropRight(1) + s""","self_s":${selfS(s)}}""")
        .mkString("{\"spans\":[\n", ",\n", "\n]}\n"))
  }
}

/** CPU seconds per thread group (thread names with digits folded), so a
  * traced run shows where the process spends CPU outside Spark tasks. The
  * JIT compiler and GC threads are not Java threads: their share is the
  * process CPU left over. */
object ThreadCpu {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean

  def snapshot(): Map[Long, (String, Long)] =
    mx.getAllThreadIds.toSeq.flatMap { id =>
      val info = mx.getThreadInfo(id)
      val t = mx.getThreadCpuTime(id)
      if (info == null || t < 0) None else Some(id -> ((info.getThreadName.replaceAll("[0-9]+", "#"), t)))
    }.toMap

  def groups(before: Map[Long, (String, Long)], after: Map[Long, (String, Long)]): Seq[(String, Double)] =
    after.toSeq.map { case (id, (name, t)) => name -> (t - before.get(id).map(_._2).getOrElse(0L)) / 1e9 }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).sum }.toSeq.sortBy(-_._2)
}

/** A fixed CPU loop that does not touch the program: its rate before and
  * after a run tells host drift apart from a change in the program. */
object HostProbe {
  @volatile private var sink = 0L

  def opsPerS(): Double = { loop(100); loop(300) }

  private def loop(millis: Long): Double = {
    var x = 88172645463325252L
    var n = 0L
    val t0 = System.nanoTime()
    val limit = millis * 1000000L
    while (System.nanoTime() - t0 < limit) {
      var i = 0
      while (i < 100000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      n += 100000
    }
    sink = x
    n / ((System.nanoTime() - t0) / 1e9)
  }
}

/** Operations attempted and failed, and whether every output check held. */
final class Ops {
  var attempted = 0
  var failed = 0
  var correct = true
  val failures = mutable.ArrayBuffer.empty[String]

  /** Wall seconds of each output check, for the run's report. */
  val checkS = mutable.ArrayBuffer.empty[(String, Double)]

  /** An operation whose failure means an output is wrong. */
  def check(name: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val t0 = System.nanoTime()
    val passed = try ok catch { case e: Exception => Console.err.println(s"[perfbench] $name: $e"); false }
    checkS += name -> (System.nanoTime() - t0) / 1e9
    if (!passed) { failed += 1; correct = false; failures += name; println(s"[perfbench] CHECK FAILED: $name") }
    passed
  }

  /** An operation whose failure is a fault but not a wrong output. */
  def probe(name: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val passed = try ok catch { case e: Exception => Console.err.println(s"[perfbench] $name: $e"); false }
    if (!passed) { failed += 1; failures += name }
    passed
  }
}

object Metrics {
  /** Peak resident set of this process, from the kernel's own accounting. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Heap in use right after a full collection: the live heap. */
  def liveHeapBytes(): Long = {
    System.gc()
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def resultJson(ops: Ops, metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": ${ops.correct}, "attempted": ${ops.attempted}, "failed": ${ops.failed}, "metrics": {""" +
      metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ") +
      "}}"
}
