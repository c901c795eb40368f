package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths
import graft.{KgPipeline, Sessions}
import graft.dict.{AhoCorasick, EnvoDict}

/**
 * One benchmark run in a fresh JVM:
 *
 *   perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
 *                  --work DIR --dict DIR [--smoke 1]
 *
 * Prints informational lines, then as its last line one JSON object with
 * `correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
 * untraced, the per-layer metrics traced). `perfbench/run.py` builds the
 * program and launches this.
 */
object Main {
  /** Spark task slots: fixed, so that a run does not depend on the host's
    * core count beyond it. `--slots` overrides it for one-off scaling
    * figures only. */
  val DefaultSlots = 4
  val ShufflePartitions = 16
  /** Setup steps repeated within a run; setup_s takes their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val mainStart = System.currentTimeMillis()
    val jvmStartS = (mainStart - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val smoke = a.get("smoke").contains("1")
    val work = Paths.get(a("work")).toAbsolutePath
    val dictDir = a("dict")
    val slots = a.get("slots").map(_.toInt).getOrElse(DefaultSlots)

    val probeBefore = HostProbe.opsPerS()
    val ops = new Ops
    val (spark, sessionS) = KgBench.timed(Sessions.local(slots, ShufflePartitions, s"perfbench-$workload"))
    val info = scala.collection.mutable.ArrayBuffer.empty[String]
    var metrics = Seq.empty[(String, Double, String)]
    try {
      val dictS = Metrics.median((1 to SetupReps).map { i =>
        KgBench.timed(if (i == 1) KgPipeline.sharedAutomaton else AhoCorasick.build(EnvoDict.load()))._2
      })
      workload match {
        case "kg_flat_long" | "kg_upui_skew_ckpt" =>
          val kg = new KgBench(spark, KgShape(workload, smoke), seed, seconds, work, dictDir, trace, smoke, ops)
          val corpusS = Metrics.median((1 to SetupReps).map(_ => kg.writeCorpus()))
          val setupS = jvmStartS + sessionS + dictS + corpusS
          info += f"setup ${setupS}%.3f s = jvm $jvmStartS%.3f + session $sessionS%.3f + dict $dictS%.3f + corpus $corpusS%.3f (median of $SetupReps)"
          val runStart = System.currentTimeMillis()
          kg.run(setupS)
          info += f"wall: set-up with repeats ${(runStart - mainStart) / 1e3 + jvmStartS}%.1f s, builds and checks ${(System.currentTimeMillis() - runStart) / 1e3}%.1f s"
          info ++= kg.info
          metrics = kg.metrics.toSeq
        case "curate_funnel" =>
          val f = new FunnelBench(spark, seed, work, trace, smoke, ops)
          val corpusS = Metrics.median((1 to SetupReps).map(_ => f.writeCorpus()))
          val setupS = jvmStartS + sessionS + dictS + corpusS
          info += f"setup ${setupS}%.3f s = jvm $jvmStartS%.3f + session $sessionS%.3f + dict $dictS%.3f + corpus $corpusS%.3f (median of $SetupReps)"
          f.run(setupS)
          info ++= f.info
          metrics = f.metrics.toSeq
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally spark.stop()

    val probeAfter = HostProbe.opsPerS()
    info += f"host.probe_ops_per_s before=$probeBefore%.4e after=$probeAfter%.4e"
    if (trace) metrics :+= (("host.probe_ops_per_s", (probeBefore + probeAfter) / 2, "1/s"))
    info += s"seed=$seed workload=$workload trace=${if (trace) 1 else 0} slots=$slots " +
      s"shuffle_partitions=$ShufflePartitions max_heap_mb=${Runtime.getRuntime.maxMemory / (1 << 20)}"
    info += "check times (s): " + ops.checkS.map { case (n, t) => f"$t%.2f $n" }.mkString("; ")
    info += s"operations attempted=${ops.attempted} failed=${ops.failed}" +
      (if (ops.failures.isEmpty) "" else ops.failures.distinct.mkString(" (", "; ", ")"))
    info += f"jvm wall ${(System.currentTimeMillis() - mainStart) / 1e3 + jvmStartS}%.1f s"
    info.foreach(l => println(s"[perfbench] $l"))
    println(Metrics.resultJson(ops, metrics))
    System.exit(0)
  }
}
