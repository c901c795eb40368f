package graft.tools

import graft.{KgPipeline, Sessions}

/** Profile of the KG pipeline's flagship `run()` at a given core count:
  * its allTriples physical plan (`explain`) or its per-job and per-stage
  * timeline (`jobs`).
  * Usage: ProfileKg <turnsParquet> <cores> [sp=N] (explain | jobs [warm]) */
object ProfileKg {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && (args.contains("explain") || args.contains("jobs")),
      "usage: ProfileKg <turnsParquet> <cores> [sp=N] (explain | jobs [warm])")
    val path = args(0)
    val cores = args(1).toInt
    // sp=N pins shuffle partitions independently of cores (Bench holds 64
    // fixed across the scaling pair; default here mirrors cores)
    val sp = args.collectFirst { case a if a.startsWith("sp=") => a.drop(3).toInt }.getOrElse(cores)
    val spark = Sessions.local(cores, shufflePartitions = sp, appName = s"profile-$cores")
    val turns = spark.read.parquet(path)
    // warmup
    val warm = new KgPipeline(spark).run(turns.limit(2000))
    warm.annotated.count()
    warm.unpersist()

    // The bench's flagship shape: shared intermediates, one allTriples
    // action.
    def flagship() = new KgPipeline(spark).run(turns)

    // explain mode: print the allTriples physical plan — exchange/scan
    // counts are the scale story
    if (args.contains("explain")) {
      val r = flagship()
      val plan = r.allTriples.queryExecution.executedPlan
      println(plan.toString)
      spark.stop()
      return
    }

    // jobs mode: one e2e run with a listener capturing the per-job
    // timeline — start/end offsets, task-time sum, and the DRIVER GAPS
    // between jobs (planning/AQE/sync time no task ever accounts for).
    // The utilization column (taskSum / (wall * cores)) shows which jobs
    // under-fill the machine at high core counts.
    final case class JobAcc(start: Long, var end: Long,
      taskMs: java.util.concurrent.atomic.AtomicLong,
      gcMs: java.util.concurrent.atomic.AtomicLong,
      cpuNs: java.util.concurrent.atomic.AtomicLong)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobAcc]()
    // per-STAGE attribution alongside the job rollup: stage boundaries
    // localize which exchange/agg/join carries an anomaly, and the max
    // task duration separates a straggler from distributed extra work
    final case class StageAcc(name: String, var nTasks: Int,
      taskMs: java.util.concurrent.atomic.AtomicLong,
      cpuNs: java.util.concurrent.atomic.AtomicLong,
      maxTaskMs: java.util.concurrent.atomic.AtomicLong)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAcc]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.put(js.jobId, JobAcc(js.time, 0L,
          new java.util.concurrent.atomic.AtomicLong(),
          new java.util.concurrent.atomic.AtomicLong(),
          new java.util.concurrent.atomic.AtomicLong()))
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val v = jobs.get(je.jobId); if (v != null) v.end = je.time
      }
      override def onStageSubmitted(ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stages.put(ss.stageInfo.stageId, StageAcc(
          ss.stageInfo.name.takeWhile(_ != '\n').take(60), ss.stageInfo.numTasks,
          new java.util.concurrent.atomic.AtomicLong(),
          new java.util.concurrent.atomic.AtomicLong(),
          new java.util.concurrent.atomic.AtomicLong()))
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        // attribute task time to the newest unfinished job (local mode:
        // jobs from one action run serially, so this is exact enough)
        val open = jobs.entrySet().iterator()
        var best = -1
        while (open.hasNext) { val e = open.next(); if (e.getValue.end == 0L && e.getKey > best) best = e.getKey }
        if (best >= 0 && te.taskInfo != null) {
          val acc = jobs.get(best)
          acc.taskMs.addAndGet(te.taskInfo.duration)
          if (te.taskMetrics != null) {
            acc.gcMs.addAndGet(te.taskMetrics.jvmGCTime)
            acc.cpuNs.addAndGet(te.taskMetrics.executorCpuTime)
          }
        }
        val sa = stages.get(te.stageId)
        if (sa != null && te.taskInfo != null) {
          sa.taskMs.addAndGet(te.taskInfo.duration)
          sa.maxTaskMs.getAndUpdate(m => math.max(m, te.taskInfo.duration))
          if (te.taskMetrics != null) sa.cpuNs.addAndGet(te.taskMetrics.executorCpuTime)
        }
      }
    }
    // codegen/JIT were warmed by the limit(2000) run above; `warm` adds
    // one full-size uninstrumented run so the instrumented one measures
    // the steady-state shape. Cache cleared either way so the
    // instrumented run starts from a clean slate.
    if (args.contains("warm")) flagship().allTriples.count()
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val n = flagship().allTriples.count()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let listener events drain
    import scala.jdk.CollectionConverters._
    val rows = jobs.asScala.toSeq.sortBy(_._1)
    val base = rows.headOption.map(_._2.start).getOrElse(0L)
    var prevEnd = base
    println(f"JOBS e2e wall=$wall%.2f s rows=$n cores=$cores")
    rows.foreach { case (id, acc) =>
      val (s, e) = (acc.start, acc.end)
      val gap = (s - prevEnd) / 1e3
      prevEnd = math.max(prevEnd, e)
      val w = math.max(1, e - s) / 1e3
      val util = acc.taskMs.get() / 1e3 / (w * cores)
      println(f"JOB $id%3d  +${(s - base) / 1e3}%7.2f s  wall=$w%6.2f s  gapBefore=$gap%6.2f s  " +
        f"taskSum=${acc.taskMs.get() / 1e3}%7.2f s  cpuSum=${acc.cpuNs.get() / 1e9}%7.2f s  " +
        f"gcSum=${acc.gcMs.get() / 1e3}%6.2f s  util=$util%5.2f")
    }
    stages.asScala.toSeq.sortBy(_._1).foreach { case (id, sa) =>
      if (sa.taskMs.get() > 1000L)
        println(f"STG $id%4d tasks=${sa.nTasks}%4d taskSum=${sa.taskMs.get() / 1e3}%8.2f s  " +
          f"cpuSum=${sa.cpuNs.get() / 1e9}%8.2f s  maxTask=${sa.maxTaskMs.get() / 1e3}%7.2f s  ${sa.name}")
    }
    spark.stop()
  }
}
