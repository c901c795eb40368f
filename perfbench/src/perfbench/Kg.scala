package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{KgPipeline, KgResult, PipelineConfig}
import graft.dict.{AhoCorasick, EnvoDict}
import graft.stages.{MentionDetect, ScoreConfig}
import graft.synth.TranscriptGen
import graft.tools.CurateCli

/** The shape of one KG workload's input and pipeline. */
final case class KgShape(
    name: String,
    convs: Long,
    verbosity: Int,
    skewFactor: Int,
    normalization: String,
    backtracking: Boolean,
    dedupeTexts: Boolean,
    checkpointed: Boolean,
    sample: Int,
    /** The traced run also measures the curation layer (see CurateLayer). */
    curate: Boolean,
    /** Rough warm-build wall on the reference host: fixes how many warm
      * builds fill `--seconds`, so every run reports the same statistic. */
    nominalBuildS: Double)

object KgShape {
  def apply(workload: String, smoke: Boolean): KgShape = workload match {
    case "kg_flat_long" =>
      KgShape(workload, if (smoke) 400 else 6000, verbosity = 6, skewFactor = 1,
        normalization = "flat", backtracking = false, dedupeTexts = false,
        checkpointed = false, sample = if (smoke) 40 else 150, curate = true, nominalBuildS = 3.0)
    case "kg_upui_skew_ckpt" =>
      KgShape(workload, if (smoke) 300 else 2500, verbosity = 1,
        skewFactor = if (smoke) 100 else 1000,
        normalization = "upui", backtracking = true, dedupeTexts = true,
        checkpointed = true, sample = if (smoke) 40 else 150, curate = false, nominalBuildS = 5.0)
  }
}

/** Per-family (rows, low-word hash sum, high-word hash sum) of allTriples:
  * an order-independent digest that still tells duplicated rows apart. */
final case class Digest(families: Map[String, (Long, Long, Long)]) {
  def rows(pred: String): Long = families.get(pred).map(_._1).getOrElse(0L)
  def total: Long = families.values.map(_._1).sum
}

object Digest {
  private def hashCols(df: DataFrame) = {
    val h = xxhash64(df.columns.map(col): _*)
    Seq(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))), sum(shiftright(h, 32)))
  }

  /** One action that materialises every column of every triple family. */
  def of(triples: DataFrame): Digest = {
    val cs = hashCols(triples)
    Digest(triples.groupBy("pred").agg(cs.head, cs.tail: _*).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap)
  }

  /** Materialise every column of a frame; returns its row count. */
  def rows(df: DataFrame): Long = {
    val cs = hashCols(df)
    df.agg(cs.head, cs.tail: _*).collect()(0).getLong(0)
  }
}

final class KgBench(spark: SparkSession, shape: KgShape, seed: Long, seconds: Int,
                    work: Path, dictDir: String, trace: Boolean, smoke: Boolean, ops: Ops) {
  import KgBench._

  private val corpus = work.resolve("turns").toString
  private val ckptRoot = work.resolve("ckpt")
  private var ckptSeq = 0
  private val cfgBase = PipelineConfig(
    score = ScoreConfig(shape.normalization, proportional = true, backtracking = shape.backtracking),
    persistIntermediates = true,
    dedupeTexts = shape.dedupeTexts)
  val info = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.ArrayBuffer.empty[(String, Double, String)]
  private val rec: Option[Recorder] = if (trace) Some(Recorder.install(spark)) else None

  private def turns: DataFrame = spark.read.parquet(corpus)

  private def freshCkpt(): String = {
    ckptSeq += 1
    ckptRoot.resolve(s"c$ckptSeq").toString
  }

  private def cfg(ckpt: Option[String]) = cfgBase.copy(checkpointDir = ckpt)

  /** Writes the seeded corpus; returns its wall seconds. */
  def writeCorpus(): Double = timed {
    TranscriptGen.generate(spark, shape.convs, seed = seed, skewFactor = shape.skewFactor,
      partitions = 8, verbosity = shape.verbosity)
      .write.mode("overwrite").parquet(corpus)
  }._2

  /** One complete build: the pipeline run, then every triple family
    * materialised through allTriples. */
  def build(ckpt: Option[String]): Built = {
    val in = turns
    val c0 = Metrics.processCpuS()
    val t0 = System.nanoTime()
    val r = new KgPipeline(spark, cfg(ckpt)).run(in)
    val d = Digest.of(r.allTriples)
    Built(r, d, (System.nanoTime() - t0) / 1e9, Metrics.processCpuS() - c0)
  }

  /** Releases the build's caches and checks that nothing stays cached. The
    * cache is cleared after the probe, so a leaked frame never serves a
    * later build. */
  def release(b: Built): Unit = {
    b.result.unpersist()
    ops.probe("cache manager empty after the build returns") {
      spark.sharedState.cacheManager.isEmpty
    }
    spark.catalog.clearCache()
  }

  def run(setupS: Double): Unit = {
    val rows = turns.count()
    info += s"input turns=$rows convs=${shape.convs} verbosity=${shape.verbosity} skew_factor=${shape.skewFactor}"

    // cold: the first complete build in this process
    val coldDir = if (shape.checkpointed) Some(freshCkpt()) else None
    val cold = build(coldDir)
    ops.check("cold build produces triples")(cold.digest.total > 0)
    info += f"cold build ${cold.wallS}%.3f s, cpu ${cold.cpuS}%.3f s, triples=${cold.digest.total} ${cold.digest.families.map(f => s"${f._1}=${f._2._1}").mkString(" ")}"
    release(cold)

    // resume against the directory the cold build committed
    coldDir.foreach { d =>
      val r = build(Some(d))
      ops.check("resumed output equals the cold checkpointed output")(r.digest == cold.digest)
      release(r)
      info += f"resume ${r.wallS}%.3f s"
    }

    if (!trace) {
      // a fixed count rather than a deadline: the JIT is still settling
      // through these builds, so a count that varied with host speed would
      // move the median between positions on that curve
      val nWarm = math.max(MinWarm, math.round(seconds / shape.nominalBuildS).toInt)
      val warm = (1 to nWarm).map { i =>
        // without a checkpoint directory: checkpoint writes and reads are
        // the cold build's and the resume's cost
        val b = build(None)
        ops.check("warm build output equals the cold build output")(b.digest == cold.digest)
        // the output checks run on the last warm build, after its timing
        // and with the JIT warmest; every build has the cold build's digest
        if (i == nWarm) info += f"output checks ${timed(checkOutputs(b))._2}%.3f s"
        release(b)
        b
      }
      info += s"warm builds s=${warm.map(b => f"${b.wallS}%.3f").mkString(",")}"
      info += s"warm builds cpu_s=${warm.map(b => f"${b.cpuS}%.3f").mkString(",")}"
      metrics += (("setup_s", setupS, "s"))
      metrics += (("cold_build_s", cold.wallS, "s"))
      metrics += (("cold_cpu_s", cold.cpuS, "s"))
      metrics += (("warm_rows_per_s", rows / Metrics.median(warm.map(_.wallS)), "1/s"))
      metrics += (("cpu_s", Metrics.median(warm.map(_.cpuS)), "s"))
      metrics += (("peak_rss_mb", Metrics.peakRssMb(), "MB"))
    } else traced(rows, cold)
  }

  /** The traced invocation: per-layer spans and counters. */
  private def traced(rows: Long, cold: Built): Unit = {
    val r = rec.get
    val tracer = new Tracer(spark, r, s"${shape.name}-seed$seed")
    def counted[A](body: => A): (A, Counters) = {
      val c = r.counted(spark.sparkContext)(body)
      (c.value, c.counters)
    }

    // dict layer: load and tag on one thread, no Spark, over the
    // workload's own texts
    val loads = (1 to 3).map(_ => timed(AhoCorasick.build(EnvoDict.load()))._2)
    // the automaton's footprint: live heap with one freshly built automaton
    // held, minus live heap before it was built
    val heapMb = Metrics.median((1 to 3).map { _ =>
      val before = Metrics.liveHeapBytes()
      val held = AhoCorasick.build(EnvoDict.load())
      val after = Metrics.liveHeapBytes()
      java.lang.ref.Reference.reachabilityFence(held)
      (after - before) / 1e6
    })
    val texts = turns.select("text").limit(20000).collect().map(_.getString(0))
    val ac = KgPipeline.sharedAutomaton
    texts.foreach(ac.tag)
    var passes = 0
    val tt0 = System.nanoTime()
    while (passes < 2 || System.nanoTime() - tt0 < 1500000000L) { texts.foreach(ac.tag); passes += 1 }
    val tagS = (System.nanoTime() - tt0) / 1e9
    val mb = texts.map(_.getBytes("UTF-8").length.toLong).sum * passes / 1e6
    val distinctTexts = turns.select("text").distinct().count()
    val taggedTurns = MentionDetect.detect(spark, turns, shape.dedupeTexts).count()

    // an untraced composed build, the second of the process, with the
    // listener's counts around it; its outputs are checked
    val untracedDir = if (shape.checkpointed) Some(freshCkpt()) else None
    val threads0 = ThreadCpu.snapshot()
    val (u, uc) = counted(build(untracedDir))
    val byThread = ThreadCpu.groups(threads0, ThreadCpu.snapshot())
    ops.check("untraced build output equals the cold build output")(u.digest == cold.digest)
    info += f"output checks ${timed(checkOutputs(u))._2}%.3f s"
    release(u)
    val javaThreadsS = byThread.map(_._2).sum
    info += f"untraced build cpu ${u.cpuS}%.2f s: " + byThread.take(6).map { case (n, c) => f"$n=$c%.2f" }.mkString(" ") +
      f" jit+gc+other=${u.cpuS - javaThreadsS}%.2f"

    // checkpoint cost: the same build without a checkpoint directory, and a
    // resume from the directory the untraced build committed
    val ckpt: Option[(Double, Long, Double, Long, Double)] = untracedDir.map { d =>
      val (p, pc) = counted(build(None))
      ops.check("un-checkpointed output equals the checkpointed output")(p.digest == cold.digest)
      release(p)
      val bytes = treeBytes(java.nio.file.Paths.get(d))
      val (res, rc) = counted(build(Some(d)))
      ops.check("resumed output equals the cold checkpointed output")(res.digest == cold.digest)
      release(res)
      (u.wallS - p.wallS, uc.jobs - pc.jobs, bytes / 1e6, rc.jobs, res.wallS)
    }

    // the traced composed build: each layer through its public entry point,
    // its output materialised inside the layer's span
    val tracedDir = if (shape.checkpointed) Some(freshCkpt()) else None
    var envoRows = 0L
    var scoreRows = 0L
    var fam = Map.empty[String, Long]
    var cacheMb = 0.0
    var digest: Digest = null
    val res = tracer.span("build") {
      val in = turns
      tracer.span("mention") {
        envoRows = Digest.rows(MentionDetect.envoRows(MentionDetect.detect(spark, in, shape.dedupeTexts)))
      }
      val kg = tracer.span("run") { new KgPipeline(spark, cfg(tracedDir)).run(in) }
      cacheMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      tracer.span("score") { scoreRows = Digest.rows(kg.scores) }
      tracer.span("emit") {
        for ((pred, span) <- Seq("annotated_with" -> "emit.annotated", "mentions" -> "emit.mentions",
                                 "cooccurs_with" -> "emit.cooc"))
          tracer.span(span) { fam += pred -> Digest.rows(kg.allTriples.filter(col("pred") === pred)) }
        tracer.span("emit.union") { digest = Digest.of(kg.allTriples) }
      }
      kg
    }
    res.unpersist()
    spark.catalog.clearCache()
    // the untraced build the tracing overhead is measured against: the
    // same configuration, right after the traced one
    val after = build(tracedDir.map(_ => freshCkpt()))
    ops.check("untraced build output equals the cold build output")(after.digest == cold.digest)
    release(after)
    val untracedS = after.wallS
    ops.check("traced build output equals the cold build output")(digest == cold.digest)
    ops.check("per-family materialisations match the union")(
      fam.forall { case (p, n) => n == digest.rows(p) })

    // the curation layer, over seeded documents, after the KG spans
    val curate =
      if (shape.curate) {
        val docs = work.resolve("docs").toString
        DocGen.write(spark, CurateLayer.docs(smoke), seed, s"$docs/documents.parquet")
        CurateLayer.trace(spark, tracer, docs, CurateCli.CurateConfig(), ops)
      } else CurateLayer.MetricNames.map { case (n, u) => (n, 0.0, u) }
    tracer.write(work.getParent.resolve(s"trace-${shape.name}-seed$seed.json"))

    val b = tracer.get("build")
    val m = tracer.get("mention")
    val run = tracer.get("run")
    val sc = tracer.get("score")
    val e = tracer.get("emit")
    info += "span self times (s): " + tracer.spans.map(s => f"${s.name}=${tracer.selfS(s)}%.3f").mkString(" ")
    info += f"traced build ${b.durS}%.3f s = mention ${m.durS}%.3f + run ${run.durS}%.3f + score ${sc.durS}%.3f + emit ${e.durS}%.3f + gaps ${tracer.selfS(b)}%.3f"
    info += f"untraced build ${untracedS}%.3f s (the build right after); tracing overhead ${b.durS - untracedS}%.3f s"

    def add(n: String, v: Double, unit: String): Unit = metrics += ((n, v, unit))
    add("dict.load_s", Metrics.median(loads), "s")
    add("dict.heap_mb", heapMb, "MB")
    add("dict.tag_texts_per_s", texts.length.toDouble * passes / tagS, "1/s")
    add("dict.tag_mb_per_s", mb / tagS, "MB/s")
    add("mention.s", m.durS, "s")
    add("mention.cpu_s", m.counters.executorCpuS, "s")
    add("mention.turns_in", rows.toDouble, "count")
    add("mention.distinct_texts", distinctTexts.toDouble, "count")
    add("mention.tagged_turns", taggedTurns.toDouble, "count")
    add("mention.envo_rows", envoRows.toDouble, "count")
    add("mention.shuffle_mb", m.counters.shuffleWriteMb, "MB")
    add("share.s", run.durS - m.durS, "s")
    add("share.shuffle_write_mb", run.counters.shuffleWriteMb, "MB")
    add("share.cache_mb", cacheMb, "MB")
    add("share.spill_mb", run.counters.spillMb, "MB")
    add("share.task_skew", run.counters.taskSkew, "ratio")
    add("score.s", sc.durS, "s")
    add("score.cpu_s", sc.counters.executorCpuS, "s")
    add("score.rows", scoreRows.toDouble, "count")
    add("score.shuffle_mb", sc.counters.shuffleWriteMb, "MB")
    add("score.task_skew", sc.counters.taskSkew, "ratio")
    add("emit.annotated_s", tracer.get("emit.annotated").durS, "s")
    add("emit.mentions_s", tracer.get("emit.mentions").durS, "s")
    add("emit.cooc_s", tracer.get("emit.cooc").durS, "s")
    add("emit.union_s", tracer.get("emit.union").durS, "s")
    add("emit.annotated_rows", fam("annotated_with").toDouble, "count")
    add("emit.mention_rows", fam("mentions").toDouble, "count")
    add("emit.cooc_rows", fam("cooccurs_with").toDouble, "count")
    add("emit.triples", digest.total.toDouble, "count")
    val (ovh, extraJobs, ckMb, resJobs, resS) = ckpt.getOrElse((0.0, 0L, 0.0, 0L, 0.0))
    add("ckpt.overhead_s", ovh, "s")
    add("ckpt.extra_jobs", extraJobs.toDouble, "count")
    add("ckpt.bytes_mb", ckMb, "MB")
    add("ckpt.resume_jobs", resJobs.toDouble, "count")
    add("ckpt.resume_s", resS, "s")
    add("spark.jobs", uc.jobs.toDouble, "count")
    add("spark.tasks", uc.tasks.toDouble, "count")
    add("spark.executor_cpu_s", uc.executorCpuS, "s")
    add("spark.gc_s", uc.gcS, "s")
    add("spark.shuffle_write_mb", uc.shuffleWriteMb, "MB")
    add("spark.spill_mb", uc.spillMb, "MB")
    add("spark.driver_s", uc.driverS, "s")
    add("spark.non_task_cpu_s", u.cpuS - uc.executorCpuS, "s")
    add("trace.build_s", b.durS, "s")
    add("trace.untraced_build_s", untracedS, "s")
    add("trace.overhead_s", b.durS - untracedS, "s")
    metrics ++= curate
  }

  /** The output checks on the cold build: the independent reference on a
    * seeded sample of conversations, and properties of the whole output. */
  private def checkOutputs(b: Built): Unit = {
    val r = b.result
    val rng = new scala.util.Random(seed)
    // conversation 0 is the mega-conversation on the skewed workload
    val sample = (0L +: Seq.fill(shape.sample)(1L + rng.nextInt((shape.convs - 1).toInt)))
      .distinct.map(i => f"conv$i%08d")
    // the checks are independent queries whose wall is mostly driver-side
    // planning, so they run side by side on a few driver threads
    val pool = java.util.concurrent.Executors.newFixedThreadPool(CheckThreads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val ref = Future(new Reference(dictDir))
      val sampleTurns = Future {
        turns.filter(col("conv_id").isin(sample: _*))
          .select("conv_id", "turn_idx", "text", "tool").collect()
          .map(x => RefTurn(x.getString(0), x.getInt(1), x.getString(2), Option(x.getString(3)))).toSeq
      }
      val got = Future {
        r.annotated.filter(col("subj").isin(sample: _*)).select("subj", "obj", "weight").collect()
          .map(x => (x.getString(0), x.getString(1)) -> x.getDouble(2)).toMap
      }
      val gotMentions = Future {
        r.allTriples
          .filter(col("pred") === "mentions" && split(col("subj"), ":").getItem(0).isin(sample: _*))
          .groupBy("subj", "obj").count().collect()
          .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2).toInt).toMap
      }
      val sumsOff = Future {
        r.scores.groupBy("conv_id").agg(sum("score").as("s"))
          .filter(abs(col("s") - 1.0) > 1e-9).count()
      }
      val objs = Future(r.allTriples.select("obj").distinct().collect().map(_.getString(0)))
      val familyCounts = Future(Seq(r.annotated, r.mentionTriples, r.coOccurrenceTriples).map(_.count()).sum)
      val cooc = Future {
        val pairs = r.coOccurrence.orderBy("envo_a", "envo_b").collect()
          .map(x => ((x.getInt(0), x.getInt(1)), x.getLong(2)))
        val picked = rng.shuffle(pairs.toSeq).take(30)
        val concepts = picked.flatMap(p => Seq(p._1._1, p._1._2)).distinct
        val byConv = r.scores.filter(col("envo").isin(concepts: _*)).select("conv_id", "envo").collect()
          .groupBy(_.getString(0)).map { case (_, rs) => rs.map(_.getInt(1)).toSet }
        picked.nonEmpty && picked.forall { case ((a, c), n) => byConv.count(s => s(a) && s(c)) == n }
      }
      def await[A](f: Future[A]): A = Await.result(f, Duration.Inf)

      ops.check("annotated_with matches the reference (P = R = 1, weights within 1e-9)") {
        val expected = await(ref).annotated(await(sampleTurns), shape.normalization, shape.backtracking)
        val g = await(got)
        val tp = (g.keySet intersect expected.keySet).size.toDouble
        info += f"reference: ${sample.size} conversations, ${await(sampleTurns).size} turns, " +
          f"precision=${tp / math.max(1, g.size)}%.4f recall=${tp / math.max(1, expected.size)}%.4f"
        g.keySet == expected.keySet && g.forall { case (k, w) => math.abs(w - expected(k)) <= 1e-9 }
      }
      ops.check("mentions match the reference")(await(gotMentions) == await(ref).mentions(await(sampleTurns)))
      ops.check("proportional scores sum to 1 per conversation")(await(sumsOff) == 0)
      ops.check("every obj is a CURIE listed in envo_entities.tsv")(await(objs).forall(await(ref).curies))
      ops.check("triple count equals the annotated + mention + co-occurrence family counts")(
        b.digest.total == await(familyCounts))
      ops.check("co-occurrence n_convs equals the conversations scoring both concepts (sample)")(await(cooc))
      // every query has ended before the build's caches are released
      Seq(ref, sampleTurns, got, gotMentions, sumsOff, objs, familyCounts, cooc)
        .foreach(f => Await.ready(f, Duration.Inf))
    } finally pool.shutdown()
  }
}

object KgBench {
  /** Fewest warm builds a run measures, however short `--seconds` is:
    * the median of three is not moved by one build that a burst of host
    * load slowed. */
  val MinWarm = 3

  /** Driver threads the output checks run their queries on. */
  val CheckThreads = 4

  final case class Built(result: KgResult, digest: Digest, wallS: Double, cpuS: Double)

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
}
