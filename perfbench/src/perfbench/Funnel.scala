package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.{Components, DocOps}
import graft.tools.CurateCli

/** Seeded documents in the shape of the shipped documents.parquet tables:
  * (doc_id, text, lang, source, n_chars), 10-100 words from a 30-word
  * vocabulary, five languages, twenty sources, plus near-duplicates and
  * cross-source exact copies of earlier documents so that every dedup stage
  * has work. */
object DocGen {
  private val vocab = Vector("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val langs = Vector("en", "en", "en", "en", "zh", "de", "fr", "es", "zh", "de", "fr", "es")

  private def rng(seed: Long, i: Long) = new scala.util.Random(seed ^ (i * 0x9E3779B97F4A7C15L))

  private def baseText(seed: Long, i: Long): String = {
    val r = rng(seed, i)
    Seq.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.length))).mkString(" ")
  }

  def doc(seed: Long, i: Long): (Long, String, String, String) = {
    val r = rng(seed, i + (1L << 40))
    val kind = if (i < 40) 99 else r.nextInt(100)
    val text =
      if (kind < 3) { // near-duplicate of an earlier document
        val w = baseText(seed, r.nextLong().abs % i).split(" ")
        w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.length))
        (w :+ "dup").mkString(" ")
      } else if (kind < 4) baseText(seed, r.nextLong().abs % i) // exact copy
      else baseText(seed, i)
    (i, text, langs(r.nextInt(langs.length)), s"src${r.nextInt(20)}")
  }

  def write(spark: SparkSession, n: Long, seed: Long, path: String): Unit = {
    import spark.implicits._
    spark.range(0, n, 1, 4).as[Long].map(i => doc(seed, i))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("bigint"))
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }
}

/** The curation layer (`graft.ops`: DocOps, Components): each funnel op
  * through its public standalone entry point over one documents directory,
  * its output materialised inside a span. */
object CurateLayer {
  val Stages = Seq("priority_dedup", "exact_dedup", "near_dedup", "decontaminate", "quality_gate",
    "lang_gate", "classifier_gate", "mixture_sample", "stratified_sample", "boilerplate_strip",
    "chunks", "split")

  /** Documents the curation layer and the funnel run over. */
  def docs(smoke: Boolean): Long = if (smoke) 500L else 5000L

  /** Every curation metric, in the order `trace` reports them. */
  val MetricNames: Seq[(String, String)] =
    Stages.flatMap(s => Seq(s"curate.$s.s" -> "s", s"curate.$s.rows" -> "count")) ++
      Seq("curate.corpus_cache_s" -> "s", "curate.jobs_s" -> "s", "curate.driver_s" -> "s")

  def trace(spark: SparkSession, tracer: Tracer, dir: String, cfg: CurateCli.CurateConfig,
            checks: Ops): Seq[(String, Double, String)] = {
    val ops: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
      "priority_dedup" -> (() => DocOps.priorityDedup(spark, dir)),
      "exact_dedup" -> (() => DocOps.exactDedup(spark, dir)),
      "near_dedup" -> (() => Components.dupClusters(spark, DocOps.minhashLshPairs(spark, dir))),
      "decontaminate" -> (() => DocOps.decontaminate(spark, dir, cfg.benchmarkN)),
      "quality_gate" -> (() => DocOps.qualityScore(spark, dir)),
      "lang_gate" -> (() => DocOps.langId(spark, dir)),
      "classifier_gate" -> (() => DocOps.qualityClassify(spark, dir)),
      "mixture_sample" -> (() => DocOps.domainMixSample(spark, dir)),
      "stratified_sample" -> (() => DocOps.stratifiedSample(spark, dir)),
      "boilerplate_strip" -> (() => DocOps.stripBoilerplate(spark, dir, cfg.stripDfCap)),
      "chunks" -> (() => DocOps.chunkDocs(spark, dir, cfg.chunkTokens, cfg.overlap)),
      "split" -> (() => DocOps.clusterSplit(spark, dir, cfg.trainFrac)))
    val rows = mutable.LinkedHashMap.empty[String, Long]
    tracer.span("curate") {
      tracer.span("corpus_cache") {
        val c = DocOps.curationFrame(spark, dir).persist()
        c.count()
        c.unpersist()
      }
      Stages.foreach(name => tracer.span(name) { rows(name) = Digest.rows(ops(name)()) })
    }
    spark.catalog.clearCache()
    checks.check("standalone exact_dedup yields one row per distinct text")(
      rows("exact_dedup") == spark.read.parquet(s"$dir/documents.parquet").select("text").collect()
        .map(_.getString(0)).toSet.size)
    val all = tracer.get("curate")
    Stages.flatMap(name => Seq((s"curate.$name.s", tracer.get(name).durS, "s"),
      (s"curate.$name.rows", rows(name).toDouble, "count"))) ++
      Seq(("curate.corpus_cache_s", tracer.get("corpus_cache").durS, "s"),
        ("curate.jobs_s", all.counters.jobsS, "s"),
        ("curate.driver_s", all.counters.driverS, "s"))
  }
}

/** The curation funnel: `CurateCli.run` once per process over seeded
  * documents, with the funnel's outputs checked in plain Scala. */
final class FunnelBench(spark: SparkSession, seed: Long, work: Path, trace: Boolean,
                        smoke: Boolean, ops: Ops) {
  private val docsDir = work.resolve("docs").toString
  private val out = work.resolve("curated").toString
  private val nDocs = CurateLayer.docs(smoke)
  private val cfg = CurateCli.CurateConfig()
  val info = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.ArrayBuffer.empty[(String, Double, String)]
  private val rec: Option[Recorder] = if (trace) Some(Recorder.install(spark)) else None

  def writeCorpus(): Double =
    KgBench.timed(DocGen.write(spark, nDocs, seed, s"$docsDir/documents.parquet"))._2

  def run(setupS: Double): Unit = {
    info += s"input docs=$nDocs"
    var funnel = Seq.empty[(String, Long)]
    var counters: Option[Counters] = None
    def runFunnel(): Unit = { funnel = CurateCli.run(spark, docsDir, out, cfg) }
    val c0 = Metrics.processCpuS()
    val t0 = System.nanoTime()
    val ran = ops.probe("curation funnel runs") {
      rec match {
        case Some(r) => counters = Some(r.counted(spark.sparkContext)(runFunnel()).counters)
        case None => runFunnel()
      }
      true
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Metrics.processCpuS() - c0
    info += f"funnel ${wall}%.3f s: " + funnel.map { case (s, n) => s"$s=$n" }.mkString(" ")
    ops.probe("cache manager empty after the funnel returns") {
      val cm = spark.sharedState.cacheManager
      val empty = cm.isEmpty
      if (!empty) info += s"funnel left ${spark.sparkContext.getPersistentRDDs.size} persisted RDDs registered"
      empty
    }
    spark.catalog.clearCache()
    if (ran) checks(funnel.toMap, funnel.map(_._1))

    if (!trace) {
      metrics += (("setup_s", setupS, "s"))
      metrics += (("cold_build_s", wall, "s"))
      metrics += (("cpu_s", cpu, "s"))
      metrics += (("peak_rss_mb", Metrics.peakRssMb(), "MB"))
    } else if (ran) traced(wall, counters.get)
  }

  private def checks(f: Map[String, Long], order: Seq[String]): Unit = {
    val docs = spark.read.parquet(s"$docsDir/documents.parquet").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val split = spark.read.parquet(s"$out/split").select("doc_id", "representative").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    ops.check("stage counts do not increase from input to boilerplate_strip") {
      val kept = order.takeWhile(_ != "chunks").map(f)
      kept.zip(kept.drop(1)).forall { case (a, b) => b <= a }
    }
    ops.check("split_train + split_eval == boilerplate_strip")(
      f("split_train") + f("split_eval") == f("boilerplate_strip"))
    ops.check("exact_dedup keeps one document per distinct text")(
      f("exact_dedup") == docs.values.toSet.size.toLong)
    ops.check("surviving documents have pairwise distinct texts")(
      split.map(s => docs(s._1)).distinct.length == split.length)
    ops.check("no two surviving documents share a near-dup cluster")(
      split.map(_._2).distinct.length == split.length)
    ops.check(s"no doc_id below benchmark_n survives decontamination")(
      split.forall(_._1 >= cfg.benchmarkN))
  }

  /** The curation layer op by op, plus the listener's view of the composed
    * funnel. */
  private def traced(wall: Double, funnel: Counters): Unit = {
    val tracer = new Tracer(spark, rec.get, s"curate_funnel-seed$seed")
    metrics ++= CurateLayer.trace(spark, tracer, docsDir, cfg, ops)
    tracer.write(work.getParent.resolve(s"trace-curate_funnel-seed$seed.json"))
    info += "span self times (s): " + tracer.spans.map(s => f"${s.name}=${tracer.selfS(s)}%.3f").mkString(" ")
    metrics += (("curate.funnel_s", wall, "s"))
    metrics += (("curate.funnel_jobs_s", funnel.jobsS, "s"))
    metrics += (("curate.funnel_driver_s", funnel.driverS, "s"))
    metrics += (("spark.jobs", funnel.jobs.toDouble, "count"))
    metrics += (("spark.tasks", funnel.tasks.toDouble, "count"))
    metrics += (("spark.executor_cpu_s", funnel.executorCpuS, "s"))
    metrics += (("spark.gc_s", funnel.gcS, "s"))
    metrics += (("spark.shuffle_write_mb", funnel.shuffleWriteMb, "MB"))
    metrics += (("spark.spill_mb", funnel.spillMb, "MB"))
    metrics += (("spark.driver_s", funnel.driverS, "s"))
  }
}
