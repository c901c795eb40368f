package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Sessions
import graft.ops.{Components, DocOps}

/**
 * The corpus-curation funnel a training-data pipeline runs end-to-end, as
 * ONE job composed from the library's operators:
 *
 *   input docs
 *     → priority dedup     (d24: cross-source duplicate classes keep the
 *                           best-ranked source's copy — runs FIRST because
 *                           the source-aware keep rule must see every copy
 *                           before any other dedup collapses the class)
 *     → exact dedup        (d1: md5 keep-min)
 *     → near-dup dedup     (d7 MinHash+LSH pairs → d9 clusters, keep each
 *                           cluster's representative)
 *     → decontamination    (d13: drop docs sharing shingles with the
 *                           benchmark set)
 *     → quality gate       (d3: composite score ≥ threshold)
 *     → language gate      (d4: identified language only)
 *     → classifier gate    (d22: hashed-linear quality classifier, keep
 *                           positive logits)
 *     → mixture sample     (d23: per-language token budget re-balancing)
 *     → stratified sample  (d12: deterministic per-language keep rate)
 *     → boilerplate strip  (d17: high-df shingle spans removed from the
 *                           token stream; all-boilerplate docs drop out)
 *     → chunking           (d11: fixed-token windows with overlap)
 *     → train/eval split   (d26, terminal: holdout keyed by the d9
 *                           near-dup cluster representative — reuses the
 *                           SAME cluster frame the near-dup stage built,
 *                           so near-duplicates never straddle the split)
 *
 * Prints one funnel line per stage (stage, rows kept) — no silent drops —
 * and writes the surviving chunks + the split assignment + the funnel
 * table to out_dir. Every stage is deterministic, so reruns produce
 * identical funnels.
 *
 * Single-read: the WHOLE funnel derives from ONE persisted tokenized
 * corpus frame (DocOps.curationFrame — doc_id, text, lang, toks). Exact
 * dedup hashes its text, d7/d13 shingle off its toks, the three projection
 * gates filter one signal projection of it, and chunking windows its toks
 * — documents.parquet is scanned (and the corpus tokenized) exactly once
 * per funnel run where the naive composition paid three scan+tokenize
 * passes (CurateSpec pins the leaf-scan count). The three gates
 * additionally share one persisted signal frame (DocOps.gateSignalsOf) so
 * the quality/lang/sample filters are three reads of tiny scalars, not
 * three token-array passes.
 *
 *   sbt -batch "runMain graft.tools.CurateCli --docs_dir /root/testdata/sf0.001 \
 *     --out_dir /tmp/curated [--min_quality 0.5] [--sample_en 0.25] \
 *     [--benchmark_n 20] [--chunk_tokens 50] [--overlap 10] [--num_threads 8]"
 */
object CurateCli {

  final case class CurateConfig(
      minQuality: Double = 0.5,
      sampleEn: Double = 0.25,
      benchmarkN: Long = 20,
      chunkTokens: Int = 50,
      overlap: Int = 10,
      /** d17 stop-shingle document-frequency cap. 5 bites on the synthetic
        * corpus; production corpora want the operator default (50+). */
      stripDfCap: Int = 5,
      /** d26 terminal split: train share of near-dup cluster buckets. */
      trainFrac: Double = 0.75)

  /** Runs the funnel; returns (stage, rowsKept) in order and writes
    * chunks + funnel to outDir. */
  def run(spark: SparkSession, dir: String, outDir: String,
          cfg: CurateConfig = CurateConfig()): Seq[(String, Long)] = {
    // THE one corpus read: every stage below derives from this persisted
    // tokenized frame — nothing else touches documents.parquet
    val corpus = DocOps.curationFrameWide(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val funnel = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    // stage frames are persisted (each feeds the next stage's semi-join AND
    // its own count) but must not outlive the run — handles retained here,
    // unpersisted after the chunks write (CurateSpec asserts none remain)
    val stageFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def stage(name: String, kept: DataFrame): DataFrame = {
      val k = kept.persist()
      stageFrames += k
      funnel += name -> k.count()
      k
    }

    val all = stage("input", corpus.select("doc_id"))

    // d24: cross-source duplicate classes keep the best-ranked source's
    // copy — FIRST, so the source-aware rule sees every copy of a class
    // (after d1's id-keyed keep-min the better-ranked copy might be gone)
    val prioritized = stage("priority_dedup",
      all.join(DocOps.priorityDedupOf(corpus).filter(col("kept") === 1L)
        .select("doc_id"), Seq("doc_id"), "left_semi"))

    // d1: one survivor per exact content hash, computed OVER THE d24
    // SURVIVORS (belt-and-braces content gate + funnel telemetry). Over the
    // full corpus this silently emptied whole content classes: d1's
    // keep-min-doc_id and d24's keep-best-rank pick different copies
    // whenever the best-ranked copy is not the min-id copy, and the
    // semi-join then kept neither (r7 fix, per-class advice finding).
    val exact = stage("exact_dedup",
      prioritized.join(DocOps.exactDedupOf(
          corpus.join(prioritized, Seq("doc_id"), "left_semi"))
        .select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi"))

    // d7 → d9: drop every near-dup cluster member except its representative.
    // The shingle rows both d7 and d13 consume come off the shared frame's
    // cached toks (a projection, not a scan). The cluster frame is
    // persisted: the near-dup gate consumes it here and the TERMINAL d26
    // split keys its holdout by the same representatives. d7's internal
    // persists join the stage frames, released with them after the run.
    val clusters = Components
      .dupClusters(spark, DocOps.minhashLshPairsOf(corpus, persisted = stageFrames))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    stageFrames += clusters
    val nearDupLosers = clusters
      .filter(col("doc_id") =!= col("representative"))
      .select("doc_id")
    val nearDeduped = stage("near_dedup",
      exact.join(nearDupLosers, Seq("doc_id"), "left_anti"))

    // d13: drop docs overlapping the benchmark (and the benchmark itself —
    // eval data never belongs in the training corpus)
    val contaminated = DocOps.decontaminateOf(DocOps.shinglesOf(corpus),
      cfg.benchmarkN, minShared = 3).select("doc_id")
    val decontaminated = stage("decontaminate",
      nearDeduped
        .filter(col("doc_id") >= cfg.benchmarkN)
        .join(contaminated, Seq("doc_id"), "left_anti"))

    // d3 + d4 + d12 gates off ONE persisted single-pass signal projection
    val signals = DocOps.gateSignalsOf(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gated1 = stage("quality_gate",
      decontaminated.join(
        signals.filter(col("quality") >= cfg.minQuality).select("doc_id"),
        Seq("doc_id"), "left_semi"))
    val gated = stage("lang_gate", gated1.join(
      signals.filter(col("pred_lang") =!= "und").select("doc_id"),
      Seq("doc_id"), "left_semi"))

    // d22: the hashed-linear classifier gate (positive logit keeps) —
    // one more derivation of the shared corpus frame
    val classified = stage("classifier_gate", gated.join(
      DocOps.qualityClassifyOf(corpus, buckets = 4096)
        .filter(col("kept") === 1L).select("doc_id"),
      Seq("doc_id"), "left_semi"))

    // d23: language-mixture re-balancing to the token budget (per-lang
    // totals are one tiny action against the cached corpus)
    val mixed = stage("mixture_sample", classified.join(
      DocOps.domainMixSampleOf(corpus, DocOps.defaultMixWeights,
        DocOps.defaultBudgetFrac).select("doc_id"),
      Seq("doc_id"), "left_semi"))

    val sampled = stage("stratified_sample",
      mixed.join(
        signals.filter(col("bucket") < DocOps.sampleCut(Map("en" -> cfg.sampleEn)))
          .select("doc_id"),
        Seq("doc_id"), "left_semi"))
    signals.unpersist()

    // d17: strip high-df boilerplate spans from the survivors' token
    // streams (df table over the WHOLE corpus, like decontamination);
    // docs reduced to nothing but boilerplate drop out of the funnel here
    // persisted: both the kept-count action and the chunks write consume
    // it, and its upstream (corpus-wide shingle-df agg + coverage agg)
    // must not run twice; released with the other stage frames
    val strippedSurvivors = DocOps.strippedToksOf(corpus, cfg.stripDfCap)
      .join(sampled, Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    stageFrames += strippedSurvivors
    val stripKept = stage("boilerplate_strip",
      strippedSurvivors.filter(size(col("toks")) > 0).select("doc_id"))

    // d11: chunk the stripped survivors
    val chunks = DocOps.chunkDocsOf(strippedSurvivors, cfg.chunkTokens, cfg.overlap)
      .join(stripKept, Seq("doc_id"), "left_semi")
    chunks.write.mode("overwrite").parquet(s"$outDir/chunks")
    funnel += "chunks" -> spark.read.parquet(s"$outDir/chunks").count()

    // d26 (terminal): train/eval holdout keyed by the d9 cluster
    // representative — the SAME persisted cluster frame the near-dup gate
    // used, so no near-dup pair can straddle the split even when one
    // member survived a later gate and its twin did not (the bucket is a
    // function of the representative, not the survivor)
    val split = DocOps.clusterSplitOf(stripKept, clusters, cfg.trainFrac)
      .persist()
    stageFrames += split
    split.write.mode("overwrite").parquet(s"$outDir/split")
    funnel += "split_train" -> split.filter(col("split") === "train").count()
    funnel += "split_eval" -> split.filter(col("split") === "eval").count()

    corpus.unpersist()
    stageFrames.foreach(_.unpersist())
    // the cluster labels' local checkpoint sits under the (now released)
    // cluster cache and outside the cache manager
    Components.releaseCheckpoint(clusters)

    import spark.implicits._
    funnel.toSeq.zipWithIndex
      .map { case ((s, n), i) => (i, s, n) }.toDF("stage_idx", "stage", "rows")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/funnel")
    funnel.toSeq
  }

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    require(a.contains("docs_dir") && a.contains("out_dir"),
      "usage: CurateCli --docs_dir DIR --out_dir DIR [--min_quality 0.5] " +
        "[--sample_en 0.25] [--benchmark_n 20] [--chunk_tokens 50] [--overlap 10] " +
        "[--num_threads 8]")
    val cfg = CurateConfig(
      minQuality = a.getOrElse("min_quality", "0.5").toDouble,
      sampleEn = a.getOrElse("sample_en", "0.25").toDouble,
      benchmarkN = a.getOrElse("benchmark_n", "20").toLong,
      chunkTokens = a.getOrElse("chunk_tokens", "50").toInt,
      overlap = a.getOrElse("overlap", "10").toInt,
      stripDfCap = a.getOrElse("strip_df_cap", "5").toInt,
      trainFrac = a.getOrElse("train_frac", "0.75").toDouble)
    val spark = Sessions.local(a.getOrElse("num_threads", "8").toInt, appName = "graft-curate")
    val funnel = run(spark, a("docs_dir"), a("out_dir"), cfg)
    funnel.foreach { case (s, n) => println(f"[curate] $s%-18s $n%9d") }
    spark.stop()
  }
}
