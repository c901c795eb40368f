package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
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
 * One verdict frame: the WHOLE funnel derives from ONE persisted tokenized
 * corpus frame (DocOps.curationFrameWide — doc_id, text, lang, toks), so
 * documents.parquet is scanned and tokenized exactly once per run. Every
 * gate but exact dedup is a function of the whole corpus, not of the
 * stage before it, so each gate is one doc_id-keyed keep or drop set
 * left-joined onto the corpus rows, and one `passed` column counts the
 * leading gates a document passes ([[verdicts]]). The verdict frame is
 * persisted once; one aggregation counts every document stage, and the
 * chunks and the split read its full survivors. Stage plans stay of
 * constant depth: no stage is a join over an earlier stage's cache.
 *
 *   sbt -batch "runMain graft.tools.CurateCli --docs_dir DOCS_DIR \
 *     --out_dir OUT_DIR [--min_quality 0.5] [--sample_en 0.25] \
 *     [--benchmark_n 20] [--chunk_tokens 50] [--overlap 10] \
 *     [--strip_df_cap 5] [--train_frac 0.75] [--num_threads 8]"
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
      trainFrac: Double = 0.75) {
    // checked here, not where each value is first read: the chunk and
    // split ops only run after the whole funnel has run
    require(!minQuality.isNaN, "minQuality must be a number")
    require(sampleEn >= 0 && sampleEn <= 1, s"sampleEn must be in [0, 1], got $sampleEn")
    require(overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got overlap=$overlap chunkTokens=$chunkTokens")
    require(stripDfCap >= 0, s"stripDfCap must be >= 0, got $stripDfCap")
    require(trainFrac > 0 && trainFrac < 1, s"trainFrac must be in (0, 1), got $trainFrac")
  }

  /** The document stages after "input", in funnel order, each with its
    * pass condition over the gate-input columns [[verdicts]] joins. */
  private def gates(cfg: CurateConfig): Seq[(String, Column)] = Seq(
    "priority_dedup" -> col("d24").isNotNull,
    "exact_dedup" -> col("d1").isNotNull,
    "near_dedup" -> col("d9").isNull,
    // the benchmark docs go too: eval data never belongs in training data
    "decontaminate" -> (col("doc_id") >= cfg.benchmarkN && col("d13").isNull),
    "quality_gate" -> col("d3"),
    "lang_gate" -> col("d4"),
    "classifier_gate" -> col("d22").isNotNull,
    "mixture_sample" -> col("d23").isNotNull,
    "stratified_sample" -> col("d12"),
    "boilerplate_strip" -> (size(col("toks")) > 0))

  /** One row per row of the persisted `corpus`: its doc_id, `passed` = how
    * many leading [[gates]] it passes, and its d17-stripped toks when it
    * passes them all (NULL otherwise). `clusters` is the persisted d9
    * cluster frame of the same corpus. */
  private[graft] def verdicts(corpus: DataFrame, clusters: DataFrame,
                              cfg: CurateConfig): DataFrame = {
    // each gate input is a doc_id set made distinct, so the left joins
    // never multiply corpus rows: a gate keeps a row iff its doc_id is in
    // the keep set (not in the drop set)
    def flag(name: String, ids: DataFrame): DataFrame =
      ids.select("doc_id").distinct().withColumn(name, lit(true))
    val d24 = DocOps.priorityDedupOf(corpus).filter(col("kept") === 1L)
    // d1 over the d24 SURVIVORS: over the full corpus its keep-min-doc_id
    // and d24's keep-best-rank pick different copies whenever the
    // best-ranked copy is not the min-id copy, and the class lost both
    val d1 = DocOps.exactDedupOf(corpus.join(d24.select("doc_id"), Seq("doc_id"), "left_semi"))
      .select(col("keep_id").as("doc_id"))
    val d13 = DocOps.decontaminateOf(DocOps.shinglesOf(corpus), cfg.benchmarkN, minShared = 3)
    // d3 + d4 + d12 off ONE signal projection, one flag per doc
    val signals = DocOps.gateSignalsOf(corpus).groupBy("doc_id").agg(
      max(col("quality") >= cfg.minQuality).as("d3"),
      max(col("pred_lang") =!= "und").as("d4"),
      max(col("bucket") < DocOps.sampleCut(Map("en" -> cfg.sampleEn))).as("d12"))
    // `when` takes a NULL condition (NULL quality, NULL doc_id) as false:
    // the row fails that gate, as a filter drops it
    val conds = gates(cfg).map(_._2)
    val passed = conds.zipWithIndex.foldRight(lit(conds.size)) {
      case ((cond, i), rest) => when(cond, rest).otherwise(i)
    }
    // d17 strips the whole corpus (its df table is corpus-wide, like d13)
    // and keeps one row per corpus row: the frame the gates join onto
    Seq(flag("d24", d24), flag("d1", d1),
      flag("d9", clusters.filter(col("doc_id") =!= col("representative"))),
      flag("d13", d13), signals,
      flag("d22", DocOps.qualityClassifyOf(corpus, buckets = 4096).filter(col("kept") === 1L)),
      flag("d23", DocOps.domainMixSampleOf(corpus, DocOps.defaultMixWeights,
        DocOps.defaultBudgetFrac)))
      .foldLeft(DocOps.strippedToksOf(corpus, cfg.stripDfCap))(_.join(_, Seq("doc_id"), "left"))
      .withColumn("passed", passed)
      .select(col("doc_id"), col("passed"),
        when(col("passed") === conds.size, col("toks")).as("toks"))
  }

  /** Runs the funnel; returns (stage, rowsKept) in order and writes
    * chunks + split + funnel to outDir. */
  def run(spark: SparkSession, dir: String, outDir: String,
          cfg: CurateConfig = CurateConfig()): Seq[(String, Long)] = {
    // every frame persisted here (d7's internal ones included) is released
    // once the outputs are written; CurateSpec asserts none remain
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame): DataFrame = { held += df.persist(StorageLevel.MEMORY_AND_DISK); df }
    // THE one corpus read: nothing else touches documents.parquet
    val corpus = hold(DocOps.curationFrameWide(spark, dir))
    // d7 → d9: the near-dup gate and the terminal d26 split both read it
    val clusters = hold(Components.dupClusters(spark,
      DocOps.minhashLshPairsOf(corpus, persisted = held)))
    val verdict = hold(verdicts(corpus, clusters, cfg))

    // one aggregation counts every document stage
    val names = "input" +: gates(cfg).map(_._1)
    val counts = verdict.agg(count(lit(1)),
      names.indices.tail.map(i => count(when(col("passed") >= i, true))): _*).head()

    // d11: chunk the survivors' stripped token streams
    val survivors = verdict.filter(col("passed") === names.size - 1)
    DocOps.chunkDocsOf(survivors, cfg.chunkTokens, cfg.overlap)
      .write.mode("overwrite").parquet(s"$outDir/chunks")
    val nChunks = spark.read.parquet(s"$outDir/chunks").count()

    // d26 (terminal): train/eval holdout keyed by the d9 cluster
    // representative — the SAME cluster frame the near-dup gate used, so
    // no near-dup pair can straddle the split even when one member
    // survived a later gate and its twin did not
    DocOps.clusterSplitOf(survivors.select("doc_id"), clusters, cfg.trainFrac)
      .write.mode("overwrite").parquet(s"$outDir/split")
    val sides = spark.read.parquet(s"$outDir/split").groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    held.foreach(_.unpersist())
    // the cluster labels' local checkpoint sits under the (now released)
    // cluster cache and outside the cache manager
    Components.releaseCheckpoint(clusters)

    val funnel = names.indices.map(i => names(i) -> counts.getLong(i)) ++ Seq(
      "chunks" -> nChunks, "split_train" -> sides.getOrElse("train", 0L),
      "split_eval" -> sides.getOrElse("eval", 0L))
    import spark.implicits._
    funnel.zipWithIndex
      .map { case ((s, n), i) => (i, s, n) }.toDF("stage_idx", "stage", "rows")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/funnel")
    funnel
  }

  private val Usage = "usage: CurateCli --docs_dir DIR --out_dir DIR [--min_quality 0.5] " +
    "[--sample_en 0.25] [--benchmark_n 20] [--chunk_tokens 50] [--overlap 10] " +
    "[--strip_df_cap 5] [--train_frac 0.75] [--num_threads 8]"

  /** `--key value` pairs; a key the usage does not list, or one without a
    * value, fails with the usage instead of running with a default. */
  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    val flags = "--(\\w+)".r.findAllMatchIn(Usage).map(_.group(1)).toSet
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") && flags(k.drop(2)) => k.drop(2) -> v
      case bad => throw new IllegalArgumentException(s"bad argument ${bad.mkString(" ")}; $Usage")
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    require(a.contains("docs_dir") && a.contains("out_dir"), Usage)
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
