package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.dict.{AhoCorasick, EnvoDict}
import graft.stages._

/** End-to-end KG-construction pipeline configuration. */
final case class PipelineConfig(
    score: ScoreConfig = ScoreConfig(),
    checkpointDir: Option[String] = None,
    evidenceCap: Int = 20,
    /** Ignored; deleted once the benchmark stops passing it. */
    @deprecated("ignored: run() always persists its shared stages", "0.1.0")
    persistIntermediates: Boolean = true,
    /** Ignored; deleted once the benchmark stops passing it. */
    @deprecated("ignored: the tagger always memoizes per task", "0.1.0")
    dedupeTexts: Boolean = true)

/** All pipeline outputs. The sink frames are lazy DataFrames (the
  * reference's pulled property-DAG, seqenv/analysis.py:148-159 via
  * seqenv/common/cache.py) over SHARED intermediates that run()
  * persists and materializes, so that their cached partitioning is visible
  * when the sink queries are planned (see KgPipeline.run). Release them
  * with [[KgResult.unpersist]].
  *
  * `mentionTriples` carries the span provenance (form, start, end) and
  * reads the un-shuffled tagger output; `allTriples` takes its mention rows
  * off the conv_id partcache instead, which holds only the scorer's
  * columns. Both give the same (subj, pred, obj, weight, evidence) rows. */
final case class KgResult(
    turnMentions: DataFrame,   // (conv_id, turn_idx, tool, text_hash, mentions)
    scores: DataFrame,         // (conv_id, envo, score)
    annotated: DataFrame,      // annotated_with triples + evidence
    mentionTriples: DataFrame, // mentions triples + span provenance
    coOccurrence: DataFrame,   // (envo_a, envo_b, n_convs)
    coOccurrenceTriples: DataFrame, // cooccurs_with triples (canonicalized)
    ontologyTriples: DataFrame,
    /** annotated_with ∪ mentions in (subj, pred, obj, weight, evidence):
      * the per-conversation families, the unit IncrementalKg stores. */
    private[graft] val perConvTriples: DataFrame,
    /** Handles of the frames run() persisted for cross-branch sharing. */
    private val sharedFrames: Seq[DataFrame] = Nil) {

  /** Every dynamic triple family in one (subj, pred, obj, weight, evidence)
    * frame — the canonical KG sink (one action materializes everything). */
  def allTriples: DataFrame =
    perConvTriples.unionByName(coOccurrenceTriples.select("subj", "pred", "obj", "weight", "evidence"))

  /** Release the shared caches run() created. Call after the sinks are
    * written: a long-lived session composing many pipelines would
    * otherwise accumulate one envoRows + one scores/fused cache per run
    * until teardown. */
  def unpersist(): Unit = sharedFrames.foreach(_.unpersist())
}

/**
 * The transcript→EnvO KG builder. One dictionary + automaton per pipeline
 * instance, broadcast once per SparkSession.
 *
 * Dataflow: turns → MentionDetect (per-task memoized tagger) → the conv_id
 * partcache (`LinkScore.inputColumns` of the config, nothing else) →
 * LinkScore (flat/ui/upui × proportional × backtracking × restrict) →
 * Canonicalize → TripleEmit (+ co-occurrence edges), each stage optionally
 * checkpointed with a lineage manifest for resume.
 */
final class KgPipeline(spark: SparkSession, cfg: PipelineConfig = PipelineConfig(),
                       dictOverride: Option[EnvoDict] = None) {

  /** The dictionary every stage uses. Default: the bundled EnvO artifact
    * (one shared instance per JVM). An override threads a caller-supplied
    * vocabulary through the WHOLE composed run — tagger (as a broadcast
    * automaton via the injected-dict tag expression), scorer closure,
    * canonicalization dim — so the full `run()` wiring is testable and
    * driveable under a restricted or domain dictionary. */
  val dict: EnvoDict = dictOverride.getOrElse(KgPipeline.sharedDict)

  /** Broadcast automaton for the override path; the default path keeps the
    * JVM-global automaton (zero broadcast, built per executor from bundled
    * resources). Lazy: built only if run() is called. Cached per
    * (SparkContext, dict content) — a long-lived session constructing one
    * pipeline per request would otherwise leak one broadcast (and one
    * tag_envo_b<id> registry entry) per run; with the cache both are
    * bounded by the number of DISTINCT dictionaries seen. */
  private lazy val dictBc: Option[org.apache.spark.broadcast.Broadcast[AhoCorasick]] =
    dictOverride.map(d => KgPipeline.broadcastFor(spark, d))

  /** md5 of the analyzed input lineage + every config knob that changes
    * stage output — recorded in checkpoint manifests so resuming a dir
    * against a different input/config fails loudly (Checkpoint.stage).
    * Lineage-based (no scan of the input): file sources carry their paths
    * in the plan; in-memory LocalRelations hide their rows from the plan
    * string, so their row data is hashed explicitly. */
  private def fingerprint(turns: DataFrame): Option[String] =
    cfg.checkpointDir.map { _ =>
      val planKey = turns.queryExecution.analyzed.canonicalized.collect {
        case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          s"LocalRelation(${lr.schema.catalogString},rows=${lr.data.hashCode})"
        // simpleString for file relations is just "Relation[cols] parquet" —
        // NO path — so two same-schema inputs would fingerprint identically
        // and stale resume would be served silently. Root paths restore the
        // input identity (still lineage-only, no data scan).
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          val loc = lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.mkString(",")
            case other => other.toString
          }
          s"Relation(${lr.schema.catalogString},$loc)"
        case v2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          s"DSv2(${v2.schema.catalogString},${v2.name})"
        case node => node.simpleString(200)
      }.mkString("\n")
      // dict identity: an overridden vocabulary changes every stage's
      // output, so resuming a checkpoint written under a different
      // dictionary must fail loudly like any other config change. Full
      // CONTENT digest, not the form key set — same forms with a different
      // form→concept mapping are a different dictionary.
      val dictKey = dictOverride
        .map(d => s"dict:${d.contentDigest}")
        .getOrElse("dict:shared")
      val key = s"$planKey|${cfg.score}|${cfg.evidenceCap}|$dictKey"
      java.util.UUID.nameUUIDFromBytes(key.getBytes("UTF-8")).toString
    }

  /** Builds the KG over `turns`. Persists and materializes the conv_id
    * partcache and the scorer output before returning; the sink frames
    * of the result are lazy over them. */
  def run(turns: DataFrame): KgResult = {
    val ckpt = cfg.checkpointDir
    val fp = fingerprint(turns)

    val turnMentions0 = Checkpoint.stage(spark, ckpt, "mentions", fp) {
      MentionDetect.detect(spark, turns, dict = dictBc)
    }
    // the hot intermediate is the FLAT envo-occurrence projection — all
    // primitive columns, so the columnar cache build stays cheap (caching
    // the nested mentions array is ~10x slower)
    val envoRowsFull = MentionDetect.envoRows(turnMentions0)
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val shared = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def share(df: DataFrame): DataFrame = { shared += df; df }
    // Tag once, ONE wide shuffle, everything downstream partition-local:
    // every key in this pipeline (scores/evidence aggs, the proportional
    // window, the co-occurrence self-join) is prefixed by conv_id, so a
    // cache partitioned by conv_id serves them all without re-shuffling.
    //  - The cache is MATERIALIZED before any consumer is planned: only a
    //    materialized cache exposes its HashPartitioning to consumer
    //    planning (an unmaterialized one reads as Unknown).
    //  - It must be a cache, not a local checkpoint or a bare frame: under
    //    AQE a local checkpoint (eager or lazy) and an unmaterialized frame
    //    both lose the partitioning, so every consumer re-shuffles.
    //  - It must be materialized, not left to exchange reuse: per-branch
    //    column pruning specializes each copy of a bare repartition, so
    //    reuse never fires and the tagger runs once per branch.
    // The explicit partition count stops AQE from coalescing the cached
    // layout below the core count. sortWithinPartitions(conv_id, turn_idx)
    // after the shuffle: a production corpus arrives in ARBITRARY row order
    // and the shuffle read concatenates map outputs, so without the sort
    // every downstream conv-keyed hash agg probes its multi-million-entry
    // map in random key order (every probe a cache miss). Measured at the
    // 16x corpus, 8 cores, on a shuffle-ordered input: the fused-scorer
    // stage drops ~40% CPU (592 -> ~410 CPU-s) for a one-off in-partition
    // sort at cache build; on an already-clustered input the sort is
    // near-free. SortExec preserves the HashPartitioning(conv_id) the
    // consumers plan against, and the sorted cache also satisfies the
    // window's required child ordering (conv_id prefix), eliding that sort.
    // Only the scorer's columns go into the shuffle and the cache: column
    // pruning only thins reads, a cache materializes every column it was
    // defined with, and the wide shuffle moves what it is given.
    val envoRows = share(envoRowsFull
      .select(LinkScore.inputColumns(cfg.score).map(org.apache.spark.sql.functions.col): _*)
      .repartition(spark.sessionState.conf.numShufflePartitions,
        org.apache.spark.sql.functions.col("conv_id"))
      .sortWithinPartitions(
        org.apache.spark.sql.functions.col("conv_id"),
        org.apache.spark.sql.functions.col("turn_idx"))
      .persist(disk))
    envoRows.count()

    // Fused path (flat scoring): ONE aggregation yields score + evidence
    // together — no second pass over envoRows, no scores×support join.
    // Checkpointed, it commits as its own "fused" stage; annotated and
    // scores are projections of it.
    val fused: Option[DataFrame] =
      if (LinkScore.supportsFused(cfg.score)) {
        val f = share(Checkpoint.stage(spark, ckpt, "fused", fp) {
          LinkScore.scoreWithEvidence(spark, envoRows, cfg.score, cfg.evidenceCap)
        }.persist(disk))
        // same materialize-before-plan reasoning: the co-occurrence
        // self-join goes exchange-free only when the cached fused frame's
        // conv_id partitioning is visible at planning time (the window
        // leaves it conv_id-partitioned)
        f.count()
        Some(f)
      } else None

    val scores = fused match {
      case Some(f) =>
        f.select(org.apache.spark.sql.functions.col("conv_id"),
          org.apache.spark.sql.functions.col("envo"),
          org.apache.spark.sql.functions.col("score"))
      case None =>
        share(Checkpoint.stage(spark, ckpt, "scores", fp) {
          LinkScore.score(spark, envoRows, dict, cfg.score)
        }.persist(disk))
    }

    val annotated = fused match {
      case Some(f) => TripleEmit.annotatedFromFused(spark, f, dict)
      case None => Checkpoint.stage(spark, ckpt, "annotated", fp) {
        TripleEmit.annotatedWith(spark, scores, envoRows, dict, cfg.evidenceCap)
      }
    }
    // the partcache holds no span columns, so the span-carrying mention
    // frame reads the un-shuffled tagger output
    val mentionTriples = TripleEmit.mentionTriples(spark, envoRowsFull, dict)
    val perConvTriples = annotated.select("subj", "pred", "obj", "weight", "evidence")
      .unionByName(TripleEmit.mentionTriplesThin(spark, envoRows, dict))
    val cooc = Checkpoint.stage(spark, ckpt, "cooccurrence", fp) {
      // scores is a (conv_id, envo) groupBy output — provably distinct
      TripleEmit.coOccurrence(scores, assumeDistinct = true)
    }

    KgResult(
      turnMentions = turnMentions0,
      scores = scores,
      annotated = annotated,
      mentionTriples = mentionTriples,
      coOccurrence = cooc,
      coOccurrenceTriples = TripleEmit.coOccurrenceTriples(spark, cooc, dict),
      ontologyTriples = TripleEmit.ontologyTriples(spark, dict),
      perConvTriples = perConvTriples,
      sharedFrames = shared.toSeq)
  }
}

object KgPipeline {
  // Dictionary + automaton are immutable; build them once per JVM.
  lazy val sharedDict: EnvoDict = EnvoDict.load()
  lazy val sharedAutomaton: AhoCorasick = AhoCorasick.build(sharedDict)

  // (SparkContext identity, dict content digest) -> broadcast automaton.
  // Entries for a stopped context are dropped on next access.
  private val bcCache =
    scala.collection.mutable.Map.empty[(org.apache.spark.SparkContext, String),
      org.apache.spark.broadcast.Broadcast[AhoCorasick]]

  private[graft] def broadcastFor(spark: SparkSession, dict: EnvoDict):
      org.apache.spark.broadcast.Broadcast[AhoCorasick] = bcCache.synchronized {
    bcCache.keysIterator.filter(_._1.isStopped).toList.foreach(bcCache.remove)
    bcCache.getOrElseUpdate((spark.sparkContext, dict.contentDigest),
      spark.sparkContext.broadcast(AhoCorasick.build(dict)))
  }
}
