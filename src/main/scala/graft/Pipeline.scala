package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.dict.{AhoCorasick, EnvoDict}
import graft.stages._

/** End-to-end KG-construction pipeline configuration. */
final case class PipelineConfig(
    score: ScoreConfig = ScoreConfig(),
    checkpointDir: Option[String] = None,
    evidenceCap: Int = 20,
    /** Persist the mention/score stages (MEMORY_AND_DISK) — set when more
      * than one output sink will be materialized, so the tagger and scorer
      * run once instead of once per sink. The envo-row projection is then
      * repartitioned by conv_id, sorted within partitions and cached,
      * materialized at run() time (see KgPipeline.run). */
    persistIntermediates: Boolean = false,
    /** Physical strategy for mention detection: true = tag DISTINCT texts
      * then hash-join back (wins on duplicated corpora); false = tag every
      * turn in place with zero shuffles (wins on mostly-unique corpora). */
    dedupeTexts: Boolean = true,
    /** Ship the mention-provenance columns (start, end, form) through the
      * SHARED frame on fused runs. Off (default), the one wide shuffle and
      * the columnar cache carry only (conv_id, turn_idx, envo) — ~45% fewer
      * row bytes, which is what the memory-bandwidth-bound high-core span
      * pays for — and the canonical allTriples sink is unaffected (its
      * mention rows never read the provenance columns). The full
      * `mentionTriples` frame keeps its schema either way; with provenance
      * off its standalone consumption re-derives from the un-shuffled
      * tagger output instead of the shared cache. Set true when the run
      * will MATERIALIZE the provenance sink alongside the others (e.g.
      * RunKg writes mentions parquet with spans), so the tag-once sharing
      * covers it. Non-fused runs always carry the full projection. */
    mentionProvenance: Boolean = false)

/** All pipeline outputs. The frames are lazy DataFrames (the reference's
  * pulled property-DAG, seqenv/analysis.py:148-159 via
  * seqenv/common/cache.py) — except that `persistIntermediates` runs
  * materialize the SHARED intermediates at run() time, so that their
  * cached partitioning is visible when the sink queries are planned
  * (see KgPipeline.run). */
final case class KgResult(
    turnMentions: DataFrame,   // (conv_id, turn_idx, tool, text_hash, mentions)
    mentionRows: DataFrame,    // flattened per-mention rows
    scores: DataFrame,         // (conv_id, envo, score)
    annotated: DataFrame,      // annotated_with triples + evidence
    mentionTriples: DataFrame, // mentions triples
    coOccurrence: DataFrame,   // (envo_a, envo_b, n_convs)
    coOccurrenceTriples: DataFrame, // cooccurs_with triples (canonicalized)
    ontologyTriples: DataFrame,
    /** Handles of the frames run() persisted for cross-branch sharing. */
    private val sharedFrames: Seq[DataFrame] = Nil,
    /** The mention rows allTriples unions — on thin fused runs this is the
      * 5-column projection over the SHARED frame (so the canonical sink
      * never re-tags), while `mentionTriples` above keeps the full
      * provenance schema. Same canonical rows either way. */
    private val mentionTriplesForUnion: Option[DataFrame] = None) {

  /** Every dynamic triple family in one (subj, pred, obj, weight, evidence)
    * frame — the canonical KG sink (one action materializes everything). */
  def allTriples: DataFrame = {
    val cols = Seq("subj", "pred", "obj", "weight", "evidence").map(org.apache.spark.sql.functions.col)
    annotated.select(cols: _*)
      .unionByName(mentionTriplesForUnion.getOrElse(mentionTriples).select(cols: _*))
      .unionByName(coOccurrenceTriples.select(cols: _*))
  }

  /** The frame allTriples actually unions for the mention family —
    * exposed so tests can pin the thin shared-frame shape. */
  private[graft] def mentionTriplesUnionForTest: DataFrame =
    mentionTriplesForUnion.getOrElse(mentionTriples)

  /** Release the shared caches run() created (persistIntermediates runs
    * only). Call after the sinks are written: a long-lived session
    * composing many pipelines would otherwise accumulate one envoRows +
    * one scores/fused cache per run until teardown. */
  def unpersist(): Unit = sharedFrames.foreach(_.unpersist())
}

/**
 * The transcript→EnvO KG builder. One dictionary + automaton per pipeline
 * instance, broadcast once per SparkSession.
 *
 * Dataflow: turns → MentionDetect (distinct-text tagger) → LinkScore
 * (flat/ui/upui × proportional × backtracking × restrict) → Canonicalize →
 * TripleEmit (+ co-occurrence edges), each stage optionally checkpointed
 * with a lineage manifest for resume.
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
      val key = s"$planKey|${cfg.score}|${cfg.evidenceCap}|${cfg.dedupeTexts}|$dictKey"
      java.util.UUID.nameUUIDFromBytes(key.getBytes("UTF-8")).toString
    }

  def run(turns: DataFrame): KgResult = {
    val ckpt = cfg.checkpointDir
    val fp = fingerprint(turns)

    val turnMentions0 = Checkpoint.stage(spark, ckpt, "mentions", fp) {
      MentionDetect.detect(spark, turns, cfg.dedupeTexts, dictBc)
    }
    // the hot intermediate is the FLAT envo-occurrence projection — all
    // primitive columns, so the columnar cache build stays cheap (caching
    // the nested mentions array is ~10x slower)
    val envoRows0full = MentionDetect.envoRows(turnMentions0)
    val fusedApplies = LinkScore.supportsFused(cfg.score)
    // Fused runs never read tool/text_hash/mention_pos (they exist for the
    // ui/upui dedup keys): drop them BEFORE the shuffle + cache build —
    // column pruning only thins reads, a cache materializes every column
    // it was defined with, and the wide shuffle moves what it is given.
    // Without mentionProvenance the canonical sinks also never read
    // (start, end, form), so the shared frame narrows to three columns.
    val fusedThin = fusedApplies && !cfg.mentionProvenance
    val envoRows0 =
      if (fusedThin)
        envoRows0full.select(
          org.apache.spark.sql.functions.col("conv_id"),
          org.apache.spark.sql.functions.col("turn_idx"),
          org.apache.spark.sql.functions.col("envo"))
      else if (fusedApplies)
        envoRows0full.select(
          org.apache.spark.sql.functions.col("conv_id"),
          org.apache.spark.sql.functions.col("turn_idx"),
          org.apache.spark.sql.functions.col("start"),
          org.apache.spark.sql.functions.col("end"),
          org.apache.spark.sql.functions.col("form"),
          org.apache.spark.sql.functions.col("envo"))
      else envoRows0full
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
    val envoRows =
      if (!cfg.persistIntermediates) envoRows0
      else {
        val cached = share(envoRows0
          .repartition(spark.sessionState.conf.numShufflePartitions,
            org.apache.spark.sql.functions.col("conv_id"))
          .sortWithinPartitions(
            org.apache.spark.sql.functions.col("conv_id"),
            org.apache.spark.sql.functions.col("turn_idx"))
          .persist(disk))
        cached.count()
        cached
      }
    val mentionRows = MentionDetect.explodeMentions(turnMentions0)

    // Fused path (flat scoring): ONE aggregation yields score + evidence
    // together — no second pass over envoRows, no scores×support join.
    // Checkpointed, it commits as its own "fused" stage; annotated and
    // scores are projections of it.
    val fused: Option[DataFrame] =
      if (fusedApplies) {
        val f0 = Checkpoint.stage(spark, ckpt, "fused", fp) {
          LinkScore.scoreWithEvidence(spark, envoRows, cfg.score, cfg.evidenceCap)
        }
        val f = if (cfg.persistIntermediates) share(f0.persist(disk)) else f0
        // same materialize-before-plan reasoning: the co-occurrence
        // self-join goes exchange-free only when the cached fused frame's
        // conv_id partitioning is visible at planning time (the window
        // leaves it conv_id-partitioned)
        if (cfg.persistIntermediates) f.count()
        Some(f)
      } else None

    val scores = fused match {
      case Some(f) =>
        f.select(org.apache.spark.sql.functions.col("conv_id"),
          org.apache.spark.sql.functions.col("envo"),
          org.apache.spark.sql.functions.col("score"))
      case None =>
        val scores0 = Checkpoint.stage(spark, ckpt, "scores", fp) {
          LinkScore.score(spark, envoRows, dict, cfg.score)
        }
        if (cfg.persistIntermediates) share(scores0.persist(disk))
        else scores0
    }

    val annotated = fused match {
      case Some(f) => TripleEmit.annotatedFromFused(spark, f, dict)
      case None => Checkpoint.stage(spark, ckpt, "annotated", fp) {
        TripleEmit.annotatedWith(spark, scores, envoRows, dict, cfg.evidenceCap)
      }
    }
    // The mention branch is a pure projection — it needs no partitioning,
    // and the shared frame gives it a free ride — except on thin fused
    // runs, where the shared frame has no provenance columns: there the
    // FULL mention frame re-derives from the un-shuffled tagger output,
    // and the canonical sink unions a thin projection of the shared frame
    // instead (mentionTriplesForUnion).
    val mentionSource = if (fusedThin) envoRows0full else envoRows
    val mentionTriples = TripleEmit.mentionTriples(spark, mentionSource, dict)
    val mentionUnion =
      if (fusedThin) Some(TripleEmit.mentionTriplesThin(spark, envoRows, dict))
      else None
    val cooc = Checkpoint.stage(spark, ckpt, "cooccurrence", fp) {
      // scores is a (conv_id, envo) groupBy output — provably distinct
      TripleEmit.coOccurrence(scores, assumeDistinct = true)
    }

    KgResult(
      turnMentions = turnMentions0,
      mentionRows = mentionRows,
      scores = scores,
      annotated = annotated,
      mentionTriples = mentionTriples,
      coOccurrence = cooc,
      coOccurrenceTriples = TripleEmit.coOccurrenceTriples(spark, cooc, dict),
      ontologyTriples = TripleEmit.ontologyTriples(spark, dict),
      sharedFrames = shared.toSeq,
      mentionTriplesForUnion = mentionUnion)
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
