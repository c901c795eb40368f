package graft.stages

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dict.EnvoDict

/** Scoring configuration — mirrors the reference's flags and defaults
  * (seqenv/analysis.py:88-146: normalization ∈ {flat,ui,upui},
  * proportional=true, backtracking=false, restrict=None). */
final case class ScoreConfig(
    normalization: String = "flat",
    proportional: Boolean = true,
    backtracking: Boolean = false,
    restrict: Option[Int] = None) {
  require(Set("flat", "ui", "upui").contains(normalization),
    s"normalization must be flat|ui|upui, got $normalization")
}

/**
 * Stage 2 — entity-link scoring: the reference's `seq_to_counts` engine
 * (seqenv/analysis.py:338-408) recast as Catalyst groupBy-aggs per conv_id.
 *
 * Correspondence: conv_id ≈ seq, turn ≈ GI hit, text_hash ≈ isolation key,
 * tool ≈ pubmed id. Normalizations:
 *  - flat: every turn's envo occurrences counted (duplicates kept);
 *  - ui:   duplicate texts within a conversation counted once
 *          (set-of-isokeys, analysis.py:363-369);
 *  - upui: dedupe by text keeping the FIRST turn, then among survivors
 *          dedupe by tool keeping the first, null-tool rows all kept
 *          (analysis.py:382-403). The reference's "first" is dict insertion
 *          order; we pin the deterministic analog: order by turn_idx.
 *
 * Scale notes (10^12 turns): everything below is partial+final hash
 * aggregation, a `rank() = 1` keep-first window (planned as a streaming
 * WindowGroupLimit) or a broadcast join — no driver-side state, no collect,
 * no self-join. Every key is conv_id-prefixed, so over the conv_id-
 * partitioned partcache (KgPipeline.run) the scorer is one linear,
 * partition-local plan over one scan. The occurrence count per (conv_id,
 * envo) is aggregated BEFORE the per-conv total is computed, so a
 * mega-conversation collapses to at most ~1.6k rows (|EnvO|) ahead of the
 * per-conv total — map-side combine absorbs the skew that a naive
 * window-count over raw occurrences would concentrate on one partition.
 */
object LinkScore {

  /** input: envoRows with at least `inputColumns(cfg)` — one row per envo
    * occurrence (MentionDetect.envoRows)
    * output: (conv_id, envo:int, score:double) */
  def score(spark: SparkSession, envoRows: DataFrame, dict: EnvoDict,
            cfg: ScoreConfig): DataFrame = {

    // --- normalization: choose the surviving TURNS with keepFirst ordered
    //     by turn_idx. Over the conv_id-partitioned partcache every window
    //     is partition-local (no exchange, no self-join, one scan). rank
    //     (not row_number) keeps every row of the first turn — all envo
    //     occurrences, and turn_idx ties. Duplicate texts carry identical
    //     envo multisets, so keeping the min-turn representative is
    //     equivalent to the reference's set-of-isokeys / keep-first
    //     semantics.
    //     Hash-width note: dedup keys on the 64-bit text_hash WITHOUT the
    //     text. Unlike the tagger's memo (birthday paradox over ALL
    //     distinct texts of a task — it keys on the full text bytes),
    //     this collision space is per-conversation: two different texts
    //     must collide within ONE conv_id to mis-dedupe. At 10^12 turns /
    //     10^9 convs the expected number of affected conversations is
    //     ~sum(T_c^2)/2^65 ≈ 10^-5 — accepted, and cheaper than carrying
    //     text bytes through the hot projection. ---
    val survivors = cfg.normalization match {
      case "flat" => envoRows
      case "ui" => keepFirstPerText(envoRows)
      case "upui" =>
        // tool-dedup keeps the first turn per (conv, tool) among text-
        // survivors; null-tool rows all bypass (seqenv/analysis.py:391-392):
        // each turn's null-tool rows form a group of their own — the key is
        // the tool, or for a null tool the turn (a struct is never NULL)
        keepFirst(keepFirstPerText(envoRows), col("turn_idx"), col("conv_id"),
          struct(col("tool"), when(col("tool").isNull, col("turn_idx"))))
    }

    // --- envo occurrences (duplicates within a turn kept) ---
    val occurrences = survivors.select(col("conv_id"), col("envo"))

    // --- backtracking: each occurrence also contributes one occurrence of
    //     every ancestor (documented intent of analysis.py:371-372; the
    //     closure table replaces the reference's child_to_parents). One
    //     broadcast left join with a closure that lists each concept as its
    //     own first "ancestor"; a concept without closure rows keeps itself
    //     through the coalesce. ---
    val withAncestors =
      if (!cfg.backtracking) occurrences
      else occurrences
        .join(broadcast(selfClosureFrame(spark, dict)), col("envo") === col("child"), "left")
        .select(col("conv_id"), coalesce(col("ancestor"), col("envo")).as("envo"))

    // --- restrict: keep strict descendants of the restrict term
    //     (analysis.py:373-374; the restrict node itself is dropped) ---
    val restricted = cfg.restrict match {
      case None => withAncestors
      case Some(root) =>
        import spark.implicits._
        val allowed = dict.descendantsOf(root).toSeq.sorted.toDF("envo")
        withAncestors.join(broadcast(allowed), Seq("envo"), "left_semi")
    }

    // --- proportional scoring: score = 1/|all_envos per conv| else 1.0,
    //     summed per (conv, envo) (analysis.py:376-380) ---
    val counts = restricted.groupBy("conv_id", "envo").agg(count(lit(1)).as("occ"))
    if (cfg.proportional) {
      // conv total as a window-sum over the ALREADY-AGGREGATED counts: one
      // exchange by conv_id instead of a second agg + two-sided join. Safe
      // from the window-skew trap because counts is bounded at ≤|EnvO| rows
      // per conversation (the raw-occurrence collapse happened above); the
      // total is a LONG sum of LONG counts — exact and order-invariant, so
      // every oracle's occ/total division is unchanged bit-for-bit.
      val w = Window.partitionBy("conv_id")
      counts.select(col("conv_id"), col("envo"),
        (col("occ").cast("double") / sum("occ").over(w)).as("score"))
    } else {
      counts.select(col("conv_id"), col("envo"), col("occ").cast("double").as("score"))
    }
  }

  /** The evidence aggregation, ONE for every config: per (conv, envo) the
    * occurrence count, the supporting-turn count (A10) and the bounded turn
    * sample. `scoreWithEvidence` scores off it; `TripleEmit.annotatedWith`
    * joins it onto the scores.
    *
    * Explicit two-level shape instead of countDistinct: mixing a distinct
    * agg with bounded_min_set makes Spark evaluate EVERY agg at the
    * distinct-key grain through non-codegen ObjectHashAggregate passes
    * plus an extra (conv, envo, turn) exchange (measured +60% pipeline
    * CPU). Level 1 collapses to distinct turns with a codegen'd count;
    * level 2 derives occ (sum), n_turns (count of the non-NULL turns — a
    * NULL turn_idx names no supporting turn) and the bounded turn sample
    * (distinct-min-k — identical on deduped input). Under a conv_id-
    * partitioned input BOTH levels plan partition-local (every grouping
    * key is conv_id-prefixed).
    *
    * output: (conv_id, envo:int, occ:long, n_turns:long,
    * turn_sample:array<int>) */
  def evidence(spark: SparkSession, envoRows: DataFrame, evidenceCap: Int): DataFrame =
    envoRows
      .select(col("conv_id"), col("envo"), col("turn_idx"))
      .groupBy("conv_id", "envo", "turn_idx")
      .agg(count(lit(1)).as("occ_t"))
      .groupBy("conv_id", "envo")
      .agg(
        sum("occ_t").as("occ"),
        count("turn_idx").as("n_turns"),
        graft.functions.GraftFunctions.bounded_min_set(spark, col("turn_idx"), evidenceCap)
          .as("turn_sample"))

  /** Fused flat scoring + evidence: the evidence aggregation's occurrence
    * count IS the flat score's count, so the pipeline's annotated_with
    * branch needs neither a second full pass over the occurrence rows nor
    * the scores×support join-back (measured: that join was a SortMergeJoin
    * re-shuffling both sides at the bench corpus). Only valid when the
    * score transform neither adds keys (backtracking) nor removes them
    * (restrict) and scores every raw occurrence (flat) — then the fused
    * output is row-identical to score() joined with the evidence agg.
    *
    * output: (conv_id, envo:int, score:double, n_turns:long,
    * turn_sample:array<int>) */
  def scoreWithEvidence(spark: SparkSession, envoRows: DataFrame,
                        cfg: ScoreConfig, evidenceCap: Int): DataFrame = {
    require(supportsFused(cfg), s"fused scoring requires flat/no-backtracking/no-restrict, got $cfg")
    val score =
      if (cfg.proportional) {
        // same bounded window-sum as score() — ≤|EnvO| rows per conv
        val w = Window.partitionBy("conv_id")
        col("occ").cast("double") / sum("occ").over(w)
      } else col("occ").cast("double")
    evidence(spark, envoRows, evidenceCap).select(col("conv_id"), col("envo"),
      score.as("score"), col("n_turns"), col("turn_sample"))
  }

  /** Whether `scoreWithEvidence` computes the same rows as score() + the
    * evidence agg for this config. */
  def supportsFused(cfg: ScoreConfig): Boolean =
    cfg.normalization == "flat" && !cfg.backtracking && cfg.restrict.isEmpty

  /** The envoRows columns that score, scoreWithEvidence and
    * TripleEmit.annotatedWith read under this config — the columns the
    * pipeline's conv_id partcache holds. Flat scoring reads the turn and
    * the concept; ui adds the text key, upui also the tool. */
  def inputColumns(cfg: ScoreConfig): Seq[String] = cfg.normalization match {
    case "flat" => Seq("conv_id", "turn_idx", "envo")
    case "ui" => Seq("conv_id", "turn_idx", "text_hash", "envo")
    case "upui" => Seq("conv_id", "turn_idx", "tool", "text_hash", "envo")
  }

  private def keepFirstPerText(envoRows: DataFrame): DataFrame =
    keepFirst(envoRows, col("turn_idx"), col("conv_id"), col("text_hash"))

  /** Keep-first, the ONE implementation (the scorer's ui/upui dedupes and
    * DimBuild's per-gi uniquify): the rows whose `order` value is the
    * minimum of their `keys` group, ties all kept. Rows with a NULL key or
    * a NULL order value are dropped — a NULL never names a first row.
    *
    * A `rank() = 1` filter over a window ordered by `order`: the optimizer
    * turns it into a WindowGroupLimit, a streaming top-1 over the sorted
    * input, so the window never buffers a group that repeats one key
    * millions of times, and over an input not partitioned by the keys the
    * Partial WindowGroupLimit runs before the exchange and absorbs repeats
    * map-side like a partial agg. No agg + join-back, so a hot key is
    * never joined back onto itself. */
  private[graft] def keepFirst(df: DataFrame, order: Column, keys: Column*): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order)
    df.filter((keys :+ order).map(_.isNotNull).reduce(_ && _))
      .withColumn("_first", rank().over(w)).filter(col("_first") === 1).drop("_first")
  }

  /** The ancestor-closure dim as a tiny broadcastable DataFrame
    * (child:int, ancestor:int) — 9536 rows from envo_groups.tsv. */
  def closureFrame(spark: SparkSession, dict: EnvoDict): DataFrame = {
    import spark.implicits._
    dict.closure.toSeq
      .flatMap { case (c, as) => as.map(a => (c, a)) }
      .toDF("child", "ancestor")
  }

  /** closureFrame plus one (c, c) row per concept that has closure rows. */
  private def selfClosureFrame(spark: SparkSession, dict: EnvoDict): DataFrame = {
    import spark.implicits._
    dict.closure.toSeq
      .flatMap { case (c, as) => (c +: as.toSeq).map(a => (c, a)) }
      .toDF("child", "ancestor")
  }
}
