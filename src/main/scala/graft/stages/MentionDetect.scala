package graft.stages

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Stage 1 — dictionary mention detection over per-turn text.
 *
 * The Spark-first recast of the reference's tagger stage
 * (seqenv/data_sources/add_tagger_results.py:114-134), which tags each
 * DISTINCT text once. Here that dedupe happens inside the task, not across
 * the cluster: the tagger is one shuffle-free projection over the turns
 * whose bounded per-task memo tags each distinct text once (see
 * [[graft.functions.TagEnvoMemo]]). A global distinct plus join-back would
 * cost two text-carrying shuffles to save tagging that runs at about a
 * million short texts per second per core.
 *
 * The automaton (≈6.5k patterns) is a JVM-global built from bundled
 * resources on first use per executor and evaluated via the native
 * TagEnvoMentions Catalyst expression — compute-bound, embarrassingly
 * parallel over the input's own partitions, no broadcast or
 * Dataset-encoder round trip.
 */
object MentionDetect {

  /** turns(conv_id, turn_idx, role, text, tool, ts)
    *   -> (conv_id, turn_idx, tool, text_hash, mentions: array<struct>)
    * Only turns with ≥1 mention survive (non-empty filter), matching the
    * reference's "GIs with envo" restriction (seqenv/analysis.py:333-336).
    *
    * The tagger is memoized per task: a text repeated within a partition
    * is tagged once while it stays in the bounded memo, and the pushed-down
    * non-empty filter's call hits the entry the projection's call needs.
    * It dedupes only within a task, never across partitions, and it
    * compares full text bytes, so it can never pair two different texts.
    *
    * `dedupeTexts` is ignored; deleted once the benchmark stops passing it.
    *
    * `dict`: an optional broadcast automaton to tag with INSTEAD of the
    * JVM-global bundled dictionary — the injectable-dictionary path that
    * lets the composed pipeline run under a caller-supplied vocabulary
    * (tests, the restricted-dictionary driver gate, domain dictionaries). */
  def detect(spark: SparkSession, turns: DataFrame,
             @deprecated("ignored: the tagger always memoizes per task", "0.1.0")
             dedupeTexts: Boolean = true,
             dict: Option[org.apache.spark.broadcast.Broadcast[graft.dict.AhoCorasick]] = None): DataFrame = {
    // the native TagEnvoMentions Catalyst expression inside a plain
    // projection — no Dataset Encoder round trip, and the tagger composes
    // with whatever else the projection computes
    val mentions = dict match {
      case Some(bc) =>
        graft.functions.GraftFunctions.tag_envo_with(spark, bc, col("text"))
      case None =>
        graft.functions.GraftFunctions.tag_envo(spark, col("text"))
    }
    turns
      .select(col("conv_id"), col("turn_idx"), col("tool"),
        xxhash64(col("text")).as("text_hash"), mentions.as("mentions"))
      .filter(size(col("mentions")) > 0)
  }

  /** THE hot intermediate: one row per envo occurrence, all-primitive
    * columns — (conv_id, turn_idx, tool, text_hash, mention_pos, start,
    * end, form, envo). Primitive columns make the columnar cache build
    * ~10× cheaper than persisting the nested mentions array. The pipeline
    * caches only the scorer's columns of it (LinkScore.inputColumns) and
    * reads the span columns off the un-shuffled frame. The envo-occurrence
    * granularity is the analog of one decoded GI envo tuple element
    * (seqenv/analysis.py:357). */
  def envoRows(turnMentions: DataFrame): DataFrame = {
    val keys = Seq("conv_id", "turn_idx", "tool", "text_hash").map(col)
    val span = Seq("mention_pos", "start", "end", "form").map(col)
    turnMentions
      .select(keys :+ posexplode(col("mentions")).as(Seq("mention_pos", "m")): _*)
      .select(keys ++ Seq(col("mention_pos"), col("m.start").as("start"), col("m.end").as("end"),
        col("m.form").as("form"), col("m.envos").as("envos")): _*)
      .select(keys ++ span :+ explode(col("envos")).as("envo"): _*)
  }
}
