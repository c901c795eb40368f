package graft.synth

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.Turn

/**
 * Deterministic synthetic transcript generator (FIXTURES.md §1).
 *
 * Seeded per-conversation (no wall clock, no global RNG), so the same
 * (seed, nConvs) always yields byte-identical tables regardless of
 * partitioning — generation is distributed via `spark.range(nConvs)` and
 * each conversation derives its own `Random(seed ^ convIdx)`.
 *
 * Texts are composed from:
 *  (a) the reference's golden isolation-source strings
 *      (seqenv/data_sources/generate.py:261-266),
 *  (b) dictionary surface phrases with case perturbations (stoplist cases),
 *  (c) distractor prose with no dictionary hits,
 *  (d) duplicate texts within / across conversations (flat vs ui vs upui).
 *
 * Skew: conv 0 is a mega-conversation with `skewFactor ×` the median turns —
 * exercises the skew-handling path of the scorer.
 */
object TranscriptGen {

  val goldenTexts: Vector[String] = Vector(
    "Everglades wetlands",
    "lake water at 5 m depth during dry season",
    "downstream along river bank",
    "aphotic layer; anoxic zone; tucurui hydroeletric power plant reservoir",
    "bacterioplankton sample from lake")

  private val dictPhrases: Vector[String] = Vector(
    "the ocean was calm near the coral reef",
    "sediment core from the estuary floor",
    "hot spring microbial mat in the geyser field",
    "glacier meltwater stream in the tundra",
    "agricultural soil from a rice paddy",
    "hydrothermal vent fluid sample",
    "mangrove swamp surface water",
    "compost heap in a suburban garden",
    "deep sea brine pool interface",
    "freshwater pond with duckweed cover")

  private val blockedCasePhrases: Vector[String] = Vector(
    "the OCEAN was calm", // OCEAN blocked by the case-sensitive stoplist
    "Marine sediment was collected", // Marine blocked; sediment matches
    "fresh air in the morning", // air blocked in every case variant
    "SOIL sample number four") // SOIL blocked

  private val distractors: Vector[String] = Vector(
    "please summarize the previous discussion in two sentences",
    "the quarterly report numbers look consistent with projections",
    "compile finished without warnings on the second attempt",
    "thanks, that answers my question completely",
    "retry the request with exponential backoff enabled")

  private val roles = Vector("user", "assistant", "tool")
  private val tools = Vector("search", "calculator", "browser", "interpreter")
  private val baseTsMillis = 1735689600000L // 2025-01-01T00:00:00Z, fixed epoch

  /** @param verbosity phrase segments per turn (1 = terse unit-test turns;
    *                   the bench uses ~6 for realistic multi-sentence turns
    *                   where tagging compute dominates fixed overhead). */
  def turnsFor(convIdx: Long, seed: Long, meanTurns: Int, skewFactor: Int,
               verbosity: Int = 1): Seq[Turn] = {
    val rng = new scala.util.Random(seed ^ (convIdx * 0x9E3779B97F4A7C15L))
    val nTurns =
      if (convIdx == 0) meanTurns * skewFactor
      else 2 + rng.nextInt(math.max(1, meanTurns * 2 - 2))
    val convId = f"conv$convIdx%08d"
    (0 until nTurns).map { t =>
      val pick = rng.nextInt(10)
      // mostly-unique texts (suffix varies) so the tagger's memo is
      // exercised honestly; picks 5 and 6 are exact repeats for ui/upui
      val base = pick match {
        case 0 | 1 =>
          goldenTexts(rng.nextInt(goldenTexts.length)) +
            s" item ${rng.nextInt(1000000)}"
        case 2 | 3 | 4 =>
          dictPhrases(rng.nextInt(dictPhrases.length)) + " and " +
            dictPhrases(rng.nextInt(dictPhrases.length)) +
            s" sample ${rng.nextInt(1000000)}"
        case 5 => blockedCasePhrases(rng.nextInt(blockedCasePhrases.length))
        case 6 => // duplicate of an earlier style within the conv (ui/upui path)
          goldenTexts(convIdx.toInt.abs % goldenTexts.length)
        case 7 =>
          distractors(rng.nextInt(distractors.length)) +
            s" case ${rng.nextInt(1000000)}"
        case _ => distractors(rng.nextInt(distractors.length))
      }
      val text =
        if (verbosity <= 1 || pick == 5 || pick == 6) base
        else {
          val extra = 1 + rng.nextInt(2 * verbosity - 2)
          val sb = new StringBuilder(base)
          var i = 0
          while (i < extra) {
            sb.append(". ")
            sb.append(if (rng.nextBoolean()) dictPhrases(rng.nextInt(dictPhrases.length))
                      else distractors(rng.nextInt(distractors.length)))
            i += 1
          }
          sb.toString
        }
      val tool = if (rng.nextInt(3) == 0) Some(tools(rng.nextInt(tools.length))) else None
      Turn(
        conv_id = convId,
        turn_idx = t,
        role = roles(t % roles.length),
        text = text,
        tool = tool,
        ts = new Timestamp(baseTsMillis + convIdx * 86400000L + t * 60000L))
    }
  }

  /** Distributed generation: ~`nConvs` conversations, seeded, reproducible. */
  def generate(spark: SparkSession, nConvs: Long, seed: Long = 42L,
               meanTurns: Int = 8, skewFactor: Int = 50,
               partitions: Int = 32, verbosity: Int = 1): Dataset[Turn] = {
    import spark.implicits._
    spark.range(0, nConvs, 1, partitions)
      .flatMap(i => turnsFor(i, seed, meanTurns, skewFactor, verbosity))
  }
}
