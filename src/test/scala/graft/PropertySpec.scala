package graft

import org.apache.spark.sql.DataFrame
import graft.stages.{LinkScore, MentionDetect, ScoreConfig}
import graft.synth.TranscriptGen

/** Property tests over seeded random transcript tables (deterministic
  * generators — SURVEY §5): normalization dominance, proportional-sum,
  * partitioning invariance, span invariants. */
class PropertySpec extends CacheHygiene {
  import spark.implicits._

  private def scores(turns: DataFrame, cfg: ScoreConfig): Map[(String, Int), Double] = {
    val tm = MentionDetect.detect(spark, turns)
    LinkScore.score(spark, MentionDetect.envoRows(tm), KgPipeline.sharedDict, cfg)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
  }

  private def turnsDf(seed: Long, nConvs: Int) =
    (0L until nConvs.toLong).flatMap(i => TranscriptGen.turnsFor(i, seed, 6, 10)).toDS.toDF

  test("dominance: upui counts <= ui counts <= flat counts, everywhere") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val t = turnsDf(seed, 40)
      val flat = scores(t, ScoreConfig("flat", proportional = false))
      val ui = scores(t, ScoreConfig("ui", proportional = false))
      val upui = scores(t, ScoreConfig("upui", proportional = false))
      ui.foreach { case (k, v) =>
        assert(v <= flat.getOrElse(k, 0.0) + 1e-9, s"seed=$seed ui>flat at $k") }
      upui.foreach { case (k, v) =>
        assert(v <= ui.getOrElse(k, 0.0) + 1e-9, s"seed=$seed upui>ui at $k") }
      // same key universe flat vs ui (dedupe never removes a concept entirely
      // unless all its turns were duplicates of other turns carrying it too)
      assert(ui.keySet.subsetOf(flat.keySet))
      assert(upui.keySet.subsetOf(ui.keySet))
    }
  }

  test("proportional: per-conversation scores sum to 1.0 on random tables") {
    for (seed <- Seq(7L, 8L); norm <- Seq("flat", "ui", "upui")) {
      val s = scores(turnsDf(seed, 30), ScoreConfig(norm, proportional = true))
      s.groupBy(_._1._1).foreach { case (conv, entries) =>
        val total = entries.values.sum
        assert(math.abs(total - 1.0) < 1e-9, s"seed=$seed $norm conv=$conv sums to $total")
      }
    }
  }

  // the tagger's memo is per-task state (the in-task form of the
  // reference's distinct-text rewrite): which texts share a task, and in
  // what order they arrive, must not change a single mention
  test("physical-strategy invariance: memoized tagging under repartition and row order") {
    val t = turnsDf(21L, 50)
    def rows(df: DataFrame) = MentionDetect.envoRows(MentionDetect.detect(spark, df))
      .select("conv_id", "turn_idx", "mention_pos", "start", "end", "form")
      .collect().map(_.toSeq).toSet
    val base = rows(t)
    assert(base.nonEmpty)
    assert(rows(t.repartition(1)) === base, "one task holding every text")
    assert(rows(t.repartition(17)) === base, "17 tasks")
    assert(rows(t.orderBy(org.apache.spark.sql.functions.rand(3)).repartition(3)) === base,
      "shuffled row order")
  }

  test("partitioning invariance: scores identical under repartition/shuffle") {
    val t = turnsDf(11L, 40)
    val base = scores(t, ScoreConfig())
    val shuffled = scores(t.repartition(17), ScoreConfig())
    val coalesced = scores(t.orderBy(org.apache.spark.sql.functions.rand(5)).repartition(3), ScoreConfig())
    assert(shuffled === base)
    assert(coalesced === base)
  }

  test("walk centrality: shares sum to 1, walk1 == concept-degree strength") {
    for (seed <- Seq(4L, 13L)) {
      val tm = MentionDetect.detect(spark, turnsDf(seed, 40))
      val sc = LinkScore.score(spark, MentionDetect.envoRows(tm),
        KgPipeline.sharedDict, ScoreConfig())
      val pairs = graft.stages.TripleEmit.coOccurrence(sc, assumeDistinct = true)
        .persist()
      try {
        val cent = graft.stages.TripleEmit
          .walkCentrality(spark, pairs, KgPipeline.sharedDict).collect()
          .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(4)))).toMap
        assert(cent.nonEmpty, s"seed=$seed produced no graph")
        // the final share is a probability distribution over concepts
        assert(math.abs(cent.values.map(_._2).sum - 1.0) < 1e-9, s"seed=$seed")
        cent.foreach { case (c, (w1, sh)) =>
          assert(w1 > 0L && sh > 0.0, s"seed=$seed $c non-positive") }
        // cross-op consistency: walk1 is exactly o16's pair-conversation
        // strength (both are the weighted degree of the same graph)
        val strength = graft.stages.TripleEmit
          .conceptDegrees(spark, pairs, KgPipeline.sharedDict).collect()
          .map(r => r.getString(0) -> r.getLong(2)).toMap
        assert(cent.view.mapValues(_._1).toMap === strength, s"seed=$seed")
      } finally {
        pairs.unpersist()
        // walkCentrality persists its internal edge frame per call — clear
        // it so per-seed iterations don't leak caches into the shared
        // session (same hygiene as OpsSpec's walk test)
        spark.sharedState.cacheManager.clearCache()
      }
    }
  }

  test("mention spans: in-bounds, non-overlapping, never stoplisted") {
    val ac = KgPipeline.sharedAutomaton
    val dict = KgPipeline.sharedDict
    val rng = new scala.util.Random(99)
    val vocab = dict.formToSerials.keys.toVector
    for (_ <- 1 to 300) {
      val words = Seq.fill(3 + rng.nextInt(10)) {
        rng.nextInt(4) match {
          case 0 => vocab(rng.nextInt(vocab.size))
          case 1 => vocab(rng.nextInt(vocab.size)).toUpperCase
          case 2 => "zzz" + rng.nextInt(100)
          case _ => dict.stoplist.toVector(rng.nextInt(dict.stoplist.size))
        }
      }
      val text = words.mkString(" ")
      val spans = ac.tag(text)
      var lastEnd = 0
      spans.foreach { s =>
        assert(s.start >= lastEnd && s.end <= text.length && s.start < s.end)
        lastEnd = s.end
        assert(!dict.stoplist.contains(text.substring(s.start, s.end)),
          s"stoplisted slice matched: '${text.substring(s.start, s.end)}'")
        assert(s.serials.nonEmpty)
        // every form maps to numeric EnvO ids except the synthetic root's
        // own name ("ENVO_root" -> ENVO:root, which has no integer id)
        assert(s.envos.nonEmpty || s.form == "envo_root")
      }
    }
  }
}
