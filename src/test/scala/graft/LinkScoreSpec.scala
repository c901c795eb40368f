package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import graft.model.Turn
import graft.stages.{LinkScore, MentionDetect, ScoreConfig, TripleEmit}

/** FIXTURES.md §4 scoring fixtures, mirroring documentation/frequencies.png
  * and seqenv/analysis.py:338-408.
  * Texts: {"lake mud of the lake", same again (dup), "marine wetland"}.
  * Tagger output per text: lake-mud text -> [20, 1000001, 20]; marine
  * wetland -> [447, 569, 43]. */
class LinkScoreSpec extends CacheHygiene {
  import spark.implicits._

  private def turn(conv: String, idx: Int, text: String, tool: Option[String]) =
    Turn(conv, idx, "user", text, tool, new Timestamp(1735689600000L + idx * 1000L))

  private val miniTurns = Seq(
    turn("c1", 0, "lake mud of the lake", Some("search")),
    turn("c1", 1, "lake mud of the lake", Some("search")),
    turn("c1", 2, "marine wetland", Some("search")))

  private def scores(turns: Seq[Turn], cfg: ScoreConfig): Map[(String, Int), Double] = {
    val pipeline = new KgPipeline(spark)
    val tm = MentionDetect.detect(spark, turns.toDS.toDF)
    LinkScore.score(spark, MentionDetect.envoRows(tm), pipeline.dict, cfg)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
  }

  test("flat, non-proportional: duplicates double-count") {
    val s = scores(miniTurns, ScoreConfig("flat", proportional = false))
    assert(s(("c1", 20)) === 4.0)       // lake ×2 per text ×2 duplicate texts
    assert(s(("c1", 1000001)) === 2.0)  // mud ×1 per text ×2
    assert(s(("c1", 43)) === 1.0)       // wetland
    assert(s(("c1", 447)) === 1.0 && s(("c1", 569)) === 1.0) // marine both concepts
  }

  test("ui: duplicate texts within a conversation counted once") {
    val s = scores(miniTurns, ScoreConfig("ui", proportional = false))
    assert(s(("c1", 20)) === 2.0)
    assert(s(("c1", 1000001)) === 1.0)
    assert(s(("c1", 43)) === 1.0)
  }

  test("upui: text-dedupe then tool-dedupe keep-first; null tools all kept") {
    // equal tool: after text-dedupe (turns 0,2 survive), tool-dedupe keeps
    // only the first turn -> marine-wetland row dropped
    val s1 = scores(miniTurns, ScoreConfig("upui", proportional = false))
    assert(s1(("c1", 20)) === 2.0)
    assert(s1(("c1", 1000001)) === 1.0)
    assert(!s1.contains(("c1", 43)))
    // null tools: every distinct-text row kept
    val nullTool = miniTurns.map(_.copy(tool = None))
    val s2 = scores(nullTool, ScoreConfig("upui", proportional = false))
    assert(s2(("c1", 20)) === 2.0 && s2(("c1", 43)) === 1.0)
    // distinct tools: both rows survive
    val twoTools = Seq(
      miniTurns(0), miniTurns(1), miniTurns(2).copy(tool = Some("browser")))
    val s3 = scores(twoTools, ScoreConfig("upui", proportional = false))
    assert(s3(("c1", 43)) === 1.0)
  }

  test("proportional: per-conversation scores sum to 1.0") {
    for (norm <- Seq("flat", "ui", "upui")) {
      val s = scores(miniTurns, ScoreConfig(norm, proportional = true))
      val total = s.collect { case ((c, _), v) if c == "c1" => v }.sum
      assert(math.abs(total - 1.0) < 1e-9, s"$norm sums to $total")
    }
    // flat proportional: 9 occurrences total (marine contributes TWO
    // concepts): lake = 4/9, mud = 2/9, others 1/9
    val s = scores(miniTurns, ScoreConfig("flat", proportional = true))
    assert(math.abs(s(("c1", 20)) - 4.0 / 9) < 1e-9)
    assert(math.abs(s(("c1", 1000001)) - 2.0 / 9) < 1e-9)
  }

  test("backtracking: ancestors receive propagated counts") {
    val turns = Seq(turn("c1", 0, "the ocean was calm", None))
    val s = scores(turns, ScoreConfig("flat", proportional = false, backtracking = true))
    assert(s(("c1", 15)) === 1.0)        // ocean itself
    assert(s(("c1", 63)) === 1.0)        // water body, an ancestor
    val dict = KgPipeline.sharedDict
    // every ancestor in the closure got exactly one count
    dict.closure(15).foreach(a => assert(s(("c1", a)) === 1.0))
  }

  test("restrict: keeps only strict descendants of the restrict term") {
    val turns = Seq(
      turn("c1", 0, "the ocean was calm", None),
      turn("c1", 1, "marine sediment", None)) // ENVO:00002113
    // restrict to water body (63): ocean kept, marine sediment dropped
    val s = scores(turns, ScoreConfig("flat", proportional = false, restrict = Some(63)))
    assert(s.contains(("c1", 15)))
    assert(!s.contains(("c1", 2113)))
    assert(!s.contains(("c1", 63))) // the restrict node itself is dropped
  }

  test("combined: ui + backtracking + restrict + proportional apply in reference order") {
    // reference order (analysis.py:362-380): dedupe -> backtrack -> restrict
    // -> proportional over the RESTRICTED occurrence count
    val dict = KgPipeline.sharedDict
    val turns = Seq(
      turn("c1", 0, "the ocean was calm", None),
      turn("c1", 1, "the ocean was calm", None), // ui-deduped duplicate
      turn("c1", 2, "marine sediment", None))    // 2113, outside water body
    val s = scores(turns, ScoreConfig("ui", proportional = true,
      backtracking = true, restrict = Some(63))) // restrict: water body subtree
    // after dedupe: occurrences {ocean 15, marine-sediment 2113}
    // backtracking adds all ancestors of both; restrict keeps only strict
    // descendants of 63: ocean itself + its ancestors below 63
    def descendsFromWaterBody(e: Int) =
      dict.closure.getOrElse(e, Array.empty[Int]).contains(63)
    // occurrence multiset after backtracking: each child (15, 2113) once,
    // plus one occurrence of each of its ancestors; then restrict
    val children = Seq(15, 2113)
    val occurrences = children.flatMap(c => c +: dict.closure(c).toSeq)
      .filter(descendsFromWaterBody)
    val expected = occurrences.groupBy(identity).view.mapValues(_.size).toMap
    assert(s.keySet.map(_._2) === expected.keySet)
    val total = s.values.sum
    assert(math.abs(total - 1.0) < 1e-9)
    expected.foreach { case (e, n) =>
      assert(math.abs(s(("c1", e)) - n.toDouble / occurrences.size) < 1e-9, s"envo $e")
    }
  }

  test("fused scoreWithEvidence == classic score + evidence agg, row for row") {
    import org.apache.spark.sql.functions._
    // annotated_with rows on both scorer paths — the fused flat scorer (the
    // plan under the o2/o6/o10/o12 hashes) and annotatedWith's scores ⋈
    // evidence — must equal the classic score left-joined to a
    // countDistinct evidence reference, for every config. A NULL turn_idx
    // (any parquet input can carry one) counts as an occurrence, never as
    // a supporting turn.
    val turns = miniTurns ++ Seq(
      turn("c2", 0, "lake mud of the lake", None),
      turn("c2", 5, "marine wetland", Some("t1")),
      turn("c2", 9, "marine wetland", Some("t1")))
    val dict = KgPipeline.sharedDict
    val tagged = MentionDetect.envoRows(MentionDetect.detect(spark, turns.toDS.toDF))
    val rows = tagged.unionByName(tagged.filter($"conv_id" === "c2" && $"turn_idx" === 0)
      .withColumn("turn_idx", lit(null).cast("int")))
    val support = rows.groupBy("conv_id", "envo")
      .agg(countDistinct("turn_idx").as("n"),
        graft.functions.GraftFunctions.bounded_min_set(spark, col("turn_idx"), 2).as("ts"))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getSeq[Int](3).toList))).toMap
    for (cfg <- Seq(
        ScoreConfig("flat", proportional = true), ScoreConfig("flat", proportional = false),
        ScoreConfig("ui"), ScoreConfig("upui"), ScoreConfig("flat", backtracking = true),
        ScoreConfig("upui", backtracking = true))) {
      val scores = LinkScore.score(spark, rows, dict, cfg)
      // a scored concept without support (a backtracking ancestor) carries
      // evidence 0 and no sample
      val expected = scores.collect().toSeq.flatMap { r =>
        val (conv, envo) = (r.getString(0), r.getInt(1))
        val (n, sample) = support.get((conv, envo)).fold((0L, "null"))(s => (s._1, s._2.toString))
        dict.intToCurie.get(envo).map(curie => (conv, curie, r.getDouble(2), n, sample))
      }.sortBy(_.toString)
      val annotated =
        if (LinkScore.supportsFused(cfg))
          TripleEmit.annotatedFromFused(spark, LinkScore.scoreWithEvidence(spark, rows, cfg, 2), dict)
        else TripleEmit.annotatedWith(spark, scores, rows, dict, 2)
      val got = annotated.collect().toSeq.map { r =>
        (r.getAs[String]("subj"), r.getAs[String]("obj"), r.getAs[Double]("weight"),
          r.getAs[Long]("evidence"),
          Option(r.getAs[scala.collection.Seq[Int]]("turn_sample")).fold("null")(_.toList.toString))
      }.sortBy(_.toString)
      assert(expected.nonEmpty, s"$cfg scored nothing")
      assert(got === expected, s"$cfg")
    }
    // non-flat configs must refuse the fused path loudly
    intercept[IllegalArgumentException] {
      LinkScore.scoreWithEvidence(spark, rows, ScoreConfig(normalization = "ui"), 2)
    }
  }

  /** One scorer input row: an envo occurrence of a turn. */
  private case class Occ(conv: String, turn: Option[Int], tool: Option[String],
                         textHash: Long, envo: Int)

  /** Plain-Scala sequential scorer: walk each conversation in turn_idx
    * order with a seen-text set and a seen-tool set (NULL tools bypass the
    * tool check), as seqenv/analysis.py:362-403 does; turns without a
    * turn_idx have no place in that order and never survive ui/upui. */
  private def referenceScores(rows: Seq[Occ], cfg: ScoreConfig,
                              dict: graft.dict.EnvoDict): Map[(String, Int), Double] =
    rows.groupBy(_.conv).toSeq.flatMap { case (conv, rs) =>
      val kept = cfg.normalization match {
        case "flat" => rs.map(_.envo)
        case norm =>
          val seenText = scala.collection.mutable.Set.empty[Long]
          val seenTool = scala.collection.mutable.Set.empty[String]
          rs.filter(_.turn.isDefined).groupBy(_.turn.get).toSeq.sortBy(_._1).flatMap {
            case (_, turnRows) =>
              val t = turnRows.head
              val keep = seenText.add(t.textHash) &&
                (norm == "ui" || t.tool.forall(seenTool.add))
              if (keep) turnRows.map(_.envo) else Nil
          }
      }
      val ancestors = (e: Int) => dict.closure.getOrElse(e, Array.empty[Int]).toSeq
      val backtracked = if (cfg.backtracking) kept.flatMap(e => e +: ancestors(e)) else kept
      val restricted = cfg.restrict.fold(backtracked)(root =>
        backtracked.filter(e => ancestors(e).contains(root)))
      val counts = restricted.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val total = counts.values.sum
      counts.map { case (e, n) =>
        (conv, e) -> (if (cfg.proportional) n.toDouble / total.toDouble else n.toDouble)
      }
    }.toMap

  /** Random scorer input: texts carry fixed envo multisets (with repeats
    * inside a turn), about a third of the tools and a twentieth of the
    * turn_idx values are NULL, one mega-conversation repeats one text
    * thousands of times, and the rows arrive shuffled. */
  private def randomOccs(seed: Int, concepts: IndexedSeq[Int]): Seq[Occ] = {
    val rnd = new scala.util.Random(seed)
    val textEnvos = Vector.fill(40)(
      Vector.fill(1 + rnd.nextInt(4))(concepts(rnd.nextInt(concepts.size))))
    val tools = Vector(Some("search"), Some("browser"), Some("python"), None)
    def conv(id: String, nTurns: Int, text: () => Int): Seq[Occ] = {
      val idx = rnd.shuffle((0 until nTurns * 3).toVector).take(nTurns)
      idx.flatMap { i =>
        val turn = if (rnd.nextInt(20) == 0) None else Some(i)
        val tool = tools(rnd.nextInt(tools.size))
        val t = text()
        textEnvos(t).map(e => Occ(id, turn, tool, t.toLong, e))
      }
    }
    val small = (0 until 30).flatMap(c => conv(s"c$c", 1 + rnd.nextInt(25), () => rnd.nextInt(8)))
    val mega = conv("mega", 3000, () => if (rnd.nextInt(10) == 0) rnd.nextInt(40) else 0)
    rnd.shuffle(small ++ mega)
  }

  test("differential: ui/upui/backtracking/restrict equal a sequential reference, bit for bit") {
    val dict = KgPipeline.sharedDict
    val noAncestors = dict.intToCurie.keys.toSeq.sorted
      .filter(e => dict.closure.getOrElse(e, Array.empty[Int]).isEmpty).take(3)
    assert(noAncestors.nonEmpty)
    val underWaterBody = dict.descendantsOf(63).toSeq.sorted.take(4)
    // 20/1000001/43/447/569: the fixture concepts; 63: the restrict root
    // itself; 999999999: no dictionary entry at all
    val concepts = (Seq(15, 63, 2113, 20, 1000001, 43, 447, 569, 999999999) ++
      noAncestors ++ underWaterBody).distinct.toIndexedSeq
    val occs = randomOccs(seed = 17, concepts)
    val plain = occs.map(o => (o.conv, o.turn, o.tool, o.textHash, o.envo))
      .toDF("conv_id", "turn_idx", "tool", "text_hash", "envo")
    // the pipeline's partcache layout (KgPipeline.run)
    val partcache = plain.repartition(4, $"conv_id")
      .sortWithinPartitions($"conv_id", $"turn_idx").persist()
    partcache.count()
    try {
      for {
        norm <- Seq("flat", "ui", "upui")
        proportional <- Seq(true, false)
        backtracking <- Seq(false, true)
        restrict <- Seq(None, Some(63))
      } {
        val cfg = ScoreConfig(norm, proportional, backtracking, restrict)
        val expected = referenceScores(occs, cfg, dict)
        assert(expected.nonEmpty, s"$cfg: the reference scored nothing")
        for ((layout, input) <- Seq("plain" -> plain, "partcache" -> partcache)) {
          val got = LinkScore.score(spark, input, dict, cfg)
            .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
          assert(got === expected, s"$cfg over the $layout input")
        }
      }
    } finally partcache.unpersist()
  }

  test("conversations with no mentions are absent from the output") {
    val turns = Seq(
      turn("c1", 0, "the ocean was calm", None),
      turn("c2", 0, "no dictionary words in here at all", None))
    val s = scores(turns, ScoreConfig())
    assert(s.keys.map(_._1).toSet === Set("c1"))
  }
}
