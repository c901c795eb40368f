package graft

import scala.collection.mutable
import graft.dict.EnvoDict
import graft.model.Turn
import graft.synth.TranscriptGen

/** Independent naive O(n·m) oracle for the tagger + flat scorer, living only
  * in the test tree (FIXTURES.md §3): substring scan over every dictionary
  * form, boundary + stoplist + longest-leftmost rules re-derived from the
  * reference artifacts without sharing code with the engine under test. */
object NaiveOracle {
  lazy val dict: EnvoDict = EnvoDict.load()
  private lazy val forms: Seq[(String, Array[Int])] =
    dict.formToSerials.toSeq.map { case (f, ss) =>
      f -> ss.flatMap(dict.serialToEnvoInt.get).distinct.sorted
    }

  private def isWord(c: Char) = Character.isLetterOrDigit(c)

  /** envo ids (duplicates kept, span order) mentioned in a text. */
  def tag(text: String): Seq[Int] = {
    val lower = text.toLowerCase(java.util.Locale.ROOT)
    val cands = mutable.ArrayBuffer.empty[(Int, Int, Array[Int])]
    for ((form, envos) <- forms) {
      var from = 0
      var i = lower.indexOf(form, from)
      while (i >= 0) {
        val end = i + form.length
        val boundaryOk = (i == 0 || !isWord(lower.charAt(i - 1))) &&
          (end == lower.length || !isWord(lower.charAt(end)))
        if (boundaryOk && !dict.stoplist.contains(text.substring(i, end)))
          cands += ((i, end, envos))
        from = i + 1
        i = lower.indexOf(form, from)
      }
    }
    val chosen = mutable.ArrayBuffer.empty[(Int, Int, Array[Int])]
    var lastEnd = 0
    for (c <- cands.sortBy(t => (t._1, -t._2)))
      if (c._1 >= lastEnd) { chosen += c; lastEnd = c._2 }
    chosen.flatMap(_._3).toSeq
  }

  /** Expected annotated_with triple set for flat/proportional scoring. */
  def flatTriples(turns: Seq[Turn], proportional: Boolean): Map[(String, String), Double] = {
    val out = mutable.HashMap.empty[(String, String), Double]
    turns.groupBy(_.conv_id).foreach { case (conv, ts) =>
      val envos = ts.sortBy(_.turn_idx).flatMap(t => tag(t.text))
      if (envos.nonEmpty) {
        val score = if (proportional) 1.0 / envos.length else 1.0
        envos.foreach { e =>
          val key = (conv, dict.intToCurie(e))
          out(key) = out.getOrElse(key, 0.0) + score
        }
      }
    }
    out.toMap
  }
}

class PipelineSpec extends CacheHygiene {
  import spark.implicits._

  test("e2e golden: engine triples match the naive oracle (P/R target 1.0)") {
    val turns = (0L until 200L).flatMap(i => TranscriptGen.turnsFor(i, seed = 7L, meanTurns = 6, skewFactor = 25))
    val got = released(new KgPipeline(spark).run(turns.toDS.toDF))(_.annotated
      .select("subj", "obj", "weight").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap)
    val expected = NaiveOracle.flatTriples(turns, proportional = true)

    val gotKeys = got.keySet
    val expKeys = expected.keySet
    val tp = (gotKeys intersect expKeys).size.toDouble
    val precision = if (gotKeys.isEmpty) 0.0 else tp / gotKeys.size
    val recall = if (expKeys.isEmpty) 0.0 else tp / expKeys.size
    info(f"precision=$precision%.4f recall=$recall%.4f (|got|=${gotKeys.size} |exp|=${expKeys.size})")
    assert(precision >= 0.95 && recall >= 0.95)
    // weights agree on the intersection
    (gotKeys intersect expKeys).foreach { k =>
      assert(math.abs(got(k) - expected(k)) < 1e-9, s"weight mismatch at $k")
    }
    assert(precision == 1.0 && recall == 1.0, "engine and oracle should agree exactly")
  }

  test("mention triples carry conv_id:turn_idx subjects and span provenance") {
    val turns = Seq(
      Turn("c9", 3, "user", "the ocean was calm", None, new java.sql.Timestamp(0L)))
    val rows = released(new KgPipeline(spark).run(turns.toDS.toDF))(_.mentionTriples.collect())
    assert(rows.length === 1)
    val row = rows.head
    assert(row.getAs[String]("subj") === "c9:3")
    assert(row.getAs[String]("pred") === "mentions")
    assert(row.getAs[String]("obj") === "ENVO:00000015")
    assert(row.getAs[String]("form") === "ocean")
    assert(row.getAs[Int]("start") === 4 && row.getAs[Int]("end") === 9)
  }

  test("co-occurrence edges: unordered distinct-concept pairs per conversation") {
    val ts = new java.sql.Timestamp(0L)
    val turns = Seq(
      Turn("a", 0, "user", "the ocean was calm", None, ts),
      Turn("a", 1, "user", "bacterioplankton sample from lake", None, ts),
      Turn("a", 2, "user", "lake mud of the lake", None, ts), // lake again + mud
      Turn("b", 0, "user", "the ocean was calm", None, ts),
      Turn("b", 1, "user", "bacterioplankton sample from lake", None, ts))
    val edges = released(new KgPipeline(spark).run(turns.toDS.toDF))(_.coOccurrence.collect()
      .map(x => (x.getInt(0), x.getInt(1)) -> x.getLong(2)).toMap)
    assert(edges((15, 20)) === 2L) // ocean+lake co-occur in both convs
    assert(edges((20, 1000001)) === 1L) // lake+mud only in conv a
    assert(edges.keys.forall { case (x, y) => x < y })
  }

  test("per-conversation ontology subgraph: concepts + ancestors, closed edges") {
    val r = new KgPipeline(spark).run(
      Seq(Turn("s1", 0, "user", "the ocean was calm", None, new java.sql.Timestamp(0L))).toDS.toDF)
    val sub = released(r)(r => graft.stages.TripleEmit.convSubgraphs(spark, r.scores,
      KgPipeline.sharedDict).collect().map(x => (x.getString(1), x.getString(2), x.getString(3))))
    // ocean -> marine water body must be present; every edge endpoint is in
    // the closure of {ocean}
    assert(sub.contains(("ENVO:00000015", "is_a", "ENVO:00001999")))
    val allowed = KgPipeline.sharedDict.closure(15).toSet + 15
    sub.foreach { case (c, _, p) =>
      assert(allowed.contains(EnvoDict.curieToInt(c).get))
      assert(allowed.contains(EnvoDict.curieToInt(p).get))
    }
  }

  test("DOT sources: well-formed digraph per conversation, no driver collect") {
    val r = new KgPipeline(spark).run(
      Seq(Turn("s1", 0, "user", "the ocean was calm", None, new java.sql.Timestamp(0L))).toDS.toDF)
    val dots = released(r) { r =>
      val sub = graft.stages.TripleEmit.convSubgraphs(spark, r.scores, KgPipeline.sharedDict)
      graft.stages.TripleEmit.dotSources(spark, sub, KgPipeline.sharedDict)
        .collect().map(x => (x.getString(0), x.getString(1))).toMap
    }
    val dot = dots("s1")
    assert(dot.startsWith("digraph envo {"))
    assert(dot.endsWith("}"))
    // the annotated concept's direct edge and both node labels render
    assert(dot.contains("\"ENVO:00000015\" -> \"ENVO:00001999\" [label=\"is_a\"];"))
    assert(dot.contains("\"ENVO:00000015\" [label=\"ocean\"];"))
    // every quoted curie in an edge also has a label line
    val edgeCuries = "\"(ENVO:\\d+)\" ->".r.findAllMatchIn(dot).map(_.group(1)).toSet ++
      "-> \"(ENVO:\\d+)\"".r.findAllMatchIn(dot).map(_.group(1)).toSet
    edgeCuries.foreach(c => assert(dot.contains(s""""$c" [label="""), s"no label for $c"))
  }

  test("injected dictionary drives the COMPOSED run") {
    val ts = new java.sql.Timestamp(0L)
    val turns = Seq(
      Turn("a", 0, "user", "the ocean was calm near the lake", None, ts),
      Turn("a", 1, "user", "lake mud of the lake", None, ts),   // mud: full dict only
      Turn("b", 0, "user", "the ocean was calm near the lake", None, ts), // dup text
      Turn("b", 1, "user", "mud and bacterioplankton only", None, ts))
    val full = KgPipeline.sharedDict
    val tiny = full.copy(formToSerials =
      full.formToSerials.filter(kv => Set("ocean", "lake").contains(kv._1)))

    val viaTiny = released(new KgPipeline(spark, dictOverride = Some(tiny))
        .run(turns.toDS.toDF))(_.annotated
      .select("subj", "obj", "weight").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap)
    // the injected vocabulary bounds every emitted concept
    val allowed = Set("ENVO:00000015", "ENVO:00000020") // ocean, lake
    assert(viaTiny.nonEmpty && viaTiny.keySet.forall(k => allowed.contains(k._2)),
      s"only injected-dictionary concepts may surface: $viaTiny")
    // conv b's only mud/bacterioplankton turn contributes nothing; conv a
    // scores ocean 1/4 (one of 4 occurrences) and lake 3/4
    assert(math.abs(viaTiny(("a", "ENVO:00000020")) - 0.75) < 1e-12)
    assert(math.abs(viaTiny(("b", "ENVO:00000015")) - 0.5) < 1e-12)
    // and the default pipeline on the same input still sees the full dict
    val fullRun = released(new KgPipeline(spark).run(turns.toDS.toDF))(_.annotated
      .select("obj").collect().map(_.getString(0)).toSet)
    assert(fullRun.contains("ENVO:01000001"), "full dict must still tag mud")
  }

  test("partcache holds exactly LinkScore.inputColumns on every ScoreConfig") {
    // the conv_id partcache carries the scorer's columns and nothing else;
    // allTriples takes its mention rows off it, while mentionTriples keeps
    // the span provenance by reading the un-shuffled tagger output
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import graft.stages.{LinkScore, ScoreConfig}
    val turns = graft.synth.TranscriptGen.generate(spark, 40).toDF
    val ckpt = Some(java.nio.file.Files.createTempDirectory("graft-partcache").toString)
    val configs = Seq(
      "flat" -> PipelineConfig(),
      "flat + backtracking" -> PipelineConfig(score = ScoreConfig(backtracking = true)),
      "upui + backtracking, checkpointed" -> PipelineConfig(checkpointDir = ckpt,
        score = ScoreConfig("upui", backtracking = true)))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    for ((name, cfg) <- configs) released(new KgPipeline(spark, cfg).run(turns)) { r =>
      val mentionRows = r.allTriples.filter($"pred" === "mentions")
      val cached = mentionRows.queryExecution.optimizedPlan.collect {
        case m: InMemoryRelation => m.output.map(_.name)
      }
      assert(cached === Seq(LinkScore.inputColumns(cfg.score)),
        s"$name: the mention rows must read the partcache of the scorer's columns")
      val full = r.mentionTriples
      assert(Set("form", "start", "end").subsetOf(full.columns.toSet),
        s"$name: mentionTriples lost its span provenance: ${full.columns.mkString(",")}")
      val expected = sorted(full.select("subj", "pred", "obj", "weight", "evidence"))
      assert(expected.nonEmpty, s"$name: no mentions")
      assert(sorted(mentionRows) === expected,
        s"$name: allTriples' mention rows differ from mentionTriples")
      assert(full.filter($"form".isNull || $"start" >= $"end").isEmpty,
        s"$name: malformed spans")
    }
  }

  test("KgResult.unpersist releases every cache run() created") {
    // a long-lived session composing many pipelines must not accumulate
    // one envoRows + one fused/scores cache per run until teardown — on
    // the fused path, the checkpointed fused path and the classic
    // checkpointed path alike
    val turns = graft.synth.TranscriptGen.generate(spark, 30).toDF
    def ckptDir() = Some(java.nio.file.Files.createTempDirectory("graft-unpersist").toString)
    val configs = Seq(
      "flat" -> PipelineConfig(),
      "flat, checkpointed" -> PipelineConfig(checkpointDir = ckptDir()),
      "upui + backtracking, checkpointed" -> PipelineConfig(checkpointDir = ckptDir(),
        score = graft.stages.ScoreConfig("upui", backtracking = true)))
    for ((name, cfg) <- configs) {
      spark.catalog.clearCache()
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      val r = new KgPipeline(spark, cfg).run(turns)
      assert(r.allTriples.count() > 0, s"$name: empty KG")
      assert(!spark.sharedState.cacheManager.isEmpty, s"$name: nothing was cached while live")
      r.unpersist()
      assert(spark.sharedState.cacheManager.isEmpty, s"$name: unpersist left cached frames")
      val leftRdds = spark.sparkContext.getPersistentRDDs -- rddsBefore
      assert(leftRdds.isEmpty, s"$name: unpersist left persisted RDDs registered: " +
        leftRdds.values.map(r => s"${r.id}:${r.getClass.getSimpleName}").mkString(", "))
    }
  }

  test("ontology triples: typed OBO edges + closure descends_from edges") {
    val r = new KgPipeline(spark).run(
      Seq(Turn("z", 0, "user", "lake", None, new java.sql.Timestamp(0L))).toDS.toDF)
    r.unpersist() // the ontology triples read only the dictionary
    val ocean = r.ontologyTriples
      .filter($"subj" === "ENVO:00000015").select("pred", "obj").collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    assert(ocean.contains(("is_a", "ENVO:00001999")))          // direct typed edge
    assert(ocean.contains(("descends_from", "ENVO:00000063"))) // closure edge
    val preds = r.ontologyTriples.select("pred").distinct().as[String].collect().toSet
    assert(preds.contains("part_of") && preds.contains("derives_from"))
  }
}
