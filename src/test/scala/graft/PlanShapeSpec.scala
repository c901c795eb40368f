package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import graft.ops.RelationalOps

/** Physical-plan regression guards: the plans the engine must keep at
  * 100 TB — pushdown reaching the scans, pruned read schemas, broadcast
  * dims, partial+final hash aggregation. */
class PlanShapeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("composed fused run() plans partition-LOCAL: one visible shuffle total") {
    // The r5 partcache topology: envoRows repartitioned by conv_id and
    // MATERIALIZED before consumers are planned, so every conv_id-prefixed
    // agg/window/self-join runs without re-shuffling — the allTriples plan
    // may contain exactly ONE non-broadcast exchange (the tiny
    // (envo_a, envo_b) pair aggregation), and the scores/annotated plans
    // none at all. A regression in cached-partitioning visibility (an
    // unmaterialized cache, AQE re-wrapping, a key change) shows up here
    // as extra ENSURE_REQUIREMENTS exchanges.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case n => n +: n.children.flatMap(walk)
    }
    def shuffles(df: DataFrame): Seq[String] =
      walk(df.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeExec => s.shuffleOrigin.toString }
    val turns = graft.synth.TranscriptGen.generate(spark, 200).toDF
    val r = new KgPipeline(spark, PipelineConfig(persistIntermediates = true))
      .run(turns)
    try {
      assert(shuffles(r.scores).isEmpty,
        s"scores must be local over the caches: ${shuffles(r.scores)}")
      assert(shuffles(r.annotated).isEmpty,
        s"annotated must be local over the caches: ${shuffles(r.annotated)}")
      val all = shuffles(r.allTriples)
      assert(all.length === 1,
        s"allTriples must have exactly the pair-agg exchange, got $all")
      assert(!plan(r.allTriples).contains("SortMergeJoin"),
        "the scores×support SMJ must stay deleted from the fused path")
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("checkpointed flat run plans the fused scorer: annotated reads the fused stage") {
    // a checkpoint dir must not switch the plan shape: the flat run commits
    // the fused scorer's output as its own stage, and annotated is a
    // projection of it — one broadcast dim join, no scores×support join
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val turns = graft.synth.TranscriptGen.generate(spark, 40).toDF
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-ckpt").toString
    val r = new KgPipeline(spark, PipelineConfig(checkpointDir = Some(dir))).run(turns)
    val opt = r.annotated.queryExecution.optimizedPlan
    val reads = opt.collect { case lr: LogicalRelation => lr.relation }.flatMap {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.getName)
      case other => Seq(other.toString)
    }
    assert(reads === Seq("fused"), s"annotated must read only the fused stage:\n$opt")
    assert(opt.collect { case a: Aggregate => a }.isEmpty,
      s"no support aggregation may remain over the fused stage:\n$opt")
    assert(opt.collect { case j: Join => j }.length === 1,
      s"only the concept-dim join may remain:\n$opt")
    assert(!plan(r.annotated).contains("SortMergeJoin"),
      "the scores×support SMJ must stay deleted from the checkpointed fused path")
  }

  test("filter pushdown reaches the parquet scan with pruned columns") {
    val p = plan(RelationalOps.filterPushdown(spark, dir))
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_quantity,30.0)"), p)
    assert(p.contains("LessThanOrEqual(l_discount,0.05)"), p)
    // read schema pruned to the three referenced columns
    assert(p.contains("struct<l_quantity:double,l_discount:double,l_returnflag:string>"), p)
  }

  test("dim join broadcasts the dimension side") {
    val p = plan(RelationalOps.broadcastDimJoin(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("star join: all four dims broadcast, single agg shuffle") {
    val p = plan(RelationalOps.starJoin(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("flat agg is partial+final hash aggregation") {
    val p = plan(RelationalOps.flatAgg(spark, dir))
    assert(p.contains("HashAggregate"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, "expected partial+final")
  }

  test("canonicalization joins the concept dim broadcast") {
    val scores = {
      import spark.implicits._
      Seq(("c1", 15, 1.0)).toDF("conv_id", "envo", "score")
    }
    val p = plan(graft.stages.Canonicalize.canonicalize(spark, scores, KgPipeline.sharedDict))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("d7 verification joins only candidate-doc shingles (no all-pairs grams join)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
    val plan = graft.ops.DocOps.minhashLshPairs(spark, dir).queryExecution.optimizedPlan
    // every inner join whose keys include the shingle column must sit above
    // the LeftSemi candidate-doc restriction on BOTH sides — an
    // unrestricted grams⋈grams join would be the exact all-pairs join the
    // LSH bucketing exists to avoid
    // the candidate-restricted shingle set is persisted, so the semi-join
    // may sit inside an InMemoryRelation's cached physical plan
    def hasSemi(p: LogicalPlan): Boolean =
      p.collectFirst { case j: Join if j.joinType == LeftSemi => j }.isDefined ||
        p.collectFirst {
          case m: org.apache.spark.sql.execution.columnar.InMemoryRelation
            if m.cachedPlan.toString.contains("LeftSemi") => m
        }.isDefined
    val gramJoins = plan.collect {
      case j: Join if j.joinType == Inner &&
        j.condition.exists(_.references.exists(_.name == "g")) => j
    }
    assert(gramJoins.nonEmpty, "expected the Jaccard-verification shingle join")
    gramJoins.foreach { j =>
      assert(hasSemi(j.left) && hasSemi(j.right),
        s"shingle join is not candidate-restricted:\n$j")
    }
  }

  test("d18 verification joins only candidate-doc shingles, old text semi-restricted") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
    val plan = graft.ops.DocOps.incrementalNearDupQuery(spark, dir)
      .queryExecution.optimizedPlan
    // same discipline as d7: the Jaccard-verification shingle join must sit
    // above candidate restrictions on both sides — otherwise the "index"
    // op secretly rescans and self-joins the whole old corpus
    def hasSemi(p: LogicalPlan): Boolean =
      p.collectFirst { case j: Join if j.joinType == LeftSemi => j }.isDefined ||
        p.collectFirst {
          case m: org.apache.spark.sql.execution.columnar.InMemoryRelation
            if m.cachedPlan.toString.contains("LeftSemi") => m
        }.isDefined
    val gramJoins = plan.collect {
      case j: Join if j.joinType == Inner &&
        j.condition.exists(_.references.exists(_.name == "g")) => j
    }
    assert(gramJoins.nonEmpty, "expected the Jaccard-verification shingle join")
    gramJoins.foreach { j =>
      assert(hasSemi(j.left) && hasSemi(j.right),
        s"d18 shingle join is not candidate-restricted:\n$j")
    }
  }

  test("d20 eval-gram join is broadcast; training grams never shuffle on the gram value") {
    val p = plan(graft.ops.DocOps.decontaminationQuery(spark, dir))
    // the 100 TB shape: tiny eval gram set broadcast to the training scan —
    // a SortMergeJoin here would shuffle the full training gram stream on
    // the gram string (d6's self-join shape, wrong for an asymmetric join)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("e5 LSH near-dup plan has no cartesian or nested-loop join") {
    // the whole point of the bucketed near-dup is replacing e2's quadratic
    // cross join with bucket equi-joins — a cartesian anywhere in the plan
    // means the scale path regressed to all-pairs
    val p = plan(graft.ops.EmbedOps.lshNearDupPairs(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("e6 semantic dedup plan is cell-bucketed, never all-pairs") {
    // SemDeDup's contract: candidate pairs exist only within an IVF cell —
    // the within-cell self-join must be an equi-join on the cell key, and
    // the pair join must move (vec_id, cell) scalars with vectors joined
    // back by id (the e5 pattern)
    val p = plan(graft.ops.EmbedOps.semanticDedup(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d21 repeated-span detection: dup hashes found by agg, never a hash self-join") {
    // window-hash duplicate detection must be groupBy(h) + join-back — a
    // boilerplate window shared by f docs costs one combine, not f² pairs;
    // the span merge is a per-document window (doc-local)
    val p = plan(graft.ops.DocOps.repeatedSpansQuery(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
    // the (doc_id, pos, h) hash frame feeds the agg AND the join-back: the
    // md5-per-window pipeline must run once (persisted), not per consumer
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("d22/d23 are join-free: the model is literal or driver state") {
    // d22's weight table and d23's per-lang rates are model state (buckets
    // values / |langs| rows) — neither may appear as a corpus-side join;
    // d22 is projection + one partial-agg'd groupBy(doc_id), d23 is a pure
    // scan-side filter like d12
    val p22 = plan(graft.ops.DocOps.qualityClassify(spark, dir))
    assert(!p22.contains("Join"), p22)
    assert(p22.contains("HashAggregate"), p22)
    val p23 = plan(graft.ops.DocOps.domainMixSample(spark, dir))
    assert(!p23.contains("Join"), p23)
  }

  test("m5 media feature near-dup plan has no cartesian or nested-loop join") {
    // m5 shipped as a brute crossJoin in round 2 while the e5 bucketing
    // machinery existed for exactly this — guard the bucketed plan
    val features = graft.ops.MultimodalOps.extractFeatures(
      spark, graft.ops.MultimodalOps.synthMedia(spark, 50))
    val p = plan(graft.ops.MultimodalOps.featureNearDup(spark, features))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d7's band signatures stay persisted (md5 pipeline must run once)") {
    // regression guard for the round-2 2x fix: the band self-join consumes
    // bands twice; without the persist the tokenize->12xmd5->minhash
    // pipeline executes once per side (measured 16.7s vs 6.1s at sf0.1)
    val p = plan(graft.ops.DocOps.minhashLshPairs(spark, dir))
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("chunking and repetition signals are projection-only (no hash shuffle)") {
    // the only exchange allowed is the range partition of the output sort —
    // a hash exchange would mean the op secretly aggregates or joins
    Seq(graft.ops.DocOps.chunkDocs(spark, dir),
        graft.ops.DocOps.repetitionSignals(spark, dir)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("Exchange hashpartitioning"), p)
    }
  }

  test("decontamination joins the benchmark shingles broadcast, semi only") {
    val p = plan(graft.ops.DocOps.decontaminate(spark, dir))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("mention detect direct path has no shuffle before the tagger") {
    val turns = graft.synth.TranscriptGen.generate(spark, 10).toDF
    val p = plan(graft.stages.MentionDetect.detect(spark, turns, dedupeTexts = false))
    assert(!p.contains("Exchange"), s"direct tagging must be shuffle-free:\n$p")
  }

  test("tag_envo expression is whole-stage-codegen'd, not a fallback") {
    // fallback=false makes Janino compilation failures THROW instead of
    // silently demoting the stage to interpreted eval — this pins that the
    // doGenCode static-call path really compiles and runs
    val turns = graft.synth.TranscriptGen.generate(spark, 20).toDF
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val detected = graft.stages.MentionDetect.detect(spark, turns, dedupeTexts = false)
      assert(detected.count() > 0)
      // the tagging projection must sit INSIDE a WholeStageCodegen span —
      // under CodegenFallback it would be hoisted out of every span
      val spans = detected.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec
          if w.toString.contains("tag_envo") => w
      }
      assert(spans.nonEmpty,
        s"tag_envo must be fused into a codegen span:\n${detected.queryExecution.executedPlan}")
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("vec_dot is whole-stage-codegen'd, not a fallback") {
    import org.apache.spark.sql.functions.{col, sum}
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val scored = e.select(col("vec_id"),
        graft.ops.EmbedOps.dot(col("embedding"), col("embedding")).as("d"))
      // CONSUME the dot column — a bare count() column-prunes `d` and the
      // generated Java never compiles, making the fallback=false pin
      // illusory; summing forces the vec_dot codegen to compile AND run
      val total = scored.agg(sum("d")).head().getDouble(0)
      assert(total > 0.0, "norms-squared must sum positive")
      val spans = scored.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec
          if w.toString.contains("vec_dot") => w
      }
      assert(spans.nonEmpty,
        s"vec_dot must fuse into a codegen span:\n${scored.queryExecution.executedPlan}")
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("d24 priority dedup is agg + join-back, never a window over raw rows") {
    // the keep-best decision must come from min(packed) in ONE content-hash
    // aggregation joined back — a window over the raw corpus serializes the
    // mega-duplicate-class (millions of copies of one boilerplate page land
    // in a single window partition at 100 TB)
    val p = plan(graft.ops.DocOps.priorityDedup(spark, dir))
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("d25 bigram vocab is join-free with a fused TakeOrdered cut") {
    // projection + explode + one partial-agg'd groupBy; the top-K must be
    // TakeOrderedAndProject (per-partition heads merged on the driver), not
    // a global sort exchange of every distinct bigram
    val p = plan(graft.ops.DocOps.bigramVocab(spark, dir))
    assert(!p.contains("Join"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("e8 IVF×SQ scan is cell-restricted with broadcast probes, no cartesian") {
    // the composed ANN must keep BOTH restrictions: the scan joins the
    // coded corpus to the broadcast probe rows on the CELL key (equi-join,
    // never corpus×corpus), and the coded frame feeding both sides is
    // persisted
    val p = plan(graft.ops.EmbedOps.ivfSqTopK(spark, dir))
    try {
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("BroadcastHashJoin"), p)
      assert(p.contains("InMemoryTableScan"), p)
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("e7 SQ scan broadcasts the query codes and persists the coded frame") {
    // the candidate scan is broadcast(nQueries code rows) x corpus — an
    // unhinted plan would CartesianProduct corpus x corpus; and the
    // quantization pipeline feeds both scan sides, so it must be cached
    val p = plan(graft.ops.EmbedOps.sqTopK(spark, dir))
    try {
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("InMemoryTableScan"), p)
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("o15 lift joins marginals and dims broadcast onto the pair counts") {
    import spark.implicits._
    val dict = graft.dict.EnvoDict.load()
    val ids = dict.intToCurie.keys.toSeq.sorted.take(2)
    val scores = Seq(("c1", ids(0)), ("c1", ids(1)), ("c2", ids(0)))
      .toDF("conv_id", "envo")
      .withColumn("score", org.apache.spark.sql.functions.lit(1.0))
    val p = plan(graft.stages.TripleEmit.coOccurrenceLift(spark, scores, dict))
    try {
      // the ONLY corpus-grain join allowed is the within-conv pair
      // self-join; marginals, the scalar total, and the concept dim are
      // |EnvO|-bounded and must arrive as broadcasts
      assert(p.contains("BroadcastHashJoin"), p)
      val smjCount = "SortMergeJoin".r.findAllIn(p).length
      assert(smjCount <= 1, s"only the pair self-join may sort-merge:\n$p")
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("o17 walk iterates broadcast-join off one persisted edge frame") {
    import spark.implicits._
    val dict = graft.dict.EnvoDict.load()
    val ids = dict.intToCurie.keys.toSeq.sorted.take(2)
    val scores = Seq(("c1", ids(0)), ("c1", ids(1)), ("c2", ids(0)))
      .toDF("conv_id", "envo")
      .withColumn("score", org.apache.spark.sql.functions.lit(1.0))
    val pairs = graft.stages.TripleEmit.coOccurrence(scores)
    val p = plan(graft.stages.TripleEmit.walkCentrality(spark, pairs, dict))
    try {
      // every iteration re-reads the model-state edge frame through its
      // cache (never re-running the upstream pair agg per iterate) and
      // receives the |EnvO|-bounded previous iterate as a broadcast
      assert(p.contains("InMemoryTableScan"), p)
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("o18 trend window runs over the aggregated (envo, day) frame") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val dict = graft.dict.EnvoDict.load()
    val ids = dict.intToCurie.keys.toSeq.sorted.take(2)
    val scores = Seq(("c1", ids(0)), ("c1", ids(1)), ("c2", ids(0)))
      .toDF("conv_id", "envo")
      .withColumn("score", org.apache.spark.sql.functions.lit(1.0))
    val convDays = Seq(("c1", 1), ("c2", 2)).toDF("conv_id", "day")
    val df = graft.stages.TripleEmit.conceptTrend(spark, scores, convDays, dict)
    df.collect() // finalize the adaptive plan before inspecting it
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
      case n => n +: n.children.flatMap(walk)
    }
    val plan = df.queryExecution.executedPlan
    val wins = walk(plan).collect { case w: WindowExec => w }
    // exactly one lag window, and it consumes the (envo, day) AGGREGATE —
    // a window over raw (conv, envo) occurrences is the documented skew trap
    assert(wins.length === 1, plan.toString)
    assert(walk(wins.head.child).exists(_.isInstanceOf[HashAggregateExec]),
      s"window must consume the (envo, day) aggregate:\n$plan")
  }

  test("d26 cluster split is a projection over one doc_id equi-join") {
    import spark.implicits._
    val docIds = (0L to 9L).map(Tuple1(_)).toDF("doc_id")
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "representative")
    val p = plan(graft.ops.DocOps.clusterSplitOf(docIds, clusters, 0.75))
    // the split label derives from the representative alone: no window
    // over the corpus, no cartesian — one equi-join then projections
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("injected-dictionary tag_envo is also whole-stage-codegen'd") {
    // the broadcast-handle path generates different code (mutable-state
    // automaton resolved from the broadcast once per generated instance) —
    // pin that it, too, compiles under fallback=false and fuses
    val turns = graft.synth.TranscriptGen.generate(spark, 20).toDF
    val bc = spark.sparkContext.broadcast(KgPipeline.sharedAutomaton)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val detected = graft.stages.MentionDetect.detect(
        spark, turns, dedupeTexts = false, dict = Some(bc))
      assert(detected.count() > 0)
      val spans = detected.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec
          if w.toString.contains("tag_envo") => w
      }
      assert(spans.nonEmpty,
        s"injected tag_envo must fuse:\n${detected.queryExecution.executedPlan}")
      // same automaton -> same mentions as the default path
      val viaDefault = graft.stages.MentionDetect.detect(spark, turns, dedupeTexts = false)
        .select("conv_id", "turn_idx").collect().map(_.toSeq).toSet
      assert(detected.select("conv_id", "turn_idx").collect().map(_.toSeq).toSet === viaDefault)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }
}
