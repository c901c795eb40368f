package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import graft.ops.RelationalOps

/** Physical-plan regression guards: the plans the engine must keep at
  * 100 TB — pushdown reaching the scans, pruned read schemas, broadcast
  * dims, partial+final hash aggregation. */
class PlanShapeSpec extends CacheHygiene {
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** `f`, then drop what the ops it plans persisted. */
  private def uncached[A](f: => A): A =
    try f finally spark.sharedState.cacheManager.clearCache()

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
    released(new KgPipeline(spark).run(turns)) { r =>
      assert(shuffles(r.scores).isEmpty,
        s"scores must be local over the caches: ${shuffles(r.scores)}")
      assert(shuffles(r.annotated).isEmpty,
        s"annotated must be local over the caches: ${shuffles(r.annotated)}")
      val all = shuffles(r.allTriples)
      assert(all.length === 1,
        s"allTriples must have exactly the pair-agg exchange, got $all")
      assert(!plan(r.allTriples).contains("SortMergeJoin"),
        "the scores×support SMJ must stay deleted from the fused path")
    }
  }

  test("ui/upui/backtracking scorer: one partcache scan, a linear partition-local plan") {
    // keep-first is a rank() = 1 window (planned as a streaming
    // WindowGroupLimit) and backtracking one broadcast join with a
    // self-inclusive closure: no self-join re-reads the partcache, no union
    // merges two copies of it, nothing re-shuffles it
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
    import graft.stages.ScoreConfig
    // stops at cache scans: the partcache's own plan holds its repartition
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: InMemoryTableScanExec => Seq(s)
      case n => n +: n.children.flatMap(walk)
    }
    val turns = graft.synth.TranscriptGen.generate(spark, 200).toDF
    for (norm <- Seq("ui", "upui")) {
      val cfg = ScoreConfig(norm, proportional = true, backtracking = true)
      released(new KgPipeline(spark, PipelineConfig(score = cfg)).run(turns)) { r =>
        // r.scores is the persisted scorer output: inspect the plan it caches
        val scorer = walk(r.scores.queryExecution.executedPlan).collectFirst {
          case s: InMemoryTableScanExec => s.relation.cachedPlan
        }.getOrElse(fail("run() must persist the scores"))
        val nodes = walk(scorer)
        assert(nodes.count(_.isInstanceOf[InMemoryTableScanExec]) === 1,
          s"$norm: the scorer must scan the partcache exactly once:\n$scorer")
        val forbidden = nodes.collect {
          case n @ (_: ShuffleExchangeExec | _: SortMergeJoinExec |
                    _: ShuffledHashJoinExec | _: UnionExec) => n.nodeName
        }
        assert(forbidden.isEmpty, s"$norm: $forbidden in the scorer:\n$scorer")
        val limits = nodes.collect { case w: WindowGroupLimitExec => w }
        assert(limits.length === (if (norm == "ui") 1 else 2),
          s"$norm: one WindowGroupLimit per keep-first:\n$scorer")
      }
    }
    // un-partitioned input (the oracle queries): the Partial limit runs
    // before the exchange and absorbs repeats map-side
    val rows = graft.stages.MentionDetect.envoRows(
      graft.stages.MentionDetect.detect(spark, turns))
    val scored = graft.stages.LinkScore.score(spark, rows, KgPipeline.sharedDict,
      ScoreConfig("ui", proportional = false))
    val partialBelowExchange = walk(scored.queryExecution.executedPlan).exists {
      case e: ShuffleExchangeExec => walk(e.child).exists {
        case w: WindowGroupLimitExec => w.mode == Partial
        case _ => false
      }
      case _ => false
    }
    assert(partialBelowExchange,
      s"a Partial WindowGroupLimit must sit below the exchange:\n${scored.queryExecution.executedPlan}")
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
    // optimized without the cache substitution: run() persists the fused
    // stage, and its cache would hide which stage annotated reads
    val (opt, physical) = released(r)(r => (
      spark.sessionState.optimizer.execute(r.annotated.queryExecution.analyzed),
      plan(r.annotated)))
    val reads = opt.collect { case lr: LogicalRelation => lr.relation }.flatMap {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.getName)
      case other => Seq(other.toString)
    }
    assert(reads === Seq("fused"), s"annotated must read only the fused stage:\n$opt")
    assert(opt.collect { case a: Aggregate => a }.isEmpty,
      s"no support aggregation may remain over the fused stage:\n$opt")
    assert(opt.collect { case j: Join => j }.length === 1,
      s"only the concept-dim join may remain:\n$opt")
    assert(!physical.contains("SortMergeJoin"),
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
    val plan = uncached(graft.ops.DocOps.minhashLshPairs(spark, dir).queryExecution.optimizedPlan)
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
    val plan = uncached(graft.ops.DocOps.incrementalNearDupQuery(spark, dir)
      .queryExecution.optimizedPlan)
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
    val p = uncached(plan(graft.ops.EmbedOps.lshNearDupPairs(spark, dir)))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("e6 semantic dedup plan is cell-bucketed, never all-pairs") {
    // SemDeDup's contract: candidate pairs exist only within an IVF cell —
    // the within-cell self-join must be an equi-join on the cell key, and
    // the pair join must move (vec_id, cell) scalars with vectors joined
    // back by id (the e5 pattern)
    val p = uncached(plan(graft.ops.EmbedOps.semanticDedup(spark, dir)))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d21 repeated-span detection: dup hashes found by agg, never a hash self-join") {
    // window-hash duplicate detection must be groupBy(h) + join-back — a
    // boilerplate window shared by f docs costs one combine, not f² pairs;
    // the span merge is a per-document window (doc-local)
    val p = uncached(plan(graft.ops.DocOps.repeatedSpansQuery(spark, dir)))
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
    val p = uncached(plan(graft.ops.MultimodalOps.featureNearDup(spark,
      graft.ops.MultimodalOps.extractFeatures(spark, graft.ops.MultimodalOps.synthMedia(spark, 50)))))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d7's band signatures stay persisted (md5 pipeline must run once)") {
    // regression guard for the round-2 2x fix: the band self-join consumes
    // bands twice; without the persist the tokenize->12xmd5->minhash
    // pipeline executes once per side (measured 16.7s vs 6.1s at sf0.1)
    val p = uncached(plan(graft.ops.DocOps.minhashLshPairs(spark, dir)))
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
    // the tagger is one projection: its memo dedupes inside the task,
    // never by a distinct + join-back
    val turns = graft.synth.TranscriptGen.generate(spark, 10).toDF
    val p = plan(graft.stages.MentionDetect.detect(spark, turns))
    assert(!p.contains("Exchange"), s"tagging must be shuffle-free:\n$p")
    assert(!p.contains("Join"), s"tagging must be join-free:\n$p")
  }

  /** The generated code of every codegen span that tags: each holds ONE
    * memo. */
  private def taggingSpans(df: DataFrame): Seq[String] = {
    val spans = org.apache.spark.sql.execution.debug
      .codegenStringSeq(df.queryExecution.executedPlan).map(_._2)
      .filter(_.contains("TagEnvoMemo"))
    assert(spans.nonEmpty, s"tag_envo must be fused into a codegen span:\n" +
      df.queryExecution.executedPlan)
    spans.foreach(code =>
      assert("new graft\\.functions\\.TagEnvoMemo\\(".r.findAllIn(code).length === 1,
        s"expected one memo in the generated class:\n$code"))
    spans
  }

  /** The optimizer pushes the non-empty filter below the tagging
    * projection, so tag_envo is generated twice per stage; the two calls
    * must share ONE memo (the second call per row then hits). */
  private def assertSharedMemo(df: DataFrame): Unit = {
    val code = taggingSpans(df).mkString("\n")
    assert("\\.tag\\(".r.findAllIn(code).length === 2,
      s"tag_envo must be generated in the filter and the projection:\n$code")
  }

  test("tag_envo expression is whole-stage-codegen'd, not a fallback") {
    // fallback=false makes Janino compilation failures THROW instead of
    // silently demoting the stage to interpreted eval — this pins that the
    // memoized doGenCode really compiles and runs
    val turns = graft.synth.TranscriptGen.generate(spark, 20).toDF
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val detected = graft.stages.MentionDetect.detect(spark, turns)
      assert(detected.count() > 0)
      // the tagging projection must sit INSIDE a WholeStageCodegen span —
      // under CodegenFallback it would be hoisted out of every span
      assertSharedMemo(detected)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("SQL tag_envo (GraftExtensions, DimBuild) fuses into codegen with one memo") {
    // the tagger is stateful (its memo): that must cost the SQL surface no
    // codegen. A fresh session resolves tag_envo through GraftExtensions
    // alone; DimBuild tags its distinct sources through the Column API.
    val sql = spark.newSession()
    val turns = graft.synth.TranscriptGen.generate(sql, 20).toDF
    turns.createOrReplaceTempView("turns")
    sql.conf.set("spark.sql.codegen.fallback", "false")
    // executed first: adaptive plans insert their codegen spans as they run
    val viaSql = sql.sql("SELECT conv_id, tag_envo(text) AS m FROM turns")
    assert(viaSql.collect().exists(_.getSeq[Any](1).nonEmpty))
    taggingSpans(viaSql)
    val records = turns.select(
      org.apache.spark.sql.functions.col("turn_idx").cast("long").as("gi"),
      org.apache.spark.sql.functions.col("text").as("source"),
      org.apache.spark.sql.functions.monotonically_increasing_id().as("row_order"))
    val sources = graft.stages.DimBuild.taggedSources(sql, records)
    assert(sources.collect().nonEmpty)
    taggingSpans(sources)
  }

  test("upui + backtracking partcache holds the build's only shuffle: hashpartitioning(conv_id)") {
    // the tagger dedupes in the task, so the conv_id
    // repartition that builds the partcache is the one wide shuffle of an
    // un-checkpointed build: no text_hash exchange, no join below it
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: InMemoryTableScanExec => Seq(s)
      case n => n +: n.children.flatMap(walk)
    }
    val turns = graft.synth.TranscriptGen.generate(spark, 200).toDF
    val cfg = graft.stages.ScoreConfig("upui", proportional = true, backtracking = true)
    released(new KgPipeline(spark, PipelineConfig(score = cfg)).run(turns)) { r =>
      val scorer = walk(r.scores.queryExecution.executedPlan).collectFirst {
        case s: InMemoryTableScanExec => s.relation.cachedPlan
      }.getOrElse(fail("run() must persist the scores"))
      val partcache = walk(scorer).collectFirst {
        case s: InMemoryTableScanExec => s.relation.cachedPlan
      }.getOrElse(fail(s"the scorer must read the partcache:\n$scorer"))
      val nodes = walk(partcache)
      val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.length === 1, s"one exchange builds the partcache:\n$partcache")
      exchanges.head.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.expressions.flatMap(_.references.map(_.name)).distinct === Seq("conv_id"),
            s"the partcache shuffles on conv_id only:\n$partcache")
        case other => fail(s"the partcache exchange must hash conv_id, got $other")
      }
      assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]),
        s"no join-back below the partcache:\n$partcache")
    }
  }

  test("upui + backtracking annotated: one evidence aggregation keyed (conv_id, envo), no distinct agg") {
    // annotatedWith joins the one two-level evidence aggregation onto the
    // scores: a codegen'd per-turn count, then ONE ObjectHashAggregate
    // level (bounded_min_set) keyed by (conv_id, envo). A countDistinct
    // beside bounded_min_set would plan every agg at the (conv_id, envo,
    // turn_idx) grain through extra non-codegen ObjectHashAggregates.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ObjectHashAggregateExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: InMemoryTableScanExec => Seq(s)
      case n => n +: n.children.flatMap(walk)
    }
    val turns = graft.synth.TranscriptGen.generate(spark, 200).toDF
    val cfg = graft.stages.ScoreConfig("upui", proportional = true, backtracking = true)
    released(new KgPipeline(spark, PipelineConfig(score = cfg)).run(turns)) { r =>
      val executed = r.annotated.queryExecution.executedPlan
      val nodes = walk(executed)
      val objectAggs = nodes.collect { case a: ObjectHashAggregateExec => a }
      assert(objectAggs.nonEmpty, s"the turn sample is an ObjectHashAggregate:\n$executed")
      objectAggs.foreach { a =>
        assert(a.groupingExpressions.map(_.name) === Seq("conv_id", "envo"),
          s"every ObjectHashAggregate groups by (conv_id, envo):\n$executed")
      }
      val distinct = nodes.collect { case a: BaseAggregateExec => a }
        .filter(_.aggregateExpressions.exists(_.isDistinct))
      assert(distinct.isEmpty, s"no distinct aggregate:\n$executed")
      assert(!executed.toString.contains("count(distinct"), s"no count(distinct:\n$executed")
    }
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
    val p = uncached(plan(graft.ops.EmbedOps.ivfSqTopK(spark, dir)))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("e7 SQ scan broadcasts the query codes and persists the coded frame") {
    // the candidate scan is broadcast(nQueries code rows) x corpus — an
    // unhinted plan would CartesianProduct corpus x corpus; and the
    // quantization pipeline feeds both scan sides, so it must be cached
    val p = uncached(plan(graft.ops.EmbedOps.sqTopK(spark, dir)))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("o15 lift joins marginals and dims broadcast onto the pair counts") {
    import spark.implicits._
    val dict = graft.dict.EnvoDict.load()
    val ids = dict.intToCurie.keys.toSeq.sorted.take(2)
    val scores = Seq(("c1", ids(0)), ("c1", ids(1)), ("c2", ids(0)))
      .toDF("conv_id", "envo")
      .withColumn("score", org.apache.spark.sql.functions.lit(1.0))
    val p = uncached(plan(graft.stages.TripleEmit.coOccurrenceLift(spark, scores, dict)))
    // the ONLY corpus-grain join allowed is the within-conv pair
    // self-join; marginals, the scalar total, and the concept dim are
    // |EnvO|-bounded and must arrive as broadcasts
    assert(p.contains("BroadcastHashJoin"), p)
    val smjCount = "SortMergeJoin".r.findAllIn(p).length
    assert(smjCount <= 1, s"only the pair self-join may sort-merge:\n$p")
  }

  test("o17 walk iterates broadcast-join off one persisted edge frame") {
    import spark.implicits._
    val dict = graft.dict.EnvoDict.load()
    val ids = dict.intToCurie.keys.toSeq.sorted.take(2)
    val scores = Seq(("c1", ids(0)), ("c1", ids(1)), ("c2", ids(0)))
      .toDF("conv_id", "envo")
      .withColumn("score", org.apache.spark.sql.functions.lit(1.0))
    val pairs = graft.stages.TripleEmit.coOccurrence(scores)
    val p = uncached(plan(graft.stages.TripleEmit.walkCentrality(spark, pairs, dict)))
    // every iteration re-reads the model-state edge frame through its
    // cache (never re-running the upstream pair agg per iterate) and
    // receives the |EnvO|-bounded previous iterate as a broadcast
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
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
    // the broadcast-handle path generates different code (the memo's
    // automaton resolved from the broadcast once per generated instance) —
    // pin that it, too, compiles under fallback=false and fuses
    val turns = graft.synth.TranscriptGen.generate(spark, 20).toDF
    val bc = spark.sparkContext.broadcast(KgPipeline.sharedAutomaton)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val viaDefault = graft.stages.MentionDetect.detect(spark, turns)
        .select("conv_id", "turn_idx").collect().map(_.toSeq).toSet
      val detected = graft.stages.MentionDetect.detect(spark, turns, dict = Some(bc))
      assert(detected.count() > 0)
      assertSharedMemo(detected)
      // same automaton -> same mentions as the default path
      assert(detected.select("conv_id", "turn_idx").collect().map(_.toSeq).toSet === viaDefault)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }
}
