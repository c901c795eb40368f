package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{DocOps, EmbedOps, MultimodalOps, RelationalOps}
import graft.synth.TranscriptGen

/** Driver contract — queries per implemented operator (SURVEY §2 +
  * training-data ops), each with a DuckDB oracle where SQL-expressible.
  * KG-pipeline queries run on the deterministic synthetic transcript table
  * (FIXTURES.md §1) — the tagger is not SQL-expressible, so those entries
  * are rows-only checked by the driver and oracle-checked by the in-repo
  * naive-oracle ScalaTest instead. */
object SparkEntry {

  /** Flagship: the full transcript→EnvO KG pipeline; returns annotated_with
    * triples on a small synthetic table. */
  def entry(spark: SparkSession): DataFrame = {
    val turns = TranscriptGen.generate(spark, nConvs = 100, partitions = 8)
    new KgPipeline(spark).run(turns.toDF).annotated
      .orderBy("subj", "obj")
  }

  private def kgTurns(spark: SparkSession): DataFrame =
    TranscriptGen.generate(spark, nConvs = 500, partitions = 16).toDF

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- SURVEY §2 relational operator inventory (DuckDB-oracled) ---
    "a1_flat_agg" -> ((s, d) => RelationalOps.flatAgg(s, d)),
    "a2_ui_dedupe_agg" -> ((s, d) => RelationalOps.uiDedupeAgg(s, d)),
    "a3_upui_keepfirst" -> ((s, d) => RelationalOps.upuiKeepFirst(s, d)),
    "a4_proportional_share" -> ((s, d) => RelationalOps.proportionalShare(s, d)),
    "a6_topn_abundance" -> ((s, d) => RelationalOps.topNAbundance(s, d)),
    "a7_distinct_counts" -> ((s, d) => RelationalOps.distinctCounts(s, d)),
    "a9_keepmin_dedupe" -> ((s, d) => RelationalOps.keepMinDedupe(s, d)),
    "a12_window_normalize" -> ((s, d) => RelationalOps.windowNormalize(s, d)),
    "j2_broadcast_dim_join" -> ((s, d) => RelationalOps.broadcastDimJoin(s, d)),
    "j5_semi_join" -> ((s, d) => RelationalOps.semiJoin(s, d)),
    "j5_anti_join" -> ((s, d) => RelationalOps.antiJoin(s, d)),
    "j6_matmul_join_agg" -> ((s, d) => RelationalOps.matmulJoinAgg(s, d)),
    "j_star_join" -> ((s, d) => RelationalOps.starJoin(s, d)),
    "p1_rename_projection" -> ((s, d) => RelationalOps.renameProjection(s, d)),
    "p2_filter_pushdown" -> ((s, d) => RelationalOps.filterPushdown(s, d)),
    "w_topk_per_group" -> ((s, d) => RelationalOps.topKPerGroup(s, d)),
    "w_sessionize" -> ((s, d) => RelationalOps.sessionize(s, d)),
    "a_rollup" -> ((s, d) => RelationalOps.rollupAgg(s, d)),
    "s_set_ops" -> ((s, d) => RelationalOps.setOps(s, d)),
    "a_approx_distinct" -> ((s, d) => RelationalOps.approxDistinct(s, d)),
    "a_percentiles" -> ((s, d) => RelationalOps.percentiles(s, d)),
    "w_running_sum" -> ((s, d) => RelationalOps.runningSum(s, d)),
    // --- training-data curation ops (documents) ---
    "d1_exact_dedup" -> ((s, d) => DocOps.exactDedup(s, d)),
    "d2_token_stats" -> ((s, d) => DocOps.tokenStats(s, d)),
    "d3_quality_score" -> ((s, d) => DocOps.qualityScore(s, d)),
    "d4_lang_id" -> ((s, d) => DocOps.langId(s, d)),
    "d5_fingerprint" -> ((s, d) => DocOps.fingerprint(s, d)),
    "d6_ngram_jaccard" -> ((s, d) => DocOps.ngramJaccardPairs(s, d)),
    "d7_minhash_lsh" -> ((s, d) => DocOps.minhashLshPairs(s, d)),
    "d8_simhash_pairs" -> ((s, d) => DocOps.simhashPairs(s, d)),
    "d10_boilerplate_ngrams" -> ((s, d) => DocOps.boilerplateNgrams(s, d)),
    "d11_chunking" -> ((s, d) => DocOps.chunkDocs(s, d)),
    "d12_stratified_sample" -> ((s, d) => DocOps.stratifiedSample(s, d)),
    "d13_decontaminate" -> ((s, d) => DocOps.decontaminate(s, d)),
    "d14_pii_scrub" -> ((s, d) => DocOps.scrubPii(s, d)),
    "d15_repetition_signals" -> ((s, d) => DocOps.repetitionSignals(s, d)),
    "d16_corpus_report" -> ((s, d) => DocOps.corpusReport(s, d)),
    // dfCap 5 (not the production-default 50) so the strip provably bites
    // on the synthetic corpus at every SF — mirrored in the oracle
    "d17_boilerplate_strip" -> ((s, d) => DocOps.stripBoilerplate(s, d, dfCap = 5)),
    "d18_incremental_neardup" -> ((s, d) => DocOps.incrementalNearDupQuery(s, d)),
    "d19_sequence_packing" -> ((s, d) => DocOps.packChunks(s, d)),
    "d20_decontamination" -> ((s, d) => DocOps.decontaminationQuery(s, d)),
    "d21_repeated_spans" -> ((s, d) => DocOps.repeatedSpansQuery(s, d)),
    "d22_quality_classifier" -> ((s, d) => DocOps.qualityClassify(s, d)),
    "d23_domain_mixture" -> ((s, d) => DocOps.domainMixSample(s, d)),
    // d24 needs cross-source duplicate classes to bite — the m2 injection
    // (every 17th text replaced by one fixed marker, mirrored verbatim in
    // the oracle) plants them across differently-ranked sources
    "d24_priority_dedup" -> ((s, d) => DocOps.priorityDedupOf(
      s.read.parquet(s"$d/documents.parquet")
        .withColumn("text",
          when(pmod(col("doc_id"), lit(17)) === 0, lit("DUP PAYLOAD"))
            .otherwise(col("text"))))),
    "d25_bigram_vocab" -> ((s, d) => DocOps.bigramVocab(s, d)),
    // d27: the full BPE merge loop — 8 greedy rounds of count→argmax→
    // merge over character symbols; the oracle UNROLLS the identical
    // 8 rounds in SQL (both engines share the literal-replace merge-apply
    // convention, see DocOps.bpeMerges)
    "d27_bpe_merges" -> ((s, d) => DocOps.bpeMerges(s, d)),
    // d28: apply the induced merge table — per-doc BPE token counts via
    // the encoded-vocab join (the oracle reuses d27's CTE chain and joins
    // the final round's word→rep vocabulary back to the corpus)
    "d28_bpe_encode" -> ((s, d) => DocOps.bpeEncode(s, d)),
    // d9 consumes d6's (oracle-expressible) Jaccard pairs so the full
    // pairs→clusters path is DuckDB-checked (recursive CTE); the SimHash
    // pair source remains covered by ComponentsSpec.
    "d9_dup_clusters" -> ((s, d) =>
      graft.ops.Components.dupClusters(s, DocOps.ngramJaccardPairs(s, d))),
    // d26: the train/eval split keyed by d9's cluster representative —
    // near-dup classes never straddle the split (the doc-keyed split's
    // eval-leakage bug); the whole pairs→components→bucket chain is under
    // the recursive-CTE oracle, singletons keep their own id as the key
    "d26_cluster_split" -> ((s, d) => DocOps.clusterSplit(s, d)),
    // O1 — the tagger primitive under the driver's DuckDB gate: restricted
    // to single-token dictionary forms, longest-leftmost tagging degenerates
    // to token equality, which IS SQL-expressible. The REAL automaton runs
    // (build + scan + token boundaries + the raw-slice case-sensitive
    // stoplist: injected "OCEAN" must stay blocked while "ocean" counts);
    // the oracle recounts tokens independently. Injection is needed because
    // the synthetic documents vocabulary contains no un-stoplisted EnvO
    // surface form — the CASE is mirrored verbatim in the oracle.
    "o1_tagger_restricted" -> ((s, d) => {
      import s.implicits._
      val ac = s.sparkContext.broadcast(graft.dict.AhoCorasick.build(restrictedDict))
      s.read.parquet(s"$d/documents.parquet")
        .withColumn("t2", taggerInjection)
        .select(col("doc_id"), col("t2")).as[(Long, String)]
        .flatMap { case (id, text) => ac.value.tag(text).map(m => (id, m.form)) }
        .toDF("doc_id", "form")
        .groupBy("doc_id", "form").agg(count(lit(1)).as("n"))
        .orderBy("doc_id", "form")
    }),
    // O1→A1/A4 end-to-end under the gate: the REAL tagger (restricted
    // dictionary, see o1) feeding the REAL LinkScore (flat + proportional)
    // — the oracle recomputes the whole chain from token counts and the
    // dictionary's form→envo mapping (embedded as literals from the same
    // loaded artifact).
    "o2_scoring_restricted" -> ((s, d) =>
      // (LinkScore receives the restricted dict: backtracking/restrict are
      // off, so only its scoring aggregation runs)
      graft.stages.LinkScore.score(s, restrictedEnvoRows(s, d), restrictedDict,
          graft.stages.ScoreConfig(normalization = "flat", proportional = true))
        .select(col("conv_id"), col("envo"), col("score"))
        .orderBy("conv_id", "envo")),
    // The scorer's backtracking path (A5: every occurrence also counts one
    // occurrence of each ontology ancestor) under the gate — the closure
    // rows for the restricted concepts are embedded in the oracle from the
    // same loaded artifact.
    "o5_backtracking_restricted" -> ((s, d) =>
      graft.stages.LinkScore.score(s, restrictedEnvoRows(s, d), KgPipeline.sharedDict,
          graft.stages.ScoreConfig(normalization = "flat", proportional = false,
            backtracking = true))
        .select(col("conv_id"), col("envo"), col("score"))
        .orderBy("conv_id", "envo")),
    // The scorer's upui normalization path (A2/A3: keep-first text dedupe,
    // then keep-first tool dedupe with the null-tool bypass — the
    // production rank() = 1 keep-first windows of LinkScore) under the
    // gate: docs grouped into 50 synthetic conversations, turn_idx =
    // doc_id, text-duplicate class and tool derived deterministically from
    // doc_id and mirrored verbatim in the oracle.
    "o4_upui_scoring_restricted" -> ((s, d) => {
      val rows = reshapeToConvs(restrictedEnvoRows(s, d),
        withTextHash = true, withTool = true)
      graft.stages.LinkScore.score(s, rows, restrictedDict,
          graft.stages.ScoreConfig(normalization = "upui", proportional = false))
        .select(col("conv_id"), col("envo"), col("score"))
        .orderBy("conv_id", "envo")
    }),
    // O1→A4→co-occurrence→J7 canonicalization, the full KG edge chain on
    // the restricted dictionary — curies come from the same artifact the
    // oracle embeds as its (envo, curie) dim.
    "o3_cooccurrence_restricted" -> ((s, d) => {
      val scores = graft.stages.LinkScore.score(s, restrictedEnvoRows(s, d), restrictedDict,
        graft.stages.ScoreConfig(normalization = "flat", proportional = true))
      graft.stages.TripleEmit.coOccurrenceTriples(s,
          graft.stages.TripleEmit.coOccurrence(scores), restrictedDict)
        .orderBy("subj", "obj")
    }),
    // o15: association lift over the o3 co-occurrence pairs — the count,
    // both marginals, and the conversation total combined into the exact
    // independence ratio (one double division; PMI = ln(lift), monotone)
    "o15_cooc_lift" -> ((s, d) => {
      val scores = graft.stages.LinkScore.score(s, restrictedEnvoRows(s, d), restrictedDict,
        graft.stages.ScoreConfig(normalization = "flat", proportional = true))
      graft.stages.TripleEmit.coOccurrenceLift(s, scores, restrictedDict)
        .orderBy("subj", "obj")
    }),
    // o16: the co-occurrence graph's node table — per-concept degree and
    // total pair-conversation strength (the relational form of the graph
    // summary the reference renders as a picture)
    "o16_concept_degrees" -> ((s, d) => {
      val scores = graft.stages.LinkScore.score(s, restrictedEnvoRows(s, d), restrictedDict,
        graft.stages.ScoreConfig(normalization = "flat", proportional = true))
      graft.stages.TripleEmit.conceptDegrees(s,
          graft.stages.TripleEmit.coOccurrence(scores), restrictedDict)
        .orderBy("curie")
    }),
    // o19: ontology concept depth — the distributed min-hop BFS
    // (Components.bfsDepths) over the restricted ancestor subgraph, joined
    // with per-concept tagged-doc counts; the oracle recomputes the same
    // walk with a recursive CTE over the identical VALUES edges
    "o19_concept_depth" -> ((s, d) => {
      import s.implicits._
      val scores = graft.stages.LinkScore.score(s, restrictedEnvoRows(s, d), restrictedDict,
        graft.stages.ScoreConfig(normalization = "flat", proportional = false))
      val nDocs = scores.groupBy("envo").agg(count(lit(1)).as("n_docs"))
      val edges = restrictedDepthEdges.toDF("child", "parent")
      val depths = graft.ops.Components.bfsDepths(s, edges, "ENVO:root")
        .toDF("curie", "depth")
      val dim = graft.stages.Canonicalize.conceptFrame(s, restrictedDict)
        .select("envo", "curie")
      nDocs.join(broadcast(dim), "envo")
        .join(broadcast(depths), "curie")
        .select(col("curie"), col("depth"), col("n_docs"))
        .orderBy("curie")
    }),
    // o18: concept trend — per-(concept, day) conversation counts with the
    // previous-day delta (the KG drift monitor); the day bucket is derived
    // deterministically from doc_id (documents carry no timestamp) and
    // mirrored verbatim in the oracle; counts/deltas are exact integers
    "o18_concept_trend" -> ((s, d) => {
      val scores = graft.stages.LinkScore.score(s, restrictedEnvoRows(s, d), restrictedDict,
        graft.stages.ScoreConfig(normalization = "flat", proportional = true))
      val convDays = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("string").as("conv_id"),
          (col("doc_id") % 28).cast("int").as("day"))
      graft.stages.TripleEmit.conceptTrend(s, scores, convDays, restrictedDict)
        .orderBy("curie", "day")
    }),
    // o17: walk centrality — three exact-integer power-iteration steps
    // x_{k+1} = A·x_k over the co-occurrence weight matrix (eigenvector-
    // centrality direction: which concepts hub the KG); the only division
    // is the final share, one exact double op over two integers
    "o17_walk_centrality" -> ((s, d) => {
      val scores = graft.stages.LinkScore.score(s, restrictedEnvoRows(s, d), restrictedDict,
        graft.stages.ScoreConfig(normalization = "flat", proportional = true))
      graft.stages.TripleEmit.walkCentrality(s,
          graft.stages.TripleEmit.coOccurrence(scores), restrictedDict)
        .orderBy("curie")
    }),
    // The scorer's ui normalization path (A2: duplicate texts within a
    // conversation counted once — the production rank() = 1 keep-first on
    // (conv, text_hash) in LinkScore) under the gate: o4's reshaping minus
    // the tool step.
    "o8_ui_scoring_restricted" -> ((s, d) => {
      val rows = reshapeToConvs(restrictedEnvoRows(s, d), withTextHash = true)
      graft.stages.LinkScore.score(s, rows, restrictedDict,
          graft.stages.ScoreConfig(normalization = "ui", proportional = false))
        .select(col("conv_id"), col("envo"), col("score"))
        .orderBy("conv_id", "envo")
    }),
    // The scorer's restrict predicate (P6: keep strict descendants of a
    // root concept) under the gate — the root is the closure ancestor
    // covering the most-but-not-all restricted concepts (so the filter
    // provably bites AND provably keeps rows), and the oracle embeds the
    // allowed set computed by the same descendantsOf formula.
    "o9_restrict_scoring" -> ((s, d) =>
      graft.stages.LinkScore.score(s, restrictedEnvoRows(s, d), restrictedDict,
          graft.stages.ScoreConfig(normalization = "flat", proportional = false,
            restrict = Some(restrictRootEnvo)))
        .select(col("conv_id"), col("envo"), col("score"))
        .orderBy("conv_id", "envo")),
    // O1→A1→S8, the triple SINK under the gate: the REAL
    // TripleEmit.annotatedWith (evidence counts + capped sorted turn_sample
    // + canonicalization) over the restricted tagger output, docs reshaped
    // into 50 conversations o4-style. turn_sample is emitted as a joined
    // string — the driver stringifies arrays differently per engine.
    "o6_annotated_restricted" -> ((s, d) => {
      val rows = reshapeToConvs(restrictedEnvoRows(s, d))
      val scores = graft.stages.LinkScore.score(s, rows, restrictedDict,
        graft.stages.ScoreConfig(normalization = "flat", proportional = true))
      graft.stages.TripleEmit.annotatedWith(s, scores, rows, restrictedDict)
        .select(col("subj"), col("pred"), col("obj"), col("weight"), col("evidence"),
          col("name"), concat_ws(",", col("turn_sample")).as("turns"))
        .orderBy("subj", "obj")
    }),
    // The J6 sample-projection chain under the gate: restricted scores ×
    // deterministic abundance → Abundance.projectToSamples. Scores are flat
    // NON-proportional (integer-valued doubles) and weights integer-valued,
    // so every sum term is exact and the double aggregation is
    // order-invariant — the oracle's sum matches bit-wise.
    "o7_sample_projection_restricted" -> ((s, d) => {
      val rows = reshapeToConvs(restrictedEnvoRows(s, d))
      val scores = graft.stages.LinkScore.score(s, rows, restrictedDict,
        graft.stages.ScoreConfig(normalization = "flat", proportional = false))
      val abundance = scores.select(col("conv_id").as("otu")).distinct()
        .withColumn("s", explode(array(lit("s1"), lit("s2"), lit("s3"))))
        .select(col("otu"), col("s").as("sample"),
          (pmod(col("otu").cast("bigint") * 3 + substring(col("s"), 2, 1).cast("bigint") * 5,
            lit(7)) + 1).cast("double").as("weight"))
      graft.stages.Abundance.projectToSamples(scores, abundance)
        .orderBy("envo", "sample")
    }),
    // A11 pivot+fillna under the gate: restricted flat NON-proportional
    // scores (integer-valued doubles — exact) pivoted to the wide
    // concept×conv matrix over the o4-style 50-conv reshaping. The 50
    // columns are pinned explicitly (schema-stable even for mention-less
    // convs, and no distinct-values discovery job); the oracle is 50
    // conditional aggregations with COALESCE 0 mirroring na.fill.
    "o11_pivot_restricted" -> ((s, d) => {
      val rows = reshapeToConvs(restrictedEnvoRows(s, d))
      val scores = graft.stages.LinkScore.score(s, rows, restrictedDict,
        graft.stages.ScoreConfig(normalization = "flat", proportional = false))
      graft.stages.Abundance.pivotMatrix(scores,
        colValues = (0 until 50).map(_.toString))
    }),
    // O10 — the COMPOSED pipeline under the gate: not a hand-wired stage
    // chain but the production `KgPipeline(...).run(...)` itself (per-task
    // memoized tagging, the persisted conv_id partcache shared across
    // branches, canonicalization) with the restricted dictionary
    // INJECTED as a broadcast automaton. Input: documents reshaped into the
    // o4-style 50 synthetic conversations (conv = doc_id % 50, turn =
    // doc_id) as real Turn-shaped rows, text injected as in o1. Flat +
    // proportional scoring ignores tool/text_hash, so the oracle is exactly
    // o6's recomputation — what o10 adds under the hash is the run()
    // wiring that composes the stages.
    "o10_pipeline_restricted" -> ((s, d) => {
      restrictedPipeline(s, d).annotated
        .select(col("subj"), col("pred"), col("obj"), col("weight"), col("evidence"),
          col("name"), concat_ws(",", col("turn_sample")).as("turns"))
        .orderBy("subj", "obj")
    }),
    // O12 — the composed run()'s SINGLE-ACTION sink shape under the gate:
    // `allTriples` unions all three dynamic triple families (annotated_with
    // + mentions + cooccurs_with) off the shared envoRows/scores branches —
    // the exact frame a production job writes. The oracle recomputes all
    // three families and unions them; full-column ORDER BY pins the
    // interleaving (duplicate mention rows are identical, so ties are
    // order-free). Every weight is exact: proportional division (o6-proven),
    // literal 1.0, integer conv counts.
    "o12_pipeline_all_triples" -> ((s, d) => {
      restrictedPipeline(s, d).allTriples
        .orderBy("subj", "pred", "obj", "weight", "evidence")
    }),
    // O14 — the incremental KG store under the hash: the o12 corpus split
    // into two conv-disjoint batches appended to a FRESH store (batch 2
    // re-delivers batch 1, exercising the idempotent skip), then the
    // store's canonical triple view. Per-conv families compose exactly and
    // the co-occurrence state merges old + delta, so the result must equal
    // the whole-corpus o12 run — the oracle IS o12's SQL.
    "o14_incremental_store" -> ((s, d) => {
      val idx = java.nio.file.Files.createTempDirectory("graft-o14").toString
      val turns = restrictedTurns(s, d)
      val b1 = turns.filter(pmod(xxhash64(col("conv_id")), lit(2)) === 0)
      val b2 = turns.filter(pmod(xxhash64(col("conv_id")), lit(2)) === 1)
      graft.stages.IncrementalKg.append(s, idx, b1,
        restrictedConfig, Some(restrictedDict))
      graft.stages.IncrementalKg.append(s, idx, b1.unionByName(b2),
        restrictedConfig, Some(restrictedDict))
      graft.stages.IncrementalKg.triples(s, idx, Some(restrictedDict))
        .orderBy("subj", "pred", "obj", "weight", "evidence")
    }),
    // O13 — the composed run() under the NON-default scoring matrix:
    // ScoreConfig("upui", proportional = true, backtracking = true)
    // through the production KgPipeline.run() (o10 gates flat+proportional
    // only). Turns: odd doc-banks share one banner text per conversation
    // so the REAL xxhash64 text-dedup classes bite; tool pattern as o4.
    // Backtracked ancestor triples carry evidence 0 / empty turn sample
    // (no raw occurrence rows) — the classic left-join path under the
    // hash. Oracle = o4's upui keep-first (keyed by the text itself) →
    // o5's closure union → proportional division → o6's support and
    // canonicalization, chained.
    "o13_pipeline_upui_backtrack" -> ((s, d) => {
      val turns = s.read.parquet(s"$d/documents.parquet")
        .select(
          convOf(col("doc_id")).as("conv_id"),
          col("doc_id").cast("int").as("turn_idx"),
          lit("user").as("role"),
          o13Text.as("text"),
          toolOf(col("doc_id")).as("tool"),
          lit(java.sql.Timestamp.valueOf("2025-01-01 00:00:00")).as("ts"))
      new KgPipeline(s,
          PipelineConfig(
            score = graft.stages.ScoreConfig(normalization = "upui",
              proportional = true, backtracking = true)),
          dictOverride = Some(restrictedDict))
        .run(turns)
        .annotated
        .select(col("subj"), col("pred"), col("obj"), col("weight"), col("evidence"),
          col("name"), concat_ws(",", col("turn_sample")).as("turns"))
        .orderBy("subj", "obj")
    }),
    // --- similarity search (embeddings) ---
    "e1_cosine_topk" -> ((s, d) => EmbedOps.cosineTopK(s, d)),
    "e2_cosine_neardup" -> ((s, d) => EmbedOps.cosineNearDupPairs(s, d)),
    "e3_lsh_topk" -> ((s, d) => EmbedOps.lshTopK(s, d)),
    "e4_ivf_topk" -> ((s, d) => EmbedOps.ivfTopK(s, d)),
    "e5_lsh_neardup" -> ((s, d) => EmbedOps.lshNearDupPairs(s, d)),
    "e6_semantic_dedup" -> ((s, d) => EmbedOps.semanticDedup(s, d)),
    "e7_sq_topk" -> ((s, d) => EmbedOps.sqTopK(s, d)),
    "e8_ivf_sq_topk" -> ((s, d) => EmbedOps.ivfSqTopK(s, d)),
    // --- KG pipeline (rows-only for the driver; oracled by ScalaTest).
    //     run() caches the tagger output once for every plan branch. ---
    "kg_annotated_triples" -> ((s, _) =>
      new KgPipeline(s).run(kgTurns(s)).annotated
        .select("subj", "pred", "obj", "weight", "evidence").orderBy("subj", "obj")),
    "kg_mention_triples" -> ((s, _) =>
      new KgPipeline(s).run(kgTurns(s)).mentionTriples
        .select("subj", "pred", "obj", "form", "start", "end").orderBy("subj", "obj", "start")),
    "kg_cooccurrence" -> ((s, _) =>
      new KgPipeline(s).run(kgTurns(s)).coOccurrence
        .orderBy("envo_a", "envo_b")),
    "kg_sample_projection" -> ((s, _) => {
      // scores × deterministic abundance → concept×sample projection (J6)
      import org.apache.spark.sql.functions._
      val scores = new KgPipeline(s).run(kgTurns(s)).scores
      val abundance = scores.select(col("conv_id").as("otu")).distinct()
        .withColumn("s", explode(array(lit("s1"), lit("s2"), lit("s3"))))
        .select(col("otu"), col("s").as("sample"),
          (pmod(xxhash64(concat(col("otu"), col("s"))), lit(7)) + 1).cast("double").as("weight"))
      graft.stages.Abundance.projectToSamples(scores, abundance)
        .orderBy("envo", "sample")
    }),
    // --- multimodal plumbing. m1/m3/m5 run over the doc-derived media
    //     table: the REAL batch plumbing executes (mapPartitions decode,
    //     typed flatMap frame extraction, LSH bucket near-dup) while the
    //     projected output columns are deterministic functions of the
    //     corpus — so all sit under the DuckDB gate (the stub decoder's
    //     md5-integer features are SQL-expressible since r5). ---
    "m1_media_features" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      MultimodalOps.extractFeatures(s,
          MultimodalOps.mediaFromDocs(s, d).as[MultimodalOps.MediaRow]).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes")).orderBy("media_id")
    }),
    // m2 over the doc-derived media table (payload = text bytes, so the
    // md5 dedup is DuckDB-expressible); duplicates injected by replacing
    // every 17th payload with one fixed marker — mirrored in the oracle
    "m2_media_payload_dedup" -> ((s, d) => {
      val media = MultimodalOps.mediaFromDocs(s, d)
        .withColumn("bytes",
          when(pmod(col("media_id"), lit(17)) === 0,
            lit("DUP PAYLOAD").cast("binary")).otherwise(col("bytes")))
      MultimodalOps.exactPayloadDedup(media)
    }),
    "m3_video_frame_sample" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      MultimodalOps.sampleFrames(s,
          MultimodalOps.mediaFromDocs(s, d).as[MultimodalOps.MediaRow])
        .groupBy("media_id").agg(count(lit(1)).as("n_frames")).orderBy("media_id")
    }),
    // m5 over the doc-derived media table with the m2 duplicate-payload
    // injection (every 17th payload replaced by one fixed marker) so the
    // near-dup LSH path has real work: duplicate same-kind payloads embed
    // identically and must surface with cosine 1.0. The plan stays the
    // LSH bucket equi-join (PlanShapeSpec: no CartesianProduct); the
    // oracle recomputes features + buckets + cosines from the parquet.
    "m5_feature_neardup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      val media = MultimodalOps.mediaFromDocs(s, d)
        .withColumn("bytes",
          when(pmod(col("media_id"), lit(17)) === 0,
            lit("DUP PAYLOAD").cast("binary")).otherwise(col("bytes")))
        .as[MultimodalOps.MediaRow]
      MultimodalOps.featureNearDup(s, MultimodalOps.extractFeatures(s, media))
        .select(col("media_a"), col("media_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("media_a", "media_b")
    }),
    // m4 over the doc-derived media table — corrupt four deterministic
    // slices (bad dims, bad duration, off-whitelist rate, NULL metadata)
    // so every reject branch fires; all injections mirrored in the oracle
    "m4_media_validate" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val media = MultimodalOps.mediaFromDocs(s, d)
        .withColumn("width",
          when(pmod(col("media_id"), lit(23)) === 0, lit(0)).otherwise(col("width")))
        .withColumn("duration_ms",
          when(pmod(col("media_id"), lit(31)) === 0, lit(-5)).otherwise(col("duration_ms")))
        .withColumn("sample_rate",
          when(pmod(col("media_id"), lit(37)) === 0, lit(null).cast("int"))
            .when(pmod(col("media_id"), lit(41)) === 0, lit(12345))
            .otherwise(col("sample_rate")))
      MultimodalOps.mediaValidationStats(media)
    }))

  /** The o1/o2 restricted dictionary: single-token EnvO forms present in
    * neither the stoplist (lowercase) nor each other — longest-leftmost
    * tagging over them degenerates to token equality. */
  private val restrictedForms = Seq("garden", "lake", "mud", "ocean", "pond", "sea")

  private lazy val restrictedDict = {
    val full = KgPipeline.sharedDict
    full.copy(formToSerials = full.formToSerials.filter(kv => restrictedForms.contains(kv._1)))
  }

  /** The SQL predicate mirroring the engine's raw-slice case-sensitive
    * stoplist for the restricted forms: every cased stoplist variant of the
    * six forms (GARDEN/Garden/LAKE/OCEAN/POND/Pond/SEA in the shipped
    * artifact) must be excluded by the oracle exactly as the automaton
    * blocks it — mirroring only the injected 'OCEAN' would go hash-red the
    * moment a document carries any other cased variant. */
  private def restrictedStopPredicate: String = {
    val full = KgPipeline.sharedDict
    val variants = full.stoplist.filter(s => restrictedForms.contains(s.toLowerCase)).toSeq.sorted
    require(variants.nonEmpty && !variants.exists(v => v == v.toLowerCase),
      "restricted forms must not be stoplisted in lowercase (the engine would never tag them)")
    s"raw NOT IN (${variants.map(v => s"'$v'").mkString(", ")})"
  }

  /** Deterministic EnvO-word injection for o1/o2 (the synthetic documents
    * vocabulary contains no un-stoplisted surface form) — mirrored verbatim
    * as a CASE in the oracles. */
  private def taggerInjection: org.apache.spark.sql.Column =
    concat(col("text"),
      when(pmod(col("doc_id"), lit(5)) === 0, lit(" the ocean meets the sea near the ocean"))
        .when(pmod(col("doc_id"), lit(5)) === 1, lit(" mud by the lake and garden mud"))
        .when(pmod(col("doc_id"), lit(5)) === 2, lit(" OCEAN stays blocked but pond counts"))
        .otherwise(lit("")))

  /** (form, envo) VALUES rows of the restricted dictionary — the oracle's
    * copy of the form→concept mapping, generated from the same loaded
    * artifact the engine tags with. */
  private def restrictedFormEnvoValues: String = {
    val full = KgPipeline.sharedDict
    (for {
      f <- restrictedForms
      e <- full.formToSerials(f).flatMap(full.serialToEnvoInt.get).distinct.sorted
    } yield s"  ('$f', $e)").mkString(",\n")
  }

  /** (envo, curie) VALUES rows for the restricted concepts — the oracle's
    * copy of the canonicalization dim. */
  /** o19's graph: the restricted concepts' ancestor subgraph — direct
    * is_a/part_of edges among {restricted ∪ their closure ancestors}, plus
    * the virtual-root edge for every member with no in-subgraph parent
    * (the envo_groups convention). Sorted and deterministic; shared
    * verbatim by the Spark query (edge DataFrame) and the oracle (VALUES
    * rows), so the distributed BFS and the recursive CTE walk the same
    * DAG. */
  private lazy val restrictedDepthEdges: Seq[(String, String)] = {
    val full = KgPipeline.sharedDict
    val onto = graft.dict.Obo.parseResource()
    val nodes = restrictedEnvoInts
      .flatMap(e => e +: full.closure.getOrElse(e, Array.empty[Int]).toSeq)
      .distinct.map(full.intToCurie).toSet
    val inner = onto.edges
      .filter(e => (e.rel == "is_a" || e.rel == "part_of") &&
        nodes(e.child) && nodes(e.parent))
      .map(e => (e.child, e.parent)).distinct
    val rooted = inner.map(_._1).toSet
    val rootEdges = (nodes -- rooted).toSeq.sorted.map(n => (n, "ENVO:root"))
    inner.sorted ++ rootEdges
  }

  private def depthEdgeValues: String =
    restrictedDepthEdges.map { case (c, p) => s"  ('$c', '$p')" }.mkString(",\n")

  private def restrictedEnvoCurieValues: String = {
    val full = KgPipeline.sharedDict
    val envos = restrictedForms
      .flatMap(f => full.formToSerials(f).flatMap(full.serialToEnvoInt.get)).distinct.sorted
    envos.map(e => s"  ($e, '${full.intToCurie(e)}')").mkString(",\n")
  }

  /** The o4/o6/o7/o8 shared doc→conversation reshaping: doc_id % 50 becomes
    * the conv (50 synthetic conversations), doc_id the turn; optionally a
    * % 7 text-duplicate class (7 is coprime with the 50 conv classes — % 5
    * would be constant within a conv and collapse every conversation to one
    * turn) and a % 3 tool with the null-tool bypass class. Every modulus is
    * mirrored verbatim in the corresponding oracles — change both together. */
  // The o4-family reshaping constants, single-sourced for BOTH builders
  // (reshapeToConvs and restrictedPipeline) so the "change every site
  // together" coupling with the oracles spans two expressions, not three
  // hand-copied blocks.
  private def convOf(doc: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (doc % 50).cast("string")
  private def toolOf(doc: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(doc % 3 === 0, lit(null).cast("string"))
      .otherwise(concat(lit("t"), (doc % 3).cast("string")))

  private def reshapeToConvs(rows: DataFrame, withTextHash: Boolean = false,
                             withTool: Boolean = false): DataFrame = {
    val base = rows
      .withColumn("doc_id", col("conv_id").cast("bigint"))
      .withColumn("conv_id", convOf(col("doc_id")))
      .withColumn("turn_idx", col("doc_id").cast("int"))
    val withTh = if (withTextHash) base.withColumn("text_hash", col("doc_id") % 7) else base
    val withT = if (withTool) withTh.withColumn("tool", toolOf(col("doc_id")))
    else withTh
    withT.drop("doc_id")
  }

  /** o10/o12 shared: documents reshaped into o4-style Turn rows (conv =
    * doc_id % 50, turn = doc_id, o1 text injection, o4 tool pattern) fed
    * through the COMPOSED production pipeline with the restricted
    * dictionary injected. */
  private def restrictedTurns(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/documents.parquet")
      .select(
        convOf(col("doc_id")).as("conv_id"),
        col("doc_id").cast("int").as("turn_idx"),
        lit("user").as("role"),
        taggerInjection.as("text"),
        toolOf(col("doc_id")).as("tool"),
        lit(java.sql.Timestamp.valueOf("2025-01-01 00:00:00")).as("ts"))

  private def restrictedConfig: PipelineConfig =
    PipelineConfig(
      score = graft.stages.ScoreConfig(normalization = "flat", proportional = true))

  private def restrictedPipeline(s: SparkSession, d: String): KgResult =
    new KgPipeline(s, restrictedConfig, dictOverride = Some(restrictedDict))
      .run(restrictedTurns(s, d))

  /** The o2/o3 shared stage: REAL restricted tagger over injected documents
    * → envoRows in the engine's hot-projection shape. */
  private def restrictedEnvoRows(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ac = s.sparkContext.broadcast(graft.dict.AhoCorasick.build(restrictedDict))
    s.read.parquet(s"$d/documents.parquet")
      .withColumn("t2", taggerInjection)
      .select(col("doc_id"), col("t2")).as[(Long, String)]
      .flatMap { case (id, text) =>
        ac.value.tag(text).iterator
          .flatMap(m => m.envos.iterator.map(e => (id.toString, 0, m.start, m.form, e)))
          .toSeq
      }
      .toDF("conv_id", "turn_idx", "start", "form", "envo")
      .withColumn("tool", lit(null).cast("string"))
      .withColumn("text_hash", lit(0L))
      .withColumn("mention_pos", lit(0))
      .withColumn("end", col("start"))
  }

  private def restrictedEnvoInts: Seq[Int] = {
    val full = KgPipeline.sharedDict
    restrictedForms
      .flatMap(f => full.formToSerials(f).flatMap(full.serialToEnvoInt.get)).distinct
  }

  /** o9's restrict root: the closure ancestor covering the MOST (but not
    * all) restricted concepts — deterministic, and the strict-descendant
    * filter both bites and keeps rows. */
  private def restrictRootEnvo: Int = {
    val full = KgPipeline.sharedDict
    val envos = restrictedEnvoInts
    val cover = envos.flatMap(e => full.closure.getOrElse(e, Array.empty[Int]).distinct)
      .groupBy(identity).view.mapValues(_.size).toMap
    val eligible = cover.filter { case (_, c) => c >= 1 && c < envos.size }
    require(eligible.nonEmpty,
      "o9 needs an ancestor covering some but not all restricted concepts")
    eligible.toSeq.sortBy { case (a, c) => (-c, a) }.head._1
  }

  /** (envo) VALUES rows of the restricted concepts that are strict
    * descendants of `restrictRootEnvo` — the oracle's copy of the allowed
    * set, computed by the SAME formula as EnvoDict.descendantsOf. */
  private def restrictAllowedValues: String = {
    val full = KgPipeline.sharedDict
    val root = restrictRootEnvo
    val allowed = restrictedEnvoInts
      .filter(e => full.closure.getOrElse(e, Array.empty[Int]).contains(root)).sorted
    require(allowed.nonEmpty, "o9 allowed set must be non-empty")
    allowed.map(e => s"  ($e)").mkString(",\n")
  }

  /** (envo, curie, name) VALUES rows for the restricted concepts — the
    * oracle's copy of the canonicalization dim WITH preferred names (o6's
    * output carries `name`; fallback to the CURIE mirrors EnvoDict.nameOf). */
  private def restrictedEnvoCurieNameValues: String = {
    val full = KgPipeline.sharedDict
    val envos = restrictedForms
      .flatMap(f => full.formToSerials(f).flatMap(full.serialToEnvoInt.get)).distinct.sorted
    envos.map { e =>
      val curie = full.intToCurie(e)
      s"  ($e, '$curie', '${full.nameOf(curie).replace("'", "''")}')"
    }.mkString(",\n")
  }

  /** (envo, curie, name) VALUES rows for the restricted concepts PLUS all
    * their closure ancestors — o13's canonicalization dim: backtracking
    * emits ancestor triples, and the engine's dict (formToSerials-filtered
    * only) canonicalizes them with the FULL curie/name tables. */
  private def restrictedWithAncestorsCurieNameValues: String = {
    val full = KgPipeline.sharedDict
    val base = restrictedForms
      .flatMap(f => full.formToSerials(f).flatMap(full.serialToEnvoInt.get)).distinct
    val withAnc = (base ++ base.flatMap(e => full.closure.getOrElse(e, Array.empty[Int])))
      .distinct.sorted
      // canonicalization is an inner join on the concept dim — only envos
      // with a curie appear in the output, so only those belong in the dim
      .filter(full.intToCurie.contains)
    withAnc.map { e =>
      val curie = full.intToCurie(e)
      s"  ($e, '$curie', '${full.nameOf(curie).replace("'", "''")}')"
    }.mkString(",\n")
  }

  /** o13's text: odd doc-banks (doc_id div 50 odd) share ONE banner text,
    * so each synthetic conversation holds 5 turns with IDENTICAL text —
    * the composed pipeline's real xxhash64 text-dedup classes (upui) then
    * provably bite; everything else keeps the o1 injection. Mirrored
    * verbatim in the o13 oracle (which groups by the text itself — exact
    * text equality is what the 64-bit hash join implements). */
  private def o13Text: org.apache.spark.sql.Column =
    when(expr("pmod(doc_id div 50, 2) = 1"),
      lit("conv banner with ocean and mud near the garden"))
      .otherwise(taggerInjection)

  /** (child, ancestor) closure VALUES rows for the restricted concepts —
    * the oracle's copy of the backtracking closure dim. */
  private def restrictedClosureValues: String = {
    val full = KgPipeline.sharedDict
    val envos = restrictedForms
      .flatMap(f => full.formToSerials(f).flatMap(full.serialToEnvoInt.get)).distinct.sorted
    val rows = for {
      e <- envos
      a <- full.closure.getOrElse(e, Array.empty[Int]).sorted
    } yield s"  ($e, $a)"
    require(rows.nonEmpty, "restricted concepts must have closure ancestors")
    rows.mkString(",\n")
  }

  /** The d27/d28 oracle CTE chain: the BPE merge loop UNROLLED to
    * `nMerges` SQL rounds — each round recomputes pair counts from the
    * previous round's spaced representation, picks the argmax (count DESC,
    * pair ASC — total order), and applies the merge with the same two-pass
    * literal replace the engine uses (see DocOps.bpeMerges' convention
    * note). `word` is carried through every round so the final r_n is the
    * ENCODED VOCABULARY (word → rep) the d28 tail joins on. Char class
    * spelled out ([^a-zA-Z0-9_] == \W on both regex engines) because this
    * string is built with the s-interpolator. */
  private def bpeCtes(nMerges: Int): String = {
    val rounds = (1 to nMerges).map { i =>
      s"""t$i AS (SELECT list_filter(string_split(rep, ' '), x -> x <> '') AS tk, freq FROM r${i - 1}),
         |p$i AS (SELECT unnest([tk[j] || ' ' || tk[j + 1] for j in range(1, len(tk))]) AS pair, freq
         |  FROM t$i WHERE len(tk) >= 2),
         |g$i AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM p$i GROUP BY 1),
         |b$i AS (SELECT pair, n FROM g$i ORDER BY n DESC, pair ASC LIMIT 1),
         |r$i AS (SELECT r.word, replace(replace(r.rep, ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' '),
         |                       ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' ') AS rep, r.freq
         |  FROM r${i - 1} r, b$i b)""".stripMargin
    }.mkString(",\n")
    s"""tk0 AS (SELECT list_filter(
       |    regexp_split_to_array(lower(text), '[^a-zA-Z0-9_]+'), x -> x <> '') AS tk
       |  FROM documents),
       |wrd AS (SELECT unnest(tk) AS word FROM tk0),
       |wf AS (SELECT word, count(*) AS freq FROM wrd GROUP BY 1),
       |r0 AS (SELECT word, ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS rep, freq FROM wf),
       |$rounds""".stripMargin
  }

  private def bpeOracleSql(nMerges: Int = 8): String = {
    val sel = (1 to nMerges).map { i =>
      s"  SELECT $i AS rank, pair, replace(pair, ' ', '') AS merged, n FROM b$i"
    }.mkString("\n  UNION ALL\n")
    s"""WITH ${bpeCtes(nMerges)}
       |SELECT * FROM (
       |$sel
       |) ORDER BY rank""".stripMargin
  }

  /** The d28 oracle: the final round's (word → rep) vocabulary from the
    * shared CTE chain, a per-word symbol count, the corpus-token join and
    * the per-doc sum — zero-token docs survive via the left join-back. */
  private def bpeEncodeOracleSql(nMerges: Int = 8): String =
    s"""WITH ${bpeCtes(nMerges)},
       |wt AS (SELECT word, CAST(len(list_filter(string_split(rep, ' '), x -> x <> '')) AS BIGINT) AS w_tokens
       |  FROM r$nMerges),
       |dtk AS (SELECT doc_id, unnest(list_filter(
       |    regexp_split_to_array(lower(text), '[^a-zA-Z0-9_]+'), x -> x <> '')) AS word
       |  FROM documents),
       |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(w.w_tokens) AS BIGINT) AS n_tokens
       |  FROM dtk d JOIN wt w USING (word) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(a.n_words, CAST(0 AS BIGINT)) AS n_words,
       |  COALESCE(a.n_tokens, CAST(0 AS BIGINT)) AS n_tokens
       |FROM documents d LEFT JOIN ag a USING (doc_id) ORDER BY doc_id""".stripMargin

  /** The e3 LSH hyperplanes as DuckDB VALUES rows — the SAME splitmix64
    * components `EmbedOps.lshTopK` bakes into its projection, printed with
    * `%.17E` (always-exponent form parses as DOUBLE in DuckDB, 18
    * significant digits guarantee bit-exact round-trip). Embedding dim is
    * 64 in every driver sfDir. */
  private def lshPlaneValues(nTables: Int = 8, nPlanes: Int = 4, dim: Int = 64): String =
    (for (t <- 0 until nTables; p <- 0 until nPlanes) yield {
      val comps = graft.ops.EmbedOps.planeComponents(t, p, dim)
        .map(d => "%.17E".formatLocal(java.util.Locale.ROOT, d)).mkString(", ")
      s"  ($t, $p, [$comps])"
    }).mkString(",\n")

  /** d23's mixing model as DuckDB literals — weights from the SAME map the
    * engine uses, in `%.17E` form (bare decimals parse as DECIMAL). */
  private def d23WeightCase: String =
    graft.ops.DocOps.defaultMixWeights.toSeq.sortBy(_._1).map { case (lang, w) =>
      s"WHEN lang = '$lang' THEN ${"%.17E".formatLocal(java.util.Locale.ROOT, w)}"
    }.mkString("CASE ", " ", " ELSE 0.0E0 END")

  private def d23BudgetFracLit: String =
    "%.17E".formatLocal(java.util.Locale.ROOT, graft.ops.DocOps.defaultBudgetFrac)

  /** DuckDB-runnable oracles; table names resolve to parquet files in the
    * same sfDir (driver substitutes paths). Column names/aliases match the
    * Spark side exactly (driver sorts columns by name before hashing). */
  def oracleSql: Map[String, String] = baseOracleSql +
    // o14: the incremental store's triple view must equal the whole-corpus
    // composed run() — the oracle IS o12's SQL by construction
    ("o14_incremental_store" -> baseOracleSql("o12_pipeline_all_triples"))

  private def baseOracleSql: Map[String, String] = Map(
    "a1_flat_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "a2_ui_dedupe_agg" ->
      """SELECT user_id, count(*) AS n_types
        |FROM (SELECT DISTINCT user_id, event_type FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "a3_upui_keepfirst" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "a4_proportional_share" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS occ FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, sum(occ) AS total FROM c GROUP BY 1)
        |SELECT c.user_id, c.event_type, c.occ,
        |       CAST(c.occ AS DOUBLE) / CAST(t.total AS DOUBLE) AS share
        |FROM c JOIN t ON c.user_id = t.user_id ORDER BY c.user_id, c.event_type""".stripMargin,
    "a6_topn_abundance" ->
      """SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY revenue DESC, o_custkey ASC LIMIT 10""".stripMargin,
    "a7_distinct_counts" ->
      """SELECT (SELECT count(DISTINCT l_partkey) FROM lineitem) AS n_distinct_parts,
        |       (SELECT count(DISTINCT l_suppkey) FROM lineitem) AS n_distinct_supps,
        |       (SELECT count(DISTINCT l_partkey) FROM lineitem
        |        WHERE l_partkey IN (SELECT p_partkey FROM part)) AS n_parts_in_dim""".stripMargin,
    "a9_keepmin_dedupe" ->
      """SELECT lang, source, min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "a12_window_normalize" ->
      """SELECT event_id, user_id, value,
        |  CASE WHEN user_total <> 0
        |       THEN CAST(value AS DOUBLE) / CAST(user_total AS DOUBLE) END AS share
        |FROM (SELECT event_id, user_id, value,
        |      sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id) AS user_total
        |      FROM events)
        |ORDER BY event_id""".stripMargin,
    "j2_broadcast_dim_join" ->
      """SELECT p_brand, sum(l_quantity) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j5_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders) ORDER BY 1""".stripMargin,
    "j5_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |ORDER BY 1""".stripMargin,
    "j6_matmul_join_agg" ->
      """SELECT o_orderpriority, l_returnflag, sum(l_quantity) AS total_qty, count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "j_star_join" ->
      """SELECT r_name, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "p1_rename_projection" ->
      """SELECT doc_id, 'C' || CAST(row_number() OVER (ORDER BY doc_id) - 1 AS VARCHAR) AS alias
        |FROM documents ORDER BY doc_id""".stripMargin,
    "p2_filter_pushdown" ->
      """SELECT l_returnflag, count(*) AS n_rows, sum(l_quantity) AS sum_qty
        |FROM lineitem WHERE l_quantity >= 30 AND l_discount <= 0.05
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "w_topk_per_group" ->
      """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk FROM orders)
        |WHERE rk <= 2 ORDER BY o_orderpriority, rk""".stripMargin,
    "s_set_ops" ->
      """WITH u AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |h AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'),
        |b AS (SELECT o_custkey, 'both' AS set_op FROM (SELECT * FROM u INTERSECT SELECT * FROM h)),
        |uo AS (SELECT o_custkey, 'urgent_only' AS set_op FROM (SELECT * FROM u EXCEPT SELECT * FROM h))
        |SELECT o_custkey, set_op FROM b UNION ALL SELECT o_custkey, set_op FROM uo
        |ORDER BY set_op, o_custkey""".stripMargin,
    "a_percentiles" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.25) AS p25,
        |       quantile_cont(l_quantity, 0.5) AS median,
        |       quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "a_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "w_running_sum" ->
      """SELECT event_id, user_id, value,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id
        |         ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS DOUBLE) AS running_total
        |FROM events ORDER BY event_id""".stripMargin,
    "w_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT > 1800
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM g)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, count(*) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       floor(epoch(max(ts)))::BIGINT - floor(epoch(min(ts)))::BIGINT AS duration_secs
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d1_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "d2_token_stats" ->
      """WITH t AS (SELECT doc_id, length(text) AS n_chars,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks,
        |  regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\s]') AS pieces
        |  FROM documents)
        |SELECT doc_id, n_chars, len(toks) AS n_tokens,
        |       len(list_distinct(toks)) AS n_distinct,
        |       len(pieces) AS n_bpeish
        |FROM t ORDER BY doc_id""".stripMargin,
    "d3_quality_score" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and','is','in','to'))) AS n_stop
        |  FROM t WHERE len(toks) > 0),
        |r AS (SELECT doc_id, n_tokens, n_distinct, n_stop,
        |  CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
        |  CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
        |  least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE)) AS len_factor
        |  FROM m)
        |SELECT doc_id, n_tokens, n_distinct, n_stop, ttr, stop_ratio,
        |       ttr * CAST(0.4 AS DOUBLE) + (CAST(1.0 AS DOUBLE) - stop_ratio) * CAST(0.3 AS DOUBLE)
        |         + len_factor * CAST(0.3 AS DOUBLE) AS quality
        |FROM r ORDER BY doc_id""".stripMargin,
    "d4_lang_id" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS s_en,
        |  len(list_filter(toks, x -> x IN ('el','la','de','los','y'))) AS s_es,
        |  len(list_filter(toks, x -> x IN ('le','les','des','et','une'))) AS s_fr,
        |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS s_de
        |  FROM t)
        |SELECT doc_id, s_en, s_es, s_fr, s_de,
        |  CASE WHEN s_en + s_es + s_fr + s_de = 0 THEN 'und'
        |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
        |       WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
        |       WHEN s_fr >= s_de THEN 'fr'
        |       ELSE 'de' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,
    "d5_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d6_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |g0 AS (SELECT doc_id, unnest(list_distinct(
        |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)])) AS g
        |  FROM t WHERE len(toks) >= 3),
        |stop AS (SELECT g FROM g0 GROUP BY g HAVING count(*) > 50),
        |g AS (SELECT * FROM g0 WHERE g NOT IN (SELECT g FROM stop)),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
        |inter AS (SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, count(*) AS common
        |  FROM g ga JOIN g gb ON ga.g = gb.g AND ga.doc_id < gb.doc_id GROUP BY 1, 2)
        |SELECT doc_a, doc_b, common,
        |       CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) AS jaccard
        |FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        |WHERE CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) >= 0.22
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d7_minhash_lsh" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |g0 AS (SELECT doc_id, unnest(list_distinct(
        |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)])) AS g
        |  FROM t WHERE len(toks) >= 3),
        |stop AS (SELECT g FROM g0 GROUP BY g HAVING count(*) > 50),
        |g AS (SELECT * FROM g0 WHERE g NOT IN (SELECT g FROM stop)),
        |h0 AS (SELECT doc_id,
        |    ('0x' || substr(md5(g), 1, 15))::BIGINT AS a,
        |    ('0x' || substr(md5(g), 17, 14))::BIGINT AS b
        |  FROM g),
        |h AS (SELECT doc_id, i, (a + i * b) % 1152921504606846976 AS h
        |  FROM h0, range(0, 12) r(i)),
        |sig AS (SELECT doc_id, i, min(h) AS mh FROM h GROUP BY 1, 2),
        |bands AS (SELECT doc_id,
        |    CAST(i // 3 AS VARCHAR) || '|' ||
        |    CAST(min(CASE WHEN i % 3 = 0 THEN mh END) AS VARCHAR) || '|' ||
        |    CAST(min(CASE WHEN i % 3 = 1 THEN mh END) AS VARCHAR) || '|' ||
        |    CAST(min(CASE WHEN i % 3 = 2 THEN mh END) AS VARCHAR) AS bkey
        |  FROM sig GROUP BY doc_id, i // 3),
        |cand AS (SELECT DISTINCT ba.doc_id AS doc_a, bb.doc_id AS doc_b
        |  FROM bands ba JOIN bands bb ON ba.bkey = bb.bkey AND ba.doc_id < bb.doc_id),
        |cdocs AS (SELECT doc_a AS doc_id FROM cand UNION SELECT doc_b FROM cand),
        |cg AS (SELECT * FROM g WHERE doc_id IN (SELECT doc_id FROM cdocs)),
        |sz AS (SELECT doc_id, count(*) AS n FROM cg GROUP BY 1),
        |inter AS (SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, count(*) AS common
        |  FROM cg ga JOIN cg gb ON ga.g = gb.g AND ga.doc_id < gb.doc_id GROUP BY 1, 2)
        |SELECT c.doc_a, c.doc_b,
        |       CAST(coalesce(common, 0) AS DOUBLE) /
        |       CAST(sa.n + sb.n - coalesce(common, 0) AS DOUBLE) AS jaccard
        |FROM cand c
        |LEFT JOIN inter ON c.doc_a = inter.doc_a AND c.doc_b = inter.doc_b
        |JOIN sz sa ON c.doc_a = sa.doc_id JOIN sz sb ON c.doc_b = sb.doc_id
        |WHERE CAST(coalesce(common, 0) AS DOUBLE) /
        |      CAST(sa.n + sb.n - coalesce(common, 0) AS DOUBLE) >= 0.18
        |ORDER BY c.doc_a, c.doc_b""".stripMargin,
    "d9_dup_clusters" ->
      """WITH RECURSIVE t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |g0 AS (SELECT doc_id, unnest(list_distinct(
        |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)])) AS g
        |  FROM t WHERE len(toks) >= 3),
        |stop AS (SELECT g FROM g0 GROUP BY g HAVING count(*) > 50),
        |g AS (SELECT * FROM g0 WHERE g NOT IN (SELECT g FROM stop)),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
        |inter AS (SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, count(*) AS common
        |  FROM g ga JOIN g gb ON ga.g = gb.g AND ga.doc_id < gb.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b
        |  FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        |  WHERE CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) >= 0.22),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |walk(id, label) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.dst, w.label FROM walk w JOIN edges e ON w.id = e.src),
        |comp AS (SELECT id, min(label) AS representative FROM walk GROUP BY 1),
        |csize AS (SELECT representative, count(*) AS cluster_size FROM comp GROUP BY 1)
        |SELECT comp.id AS doc_id, comp.representative, csize.cluster_size
        |FROM comp JOIN csize USING (representative)
        |ORDER BY representative, doc_id""".stripMargin,
    // d26: d9's pairs→components CTEs verbatim, left-joined onto the full
    // corpus (singletons key by their own id), then d12's md5 bucket over
    // the representative; cut = 0.75 * 2^24
    "d26_cluster_split" ->
      """WITH RECURSIVE t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |g0 AS (SELECT doc_id, unnest(list_distinct(
        |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)])) AS g
        |  FROM t WHERE len(toks) >= 3),
        |stop AS (SELECT g FROM g0 GROUP BY g HAVING count(*) > 50),
        |g AS (SELECT * FROM g0 WHERE g NOT IN (SELECT g FROM stop)),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
        |inter AS (SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, count(*) AS common
        |  FROM g ga JOIN g gb ON ga.g = gb.g AND ga.doc_id < gb.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b
        |  FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        |  WHERE CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) >= 0.22),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |walk(id, label) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.dst, w.label FROM walk w JOIN edges e ON w.id = e.src),
        |comp AS (SELECT id, min(label) AS representative FROM walk GROUP BY 1),
        |s AS (SELECT d.doc_id, COALESCE(c.representative, d.doc_id) AS representative
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
        |SELECT doc_id, representative,
        |  CASE WHEN ('0x' || substr(md5('split:' || CAST(representative AS VARCHAR)), 1, 6))::BIGINT
        |         < 12582912 THEN 'train' ELSE 'eval' END AS split
        |FROM s ORDER BY doc_id""".stripMargin,
    "d10_boilerplate_ngrams" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)])) AS g
        |  FROM t WHERE len(toks) >= 3)
        |SELECT g, count(*) AS df FROM g GROUP BY 1
        |ORDER BY df DESC, g ASC LIMIT 20""".stripMargin,
    "d17_boilerplate_strip" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |w AS (SELECT doc_id, i AS s, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
        |  FROM t, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
        |  WHERE len(toks) >= 3),
        |dfs AS (SELECT g, count(*) AS df FROM (SELECT DISTINCT doc_id, g FROM w) GROUP BY g),
        |stop AS (SELECT g FROM dfs WHERE df > 5),
        |bad AS (SELECT doc_id, list(s ORDER BY s) AS bs FROM (
        |    SELECT DISTINCT w.doc_id, w.s FROM w JOIN stop USING (g)) GROUP BY doc_id),
        |k AS (SELECT t.doc_id, len(t.toks) AS n_tokens,
        |  CASE WHEN b.bs IS NULL THEN t.toks
        |       ELSE list_filter(t.toks, (tok, p) -> NOT (list_contains(b.bs, p)
        |         OR list_contains(b.bs, p - 1) OR list_contains(b.bs, p - 2)))
        |  END AS kept
        |  FROM t LEFT JOIN bad b USING (doc_id))
        |SELECT doc_id, n_tokens, len(kept) AS n_kept,
        |  COALESCE(array_to_string(kept, ' '), '') AS stripped_text
        |FROM k ORDER BY doc_id""".stripMargin,
    "d18_incremental_neardup" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |g0 AS (SELECT doc_id, unnest(list_distinct(
        |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)])) AS g
        |  FROM t WHERE len(toks) >= 3),
        |stop AS (SELECT g FROM g0 WHERE doc_id % 4 <> 0 GROUP BY g HAVING count(*) > 50),
        |g AS (SELECT * FROM g0 WHERE g NOT IN (SELECT g FROM stop)),
        |h0 AS (SELECT doc_id,
        |    ('0x' || substr(md5(g), 1, 15))::BIGINT AS a,
        |    ('0x' || substr(md5(g), 17, 14))::BIGINT AS b
        |  FROM g),
        |h AS (SELECT doc_id, i, (a + i * b) % 1152921504606846976 AS h
        |  FROM h0, range(0, 12) r(i)),
        |sig AS (SELECT doc_id, i, min(h) AS mh FROM h GROUP BY 1, 2),
        |bands AS (SELECT doc_id,
        |    CAST(i // 3 AS VARCHAR) || '|' ||
        |    CAST(min(CASE WHEN i % 3 = 0 THEN mh END) AS VARCHAR) || '|' ||
        |    CAST(min(CASE WHEN i % 3 = 1 THEN mh END) AS VARCHAR) || '|' ||
        |    CAST(min(CASE WHEN i % 3 = 2 THEN mh END) AS VARCHAR) AS bkey
        |  FROM sig GROUP BY doc_id, i // 3),
        |cand AS (SELECT DISTINCT least(ba.doc_id, bb.doc_id) AS doc_a,
        |    greatest(ba.doc_id, bb.doc_id) AS doc_b
        |  FROM bands ba JOIN bands bb ON ba.bkey = bb.bkey AND ba.doc_id <> bb.doc_id
        |  WHERE bb.doc_id % 4 = 0),
        |cdocs AS (SELECT doc_a AS doc_id FROM cand UNION SELECT doc_b FROM cand),
        |cg AS (SELECT * FROM g WHERE doc_id IN (SELECT doc_id FROM cdocs)),
        |sz AS (SELECT doc_id, count(*) AS n FROM cg GROUP BY 1),
        |inter AS (SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, count(*) AS common
        |  FROM cg ga JOIN cg gb ON ga.g = gb.g AND ga.doc_id < gb.doc_id GROUP BY 1, 2)
        |SELECT c.doc_a, c.doc_b,
        |       CAST(coalesce(common, 0) AS DOUBLE) /
        |       CAST(sa.n + sb.n - coalesce(common, 0) AS DOUBLE) AS jaccard
        |FROM cand c
        |LEFT JOIN inter ON c.doc_a = inter.doc_a AND c.doc_b = inter.doc_b
        |JOIN sz sa ON c.doc_a = sa.doc_id JOIN sz sb ON c.doc_b = sb.doc_id
        |WHERE CAST(coalesce(common, 0) AS DOUBLE) /
        |      CAST(sa.n + sb.n - coalesce(common, 0) AS DOUBLE) >= 0.18
        |ORDER BY c.doc_a, c.doc_b""".stripMargin,
    "d19_sequence_packing" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 10, 1) + 1, 40)) AS s
        |  FROM t WHERE len(toks) > 0),
        |c AS (SELECT doc_id, (s - 1) // 40 AS chunk_idx,
        |  len(list_slice(toks, s, s + 49)) AS n_tokens FROM s),
        |p AS (SELECT doc_id % 8 AS shard, doc_id, chunk_idx, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY doc_id % 8
        |    ORDER BY doc_id, chunk_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pre
        |  FROM c)
        |SELECT shard, pre // 512 AS seq_id, pre % 512 AS seq_offset,
        |       doc_id, chunk_idx, n_tokens
        |FROM p ORDER BY shard, doc_id, chunk_idx""".stripMargin,
    "d20_decontamination" ->
      """WITH base AS (SELECT doc_id,
        |  CASE WHEN doc_id % 82 = 0 OR (doc_id % 41 <> 0 AND doc_id % 7 = 3)
        |       THEN text || ' the quick brown benchmark fox jumps over the lazy training set'
        |       ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM base),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]
        |     for i in range(1, len(toks) - 3)])) AS g
        |  FROM t WHERE len(toks) >= 5),
        |eg AS (SELECT DISTINCT g FROM g WHERE doc_id % 41 = 0),
        |j AS (SELECT g.doc_id, count(*) AS n_grams,
        |             CAST(sum(CASE WHEN eg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hit_grams
        |      FROM g LEFT JOIN eg ON g.g = eg.g
        |      WHERE g.doc_id % 41 <> 0 GROUP BY 1)
        |SELECT doc_id, n_grams, hit_grams,
        |       CAST(hit_grams AS DOUBLE) / CAST(n_grams AS DOUBLE) AS contamination
        |FROM j WHERE hit_grams >= 5 ORDER BY doc_id""".stripMargin,
    // d21: rolling 10-token window hashes (the d7/d8 60-bit md5 trick) →
    // occurrence count >= 2 → per-doc merge of contiguous/overlapping
    // coverage; banner injection mirrored from repeatedSpansQuery (the %7=3
    // branch wins ties, same as Spark's when-chain order)
    "d21_repeated_spans" ->
      ("""WITH base AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 3 THEN text || ' BANNER'
        |       WHEN doc_id % 23 = 0 THEN text || ' BANNER BANNER'
        |       ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM base),
        |w AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 8)) AS pos
        |  FROM t WHERE len(toks) >= 10),
        |h AS (SELECT doc_id, pos,
        |    ('0x' || substr(md5(array_to_string(list_slice(toks, pos, pos + 9), ' ')), 1, 15))::BIGINT AS h
        |  FROM w),
        |dup AS (SELECT h FROM h GROUP BY h HAVING count(*) >= 2),
        |hit AS (SELECT doc_id, pos FROM h WHERE h IN (SELECT h FROM dup)),
        |f AS (SELECT doc_id, pos,
        |  CASE WHEN pos - COALESCE(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), pos - 11) > 10
        |       THEN 1 ELSE 0 END AS brk FROM hit),
        |g AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS UNBOUNDED PRECEDING) AS grp FROM f)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 9 AS span_end,
        |       max(pos) + 9 - min(pos) + 1 AS span_tokens
        |FROM g GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin
        .replace("BANNER", graft.ops.DocOps.repeatBanner)),
    // d22: the hashed linear model recomputed in SQL — token slot =
    // 60-bit md5 % 4096, slot weight = 60-bit md5 of 'w:slot' mapped to
    // [-15, 15]; exact integer sums (CAST from DuckDB's HUGEINT)
    "d22_quality_classifier" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |r AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |w AS (SELECT doc_id,
        |  ('0x' || substr(md5('w:' || CAST(
        |     ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS VARCHAR)), 1, 15))::BIGINT
        |   % 31 - 15 AS w
        |  FROM r)
        |SELECT doc_id, CAST(sum(w) AS BIGINT) AS logit, count(*) AS n_toks,
        |  CAST(CASE WHEN sum(w) > 0 THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // d23: per-lang rates recomputed in SQL with the SAME double op order
    // as the Scala driver (((budgetFrac * grandTotal) * w) / tokens) and
    // every literal in always-exponent form (bare decimals parse as
    // DECIMAL in DuckDB and shift the arithmetic)
    "d23_domain_mixture" ->
      s"""WITH t AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tot AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS tk FROM t GROUP BY lang),
        |g AS (SELECT CAST(sum(tk) AS BIGINT) AS gt FROM tot),
        |r AS (SELECT lang,
        |  CASE WHEN tk > 0 THEN least(1.0E0,
        |    ${d23BudgetFracLit} * CAST(g.gt AS DOUBLE) * (${d23WeightCase}) / CAST(tk AS DOUBLE))
        |  ELSE 0.0E0 END AS rate
        |  FROM tot, g)
        |SELECT t.doc_id, t.lang, t.n_tokens
        |FROM t JOIN r USING (lang)
        |WHERE ('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 6))::BIGINT
        |      < r.rate * 16777216.0E0
        |ORDER BY t.doc_id""".stripMargin,
    "d11_chunking" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 10, 1) + 1, 40)) AS s
        |  FROM t WHERE len(toks) > 0)
        |SELECT doc_id, (s - 1) // 40 AS chunk_idx,
        |  len(list_slice(toks, s, s + 49)) AS n_tokens,
        |  array_to_string(list_slice(toks, s, s + 49), ' ') AS chunk_text
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,
    "d12_stratified_sample" ->
      """SELECT doc_id, lang, source, bucket FROM (
        |  SELECT doc_id, lang, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT AS bucket
        |  FROM documents)
        |WHERE bucket < CASE WHEN lang = 'en' THEN 4194304 ELSE 16777216 END
        |ORDER BY doc_id""".stripMargin,
    "d13_decontaminate" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)])) AS g
        |  FROM t WHERE len(toks) >= 3),
        |bg AS (SELECT DISTINCT g FROM g WHERE doc_id < 20)
        |SELECT doc_id, count(*) AS n_shared
        |FROM g WHERE doc_id >= 20 AND g IN (SELECT g FROM bg)
        |GROUP BY 1 HAVING count(*) >= 3 ORDER BY doc_id""".stripMargin,
    "d14_pii_scrub" ->
      """WITH t AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 7 = 0 THEN ' contact bob@example.com now'
        |       WHEN doc_id % 11 = 0 THEN ' node at 10.12.0.17 replied'
        |       WHEN doc_id % 13 = 0 THEN ' call 5551234567 today'
        |       ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{7,}\b', '<PHONE>', 'g')) AS clean_hash
        |FROM t ORDER BY doc_id""".stripMargin,
    "d15_repetition_signals" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, len(toks) AS n_tokens,
        |  [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))] AS g2,
        |  [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)] AS g3,
        |  [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
        |   for i in range(1, len(toks) - 2)] AS g4
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  CASE WHEN len(g2) > 0 THEN CAST(1.0 AS DOUBLE)
        |    - CAST(len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE)
        |    ELSE CAST(0.0 AS DOUBLE) END AS dup_2gram_frac,
        |  CASE WHEN len(g3) > 0 THEN CAST(1.0 AS DOUBLE)
        |    - CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE)
        |    ELSE CAST(0.0 AS DOUBLE) END AS dup_3gram_frac,
        |  CASE WHEN len(g4) > 0 THEN CAST(1.0 AS DOUBLE)
        |    - CAST(len(list_distinct(g4)) AS DOUBLE) / CAST(len(g4) AS DOUBLE)
        |    ELSE CAST(0.0 AS DOUBLE) END AS dup_4gram_frac
        |FROM g ORDER BY doc_id""".stripMargin,
    "d16_corpus_report" ->
      """WITH t AS (SELECT doc_id, lang, source,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |q AS (SELECT doc_id, lang, source, len(toks) AS n_tokens,
        |  CASE WHEN len(toks) > 0 THEN
        |    (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * CAST(0.4 AS DOUBLE)
        |    + (CAST(1.0 AS DOUBLE) - CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is','in','to'))) AS DOUBLE)
        |       / CAST(len(toks) AS DOUBLE)) * CAST(0.3 AS DOUBLE)
        |    + least(CAST(1.0 AS DOUBLE), CAST(len(toks) AS DOUBLE) / CAST(100.0 AS DOUBLE)) * CAST(0.3 AS DOUBLE)
        |  END AS quality
        |  FROM t)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  min(quality) AS min_quality, max(quality) AS max_quality,
        |  CAST(sum(n_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tokens
        |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "o1_tagger_restricted" ->
      s"""WITH t AS (SELECT doc_id, text ||
        |  CASE doc_id % 5 WHEN 0 THEN ' the ocean meets the sea near the ocean'
        |                  WHEN 1 THEN ' mud by the lake and garden mud'
        |                  WHEN 2 THEN ' OCEAN stays blocked but pond counts'
        |                  ELSE '' END AS t2
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(t2, '[^A-Za-z0-9]+'), x -> x <> '')) AS raw
        |  FROM t)
        |SELECT doc_id, lower(raw) AS form, count(*) AS n
        |FROM tok
        |WHERE lower(raw) IN ('ocean', 'sea', 'lake', 'mud', 'garden', 'pond')
        |  AND $restrictedStopPredicate
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "o2_scoring_restricted" ->
      s"""WITH fe(form, envo) AS (VALUES
         |$restrictedFormEnvoValues),
         |t AS (SELECT doc_id, text ||
         |  CASE doc_id % 5 WHEN 0 THEN ' the ocean meets the sea near the ocean'
         |                  WHEN 1 THEN ' mud by the lake and garden mud'
         |                  WHEN 2 THEN ' OCEAN stays blocked but pond counts'
         |                  ELSE '' END AS t2
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(t2, '[^A-Za-z0-9]+'), x -> x <> '')) AS raw
         |  FROM t),
         |m AS (SELECT doc_id, lower(raw) AS form FROM tok
         |  WHERE lower(raw) IN ('ocean', 'sea', 'lake', 'mud', 'garden', 'pond')
         |    AND $restrictedStopPredicate),
         |occ AS (SELECT CAST(doc_id AS VARCHAR) AS conv_id, envo, count(*) AS occ
         |  FROM m JOIN fe USING (form) GROUP BY 1, 2),
         |tot AS (SELECT conv_id, sum(occ) AS total FROM occ GROUP BY 1)
         |SELECT occ.conv_id, occ.envo,
         |       CAST(occ.occ AS DOUBLE) / CAST(tot.total AS DOUBLE) AS score
         |FROM occ JOIN tot USING (conv_id) ORDER BY conv_id, envo""".stripMargin,
    "o5_backtracking_restricted" ->
      s"""WITH fe(form, envo) AS (VALUES
         |$restrictedFormEnvoValues),
         |cl(child, ancestor) AS (VALUES
         |$restrictedClosureValues),
         |t AS (SELECT doc_id, text ||
         |  CASE doc_id % 5 WHEN 0 THEN ' the ocean meets the sea near the ocean'
         |                  WHEN 1 THEN ' mud by the lake and garden mud'
         |                  WHEN 2 THEN ' OCEAN stays blocked but pond counts'
         |                  ELSE '' END AS t2
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(t2, '[^A-Za-z0-9]+'), x -> x <> '')) AS raw
         |  FROM t),
         |m AS (SELECT doc_id, lower(raw) AS form FROM tok
         |  WHERE lower(raw) IN ('ocean', 'sea', 'lake', 'mud', 'garden', 'pond')
         |    AND $restrictedStopPredicate),
         |base AS (SELECT CAST(doc_id AS VARCHAR) AS conv_id, envo FROM m JOIN fe USING (form)),
         |allocc AS (SELECT conv_id, envo FROM base
         |           UNION ALL
         |           SELECT b.conv_id, cl.ancestor AS envo FROM base b JOIN cl ON b.envo = cl.child)
         |SELECT conv_id, envo, CAST(count(*) AS DOUBLE) AS score
         |FROM allocc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "o4_upui_scoring_restricted" ->
      s"""WITH fe(form, envo) AS (VALUES
         |$restrictedFormEnvoValues),
         |t AS (SELECT doc_id, text ||
         |  CASE doc_id % 5 WHEN 0 THEN ' the ocean meets the sea near the ocean'
         |                  WHEN 1 THEN ' mud by the lake and garden mud'
         |                  WHEN 2 THEN ' OCEAN stays blocked but pond counts'
         |                  ELSE '' END AS t2
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(t2, '[^A-Za-z0-9]+'), x -> x <> '')) AS raw
         |  FROM t),
         |m AS (SELECT doc_id, lower(raw) AS form FROM tok
         |  WHERE lower(raw) IN ('ocean', 'sea', 'lake', 'mud', 'garden', 'pond')
         |    AND $restrictedStopPredicate),
         |r AS (SELECT doc_id % 50 AS conv, doc_id AS turn, doc_id % 7 AS th,
         |         CASE WHEN doc_id % 3 = 0 THEN NULL
         |              ELSE 't' || CAST(doc_id % 3 AS VARCHAR) END AS tool,
         |         envo
         |  FROM m JOIN fe USING (form)),
         |s1 AS (SELECT conv, th, min(turn) AS mt FROM r GROUP BY 1, 2),
         |k1 AS (SELECT r.* FROM r JOIN s1 ON r.conv = s1.conv AND r.th = s1.th AND r.turn = s1.mt),
         |nulltool AS (SELECT * FROM k1 WHERE tool IS NULL),
         |s2 AS (SELECT conv, tool, min(turn) AS mt FROM k1 WHERE tool IS NOT NULL GROUP BY 1, 2),
         |k2 AS (SELECT k1.* FROM k1 JOIN s2 ON k1.conv = s2.conv AND k1.tool = s2.tool AND k1.turn = s2.mt),
         |kept AS (SELECT * FROM nulltool UNION ALL SELECT * FROM k2)
         |SELECT CAST(conv AS VARCHAR) AS conv_id, envo, CAST(count(*) AS DOUBLE) AS score
         |FROM kept GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "o8_ui_scoring_restricted" ->
      s"""WITH fe(form, envo) AS (VALUES
         |$restrictedFormEnvoValues),
         |t AS (SELECT doc_id, text ||
         |  CASE doc_id % 5 WHEN 0 THEN ' the ocean meets the sea near the ocean'
         |                  WHEN 1 THEN ' mud by the lake and garden mud'
         |                  WHEN 2 THEN ' OCEAN stays blocked but pond counts'
         |                  ELSE '' END AS t2
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(t2, '[^A-Za-z0-9]+'), x -> x <> '')) AS raw
         |  FROM t),
         |m AS (SELECT doc_id, lower(raw) AS form FROM tok
         |  WHERE lower(raw) IN ('ocean', 'sea', 'lake', 'mud', 'garden', 'pond')
         |    AND $restrictedStopPredicate),
         |r AS (SELECT doc_id % 50 AS conv, doc_id AS turn, doc_id % 7 AS th, envo
         |  FROM m JOIN fe USING (form)),
         |s1 AS (SELECT conv, th, min(turn) AS mt FROM r GROUP BY 1, 2),
         |k1 AS (SELECT r.* FROM r JOIN s1 ON r.conv = s1.conv AND r.th = s1.th AND r.turn = s1.mt)
         |SELECT CAST(conv AS VARCHAR) AS conv_id, envo, CAST(count(*) AS DOUBLE) AS score
         |FROM k1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "o9_restrict_scoring" ->
      s"""WITH fe(form, envo) AS (VALUES
         |$restrictedFormEnvoValues),
         |allowed(envo) AS (VALUES
         |$restrictAllowedValues),
         |t AS (SELECT doc_id, text ||
         |  CASE doc_id % 5 WHEN 0 THEN ' the ocean meets the sea near the ocean'
         |                  WHEN 1 THEN ' mud by the lake and garden mud'
         |                  WHEN 2 THEN ' OCEAN stays blocked but pond counts'
         |                  ELSE '' END AS t2
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(t2, '[^A-Za-z0-9]+'), x -> x <> '')) AS raw
         |  FROM t),
         |m AS (SELECT doc_id, lower(raw) AS form FROM tok
         |  WHERE lower(raw) IN ('ocean', 'sea', 'lake', 'mud', 'garden', 'pond')
         |    AND $restrictedStopPredicate)
         |SELECT CAST(doc_id AS VARCHAR) AS conv_id, envo, CAST(count(*) AS DOUBLE) AS score
         |FROM m JOIN fe USING (form)
         |WHERE envo IN (SELECT envo FROM allowed)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "o6_annotated_restricted" ->
      s"""WITH fe(form, envo) AS (VALUES
         |$restrictedFormEnvoValues),
         |en(envo, curie, name) AS (VALUES
         |$restrictedEnvoCurieNameValues),
         |t AS (SELECT doc_id, text ||
         |  CASE doc_id % 5 WHEN 0 THEN ' the ocean meets the sea near the ocean'
         |                  WHEN 1 THEN ' mud by the lake and garden mud'
         |                  WHEN 2 THEN ' OCEAN stays blocked but pond counts'
         |                  ELSE '' END AS t2
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(t2, '[^A-Za-z0-9]+'), x -> x <> '')) AS raw
         |  FROM t),
         |m AS (SELECT doc_id, lower(raw) AS form FROM tok
         |  WHERE lower(raw) IN ('ocean', 'sea', 'lake', 'mud', 'garden', 'pond')
         |    AND $restrictedStopPredicate),
         |r AS (SELECT doc_id % 50 AS conv, doc_id AS turn, envo FROM m JOIN fe USING (form)),
         |occ AS (SELECT conv, envo, count(*) AS occ FROM r GROUP BY 1, 2),
         |tot AS (SELECT conv, sum(occ) AS total FROM occ GROUP BY 1),
         |sup AS (SELECT conv, envo, count(DISTINCT turn) AS n_turns,
         |    array_to_string(list_slice(list_sort(list(DISTINCT turn)), 1, 20), ',') AS turns
         |  FROM r GROUP BY 1, 2)
         |SELECT CAST(occ.conv AS VARCHAR) AS subj, 'annotated_with' AS pred, en.curie AS obj,
         |       CAST(occ.occ AS DOUBLE) / CAST(tot.total AS DOUBLE) AS weight,
         |       sup.n_turns AS evidence, en.name, sup.turns
         |FROM occ JOIN tot USING (conv) JOIN sup USING (conv, envo) JOIN en USING (envo)
         |ORDER BY subj, obj""".stripMargin,
    "o11_pivot_restricted" ->
      s"""WITH fe(form, envo) AS (VALUES
         |$restrictedFormEnvoValues),
         |t AS (SELECT doc_id, text ||
         |  CASE doc_id % 5 WHEN 0 THEN ' the ocean meets the sea near the ocean'
         |                  WHEN 1 THEN ' mud by the lake and garden mud'
         |                  WHEN 2 THEN ' OCEAN stays blocked but pond counts'
         |                  ELSE '' END AS t2
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(t2, '[^A-Za-z0-9]+'), x -> x <> '')) AS raw
         |  FROM t),
         |m AS (SELECT doc_id, lower(raw) AS form FROM tok
         |  WHERE lower(raw) IN ('ocean', 'sea', 'lake', 'mud', 'garden', 'pond')
         |    AND $restrictedStopPredicate),
         |r AS (SELECT doc_id % 50 AS conv, envo FROM m JOIN fe USING (form)),
         |occ AS (SELECT conv, envo, CAST(count(*) AS DOUBLE) AS score FROM r GROUP BY 1, 2)
         |SELECT envo,
         |${(0 until 50).map(c =>
             s"""  COALESCE(sum(CASE WHEN conv = $c THEN score END), 0.0) AS "$c"""")
             .mkString(",\n")}
         |FROM occ GROUP BY envo ORDER BY envo""".stripMargin,
    // o10's oracle is o6's recomputation verbatim: the Spark sides differ
    // (o6 hand-wires the stages, o10 runs the composed KgPipeline.run()),
    // the semantics must not — flat+proportional scoring ignores the
    // tool/text_hash columns the pipeline additionally carries.
    "o10_pipeline_restricted" ->
      s"""WITH fe(form, envo) AS (VALUES
         |$restrictedFormEnvoValues),
         |en(envo, curie, name) AS (VALUES
         |$restrictedEnvoCurieNameValues),
         |t AS (SELECT doc_id, text ||
         |  CASE doc_id % 5 WHEN 0 THEN ' the ocean meets the sea near the ocean'
         |                  WHEN 1 THEN ' mud by the lake and garden mud'
         |                  WHEN 2 THEN ' OCEAN stays blocked but pond counts'
         |                  ELSE '' END AS t2
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(t2, '[^A-Za-z0-9]+'), x -> x <> '')) AS raw
         |  FROM t),
         |m AS (SELECT doc_id, lower(raw) AS form FROM tok
         |  WHERE lower(raw) IN ('ocean', 'sea', 'lake', 'mud', 'garden', 'pond')
         |    AND $restrictedStopPredicate),
         |r AS (SELECT doc_id % 50 AS conv, doc_id AS turn, envo FROM m JOIN fe USING (form)),
         |occ AS (SELECT conv, envo, count(*) AS occ FROM r GROUP BY 1, 2),
         |tot AS (SELECT conv, sum(occ) AS total FROM occ GROUP BY 1),
         |sup AS (SELECT conv, envo, count(DISTINCT turn) AS n_turns,
         |    array_to_string(list_slice(list_sort(list(DISTINCT turn)), 1, 20), ',') AS turns
         |  FROM r GROUP BY 1, 2)
         |SELECT CAST(occ.conv AS VARCHAR) AS subj, 'annotated_with' AS pred, en.curie AS obj,
         |       CAST(occ.occ AS DOUBLE) / CAST(tot.total AS DOUBLE) AS weight,
         |       sup.n_turns AS evidence, en.name, sup.turns
         |FROM occ JOIN tot USING (conv) JOIN sup USING (conv, envo) JOIN en USING (envo)
         |ORDER BY subj, obj""".stripMargin,
    "o12_pipeline_all_triples" ->
      s"""WITH fe(form, envo) AS (VALUES
         |$restrictedFormEnvoValues),
         |ec(envo, curie) AS (VALUES
         |$restrictedEnvoCurieValues),
         |t AS (SELECT doc_id, text ||
         |  CASE doc_id % 5 WHEN 0 THEN ' the ocean meets the sea near the ocean'
         |                  WHEN 1 THEN ' mud by the lake and garden mud'
         |                  WHEN 2 THEN ' OCEAN stays blocked but pond counts'
         |                  ELSE '' END AS t2
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(t2, '[^A-Za-z0-9]+'), x -> x <> '')) AS raw
         |  FROM t),
         |m AS (SELECT doc_id, lower(raw) AS form FROM tok
         |  WHERE lower(raw) IN ('ocean', 'sea', 'lake', 'mud', 'garden', 'pond')
         |    AND $restrictedStopPredicate),
         |r AS (SELECT doc_id % 50 AS conv, doc_id AS turn, envo FROM m JOIN fe USING (form)),
         |occ AS (SELECT conv, envo, count(*) AS occ FROM r GROUP BY 1, 2),
         |tot AS (SELECT conv, sum(occ) AS total FROM occ GROUP BY 1),
         |sup AS (SELECT conv, envo, count(DISTINCT turn) AS n_turns FROM r GROUP BY 1, 2),
         |ann AS (SELECT CAST(occ.conv AS VARCHAR) AS subj, 'annotated_with' AS pred,
         |    ec.curie AS obj, CAST(occ.occ AS DOUBLE) / CAST(tot.total AS DOUBLE) AS weight,
         |    CAST(sup.n_turns AS BIGINT) AS evidence
         |  FROM occ JOIN tot USING (conv) JOIN sup USING (conv, envo) JOIN ec USING (envo)),
         |men AS (SELECT CAST(conv AS VARCHAR) || ':' || CAST(turn AS VARCHAR) AS subj,
         |    'mentions' AS pred, ec.curie AS obj, CAST(1.0 AS DOUBLE) AS weight,
         |    CAST(1 AS BIGINT) AS evidence
         |  FROM r JOIN ec USING (envo)),
         |dp AS (SELECT DISTINCT conv, envo FROM r),
         |cp AS (SELECT a.envo AS ea, b.envo AS eb, count(*) AS n
         |  FROM dp a JOIN dp b ON a.conv = b.conv AND a.envo < b.envo GROUP BY 1, 2),
         |cc AS (SELECT ca.curie AS subj, 'cooccurs_with' AS pred, cb.curie AS obj,
         |    CAST(n AS DOUBLE) AS weight, CAST(n AS BIGINT) AS evidence
         |  FROM cp JOIN ec ca ON ca.envo = cp.ea JOIN ec cb ON cb.envo = cp.eb)
         |SELECT * FROM (SELECT * FROM ann UNION ALL SELECT * FROM men
         |               UNION ALL SELECT * FROM cc)
         |ORDER BY subj, pred, obj, weight, evidence""".stripMargin,
    // o13: the o4 upui keep-first (text classes keyed by the banner/
    // injected TEXT itself — exact text equality is what the pipeline's
    // 64-bit hash join implements) → o5 closure union → proportional
    // division → o6 support + canonicalization, over the run()-composed
    // engine side. Ancestor rows have no raw occurrences: LEFT JOIN sup
    // with COALESCE(0 / '') mirrors the engine's evidence left join.
    "o13_pipeline_upui_backtrack" ->
      s"""WITH fe(form, envo) AS (VALUES
         |$restrictedFormEnvoValues),
         |cl(child, ancestor) AS (VALUES
         |$restrictedClosureValues),
         |en(envo, curie, name) AS (VALUES
         |$restrictedWithAncestorsCurieNameValues),
         |t AS (SELECT doc_id,
         |  CASE WHEN (doc_id // 50) % 2 = 1
         |       THEN 'conv banner with ocean and mud near the garden'
         |       ELSE text ||
         |         CASE doc_id % 5 WHEN 0 THEN ' the ocean meets the sea near the ocean'
         |                         WHEN 1 THEN ' mud by the lake and garden mud'
         |                         WHEN 2 THEN ' OCEAN stays blocked but pond counts'
         |                         ELSE '' END
         |  END AS t2
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(t2, '[^A-Za-z0-9]+'), x -> x <> '')) AS raw
         |  FROM t),
         |m AS (SELECT doc_id, lower(raw) AS form FROM tok
         |  WHERE lower(raw) IN ('ocean', 'sea', 'lake', 'mud', 'garden', 'pond')
         |    AND $restrictedStopPredicate),
         |r AS (SELECT m.doc_id % 50 AS conv, m.doc_id AS turn, t.t2 AS txt,
         |    CASE WHEN m.doc_id % 3 = 0 THEN NULL
         |         ELSE 't' || CAST(m.doc_id % 3 AS VARCHAR) END AS tool,
         |    envo
         |  FROM m JOIN fe USING (form) JOIN t ON t.doc_id = m.doc_id),
         |s1 AS (SELECT conv, txt, min(turn) AS mt FROM r GROUP BY 1, 2),
         |k1 AS (SELECT r.* FROM r JOIN s1 ON r.conv = s1.conv AND r.txt = s1.txt AND r.turn = s1.mt),
         |nulltool AS (SELECT * FROM k1 WHERE tool IS NULL),
         |s2 AS (SELECT conv, tool, min(turn) AS mt FROM k1 WHERE tool IS NOT NULL GROUP BY 1, 2),
         |k2 AS (SELECT k1.* FROM k1 JOIN s2 ON k1.conv = s2.conv AND k1.tool = s2.tool AND k1.turn = s2.mt),
         |kept AS (SELECT conv, envo FROM nulltool UNION ALL SELECT conv, envo FROM k2),
         |allocc AS (SELECT conv, envo FROM kept
         |           UNION ALL
         |           SELECT k.conv, cl.ancestor AS envo FROM kept k JOIN cl ON k.envo = cl.child),
         |occ AS (SELECT conv, envo, count(*) AS occ FROM allocc GROUP BY 1, 2),
         |tot AS (SELECT conv, sum(occ) AS total FROM occ GROUP BY 1),
         |sup AS (SELECT conv, envo, count(DISTINCT turn) AS n_turns,
         |    array_to_string(list_slice(list_sort(list(DISTINCT turn)), 1, 20), ',') AS turns
         |  FROM r GROUP BY 1, 2)
         |SELECT CAST(occ.conv AS VARCHAR) AS subj, 'annotated_with' AS pred, en.curie AS obj,
         |       CAST(occ.occ AS DOUBLE) / CAST(tot.total AS DOUBLE) AS weight,
         |       CAST(COALESCE(sup.n_turns, 0) AS BIGINT) AS evidence, en.name,
         |       COALESCE(sup.turns, '') AS turns
         |FROM occ JOIN tot USING (conv) LEFT JOIN sup USING (conv, envo) JOIN en USING (envo)
         |ORDER BY subj, obj""".stripMargin,
    "o7_sample_projection_restricted" ->
      s"""WITH fe(form, envo) AS (VALUES
         |$restrictedFormEnvoValues),
         |t AS (SELECT doc_id, text ||
         |  CASE doc_id % 5 WHEN 0 THEN ' the ocean meets the sea near the ocean'
         |                  WHEN 1 THEN ' mud by the lake and garden mud'
         |                  WHEN 2 THEN ' OCEAN stays blocked but pond counts'
         |                  ELSE '' END AS t2
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(t2, '[^A-Za-z0-9]+'), x -> x <> '')) AS raw
         |  FROM t),
         |m AS (SELECT doc_id, lower(raw) AS form FROM tok
         |  WHERE lower(raw) IN ('ocean', 'sea', 'lake', 'mud', 'garden', 'pond')
         |    AND $restrictedStopPredicate),
         |r AS (SELECT doc_id % 50 AS conv, envo FROM m JOIN fe USING (form)),
         |occ AS (SELECT conv, envo, CAST(count(*) AS DOUBLE) AS score FROM r GROUP BY 1, 2),
         |smp(sample, sidx) AS (VALUES ('s1', 1), ('s2', 2), ('s3', 3))
         |SELECT occ.envo, smp.sample,
         |       sum(occ.score * CAST((occ.conv * 3 + smp.sidx * 5) % 7 + 1 AS DOUBLE)) AS value
         |FROM occ CROSS JOIN smp
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "o3_cooccurrence_restricted" ->
      s"""WITH fe(form, envo) AS (VALUES
         |$restrictedFormEnvoValues),
         |ec(envo, curie) AS (VALUES
         |$restrictedEnvoCurieValues),
         |t AS (SELECT doc_id, text ||
         |  CASE doc_id % 5 WHEN 0 THEN ' the ocean meets the sea near the ocean'
         |                  WHEN 1 THEN ' mud by the lake and garden mud'
         |                  WHEN 2 THEN ' OCEAN stays blocked but pond counts'
         |                  ELSE '' END AS t2
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(t2, '[^A-Za-z0-9]+'), x -> x <> '')) AS raw
         |  FROM t),
         |m AS (SELECT doc_id, lower(raw) AS form FROM tok
         |  WHERE lower(raw) IN ('ocean', 'sea', 'lake', 'mud', 'garden', 'pond')
         |    AND $restrictedStopPredicate),
         |de AS (SELECT DISTINCT doc_id, envo FROM m JOIN fe USING (form)),
         |p AS (SELECT a.envo AS envo_a, b.envo AS envo_b, count(*) AS n_convs
         |  FROM de a JOIN de b ON a.doc_id = b.doc_id AND a.envo < b.envo
         |  GROUP BY 1, 2)
         |SELECT ca.curie AS subj, 'cooccurs_with' AS pred, cb.curie AS obj,
         |       CAST(n_convs AS DOUBLE) AS weight, n_convs AS evidence
         |FROM p JOIN ec ca ON ca.envo = p.envo_a JOIN ec cb ON cb.envo = p.envo_b
         |ORDER BY subj, obj""".stripMargin,
    "m1_media_features" ->
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  octet_length(encode(text)) AS n_bytes
        |FROM documents ORDER BY media_id""".stripMargin,
    "m3_video_frame_sample" ->
      """WITH v AS (SELECT doc_id AS media_id, octet_length(encode(text)) AS len
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT media_id,
        |  CASE WHEN len >= 32 THEN (len - 32) // 32 + 1
        |       WHEN len >= 1 THEN 1
        |       ELSE 0 END AS n_total
        |  FROM v)
        |SELECT media_id, CAST((n_total + 1) // 2 AS BIGINT) AS n_frames
        |FROM f WHERE n_total > 0 ORDER BY media_id""".stripMargin,
    "m2_media_payload_dedup" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 17 = 0 THEN 'DUP PAYLOAD' ELSE text END AS payload
        |  FROM documents)
        |SELECT md5(payload) AS payload_hash, min(media_id) AS keep_id, count(*) AS n_copies
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "m4_media_validate" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    CASE WHEN doc_id % 23 = 0 THEN 0 ELSE CAST(64 + doc_id % 512 AS INT) END AS width,
        |    CAST(64 + (doc_id * 7) % 512 AS INT) AS height,
        |    CASE WHEN doc_id % 37 = 0 THEN NULL
        |         WHEN doc_id % 41 = 0 THEN 12345
        |         ELSE ([8000, 16000, 44100, 48000])[CAST(doc_id % 4 AS INT) + 1] END AS sample_rate,
        |    CASE WHEN doc_id % 31 = 0 THEN -5 ELSE CAST(1000 + doc_id % 60000 AS INT) END AS duration_ms
        |  FROM documents),
        |v AS (SELECT *,
        |    CASE WHEN (kind IN ('image','video') AND (width IS NULL OR height IS NULL))
        |           OR (kind IN ('audio','video') AND duration_ms IS NULL)
        |           OR (kind = 'audio' AND sample_rate IS NULL) THEN 'missing_metadata'
        |         WHEN kind IN ('image','video') AND (width < 1 OR height < 1
        |           OR width > 16384 OR height > 16384) THEN 'bad_dims'
        |         WHEN kind IN ('audio','video') AND (duration_ms < 1
        |           OR duration_ms > 21600000) THEN 'bad_duration'
        |         WHEN kind = 'audio' AND sample_rate NOT IN
        |           (8000, 16000, 24000, 32000, 40000, 44100, 48000) THEN 'bad_sample_rate'
        |         ELSE NULL END AS reject_reason
        |  FROM m)
        |SELECT kind, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN reject_reason IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        |  CAST(sum(CASE WHEN reject_reason = 'bad_dims' THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_dims,
        |  CAST(sum(CASE WHEN reject_reason = 'bad_duration' THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_duration,
        |  CAST(sum(CASE WHEN reject_reason = 'bad_sample_rate' THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_rate,
        |  CAST(sum(CASE WHEN reject_reason = 'missing_metadata' THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_meta,
        |  min(CASE WHEN reject_reason IS NULL THEN duration_ms END) AS min_valid_duration_ms,
        |  max(CASE WHEN reject_reason IS NULL THEN duration_ms END) AS max_valid_duration_ms,
        |  max(width) AS max_width, max(height) AS max_height
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    "e1_cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |  list_aggregate([CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)
        |                  for i in range(1, len(q.embedding) + 1)], 'sum') /
        |  (sqrt(list_aggregate([CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)
        |                  for i in range(1, len(q.embedding) + 1)], 'sum')) *
        |   sqrt(list_aggregate([CAST(n.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)
        |                  for i in range(1, len(n.embedding) + 1)], 'sum'))) AS cosine
        |  FROM e q JOIN e n ON q.vec_id < 3 AND q.vec_id <> n.vec_id)
        |SELECT query_id, rank, neighbor_id, round(cosine, 6) AS cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM p)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "e2_cosine_neardup" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  list_aggregate([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
        |                  for i in range(1, len(a.embedding) + 1)], 'sum') /
        |  (sqrt(list_aggregate([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)
        |                  for i in range(1, len(a.embedding) + 1)], 'sum')) *
        |   sqrt(list_aggregate([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
        |                  for i in range(1, len(b.embedding) + 1)], 'sum'))) AS cosine
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, round(cosine, 6) AS cosine FROM p
        |WHERE cosine >= 0.38 ORDER BY vec_a, vec_b""".stripMargin,
    "d8_simhash_pairs" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |w AS (SELECT doc_id, tok, count(*) AS w,
        |    ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id, tok),
        |bits AS (SELECT doc_id, bit,
        |    sum(CASE WHEN ((h >> bit) & 1) = 1 THEN w ELSE -w END) AS s
        |  FROM w, range(0, 60) r(bit) GROUP BY 1, 2),
        |sh AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY 1),
        |ck AS (SELECT doc_id, simhash,
        |    CAST(chunk AS VARCHAR) || ':' ||
        |    CAST((simhash >> CAST(chunk * 15 AS INT)) & 32767 AS VARCHAR) AS ckey
        |  FROM sh, range(0, 4) c(chunk)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.simhash AS sh_a, b.simhash AS sh_b
        |  FROM ck a JOIN ck b ON a.ckey = b.ckey AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
        |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 12
        |ORDER BY doc_a, doc_b""".stripMargin,
    "e3_lsh_topk" ->
      s"""WITH planes(tbl, plane, comps) AS (VALUES
         |${lshPlaneValues()}),
         |e AS (SELECT vec_id, embedding FROM embeddings),
         |sgn AS (SELECT e.vec_id, p.tbl, p.plane,
         |  CASE WHEN list_aggregate([CAST(e.embedding[i] AS DOUBLE) * p.comps[i]
         |                            for i in range(1, len(e.embedding) + 1)], 'sum') >= 0
         |       THEN '1' ELSE '0' END AS s
         |  FROM e, planes p),
         |b AS (SELECT vec_id,
         |    't' || CAST(tbl AS VARCHAR) || ':' || string_agg(s, '' ORDER BY plane) AS bucket
         |  FROM sgn GROUP BY vec_id, tbl),
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
         |  FROM b q JOIN b n ON q.bucket = n.bucket AND q.vec_id < 3 AND q.vec_id <> n.vec_id),
         |sc AS (SELECT c.query_id, c.neighbor_id,
         |  list_aggregate([CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)
         |                  for i in range(1, len(q.embedding) + 1)], 'sum') /
         |  (sqrt(list_aggregate([CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)
         |                  for i in range(1, len(q.embedding) + 1)], 'sum')) *
         |   sqrt(list_aggregate([CAST(n.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)
         |                  for i in range(1, len(n.embedding) + 1)], 'sum'))) AS cosine
         |  FROM cand c JOIN e q ON q.vec_id = c.query_id JOIN e n ON n.vec_id = c.neighbor_id)
         |SELECT query_id, rank, neighbor_id, round(cosine, 6) AS cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM sc)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "e5_lsh_neardup" ->
      s"""WITH planes(tbl, plane, comps) AS (VALUES
         |${lshPlaneValues()}),
         |e AS (SELECT vec_id, embedding FROM embeddings),
         |sgn AS (SELECT e.vec_id, p.tbl, p.plane,
         |  CASE WHEN list_aggregate([CAST(e.embedding[i] AS DOUBLE) * p.comps[i]
         |                            for i in range(1, len(e.embedding) + 1)], 'sum') >= 0
         |       THEN '1' ELSE '0' END AS s
         |  FROM e, planes p),
         |b AS (SELECT vec_id,
         |    't' || CAST(tbl AS VARCHAR) || ':' || string_agg(s, '' ORDER BY plane) AS bucket
         |  FROM sgn GROUP BY vec_id, tbl),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
         |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
         |p AS (SELECT c.vec_a, c.vec_b,
         |  list_aggregate([CAST(va.embedding[i] AS DOUBLE) * CAST(vb.embedding[i] AS DOUBLE)
         |                  for i in range(1, len(va.embedding) + 1)], 'sum') /
         |  (sqrt(list_aggregate([CAST(va.embedding[i] AS DOUBLE) * CAST(va.embedding[i] AS DOUBLE)
         |                  for i in range(1, len(va.embedding) + 1)], 'sum')) *
         |   sqrt(list_aggregate([CAST(vb.embedding[i] AS DOUBLE) * CAST(vb.embedding[i] AS DOUBLE)
         |                  for i in range(1, len(vb.embedding) + 1)], 'sum'))) AS cosine
         |  FROM cand c JOIN e va ON va.vec_id = c.vec_a JOIN e vb ON vb.vec_id = c.vec_b)
         |SELECT vec_a, vec_b, round(cosine, 6) AS cosine FROM p
         |WHERE cosine >= 0.38 ORDER BY vec_a, vec_b""".stripMargin,
    "e4_ivf_topk" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |seeds AS (SELECT vec_id AS cell,
        |  [CAST(embedding[i] AS DOUBLE) /
        |   sqrt(list_aggregate([CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)
        |                        for j in range(1, len(embedding) + 1)], 'sum'))
        |   for i in range(1, len(embedding) + 1)] AS cv
        |  FROM e WHERE vec_id < 16),
        |ssc AS (SELECT e.vec_id, s.cell,
        |  list_aggregate([CAST(e.embedding[i] AS DOUBLE) * s.cv[i]
        |                  for i in range(1, len(e.embedding) + 1)], 'sum') AS s
        |  FROM e, seeds s),
        |assign0 AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY s DESC, cell DESC) AS rn FROM ssc) WHERE rn = 1),
        |sx AS (SELECT a.cell, e.embedding,
        |    unnest(generate_series(1, len(e.embedding))) AS dim
        |  FROM assign0 a JOIN e USING (vec_id)),
        |cellcnt AS (SELECT cell, count(*) AS n FROM assign0 GROUP BY cell),
        |sums AS (SELECT cell, dim,
        |    sum(CAST(round(CAST(embedding[dim] AS DOUBLE) * 1073741824.0) AS BIGINT)) AS fx
        |  FROM sx GROUP BY 1, 2),
        |means AS (SELECT s.cell,
        |    list(CAST(fx AS DOUBLE) / (CAST(c.n AS DOUBLE) * 1073741824.0) ORDER BY dim) AS mv
        |  FROM sums s JOIN cellcnt c USING (cell) GROUP BY s.cell, c.n),
        |refined AS (SELECT cell,
        |  CASE WHEN sqrt(list_aggregate([mv[j] * mv[j]
        |                                 for j in range(1, len(mv) + 1)], 'sum')) > 0
        |    THEN [mv[i] / sqrt(list_aggregate([mv[j] * mv[j]
        |                                       for j in range(1, len(mv) + 1)], 'sum'))
        |          for i in range(1, len(mv) + 1)]
        |    ELSE NULL END AS cv
        |  FROM means),
        |c AS (SELECT s.cell, COALESCE(r.cv, s.cv) AS cv
        |  FROM seeds s LEFT JOIN refined r USING (cell)),
        |sc AS (SELECT e.vec_id, c.cell,
        |  list_aggregate([CAST(e.embedding[i] AS DOUBLE) * c.cv[i]
        |                  for i in range(1, len(e.embedding) + 1)], 'sum') AS s
        |  FROM e, c),
        |assigned AS (SELECT vec_id AS neighbor_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY s DESC, cell DESC) AS rn FROM sc) WHERE rn = 1),
        |probe AS (SELECT vec_id AS query_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY s DESC, cell DESC) AS rn FROM sc WHERE vec_id < 3) WHERE rn <= 4),
        |cand AS (SELECT p.query_id, a.neighbor_id
        |  FROM probe p JOIN assigned a USING (cell) WHERE p.query_id <> a.neighbor_id),
        |co AS (SELECT c.query_id, c.neighbor_id,
        |  list_aggregate([CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)
        |                  for i in range(1, len(q.embedding) + 1)], 'sum') /
        |  (sqrt(list_aggregate([CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)
        |                  for i in range(1, len(q.embedding) + 1)], 'sum')) *
        |   sqrt(list_aggregate([CAST(n.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)
        |                  for i in range(1, len(n.embedding) + 1)], 'sum'))) AS cosine
        |  FROM cand c JOIN e q ON q.vec_id = c.query_id JOIN e n ON n.vec_id = c.neighbor_id)
        |SELECT query_id, rank, neighbor_id, round(cosine, 6) AS cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM co)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // e6: the e4 centroid CTEs verbatim (seed sample → one exact fixed-
    // point Lloyd step → refined quantizer) down to the cell assignment,
    // then within-cell pairs with the hand-rolled double cosine (e2 shape)
    // and the keep-first removal rule
    "e6_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |seeds AS (SELECT vec_id AS cell,
        |  [CAST(embedding[i] AS DOUBLE) /
        |   sqrt(list_aggregate([CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)
        |                        for j in range(1, len(embedding) + 1)], 'sum'))
        |   for i in range(1, len(embedding) + 1)] AS cv
        |  FROM e WHERE vec_id < 16),
        |ssc AS (SELECT e.vec_id, s.cell,
        |  list_aggregate([CAST(e.embedding[i] AS DOUBLE) * s.cv[i]
        |                  for i in range(1, len(e.embedding) + 1)], 'sum') AS s
        |  FROM e, seeds s),
        |assign0 AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY s DESC, cell DESC) AS rn FROM ssc) WHERE rn = 1),
        |sx AS (SELECT a.cell, e.embedding,
        |    unnest(generate_series(1, len(e.embedding))) AS dim
        |  FROM assign0 a JOIN e USING (vec_id)),
        |cellcnt AS (SELECT cell, count(*) AS n FROM assign0 GROUP BY cell),
        |sums AS (SELECT cell, dim,
        |    sum(CAST(round(CAST(embedding[dim] AS DOUBLE) * 1073741824.0) AS BIGINT)) AS fx
        |  FROM sx GROUP BY 1, 2),
        |means AS (SELECT s.cell,
        |    list(CAST(fx AS DOUBLE) / (CAST(c.n AS DOUBLE) * 1073741824.0) ORDER BY dim) AS mv
        |  FROM sums s JOIN cellcnt c USING (cell) GROUP BY s.cell, c.n),
        |refined AS (SELECT cell,
        |  CASE WHEN sqrt(list_aggregate([mv[j] * mv[j]
        |                                 for j in range(1, len(mv) + 1)], 'sum')) > 0
        |    THEN [mv[i] / sqrt(list_aggregate([mv[j] * mv[j]
        |                                       for j in range(1, len(mv) + 1)], 'sum'))
        |          for i in range(1, len(mv) + 1)]
        |    ELSE NULL END AS cv
        |  FROM means),
        |c AS (SELECT s.cell, COALESCE(r.cv, s.cv) AS cv
        |  FROM seeds s LEFT JOIN refined r USING (cell)),
        |sc AS (SELECT e.vec_id, c.cell,
        |  list_aggregate([CAST(e.embedding[i] AS DOUBLE) * c.cv[i]
        |                  for i in range(1, len(e.embedding) + 1)], 'sum') AS s
        |  FROM e, c),
        |assigned AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY s DESC, cell DESC) AS rn FROM sc) WHERE rn = 1),
        |n AS (SELECT vec_id, embedding,
        |  sqrt(list_aggregate([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        |                  for i in range(1, len(embedding) + 1)], 'sum')) AS nrm
        |  FROM e),
        |p AS (SELECT a1.vec_id AS vec_a, a2.vec_id AS vec_b,
        |  CASE WHEN na.nrm > 0 AND nb.nrm > 0 THEN
        |    list_aggregate([CAST(na.embedding[i] AS DOUBLE) * CAST(nb.embedding[i] AS DOUBLE)
        |                    for i in range(1, len(na.embedding) + 1)], 'sum')
        |      / (na.nrm * nb.nrm) END AS cosine
        |  FROM assigned a1 JOIN assigned a2 ON a1.cell = a2.cell AND a1.vec_id < a2.vec_id
        |  JOIN n na ON na.vec_id = a1.vec_id JOIN n nb ON nb.vec_id = a2.vec_id),
        |removed AS (SELECT DISTINCT vec_b AS vec_id FROM p WHERE cosine >= 0.38)
        |SELECT a.vec_id, a.cell,
        |       CAST(CASE WHEN r.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM assigned a LEFT JOIN removed r USING (vec_id)
        |ORDER BY a.vec_id""".stripMargin,
    // m5: stub-decoder features recomputed from the corpus — component d =
    // ('0x'||substr(md5(kind:payload:d),1,15))::BIGINT % 31 - 15, exactly
    // the Scala StubDecoder (integer-valued, so every product/sum below is
    // exact); then the SAME 4-table × 8-plane sign-bucket LSH as the
    // engine (planes as literal VALUES), hand-rolled double cosine as e2
    "m5_feature_neardup" ->
      s"""WITH m AS (SELECT doc_id AS media_id,
       |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       |    CASE WHEN doc_id % 17 = 0 THEN 'DUP PAYLOAD' ELSE text END AS payload
       |  FROM documents),
       |f AS (SELECT media_id,
       |    [CAST(('0x' || substr(md5(kind || ':' || payload || ':' || CAST(d AS VARCHAR)), 1, 15))::BIGINT % 31 - 15 AS DOUBLE)
       |     for d in range(0, 16)] AS feature
       |  FROM m),
       |planes(tbl, plane, comps) AS (VALUES
       |${lshPlaneValues(nTables = 4, nPlanes = 8, dim = 16)}),
       |sgn AS (SELECT f.media_id, p.tbl, p.plane,
       |  CASE WHEN list_aggregate([f.feature[i] * p.comps[i]
       |                            for i in range(1, 17)], 'sum') >= 0
       |       THEN '1' ELSE '0' END AS s
       |  FROM f, planes p),
       |b AS (SELECT media_id,
       |    't' || CAST(tbl AS VARCHAR) || ':' || string_agg(s, '' ORDER BY plane) AS bucket
       |  FROM sgn GROUP BY media_id, tbl),
       |cand AS (SELECT DISTINCT a.media_id AS media_a, b2.media_id AS media_b
       |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.media_id < b2.media_id),
       |n AS (SELECT media_id, feature,
       |    sqrt(list_aggregate([feature[i] * feature[i] for i in range(1, 17)], 'sum')) AS nrm
       |  FROM f),
       |p AS (SELECT c.media_a, c.media_b,
       |  CASE WHEN fa.nrm > 0 AND fb.nrm > 0 THEN
       |    list_aggregate([fa.feature[i] * fb.feature[i] for i in range(1, 17)], 'sum')
       |      / (fa.nrm * fb.nrm) END AS cosine
       |  FROM cand c JOIN n fa ON fa.media_id = c.media_a JOIN n fb ON fb.media_id = c.media_b)
       |SELECT media_a, media_b, round(cosine, 6) AS cosine FROM p
       |WHERE cosine >= 0.999 ORDER BY media_a, media_b""".stripMargin,
    // d24: rank = numeric source suffix (TRY_CAST('' ) is NULL on both
    // engines), keep-min over the packed (rank, doc_id) BIGINT — exact
    // integer arithmetic end to end; injection as m2
    "d24_priority_dedup" ->
      """WITH m AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 17 = 0 THEN 'DUP PAYLOAD' ELSE text END AS text
        |  FROM documents),
        |k AS (SELECT doc_id, source, md5(text) AS h,
        |  LEAST(COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT), 999999), 999999) AS src_rank
        |  FROM m),
        |p AS (SELECT *, src_rank * 1099511627776 + doc_id AS packed FROM k),
        |g AS (SELECT h, min(packed) AS kp, count(*) AS n_copies FROM p GROUP BY 1)
        |SELECT p.doc_id, p.source, p.src_rank,
        |  CAST(CASE WHEN p.packed = g.kp THEN 1 ELSE 0 END AS BIGINT) AS kept,
        |  g.kp % 1099511627776 AS kept_by, g.n_copies
        |FROM p JOIN g USING (h) ORDER BY p.doc_id""".stripMargin,
    // d25: same tokenization as d8, adjacent pairs via list comprehension,
    // deterministic top-K cut (count DESC, bigram ASC — bigrams unique
    // after the group, so the LIMIT boundary is total-ordered)
    "d25_bigram_vocab" ->
      """WITH t AS (SELECT list_filter(
        |    regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |p AS (SELECT unnest([toks[i] || ' ' || toks[i + 1]
        |                     for i in range(1, len(toks))]) AS bigram
        |  FROM t WHERE len(toks) >= 2)
        |SELECT bigram, count(*) AS n FROM p GROUP BY 1
        |ORDER BY n DESC, bigram ASC LIMIT 50""".stripMargin,
    // d27: the merge loop unrolled to 8 SQL rounds — see bpeOracleSql
    "d27_bpe_merges" -> bpeOracleSql(8),
    // d28: d27's CTE chain + the encode tail — see bpeEncodeOracleSql
    "d28_bpe_encode" -> bpeEncodeOracleSql(8),
    // o15: o3's injection/tagging/pair CTEs verbatim, plus the marginal
    // counts and the conversation total folded into the exact lift ratio
    // (BIGINT products < 2^53, one double division)
    "o15_cooc_lift" ->
      s"""WITH fe(form, envo) AS (VALUES
         |$restrictedFormEnvoValues),
         |ec(envo, curie) AS (VALUES
         |$restrictedEnvoCurieValues),
         |t AS (SELECT doc_id, text ||
         |  CASE doc_id % 5 WHEN 0 THEN ' the ocean meets the sea near the ocean'
         |                  WHEN 1 THEN ' mud by the lake and garden mud'
         |                  WHEN 2 THEN ' OCEAN stays blocked but pond counts'
         |                  ELSE '' END AS t2
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(t2, '[^A-Za-z0-9]+'), x -> x <> '')) AS raw
         |  FROM t),
         |m AS (SELECT doc_id, lower(raw) AS form FROM tok
         |  WHERE lower(raw) IN ('ocean', 'sea', 'lake', 'mud', 'garden', 'pond')
         |    AND $restrictedStopPredicate),
         |de AS (SELECT DISTINCT doc_id, envo FROM m JOIN fe USING (form)),
         |marg AS (SELECT envo, count(*) AS n FROM de GROUP BY 1),
         |tot AS (SELECT count(DISTINCT doc_id) AS nt FROM de),
         |p AS (SELECT a.envo AS envo_a, b.envo AS envo_b, count(*) AS n_convs
         |  FROM de a JOIN de b ON a.doc_id = b.doc_id AND a.envo < b.envo
         |  GROUP BY 1, 2)
         |SELECT ca.curie AS subj, cb.curie AS obj, p.n_convs,
         |  CAST(p.n_convs * tot.nt AS DOUBLE) / CAST(ma.n * mb.n AS DOUBLE) AS lift
         |FROM p CROSS JOIN tot
         |JOIN marg ma ON ma.envo = p.envo_a
         |JOIN marg mb ON mb.envo = p.envo_b
         |JOIN ec ca ON ca.envo = p.envo_a
         |JOIN ec cb ON cb.envo = p.envo_b
         |ORDER BY subj, obj""".stripMargin,
    // o16: o3's pair CTEs verbatim, both pair sides unioned into one
    // per-concept agg (sum cast to BIGINT — DuckDB's HUGEINT prints "1.0")
    "o16_concept_degrees" ->
      s"""WITH fe(form, envo) AS (VALUES
         |$restrictedFormEnvoValues),
         |ec(envo, curie) AS (VALUES
         |$restrictedEnvoCurieValues),
         |t AS (SELECT doc_id, text ||
         |  CASE doc_id % 5 WHEN 0 THEN ' the ocean meets the sea near the ocean'
         |                  WHEN 1 THEN ' mud by the lake and garden mud'
         |                  WHEN 2 THEN ' OCEAN stays blocked but pond counts'
         |                  ELSE '' END AS t2
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(t2, '[^A-Za-z0-9]+'), x -> x <> '')) AS raw
         |  FROM t),
         |m AS (SELECT doc_id, lower(raw) AS form FROM tok
         |  WHERE lower(raw) IN ('ocean', 'sea', 'lake', 'mud', 'garden', 'pond')
         |    AND $restrictedStopPredicate),
         |de AS (SELECT DISTINCT doc_id, envo FROM m JOIN fe USING (form)),
         |p AS (SELECT a.envo AS envo_a, b.envo AS envo_b, count(*) AS n_convs
         |  FROM de a JOIN de b ON a.doc_id = b.doc_id AND a.envo < b.envo
         |  GROUP BY 1, 2),
         |u AS (SELECT envo_a AS envo, n_convs FROM p
         |      UNION ALL SELECT envo_b AS envo, n_convs FROM p)
         |SELECT ec.curie, count(*) AS degree,
         |       CAST(sum(n_convs) AS BIGINT) AS pair_convs
         |FROM u JOIN ec USING (envo)
         |GROUP BY 1 ORDER BY curie""".stripMargin,
    // o19: the shared tagged-doc CTEs + a recursive-CTE min-hop walk over
    // the SAME literal edge set the Spark BFS consumes; depths and counts
    // are integers — exact on both engines
    "o19_concept_depth" ->
      s"""WITH RECURSIVE fe(form, envo) AS (VALUES
         |$restrictedFormEnvoValues),
         |ec(envo, curie) AS (VALUES
         |$restrictedEnvoCurieValues),
         |eg(child, parent) AS (VALUES
         |$depthEdgeValues),
         |t AS (SELECT doc_id, text ||
         |  CASE doc_id % 5 WHEN 0 THEN ' the ocean meets the sea near the ocean'
         |                  WHEN 1 THEN ' mud by the lake and garden mud'
         |                  WHEN 2 THEN ' OCEAN stays blocked but pond counts'
         |                  ELSE '' END AS t2
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(t2, '[^A-Za-z0-9]+'), x -> x <> '')) AS raw
         |  FROM t),
         |m AS (SELECT doc_id, lower(raw) AS form FROM tok
         |  WHERE lower(raw) IN ('ocean', 'sea', 'lake', 'mud', 'garden', 'pond')
         |    AND $restrictedStopPredicate),
         |de AS (SELECT DISTINCT doc_id, envo FROM m JOIN fe USING (form)),
         |walk(id, dpt) AS (
         |  SELECT 'ENVO:root', 0
         |  UNION
         |  SELECT eg.child, w.dpt + 1 FROM walk w JOIN eg ON eg.parent = w.id),
         |dep AS (SELECT id, min(dpt) AS depth FROM walk GROUP BY 1),
         |cnt AS (SELECT envo, count(*) AS n_docs FROM de GROUP BY 1)
         |SELECT ec.curie, dep.depth, cnt.n_docs
         |FROM cnt JOIN ec USING (envo) JOIN dep ON dep.id = ec.curie
         |ORDER BY curie""".stripMargin,
    // o18: the shared tagged-doc CTEs, a doc_id-derived day bucket, one
    // (envo, day) agg, and a lag window over the aggregated frame — all
    // integers, exact on both engines
    "o18_concept_trend" ->
      s"""WITH fe(form, envo) AS (VALUES
         |$restrictedFormEnvoValues),
         |ec(envo, curie) AS (VALUES
         |$restrictedEnvoCurieValues),
         |t AS (SELECT doc_id, text ||
         |  CASE doc_id % 5 WHEN 0 THEN ' the ocean meets the sea near the ocean'
         |                  WHEN 1 THEN ' mud by the lake and garden mud'
         |                  WHEN 2 THEN ' OCEAN stays blocked but pond counts'
         |                  ELSE '' END AS t2
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(t2, '[^A-Za-z0-9]+'), x -> x <> '')) AS raw
         |  FROM t),
         |m AS (SELECT doc_id, lower(raw) AS form FROM tok
         |  WHERE lower(raw) IN ('ocean', 'sea', 'lake', 'mud', 'garden', 'pond')
         |    AND $restrictedStopPredicate),
         |de AS (SELECT DISTINCT doc_id, envo FROM m JOIN fe USING (form)),
         |cd AS (SELECT doc_id, CAST(doc_id % 28 AS INTEGER) AS day FROM documents),
         |ct AS (SELECT envo, day, count(*) AS n FROM de JOIN cd USING (doc_id)
         |  GROUP BY 1, 2),
         |w AS (SELECT envo, day, n,
         |  COALESCE(lag(n) OVER (PARTITION BY envo ORDER BY day), 0) AS prev FROM ct)
         |SELECT ec.curie, w.day, CAST(w.n AS BIGINT) AS n_convs,
         |  CAST(w.n - w.prev AS BIGINT) AS delta
         |FROM w JOIN ec USING (envo)
         |ORDER BY curie, day""".stripMargin,
    // o17: o16's pair CTEs verbatim, then three integer power-iteration
    // steps (sums of integer products — exact in any order on both
    // engines) and the one exact double division for the share
    "o17_walk_centrality" ->
      s"""WITH fe(form, envo) AS (VALUES
         |$restrictedFormEnvoValues),
         |ec(envo, curie) AS (VALUES
         |$restrictedEnvoCurieValues),
         |t AS (SELECT doc_id, text ||
         |  CASE doc_id % 5 WHEN 0 THEN ' the ocean meets the sea near the ocean'
         |                  WHEN 1 THEN ' mud by the lake and garden mud'
         |                  WHEN 2 THEN ' OCEAN stays blocked but pond counts'
         |                  ELSE '' END AS t2
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(t2, '[^A-Za-z0-9]+'), x -> x <> '')) AS raw
         |  FROM t),
         |m AS (SELECT doc_id, lower(raw) AS form FROM tok
         |  WHERE lower(raw) IN ('ocean', 'sea', 'lake', 'mud', 'garden', 'pond')
         |    AND $restrictedStopPredicate),
         |de AS (SELECT DISTINCT doc_id, envo FROM m JOIN fe USING (form)),
         |p AS (SELECT a.envo AS envo_a, b.envo AS envo_b, count(*) AS n_convs
         |  FROM de a JOIN de b ON a.doc_id = b.doc_id AND a.envo < b.envo
         |  GROUP BY 1, 2),
         |e AS (SELECT envo_a AS src, envo_b AS dst, n_convs AS w FROM p
         |      UNION ALL SELECT envo_b, envo_a, n_convs FROM p),
         |x1 AS (SELECT src, CAST(sum(w) AS BIGINT) AS x FROM e GROUP BY 1),
         |x2 AS (SELECT e.src, CAST(sum(e.w * x1.x) AS BIGINT) AS x
         |  FROM e JOIN x1 ON x1.src = e.dst GROUP BY 1),
         |x3 AS (SELECT e.src, CAST(sum(e.w * x2.x) AS BIGINT) AS x
         |  FROM e JOIN x2 ON x2.src = e.dst GROUP BY 1),
         |tot AS (SELECT CAST(sum(x) AS BIGINT) AS wt FROM x3)
         |SELECT ec.curie, x1.x AS walk1, x2.x AS walk2, x3.x AS walk3,
         |  CAST(x3.x AS DOUBLE) / CAST(tot.wt AS DOUBLE) AS share
         |FROM x1 JOIN x2 USING (src) JOIN x3 USING (src) CROSS JOIN tot
         |JOIN ec ON ec.envo = x1.src
         |ORDER BY curie""".stripMargin,
    // e7: quantization (scale, round-half-away codes), code-cosine scan,
    // top-20 candidates, exact-cosine rerank (e1/e3 machinery) — every
    // step mirrored 1:1; code dots are integer-valued, exact in any order
    "e7_sq_topk" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |s AS (SELECT vec_id, embedding,
        |  list_aggregate([abs(CAST(embedding[i] AS DOUBLE))
        |                  for i in range(1, len(embedding) + 1)], 'max') / 127.0 AS scale
        |  FROM e),
        |cd AS (SELECT vec_id,
        |  CASE WHEN scale > 0
        |    THEN [round(CAST(embedding[i] AS DOUBLE) / scale)
        |          for i in range(1, len(embedding) + 1)]
        |    ELSE [0.0 for i in range(1, len(embedding) + 1)] END AS codes
        |  FROM s),
        |q AS (SELECT vec_id, codes,
        |  sqrt(list_aggregate([codes[i] * codes[i]
        |                       for i in range(1, len(codes) + 1)], 'sum')) AS qn
        |  FROM cd),
        |scan AS (SELECT qq.vec_id AS query_id, nn.vec_id AS neighbor_id,
        |  list_aggregate([qq.codes[i] * nn.codes[i]
        |                  for i in range(1, len(qq.codes) + 1)], 'sum') / (qq.qn * nn.qn) AS qcos
        |  FROM q qq JOIN q nn ON qq.vec_id < 3 AND qq.vec_id <> nn.vec_id
        |  WHERE qq.qn > 0 AND nn.qn > 0),
        |cand AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY qcos DESC, neighbor_id ASC) AS qrank FROM scan)
        |  WHERE qrank <= 20),
        |sc AS (SELECT c.query_id, c.neighbor_id,
        |  list_aggregate([CAST(qe.embedding[i] AS DOUBLE) * CAST(ne.embedding[i] AS DOUBLE)
        |                  for i in range(1, len(qe.embedding) + 1)], 'sum') /
        |  (sqrt(list_aggregate([CAST(qe.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE)
        |                  for i in range(1, len(qe.embedding) + 1)], 'sum')) *
        |   sqrt(list_aggregate([CAST(ne.embedding[i] AS DOUBLE) * CAST(ne.embedding[i] AS DOUBLE)
        |                  for i in range(1, len(ne.embedding) + 1)], 'sum'))) AS cosine
        |  FROM cand c JOIN e qe ON qe.vec_id = c.query_id
        |  JOIN e ne ON ne.vec_id = c.neighbor_id)
        |SELECT query_id, rank, neighbor_id, round(cosine, 6) AS cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM sc)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // e8: e4's refined-quantizer CTEs verbatim (seed sample → one exact
    // fixed-point Lloyd step → cell assignment + nprobe probing), e7's
    // quantization CTEs verbatim (scale, round-half-away codes), then the
    // cell-restricted code-cosine scan, top-20 candidates, exact rerank —
    // every arithmetic step already proven by the e4/e7 oracles
    "e8_ivf_sq_topk" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |seeds AS (SELECT vec_id AS cell,
        |  [CAST(embedding[i] AS DOUBLE) /
        |   sqrt(list_aggregate([CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)
        |                        for j in range(1, len(embedding) + 1)], 'sum'))
        |   for i in range(1, len(embedding) + 1)] AS cv
        |  FROM e WHERE vec_id < 16),
        |ssc AS (SELECT e.vec_id, s.cell,
        |  list_aggregate([CAST(e.embedding[i] AS DOUBLE) * s.cv[i]
        |                  for i in range(1, len(e.embedding) + 1)], 'sum') AS s
        |  FROM e, seeds s),
        |assign0 AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY s DESC, cell DESC) AS rn FROM ssc) WHERE rn = 1),
        |sx AS (SELECT a.cell, e.embedding,
        |    unnest(generate_series(1, len(e.embedding))) AS dim
        |  FROM assign0 a JOIN e USING (vec_id)),
        |cellcnt AS (SELECT cell, count(*) AS n FROM assign0 GROUP BY cell),
        |sums AS (SELECT cell, dim,
        |    sum(CAST(round(CAST(embedding[dim] AS DOUBLE) * 1073741824.0) AS BIGINT)) AS fx
        |  FROM sx GROUP BY 1, 2),
        |means AS (SELECT s.cell,
        |    list(CAST(fx AS DOUBLE) / (CAST(c.n AS DOUBLE) * 1073741824.0) ORDER BY dim) AS mv
        |  FROM sums s JOIN cellcnt c USING (cell) GROUP BY s.cell, c.n),
        |refined AS (SELECT cell,
        |  CASE WHEN sqrt(list_aggregate([mv[j] * mv[j]
        |                                 for j in range(1, len(mv) + 1)], 'sum')) > 0
        |    THEN [mv[i] / sqrt(list_aggregate([mv[j] * mv[j]
        |                                       for j in range(1, len(mv) + 1)], 'sum'))
        |          for i in range(1, len(mv) + 1)]
        |    ELSE NULL END AS cv
        |  FROM means),
        |c AS (SELECT s.cell, COALESCE(r.cv, s.cv) AS cv
        |  FROM seeds s LEFT JOIN refined r USING (cell)),
        |csc AS (SELECT e.vec_id, c.cell,
        |  list_aggregate([CAST(e.embedding[i] AS DOUBLE) * c.cv[i]
        |                  for i in range(1, len(e.embedding) + 1)], 'sum') AS s
        |  FROM e, c),
        |assigned AS (SELECT vec_id AS neighbor_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY s DESC, cell DESC) AS rn FROM csc) WHERE rn = 1),
        |probe AS (SELECT vec_id AS query_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY s DESC, cell DESC) AS rn FROM csc WHERE vec_id < 3) WHERE rn <= 4),
        |s AS (SELECT vec_id, embedding,
        |  list_aggregate([abs(CAST(embedding[i] AS DOUBLE))
        |                  for i in range(1, len(embedding) + 1)], 'max') / 127.0 AS scale
        |  FROM e),
        |cd AS (SELECT vec_id,
        |  CASE WHEN scale > 0
        |    THEN [round(CAST(embedding[i] AS DOUBLE) / scale)
        |          for i in range(1, len(embedding) + 1)]
        |    ELSE [0.0 for i in range(1, len(embedding) + 1)] END AS codes
        |  FROM s),
        |q AS (SELECT vec_id, codes,
        |  sqrt(list_aggregate([codes[i] * codes[i]
        |                       for i in range(1, len(codes) + 1)], 'sum')) AS qn
        |  FROM cd),
        |scan AS (SELECT p.query_id, a.neighbor_id,
        |  list_aggregate([qq.codes[i] * nn.codes[i]
        |                  for i in range(1, len(qq.codes) + 1)], 'sum') / (qq.qn * nn.qn) AS qcos
        |  FROM probe p JOIN assigned a USING (cell)
        |  JOIN q qq ON qq.vec_id = p.query_id
        |  JOIN q nn ON nn.vec_id = a.neighbor_id
        |  WHERE p.query_id <> a.neighbor_id AND qq.qn > 0 AND nn.qn > 0),
        |cand AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY qcos DESC, neighbor_id ASC) AS qrank FROM scan)
        |  WHERE qrank <= 20),
        |co AS (SELECT c2.query_id, c2.neighbor_id,
        |  list_aggregate([CAST(qe.embedding[i] AS DOUBLE) * CAST(ne.embedding[i] AS DOUBLE)
        |                  for i in range(1, len(qe.embedding) + 1)], 'sum') /
        |  (sqrt(list_aggregate([CAST(qe.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE)
        |                  for i in range(1, len(qe.embedding) + 1)], 'sum')) *
        |   sqrt(list_aggregate([CAST(ne.embedding[i] AS DOUBLE) * CAST(ne.embedding[i] AS DOUBLE)
        |                  for i in range(1, len(ne.embedding) + 1)], 'sum'))) AS cosine
        |  FROM cand c2 JOIN e qe ON qe.vec_id = c2.query_id
        |  JOIN e ne ON ne.vec_id = c2.neighbor_id)
        |SELECT query_id, rank, neighbor_id, round(cosine, 6) AS cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM co)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
}
