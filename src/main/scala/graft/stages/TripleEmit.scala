package graft.stages

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dict.EnvoDict

/**
 * Stage 4 — KG materialization: (subj, pred, obj) triples + concept
 * co-occurrence edges.
 *
 * Triple families (north rule: pred ∈ annotated_with / mentions /
 * derives_from):
 *  - annotated_with: conv_id -> concept, weighted by the link score — the
 *    analog of the reference's seq×concept matrix rows
 *    (seqenv/outputs.py:53-65) and flat concept list (outputs.py:126-149);
 *  - mentions: conv_id:turn_idx -> concept, one per detected mention-concept
 *    pair (per-turn provenance the reference keeps as GI lists);
 *  - ontology edges (derives_from / is_a / part_of …): static concept->
 *    concept edges from the OBO DAG (seqenv/ontology.py:88-97), emitted once.
 *
 * Evidence per (conv, concept): number of supporting turns + a CAPPED sample
 * of turn indexes — the reference collects the full GI list per concept
 * (outputs.py:133-148); at 10^12 turns an uncapped collect_set on a
 * mega-conversation is an OOM, so we keep the count exact and the list
 * bounded (sorted, first `evidenceCap`).
 */
object TripleEmit {

  val PredAnnotated = "annotated_with"
  val PredMentions = "mentions"
  val PredCoOccurs = "cooccurs_with"

  /** Co-occurrence edges as canonical triples (CURIE subj/obj, weight =
    * number of conversations sharing the pair). */
  def coOccurrenceTriples(spark: SparkSession, cooc: DataFrame, dict: EnvoDict): DataFrame = {
    val dim = Canonicalize.conceptFrame(spark, dict).select("envo", "curie")
    cooc
      .join(broadcast(dim.toDF("envo_a", "curie_a")), "envo_a")
      .join(broadcast(dim.toDF("envo_b", "curie_b")), "envo_b")
      .select(col("curie_a").as("subj"), lit(PredCoOccurs).as("pred"),
        col("curie_b").as("obj"), col("n_convs").cast("double").as("weight"),
        col("n_convs").as("evidence"))
  }

  /** scores(conv_id, envo, score) × concept dim -> annotated_with triples
    * with exact supporting-turn counts: the scores left-joined to the one
    * evidence aggregation (LinkScore.evidence). A scored concept no
    * occurrence row supports (a backtracking ancestor) gets evidence 0 and
    * a NULL sample. */
  def annotatedWith(spark: SparkSession, scores: DataFrame, envoRows: DataFrame,
                    dict: EnvoDict, evidenceCap: Int = 20): DataFrame = {
    val support = LinkScore.evidence(spark, envoRows, evidenceCap)
    annotatedFromFused(spark, scores.join(support, Seq("conv_id", "envo"), "left"), dict)
  }

  /** annotated_with triples from a (conv_id, envo, score, n_turns,
    * turn_sample) frame — the FUSED scorer's output
    * (LinkScore.scoreWithEvidence) as is, or annotatedWith's join. */
  def annotatedFromFused(spark: SparkSession, fused: DataFrame, dict: EnvoDict): DataFrame =
    Canonicalize.canonicalize(spark, fused, dict)
      .select(
        col("conv_id").as("subj"),
        lit(PredAnnotated).as("pred"),
        col("curie").as("obj"),
        col("score").as("weight"),
        coalesce(col("n_turns"), lit(0L)).as("evidence"),
        col("name"),
        col("turn_sample"))

  /** envo-occurrence rows -> one `mentions` triple per (turn, concept). */
  def mentionTriples(spark: SparkSession, envoRows: DataFrame, dict: EnvoDict): DataFrame =
    Canonicalize.canonicalize(
      spark,
      envoRows.select(
        col("conv_id"), col("turn_idx"), col("envo"),
        col("start"), col("end"), col("form")),
      dict)
      .select(
        concat_ws(":", col("conv_id"), col("turn_idx")).as("subj"),
        lit(PredMentions).as("pred"),
        col("curie").as("obj"),
        lit(1.0).as("weight"),
        lit(1L).as("evidence"),
        col("name"),
        col("form"), col("start"), col("end"))

  /** The canonical-sink projection of the mention family: same
    * (subj, pred, obj, weight, evidence) rows as `mentionTriples`, built
    * from (conv_id, turn_idx, envo) alone — columns the pipeline's conv_id
    * partcache holds on every config. Span provenance (start, end, form)
    * is intentionally absent: allTriples never reads it. */
  def mentionTriplesThin(spark: SparkSession, envoRows: DataFrame, dict: EnvoDict): DataFrame =
    Canonicalize.canonicalize(
      spark,
      envoRows.select(col("conv_id"), col("turn_idx"), col("envo")),
      dict)
      .select(
        concat_ws(":", col("conv_id"), col("turn_idx")).as("subj"),
        lit(PredMentions).as("pred"),
        col("curie").as("obj"),
        lit(1.0).as("weight"),
        lit(1L).as("evidence"))

  /** Static concept→concept KG edges, emitted once per build:
    *  - the OBO's typed direct edges (is_a / part_of / located_in /
    *    derives_from / adjacent_to / …, seqenv/ontology.py:88-97);
    *  - the ancestor closure as `descends_from` edges (the relation the
    *    scorer's backtracking/restrict stages consume — envo_groups.tsv). */
  def ontologyTriples(spark: SparkSession, dict: EnvoDict): DataFrame = {
    import spark.implicits._
    val onto = graft.dict.Obo.parseResource()
    val typed = onto.edges.map(e => (e.child, e.rel, e.parent))
    val closure = dict.closure.toSeq.sortBy(_._1)
      .flatMap { case (c, ancs) =>
        val cc = dict.intToCurie.get(c)
        ancs.flatMap(a => dict.intToCurie.get(a).flatMap(ac => cc.map(x => (x, "descends_from", ac))))
      }
    (typed ++ closure)
      .toDF("subj", "pred", "obj")
      .select(col("subj"), col("pred"), col("obj"),
        lit(1.0).as("weight"), lit(1L).as("evidence"))
  }

  /** Per-conversation ontology subgraph (the KG-table replacement for the
    * reference's per-seq graphviz renders, seqenv/outputs.py:176-197 /
    * SURVEY S11): for each conversation, the direct is_a/part_of edges of
    * the closure restricted to its annotated concepts plus their ancestors.
    * Output: (conv_id, child_curie, rel, parent_curie). Node sets are
    * bounded by |EnvO| per conversation. */
  def convSubgraphs(spark: SparkSession, scores: DataFrame, dict: EnvoDict): DataFrame = {
    import spark.implicits._
    val onto = graft.dict.Obo.parseResource()
    // direct closure-relevant edges with integer endpoints
    val edges = onto.edges
      .filter(e => e.rel == "is_a" || e.rel == "part_of")
      .flatMap { e =>
        for {
          c <- EnvoDict.curieToInt(e.child)
          p <- EnvoDict.curieToInt(e.parent)
        } yield (c, e.rel, p)
      }.toDF("child", "rel", "parent")
    val closureDf = LinkScore.closureFrame(spark, dict)

    val annotated = scores.select(col("conv_id"), col("envo")).distinct()
    val ancestors = annotated
      .join(broadcast(closureDf), col("envo") === col("child"))
      .select(col("conv_id"), col("ancestor").as("envo"))
    val nodes = annotated.unionByName(ancestors).distinct()

    nodes
      .join(broadcast(edges), col("envo") === col("child"))
      .select(col("conv_id"), col("child"), col("rel"), col("parent"))
      .join(nodes.toDF("conv_id", "parent"), Seq("conv_id", "parent"), "left_semi")
      .join(broadcast(Canonicalize.conceptFrame(spark, dict).select(
        col("envo").as("child"), col("curie").as("child_curie"))), "child")
      .join(broadcast(Canonicalize.conceptFrame(spark, dict).select(
        col("envo").as("parent"), col("curie").as("parent_curie"))), "parent")
      .select("conv_id", "child_curie", "rel", "parent_curie")
  }

  /** Per-conversation Graphviz DOT sources — the render-ready form of
    * `convSubgraphs` (the reference renders per-seq subgraphs with pygraphviz,
    * seqenv/outputs.py:176-225; here the DOT text itself is a column, built
    * with codegen'd string/agg functions and NO driver collect — any
    * graphviz binary renders the sources downstream). One (conv_id, dot)
    * row per conversation; edge and label lines are sorted so the output
    * is deterministic. */
  def dotSources(spark: SparkSession, subgraphs: DataFrame, dict: EnvoDict): DataFrame = {
    val names = Canonicalize.conceptFrame(spark, dict)
      // names can never break the quoting: strip the one DOT-hostile char
      .select(col("curie"), regexp_replace(col("name"), "\"", "'").as("name"))
    val withNames = subgraphs
      .join(broadcast(names.toDF("child_curie", "child_name")), "child_curie")
      .join(broadcast(names.toDF("parent_curie", "parent_name")), "parent_curie")
    val edgeLine = concat(lit("  \""), col("child_curie"), lit("\" -> \""),
      col("parent_curie"), lit("\" [label=\""), col("rel"), lit("\"];"))
    def labelLine(curie: org.apache.spark.sql.Column, name: org.apache.spark.sql.Column) =
      concat(lit("  \""), curie, lit("\" [label=\""), name, lit("\"];"))
    withNames
      .select(col("conv_id"), edgeLine.as("line"),
        array(labelLine(col("child_curie"), col("child_name")),
          labelLine(col("parent_curie"), col("parent_name"))).as("labels"))
      .groupBy("conv_id")
      .agg(
        array_sort(collect_set(col("line"))).as("edges"),
        array_sort(array_distinct(flatten(collect_list(col("labels"))))).as("nodes"))
      .select(col("conv_id"),
        concat(lit("digraph envo {\n  rankdir=BT;\n"),
          concat_ws("\n", col("nodes")), lit("\n"),
          concat_ws("\n", col("edges")), lit("\n}")).as("dot"))
  }

  /** Concept co-occurrence edges: for each conversation, every unordered
    * pair of DISTINCT concepts it is annotated with; edge weight = number of
    * conversations sharing the pair. Distinct-first keeps the self-join
    * bounded by |EnvO| per conversation (≤1640), independent of turn count —
    * the skew guard for mega-conversations. SHUFFLE_HASH avoids the double
    * sort a sort-merge self-join would pay (measured ~2× on 3.5M rows; an
    * array-comprehension pair expansion is worse — higher-order transforms
    * are interpreted, not codegen'd). */
  def coOccurrence(scores: DataFrame, assumeDistinct: Boolean = false): DataFrame = {
    // LinkScore's output is already unique on (conv_id, envo) — it IS a
    // groupBy over those keys — so the pipeline passes assumeDistinct=true
    // and skips a full exchange+agg of the scores frame that is a semantic
    // no-op (measured ~40% of the co-occurrence stage at the 2× corpus).
    // The default stays safe for arbitrary callers.
    val d =
      if (assumeDistinct) scores.select("conv_id", "envo")
      else scores.select("conv_id", "envo").distinct()
    val a = d.toDF("conv_id", "envo_a")
    val b = d.toDF("conv_id", "envo_b")
    a.hint("shuffle_hash").join(b, Seq("conv_id"))
      .filter(col("envo_a") < col("envo_b"))
      .groupBy("envo_a", "envo_b")
      .agg(count(lit(1)).as("n_convs"))
  }

  /** o16 — the graph summary the reference renders visually
    * (seqenv/outputs.py draws the concept graph; this emits its node
    * table): per-concept degree (distinct co-occurring partners) and
    * strength (total pair-conversation count across those partners) from
    * the canonical-order pair frame. `pairs` is a coOccurrence output —
    * bounded ≤ |EnvO|² rows — so everything here (the two-sided union, the
    * agg, the broadcast dim join) is model-state-sized; nothing touches
    * the corpus again. */
  def conceptDegrees(spark: SparkSession, pairs: DataFrame, dict: EnvoDict): DataFrame = {
    val sides = pairs.select(col("envo_a").as("envo"), col("n_convs"))
      .unionAll(pairs.select(col("envo_b").as("envo"), col("n_convs")))
    val dim = Canonicalize.conceptFrame(spark, dict).select("envo", "curie")
    sides.groupBy("envo")
      .agg(count(lit(1)).as("degree"), sum("n_convs").as("pair_convs"))
      .join(broadcast(dim), "envo")
      .select(col("curie"), col("degree"), col("pair_convs"))
  }

  /** o15 — association strength for each co-occurring concept pair:
    * lift = P(a,b) / (P(a)·P(b)) = n_ab·N / (n_a·n_b) over conversations
    * (N = conversations with ≥1 scored concept). lift > 1 means the pair
    * co-occurs more than independence predicts; PMI is ln(lift), monotone
    * in it — the ratio is emitted instead of the log because one exact
    * double division is bit-identical across engines while ln is only
    * faithfully rounded per libm (the repo's exact-numerics rule).
    *
    * Scale shape: the distinct (conv, envo) frame feeds the pair join
    * (twice) and the marginals, so it is persisted; marginals and the
    * scalar total are |EnvO|-bounded and broadcast back onto the pair
    * counts — nothing after the coOccurrence agg shuffles the corpus.
    * All integer products stay < 2^53, exact as doubles. */
  def coOccurrenceLift(spark: SparkSession, scores: DataFrame, dict: EnvoDict,
                       assumeDistinct: Boolean = false): DataFrame = {
    val d0 =
      if (assumeDistinct) scores.select("conv_id", "envo")
      else scores.select("conv_id", "envo").distinct()
    val d = d0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = coOccurrence(d, assumeDistinct = true)
    val marg = d.groupBy("envo").agg(count(lit(1)).as("n"))
    val total = d.agg(countDistinct("conv_id").as("n_total"))
    val dim = Canonicalize.conceptFrame(spark, dict).select("envo", "curie")
    pairs
      .join(broadcast(marg.toDF("envo_a", "n_a")), "envo_a")
      .join(broadcast(marg.toDF("envo_b", "n_b")), "envo_b")
      .crossJoin(broadcast(total))
      .join(broadcast(dim.toDF("envo_a", "curie_a")), "envo_a")
      .join(broadcast(dim.toDF("envo_b", "curie_b")), "envo_b")
      .select(
        col("curie_a").as("subj"), col("curie_b").as("obj"),
        col("n_convs"),
        ((col("n_convs") * col("n_total")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
  }

  /** o18 — concept trend over time: per-(concept, day) distinct-conversation
    * counts with the previous-day delta — the drift monitor over the KG
    * (which environment concepts are rising or falling across the corpus
    * timeline). `convDays` maps each conversation to ONE orderable bucket
    * (a date, a day index — the op is type-agnostic); callers derive it
    * from turn timestamps (e.g. `to_date(min(ts))` per conversation).
    *
    * Scale shape: the (conv, envo) × (conv, day) join is conv_id-keyed —
    * partition-LOCAL under the pipeline's conv_id layout — and the window
    * runs over the AGGREGATED (envo, day) frame (≤ |EnvO|·days rows, the
    * two-level-agg rule: never a window over raw occurrences). Counts and
    * deltas are integers — exact on both engines. */
  def conceptTrend(spark: SparkSession, scores: DataFrame, convDays: DataFrame,
                   dict: EnvoDict, assumeDistinct: Boolean = false): DataFrame = {
    val d =
      if (assumeDistinct) scores.select("conv_id", "envo")
      else scores.select("conv_id", "envo").distinct()
    val counts = d.join(convDays.select("conv_id", "day"), "conv_id")
      .groupBy("envo", "day")
      .agg(count(lit(1)).as("n_convs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("envo").orderBy("day")
    val dim = Canonicalize.conceptFrame(spark, dict).select("envo", "curie")
    counts
      .withColumn("prev", coalesce(lag("n_convs", 1).over(w), lit(0L)))
      .join(broadcast(dim), "envo")
      .select(col("curie"), col("day"), col("n_convs"),
        (col("n_convs") - col("prev")).as("delta"))
  }

  /** o17 — walk centrality over the concept co-occurrence graph: the
    * un-normalized power iteration x_{k+1} = A·x_k from x_0 = 1, where A is
    * the symmetric pair-conversation weight matrix. walk_k(v) counts the
    * weighted k-step walks ending at v, and walk_3/Σwalk_3 converges on
    * eigenvector centrality — which concepts sit at the hub of the KG.
    * Kept UN-normalized on purpose: every iterate is an exact integer
    * (bit-identical under any summation order, the repo's exact-numerics
    * rule), and the only division is the final share — one exact double op.
    *
    * Scale shape: `pairs` is a coOccurrence output, bounded ≤ |EnvO|² rows,
    * so the edge frame is model-state-sized (persisted — it feeds every
    * iteration) and each iteration is one broadcast join + one tiny agg;
    * nothing here re-touches the corpus. Iterations are capped: the
    * iterates grow like (|EnvO|·w_max)^k and must stay well under 2^63 —
    * and because the session runs ANSI mode, an extreme-scale overflow
    * throws loudly instead of silently wrapping (drop `iters` then). */
  def walkCentrality(spark: SparkSession, pairs: DataFrame, dict: EnvoDict,
                     iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 6,
      s"walkCentrality needs 1 <= iters <= 6 (integer overflow bound), got $iters")
    val edges = pairs.select(
        col("envo_a").as("src"), col("envo_b").as("dst"), col("n_convs").as("w"))
      .unionAll(pairs.select(
        col("envo_b").as("src"), col("envo_a").as("dst"), col("n_convs").as("w")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // x_1 = A·1; x_{k+1} = A·x_k. Positive weights + symmetric edges mean
    // every node with an edge appears in every iterate (inner joins safe).
    val iterates = Iterator.iterate(
        edges.groupBy("src").agg(sum("w").as("x"))) { x =>
      edges.join(broadcast(x.toDF("dst", "px")), "dst")
        .groupBy("src").agg(sum(col("w") * col("px")).as("x"))
    }.take(iters).toSeq
    val named = iterates.zipWithIndex.map { case (x, i) =>
      x.toDF("src", s"walk${i + 1}")
    }
    val joined = named.reduce(_.join(_, "src"))
    val last = s"walk$iters"
    val total = named.last.agg(sum(last).as("walk_total"))
    val dim = Canonicalize.conceptFrame(spark, dict).select("envo", "curie")
    joined
      .crossJoin(broadcast(total))
      .join(broadcast(dim.withColumnRenamed("envo", "src")), "src")
      .select(col("curie") +: (1 to iters).map(i => col(s"walk$i")) :+
        (col(last).cast("double") / col("walk_total").cast("double")).as("share"): _*)
  }
}
