package graft

import graft.tools.CurateCli

/** The end-to-end curation funnel: monotone, deterministic, and each gate
  * provably bites on the driver testdata. */
class CurateSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("curation funnel is monotone decreasing and deterministic") {
    val out1 = java.nio.file.Files.createTempDirectory("graft-curate1").toString
    // the session is shared with earlier suites: start from an empty cache
    // and count only the RDDs registered during the run, so the checks
    // below see what the funnel leaves and nothing else
    spark.catalog.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val f1 = CurateCli.run(spark, dir, out1)
    assert(spark.sharedState.cacheManager.isEmpty, "the funnel left cached frames")
    val leftRdds = spark.sparkContext.getPersistentRDDs -- rddsBefore
    assert(leftRdds.isEmpty, s"the funnel left persisted RDDs registered: " +
      leftRdds.values.map(r => s"${r.id}:${r.getClass.getSimpleName}").mkString(", "))
    val stages = f1.map(_._1)
    assert(stages === Seq("input", "priority_dedup", "exact_dedup", "near_dedup",
      "decontaminate", "quality_gate", "lang_gate", "classifier_gate",
      "mixture_sample", "stratified_sample", "boilerplate_strip", "chunks",
      "split_train", "split_eval"))
    val byName = f1.toMap
    // doc-id stages only (chunking legitimately multiplies rows; the
    // terminal split PARTITIONS the strip survivors rather than gating)
    val docStages = f1.dropRight(3).map(_._2)
    assert(docStages === docStages.zip(docStages.head +: docStages).map(x => math.min(x._1, x._2)),
      s"funnel must be monotone: $f1")
    assert(byName("chunks") > 0, "survivors must produce chunks")
    // every gate with a configured bite actually dropped something (the
    // testdata has no exact/cross-source duplicates, so near-dup is the
    // first real bite)
    assert(byName("near_dedup") < byName("exact_dedup"), "near-dup clusters should drop members")
    assert(byName("decontaminate") < byName("near_dedup"), "benchmark removal should drop rows")
    assert(byName("classifier_gate") < byName("lang_gate"), "classifier should drop rows")
    assert(byName("mixture_sample") < byName("classifier_gate"), "mixture budget should drop rows")
    assert(byName("stratified_sample") < byName("mixture_sample"), "en downsample should drop rows")
    // the terminal split partitions the strip survivors exactly
    assert(byName("split_train") + byName("split_eval") === byName("boilerplate_strip"),
      s"split must partition the strip survivors: $f1")
    assert(byName("split_train") > 0 && byName("split_eval") > 0,
      "both split sides should be populated at trainFrac=0.75")

    val out2 = java.nio.file.Files.createTempDirectory("graft-curate2").toString
    val f2 = CurateCli.run(spark, dir, out2)
    assert(f1 === f2, "funnel must be rerun-deterministic")

    // no funnel cache outlives the run: lookup by canonicalized plan — if
    // run() leaked the corpus, a stage frame (input = corpus.select), or
    // the signal frame, these rebuilt twins would still hit the cache
    import graft.ops.DocOps
    val cm = spark.sharedState.cacheManager
    val corpusTwin = DocOps.curationFrame(spark, dir)
    def cached(df: org.apache.spark.sql.DataFrame) =
      cm.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    assert(cached(corpusTwin).isEmpty, "corpus frame leaked")
    assert(cached(corpusTwin.select("doc_id")).isEmpty,
      "funnel stage frame leaked")
    assert(cached(DocOps.gateSignalsOf(corpusTwin)).isEmpty,
      "gate-signal frame leaked")

    // surviving chunks reference only post-strip surviving docs
    val chunkDocs = spark.read.parquet(s"$out1/chunks")
      .select("doc_id").distinct().count()
    assert(chunkDocs === byName("boilerplate_strip"))

    // the written split assignment: near-dup classes never straddle it —
    // every doc in a cluster carries its representative's side
    val splitRows = spark.read.parquet(s"$out1/split")
      .select("doc_id", "representative", "split").collect()
    assert(splitRows.length === byName("boilerplate_strip"))
    val repSide = splitRows.groupBy(_.getLong(1)).view.mapValues(_.map(_.getString(2)).toSet)
    repSide.foreach { case (rep, sides) =>
      assert(sides.size === 1, s"cluster $rep straddles the split: $sides")
    }
  }

  test("exact stage keeps the d24 survivor when best rank != min doc_id") {
    import spark.implicits._
    // a cross-source duplicate class whose best-ranked copy (src2, doc 101)
    // is NOT the min-doc_id copy (doc 100): the pre-r7 funnel intersected
    // d24's keep with a FULL-corpus d1 keep-min and silently dropped every
    // copy of such a class — the exact stage must run over the survivors
    val tmp = java.nio.file.Files.createTempDirectory("graft-curate-dup").toString
    Seq(
      (100L, "the dup payload content words here", "en", "src9"),
      (101L, "the dup payload content words here", "en", "src2"),
      (102L, "a perfectly unique other document text", "en", "src1"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = java.nio.file.Files.createTempDirectory("graft-curate-dup-out").toString
    val f = CurateCli.run(spark, tmp, out).toMap
    assert(f("priority_dedup") === 2, "d24 keeps the src2 copy + the unique doc")
    assert(f("exact_dedup") === 2,
      "exact stage must keep the d24 survivor of the duplicate class")
  }

  test("gate signals: one corpus scan serves all three projection gates") {
    import org.apache.spark.sql.functions._
    import graft.ops.DocOps
    val signals = DocOps.gateSignals(spark, dir).persist()
    try {
      signals.count() // materialize the cache
      val q = signals.filter(col("quality") >= 0.5).select("doc_id")
      val l = signals.filter(col("pred_lang") =!= "und").select("doc_id")
      val s = signals.filter(col("bucket") < DocOps.sampleCut(Map("en" -> 0.25)))
        .select("doc_id")
      // every LEAF of the combined gate plan must be the cached signals —
      // a FileSourceScan leaf would mean a gate re-scans the corpus (the
      // cached relation's printed description still embeds the original
      // scan text, so check node types, not the plan string).
      // AdaptiveSparkPlanExec is itself a LeafExecNode (and since the r7
      // scan fan-out the cached signals' lineage carries an Exchange, so
      // the union IS AQE-wrapped) — descend it like the funnel leaf test
      def realLeaves(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          realLeaves(a.executedPlan)
        case leaf if leaf.children.isEmpty => Seq(leaf)
        case n => n.children.flatMap(realLeaves)
      }
      val leaves = realLeaves(q.union(l).union(s).queryExecution.executedPlan)
      assert(leaves.nonEmpty && leaves.forall(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]),
        s"all three gates must read the cached signals, not re-scan parquet: $leaves")

      // and each signal gate selects exactly the docs the standalone
      // operator (the DuckDB-oracled query) would select
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.collect().map(_.getLong(0)).toSet
      assert(ids(q) === ids(DocOps.qualityScore(spark, dir)
        .filter(col("quality") >= 0.5).select("doc_id")))
      assert(ids(l) === ids(DocOps.langId(spark, dir)
        .filter(col("pred_lang") =!= "und").select("doc_id")))
      assert(ids(s) === ids(DocOps.stratifiedSample(spark, dir, Map("en" -> 0.25))
        .select("doc_id")))
    } finally signals.unpersist()
  }

  test("funnel stages all read the ONE persisted corpus frame, never the parquet") {
    import org.apache.spark.sql.functions._
    import graft.ops.DocOps
    // the exact composition CurateCli.run uses: one persisted tokenized
    // corpus, every stage derived from it — a FileSourceScan leaf in any
    // stage plan would mean that stage re-scans (and re-tokenizes) the
    // corpus behind the shared frame's back
    val corpus = DocOps.curationFrame(spark, dir).persist()
    try {
      corpus.count() // materialize the one corpus read
      val stagePlans = Map(
        "exact_dedup" -> DocOps.exactDedupOf(corpus),
        "priority_dedup" -> DocOps.priorityDedupOf(corpus),
        "near_dup_pairs" -> DocOps.minhashLshPairsOf(corpus),
        "decontaminate" -> DocOps.decontaminateOf(DocOps.shinglesOf(corpus), 20, 3),
        "gate_signals" -> DocOps.gateSignalsOf(corpus),
        "classifier_gate" -> DocOps.qualityClassifyOf(corpus, 4096),
        "mixture_sample" -> DocOps.domainMixSampleOf(corpus,
          DocOps.defaultMixWeights, DocOps.defaultBudgetFrac),
        "boilerplate_strip" -> DocOps.strippedToksOf(corpus, 5),
        "chunks" -> DocOps.chunkDocsOf(corpus, 50, 10))
      // AdaptiveSparkPlanExec is itself a LeafExecNode — descend into its
      // current plan or the leaf check never sees the real scans
      def realLeaves(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          realLeaves(a.executedPlan)
        case l if l.children.isEmpty => Seq(l)
        case n => n.children.flatMap(realLeaves)
      }
      stagePlans.foreach { case (name, df) =>
        val leaves = realLeaves(df.queryExecution.executedPlan)
        val fileScans = leaves.filterNot(
          _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec])
        assert(leaves.nonEmpty && fileScans.isEmpty,
          s"stage $name must read the cached corpus, found non-cache leaves: $fileScans")
      }
      // the shared-frame stages return the SAME rows as the standalone
      // (scan-direct, DuckDB-oracled) operators
      assert(DocOps.minhashLshPairsOf(corpus).collect().toSeq ===
        DocOps.minhashLshPairs(spark, dir).collect().toSeq)
      assert(DocOps.chunkDocsOf(corpus, 50, 10).collect().length ===
        DocOps.chunkDocs(spark, dir).collect().length)
    } finally corpus.unpersist()
  }

  test("gate signals survive zero-token docs (ANSI divide-by-zero guard)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Spark 4 defaults ANSI mode ON: an unguarded ttr division would THROW
    // on a doc whose text has no word characters, killing the funnel
    val tmp = java.nio.file.Files.createTempDirectory("graft-zero").toString
    Seq((0L, "", "en"), (1L, "!!! ...", "en"), (2L, "a real document here", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = graft.ops.DocOps.gateSignals(spark, tmp).collect()
      .map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(rows(0L).isEmpty && rows(1L).isEmpty, "zero-token docs get NULL quality")
    assert(rows(2L).nonEmpty)
    // NULL quality fails any gate threshold instead of crashing the job
    val kept = graft.ops.DocOps.gateSignals(spark, tmp)
      .filter(col("quality") >= 0.0).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L))
  }
}
