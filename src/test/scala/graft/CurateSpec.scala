package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import graft.ops.{Components, DocOps}
import graft.tools.CurateCli
import graft.tools.CurateCli.CurateConfig

/** The end-to-end curation funnel: monotone, deterministic, and each gate
  * provably bites on the driver testdata. */
class CurateSpec extends CacheHygiene {
  private val dir = "/root/testdata/sf0.001"

  /** Leaves of an executed plan. AdaptiveSparkPlanExec is itself a
    * LeafExecNode — descend into its current plan or the leaf check never
    * sees the real scans. */
  private def realLeaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => realLeaves(a.executedPlan)
    case leaf if leaf.children.isEmpty => Seq(leaf)
    case n => n.children.flatMap(realLeaves)
  }

  /** The persisted corpus and d9 cluster frames CurateCli.run builds,
    * released (with d7's persists and the labels' checkpoint) after `f`. */
  private def withFunnelFrames[T](docsDir: String)(f: (DataFrame, DataFrame) => T): T = {
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val corpus = DocOps.curationFrameWide(spark, docsDir).persist()
    held += corpus
    val clusters = Components.dupClusters(spark,
      DocOps.minhashLshPairsOf(corpus, persisted = held)).persist()
    held += clusters
    try f(corpus, clusters)
    finally {
      held.foreach(_.unpersist())
      Components.releaseCheckpoint(clusters)
    }
  }

  /** The composition the verdict frame replaced, as the reference: every
    * stage a semi- or anti-join over the stage before it, over the same
    * DocOps ops. Returns the funnel and the strip survivors' doc_ids. */
  private def chainFunnel(docsDir: String, cfg: CurateConfig): (Seq[(String, Long)], Seq[Long]) =
    withFunnelFrames(docsDir) { (corpus, clusters) =>
      def semi(a: DataFrame, b: DataFrame) = a.join(b.select("doc_id"), Seq("doc_id"), "left_semi")
      def anti(a: DataFrame, b: DataFrame) = a.join(b.select("doc_id"), Seq("doc_id"), "left_anti")
      val signals = DocOps.gateSignalsOf(corpus)
      val all = corpus.select("doc_id")
      val prioritized = semi(all, DocOps.priorityDedupOf(corpus).filter(col("kept") === 1L))
      val exact = semi(prioritized, DocOps.exactDedupOf(semi(corpus, prioritized))
        .select(col("keep_id").as("doc_id")))
      val nearDeduped = anti(exact, clusters.filter(col("doc_id") =!= col("representative")))
      val decontaminated = anti(nearDeduped.filter(col("doc_id") >= cfg.benchmarkN),
        DocOps.decontaminateOf(DocOps.shinglesOf(corpus), cfg.benchmarkN, minShared = 3))
      val quality = semi(decontaminated, signals.filter(col("quality") >= cfg.minQuality))
      val lang = semi(quality, signals.filter(col("pred_lang") =!= "und"))
      val classified = semi(lang,
        DocOps.qualityClassifyOf(corpus, buckets = 4096).filter(col("kept") === 1L))
      val mixed = semi(classified, DocOps.domainMixSampleOf(corpus, DocOps.defaultMixWeights,
        DocOps.defaultBudgetFrac))
      val sampled = semi(mixed,
        signals.filter(col("bucket") < DocOps.sampleCut(Map("en" -> cfg.sampleEn))))
      val stripped = semi(DocOps.strippedToksOf(corpus, cfg.stripDfCap), sampled)
      val stripKept = stripped.filter(size(col("toks")) > 0).select("doc_id")
      val stages = Seq("input" -> all, "priority_dedup" -> prioritized, "exact_dedup" -> exact,
        "near_dedup" -> nearDeduped, "decontaminate" -> decontaminated,
        "quality_gate" -> quality, "lang_gate" -> lang, "classifier_gate" -> classified,
        "mixture_sample" -> mixed, "stratified_sample" -> sampled,
        "boilerplate_strip" -> stripKept)
      val chunks = semi(DocOps.chunkDocsOf(stripped, cfg.chunkTokens, cfg.overlap), stripKept)
      val split = DocOps.clusterSplitOf(stripKept, clusters, cfg.trainFrac)
      val funnel = stages.map { case (s, df) => s -> df.count() } ++ Seq(
        "chunks" -> chunks.count(),
        "split_train" -> split.filter(col("split") === "train").count(),
        "split_eval" -> split.filter(col("split") === "eval").count())
      (funnel, stripKept.collect().map(_.getLong(0)).sorted.toSeq)
    }

  /** A small corpus that puts every funnel edge in reach of a gate. Built
    * from filler documents (random words, a few language markers), with:
    * cross-source exact copies whose best-ranked copy is not the min
    * doc_id; empty and punctuation-only docs (NULL quality); benchmark docs
    * (doc_id < 20) and a doc quoting one; boilerplate sentences in more
    * than 5 docs each plus docs made only of them; a near-dup cluster;
    * and one doc_id carried by two rows. */
  private def writeEdgeCorpus(path: String): Unit = {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val langs = Vector.fill(70)("en") ++ Vector.fill(8)("fr") ++ Vector.fill(7)("es") ++
      Vector.fill(5)("zh") ++ Vector.fill(2)("de") ++ Vector.fill(8)("pt")
    def words(n: Int): Seq[String] = Seq.fill(n)(
      if (r.nextInt(8) == 0) Seq("the", "of", "and", "le", "el", "der")(r.nextInt(6))
      else s"w${r.nextInt(400)}")
    val boiler = (0 until 8).map(k => ("the" +: (1 to 7).map(j => s"bp${k}x$j")).mkString(" "))
    val filler = (0L until 160L).map { i =>
      val body = words(25 + r.nextInt(35))
      // docs >= 20 carry boilerplate: a benchmark doc carrying it would
      // contaminate every doc quoting the sentence
      val text = if (i >= 20 && i % 3 == 0) (body :+ boiler((i % 8).toInt)).mkString(" ")
        else body.mkString(" ")
      i -> (i, text, langs(r.nextInt(langs.length)), s"src${1 + r.nextInt(11)}")
    }.toMap
    val base = filler(50L)._2
    val edges = Seq(
      // exact copies, the best-ranked (src0) on the larger doc_id; one
      // class of two, one of three
      (160L, filler(60L)._2, "en", "src0"), (161L, filler(61L)._2, "fr", "src0"),
      (162L, filler(61L)._2, "fr", "src9"),
      (170L, "", "en", "src1"), (171L, "!!! ...", "en", "src1"), (172L, "  ;; ", "fr", "src3"),
      // quotes six words of benchmark doc 5
      (175L, (words(20) ++ filler(5L)._2.split(" ").take(6)).mkString(" "), "fr", "src4"),
      // near-dup cluster around doc 50
      (180L, base.replaceFirst("w", "zz"), "en", "src3"), (181L, base + " extra", "en", "src5"),
      (150L, words(30).mkString(" "), "es", "src6")) ++
      (0 until 4).map(j => (190L + j, s"${boiler(2 * j)} ${boiler(2 * j + 1)}", "fr", "src7"))
    (filler.values.toSeq.sortBy(_._1) ++ edges)
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$path/documents.parquet")
  }

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
    // run() leaked the corpus, a projection of it, or the signal frame,
    // these rebuilt twins would still hit the cache
    val cm = spark.sharedState.cacheManager
    val corpusTwin = DocOps.curationFrame(spark, dir)
    def cached(df: DataFrame) =
      cm.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    assert(cached(corpusTwin).isEmpty, "corpus frame leaked")
    assert(cached(corpusTwin.select("doc_id")).isEmpty,
      "corpus projection leaked")
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
    withFunnelFrames(dir) { (corpus, clusters) =>
      // the quality/lang/sample gates are columns of the verdict frame:
      // every LEAF of its plan must be a cached frame — a FileSourceScan
      // leaf would mean a gate re-scans the corpus (the cached relation's
      // printed description still embeds the original scan text, so check
      // node types, not the plan string)
      val leaves = realLeaves(
        CurateCli.verdicts(corpus, clusters, CurateConfig()).queryExecution.executedPlan)
      assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[InMemoryTableScanExec]),
        s"the verdict frame must read the cached corpus, not re-scan parquet: $leaves")

      // and each signal gate selects exactly the docs the standalone
      // operator (the DuckDB-oracled query) would select
      val signals = DocOps.gateSignalsOf(corpus)
      def ids(df: DataFrame): Set[Long] = df.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids(signals.filter(col("quality") >= 0.5)) ===
        ids(DocOps.qualityScore(spark, dir).filter(col("quality") >= 0.5)))
      assert(ids(signals.filter(col("pred_lang") =!= "und")) ===
        ids(DocOps.langId(spark, dir).filter(col("pred_lang") =!= "und")))
      assert(ids(signals.filter(col("bucket") < DocOps.sampleCut(Map("en" -> 0.25)))) ===
        ids(DocOps.stratifiedSample(spark, dir, Map("en" -> 0.25))))
    }
  }

  test("funnel stages all read the ONE persisted corpus frame, never the parquet") {
    withFunnelFrames(dir) { (corpus, clusters) =>
      // every document stage is a column of the verdict frame, and the
      // chunks and the split read the persisted verdicts: no plan of the
      // funnel may reach documents.parquet behind the shared frame's back
      def assertCachedLeaves(name: String, df: DataFrame): Unit = {
        val leaves = realLeaves(df.queryExecution.executedPlan)
        val fileScans = leaves.filterNot(_.isInstanceOf[InMemoryTableScanExec])
        assert(leaves.nonEmpty && fileScans.isEmpty,
          s"$name must read cached frames only, found non-cache leaves: $fileScans")
      }
      // planned before the persist below, which would turn it into a leaf
      val verdict = CurateCli.verdicts(corpus, clusters, CurateConfig())
      assertCachedLeaves("verdicts", verdict)
      verdict.persist()
      try {
        val survivors = verdict.filter(col("passed") === 10)
        assertCachedLeaves("chunks", DocOps.chunkDocsOf(survivors, 50, 10))
        assertCachedLeaves("split",
          DocOps.clusterSplitOf(survivors.select("doc_id"), clusters, 0.75))
      } finally verdict.unpersist()
      // d7 builds the cluster frame the verdicts read: its own plan reads
      // the cached corpus too, and the shared-frame ops return the SAME
      // rows as the standalone (scan-direct, DuckDB-oracled) operators
      val d7Held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      try {
        val pairs = DocOps.minhashLshPairsOf(corpus, persisted = d7Held)
        assertCachedLeaves("near_dup_pairs", pairs)
        assert(pairs.collect().toSeq === DocOps.minhashLshPairs(spark, dir).collect().toSeq)
      } finally d7Held.foreach(_.unpersist())
      assert(DocOps.chunkDocsOf(corpus, 50, 10).collect().length ===
        DocOps.chunkDocs(spark, dir).collect().length)
    }
  }

  test("verdict funnel equals the sequential semi-join chain, on an edge corpus too") {
    val edges = java.nio.file.Files.createTempDirectory("graft-curate-edges").toString
    writeEdgeCorpus(edges)
    val funnels = Seq(dir, edges).map { d =>
      val out = java.nio.file.Files.createTempDirectory("graft-curate-diff").toString
      val got = CurateCli.run(spark, d, out, CurateConfig())
      val (want, survivors) = chainFunnel(d, CurateConfig())
      assert(got === want, s"funnel over $d")
      val split = spark.read.parquet(s"$out/split").collect().map(_.getLong(0)).sorted.toSeq
      assert(split === survivors, s"survivors over $d")
      got.toMap
    }
    // the edge corpus reaches every gate it was built for
    val f = funnels(1)
    assert(f("priority_dedup") < f("input"), s"cross-source copies: $f")
    assert(f("exact_dedup") === f("priority_dedup"), s"d1 over the d24 survivors: $f")
    assert(f("near_dedup") < f("exact_dedup"), s"near-dup cluster: $f")
    assert(f("decontaminate") < f("near_dedup"), s"benchmark docs: $f")
    assert(f("quality_gate") < f("decontaminate"), s"NULL-quality docs: $f")
    assert(f("boilerplate_strip") < f("stratified_sample") && f("boilerplate_strip") > 0,
      s"all-boilerplate docs: $f")
  }

  test("a bad config fails before any output directory is written") {
    val out = java.nio.file.Files.createTempDirectory("graft-curate-bad").resolve("out")
    Seq[() => CurateConfig](() => CurateConfig(trainFrac = 1.0),
      () => CurateConfig(trainFrac = 0.0), () => CurateConfig(overlap = 50),
      () => CurateConfig(overlap = -1), () => CurateConfig(sampleEn = 1.5),
      () => CurateConfig(minQuality = Double.NaN), () => CurateConfig(stripDfCap = -1))
      .foreach { cfg =>
        intercept[IllegalArgumentException](CurateCli.run(spark, dir, out.toString, cfg()))
      }
    assert(!java.nio.file.Files.exists(out), "a rejected config must not write outputs")
  }

  test("CurateCli rejects unknown and incomplete flags with the usage") {
    val ok = CurateCli.parseArgs(Array("--docs_dir", "d", "--out_dir", "o",
      "--strip_df_cap", "7", "--train_frac", "0.5"))
    assert(ok === Map("docs_dir" -> "d", "out_dir" -> "o", "strip_df_cap" -> "7",
      "train_frac" -> "0.5"))
    Seq(Array("--docs_dir", "d", "--min_qualty", "0.3"), Array("--docs_dir", "d", "--out_dir"),
      Array("docs_dir", "d")).foreach { args =>
      val e = intercept[IllegalArgumentException](CurateCli.parseArgs(args))
      assert(e.getMessage.contains("--train_frac") && e.getMessage.contains("--strip_df_cap"),
        e.getMessage)
    }
  }

  test("gate signals survive zero-token docs (ANSI divide-by-zero guard)") {
    import spark.implicits._
    // Spark 4 defaults ANSI mode ON: an unguarded ttr division would THROW
    // on a doc whose text has no word characters, killing the funnel
    val tmp = java.nio.file.Files.createTempDirectory("graft-zero").toString
    Seq((0L, "", "en"), (1L, "!!! ...", "en"), (2L, "a real document here", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = DocOps.gateSignals(spark, tmp).collect()
      .map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(rows(0L).isEmpty && rows(1L).isEmpty, "zero-token docs get NULL quality")
    assert(rows(2L).nonEmpty)
    // NULL quality fails any gate threshold instead of crashing the job
    val kept = DocOps.gateSignals(spark, tmp)
      .filter(col("quality") >= 0.0).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L))
  }
}
