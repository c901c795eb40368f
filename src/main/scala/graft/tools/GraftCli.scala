package graft.tools

import org.apache.spark.sql.functions._
import graft.{KgPipeline, PipelineConfig, Sessions}
import graft.dict.EnvoDict
import graft.stages.{Abundance, Canonicalize, ScoreConfig}
import graft.synth.TranscriptGen

/**
 * The reference-workflow CLI: everything `seqenv input.fasta [flags]`
 * produces (post-search), over a transcripts table. Flag-for-flag parity
 * with the reference's analysis stage (reference README flags:
 * normalization / proportional / backtracking / restrict / abundances / N /
 * num_threads / out_dir):
 *
 *   GraftCli --input <parquet|synth:N> --out_dir DIR
 *     [--normalization flat|ui|upui] [--proportional true]
 *     [--backtracking false] [--restrict ENVO:00010483]
 *     [--abundances wide.tsv] [--N 100] [--num_threads 8]
 *     [--checkpoint_dir DIR]
 *
 * OR the literal seqenv front door (`seqenv input.fasta` post-search),
 * one command from the reference's own inputs to the full output set:
 *
 *   GraftCli --fasta seqs.fasta[.gz] --blastout hits.outfmt6
 *     --gi_dims <BuildDims out_dir> --out_dir DIR
 *     [--length_cutoff 4000] [--min_coverage 0.97] [+ the same flags as above]
 *
 * Outputs (the reference's output inventory, README.md:124-138; the
 * graphviz renders become distributed DOT-source rows via --dot true —
 * only the raster step stays scoped out, SURVEY §2 S11):
 *   conv_to_concepts.tsv   concept×conv score matrix  (seq_to_concepts.tsv)
 *   conv_to_names.tsv      same with preferred names  (seq_to_names.tsv)
 *   list_concepts_found.tsv per-conv concept evidence (list_concepts_found.tsv)
 *   samples_to_names.tsv   sample projection, if --abundances (samples_to_names.tsv)
 *   samples.biom           BIOM of the sample matrix, if --abundances
 *   triples/               the KG itself (parquet: subj, pred, obj, weight, evidence)
 *   ontology_triples/      typed OBO + closure edges (parquet)
 */
object GraftCli {

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    require((a.contains("input") || a.contains("fasta")) && a.contains("out_dir"),
      "usage: GraftCli (--input <parquet|synth:N> | --fasta seqs.fasta --blastout hits.tsv " +
        "--gi_dims DIR) --out_dir DIR [--normalization flat|ui|upui] " +
        "[--proportional bool] [--backtracking bool] [--restrict CURIE] " +
        "[--abundances wide.tsv] [--N n] [--num_threads n] [--checkpoint_dir DIR] " +
        "[--length_cutoff 4000]")
    val outDir = a("out_dir")
    val restrict = a.get("restrict").map { curie =>
      val id = EnvoDict.curieToInt(curie).getOrElse(
        throw new IllegalArgumentException(s"--restrict must be a numeric ENVO CURIE, got $curie"))
      // reference validates restrict is a known term (seqenv/analysis.py:120-125)
      require(KgPipeline.sharedDict.intToCurie.contains(id),
        s"--restrict $curie is not a known EnvO concept")
      id
    }
    val cfg = PipelineConfig(
      score = ScoreConfig(
        normalization = a.getOrElse("normalization", "flat"),
        proportional = a.get("proportional").forall(_.toBoolean),
        backtracking = a.get("backtracking").exists(_.toBoolean),
        restrict = restrict),
      checkpointDir = a.get("checkpoint_dir"))

    val spark = Sessions.local(a.getOrElse("num_threads", "8").toInt, appName = "graft-cli")
    val turnsAll = a.get("input") match {
      case Some(s) if s.startsWith("synth:") =>
        TranscriptGen.generate(spark, s.drop(6).toLong).toDF
      // suffix match, not contains: a parquet dir named ".../run.jsonl_export/"
      // must not be misrouted to the JSONL reader (silent zero valid turns).
      // Trailing slash stripped first so a JSONL DIRECTORY given as
      // ".../turns.jsonl/" (shell tab-completion) still routes correctly.
      case Some(path) if { val p = path.stripSuffix("/")
          p.endsWith(".jsonl") || p.endsWith(".jsonl.gz") } =>
        graft.sources.JsonlTranscripts.turns(spark, path).toDF
      case Some(path) => spark.read.parquet(path)
      case None =>
        // seqenv front door: FASTA (P8 cutoff) + outfmt-6 + BuildDims dims
        require(a.contains("blastout") && a.contains("gi_dims"),
          "--fasta mode needs --blastout and --gi_dims (a BuildDims out_dir)")
        val seqs = graft.sources.Fasta.read(spark, a("fasta"))
          .filter(col("seq_length") < a.getOrElse("length_cutoff", "4000").toInt)
        // P3: optional query-coverage post-filter (the reference's
        // documented-intent coverage gate, seqenv/seqsearch/blast.py)
        val hits = graft.sources.Outfmt6.hits(
            graft.sources.Outfmt6.read(spark, a("blastout")),
            minCoverage = a.get("min_coverage").map(_.toDouble))
          .join(seqs.select(col("seq_id").as("qseqid")), Seq("qseqid"), "left_semi")
        graft.sources.BioAdapter.turnsFromHits(spark, hits,
          spark.read.parquet(s"${a("gi_dims")}/gi"),
          spark.read.parquet(s"${a("gi_dims")}/isolation").select("isokey", "source"))
    }

    // --abundances + --N: restrict to the top-N conversations by abundance
    // (reference analysis.py:200-225 via J5/A6)
    val abundance = a.get("abundances").map(p => Abundance.readWideTsv(spark, p))
    val turns = (abundance, a.get("N")) match {
      case (Some(ab), Some(n)) =>
        turnsAll.join(
          broadcast(Abundance.topN(ab, n.toInt).select(col("otu").as("conv_id"))),
          "conv_id") // broadcast semi-like restrict, keeps columns
      case _ => turnsAll
    }

    val result = new KgPipeline(spark, cfg).run(turns)
    val d = KgPipeline.sharedDict

    // matrices (A11 + S7)
    Abundance.writeTsv(Abundance.pivotMatrix(
      result.scores.select(col("conv_id"), col("envo"), col("score"))), s"$outDir/conv_to_concepts.tsv")
    val named = Canonicalize.canonicalize(spark, result.scores, d)
      .select(col("conv_id"), col("name"), col("score"))
    Abundance.writeTsv(Abundance.pivotMatrix(named, rowKey = "name", colKey = "conv_id",
      value = "score"), s"$outDir/conv_to_names.tsv")

    // evidence list (outputs.py:126-149)
    Abundance.writeTsv(
      result.annotated.select(
        col("subj").as("conv_id"), col("obj").as("envo"), col("name"),
        col("weight"), col("evidence").as("n_turns"),
        concat_ws(",", col("turn_sample")).as("turns"))
        .orderBy("conv_id", "envo"),
      s"$outDir/list_concepts_found.tsv")

    // sample projection (J6 + S9), if abundances given
    abundance.foreach { ab =>
      val proj = Abundance.projectToSamples(result.scores, ab)
      val projNamed = Canonicalize.canonicalize(spark, proj, d)
        .select(col("name"), col("sample"), col("value"))
      Abundance.writeTsv(Abundance.pivotMatrix(projNamed, rowKey = "name",
        colKey = "sample", value = "value"), s"$outDir/samples_to_names.tsv")
      Abundance.writeBiom(spark, proj, s"$outDir/samples.biom")
    }

    // per-conversation graphviz DOT sources (the reference's per-seq
    // renders, outputs.py:176-225, minus the raster step): --dot true
    if (a.get("dot").exists(_.toBoolean)) {
      val sub = graft.stages.TripleEmit.convSubgraphs(spark, result.scores, d)
      graft.stages.TripleEmit.dotSources(spark, sub, d)
        .write.mode("overwrite").parquet(s"$outDir/subgraphs_dot")
    }

    // the KG itself: predicate-partitioned (pred pruning at query time),
    // sorted by subj within partitions (min/max pruning on subject scans)
    graft.sources.TableIO.write(result.allTriples, s"$outDir/triples",
      partitionBy = Seq("pred"), sortBy = Seq("subj"))
    graft.sources.TableIO.write(result.ontologyTriples, s"$outDir/ontology_triples",
      partitionBy = Seq("pred"))

    val n = graft.sources.TableIO.read(spark, s"$outDir/triples").count()
    println(s"wrote $n triples + matrices to $outDir")
    spark.stop()
  }
}
