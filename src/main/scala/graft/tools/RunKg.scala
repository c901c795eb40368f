package graft.tools

import graft.{KgPipeline, PipelineConfig, Sessions}
import graft.stages.ScoreConfig
import graft.synth.TranscriptGen

/**
 * CLI entry: run the transcript→EnvO KG pipeline end-to-end on the
 * deterministic synthetic transcript table and materialize the KG.
 *
 * Usage: RunKg <nConvs> <outDir> [normalization=flat|ui|upui]
 *              [proportional=true] [backtracking=false] [cores=8]
 */
object RunKg {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunKg <nConvs> <outDir> [norm] [proportional] [backtracking] [cores]")
    val nConvs = args(0).toLong
    val outDir = args(1)
    val norm = if (args.length > 2) args(2) else "flat"
    val proportional = if (args.length > 3) args(3).toBoolean else true
    val backtracking = if (args.length > 4) args(4).toBoolean else false
    val cores = if (args.length > 5) args(5).toInt else 8

    val spark = Sessions.local(cores, shufflePartitions = 32, appName = "graft-runkg")
    val turns = TranscriptGen.generate(spark, nConvs)
    val pipe = new KgPipeline(spark,
      PipelineConfig(score = ScoreConfig(norm, proportional, backtracking)))
    val result = pipe.run(turns.toDF)

    result.annotated.write.mode("overwrite").parquet(s"$outDir/annotated_with")
    result.mentionTriples.write.mode("overwrite").parquet(s"$outDir/mentions")
    result.coOccurrence.write.mode("overwrite").parquet(s"$outDir/cooccurrence")
    result.ontologyTriples.write.mode("overwrite").parquet(s"$outDir/ontology")
    // Graph summary — the relational form of the concept graph the
    // reference renders as a picture: node degrees (o16), lift-weighted
    // edges (o15), walk centrality (o17). All are post-agg frames bounded
    // by |EnvO|², so these sinks cost nothing at corpus scale; scores and
    // the pair frame come off the run's shared caches.
    import graft.stages.TripleEmit
    TripleEmit.conceptDegrees(spark, result.coOccurrence, pipe.dict)
      .write.mode("overwrite").parquet(s"$outDir/graph_summary/degrees")
    TripleEmit.coOccurrenceLift(spark, result.scores, pipe.dict, assumeDistinct = true)
      .write.mode("overwrite").parquet(s"$outDir/graph_summary/lift")
    TripleEmit.walkCentrality(spark, result.coOccurrence, pipe.dict)
      .write.mode("overwrite").parquet(s"$outDir/graph_summary/centrality")
    // trend: each conversation's day = the date of its first turn (the
    // conv-grain agg is conv_id-local under the pipeline layout)
    import org.apache.spark.sql.functions.{col, min, to_date}
    val convDays = turns.toDF.groupBy("conv_id")
      .agg(to_date(min(col("ts"))).as("day"))
    TripleEmit.conceptTrend(spark, result.scores, convDays, pipe.dict,
        assumeDistinct = true)
      .write.mode("overwrite").parquet(s"$outDir/graph_summary/trend")
    result.unpersist()

    val nAnnotated = spark.read.parquet(s"$outDir/annotated_with").count()
    val nMentions = spark.read.parquet(s"$outDir/mentions").count()
    val nCooc = spark.read.parquet(s"$outDir/cooccurrence").count()
    val nNodes = spark.read.parquet(s"$outDir/graph_summary/degrees").count()
    println(s"turns=${turns.count()} annotated_with=$nAnnotated mentions=$nMentions cooccurrence=$nCooc")
    println(s"graph_summary: nodes=$nNodes lift_edges=${spark.read.parquet(s"$outDir/graph_summary/lift").count()}")
    println("sample annotated_with triples:")
    spark.read.parquet(s"$outDir/annotated_with")
      .orderBy("subj", "obj").show(10, truncate = false)
    spark.stop()
  }
}
