package graft.stages

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.GraftFunctions

/** The dim/KB build job's output tables. */
case class BuiltDims(isolationDim: DataFrame, giDim: DataFrame, dataView: DataFrame)

/**
 * Dim/KB build: raw (gi, source, pubmed, row_order[, seq_length]) records
 * → the `isolation` + `gi` dimension tables BioAdapter consumes. This is
 * the Spark re-expression of the reference's one-off SQLite rebuild
 * (seqenv/data_sources/add_tagger_results.py:99-192 run()), including the
 * P8 length cutoff the reference applies at GI generation
 * (seqenv/data_sources/generate.py:50-58).
 *
 * Stage map (reference STEP → here):
 *  - P8: keep sequences shorter than lengthCutoff (when the column exists);
 *  - STEP 2+3: distinct sources in first-appearance order, tagged ONCE
 *    (dedupe-before-tag), sources with no ENVO mention dropped;
 *  - isolation AUTOINCREMENT id ≈ rank in first-appearance order — a
 *    distributed sort + zipWithIndex, NOT a single-partition window
 *    (first_seen = min rowid is unique per source, so the order is total);
 *  - STEP 5: uniquify GIs keep-min-rowid — the scorer's keep-first
 *    (LinkScore.keepFirst, a streaming top-1 window), skew-proof;
 *  - STEP 6: gi(gi, isokey, pubmed) via the source-text join — GIs whose
 *    source never matched drop out, as in the reference;
 *  - the final `data` VIEW (gi ⋈ isolation) as a composable DataFrame.
 *
 * 100 TB notes: every stage is a join/agg keyed on (source | gi) with no
 * driver-side state; nothing broadcasts because in the real NT database
 * both dims are multi-GB (the BioAdapter read side makes the same call —
 * AQE picks broadcast only when a build side measures small).
 */
object DimBuild {

  def build(spark: SparkSession, raw: DataFrame, lengthCutoff: Int = 4000): BuiltDims = {
    val cut =
      if (raw.columns.contains("seq_length")) raw.filter(col("seq_length") < lengthCutoff)
      else raw

    val ordered = taggedSources(spark, cut).orderBy("first_seen")
    val schema = ordered.schema.add("isokey", LongType, nullable = false)
    val isolationDim = spark.createDataFrame(
        ordered.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) },
        schema)
      .select(col("isokey"), col("source"), col("envos"))

    val uniq = LinkScore.keepFirst(
      cut.select("gi", "source", "pubmed", "row_order"), col("row_order"), col("gi"))

    val giDim = uniq
      .join(isolationDim.select("isokey", "source"), "source")
      .select(col("gi"), col("isokey"), col("pubmed"))

    val dataView = giDim
      .join(isolationDim, "isokey")
      .select(col("gi"), col("isokey"), col("source"), col("envos"), col("pubmed"))

    BuiltDims(isolationDim, giDim, dataView)
  }

  /** STEP 2+3: (source, first_seen, envos) for every distinct source with
    * at least one ENVO mention. */
  private[graft] def taggedSources(spark: SparkSession, records: DataFrame): DataFrame =
    records
      .groupBy("source").agg(min("row_order").as("first_seen"))
      .withColumn("mentions", GraftFunctions.tag_envo(spark, col("source")))
      .filter(size(col("mentions")) > 0)
      // the reference's envos blob: ENVO ints flattened across matches in
      // document order (add_tagger_results.py:127-129)
      .select(col("source"), col("first_seen"), expr("flatten(mentions.envos)").as("envos"))
}
