package graft.stages

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Skew tooling for mega-conversations (SURVEY §7 M4 / north rule "salted
 * repartitioning by conv_id hash").
 *
 * Where salt is and is NOT needed in this engine:
 *  - mention detection: rows are hash-distributed — no key, no skew;
 *  - the scorer's flat path: groupBy(conv_id, envo) partially aggregates
 *    map-side, so a 10^9-turn conversation collapses to ≤|EnvO| rows per
 *    map task BEFORE the shuffle — already skew-proof;
 *  - the scorer's ui/upui keep-first (LinkScore) is a `rank() = 1` window,
 *    which the optimizer plans as a WindowGroupLimit: a streaming top-1
 *    that never buffers a repeated-text group, with a Partial limit before
 *    any exchange that absorbs repeats map-side like a partial agg;
 *  - `keepFirstByAgg` (agg + join-back) is DimBuild's per-gi
 *    keep-min-rowid dedupe.
 */
object Salting {

  /** Spread rows of hot keys across `salt` partitions deterministically:
    * the salt derives from the full row content, so the same row lands in
    * the same partition on every run and on task retry (a
    * monotonically_increasing_id-based salt would not — it depends on
    * partition layout and is recomputed on retries). */
  def saltedRepartition(df: DataFrame, key: Column, salt: Int, partitions: Int): DataFrame =
    df.repartition(partitions, key,
      pmod(xxhash64(struct(df.columns.map(col): _*)), lit(salt)))

  /** Skew-proof equivalent of `min(orderCol) over (partition by keys)` +
    * keep-matching-rows: two-level aggregation (salt phase implicit in the
    * partial agg) then a join back on the grouping keys + the minimum.
    * Output = input rows whose orderCol equals the group minimum. */
  def keepFirstByAgg(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val minima = df.groupBy(keys.map(col): _*)
      .agg(min(col(orderCol)).as(orderCol))
    df.join(minima, keys :+ orderCol)
  }
}
