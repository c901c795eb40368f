package graft.stages

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Stage checkpointing with per-partition lineage + metrics — the scale
 * analog of the reference's memoized on-disk intermediates and
 * resume-from-last-inserted pattern (seqenv/analysis.py:278-294,
 * seqenv/data_sources/generate.py:76-86,241-244): a stage whose committed
 * output already exists is read back instead of recomputed, so a killed run
 * restarts from the last completed stage and yields the identical result
 * (resume-equals-fresh is property-tested).
 *
 * Layout per stage:
 *   <dir>/<stage>/            parquet output
 *   <dir>/<stage>.manifest.json   {rows, partitions:[{id,rows}],
 *                                  fingerprint, committed}
 * The manifest is written atomically (tmp + move) AFTER the parquet commit,
 * so a crash mid-write never yields a readable-but-partial stage. The
 * fingerprint records the input-lineage/config hash the stage was computed
 * under: resuming the same dir with a different input table or ScoreConfig
 * fails loudly instead of silently serving stale output.
 */
object Checkpoint {

  def manifestPath(dir: String, name: String) = Paths.get(s"$dir/$name.manifest.json")

  def isCommitted(dir: String, name: String): Boolean =
    Files.exists(manifestPath(dir, name))

  private val fpPattern = """"fingerprint":"([^"]*)"""".r

  /** Run `compute` unless the stage is already committed; returns the stage
    * output read back from parquet either way (stable lineage for
    * downstream stages). `fingerprint` (input-lineage + config hash) is
    * recorded on commit and REQUIRED to match on read-back. */
  def stage(spark: SparkSession, dir: Option[String], name: String,
            fingerprint: Option[String] = None)
           (compute: => DataFrame): DataFrame = dir match {
    case None => compute
    case Some(d) =>
      val path = s"$d/$name"
      if (isCommitted(d, name)) {
        val recorded = fpPattern
          .findFirstMatchIn(Files.readString(manifestPath(d, name)))
          .map(_.group(1))
        (fingerprint, recorded) match {
          case (Some(fp), Some(rec)) if fp != rec =>
            throw new IllegalStateException(
              s"checkpoint stage '$name' in $d was committed under fingerprint $rec " +
                s"but this run computes $fp (input table or config changed) — " +
                "clear the checkpoint dir or point at a fresh one")
          case _ => () // absent in pre-fingerprint manifests: accept
        }
      }
      if (isCommitted(d, name)) spark.read.parquet(path)
      else {
        val t0 = System.nanoTime()
        val df = compute
        df.write.mode("overwrite").parquet(path)
        val written = spark.read.parquet(path)
        val partCounts = written
          .groupBy(spark_partition_id().as("pid")).agg(count(lit(1)).as("rows"))
          .orderBy("pid")
          .collect()
          .map(r => (r.getInt(0), r.getLong(1)))
        val parts = partCounts.map { case (id, n) => s"""{"id":$id,"rows":$n}""" }
        val total = partCounts.map(_._2).sum
        val elapsed = (System.nanoTime() - t0) / 1e9
        val fpField = fingerprint.map(fp => s""""fingerprint":"$fp",""").getOrElse("")
        val json =
          f"""{"stage":"$name","rows":$total,"elapsed_sec":$elapsed%.2f,$fpField""" +
            s""""partitions":[${parts.mkString(",")}],"committed":true}"""
        val tmp = Paths.get(s"$d/$name.manifest.tmp")
        Files.createDirectories(Paths.get(d))
        Files.writeString(tmp, json)
        Files.move(tmp, manifestPath(d, name), StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        // the frame the manifest counted: a second read would plan one
        // more schema-inference job for the same files
        written
      }
  }
}
