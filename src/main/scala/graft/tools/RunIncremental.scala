package graft.tools

import graft.Sessions
import graft.stages.IncrementalKg
import graft.synth.TranscriptGen

/** Drive the incremental KG store end-to-end: generate a synthetic corpus,
  * ingest it in batches (with one deliberate re-delivery), print per-batch
  * stats and the final store's triple counts by predicate.
  *
  * Usage: RunIncremental [nConvs=200] [nBatches=3] [indexDir=/tmp/graft-inc]
  */
object RunIncremental {
  def main(args: Array[String]): Unit = {
    val nConvs = args.headOption.map(_.toLong).getOrElse(200L)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(3)
    val indexDir = args.lift(2).getOrElse("/tmp/graft-inc")

    val spark = Sessions.local(8)
    import spark.implicits._

    for (b <- 0 until nBatches) {
      val turns = (0L until nConvs).filter(_ % nBatches == b)
        .flatMap(i => TranscriptGen.turnsFor(i, 42L, 6, 10)).toDS.toDF
      val s = IncrementalKg.append(spark, indexDir, turns)
      println(s"batch=${s.batch} new_convs=${s.newConvs} " +
        s"skipped=${s.skippedConvs} conv_triples=${s.newConvTriples}")
    }
    // deliberate re-delivery of the first slice: must be a no-op
    val redelivered = (0L until nConvs).filter(_ % nBatches == 0)
      .flatMap(i => TranscriptGen.turnsFor(i, 42L, 6, 10)).toDS.toDF
    val s = IncrementalKg.append(spark, indexDir, redelivered)
    println(s"redelivery new_convs=${s.newConvs} skipped=${s.skippedConvs}")

    val t = IncrementalKg.triples(spark, indexDir)
    t.groupBy("pred").count().orderBy("pred").collect()
      .foreach(r => println(s"pred=${r.getString(0)} triples=${r.getLong(1)}"))
    spark.stop()
  }
}
