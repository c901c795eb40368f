package graft.tools

import graft.{KgPipeline, Sessions}

/** Untimed triple count of the flagship pipeline over a turns parquet —
  * the exact `allTriples.count()` the scaling pairs time, for recording
  * corpus sizes in BASELINE.md without re-running a timed pair.
  * Usage: CountKg <turnsParquet> [cores] */
object CountKg {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val cores = if (args.length > 1) args(1).toInt else 16
    val spark = Sessions.local(cores, shufflePartitions = 64, appName = "count-kg")
    val turns = spark.read.parquet(path)
    val nTurns = turns.count()
    val nTriples = new KgPipeline(spark).run(turns).allTriples.count()
    println(s"COUNT turns=$nTurns triples=$nTriples")
    spark.stop()
  }
}
