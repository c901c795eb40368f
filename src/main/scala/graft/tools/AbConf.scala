package graft.tools

import graft.{Sessions, SparkEntry}

/** Interleaved A/B of one SparkEntry query under a SQL-conf override —
  * alternating A (baseline session conf) and B (override applied) runs in
  * ONE session, so host-speed drift on this VM hits both arms equally
  * (the time-adjacent-pair rationale from Bench, applied to configs).
  * Cache cleared per run (QueryTime protocol). Usage:
  *   AbConf <query> <sfDir> <pairs> <confKey=confValue> [more k=v...]
  */
object AbConf {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: AbConf <query> <sfDir> <pairs> <k=v> [k=v...]")
    val name = args(0)
    val sfDir = args(1)
    val pairs = args(2).toInt
    val overrides = args.drop(3).map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus, shufflePartitions = cpus, appName = "graft-abconf")
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val fn = SparkEntry.queries(name)
    // a key with no session value and no string default is UNSET on the A
    // arm (spark.conf.get would throw for it)
    val baseline = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    def once(): Double = {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    once() // JIT/codegen warmup, discarded
    val as = scala.collection.mutable.ArrayBuffer.empty[Double]
    val bs = scala.collection.mutable.ArrayBuffer.empty[Double]
    (1 to pairs).foreach { i =>
      baseline.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      as += once()
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      bs += once()
      println(f"[abconf] $name pair$i A=${as.last}%.3f B=${bs.last}%.3f")
    }
    println(f"[abconf] $name A_min=${as.min}%.3f B_min=${bs.min}%.3f " +
      f"A_med=${as.sorted.apply(as.length / 2)}%.3f B_med=${bs.sorted.apply(bs.length / 2)}%.3f")
    spark.stop()
  }
}
