package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the settings this engine assumes. */
object Sessions {
  def local(cores: Int, shufflePartitions: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // keep cached plans' output partitioning VISIBLE to consumers: with
      // this true (the Spark 4 default) every InMemoryRelation is wrapped
      // in an un-finalized AdaptiveSparkPlan whose partitioning reads as
      // Unknown, so consumers of a cached frame re-shuffle data that is
      // already correctly partitioned (measured: the scores cache was
      // re-exchanged by every one of its three consumers)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      // preferSortMergeJoin=false + adaptive SHJ threshold were A/B'd in r7
      // (tools.AbConf, interleaved same-session pairs on d6/d7/d21): a wash
      // at every measured size — AQE-coalesced partitions make the sorts
      // cheap — so the default stays, per measure-first.
      // generated-code cache sized to the KG build's working set, so a
      // repeated build in one session reuses its compiled classes (and
      // their JIT-compiled code) instead of compiling both again. A
      // checkpointed upui + backtracking build compiles ~147 classes, the
      // same build without a checkpoint ~63 more. Spark's default of 100 is
      // split over 4 LRU segments of 25, so every later build recompiled
      // 72-95 of them (CodegenReuseSpec). Measured there: 200 still
      // recompiles 8, 400 compiles 0; 1000 leaves room for output queries
      // and other pipelines sharing the session. STATIC conf, read once per
      // JVM when CodeGenerator initializes: it takes effect only if set
      // before the JVM's first codegen. graft.Verify builds its own session
      // and runs each query once, so it keeps the default.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // shuffle/spill on tmpfs: the sandbox analog of cluster-grade NVMe
      // scratch; keeps shuffle I/O from serializing multi-core scaling
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
