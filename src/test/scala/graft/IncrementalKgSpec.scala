package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.stages.IncrementalKg
import graft.synth.TranscriptGen

/** Incremental-equals-batch (the d18 discipline on the KG side): appending
  * conversation batches to the triple store yields exactly the triple set
  * of one whole-corpus run; re-delivery is a no-op; a config/dict change
  * against an existing index fails loudly. */
class IncrementalKgSpec extends CacheHygiene {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, String, Double, Long)] =
    df.select(col("subj"), col("pred"), col("obj"), col("weight"),
        col("evidence").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        math.rint(r.getDouble(3) * 1e9) / 1e9, r.getLong(4))).toSet

  test("two appends == one batch run; re-delivery skips; config lock throws") {
    val all = (0L until 80L).flatMap(i => TranscriptGen.turnsFor(i, 7L, 6, 10)).toDS.toDF
    val batchA = all.filter(expr("cast(substring(conv_id, 5, 8) as int) % 2 = 0"))
    val batchB = all.filter(expr("cast(substring(conv_id, 5, 8) as int) % 2 = 1"))
    val dir = Files.createTempDirectory("graft-inc-kg").toString

    val cfg = PipelineConfig()
    val sA = IncrementalKg.append(spark, dir, batchA, cfg)
    assert(sA.batch === 1 && sA.newConvs === 40L && sA.skippedConvs === 0L)
    val sB = IncrementalKg.append(spark, dir, batchB, cfg)
    assert(sB.batch === 2 && sB.newConvs === 40L && sB.skippedConvs === 0L)

    val full = new KgPipeline(spark, cfg).run(all)
    val expected = rows(full.allTriples)
    assert(rows(IncrementalKg.triples(spark, dir)) === expected,
      "incremental store must reproduce the whole-corpus allTriples exactly")
    full.unpersist()

    // idempotent re-delivery: batch A again adds nothing, store unchanged
    val sA2 = IncrementalKg.append(spark, dir, batchA, cfg)
    assert(sA2.newConvs === 0L && sA2.skippedConvs === 40L && sA2.newConvTriples === 0L)
    assert(rows(IncrementalKg.triples(spark, dir)) === expected)

    // a mixed batch ingests only the genuinely new conversations
    val extra = (80L until 90L).flatMap(i => TranscriptGen.turnsFor(i, 7L, 6, 10)).toDS.toDF
    val s3 = IncrementalKg.append(spark, dir, batchB.unionByName(extra), cfg)
    assert(s3.newConvs === 10L && s3.skippedConvs === 40L)
    val full2 = new KgPipeline(spark, cfg).run(all.unionByName(extra))
    assert(rows(IncrementalKg.triples(spark, dir)) === rows(full2.allTriples))
    full2.unpersist()

    // config lock: scoring knobs changed against the same index dir
    intercept[IllegalStateException] {
      IncrementalKg.append(spark, dir, extra,
        cfg.copy(score = stages.ScoreConfig(normalization = "ui")))
    }
  }

  test("compaction: reads byte-identical, crashed compaction invisible, appends continue") {
    import java.nio.file.Paths
    val all = (0L until 60L).flatMap(i => TranscriptGen.turnsFor(i, 11L, 6, 10)).toDS.toDF
    def third(k: Int) = all.filter(expr(s"cast(substring(conv_id, 5, 8) as int) % 3 = $k"))
    val dir = Files.createTempDirectory("graft-inc-compact").toString
    val cfg = PipelineConfig()
    IncrementalKg.append(spark, dir, third(0), cfg)
    IncrementalKg.append(spark, dir, third(1), cfg)
    val before = rows(IncrementalKg.triples(spark, dir))

    // a CRASHED compaction = snapshot dirs exist but the manifest never
    // committed them — readers must keep using the batch dirs untouched
    Files.createDirectories(Paths.get(dir, "triples", "snapshot=2"))
    Files.createDirectories(Paths.get(dir, "convs", "snapshot=2"))
    assert(rows(IncrementalKg.triples(spark, dir)) === before,
      "an uncommitted snapshot must be invisible to readers")

    // the retry overwrites the half-written snapshot and commits
    val st = IncrementalKg.compact(spark, dir)
    assert(st.batch === 2 && st.previouslyCompacted === 0 && st.convs === 40L)
    assert(rows(IncrementalKg.triples(spark, dir)) === before,
      "post-compaction reads must equal pre-compaction reads")
    // the folded batch dirs are gone; the snapshot carries the store
    assert(!Files.exists(Paths.get(dir, "triples", "batch=1")))
    assert(!Files.exists(Paths.get(dir, "convs", "batch=2")))

    // appends continue against the snapshot (idempotent skip included)
    val s3 = IncrementalKg.append(spark, dir, third(1).unionByName(third(2)), cfg)
    assert(s3.batch === 3 && s3.newConvs === 20L && s3.skippedConvs === 20L)
    val full = new KgPipeline(spark, cfg).run(all)
    val expected = rows(full.allTriples)
    full.unpersist()
    assert(rows(IncrementalKg.triples(spark, dir)) === expected)

    // re-compaction folds snapshot=2 + batch=3; compacting a compacted
    // store is a no-op
    val st2 = IncrementalKg.compact(spark, dir)
    assert(st2.previouslyCompacted === 2 && st2.convs === 60L)
    assert(rows(IncrementalKg.triples(spark, dir)) === expected)
    assert(!Files.exists(Paths.get(dir, "triples", "snapshot=2")))
    val st3 = IncrementalKg.compact(spark, dir)
    assert(st3.batch === 3 && st3.previouslyCompacted === 3 && st3.triples === 0L)
  }

  test("streamed ingest into the store == one whole-corpus batch run") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val convs = (0L until 30L).map(i => TranscriptGen.turnsFor(i, 13L, 6, 10))
    val all = convs.flatten.toDS.toDF
    val dir = Files.createTempDirectory("graft-inc-stream").toString
    val cfg = PipelineConfig()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[graft.model.Turn]
    val q = graft.streaming.StreamingMentions.ingestToStore(
      spark, input.toDS(), dir, cfg)
    try {
      // conversation-complete micro-batches (the store's ingest contract)
      input.addData(convs.slice(0, 10).flatten)
      q.processAllAvailable()
      input.addData(convs.slice(10, 20).flatten)
      q.processAllAvailable()
      // the last batch re-delivers batch 2's conversations alongside the
      // new ones — append's idempotent skip must absorb the replay
      input.addData(convs.slice(10, 30).flatten)
      q.processAllAvailable()
    } finally q.stop()
    val full = new KgPipeline(spark, cfg).run(all)
    val expected = rows(full.allTriples)
    full.unpersist()
    assert(rows(IncrementalKg.triples(spark, dir)) === expected,
      "streamed appends must reproduce the whole-corpus run exactly")
  }

  test("streamed ingest with auto-compaction keeps reads exact and folds batch dirs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val convs = (100L until 130L).map(i => TranscriptGen.turnsFor(i, 13L, 6, 10))
    val all = convs.flatten.toDS.toDF
    val dir = Files.createTempDirectory("graft-inc-stream-compact").toString
    val cfg = PipelineConfig()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[graft.model.Turn]
    val q = graft.streaming.StreamingMentions.ingestToStore(
      spark, input.toDS(), dir, cfg, compactEvery = 2)
    try {
      input.addData(convs.slice(0, 10).flatten)
      q.processAllAvailable()
      input.addData(convs.slice(10, 20).flatten)
      q.processAllAvailable() // batch 2 -> compaction fires here
      input.addData(convs.slice(20, 30).flatten)
      q.processAllAvailable()
    } finally q.stop()
    // compaction at batch 2 folded dirs 1-2 into snapshot=2; batch 3 landed after
    assert(Files.exists(java.nio.file.Paths.get(dir, "triples", "snapshot=2")),
      "auto-compaction must have committed snapshot=2")
    assert(!Files.exists(java.nio.file.Paths.get(dir, "triples", "batch=1")),
      "folded batch dirs must be cleaned up")
    assert(Files.exists(java.nio.file.Paths.get(dir, "triples", "batch=3")),
      "post-compaction appends land as new batch dirs")
    val full = new KgPipeline(spark, cfg).run(all)
    val expected = rows(full.allTriples)
    full.unpersist()
    assert(rows(IncrementalKg.triples(spark, dir)) === expected,
      "auto-compacted streamed appends must reproduce the whole-corpus run exactly")
  }
}
