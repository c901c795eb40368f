package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.stages.ScoreConfig
import graft.synth.TranscriptGen

/** Repeated KG builds in one long-lived session must reuse their generated
  * classes: Spark's codegen cache is JVM-wide and, at its default size,
  * smaller than one checkpointed upui + backtracking build compiles, so
  * every later build compiled (and JIT-compiled) the same classes again. */
class CodegenReuseSpec extends CacheHygiene {

  test("a repeated KG build compiles no new generated classes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-codegen-reuse")
    val corpus = tmp.resolve("turns").toString
    TranscriptGen.generate(spark, 300, seed = 11L, skewFactor = 100, partitions = 4)
      .write.mode("overwrite").parquet(corpus)
    val turns = spark.read.parquet(corpus)
    val cfg = PipelineConfig(
      score = ScoreConfig("upui", proportional = true, backtracking = true))

    // one action over every column of every triple family (the hash is
    // summed in 32-bit halves: a 64-bit sum overflows under ANSI)
    def digest(triples: DataFrame): Map[String, (Long, Long, Long)] = {
      val h = xxhash64(triples.columns.map(col): _*)
      triples.groupBy("pred")
        .agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))), sum(shiftright(h, 32)))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    }
    def build(ckpt: Option[String]): Map[String, (Long, Long, Long)] = {
      released(new KgPipeline(spark, cfg.copy(checkpointDir = ckpt)).run(turns))(r =>
        digest(r.allTriples))
    }
    // the compilation counter is JVM-wide: read it only around this
    // spec's own builds
    def compiled[A](f: => A): (A, Long) = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val a = f
      (a, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }

    val (cold, coldN) = compiled(build(Some(tmp.resolve("ckpt").toString)))
    val (warm1, warm1N) = compiled(build(None))
    val (warm2, warm2N) = compiled(build(None))
    assert(cold.values.map(_._1).sum > 0, "the build must produce triples")
    assert(warm1 === cold && warm2 === cold, "every build must produce the same triples")
    assert(warm2N === 0L,
      s"the second un-checkpointed build recompiled generated code " +
        s"(compilations: cold $coldN, warm $warm1N, then $warm2N)")
  }
}
