package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.synth.TranscriptGen

/** Resume-equals-fresh (SURVEY §5): a run resumed from any committed stage
  * prefix yields the identical triple set; manifests carry per-partition
  * lineage counts. */
class CheckpointSpec extends CacheHygiene {
  import spark.implicits._

  /** The build's triples, its caches released. */
  private def tripleSet(r: KgResult): Set[(String, String, String, Double, Long)] =
    released(r)(_.allTriples.select("subj", "pred", "obj", "weight", "evidence").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        math.rint(r.getDouble(3) * 1e9) / 1e9, r.getLong(4))).toSet)

  /** The build's score row count, its caches released. */
  private def nScores(r: => KgResult): Long = released(r)(_.scores.count())

  test("resume from partial checkpoint equals fresh run; manifests have lineage") {
    val turns = (0L until 60L).flatMap(i => TranscriptGen.turnsFor(i, 11L, 6, 10)).toDS.toDF
    val fresh = tripleSet(new KgPipeline(spark).run(turns))

    val dir = Files.createTempDirectory("graft-ckpt").toString
    val cfgd = PipelineConfig(checkpointDir = Some(dir))
    def manifest(stage: String) = java.nio.file.Paths.get(s"$dir/$stage.manifest.json")

    // first run commits all stages; a flat run commits the fused scorer's
    // output, never the classic scores/annotated pair
    val first = tripleSet(new KgPipeline(spark, cfgd).run(turns))
    assert(first === fresh)
    assert(Seq("mentions", "fused", "cooccurrence").forall(st => Files.exists(manifest(st))))
    assert(Seq("scores", "annotated").forall(st => !Files.exists(manifest(st))))

    // simulate a crash before the last stage: only cooccurrence recomputes
    Files.delete(manifest("cooccurrence"))
    assert(tripleSet(new KgPipeline(spark, cfgd).run(turns)) === fresh)

    // simulate a crash after the mentions stage: drop every later manifest
    for (stage <- Seq("fused", "scores", "annotated", "cooccurrence")) {
      Files.deleteIfExists(manifest(stage))
    }
    val resumed = tripleSet(new KgPipeline(spark, cfgd).run(turns))
    assert(resumed === fresh)

    // manifest sanity: per-partition rows sum to the stage row count
    val mentions = Files.readString(manifest("mentions"))
    assert(mentions.contains("\"committed\":true"))
    val rows = spark.read.parquet(s"$dir/mentions").count()
    assert(mentions.contains(s"\"rows\":$rows,"))
  }

  test("non-flat runs keep the classic stage layout; resume equals fresh") {
    val turns = (0L until 40L).flatMap(i => TranscriptGen.turnsFor(i, 13L, 6, 10)).toDS.toDF
    val score = graft.stages.ScoreConfig("upui", backtracking = true)
    val fresh = tripleSet(new KgPipeline(spark, PipelineConfig(score = score)).run(turns))
    val dir = Files.createTempDirectory("graft-ckpt-upui").toString
    val cfgd = PipelineConfig(score = score, checkpointDir = Some(dir))
    def manifest(stage: String) = java.nio.file.Paths.get(s"$dir/$stage.manifest.json")
    assert(tripleSet(new KgPipeline(spark, cfgd).run(turns)) === fresh)
    assert(Seq("mentions", "scores", "annotated", "cooccurrence")
      .forall(st => Files.exists(manifest(st))))
    assert(!Files.exists(manifest("fused")))
    for (stage <- Seq("annotated", "cooccurrence")) Files.delete(manifest(stage))
    assert(tripleSet(new KgPipeline(spark, cfgd).run(turns)) === fresh)
  }

  test("committed stage resumes for the same input/config; stale resume fails loudly") {
    val turns = (0L until 20L).flatMap(i => TranscriptGen.turnsFor(i, 3L, 5, 5)).toDS.toDF
    val dir = Files.createTempDirectory("graft-ckpt2").toString
    val cfgd = PipelineConfig(checkpointDir = Some(dir))
    val n1 = nScores(new KgPipeline(spark, cfgd).run(turns))

    // same input + config: committed stage is read back (content-stable)
    assert(nScores(new KgPipeline(spark, cfgd).run(turns)) === n1)

    // DIFFERENT input, same dir: the manifest fingerprint mismatches and
    // the run must fail loudly instead of silently serving stale output
    val other = (100L until 105L).flatMap(i => TranscriptGen.turnsFor(i, 3L, 5, 5)).toDS.toDF
    val exInput = intercept[IllegalStateException] {
      nScores(new KgPipeline(spark, cfgd).run(other))
    }
    assert(exInput.getMessage.contains("fingerprint"))

    // DIFFERENT score config, same dir: same loud failure
    val cfgUi = cfgd.copy(score = graft.stages.ScoreConfig("ui"))
    val exScore = intercept[IllegalStateException] {
      nScores(new KgPipeline(spark, cfgUi).run(turns))
    }
    assert(exScore.getMessage.contains("fingerprint"))
  }

  test("the fingerprint ignores the deprecated tagging switch") {
    // dedupeTexts never changed output and is now ignored: a dir committed
    // under dedupeTexts = false resumes under the default config, while a
    // different ScoreConfig still fails loudly
    val turns = (0L until 20L).flatMap(i => TranscriptGen.turnsFor(i, 5L, 5, 5)).toDS.toDF
    val dir = Files.createTempDirectory("graft-ckpt7").toString
    @scala.annotation.nowarn("cat=deprecation")
    val cfgOld = PipelineConfig(checkpointDir = Some(dir), dedupeTexts = false)
    val n = nScores(new KgPipeline(spark, cfgOld).run(turns))
    val cfgd = PipelineConfig(checkpointDir = Some(dir))
    assert(nScores(new KgPipeline(spark, cfgd).run(turns)) === n)
    val ex = intercept[IllegalStateException] {
      nScores(new KgPipeline(spark, cfgd.copy(score = graft.stages.ScoreConfig("upui"))).run(turns))
    }
    assert(ex.getMessage.contains("fingerprint"))
  }

  test("stale resume fails for a DIFFERENT dictionary too") {
    // an overridden vocabulary changes every stage's output, so a resume
    // against a checkpoint written under another dict must fail loudly —
    // the fingerprint carries the dictionary identity
    val turns = (0L until 20L).flatMap(i => TranscriptGen.turnsFor(i, 3L, 5, 5)).toDS.toDF
    val dir = Files.createTempDirectory("graft-ckpt4").toString
    val cfgd = PipelineConfig(checkpointDir = Some(dir))
    nScores(new KgPipeline(spark, cfgd).run(turns))

    val full = KgPipeline.sharedDict
    val tiny = full.copy(formToSerials =
      full.formToSerials.filter(kv => Set("ocean", "lake").contains(kv._1)))
    val ex = intercept[IllegalStateException] {
      nScores(new KgPipeline(spark, cfgd, dictOverride = Some(tiny)).run(turns))
    }
    assert(ex.getMessage.contains("fingerprint"))

    // the sharper case: SAME surface forms, DIFFERENT form→concept mapping
    // (a re-versioned dictionary). A key-set fingerprint would collide and
    // silently serve the old concepts — the content digest must not.
    val dirT = Files.createTempDirectory("graft-ckpt6").toString
    val cfgT = PipelineConfig(checkpointDir = Some(dirT))
    nScores(new KgPipeline(spark, cfgT, dictOverride = Some(tiny)).run(turns))
    val remapped = tiny.copy(formToSerials =
      tiny.formToSerials.map { case (f, ss) =>
        f -> (if (f == "ocean") tiny.formToSerials("lake") else ss)
      })
    assert(remapped.formToSerials.keySet === tiny.formToSerials.keySet)
    val exMap = intercept[IllegalStateException] {
      nScores(new KgPipeline(spark, cfgT, dictOverride = Some(remapped)).run(turns))
    }
    assert(exMap.getMessage.contains("fingerprint"))
    // and the overridden pipeline resumes cleanly against ITS OWN dir
    val dir2 = Files.createTempDirectory("graft-ckpt5").toString
    val cfg2 = PipelineConfig(checkpointDir = Some(dir2))
    val n = nScores(new KgPipeline(spark, cfg2, dictOverride = Some(tiny)).run(turns))
    assert(nScores(new KgPipeline(spark, cfg2, dictOverride = Some(tiny))
      .run(turns)) === n)
  }

  test("stale resume fails for FILE inputs too: same schema, different path") {
    // LogicalRelation.simpleString carries NO file path, so a schema-only
    // fingerprint would serve a.parquet's stages against b.parquet silently
    // — the fingerprint must include the relation's root paths
    val base = Files.createTempDirectory("graft-ckpt3").toString
    (0L until 10L).flatMap(i => TranscriptGen.turnsFor(i, 3L, 5, 5)).toDS.toDF
      .write.parquet(s"$base/a")
    (50L until 60L).flatMap(i => TranscriptGen.turnsFor(i, 3L, 5, 5)).toDS.toDF
      .write.parquet(s"$base/b")
    val cfgd = PipelineConfig(checkpointDir = Some(s"$base/ckpt"))
    nScores(new KgPipeline(spark, cfgd).run(spark.read.parquet(s"$base/a")))
    val ex = intercept[IllegalStateException] {
      nScores(new KgPipeline(spark, cfgd).run(spark.read.parquet(s"$base/b")))
    }
    assert(ex.getMessage.contains("fingerprint"))
  }
}
