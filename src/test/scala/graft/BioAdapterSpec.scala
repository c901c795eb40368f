package graft

import java.nio.file.{Files, Paths}
import graft.sources.{BioAdapter, Outfmt6}
import graft.stages.ScoreConfig

/** End-to-end seqenv-replacement path: blastout + GI db dims → the same
  * concept frequencies the reference's STEP 6 computes
  * (seqenv/analysis.py:338-408), using its own golden isolation-source
  * texts (generate.py:261-266). */
class BioAdapterSpec extends CacheHygiene {
  import spark.implicits._

  // outfmt-6 rows: seq C1 hits GIs 111,222,333; C2 hits 444
  private def blastout(dir: String): String = {
    val p = s"$dir/hits.tsv"
    Files.writeString(Paths.get(p), Seq(
      "C1\tgi|111|ref|A\t99.0\t100\t0\t0\t1\t100\t1\t100\t1e-30\t500\t98.0\t1",
      "C1\tgi|222|ref|B\t98.5\t100\t0\t0\t1\t100\t1\t100\t1e-25\t480\t98.0\t1",
      "C1\tgi|333|ref|C\t98.0\t100\t0\t0\t1\t100\t1\t100\t1e-20\t460\t98.0\t1",
      "C2\tgi|444|ref|D\t99.9\t100\t0\t0\t1\t100\t1\t100\t1e-40\t520\t98.0\t1",
      "C3\tgi|999|ref|E\t99.9\t100\t0\t0\t1\t100\t1\t100\t1e-40\t520\t98.0\t1" // gi not in db
    ).mkString("\n"))
    p
  }

  // gi dim: 111/222 share an isolation source (ui dedup path), 333 distinct;
  // 111 and 222 also share a pubmed (upui path); 444 has null pubmed
  private val giDim = Seq(
    (111L, 1L, Option(9001L)), (222L, 1L, Option(9001L)),
    (333L, 2L, Option(9002L)), (444L, 3L, None))
    .toDF("gi", "isokey", "pubmed")

  private val isolationDim = Seq(
    (1L, "Everglades wetlands"),
    (2L, "downstream along river bank"),
    (3L, "lake water at 5 m depth during dry season"))
    .toDF("isokey", "source")

  private def scores(cfg: ScoreConfig): Map[(String, Int), Double] = {
    val dir = Files.createTempDirectory("graft-bio").toString
    val hits = Outfmt6.hits(Outfmt6.read(spark, blastout(dir)))
    val turns = BioAdapter.turnsFromHits(spark, hits, giDim, isolationDim)
    released(new KgPipeline(spark, PipelineConfig(score = cfg)).run(turns))(_.scores.collect()
      .map(x => (x.getString(0), x.getInt(1)) -> x.getDouble(2)).toMap)
  }

  test("flat: every hit's isolation source counted (duplicates kept)") {
    val s = scores(ScoreConfig("flat", proportional = false))
    // C1: wetland twice via everglades+wetlands form x2 GIs sharing text? —
    // text 'Everglades wetlands' tags envo 43 twice, carried by GI 111 AND 222
    assert(s(("C1", 43)) === 4.0) // 2 mentions x 2 GIs with the same source
    assert(s(("C1", 143)) === 1.0) // river bank via GI 333
    assert(s(("C2", 20)) === 1.0)  // lake via GI 444
    assert(!s.keySet.exists(_._1 == "C3")) // GI 999 absent from db
  }

  test("ui: same isolation source counted once per sequence") {
    val s = scores(ScoreConfig("ui", proportional = false))
    assert(s(("C1", 43)) === 2.0) // the shared source counted once (2 mentions)
    assert(s(("C1", 143)) === 1.0)
  }

  test("upui + proportional: reference defaults end to end") {
    val s = scores(ScoreConfig("upui", proportional = true))
    // C1 after text+pubmed dedupe: sources {everglades(2 envos), river bank(1)}
    // -> 3 occurrences: wetland 2/3, river bank 1/3
    assert(math.abs(s(("C1", 43)) - 2.0 / 3) < 1e-9)
    assert(math.abs(s(("C1", 143)) - 1.0 / 3) < 1e-9)
    // C2 null pubmed kept
    assert(s(("C2", 20)) === 1.0)
  }
}
