package graft

import graft.stages.DimBuild

/** Golden test of the dim/KB build job, reproducing the reference's
  * post-test round-trip (add_tagger_results.py:195-249): build the dims
  * from a raw table, then resolve sample GIs back to (source, envos) and
  * compare against independent tagging. */
class DimBuildSpec extends CacheHygiene {
  import spark.implicits._

  // raw `data` analog: duplicate GIs, duplicate sources, a matchless
  // source, and an over-length sequence for the P8 cutoff
  private def raw = Seq(
    (111L, "Everglades wetlands", Option(9001L), 1L, 100),
    (222L, "Everglades wetlands", Option(9001L), 2L, 100), // dup source: tagged once
    (111L, "lake water at 5 m depth", Option(9002L), 3L, 100), // dup GI: keep-min-rowid drops it
    (333L, "no environment in this text", None, 4L, 100), // no ENVO match: absent from both dims
    (444L, "downstream along river bank", None, 5L, 100),
    (555L, "hot spring runoff", Option(9003L), 6L, 9999) // P8: seq_length >= 4000
  ).toDF("gi", "source", "pubmed", "row_order", "seq_length")

  test("dim build: distinct-source tag, keep-min dedupe, join-back, P8 cutoff") {
    val dims = DimBuild.build(spark, raw)

    // isolation: matched distinct sources only, isokey in first-appearance
    // order — built BEFORE GI dedupe (reference STEP 2-3 precede STEP 5),
    // so the duplicate GI's second source is still a distinct source here
    val iso = dims.isolationDim.orderBy("isokey").collect()
    assert(iso.map(_.getString(1)).toSeq ===
      Seq("Everglades wetlands", "lake water at 5 m depth", "downstream along river bank"))
    assert(iso.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    // envos blob == independent tagging (flatten of per-match ENVO ids)
    val ac = KgPipeline.sharedAutomaton
    iso.foreach { r =>
      assert(r.getSeq[Int](2) === ac.tag(r.getString(1)).flatMap(_.envos).toSeq,
        s"envos mismatch for '${r.getString(1)}'")
    }

    // gi: 111 keeps its min-rowid source; 222 shares isokey 1; 333 matchless
    // and 555 over-length drop out
    val gi = dims.giDim.orderBy("gi").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(gi === Seq((111L, 1L), (222L, 1L), (444L, 3L)))

    // post_test_3 round-trip: the data view resolves a GI to its source+envos
    val row = dims.dataView.filter($"gi" === 444L).head()
    assert(row.getString(2) === "downstream along river bank")
    assert(row.getSeq[Int](3) === ac.tag("downstream along river bank").flatMap(_.envos).toSeq)
  }

  test("dim build output drives the BioAdapter path end to end") {
    val dims = DimBuild.build(spark, raw)
    val hits = Seq(("C1", 111L, 1), ("C1", 444L, 2), ("C2", 555L, 1))
      .toDF("qseqid", "gi", "hit_pos")
    val turns = graft.sources.BioAdapter.turnsFromHits(spark, hits,
      dims.giDim, dims.isolationDim.select("isokey", "source"))
    val got = turns.select("conv_id", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // C1 resolves both GIs; C2's GI was P8-filtered out of the dims
    assert(got === Set(
      ("C1", "Everglades wetlands"),
      ("C1", "downstream along river bank")))
  }
}
