package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.stages.Abundance

/** Matmul-alignment and pivot semantics mirroring the reference's
  * tests/mat_mul.py:20-28 and outputs.py:53-86. */
class AbundanceSpec extends CacheHygiene {
  import spark.implicits._

  private val abundance = Seq(
    ("c1", "s1", 2.0), ("c1", "s2", 0.0),
    ("c2", "s1", 1.0), ("c2", "s2", 3.0),
    ("c3", "s1", 5.0), ("c3", "s2", 1.0)).toDF("otu", "sample", "weight")

  private val scores = Seq(
    ("c1", 20, 0.5), ("c1", 15, 0.5),
    ("c2", 20, 1.0),
    ("c3", 43, 1.0)).toDF("conv_id", "envo", "score")

  test("wide TSV scan + melt round-trips the matrix") {
    val dir = Files.createTempDirectory("graft-ab").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/ab.tsv"),
      "otu\ts1\ts2\nc1\t2.0\t0.0\nc2\t1.0\t3.0\nc3\t5.0\t1.0\n")
    val long = Abundance.readWideTsv(spark, s"$dir/ab.tsv")
    val got = long.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val exp = abundance.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(got === exp)
  }

  test("matmul: hand-computed dot product (tests/mat_mul.py analog)") {
    val proj = Abundance.projectToSamples(scores, abundance).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getDouble(2)).toMap
    // envo 20: c1 0.5*2 + c2 1.0*1 = 2.0 (s1); c1 0.5*0 + c2 1.0*3 = 3.0 (s2)
    assert(proj((20, "s1")) === 2.0 && proj((20, "s2")) === 3.0)
    // envo 15 only from c1
    assert(proj((15, "s1")) === 1.0 && proj((15, "s2")) === 0.0)
    // envo 43 only from c3
    assert(proj((43, "s1")) === 5.0 && proj((43, "s2")) === 1.0)
  }

  test("top-N by abundance with deterministic tiebreak + semi restrict") {
    val top2 = Abundance.topN(abundance, 2).collect().map(_.getString(0)).toSeq
    assert(top2 === Seq("c3", "c2")) // totals: c3=6, c2=4, c1=2
    val restricted = Abundance.restrictToTopN(scores, abundance, 2, "conv_id")
      .select("conv_id").distinct().as[String].collect().toSet
    assert(restricted === Set("c2", "c3"))
  }

  test("pivot matrix: missing cells are 0, deterministic row order") {
    val m = Abundance.pivotMatrix(scores)
    assert(m.columns.toSeq === Seq("envo", "c1", "c2", "c3"))
    val rows = m.collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(rows(20) === ((0.5, 1.0, 0.0)))
    assert(rows(43) === ((0.0, 0.0, 1.0)))
  }

  test("TSV + BIOM sinks write readable artifacts") {
    val dir = Files.createTempDirectory("graft-sink").toString
    Abundance.writeTsv(Abundance.pivotMatrix(scores), s"$dir/matrix")
    val tsv = Files.list(java.nio.file.Paths.get(s"$dir/matrix")).toArray
      .map(_.toString).filter(_.endsWith(".csv"))
    assert(tsv.nonEmpty)
    val content = Files.readString(java.nio.file.Paths.get(tsv.head))
    assert(content.startsWith("envo\tc1\tc2\tc3"))

    Abundance.writeBiom(spark, Abundance.projectToSamples(scores, abundance),
      s"$dir/biom/out.biom")
    val biom = Files.readString(java.nio.file.Paths.get(s"$dir/biom/out.biom"))
    assert(biom.contains("\"shape\":[3,2]"))
    assert(biom.contains("Biological Observation Matrix 1.0"))
  }
}
