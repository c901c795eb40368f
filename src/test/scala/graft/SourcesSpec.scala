package graft

import java.nio.file.{Files, Paths}
import graft.sources.{BioAdapter, Outfmt6}

class SourcesSpec extends CacheHygiene {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("outfmt-6 scan + P2/P3/P4: schema, filters, GI extraction, hit order") {
    val dir = Files.createTempDirectory("graft-o6").toString
    // qseqid sseqid pident length mismatch gapopen qstart qend sstart send evalue bitscore qcovs staxids
    Files.writeString(Paths.get(s"$dir/hits.tsv"),
      Seq(
        "C1\tgi|111|ref|X1\t99.0\t100\t0\t0\t1\t100\t1\t100\t1e-30\t500\t98.0\t562",
        "C1\tgi|222|ref|X2\t98.0\t100\t1\t0\t1\t100\t1\t100\t1e-20\t450\t50.0\t562",
        "C1\tgi|333|ref|X3\t90.0\t100\t9\t0\t1\t100\t1\t100\t1e-30\t400\t99.0\t562", // identity < 97
        "C2\tgi|444|ref|X4\t99.5\t100\t0\t0\t1\t100\t1\t100\t0.5\t100\t99.0\t562"    // evalue > 1e-4
      ).mkString("\n"))
    val raw = Outfmt6.read(spark, s"$dir/hits.tsv")
    assert(raw.schema.fieldNames.toSeq === Outfmt6.schema.fieldNames.toSeq)
    assert(raw.count() === 4)

    // reference defaults: coverage filter off (the documented no-op)
    val h = Outfmt6.hits(raw).collect()
    assert(h.map(_.getAs[Long]("gi")).toSet === Set(111L, 222L))
    assert(h.find(_.getAs[Long]("gi") == 111L).get.getAs[Int]("hit_pos") === 1)

    // flag-gated P3: min_coverage 0.97 drops the 50%-coverage hit
    val hc = Outfmt6.hits(raw, minCoverage = Some(0.97)).collect()
    assert(hc.map(_.getAs[Long]("gi")).toSet === Set(111L))
  }

  test("FASTA scan: plain and gzipped read identically, wrapped seqs joined") {
    val dir = Files.createTempDirectory("graft-fa").toString
    val fasta = Seq(
      ">C1 first sequence",
      "ACGTACGTAC", "GTACGT",
      ">C2", "TTTT",
      ">C3 desc with  spaces", "ACGT", "ACGT", "ACGT").mkString("\n")
    Files.writeString(Paths.get(s"$dir/in.fasta"), fasta)
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/in.fasta.gz"))
    gz.write(fasta.getBytes("UTF-8")); gz.close()

    val plain = graft.sources.Fasta.read(spark, s"$dir/in.fasta")
      .orderBy("seq_id").collect()
    assert(plain.map(_.getString(0)).toSeq === Seq("C1", "C2", "C3"))
    assert(plain.map(_.getString(2)).toSeq === Seq("ACGTACGTACGTACGT", "TTTT", "ACGTACGTACGT"))
    assert(plain.map(_.getInt(3)).toSeq === Seq(16, 4, 12))
    assert(plain.head.getString(1) === "first sequence")

    val gzipped = graft.sources.Fasta.read(spark, s"$dir/in.fasta.gz")
      .orderBy("seq_id").collect()
    assert(gzipped.map(_.toSeq).toSeq === plain.map(_.toSeq).toSeq)
  }

  test("FASTA scan: '>' inside a defline does not split the record") {
    val dir = Files.createTempDirectory("graft-fa2").toString
    // SeqIO starts records only at LINE-INITIAL '>' — a bare '>' delimiter
    // would fabricate a bogus record out of this defline
    val fasta = Seq(
      ">C1 linker 5'->3' construct",
      "ACGTACGT",
      ">C2 plain", "TTTT").mkString("\n")
    Files.writeString(Paths.get(s"$dir/in.fasta"), fasta)
    val rows = graft.sources.Fasta.read(spark, s"$dir/in.fasta")
      .orderBy("seq_id").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("C1", "C2"))
    assert(rows.head.getString(1) === "linker 5'->3' construct")
    assert(rows.map(_.getString(2)).toSeq === Seq("ACGTACGT", "TTTT"))
  }

  test("FASTA scan: CRLF line endings parse identically to LF") {
    val dir = Files.createTempDirectory("graft-fa3").toString
    val records = Seq(
      ">C1 first sequence", "ACGTACGT", "ACGT",
      ">C2 second", "TTTT")
    Files.writeString(Paths.get(s"$dir/lf.fasta"), records.mkString("\n"))
    // CRLF FASTA: "\r\n>" still contains the "\n>" record separator, but
    // every line now carries a trailing \r that must not leak into any
    // column (Spark's trim strips spaces only, not \r)
    Files.writeString(Paths.get(s"$dir/crlf.fasta"), records.mkString("\r\n"))
    val lf = graft.sources.Fasta.read(spark, s"$dir/lf.fasta")
      .orderBy("seq_id").collect()
    val crlf = graft.sources.Fasta.read(spark, s"$dir/crlf.fasta")
      .orderBy("seq_id").collect()
    assert(crlf.map(_.toSeq).toSeq === lf.map(_.toSeq).toSeq)
    assert(crlf.map(_.getString(0)).toSeq === Seq("C1", "C2"))
    assert(crlf.head.getString(1) === "first sequence")
    assert(crlf.map(_.getString(2)).toSeq === Seq("ACGTACGTACGT", "TTTT"))
  }

  test("FASTA front door end to end: fasta -> outfmt6 -> BioAdapter -> scores") {
    import graft.stages.ScoreConfig
    val dir = Files.createTempDirectory("graft-fae2e").toString
    Files.writeString(Paths.get(s"$dir/seqs.fasta"),
      Seq(">C1", "ACGTACGT", ">C2", "TTTTCCCC", ">LONG1", "A" * 5000).mkString("\n"))
    Files.writeString(Paths.get(s"$dir/hits.tsv"), Seq(
      "C1\tgi|111|ref|A\t99.0\t100\t0\t0\t1\t100\t1\t100\t1e-30\t500\t98.0\t1",
      "C2\tgi|333|ref|C\t99.0\t100\t0\t0\t1\t100\t1\t100\t1e-30\t500\t98.0\t1",
      "LONG1\tgi|111|ref|A\t99.0\t100\t0\t0\t1\t100\t1\t100\t1e-30\t500\t98.0\t1"
    ).mkString("\n"))
    // P8 at the front door: sequences >= 4000 bases never enter the flow
    // (generate.py:50-58 applies the same cutoff when generating GIs)
    val seqs = graft.sources.Fasta.read(spark, s"$dir/seqs.fasta")
      .filter(col("seq_length") < 4000)
    val hits = Outfmt6.hits(Outfmt6.read(spark, s"$dir/hits.tsv"))
      .join(seqs.select(col("seq_id").as("qseqid")), Seq("qseqid"), "left_semi")
    val giDim = Seq((111L, 1L, Option(9001L)), (333L, 2L, Option(9002L)))
      .toDF("gi", "isokey", "pubmed")
    val isolationDim = Seq((1L, "Everglades wetlands"), (2L, "lake water"))
      .toDF("isokey", "source")
    val turns = BioAdapter.turnsFromHits(spark, hits, giDim, isolationDim)
    val scores = released(new KgPipeline(spark, PipelineConfig(score = ScoreConfig("flat")))
      .run(turns))(_.scores.collect())
    val convs = scores.map(_.getString(0)).toSet
    assert(convs === Set("C1", "C2"), "LONG1 must be P8-filtered before scoring")
    assert(scores.nonEmpty)
  }

  test("JSONL transcript scan: typed turns, corrupt quarantine, gzip parity") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    val jsonl =
      """{"conv_id":"c1","turn_idx":0,"role":"user","text":"the ocean","tool":null,"ts":"2026-01-01T10:00:00"}
        |{"conv_id":"c1","turn_idx":1,"role":"assistant","text":"lake mud","tool":"search","ts":"2026-01-01T10:00:05"}
        |this line is not json at all
        |{"turn_idx":9,"role":"user","text":"no conv id","ts":"2026-01-01T12:00:00"}
        |{"conv_id":"c9","role":"user","text":"no turn idx","ts":"2026-01-01T12:30:00"}
        |{"conv_id":"c2","turn_idx":0,"role":"user","text":"hi","tool":null,"ts":"2026-01-01T11:00:00"}
        |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/t.jsonl"),
      jsonl.getBytes("UTF-8"))
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/t.jsonl.gz"))
    gz.write(jsonl.getBytes("UTF-8")); gz.close()

    val turns = graft.sources.JsonlTranscripts.turns(spark, s"$dir/t.jsonl")
      .collect().sortBy(t => (t.conv_id, t.turn_idx))
    assert(turns.length === 3)
    assert(turns(1).tool === Some("search"))
    assert(turns(0).text === "the ocean")
    // the quarantine catches ALL THREE failure classes — malformed json,
    // well-formed rows missing conv_id, and well-formed rows missing
    // turn_idx (the non-nullable Int: unfiltered, one such line kills the
    // whole job at Dataset[Turn] encoding time)
    val corrupt = graft.sources.JsonlTranscripts.corrupt(spark, s"$dir/t.jsonl")
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).sortBy(_._1)
    assert(corrupt.map(_._1).toSeq ===
      Seq("malformed_json", "missing_conv_id", "missing_turn_idx"))
    assert(corrupt.head._2.get.startsWith("this line"))
    val gzTurns = graft.sources.JsonlTranscripts.turns(spark, s"$dir/t.jsonl.gz")
      .collect().sortBy(t => (t.conv_id, t.turn_idx))
    assert(gzTurns.toSeq === turns.toSeq)
    // and the turns drive the engine end to end
    val r = new KgPipeline(spark).run(
      graft.sources.JsonlTranscripts.turns(spark, s"$dir/t.jsonl").toDF)
    assert(released(r)(_.annotated.count()) > 0)
  }

  test("P1 rename projection: C0-based aliases in stable order (reference enumerate)") {
    val keys = Seq("OTU_5", "OTU_1", "OTU_3", "OTU_1").toDF("seq_id")
    val m = graft.ops.RelationalOps.renameKeys(spark, keys, "seq_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m === Map("OTU_1" -> "C0", "OTU_3" -> "C1", "OTU_5" -> "C2"))
  }

  test("keep-first: min-order rows per key, ties kept, NULLs dropped") {
    // LinkScore.keepFirst, the one keep-first (the scorer's ui/upui
    // dedupes, DimBuild's per-gi uniquify)
    val df = Seq(
      (Some("c1"), 100L, Some(3), "x"), (Some("c1"), 100L, Some(1), "y"),
      (Some("c1"), 100L, Some(2), "z"), (Some("c1"), 200L, Some(5), "w"),
      (Some("c2"), 100L, Some(7), "v"),
      (Some("c2"), 100L, Some(7), "t"),  // tie on the minimum: both kept
      (None, 100L, Some(0), "n"),        // NULL key: dropped
      (Some("c3"), 300L, None, "o"),     // NULL order, its group's only row: dropped
      (Some("c2"), 200L, None, "p"), (Some("c2"), 200L, Some(9), "q")) // NULL order sorts first, still dropped
      .toDF("conv_id", "text_hash", "turn_idx", "payload")
    val kept = graft.stages.LinkScore.keepFirst(df, col("turn_idx"), col("conv_id"), col("text_hash"))
      .select("conv_id", "text_hash", "turn_idx", "payload")
      .collect().map(_.toSeq).toSet
    assert(kept === Set(
      Seq("c1", 100L, 1, "y"), Seq("c1", 200L, 5, "w"), Seq("c2", 100L, 7, "v"),
      Seq("c2", 100L, 7, "t"), Seq("c2", 200L, 9, "q")))
  }
}
