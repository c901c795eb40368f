package graft

import org.apache.spark.sql.functions._
import graft.ops.{DocOps, EmbedOps}

/** Correctness of the ops without a SQL oracle: simhash (independent
  * reimplementation in the test) and LSH ANN (recall + exactness vs the
  * brute-force baseline). Runs on the driver testdata at sf0.001. */
class OpsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Independent simhash: same spec (60-bit md5-prefix token hash, weight =
    * count, sign per bit), implemented with JDK MessageDigest — no Spark
    * functions shared with the op under test. */
  private def simhashOf(text: String): Long = {
    def hash60(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val toks = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
    val counts = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    var sig = 0L
    for (bit <- 0 until 60) {
      var s = 0L
      for ((tok, w) <- counts) {
        val h = hash60(tok)
        s += (if (((h >> bit) & 1L) == 1L) w else -w)
      }
      if (s > 0) sig |= (1L << bit)
    }
    sig
  }

  test("simhash pairs: reported Hamming distances are true distances") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = DocOps.simhashPairs(spark, dir).collect()
    assert(pairs.nonEmpty)
    // verify a deterministic sample of 25 pairs against the independent impl
    pairs.sortBy(r => (r.getLong(0), r.getLong(1))).take(25).foreach { r =>
      val (a, b, ham) = (r.getLong(0), r.getLong(1), r.getInt(2))
      val trueHam = java.lang.Long.bitCount(simhashOf(docs(a)) ^ simhashOf(docs(b)))
      assert(trueHam === ham, s"pair ($a,$b)")
      assert(ham <= 12)
    }
    // the row-local signature (streaming near-dup twin) implements the SAME
    // spec the batch op and this independent impl agree on
    docs.take(25).foreach { case (id, t) =>
      assert(DocOps.simhash60(t) === simhashOf(t), s"doc $id")
    }
  }

  test("simhash banding finds every pair with Hamming <= 3 (pigeonhole)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val sigs = docs.map { case (id, t) => id -> simhashOf(t) }
    val expected = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    val got = DocOps.simhashPairs(spark, dir, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
  }

  test("LSH top-k: exact cosines, recall vs brute force") {
    val brute = EmbedOps.cosineTopK(spark, dir, k = 5, nQueries = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val lsh = EmbedOps.lshTopK(spark, dir, k = 5, nQueries = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    // any (query, neighbor) the LSH returns that brute force also ranked
    // must carry the identical cosine (LSH only restricts candidates)
    val common = brute.keySet intersect lsh.keySet
    common.foreach(k => assert(brute(k) === lsh(k)))
    val recall = common.size.toDouble / brute.size
    info(f"LSH recall@5 = $recall%.2f")
    assert(recall >= 0.4, s"recall $recall too low for defaults")
  }

  test("LSH near-dup pairs: subset of brute force with identical cosines") {
    val brute = EmbedOps.cosineNearDupPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = EmbedOps.lshNearDupPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every LSH pair must be a true near-dup pair with the exact cosine
    lsh.foreach { case (k, c) =>
      assert(brute.contains(k), s"false positive pair $k")
      assert(brute(k) === c)
    }
    val recall = if (brute.isEmpty) 1.0 else lsh.size.toDouble / brute.size
    info(f"LSH near-dup recall = $recall%.2f over ${brute.size} brute pairs")
    assert(brute.nonEmpty && recall >= 0.4, s"recall $recall too low for defaults")
  }

  test("IVF top-k: exact cosines on candidates, recall vs brute force") {
    val brute = EmbedOps.cosineTopK(spark, dir, k = 5, nQueries = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val ivf = EmbedOps.ivfTopK(spark, dir, k = 5, nQueries = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val common = brute.keySet intersect ivf.keySet
    common.foreach(k => assert(brute(k) === ivf(k)))
    val recall = common.size.toDouble / brute.size
    info(f"IVF recall@5 = $recall%.2f (nlist=16, nprobe=4)")
    // 0.87 measured with the Lloyd-refined centroids — pinned so a
    // quantizer regression (e.g. losing the refinement) fails loudly
    assert(recall >= 0.85, s"recall $recall below the refined-centroid level")
  }

  test("chunking: overlap-stitched chunks reconstruct the full token stream") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split("\\W+").filter(_.nonEmpty).toSeq)
      .toMap
    val chunks = DocOps.chunkDocs(spark, dir, chunkTokens = 50, overlap = 10).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .groupBy(_._1)
    assert(chunks.nonEmpty)
    chunks.foreach { case (id, cs) =>
      val ordered = cs.sortBy(_._2)
      // chunk 0 whole, then drop the `overlap` carried tokens of each next
      val stitched = ordered.head._4.split(' ').toSeq ++
        ordered.tail.flatMap(_._4.split(' ').drop(10).toSeq)
      assert(stitched === docs(id), s"doc $id reconstruction")
      ordered.foreach { case (_, _, n, txt) => assert(txt.split(' ').length === n) }
      assert(ordered.map(_._2) === ordered.indices.map(identity), s"doc $id chunk_idx gapless")
    }
  }

  test("chunking property: reconstruction holds across parameter combos") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split("\\W+").filter(_.nonEmpty).toSeq)
      .toMap
    for ((chunk, overlap) <- Seq((1, 0), (7, 0), (13, 5), (200, 40))) {
      val chunks = DocOps.chunkDocs(spark, dir, chunkTokens = chunk, overlap = overlap)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3))).groupBy(_._1)
      chunks.foreach { case (id, cs) =>
        val ordered = cs.sortBy(_._2).map(_._3.split(' ').toSeq)
        val stitched = ordered.head ++ ordered.tail.flatMap(_.drop(overlap))
        assert(stitched === docs(id), s"doc $id chunk=$chunk overlap=$overlap")
        // no fully-redundant tails: every chunk past the first must carry
        // at least one NEW token beyond its overlap carry
        ordered.tail.foreach(c =>
          assert(c.length > overlap, s"doc $id redundant tail chunk=$chunk overlap=$overlap"))
      }
      assert(chunks.keySet === docs.keySet.filter(docs(_).nonEmpty))
    }
    intercept[IllegalArgumentException] {
      DocOps.chunkDocs(spark, dir, chunkTokens = 10, overlap = 10)
    }
  }

  test("stratified sample: deterministic, strata rates honored") {
    val s1 = DocOps.stratifiedSample(spark, dir).collect().map(_.toSeq)
    val s2 = DocOps.stratifiedSample(spark, dir).collect().map(_.toSeq)
    assert(s1.toSeq === s2.toSeq, "sampling must be run-to-run deterministic")
    val total = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = s1.groupBy(_(1)).view.mapValues(_.size.toLong).toMap
    // non-en strata keep everything; en keeps ~25% (hash-uniform, loose CI)
    total.foreach { case (lang, n) =>
      if (lang == "en") {
        val rate = kept.getOrElse(lang, 0L).toDouble / n
        assert(rate > 0.10 && rate < 0.45, s"en keep-rate $rate far from 0.25")
      } else assert(kept.getOrElse(lang, 0L) === n, s"stratum $lang must be fully kept")
    }
  }

  test("decontamination: benchmark excluded, shared-shingle counts are true") {
    val flagged = DocOps.decontaminate(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.keys.forall(_ >= 20L), "benchmark docs must not flag themselves")
    // independent recount for a sample of flagged docs
    def shingleSet(text: String): Set[String] = {
      val t = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
      (if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toSet else Set.empty[String])
    }
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val benchShingles = texts.filter(_._1 < 20L).values.flatMap(shingleSet).toSet
    flagged.take(10).foreach { case (id, n) =>
      val trueShared = (shingleSet(texts(id)) intersect benchShingles).size
      assert(trueShared.toLong === n, s"doc $id shared-count")
      assert(n >= 3L)
    }
  }

  test("qualityExpr is the same formula the batch quality query emits") {
    val viaExpr = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), DocOps.qualityExpr(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    DocOps.qualityScore(spark, dir).collect().foreach { r =>
      assert(viaExpr(r.getLong(0)) === r.getDouble(6), s"doc ${r.getLong(0)}")
    }
  }

  test("PII scrub: injected markers counted and redacted; others untouched") {
    val rows = DocOps.scrubPii(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    rows.foreach { case (id, (emails, ips)) =>
      if (id % 7 == 0) assert(emails === 1, s"doc $id email count")
      else assert(emails === 0, s"doc $id spurious email")
      if (id % 7 != 0 && id % 11 == 0) assert(ips === 1, s"doc $id ip count")
    }
    // redaction really rewrites: clean hash of a marker doc differs from
    // the raw-text md5 fingerprint (d5) of the same doc
    val fp = DocOps.fingerprint(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val clean = DocOps.scrubPii(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(clean(0L) !== fp(0L))
  }

  test("repetition signals are in [0,1) and word-soup docs repeat more at n=2") {
    val rows = DocOps.repetitionSignals(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, d2, d3, d4) =>
      assert(d2 >= 0.0 && d2 < 1.0 && d3 >= 0.0 && d4 >= 0.0, s"doc $id")
      assert(d2 >= d3 && d3 >= d4, s"doc $id: shorter n-grams repeat at least as much")
    }
    assert(rows.exists(_._2 > 0.0), "corpus should show some bigram repetition")
  }

  test("repetition signals: docs shorter than n tokens yield 0.0, not a crash") {
    import spark.implicits._
    // sequence(1, 0) in Spark is the DESCENDING [1, 0] — unguarded, any doc
    // with < n tokens made the n-gram transform call element_at(toks, 0)
    // and fail the whole query (INVALID_ARRAY_INDEX_IN_ELEMENT_AT)
    val tmp = java.nio.file.Files.createTempDirectory("graft-short").toString
    Seq((0L, ""), (1L, "one"), (2L, "one two"), (3L, "one two three"),
      (4L, "one two three four"), (5L, "aa aa aa aa aa aa"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = DocOps.repetitionSignals(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(rows(0L) === ((0.0, 0.0, 0.0)))
    assert(rows(1L) === ((0.0, 0.0, 0.0)))
    assert(rows(2L) === ((0.0, 0.0, 0.0)), "one bigram is trivially distinct")
    assert(rows(3L)._2 === 0.0 && rows(3L)._3 === 0.0)
    assert(rows(4L)._3 === 0.0, "exactly one 4-gram")
    assert(rows(5L)._1 === 0.8, "aa-soup: 5 bigrams, 1 distinct")
  }

  test("minhash LSH: reported Jaccards are true, exact-dup docs always surface") {
    import spark.implicits._
    // independent check of the KM-hash d7 path: planted near-dups + an
    // exact duplicate pair; true Jaccard recomputed with plain Scala sets
    val base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val docs = Seq(
      0L -> base,
      1L -> base, // exact dup of 0: identical shingle set -> all 4 band keys equal -> MUST surface
      2L -> (base + " with an extra trailing sentence appended for partial overlap"),
      3L -> "completely different text about database query optimization and shuffle partitioning strategies here",
      4L -> "another unrelated document describing broadcast joins and adaptive execution in detail now")
    val tmp = java.nio.file.Files.createTempDirectory("graft-km").toString
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    def shingleSet(t: String): Set[String] = {
      val toks = t.toLowerCase.split("\\W+").filter(_.nonEmpty)
      toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    def trueJ(a: String, b: String): Double = {
      val (sa, sb) = (shingleSet(a), shingleSet(b))
      (sa & sb).size.toDouble / (sa | sb).size.toDouble
    }
    val byId = docs.toMap
    val pairs = graft.ops.DocOps.minhashLshPairs(spark, tmp, threshold = 0.3, dfCap = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L), "exact dup must always surface")
    pairs.foreach { case (a, b, j) =>
      assert(math.abs(j - trueJ(byId(a), byId(b))) < 1e-12, s"pair ($a,$b)")
      assert(j >= 0.3)
    }
    assert(!pairs.exists(p => Set(p._1, p._2).exists(Set(3L, 4L).contains)),
      "unrelated docs must not pair")
  }

  test("incremental near-dup: new-involved pairs only, index round-trip identical") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val other = "completely different text about database query optimization and shuffle partitioning strategies here"
    // ids chosen so doc_id % 4 = 0 marks the NEW batch in the query form;
    // here we split explicitly: old = {1,2,5}, new = {4,8}
    val docs = Seq(
      1L -> base,
      2L -> (base + " with an extra trailing sentence appended for partial overlap"),
      5L -> other,
      4L -> base,                                     // new: exact dup of old 1
      8L -> (other + " plus one more clause at the end"))  // new: near-dup of old 5
    val all = docs.toDF("doc_id", "text")
    val oldDocs = all.filter($"doc_id".isin(1L, 2L, 5L))
    val newDocs = all.filter($"doc_id".isin(4L, 8L))

    val inline = graft.ops.DocOps
      .incrementalNearDup(oldDocs, newDocs, None, threshold = 0.3, dfCap = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(inline.exists(p => p._1 == 1L && p._2 == 4L), "new exact dup of old must surface")
    assert(inline.exists(p => p._1 == 5L && p._2 == 8L), "new near-dup of old must surface")
    assert(!inline.exists(p => p._1 == 1L && p._2 == 2L),
      "old-old pairs are the INDEXED corpus' business, not the batch's")
    inline.foreach { case (a, b, _) => assert(Set(4L, 8L).contains(a) || Set(4L, 8L).contains(b)) }

    // the index persisted to parquet and reloaded must give identical rows
    val tmp = java.nio.file.Files.createTempDirectory("graft-ndidx").toString
    val idx = graft.ops.DocOps.nearDupIndexOf(oldDocs, dfCap = 1000)
    idx.stopShingles.write.mode("overwrite").parquet(s"$tmp/stop")
    idx.bands.write.mode("overwrite").parquet(s"$tmp/bands")
    val loaded = graft.ops.DocOps.NearDupIndex(
      spark.read.parquet(s"$tmp/stop"), spark.read.parquet(s"$tmp/bands"))
    val viaIndex = graft.ops.DocOps
      .incrementalNearDup(oldDocs, newDocs, Some(loaded), threshold = 0.3, dfCap = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(viaIndex.toSeq.sorted === inline.toSeq.sorted,
      "a reloaded index must reproduce the inline result exactly")
  }

  test("sequence packing: per-shard prefix-sum assignment, hand-computed") {
    import spark.implicits._
    val chunks = Seq(
      (0L, 0, 5), (0L, 1, 3), // shard 0
      (1L, 0, 4),             // shard 1
      (2L, 0, 6),             // shard 0
      (3L, 0, 2))             // shard 1
      .toDF("doc_id", "chunk_idx", "n_tokens")
    val packed = graft.ops.DocOps.packChunksOf(chunks, capacity = 8, nShards = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    // shard 0 order: (0,0) pre=0, (0,1) pre=5, (2,0) pre=8
    // shard 1 order: (1,0) pre=0, (3,0) pre=4
    assert(packed.toSeq === Seq(
      (0L, 0L, 0L, 0L, 0), (0L, 0L, 5L, 0L, 1), (0L, 1L, 0L, 2L, 0),
      (1L, 0L, 0L, 1L, 0), (1L, 0L, 4L, 3L, 0)))
    // every offset stays inside the window; every chunk appears exactly once
    packed.foreach { case (_, _, off, _, _) => assert(off >= 0 && off < 8) }
    assert(packed.length === 5)
    // degenerate knobs refuse loudly
    intercept[IllegalArgumentException] {
      graft.ops.DocOps.packChunksOf(chunks, capacity = 0, nShards = 2)
    }
  }

  test("decontamination: eval-gram overlap counts, hand-computed") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // 2 distinct 5-grams, 1 hit
      (2L, "one two three four five six seven"),   // 3 grams, 0 hits
      (3L, "tiny doc"))                            // < n tokens, no gram rows
      .toDF("doc_id", "text")
    val ev = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val out = graft.ops.DocOps.decontaminateOf(train, ev, n = 5, minHits = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq((1L, 2L, 1L, 0.5)))
    // minHits gates: raising it past the overlap empties the result
    assert(graft.ops.DocOps.decontaminateOf(train, ev, n = 5, minHits = 2).isEmpty)
  }

  test("repeated spans: cross-doc and doc-internal repeats, merge and gap semantics") {
    import spark.implicits._
    val docsDf = Seq(
      (1L, "x1 x2 p q r x3 x4"),              // cross-doc repeat of "p q r"
      (2L, "y1 p q r y2"),
      (3L, "a a a a a a"),                    // doc-internal: every window repeats
      (4L, "p q r z1 z2 z3 z4 z5 p q r"),     // two repeats split by a gap > W
      (5L, "u1 u2 u3 u4 u5 u6"))              // no repeated window anywhere
      .toDF("doc_id", "text")
    val withToks = docsDf.withColumn("toks",
      filter(split(lower(col("text")), "\\W+"), x => x =!= lit("")))
    val out = graft.ops.DocOps.repeatedSpansOf(withToks, window = 3, minDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 3L, 5L, 3L),   // "p q r" at tokens 3-5
      (2L, 2L, 4L, 3L),
      (3L, 1L, 6L, 6L),   // 4 overlapping hits merge into one maximal span
      (4L, 1L, 3L, 3L),   // gap of 8 > W=3 keeps the two regions separate
      (4L, 9L, 11L, 3L)))
    // degenerate knobs refuse loudly
    intercept[IllegalArgumentException] {
      graft.ops.DocOps.repeatedSpansOf(withToks, window = 1)
    }
    intercept[IllegalArgumentException] {
      graft.ops.DocOps.repeatedSpansOf(withToks, window = 3, minDf = 1)
    }
  }

  test("quality classifier: logits match an independent JDK reimplementation") {
    import spark.implicits._
    def hash60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    def logitOf(text: String, buckets: Int): (Long, Long) = {
      val toks = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
      val l = toks.map { t =>
        val slot = hash60(t) % buckets
        hash60(s"w:$slot") % 31 - 15
      }.sum
      (l, toks.length.toLong)
    }
    val docsDf = Seq(
      (1L, "the marsh sediment sample shows high salinity"),
      (2L, "a b c d e f g h"),
      (3L, "one token repeated token repeated token"))
      .toDF("doc_id", "text")
    val withToks = docsDf.withColumn("toks",
      filter(split(lower(col("text")), "\\W+"), x => x =!= lit("")))
    val got = graft.ops.DocOps.qualityClassifyOf(withToks, buckets = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val want = Seq(1L, 2L, 3L).map { id =>
      val text = docsDf.filter(col("doc_id") === id).head().getString(1)
      val (l, n) = logitOf(text, 64)
      (id, l, n, if (l > 0) 1L else 0L)
    }
    assert(got === want)
    intercept[IllegalArgumentException] {
      graft.ops.DocOps.qualityClassifyOf(withToks, buckets = 0)
    }
  }

  test("domain mixture: weight semantics, rate saturation, monotone buckets") {
    val all = spark.read.parquet(s"$dir/documents.parquet")
    // a lang absent from the weight map is dropped entirely
    val enOnly = DocOps.domainMixSample(spark, dir, weights = Map("en" -> 1.0))
      .collect()
    assert(enOnly.nonEmpty && enOnly.forall(_.getString(1) == "en"))
    // full budget on one lang saturates its rate at 1.0: every en doc kept
    val enAll = DocOps.domainMixSample(spark, dir,
      weights = Map("en" -> 1.0), budgetFrac = 1.0).collect()
    val nEn = all.filter(col("lang") === "en").count()
    assert(enAll.length.toLong === nEn)
    // raising a weight only ever ADDS docs (threshold rule is monotone)
    val low = DocOps.domainMixSample(spark, dir, weights = Map("en" -> 0.1))
      .collect().map(_.getLong(0)).toSet
    val high = DocOps.domainMixSample(spark, dir, weights = Map("en" -> 0.3))
      .collect().map(_.getLong(0)).toSet
    assert(low.subsetOf(high))
    assert(low.size < high.size, "higher budget share must keep more docs")
    intercept[IllegalArgumentException] {
      DocOps.domainMixSample(spark, dir, budgetFrac = 0.0)
    }
  }

  test("semantic dedup: removals are exactly the keep-first rule within cells") {
    // e6 must agree with an independent reconstruction from the brute
    // cosine pairs + its own cell assignment: removed == { b | exists a < b
    // in the same cell with cosine(a, b) >= threshold }
    val theta = 0.38
    val out = EmbedOps.semanticDedup(spark, dir, threshold = theta).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(out.length.toLong === nVecs, "one row per vector")
    val cellOf = out.map(t => t._1 -> t._2).toMap
    val brute = EmbedOps.cosineNearDupPairs(spark, dir, threshold = theta)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expectRemoved = brute.collect {
      case (a, b) if cellOf(a) == cellOf(b) => b
    }.toSet
    val gotRemoved = out.collect { case (id, _, kept) if kept == 0L => id }.toSet
    assert(gotRemoved === expectRemoved)
    assert(gotRemoved.nonEmpty, "threshold chosen so the dedup provably bites")
    assert(gotRemoved.size < nVecs, "dedup must keep representatives")
  }

  test("zero embeddings score NULL cosine (excluded), never ANSI divide-by-zero") {
    import spark.implicits._
    // Spark 4 defaults ANSI mode ON where 0/0 throws — one all-zero vector
    // in a real corpus must not kill the similarity queries
    val tmp = java.nio.file.Files.createTempDirectory("graft-zvec").toString
    val vecs = (0L until 20L).map { i =>
      val v = if (i == 7L) Array.fill(8)(0f)
        else Array.tabulate(8)(d => ((i * 31 + d * 17) % 13).toFloat - 6f)
      (i, v)
    }
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val brute = EmbedOps.cosineNearDupPairs(spark, tmp, threshold = -2.0).collect()
    assert(brute.nonEmpty)
    // threshold -2 keeps EVERY real pair; only pairs touching vec 7 drop
    assert(!brute.exists(r => r.getLong(0) == 7L || r.getLong(1) == 7L))
    assert(brute.length === (19 * 18) / 2)
    val topk = EmbedOps.cosineTopK(spark, tmp, k = 3, nQueries = 2).collect()
    assert(topk.length === 6)
    assert(!topk.exists(_.getLong(2) == 7L), "zero vector must never rank in top-k")
    val lsh = EmbedOps.lshNearDupPairs(spark, tmp, threshold = -2.0).collect()
    assert(!lsh.exists(r => r.getLong(0) == 7L || r.getLong(1) == 7L))
  }

  test("zero embeddings never rank-pad top-k when real neighbors are scarce") {
    import spark.implicits._
    // the scarce-neighbor case: with < k non-null neighbors, NULL cosine
    // sorts last but row_number still hands it a rank <= k — the zero
    // vector must be EXCLUDED, not rank-padded
    val tmp = java.nio.file.Files.createTempDirectory("graft-zvec2").toString
    Seq(
      (0L, Array.tabulate(8)(_.toFloat + 1f)),
      (1L, Array.tabulate(8)(d => 2f * d + 1f)),
      (2L, Array.fill(8)(0f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    for ((name, rows) <- Seq(
        "brute" -> EmbedOps.cosineTopK(spark, tmp, k = 3, nQueries = 1).collect(),
        "lsh" -> EmbedOps.lshTopK(spark, tmp, k = 3, nQueries = 1,
          nPlanes = 1, nTables = 4).collect(),
        "ivf" -> EmbedOps.ivfTopK(spark, tmp, k = 3, nQueries = 1,
          nlist = 2, nprobe = 2).collect())) {
      assert(rows.forall(_.getLong(2) != 2L), s"$name: zero vector rank-padded in")
      assert(rows.forall(!_.isNullAt(3)), s"$name: NULL cosine emitted")
      assert(rows.map(_.getLong(2)).toSet === Set(1L), s"$name: the one real neighbor")
    }
  }

  test("vec_dot expression == a plain Scala left fold, bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the native expression replaced zip_with+aggregate in every cosine
    // path on a bit-parity contract: a left fold in double from 0.0, NULL
    // when an element is NULL or the lengths differ. Pin it against that
    // fold in plain Scala on real float data, on a double literal side,
    // and on the NULL/mismatch edge cases
    def fold(a: Seq[Any], b: Seq[Any]): Option[Double] =
      if (a.length != b.length || a.contains(null) || b.contains(null)) None
      else Some(a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
        acc + x.asInstanceOf[Number].doubleValue * y.asInstanceOf[Number].doubleValue })
    def same(native: Double, ref: Option[Double], what: String): Unit =
      assert(ref.exists(d => java.lang.Double.doubleToLongBits(d) ==
        java.lang.Double.doubleToLongBits(native)), s"$what: $native vs $ref")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val both = e.select(col("embedding"),
      graft.ops.EmbedOps.dot(col("embedding"), col("embedding")).as("native"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val v = r.getSeq[Any](0)
      same(r.getDouble(1), fold(v, v), "float-side parity")
    }
    val lits = Array.tabulate(64)(i => (i % 7).toDouble / 3.0 - 1.0)
    val withLit = e.select(col("embedding"),
      graft.ops.EmbedOps.dot(col("embedding"), typedlit(lits.toSeq)).as("native"))
      .collect()
    withLit.foreach(r => same(r.getDouble(1), fold(r.getSeq[Any](0), lits.toSeq),
      "literal-side parity"))
    // NULL element and length-mismatch both yield NULL, like the fold
    val edge = Seq(
      (Seq[java.lang.Float](1f, null, 3f), Seq[java.lang.Float](1f, 2f, 3f)),
      (Seq[java.lang.Float](1f, 2f), Seq[java.lang.Float](1f, 2f, 3f)))
    val native = edge.toDF("a", "b")
      .select(graft.ops.EmbedOps.dot(col("a"), col("b")).as("native"))
      .collect()
    native.zip(edge).foreach { case (r, (a, b)) =>
      assert(r.isNullAt(0) && fold(a, b).isEmpty, s"edge rows must be NULL on both: $r")
    }
  }

  test("vec_best_cell / vec_top_cells == the replaced array shapes on adversarial rows") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // the old shapes: one struct(vec_dot(vec, row_c), cell) per cell, then
    // array_max / reverse(array_sort). Cells 3 and 5 share a row (exact
    // score ties on every input); cell 7's zero makes ±Inf·0 = NaN there.
    val cells = Seq(3, 7, 5, 1)
    val rows = Seq(Seq(1.0, 2.0, 1.0), Seq(0.0, 1.0, 1.0), Seq(1.0, 2.0, 1.0), Seq(-1.0, -1.0, -1.0))
    val inf = Double.PositiveInfinity
    def v(xs: java.lang.Double*): Seq[java.lang.Double] = xs
    val inputs: Seq[(String, Seq[java.lang.Double])] = Seq(
      "finite, tied" -> v(2.0, 1.0, 0.0),
      "ragged" -> v(1.0, 2.0),
      "null element" -> v(1.0, null, 0.0),
      "all-null elements" -> v(null, null, null),
      "NULL embedding" -> null,
      "NaN element" -> v(Double.NaN, 1.0, 1.0),
      "+Inf element" -> v(inf, 1.0, 1.0),
      "-Inf element" -> v(-inf, 1.0, 1.0),
      "overflow to ±Inf" -> v(1e308, 1e308, 0.0))
    val schema = StructType(Seq(StructField("name", StringType),
      StructField("v", ArrayType(DoubleType, containsNull = true))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(inputs.map { case (n, xs) => Row(n, xs) }), schema)
    val scored = array(cells.zip(rows).map { case (c, row) =>
      struct(graft.ops.EmbedOps.dot(col("v"), typedlit(row)).as("s"), lit(c).as("cell"))
    }: _*)
    val cellsLit = typedlit(cells)
    val matLit = typedlit(rows)
    val out = df.select(col("name"),
      graft.functions.GraftFunctions.vec_best_cell(col("v"), cellsLit, matLit).as("best"),
      array_max(scored).getField("cell").as("old_best"),
      graft.functions.GraftFunctions.vec_top_cells(col("v"), cellsLit, matLit, lit(4)).as("top"),
      slice(reverse(array_sort(scored)), 1, 4).getField("cell").as("old_top"),
      graft.functions.GraftFunctions.vec_top_cells(col("v"), cellsLit, matLit, lit(2)).as("top2"),
      slice(reverse(array_sort(scored)), 1, 2).getField("cell").as("old_top2"))
      .collect().map { r =>
        def opt[A](i: Int): Option[A] = if (r.isNullAt(i)) None else Some(r.getAs[A](i))
        r.getString(0) -> (opt[Int](1), opt[Int](2), opt[Seq[Int]](3), opt[Seq[Int]](4),
          opt[Seq[Int]](5), opt[Seq[Int]](6))
      }.toMap
    // where the native expressions deliberately differ from the old shapes:
    //  - a NULL embedding gives a NULL cell (null-intolerant), where the old
    //    shape scored every cell NULL and returned the max cell;
    //  - a NaN score sorts after every real score, like a NULL one, where
    //    Spark's ordering put NaN above every double (±Inf order normally)
    val differs = Map(
      "NULL embedding" -> (None, None, None),
      "+Inf element" -> (Some(5), Some(Seq(5, 3, 1, 7)), Some(Seq(5, 3))),
      "-Inf element" -> (Some(1), Some(Seq(1, 5, 3, 7)), Some(Seq(1, 5))))
    assert(out.keySet === inputs.map(_._1).toSet)
    for ((name, (best, oldBest, top, oldTop, top2, oldTop2)) <- out) differs.get(name) match {
      case Some((eBest, eTop, eTop2)) =>
        assert((best, top, top2) === ((eBest, eTop, eTop2)), s"$name: native result")
        assert((best, top, top2) !== ((oldBest, oldTop, oldTop2)), s"$name: expected to differ")
      case None =>
        assert(best === oldBest, s"$name: vec_best_cell")
        assert(top === oldTop, s"$name: vec_top_cells")
        assert(top2 === oldTop2, s"$name: vec_top_cells p=2")
    }
    // the agreeing rows, spelled out: ties go to the larger cell, an
    // all-NULL (or all-NaN) score vector orders cells descending
    assert(out("finite, tied")._1 === Some(5) && out("finite, tied")._3 === Some(Seq(5, 3, 7, 1)))
    for (n <- Seq("ragged", "null element", "all-null elements", "NaN element"))
      assert(out(n)._1 === Some(7) && out(n)._3 === Some(Seq(7, 5, 3, 1)), n)
    assert(out("overflow to ±Inf")._3 === Some(Seq(5, 3, 7, 1)))
  }

  test("vec_top_cells rejects a negative p with a readable message") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val top = Seq(Seq(1.0, 0.0)).toDF("v").select(
      graft.functions.GraftFunctions.vec_top_cells(col("v"), typedlit(Seq(0, 1)),
        typedlit(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))), lit(-1)).as("cells"))
    val e = intercept[Exception](top.collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => Option(t.getMessage).exists(_.contains("p must be >= 0, got -1"))),
      s"expected the p >= 0 requirement, got: ${chain.map(_.toString).mkString(" <- ")}")
    assert(!chain.exists(_.isInstanceOf[NegativeArraySizeException]))
  }

  test("bounded_min_set == slice(sort_array(collect_set)) with O(cap) state") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // parity on multi-group data with duplicates, shuffled arrival order
    val rnd = new scala.util.Random(7)
    val rows = (0 until 5000).map(_ => (rnd.nextInt(7), rnd.nextInt(400)))
    val df = rows.toDF("g", "v").repartition(8)
    val got = df.groupBy("g")
      .agg(graft.functions.GraftFunctions.bounded_min_set(spark, col("v"), 20).as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toSeq).toMap
    val exp = df.groupBy("g")
      .agg(slice(sort_array(collect_set(col("v"))), 1, 20).as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(got === exp)
    // a "mega group": 100k values through cap 5 — correctness holds and the
    // agg state stays 5 entries per partial buffer (the whole point)
    val big = (0 until 100000).map(i => (1, (i * 2654435761L % 1000003L).toInt))
      .toDF("g", "v").repartition(16)
    val bigGot = big.groupBy("g")
      .agg(graft.functions.GraftFunctions.bounded_min_set(spark, col("v"), 5).as("s"))
      .collect().head.getSeq[Int](1).toSeq
    val bigExp = big.select("v").distinct().orderBy("v").limit(5)
      .collect().map(_.getInt(0)).toSeq
    assert(bigGot === bigExp)
    // null inputs ignored, like collect_set
    val withNulls = Seq((1, Some(3)), (1, None), (1, Some(1)), (1, Some(3)))
      .toDF("g", "v")
    val n = withNulls.groupBy("g")
      .agg(graft.functions.GraftFunctions.bounded_min_set(spark, col("v"), 10).as("s"))
      .collect().head.getSeq[Int](1).toSeq
    assert(n === Seq(1, 3))
  }

  test("HLL approx distinct within its relative standard deviation bound") {
    graft.ops.RelationalOps.approxDistinct(spark, dir, rsd = 0.02).collect().foreach { r =>
      val (exact, approx) = (r.getLong(1), r.getLong(2))
      assert(math.abs(approx - exact).toDouble / exact <= 0.1,
        s"parts approx $approx vs exact $exact")
      val (eo, ao) = (r.getLong(3), r.getLong(4))
      assert(math.abs(ao - eo).toDouble / eo <= 0.1, s"orders approx $ao vs exact $eo")
    }
  }

  test("shingle df cap drops boilerplate stop-shingles from near-dup joins") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-dfcap").toString
    // 20 docs sharing one boilerplate sentence, otherwise pairwise-unique:
    // uncapped, the 4 shared shingles (df=20) alone push Jaccard to
    // 4/(8+8-4)=0.33 and make 190 all-pairs join hits — the stop-shingle
    // blowup. A df cap below 20 removes them and no pair survives.
    val docs = (0 until 20).map { i =>
      (i.toLong, s"shared boilerplate legal disclaimer sentence here unique$i token$i word$i extra$i",
        "en", "s", 1)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val uncapped = DocOps.ngramJaccardPairs(spark, tmp, threshold = 0.2, dfCap = 1000).collect()
    assert(uncapped.length === 190, "boilerplate must drive all 20*19/2 pairs uncapped")
    val capped = DocOps.ngramJaccardPairs(spark, tmp, threshold = 0.2, dfCap = 5).collect()
    assert(capped.isEmpty, s"df cap must drop boilerplate-only pairs, got ${capped.length}")
  }

  test("boilerplate strip removes exactly the covered spans, keeps clean text") {
    import spark.implicits._
    import graft.ops.DocOps
    val dir = java.nio.file.Files.createTempDirectory("graft-strip").toString
    Seq(
      (0L, "x alpha beta gamma y", "en"),
      (1L, "alpha beta gamma", "en"),
      (2L, "p q alpha beta gamma", "en"),
      (3L, "alpha beta gamma alpha beta gamma", "en"),
      (4L, "hello world entirely clean here", "en"),
      (5L, "so alpha beta gamma", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // "alpha beta gamma" occurs in 5 docs > cap 3 -> stop-shingle; every
    // token covered by one of its windows is dropped, nothing else
    val rows = DocOps.stripBoilerplate(spark, dir, dfCap = 3).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(rows(0L) === ((5, 2, "x y")))
    assert(rows(1L) === ((3, 0, "")))
    assert(rows(2L) === ((5, 2, "p q")))
    // doc 3: stop windows start at 1 and 4, covering all six positions
    assert(rows(3L) === ((6, 0, "")))
    assert(rows(4L) === ((5, 5, "hello world entirely clean here")))
    assert(rows(5L) === ((4, 1, "so")))
  }

  test("SQ top-k: rerank cosines exact, recall vs brute force") {
    val brute = EmbedOps.cosineTopK(spark, dir, k = 5, nQueries = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val sq = EmbedOps.sqTopK(spark, dir, k = 5, nQueries = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    // the rerank stage recomputes the EXACT cosine — any neighbor both
    // rankings agree on must carry the identical value
    val common = brute.keySet intersect sq.keySet
    common.foreach(k => assert(brute(k) === sq(k)))
    val recall = common.size.toDouble / brute.size
    info(f"SQ recall@5 = $recall%.2f (int8 codes, 4x overfetch)")
    assert(recall >= 0.85, s"recall $recall below the int8+overfetch level")
  }

  test("IVF×SQ top-k: exact rerank cosines, recall vs brute force") {
    val brute = EmbedOps.cosineTopK(spark, dir, k = 5, nQueries = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val composed = EmbedOps.ivfSqTopK(spark, dir, k = 5, nQueries = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    // the rerank recomputes the EXACT cosine — agreement must be exact
    val common = brute.keySet intersect composed.keySet
    common.foreach(k => assert(brute(k) === composed(k)))
    val recall = common.size.toDouble / brute.size
    info(f"IVF×SQ recall@5 = $recall%.2f (nlist=16, nprobe=4, int8 codes)")
    // the composition can only lose candidates the cell restriction
    // already lost — pinned at e4's refined-centroid level
    assert(recall >= 0.85, s"recall $recall below the composed IVF+SQ level")
  }

  test("e2 brute near-dup refuses corpora past maxVectors") {
    // the exact O(n²) baseline must fail LOUDLY before building a
    // corpus×corpus crossJoin — the scale paths are e5/e6
    val ex = intercept[IllegalArgumentException] {
      EmbedOps.cosineNearDupPairs(spark, dir, maxVectors = 10)
    }
    assert(ex.getMessage.contains("lshNearDupPairs"))
    // an explicit raise keeps the exact sweep available
    assert(EmbedOps.cosineNearDupPairs(spark, dir, threshold = 0.9,
      maxVectors = 1000000).columns.toSeq === Seq("vec_a", "vec_b", "cosine"))
  }

  test("priority dedup: best-ranked source wins, ties by doc_id") {
    import spark.implicits._
    val df = Seq(
      (0L, "srcX", "aaa"), // unrankable suffix -> rank 999999, never wins
      (1L, "src2", "aaa"),
      (2L, "src1", "aaa"),
      (3L, "src1", "aaa"), // same rank as doc 2 -> doc_id tie-break
      (4L, "src0", "solo"),
      // a date-stamped suffix extracts 20240801 — far past the 2^40
      // packing's safe range; the rank CLAMPS to the 999999 sentinel
      // (sorts last) instead of overflowing the packed BIGINT under ANSI
      (5L, "crawl20240801", "dated"),
      (6L, "src3", "dated")
    ).toDF("doc_id", "source", "text")
    val r = DocOps.priorityDedupOf(df).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))).toMap
    // group "aaa": ranks (999999, 2, 1, 1) -> kept = doc 2 (rank 1, min id)
    assert(r(2L) === ((1L, 1L, 2L, 4L)))
    Seq(0L, 1L, 3L).foreach(id => assert(r(id)._2 === 0L, s"doc $id kept"))
    assert(r(0L)._1 === 999999L)
    Seq(0L, 1L, 3L).foreach(id => assert(r(id)._3 === 2L, s"doc $id kept_by"))
    assert(r(4L) === ((0L, 1L, 4L, 1L)))
    // group "dated": the clamped crawl source loses to src3
    assert(r(5L) === ((999999L, 0L, 6L, 2L)))
    assert(r(6L) === ((3L, 1L, 6L, 2L)))
  }

  test("bigram vocab: hand-computed pair counts, deterministic top-K cut") {
    import spark.implicits._
    val df = Seq(
      (0L, "a b a b"), // pairs: "a b", "b a", "a b"
      (1L, "a b c"),   // pairs: "a b", "b c"
      (2L, "x")        // no pairs
    ).toDF("doc_id", "text")
    val all = DocOps.bigramVocabOf(df, 10).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toSeq
    assert(all === Seq("a b" -> 3L, "b a" -> 1L, "b c" -> 1L))
    // the cut keeps the count-then-bigram order prefix
    val cut = DocOps.bigramVocabOf(df, 2).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toSeq
    assert(cut === all.take(2))
    intercept[IllegalArgumentException](DocOps.bigramVocabOf(df, 0))
  }

  test("BPE merge loop: matches an independent JDK implementation") {
    import spark.implicits._
    // Independent implementation of the documented spec — JDK string ops
    // only, nothing shared with the Spark op: overlapping adjacent pair
    // counts over distinct words, argmax by (count DESC, pair ASC),
    // two-pass non-overlapping literal replace as the merge-apply.
    def jdkBpe(texts: Seq[String], k: Int): Seq[(Int, String, String, Long)] = {
      val words = texts.flatMap(_.toLowerCase.split("\\W+").filter(_.nonEmpty))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      var reps = words.toSeq.map { case (w, f) => (" " + w.mkString(" ") + " ", f) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      var done = false
      for (i <- 1 to k if !done) {
        val counts = scala.collection.mutable.Map.empty[String, Long]
        reps.foreach { case (rep, f) =>
          val tk = rep.split(" ").filter(_.nonEmpty)
          (0 until tk.length - 1).foreach { j =>
            val p = tk(j) + " " + tk(j + 1)
            counts(p) = counts.getOrElse(p, 0L) + f
          }
        }
        if (counts.isEmpty) done = true
        else {
          val (pair, n) = counts.toSeq.minBy { case (p, c) => (-c, p) }
          out += ((i, pair, pair.replace(" ", ""), n))
          val pat = " " + pair + " "
          val rpl = " " + pair.replace(" ", "") + " "
          reps = reps.map { case (rep, f) => (rep.replace(pat, rpl).replace(pat, rpl), f) }
        }
      }
      out.toSeq
    }
    // planted corpus exercising the convention's edge cases: same-symbol
    // runs (aaaa), alternating chains (abab: consecutive occurrences share
    // a delimiter — pass 2 must finish them), multi-char merged symbols
    val texts = Seq("banana banana bandana", "aaaa abab abab cable banana",
      "banana cable table bable an na")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = DocOps.bpeMergesOf(df, 6).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val exp = jdkBpe(texts, 6)
    assert(got === exp)
    assert(got.length === 6)
    intercept[IllegalArgumentException](DocOps.bpeMergesOf(df, 0))
  }

  test("BPE driver-local loop == distributed loop (merges and encode)") {
    import spark.implicits._
    // same planted edge-case corpus as the JDK-spec test; localVocabCap = 0
    // forces the distributed per-round loop, the default cap takes the
    // r7 driver-local path — both must produce identical merge tables and
    // identical per-doc encodes
    val texts = Seq("banana banana bandana", "aaaa abab abab cable banana",
      "banana cable table bable an na", "!!!")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    try {
      val localM = DocOps.bpeMergesOf(df, 6).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val distM = DocOps.bpeMergesOf(df, 6, localVocabCap = 0L).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(localM === distM)
      assert(localM.length === 6)
      val localE = DocOps.bpeEncodeOf(df, 6).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      val distE = DocOps.bpeEncodeOf(df, 6, localVocabCap = 0L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      assert(localE === distE)
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("BPE encode: per-doc token counts match an independent JDK implementation") {
    import spark.implicits._
    // Independent of the Spark op AND of the merge-loop test above: runs
    // the same documented induction over a word→rep map, then encodes each
    // doc as the sum of its words' final symbol counts.
    def jdkEncode(texts: Seq[String], k: Int): Map[Long, (Long, Long)] = {
      def tokenize(t: String) = t.toLowerCase.split("\\W+").filter(_.nonEmpty).toSeq
      val freq = texts.flatMap(tokenize).groupBy(identity).view.mapValues(_.size.toLong).toMap
      var reps: Map[String, String] =
        freq.map { case (w, _) => w -> (" " + w.mkString(" ") + " ") }
      var done = false
      for (_ <- 1 to k if !done) {
        val counts = scala.collection.mutable.Map.empty[String, Long]
        reps.foreach { case (w, rep) =>
          val tk = rep.split(" ").filter(_.nonEmpty)
          (0 until tk.length - 1).foreach { j =>
            val p = tk(j) + " " + tk(j + 1)
            counts(p) = counts.getOrElse(p, 0L) + freq(w)
          }
        }
        if (counts.isEmpty) done = true
        else {
          val (pair, _) = counts.toSeq.minBy { case (p, c) => (-c, p) }
          val pat = " " + pair + " "
          val rpl = " " + pair.replace(" ", "") + " "
          reps = reps.map { case (w, rep) => w -> rep.replace(pat, rpl).replace(pat, rpl) }
        }
      }
      val wTok = reps.map { case (w, rep) => w -> rep.split(" ").count(_.nonEmpty).toLong }
      texts.zipWithIndex.map { case (t, i) =>
        val tk = tokenize(t)
        i.toLong -> ((tk.size.toLong, tk.map(wTok).sum))
      }.toMap
    }
    // includes a zero-token doc: it must survive the join-back as (0, 0)
    val texts = Seq("banana banana bandana", "aaaa abab abab cable banana",
      "banana cable table bable an na", "!!!")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    try {
      val got = DocOps.bpeEncodeOf(df, 6).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got === jdkEncode(texts, 6))
      assert(got(3L) === ((0L, 0L)))
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("co-occurrence lift: exact independence ratio on a hand-built frame") {
    import spark.implicits._
    val dict = graft.dict.EnvoDict.load()
    val ids = dict.intToCurie.keys.toSeq.sorted.take(3)
    val (ea, eb, ec) = (ids(0), ids(1), ids(2))
    // ea in convs 1-3, eb in convs 2-3, ec in conv 4 -> N = 4 convs,
    // one pair (ea, eb): n_ab = 2, lift = 2*4 / (3*2)
    val scores = Seq(
      ("c1", ea), ("c2", ea), ("c3", ea),
      ("c2", eb), ("c3", eb),
      ("c4", ec)).toDF("conv_id", "envo").withColumn("score", lit(1.0))
    val rows = graft.stages.TripleEmit.coOccurrenceLift(spark, scores, dict).collect()
    assert(rows.length === 1)
    val row = rows.head
    assert(row.getString(0) === dict.intToCurie(ea))
    assert(row.getString(1) === dict.intToCurie(eb))
    assert(row.getLong(2) === 2L)
    assert(row.getDouble(3) === 8.0 / 6.0)
  }

  test("concept degrees: both pair sides counted, strength sums conversations") {
    import spark.implicits._
    val dict = graft.dict.EnvoDict.load()
    val ids = dict.intToCurie.keys.toSeq.sorted.take(3)
    val (ea, eb, ec) = (ids(0), ids(1), ids(2))
    // pairs: (ea,eb) in c2,c3 and (ea,ec) in c4 ->
    // ea: degree 2 / 3 convs, eb: 1 / 2, ec: 1 / 1
    val scores = Seq(
      ("c1", ea), ("c2", ea), ("c3", ea), ("c4", ea),
      ("c2", eb), ("c3", eb),
      ("c4", ec)).toDF("conv_id", "envo").withColumn("score", lit(1.0))
    val pairs = graft.stages.TripleEmit.coOccurrence(scores)
    val rows = graft.stages.TripleEmit.conceptDegrees(spark, pairs, dict).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows === Map(
      dict.intToCurie(ea) -> ((2L, 3L)),
      dict.intToCurie(eb) -> ((1L, 2L)),
      dict.intToCurie(ec) -> ((1L, 1L))))
  }

  test("walk centrality: exact integer power iteration on a hand-built graph") {
    import spark.implicits._
    val dict = graft.dict.EnvoDict.load()
    val ids = dict.intToCurie.keys.toSeq.sorted.take(3)
    val (ea, eb, ec) = (ids(0), ids(1), ids(2))
    // pairs: (ea,eb) in 2 convs, (ea,ec) in 1 -> w(A,B)=2, w(A,C)=1
    // x1 = (3, 2, 1); x2 = (5, 6, 3); x3 = (15, 10, 5); total = 30
    val scores = Seq(
      ("c1", ea), ("c1", eb),
      ("c2", ea), ("c2", eb),
      ("c3", ea), ("c3", ec)).toDF("conv_id", "envo").withColumn("score", lit(1.0))
    val pairs = graft.stages.TripleEmit.coOccurrence(scores)
    try {
      val rows = graft.stages.TripleEmit.walkCentrality(spark, pairs, dict).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
      assert(rows === Map(
        dict.intToCurie(ea) -> ((3L, 5L, 15L, 15.0 / 30.0)),
        dict.intToCurie(eb) -> ((2L, 6L, 10L, 10.0 / 30.0)),
        dict.intToCurie(ec) -> ((1L, 3L, 5L, 5.0 / 30.0))))
      // the iters knob truncates the walk columns and renormalizes the share
      val one = graft.stages.TripleEmit.walkCentrality(spark, pairs, dict, iters = 1)
      assert(one.columns.toSeq === Seq("curie", "walk1", "share"))
      intercept[IllegalArgumentException](
        graft.stages.TripleEmit.walkCentrality(spark, pairs, dict, iters = 0))
      intercept[IllegalArgumentException](
        graft.stages.TripleEmit.walkCentrality(spark, pairs, dict, iters = 7))
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("concept trend: per-day counts and deltas on a hand-built timeline") {
    import spark.implicits._
    val dict = graft.dict.EnvoDict.load()
    val ids = dict.intToCurie.keys.toSeq.sorted.take(2)
    val (ea, eb) = (ids(0), ids(1))
    val scores = Seq(
      ("c1", ea), ("c2", ea), ("c3", ea),
      ("c3", eb), ("c4", eb)).toDF("conv_id", "envo").withColumn("score", lit(1.0))
    val convDays = Seq(("c1", 1), ("c2", 1), ("c3", 2), ("c4", 5))
      .toDF("conv_id", "day")
    val rows = graft.stages.TripleEmit.conceptTrend(spark, scores, convDays, dict)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    // ea: day1 n=2 (delta from nothing = 2), day2 n=1 (delta -1);
    // eb: day2 n=1 (first bucket, delta 1), day5 n=1 (flat, delta 0)
    assert(rows === Map(
      (dict.intToCurie(ea), 1) -> ((2L, 2L)),
      (dict.intToCurie(ea), 2) -> ((1L, -1L)),
      (dict.intToCurie(eb), 2) -> ((1L, 1L)),
      (dict.intToCurie(eb), 5) -> ((1L, 0L))))
  }

  test("cluster split: near-dup classes never straddle train/eval") {
    import spark.implicits._
    val docIds = (0L to 4L).map(Tuple1(_)).toDF("doc_id")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L))
      .toDF("doc_id", "representative")
    val r = DocOps.clusterSplitOf(docIds, clusters, 0.75).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getString(2)))).toMap
    assert(r.keySet === Set(0L, 1L, 2L, 3L, 4L))
    // a doc with no near-dup keeps its own id as the split key
    assert(r(0L)._1 === 0L)
    // same representative -> same split, unconditionally
    assert(r(1L)._1 === 1L && r(2L)._1 === 1L && r(1L)._2 === r(2L)._2)
    assert(r(3L)._1 === 3L && r(4L)._1 === 3L && r(3L)._2 === r(4L)._2)
    // the bucket is the documented SALTED md5 construction (independent
    // JDK digest; the 'split:' salt decorrelates it from d12's sample key)
    def expected(rep: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"split:$rep".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      val bucket = java.lang.Long.parseLong(hex.substring(0, 6), 16)
      if (bucket < (0.75 * (1 << 24)).toLong) "train" else "eval"
    }
    (0L to 4L).foreach(id => assert(r(id)._2 === expected(r(id)._1), s"doc $id"))
    intercept[IllegalArgumentException](DocOps.clusterSplitOf(docIds, clusters, 0.0))
    intercept[IllegalArgumentException](DocOps.clusterSplitOf(docIds, clusters, 1.0))
  }

  test("cluster split end-to-end: full corpus covered, no cluster straddles") {
    val r = DocOps.clusterSplit(spark, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(r.length.toLong === nDocs)
    assert(r.map(_._1).distinct.length === r.length, "one row per doc")
    // every near-dup cluster lands wholly on one side
    r.groupBy(_._2).foreach { case (rep, docs) =>
      assert(docs.map(_._3).distinct.length === 1, s"cluster $rep straddles") }
    // and the real chain produces at least one multi-doc cluster plus both
    // split labels at this SF (guards against a degenerate pass)
    assert(r.groupBy(_._2).exists(_._2.length > 1), "no near-dup cluster found")
    assert(r.map(_._3).distinct.sorted.toSeq === Seq("eval", "train"))
  }

  test("exact dedup: every group keeps its minimum doc_id") {
    val d = DocOps.exactDedup(spark, dir)
    assert(d.count() > 0)
    assert(d.filter(col("n_copies") < 1).count() === 0)
  }

  test("entry() smoke: flagship returns annotated triples") {
    val e = SparkEntry.entry(spark)
    assert(e.count() > 0)
    assert(e.columns.contains("subj") && e.columns.contains("obj"))
  }
}
