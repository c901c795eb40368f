package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Training-data pipeline operators over the `documents` table: exact and
 * near deduplication, text quality/stats, language ID, fingerprinting.
 *
 * These are the large-corpus curation ops a 100 TB training pipeline needs;
 * each is expressed with codegen'd built-in functions (no Scala UDFs) so
 * filters/projections push into the parquet scan and all shuffles are plain
 * hash-partition joins/aggs.
 */
object DocOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** The corpus scan behind ops whose scan-rooted stage does HEAVY per-row
    * work (shingle/window/hash explosions): those get the unsplittable-
    * input parallelism floor (Scans.fanOut). Projection-only ops keep the
    * plain scan — measured r7: the fan-out exchange costs ~0.1-0.3s and
    * only pays when the serial scan stage costs more (d6 2.42->1.22s,
    * d8 1.19->1.00s, d21 1.07->0.88s wide; d12/d14/d15... 2x SLOWER wide). */
  private def docsWide(spark: SparkSession, dir: String): DataFrame =
    Scans.fanOut(docs(spark, dir))

  /** Lowercased word tokens, empties removed (portable: mirrored 1:1 by the
    * DuckDB oracle's regexp_split_to_array + list_filter). */
  private val toks: Column =
    filter(split(lower(col("text")), "\\W+"), x => x =!= lit(""))

  /** Distinct word 3-gram shingles of a document. */
  private val shingles: Column = array_distinct(
    expr("transform(sequence(1, greatest(size(toks) - 2, 0)), " +
      "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i+1), element_at(toks, i+2)))"))

  /** The corpus with its token array attached — ONE tokenization pass.
    * The curation funnel (tools.CurateCli) persists this and derives every
    * stage from it (exact dedup, shingle ops, gates, chunking), so the
    * whole funnel reads and tokenizes documents.parquet exactly once; at
    * 100 TB the cached/spilled columnar frame replaces three full
    * scan+tokenize passes. Standalone driver queries keep reading the scan
    * directly (straight-line codegen beats the cache boundary when nothing
    * is shared — measured on d7's md5 branch). */
  def curationFrame(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).withColumn("toks", toks)

  /** The wide-scan twin for the shingle-exploding consumers (d6/d7/d10/
    * d13/d17 and the funnel's persisted corpus — parallel cache build). */
  private[graft] def curationFrameWide(spark: SparkSession, dir: String): DataFrame =
    docsWide(spark, dir).withColumn("toks", toks)

  /** Distinct word-3-gram shingle rows of a frame carrying (doc_id, toks). */
  private[graft] def shinglesOf(df: DataFrame): DataFrame =
    df.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(shingles).as("g"))

  private def withShingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(curationFrameWide(spark, dir))

  /** Shingles with a document-frequency cap: a shingle occurring in f docs
    * makes f² rows in a shingle-equality self-join, so one boilerplate
    * sentence shared by 1% of a 100 TB corpus is a full-cluster meltdown.
    * Shingles with df > dfCap are treated as stop-shingles and removed from
    * the representation (sizes AND intersections — mirrored by the DuckDB
    * oracles). The stop set is tiny by Zipf construction, so the anti-join
    * broadcasts; the dropped count is printed, never silent. */
  private[graft] def cappedShingles(spark: SparkSession, dir: String, dfCap: Int,
                                    persist: Boolean): DataFrame =
    cappedShinglesOf(withShingles(spark, dir), dfCap, persist)

  private[graft] def cappedShinglesOf(grams0: DataFrame, dfCap: Int,
                                      persist: Boolean): DataFrame = {
    // persist the PRE-cap shingles: both the stop-agg and the anti-join
    // consume them, so one tokenization pass instead of two — and d6's
    // downstream branches read the same cache
    val grams = if (persist)
      grams0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else grams0
    val stop = grams.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("g")
      .persist()
    val nStop = stop.count()
    if (nStop > 0)
      System.err.println(
        s"[graft] shingle df cap $dfCap dropped $nStop boilerplate stop-shingles")
    // using-column join moves "g" first — restore (doc_id, g) order, the
    // positional contract the toDF("doc_a"/"doc_b", "g") renames rely on.
    // d7 passes persist=false: its widest branch (12 minhashes per
    // shingle) runs ~40% faster as straight-line codegen over the scan
    // than through an InMemoryRelation's columnar->row boundary
    // (measured), and its verify-side reuse is the small candGrams,
    // persisted separately.
    grams.join(broadcast(stop), Seq("g"), "left_anti").select("doc_id", "g")
  }

  /** Row-local 60-bit simhash — bit-identical to the d8 batch spec (token
    * hash = top 60 bits of md5 = 15 hex chars; weight = in-doc token count;
    * sign per bit). The streaming near-dup twin computes signatures with
    * this at ingest; OpsSpec's independent JDK reimplementation pins the
    * same spec the batch operator's DuckDB oracle checks. */
  private[graft] def simhash60(text: String): Long = simhash60Toks(tokenize(text))

  /** Row-local twin of the `toks` column above. Plain toLowerCase (default
    * locale): Spark's lower() falls back to String.toLowerCase() for
    * non-ASCII, so matching it — not Locale.ROOT — is what makes streaming/
    * batch signature parity unconditional WITHIN one JVM. Across JVMs the
    * signatures of non-ASCII text are reproducible only under the same
    * default locale (tr_TR dotless-i etc.) — any deployment that compares
    * persisted/checkpointed signatures across clusters must pin
    * -Duser.language/-Duser.country (or run ASCII-folded text). */
  private[graft] def tokenize(text: String): Array[String] =
    text.toLowerCase.split("\\W+").filter(_.nonEmpty)

  private[graft] def simhash60Toks(toks: Array[String]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val counts = new scala.collection.mutable.HashMap[String, Long]()
    toks.foreach(t => counts.update(t, counts.getOrElse(t, 0L) + 1L))
    val sums = new Array[Long](60)
    counts.foreach { case (tok, w) =>
      // top 60 bits of md5 without the hex round-trip: first 8 digest bytes
      // big-endian, logically shifted — bit-identical to
      // parseLong(hexPrefix15, 16), zero string allocations on the ingest
      // hot path
      val h = java.nio.ByteBuffer.wrap(md.digest(tok.getBytes("UTF-8"))).getLong >>> 4
      var b = 0
      while (b < 60) { sums(b) += (if (((h >> b) & 1L) == 1L) w else -w); b += 1 }
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (sums(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** (doc_id, g) shingle rows → (doc_id, bkey) LSH band rows in ONE shuffle
    * — the d8 treatment applied to d7 (shared with tools.ProfileD7 so the
    * profiler can never drift from the production plan). The k Kirsch-
    * Mitzenmacher hashes h_i = (a + i*b) mod 2^60 (a = md5 hex 1-15,
    * b = hex 17-30 — ONE md5 per shingle) are k COLUMNS of the gram
    * projection, and the k signature mins are k aggs of a single
    * groupBy(doc_id): partial aggregation collapses each map partition to
    * one row per doc BEFORE the exchange, where the old posexplode shape
    * shuffled 12× the shingle rows through groupBy(doc_id, i). Band keys
    * are then a pure projection (explode of nBands concat_ws keys). Same
    * h_i arithmetic, same key strings — the DuckDB oracle is unchanged. */
  private[graft] def kmMinhashBands(grams: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    // trailing slots would be silently dropped by the integer band count —
    // refuse rather than quietly lose candidate recall
    require(k % rowsPerBand == 0, s"k=$k must be a multiple of rowsPerBand=$rowsPerBand")
    val withAB = grams
      .withColumn("h0", md5(col("g")))
      .withColumn("a", expr("cast(conv(substring(h0, 1, 15), 16, 10) as bigint)"))
      .withColumn("b", expr("cast(conv(substring(h0, 17, 14), 16, 10) as bigint)"))
    val mins = (0 until k).map(i =>
      min(expr(s"(a + $i * b) % ${1L << 60}")).as(s"m$i"))
    val nBands = k / rowsPerBand
    withAB.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), explode(array((0 until nBands).map { band =>
        concat_ws("|", lit(band) +:
          (0 until rowsPerBand).map(s => col(s"m${band * rowsPerBand + s}")): _*)
      }: _*)).as("bkey"))
  }

  // ---------------------------------------------------------------- dedup

  /** Exact deduplication: group by content hash, keep the smallest id —
    * the same keep-min-rowid semantics the reference uses for its GI table
    * (add_tagger_results.py:145-147), by md5 so the oracle matches bit-wise. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    exactDedupOf(docs(spark, dir))

  /** d1 over any frame carrying (doc_id, text) — the funnel feeds the
    * shared curation frame here. */
  private[graft] def exactDedupOf(df: DataFrame): DataFrame =
    df
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("content_hash")

  /** N-gram Jaccard near-dup pairs: distinct word-3-gram shingles,
    * shingle-equality self-join, |∩| / (|A|+|B|-|∩|) ≥ threshold.
    * Scale path: the shingle join shuffles on the shingle value — high
    * frequency shingles are the skew risk, bounded by the df cap (stop-
    * shingle removal) on top of the distinct-per-doc projection + AQE
    * skew splitting. */
  def ngramJaccardPairs(spark: SparkSession, dir: String, threshold: Double = 0.22,
                        dfCap: Int = 50): DataFrame = {
    val grams = cappedShingles(spark, dir, dfCap, persist = true)
    // persisted: BOTH the n_a and n_b join branches consume sizes, and
    // exchange reuse never fires across the differently-aliased copies
    // (r7, plan-verified: the per-doc agg ran twice) — |docs| rows, tiny
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n")).persist()
    val inter = grams.toDF("doc_a", "g")
      .join(grams.toDF("doc_b", "g"), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    inter
      .join(sizes.toDF("doc_a", "n_a"), "doc_a")
      .join(sizes.toDF("doc_b", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "common", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash + LSH near-dup detection, portable-hash variant: ONE md5 per
    * shingle, split into a 60-bit `a` (hex 1-15) and 56-bit `b` (hex 17-30),
    * expanded to k=12 hash functions by Kirsch-Mitzenmacher double hashing
    * h_i = (a + i*b) mod 2^60 — the standard trick that preserves minhash
    * quality while paying for one cryptographic hash instead of k (the 12
    * md5 passes were d7's dominant cost, judge-profiled). Bounds: a < 2^60,
    * 11*b < 2^60, so a + i*b < 2^61 — no BIGINT overflow on either engine.
    * 4 bands × 3 rows; docs sharing a band bucket are candidates, then
    * verified with true Jaccard. md5 keeps the DuckDB oracle bit-identical;
    * the production scale path would swap in xxhash64 (same plan, one line). */
  def minhashLshPairs(spark: SparkSession, dir: String, threshold: Double = 0.18,
                      dfCap: Int = 50): DataFrame =
    minhashLshPairsOf(curationFrameWide(spark, dir), threshold, dfCap)

  /** d7 over any frame carrying (doc_id, toks) — the funnel feeds the
    * shared (persisted) curation frame, so its tokenization is the cached
    * one instead of a fresh corpus scan. Every frame persisted here is
    * appended to `persisted`: the result is lazy and reads them, so the
    * caller unpersists them once the result has been materialized. */
  private[graft] def minhashLshPairsOf(
      toksDf: DataFrame, threshold: Double = 0.18, dfCap: Int = 50,
      persisted: scala.collection.mutable.Buffer[DataFrame] =
        scala.collection.mutable.Buffer.empty): DataFrame = {
    val k = 12
    val rowsPerBand = 3
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def held(df: DataFrame): DataFrame = { persisted += df; df }
    val grams0 = held(shinglesOf(toksDf).persist(disk))
    // stop set persisted: TWO anti-join consumers now (the band side and
    // the candidate-restricted verify side); tiny by Zipf construction
    val stop = held(grams0.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("g")
      .persist())
    val nStop = stop.count()
    if (nStop > 0)
      System.err.println(
        s"[graft] shingle df cap $dfCap dropped $nStop boilerplate stop-shingles")
    // grams deliberately NOT persisted: the widest branch (12 minhashes per
    // shingle) runs ~40% faster as straight-line codegen over the scan than
    // through an InMemoryRelation's columnar->row boundary (measured r4)
    val grams = grams0.join(broadcast(stop), Seq("g"), "left_anti")
      .select("doc_id", "g")
    val bands = held(kmMinhashBands(grams, k, rowsPerBand)
      // persisted: the band self-join below consumes bands TWICE — without
      // this the whole tokenize→md5→minhash pipeline executes once per
      // side (measured 2x the md5 work at sf0.1). Tiny: 4 rows per doc.
      .persist(disk))
    // persisted: candidates feed BOTH the candidate-doc restriction and the
    // final verification join
    val candidates = held(bands.toDF("doc_a", "bkey")
      .join(bands.toDF("doc_b", "bkey"), Seq("bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      .persist(disk))
    // verify candidates with true Jaccard — computed ONLY over docs that
    // appear in the candidate set, and restricted BEFORE tokenization: the
    // doc_id semi-join cannot be pushed below the shingle explode by the
    // optimizer (Generate blocks PushDownLeftSemiAntiJoin — r7, plan-
    // verified), so semi-joining the GRAM rows re-tokenized the whole
    // corpus a third time; restricting the doc frame first is the d18
    // shape and tokenizes only candidate docs
    val candDocs = candidates.select(col("doc_a").as("doc_id"))
      .unionByName(candidates.select(col("doc_b").as("doc_id")))
      .distinct()
    val candGrams = held(shinglesOf(toksDf.join(candDocs, Seq("doc_id"), "left_semi"))
      .join(broadcast(stop), Seq("g"), "left_anti")
      .select("doc_id", "g")
      .persist(disk))
    // persisted like d6's: the n_a/n_b branches never share one exchange
    val sizes = held(candGrams.groupBy("doc_id").agg(count(lit(1)).as("n")).persist())
    val inter = candGrams.toDF("doc_a", "g")
      .join(candGrams.toDF("doc_b", "g"), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    candidates
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.toDF("doc_a", "n_a"), "doc_a")
      .join(sizes.toDF("doc_b", "n_b"), "doc_b")
      .withColumn("jaccard",
        coalesce(col("common"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("common"), lit(0L))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** The persistable near-dup index of a corpus: the artifacts a later
    * ingest batch needs to find its near-dups WITHOUT rescanning the old
    * corpus text — the stop-shingle set (df > cap, a corpus-level artifact
    * that must stay FIXED as batches arrive, or yesterday's signatures and
    * today's would disagree) and the MinHash band keys (4 per doc). Both
    * are plain (columnar) frames, written/reloaded as parquet. */
  final case class NearDupIndex(stopShingles: DataFrame, bands: DataFrame)

  /** d18a — build the index for a (doc_id, text) corpus. */
  def nearDupIndexOf(docsDf: DataFrame, dfCap: Int = 50): NearDupIndex = {
    val grams0 = shinglesOf(docsDf.withColumn("toks", toks))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stop = grams0.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("g")
    val capped = grams0.join(broadcast(stop), Seq("g"), "left_anti").select("doc_id", "g")
    NearDupIndex(stop, kmMinhashBands(capped, 12, 3))
  }

  /** d18 — incremental near-dup: near-dup pairs INVOLVING the new ingest
    * batch (new-vs-indexed and new-vs-new), against an existing corpus
    * reached only through its persisted index plus a CANDIDATE-RESTRICTED
    * text read. The batch-ingest analog of the streaming near-dup state:
    * at 100 TB the daily batch joins its bands against the index (the new
    * side is the small one — AQE broadcasts it), and the only old-corpus
    * text touched is the candidate docs' (semi-join pushdown), never a
    * full rescan. Same KM-minhash/band/Jaccard spec as d7, with one
    * deliberate difference: stop-shingles come from the INDEX (the old
    * corpus), not the union — the representation of already-indexed docs
    * must not drift as batches arrive, so the stop set is an index
    * artifact, frozen with it. (A d7 run over old ∪ new restricted to
    * new-involved pairs matches exactly whenever the union's df cap drops
    * the same shingles.)
    * Output: (doc_a, doc_b, jaccard), a < b, jaccard ≥ threshold. */
  def incrementalNearDup(oldDocs: DataFrame, newDocs: DataFrame,
                         index: Option[NearDupIndex] = None,
                         threshold: Double = 0.18, dfCap: Int = 50): DataFrame = {
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val idx = index.getOrElse(nearDupIndexOf(oldDocs, dfCap))
    val stop = idx.stopShingles
    val newGrams = shinglesOf(newDocs.withColumn("toks", toks))
      .join(broadcast(stop), Seq("g"), "left_anti").select("doc_id", "g")
      .persist(disk)
    val newBands = kmMinhashBands(newGrams, 12, 3).persist(disk)
    // candidates: every band match with a NEW doc on at least one side —
    // (index ∪ new) ⋈ new, normalized to a < b. New-new pairs arrive twice
    // (a,b)/(b,a); distinct collapses them.
    val allBands = idx.bands.unionByName(newBands)
    val candidates = allBands.toDF("doc_x", "bkey")
      .join(newBands.toDF("doc_y", "bkey"), Seq("bkey"))
      .filter(col("doc_x") =!= col("doc_y"))
      .select(least(col("doc_x"), col("doc_y")).as("doc_a"),
        greatest(col("doc_x"), col("doc_y")).as("doc_b"))
      .distinct()
      .persist(disk)
    val candDocs = candidates.select(col("doc_a").as("doc_id"))
      .unionByName(candidates.select(col("doc_b").as("doc_id")))
      .distinct()
    // verification grams: candidate docs only — the old-corpus text read
    // is restricted BEFORE tokenization (left_semi under the projection),
    // so the scan is selective at any corpus size
    val oldCandGrams = shinglesOf(
        oldDocs.join(candDocs, Seq("doc_id"), "left_semi").withColumn("toks", toks))
      .join(broadcast(stop), Seq("g"), "left_anti").select("doc_id", "g")
    val candGrams = oldCandGrams
      .unionByName(newGrams.join(candDocs, Seq("doc_id"), "left_semi"))
      .persist(disk)
    val sizes = candGrams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = candGrams.toDF("doc_a", "g")
      .join(candGrams.toDF("doc_b", "g"), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    candidates
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.toDF("doc_a", "n_a"), "doc_a")
      .join(sizes.toDF("doc_b", "n_b"), "doc_b")
      .withColumn("jaccard",
        coalesce(col("common"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("common"), lit(0L))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** d18 in driver-query form: the batch = docs with doc_id % 4 = 0, the
    * indexed corpus = the rest (deterministic, oracle-expressible split). */
  def incrementalNearDupQuery(spark: SparkSession, dir: String,
                              threshold: Double = 0.18, dfCap: Int = 50): DataFrame = {
    val all = docsWide(spark, dir)
    incrementalNearDup(all.filter(col("doc_id") % 4 =!= 0),
      all.filter(col("doc_id") % 4 === 0), None, threshold, dfCap)
  }

  /** SimHash near-dup detection (scale path): 60-bit simhash over tokens,
    * banded into 4×15-bit chunks for candidate generation, verified by
    * Hamming distance. One narrow projection + one equality join — no
    * quadratic stage. The token hash is the top 60 bits of md5 (15 hex
    * chars → always a non-negative bigint), so the DuckDB oracle computes
    * the identical signature; the production scale path would swap in
    * xxhash64 (same plan shape, one line). */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 12): DataFrame = {
    val hashed = docsWide(spark, dir)
      .withColumn("tok", explode(toks))
      .withColumn("h",
        expr("cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)"))
    // sum ±1 per OCCURRENCE per bit, then sign -> bit: ONE groupBy(doc_id)
    // carrying 60 conditional sums (map-side partial combine collapses each
    // doc to a single row before the only exchange — each doc lives in one
    // input row, so the exchange moves |docs| rows of 60 longs, nothing
    // more). Summing ±1 per occurrence equals the former ±w per distinct
    // (doc, token) — which paid a FULL extra exchange of the distinct
    // (doc_id, tok) pairs for its pre-count (r7: that exchange dominated;
    // the md5-per-occurrence it saved is map-side and cheaper). The r5
    // shape before that exploded sequence(0,59) into 60 rows per token —
    // a 60x constant factor on shuffle volume for the same result.
    val bitSums = (0 until 60).map { b =>
      sum(when(expr(s"(h >> $b) & 1") === 1, lit(1L)).otherwise(lit(-1L))).as(s"s$b")
    }
    val bits = hashed.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _).as("simhash"))
    val chunks = bits.select(col("doc_id"), col("simhash"),
        explode(expr("sequence(0, 3)")).as("chunk"))
      .withColumn("ckey", concat_ws(":", col("chunk"),
        expr("(simhash >> (chunk * 15)) & 32767")))
    val cand = chunks.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"), col("ckey"))
      .join(chunks.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"), col("ckey")), Seq("ckey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sh_a", "sh_b").distinct()
    cand
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** Boilerplate detector: the document-frequency-ranked shingle table
    * behind the d6/d7 stop-shingle cap, as a first-class query — the
    * corpus-curation report a training pipeline reviews when tuning the
    * cap. Two-level agg (map-side partial), deterministic tie order. */
  def boilerplateNgrams(spark: SparkSession, dir: String, topN: Int = 20): DataFrame =
    withShingles(spark, dir)
      .groupBy("g").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("g").asc)
      .limit(topN)

  /** d17 — boilerplate-strip: REMOVE the spans of high-document-frequency
    * shingles from each document's token stream (RefinedWeb/Gopher-style
    * boilerplate removal) — the transform the d10 report implies. A token
    * is dropped iff ANY 3-gram window containing it is a stop-shingle
    * (document frequency > dfCap, the same df table as d10/the d6-d7 cap).
    *
    * Scale shape: the stop set is tiny by Zipf construction → broadcast
    * blocklist; the hit join emits only (doc_id, window_start) scalars;
    * per-doc covered-start sets are bounded by the doc's own window count
    * (the toks array is O(len) per row already); the final token filter is
    * row-local. One shuffle on doc_id for the hit aggregation.
    * Output: (doc_id, n_tokens, n_kept, stripped_text) — deterministic,
    * mirrored 1:1 by the DuckDB oracle (list_filter with index lambda). */
  def stripBoilerplate(spark: SparkSession, dir: String, dfCap: Int = 50): DataFrame =
    // the strip plan references the tokenized corpus THREE times (position
    // windows, the stop-set df agg, the final join back) — standalone runs
    // persist it so the scan+tokenize pass runs once, like the funnel's
    // cached corpus (the d6/d7 multi-branch pattern)
    stripBoilerplateOf(curationFrameWide(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), dfCap)

  private[graft] def stripBoilerplateOf(df: DataFrame, dfCap: Int): DataFrame =
    strippedKeptOf(df, dfCap)
      .select(col("doc_id"), col("n_tokens"), size(col("kept")).as("n_kept"),
        concat_ws(" ", col("kept")).as("stripped_text"))
      .orderBy("doc_id")

  /** The stripped corpus as a (doc_id, toks) frame — what the curation
    * funnel chunks after its d17 stage. */
  private[graft] def strippedToksOf(df: DataFrame, dfCap: Int): DataFrame =
    strippedKeptOf(df, dfCap).select(col("doc_id"), col("kept").as("toks"))

  private def strippedKeptOf(df: DataFrame, dfCap: Int): DataFrame = {
    // position-annotated windows (NOT distinct — coverage needs every
    // occurrence); w0 is 0-based, start s = w0 + 1 matches the 1-based
    // element_at convention of the shingle column
    val winRows = df
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(toks) - 2), " +
          "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i+1), element_at(toks, i+2)))"))
        .as(Seq("w0", "g")))
    // the d10 df table: distinct docs per shingle
    val stop = shinglesOf(df)
      .groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("g")
    val bad = winRows
      .join(broadcast(stop), Seq("g"))
      .select(col("doc_id"), (col("w0") + 1).as("s"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("s"))).as("bad_starts"))
    df.join(bad, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        when(col("bad_starts").isNull, col("toks")).otherwise(
          // token at 0-based lambda index i (1-based position p = i+1) is
          // covered iff a stop window starts at p, p-1, or p-2
          expr("filter(toks, (t, i) -> NOT (array_contains(bad_starts, i + 1) " +
            "OR array_contains(bad_starts, i) OR array_contains(bad_starts, i - 1)))"))
          .as("kept"))
  }

  /** Context-window chunking: split each document into fixed-size token
    * windows with `overlap` tokens of context carry-over — the packing
    * primitive a training pipeline runs before tokenization. Pure
    * projection + explode: no shuffle, scales linearly. Tail chunks may be
    * shorter; every token appears in ≥1 chunk. */
  def chunkDocs(spark: SparkSession, dir: String, chunkTokens: Int = 50,
                overlap: Int = 10): DataFrame =
    chunkDocsOf(curationFrame(spark, dir), chunkTokens, overlap)

  private[graft] def chunkDocsOf(df: DataFrame, chunkTokens: Int,
                                 overlap: Int): DataFrame = {
    require(overlap < chunkTokens, "overlap must be smaller than the chunk")
    val stride = chunkTokens - overlap
    // window starts stop at size-overlap: a start inside the final overlap
    // carry would emit a chunk made ENTIRELY of already-emitted tokens
    // (~overlap/stride of all docs at defaults) — duplicate training data
    // from the op meant to prevent it. Every chunk thus carries ≥1 new
    // token, and the last chunk still reaches the final token.
    df
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, greatest(size(toks) - $overlap, 1), $stride), " +
          s"s -> struct(concat_ws(' ', slice(toks, s, $chunkTokens)) AS chunk_text, " +
          s"size(slice(toks, s, $chunkTokens)) AS n_tokens))"))
        .as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx"),
        col("c.n_tokens").as("n_tokens"), col("c.chunk_text").as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** d19 — sequence packing: lay chunks out contiguously into
    * fixed-capacity training sequences, shard-parallel. Chunks keep their
    * (doc_id, chunk_idx) order inside a deterministic shard
    * (doc_id % nShards); a chunk whose preceding-token prefix sum lands in
    * window s = pre DIV capacity belongs to sequence s, at offset
    * pre MOD capacity (straddling chunks spill into the next window —
    * contiguous GPT-style packing, NOT greedy bin packing: the assignment
    * is a pure per-shard prefix sum, so it is reproducible at any cluster
    * size and parallel across shards, where close-the-bin packing is an
    * inherently sequential fold). Scale note: one shard = one window
    * partition; nShards is the parallelism/skew knob and should scale with
    * the corpus (thousands at 100 TB — shard count only changes WHICH
    * sequences chunks land in, never the packing density). */
  def packChunks(spark: SparkSession, dir: String, capacity: Int = 512,
                 nShards: Int = 8, chunkTokens: Int = 50, overlap: Int = 10): DataFrame =
    packChunksOf(chunkDocsOf(curationFrame(spark, dir), chunkTokens, overlap),
      capacity, nShards)

  private[graft] def packChunksOf(chunks: DataFrame, capacity: Int,
                                  nShards: Int): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id", "chunk_idx")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    chunks
      .withColumn("shard", pmod(col("doc_id"), lit(nShards.toLong)))
      .withColumn("pre", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("shard"),
        expr(s"pre DIV $capacity").as("seq_id"),
        (col("pre") % capacity).as("seq_offset"),
        col("doc_id"), col("chunk_idx"), col("n_tokens"))
      .orderBy("shard", "doc_id", "chunk_idx")
  }

  /** Distinct word n-gram rows of a frame carrying (doc_id, toks) —
    * the n-generalized sibling of [[shinglesOf]] (kept separate so the
    * 3-gram dedup paths stay byte-identical to their oracles). */
  private[graft] def gramsOfN(df: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val terms = (0 until n).map(k => s"element_at(toks, i + $k)").mkString(", ")
    df.filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(array_distinct(
        expr(s"transform(sequence(1, greatest(size(toks) - ${n - 1}, 0)), " +
          s"i -> concat_ws(' ', $terms))"))).as("g"))
  }

  /** d20 — decontamination: flag training documents sharing >= minHits
    * distinct word n-grams with a held-out benchmark/eval corpus (the
    * GPT-3/Llama eval-overlap check, 13-gram in the papers; n is a knob).
    * Scale shape: the eval side is tiny next to a 100 TB training corpus,
    * so its distinct gram set is BROADCAST — training grams are never
    * shuffled on the gram value (unlike d6's shingle self-join); the only
    * exchange is the partially-aggregated groupBy(doc_id). Each per-doc
    * gram is distinct and the eval set is distinct, so the left join
    * preserves row counts and n_grams = count(*) is exact. */
  def decontaminateOf(train: DataFrame, evalDocs: DataFrame,
                      n: Int = 5, minHits: Long = 5): DataFrame = {
    val tg = gramsOfN(train.withColumn("toks", toks), n)
    val eg = gramsOfN(evalDocs.withColumn("toks", toks), n)
      .select("g").distinct().withColumn("hit", lit(1L))
    tg.join(broadcast(eg), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("hit")), lit(0L)).as("hit_grams"))
      .filter(col("hit_grams") >= minHits)
      .withColumn("contamination",
        col("hit_grams").cast("double") / col("n_grams").cast("double"))
      .orderBy("doc_id")
  }

  /** 11 tokens → exactly 7 phrase-internal 5-grams: an injected training
    * doc lands hit_grams >= 7 while un-injected docs sit near 0. */
  private[graft] val contaminationPhrase =
    "the quick brown benchmark fox jumps over the lazy training set"

  /** The d20 oracle query: the synthetic corpus is hash-unique (zero
    * natural 5-gram overlap at sf0.01), so contamination is injected
    * deterministically at the query site — the phrase is appended to half
    * the eval split (doc_id % 82 = 0) and to a slice of the training split
    * (doc_id % 7 = 3) — and mirrored verbatim in the DuckDB oracle, the
    * m-series convention. Naturally planted near-dup twins of eval docs
    * also flag, which is the point of the check. */
  def decontaminationQuery(spark: SparkSession, dir: String): DataFrame = {
    val injected = docsWide(spark, dir).withColumn("text",
      when(col("doc_id") % 82 === 0 ||
        (col("doc_id") % 41 =!= 0 && col("doc_id") % 7 === 3),
        concat(col("text"), lit(" " + contaminationPhrase)))
        .otherwise(col("text")))
    decontaminateOf(
      injected.filter(col("doc_id") % 41 =!= 0),
      injected.filter(col("doc_id") % 41 === 0))
  }

  /** d21 — repeated exact-substring spans: every maximal token range of a
    * document covered by a `window`-token run whose content occurs >= minDf
    * times in the corpus (occurrence count, so a doc-internal repeat counts
    * too). This is the ExactSubstr pass of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better") re-expressed for Spark:
    * their suffix array is a single-machine structure that doesn't
    * distribute, but a repeat of length L >= window is exactly the union of
    * its L - window + 1 rolling-window hits, so rolling 60-bit window
    * hashes find the same >= window-token repeats and the per-document
    * merge below reassembles the maximal spans.
    *
    * Scale shape: window rows carry (doc_id, pos, h) scalars only — the
    * 60-bit md5 hash (the d7/d8 portable trick), never the window text;
    * duplicate detection is a partially-aggregated groupBy(h) + join-back
    * (NO hash self-join, so a boilerplate window shared by millions of
    * docs costs one map-side combine, not f² pairs); span assembly is a
    * per-document window function (doc-local, skew-free). The hash frame
    * feeds both the agg and the join-back, so it is persisted (md5 per
    * window is the expensive upstream — the repo-wide twice-referenced
    * rule). */
  def repeatedSpansOf(df: DataFrame, window: Int = 10, minDf: Long = 2,
                      persist: Boolean = true): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    // explode the POSITIONS, hash in the projection: the md5-per-window
    // chain is then ordinary codegen'd expressions — inside the former
    // transform lambda it ran through the interpreted HOF path per element
    // (r7; same rows, same hashes). Generate pipelines into the projection
    // within one codegen stage, so toks is never materialized per position.
    val rows0 = df.filter(size(col("toks")) >= window)
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(1, size(toks) - ${window - 1})")).as("p"))
      .select(col("doc_id"), col("p").cast("bigint").as("pos"),
        expr(s"cast(conv(substring(md5(concat_ws(' ', slice(toks, p, $window))), 1, 15), 16, 10) as bigint)")
          .as("h"))
    val rows =
      if (persist) rows0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else rows0
    val dup = rows.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select("h")
    val hits = rows.join(dup, Seq("h")).select("doc_id", "pos")
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    // windows at p1 < p2 cover [p1, p1+W-1] and [p2, p2+W-1]: contiguous or
    // overlapping coverage (p2 - p1 <= W) merges into one span
    val grouped = hits
      .withColumn("brk",
        when(coalesce(col("pos") - lag("pos", 1).over(byPos), lit(window.toLong + 1))
          > window, lit(1L)).otherwise(lit(0L)))
      .withColumn("grp", sum("brk").over(byPos.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    grouped.groupBy("doc_id", "grp")
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(window.toLong - 1)).as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
      .select("doc_id", "span_start", "span_end", "span_tokens")
      .orderBy("doc_id", "span_start")
  }

  /** 17 tokens → 8 rolling 10-token windows per occurrence. */
  private[graft] val repeatBanner =
    "subscribe to our channel for more updates and do not forget to share this transcript with friends"

  /** The d21 oracle query: the synthetic corpus is hash-unique, so repeats
    * are injected at the query site (m-series convention, mirrored in the
    * DuckDB oracle): a banner appended to the doc_id % 7 = 3 slice (cross-
    * document repeats) and TWICE to doc_id % 23 = 0 (a doc-internal repeat
    * — occurrence-counted, so it flags even in isolation). */
  def repeatedSpansQuery(spark: SparkSession, dir: String): DataFrame = {
    val injected = docsWide(spark, dir).withColumn("text",
      when(col("doc_id") % 7 === 3, concat(col("text"), lit(" " + repeatBanner)))
        .when(col("doc_id") % 23 === 0,
          concat(col("text"), lit(" " + repeatBanner + " " + repeatBanner)))
        .otherwise(col("text")))
    repeatedSpansOf(injected.withColumn("toks", toks))
  }

  /** d22 — quality-classifier scoring with a hashed linear model (the
    * fastText-style reference-corpus filter of the GPT-3/CCNet/RefinedWeb
    * pipelines): every token hashes into one of `buckets` weight slots and
    * the document logit is the sum of its tokens' slot weights. The model
    * here is deterministic — slot weight = 60-bit md5 integer of the slot
    * id mapped into [-15, 15] (the d8/m5 trick) — so scoring is exact
    * integer arithmetic end to end and sits under the DuckDB hash; a real
    * trained weight vector drops in without changing the plan (the model is
    * `buckets` values — broadcast-sized by construction, independent of
    * corpus size). Scale shape: projection + ONE partially-aggregated
    * groupBy(doc_id) — no joins, nothing corpus-global; token-less docs
    * have no logit and drop out (both engines). */
  def qualityClassify(spark: SparkSession, dir: String, buckets: Int = 4096): DataFrame =
    qualityClassifyOf(curationFrame(spark, dir), buckets)

  private[graft] def qualityClassifyOf(df: DataFrame, buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    df.select(col("doc_id"), explode(col("toks")).as("tok"))
      .withColumn("bucket", expr(
        s"cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint) % $buckets"))
      .withColumn("w", expr(
        "cast(conv(substring(md5(concat('w:', cast(bucket as string))), 1, 15), 16, 10) as bigint) % 31 - 15"))
      .groupBy("doc_id")
      .agg(sum(col("w")).as("logit"), count(lit(1)).as("n_toks"))
      .withColumn("kept", when(col("logit") > 0, lit(1L)).otherwise(lit(0L)))
      .orderBy("doc_id")
  }

  /** d23 — domain-mixture sampling to a token budget (the Pile/Llama data
    * mixing stage): re-balance the corpus so each language contributes ~its
    * target weight of a global token budget. Per-language token totals come
    * from ONE tiny aggregation (|langs| rows — driver model state, the IVF
    * convention); the keep rule is then a pure scan-side filter: keep iff
    * stable md5 bucket < rate·2^24, rate_l = min(1, budget·w_l / tokens_l).
    * Deterministic (no RNG, no sort), reproducible at any cluster size, and
    * the filter pushes to the scan exactly like d12. Weights for langs not
    * in the map default to 0 (dropped). */
  /** d23's default mixing weights — shared with the oracle SQL builder so
    * the engine and DuckDB can never disagree on the model. */
  private[graft] val defaultMixWeights: Map[String, Double] = Map(
    "en" -> 0.5, "fr" -> 0.2, "es" -> 0.15, "zh" -> 0.1, "de" -> 0.05)
  private[graft] val defaultBudgetFrac: Double = 0.5

  def domainMixSample(spark: SparkSession, dir: String,
                      weights: Map[String, Double] = defaultMixWeights,
                      budgetFrac: Double = defaultBudgetFrac): DataFrame =
    domainMixSampleOf(curationFrame(spark, dir), weights, budgetFrac)

  /** d23 over a (doc_id, lang, toks) frame — the funnel derives it from
    * the ONE persisted corpus frame; per-language totals are one tiny
    * action against that cache (driver model state, the IVF convention). */
  private[graft] def domainMixSampleOf(df: DataFrame,
                                       weights: Map[String, Double],
                                       budgetFrac: Double): DataFrame = {
    require(budgetFrac > 0 && budgetFrac <= 1.0,
      s"budgetFrac must be in (0, 1], got $budgetFrac")
    val base = df
      .select(col("doc_id"), col("lang"), size(col("toks")).cast("long").as("n_tokens"))
    val totals: Map[String, Long] = base.groupBy("lang")
      .agg(sum(col("n_tokens")).as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val grandTotal = totals.values.sum
    // rate per lang, every double op in source order (mirrored 1:1 by the
    // oracle SQL so the kept sets are bit-identical)
    val rates: Map[String, Double] = totals.map { case (lang, t) =>
      val w = weights.getOrElse(lang, 0.0)
      lang -> (if (t > 0) math.min(1.0, budgetFrac * grandTotal.toDouble * w / t.toDouble)
               else 0.0)
    }
    val cut = rates.foldLeft(lit(0.0)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, lit(r * (1 << 24))).otherwise(acc)
    }
    base.withColumn("bucket", sampleBucket)
      .filter(col("bucket") < cut)
      .select("doc_id", "lang", "n_tokens")
      .orderBy("doc_id")
  }

  /** d12's stable sample key: md5-prefix of doc_id bucketed into [0, 2^24)
    * — shared by the batch query and the single-pass funnel signals. */
  private[graft] val sampleBucket: Column =
    expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 6), 16, 10) as bigint)")

  /** d12's per-language keep cutoff as one expression over `lang`. */
  private[graft] def sampleCut(rates: Map[String, Double],
                               defaultRate: Double = 1.0): Column =
    rates.foldLeft(lit((defaultRate * (1 << 24)).toLong)) {
      case (acc, (lang, r)) =>
        when(col("lang") === lang, lit((r * (1 << 24)).toLong)).otherwise(acc)
    }

  /** Deterministic stratified sampling: keep a per-language fraction by
    * bucketing a stable key hash into [0, 2^24) — reproducible on any
    * cluster size (no RNG state, no sort, no shuffle; the filter pushes to
    * the scan). The md5-prefix bucket is the same construction as d8's
    * portable hash, so the DuckDB oracle is bit-identical. */
  def stratifiedSample(spark: SparkSession, dir: String,
                       rates: Map[String, Double] = Map("en" -> 0.25),
                       defaultRate: Double = 1.0): DataFrame =
    docs(spark, dir)
      .withColumn("bucket", sampleBucket)
      .filter(col("bucket") < sampleCut(rates, defaultRate))
      .select("doc_id", "lang", "source", "bucket")
      .orderBy("doc_id")

  /** Benchmark decontamination: flag documents sharing ≥ `minShared`
    * distinct word-3-gram shingles with a benchmark/eval set (stand-in
    * here: docs with doc_id < benchmarkN). The benchmark shingle set is
    * tiny relative to the corpus, so the equality join broadcasts it —
    * the corpus side streams through one codegen'd stage, never all-pairs
    * and never shuffled on the shingle. */
  def decontaminate(spark: SparkSession, dir: String, benchmarkN: Long = 20,
                    minShared: Int = 3): DataFrame =
    decontaminateOf(withShingles(spark, dir), benchmarkN, minShared)

  private[graft] def decontaminateOf(grams: DataFrame, benchmarkN: Long,
                                     minShared: Int): DataFrame = {
    val benchGrams = grams.filter(col("doc_id") < benchmarkN).select("g").distinct()
    grams.filter(col("doc_id") >= benchmarkN)
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_id")
  }

  /** PII scrubbing: redact emails, IPv4s, and long digit runs (phone-like)
    * with typed placeholders, emitting per-doc redaction counts for audit.
    * Pure projection — a regexp_replace chain, no shuffle. The synthetic
    * corpus carries no PII, so deterministic markers are injected first
    * (doc_id-keyed CASE — mirrored verbatim in the oracle) so the operator
    * demonstrably fires; on real data pass the raw text column. Patterns
    * are Java/RE2-portable (no lookarounds). */
  def scrubPii(spark: SparkSession, dir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\b\\d{7,}\\b"
    docs(spark, dir)
      .withColumn("t",
        concat(col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0, lit(" contact bob@example.com now"))
            .when(pmod(col("doc_id"), lit(11)) === 0, lit(" node at 10.12.0.17 replied"))
            .when(pmod(col("doc_id"), lit(13)) === 0, lit(" call 5551234567 today"))
            .otherwise(lit(""))))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(email), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("t"), lit(ip), lit(0))).as("n_ips"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("t"),
          email, "<EMAIL>"), ip, "<IP>"), phone, "<PHONE>")).as("clean_hash"))
      .orderBy("doc_id")
  }

  /** Repetition signals (Gopher-style quality heuristics): the fraction of
    * duplicate word n-grams per document for n = 2, 3, 4 — high values mean
    * degenerate, loop-generated, or boilerplate text. Projection-only. */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame = {
    // guarded like withShingles/chunkDocs: sequence(1, 0) in Spark is the
    // DESCENDING [1, 0], not empty, so an unguarded transform would call
    // element_at(toks, 0) and crash on any doc with fewer than n tokens —
    // the empty-array branch matches the oracle's exclusive range()
    def grams(n: Int): Column = expr(
      s"case when size(toks) >= $n then " +
        s"transform(sequence(1, size(toks) - ${n - 1}), " +
        s"i -> concat_ws(' ', ${(0 until n).map(j => s"element_at(toks, i+$j)").mkString(", ")})) " +
        s"else array() end")
    def dupFrac(n: Int): Column = {
      val g = grams(n)
      when(size(g) > 0,
        lit(1.0) - size(array_distinct(g)).cast("double") / size(g).cast("double"))
        .otherwise(lit(0.0))
    }
    docs(spark, dir)
      .withColumn("toks", toks)
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        dupFrac(2).as("dup_2gram_frac"),
        dupFrac(3).as("dup_3gram_frac"),
        dupFrac(4).as("dup_4gram_frac"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------- analysis

  /** Token statistics: counts are integers — oracle-exact. `n_bpeish` is
    * the BPE-style token estimate a training pipeline budgets by: word
    * pieces of ≤4 letters (ceil(len/4) per alpha run), digit runs, and
    * individual punctuation marks each count as one token. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("toks", toks)
      .withColumn("pieces",
        regexp_extract_all(col("text"),
          lit("[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
      .select(col("doc_id"),
        length(col("text")).as("n_chars"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        size(col("pieces")).as("n_bpeish"))
      .orderBy("doc_id")

  private val stopwords = Seq("the", "a", "of", "and", "is", "in", "to")

  /** The composite quality score as one expression over a text column —
    * the same formula `qualityScore` emits (QualityExprSpec pins them
    * equal), reusable wherever a frame carries text: the batch query, the
    * curation funnel, and the streaming ingest gate. */
  def qualityExpr(text: Column): Column = {
    val t = filter(split(lower(text), "\\W+"), x => x =!= lit(""))
    val n = size(t).cast("double")
    val ttr = size(array_distinct(t)).cast("double") / n
    val stopRatio = size(filter(t, x => x.isin(stopwords.map(lit): _*))).cast("double") / n
    val lenFactor = least(lit(1.0), n / lit(100.0))
    when(size(t) > 0,
      ttr * lit(0.4) + (lit(1.0) - stopRatio) * lit(0.3) + lenFactor * lit(0.3))
      .otherwise(lit(0.0))
  }

  /** d3's metric columns over a frame carrying `toks` — single-sourced so
    * the batch query and the one-pass funnel signals can never diverge.
    * The ratio columns are explicitly guarded on n_tokens > 0 (NULL
    * otherwise, failing any gate threshold): Spark 4 defaults ANSI mode ON,
    * where double division by zero THROWS — an unguarded zero-token doc
    * would kill the whole funnel job, not just score low. */
  private def withQuality(df: DataFrame): DataFrame = {
    val stopArr = stopwords.map(s => s"'$s'").mkString(", ")
    df
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_distinct", size(array_distinct(col("toks"))))
      .withColumn("n_stop", size(expr(s"filter(toks, x -> x IN ($stopArr))")))
      .withColumn("ttr", when(col("n_tokens") > 0,
        col("n_distinct").cast("double") / col("n_tokens").cast("double")))
      .withColumn("stop_ratio", when(col("n_tokens") > 0,
        col("n_stop").cast("double") / col("n_tokens").cast("double")))
      .withColumn("len_factor",
        least(lit(1.0), col("n_tokens").cast("double") / lit(100.0)))
      .withColumn("quality",
        col("ttr") * lit(0.4) + (lit(1.0) - col("stop_ratio")) * lit(0.3) + col("len_factor") * lit(0.3))
  }

  /** Quality scoring: type-token ratio, stopword ratio, length factor —
    * every double is a division/product of bit-identical operands on both
    * engines. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    withQuality(docs(spark, dir).withColumn("toks", toks).filter(size(col("toks")) > 0))
      .select("doc_id", "n_tokens", "n_distinct", "n_stop", "ttr", "stop_ratio", "quality")
      .orderBy("doc_id")

  /** d4's marker-vote columns over a frame carrying `toks` — single-sourced
    * with the funnel signals like `withQuality`. */
  private def withLangScores(df: DataFrame): DataFrame = {
    val markers = Map(
      "en" -> Seq("the", "a", "of", "and", "is"),
      "es" -> Seq("el", "la", "de", "los", "y"),
      "fr" -> Seq("le", "les", "des", "et", "une"),
      "de" -> Seq("der", "die", "das", "und", "ist"))
    def score(lang: String): Column =
      size(expr(s"filter(toks, x -> x IN (${markers(lang).map(s => s"'$s'").mkString(", ")}))"))
    df
      .withColumn("s_en", score("en")).withColumn("s_es", score("es"))
      .withColumn("s_fr", score("fr")).withColumn("s_de", score("de"))
      .withColumn("pred_lang",
        when(col("s_en") + col("s_es") + col("s_fr") + col("s_de") === 0, lit("und"))
          .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") && col("s_en") >= col("s_de"), lit("en"))
          .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_de"), lit("es"))
          .when(col("s_fr") >= col("s_de"), lit("fr"))
          .otherwise(lit("de")))
  }

  /** Language ID: marker-stopword counting with a deterministic tie order.
    * (A bigram heuristic adds nothing on this synthetic corpus; markers are
    * the portable, oracle-checkable core of the operator.) */
  def langId(spark: SparkSession, dir: String): DataFrame =
    withLangScores(docs(spark, dir).withColumn("toks", toks))
      .select("doc_id", "s_en", "s_es", "s_fr", "s_de", "pred_lang")
      .orderBy("doc_id")

  /** Corpus composition report: per (lang, source) document counts, token
    * volume, and the quality range — the dashboard a curation run reviews
    * before tuning gate thresholds. Two-level agg (map-side combine), one
    * shuffle on the small (lang, source) key space. min/max of per-doc
    * quality doubles are order-invariant (no double SUM), so the report is
    * oracle-exact; zero-token docs count toward n_docs with NULL quality. */
  def corpusReport(spark: SparkSession, dir: String): DataFrame =
    withQuality(docs(spark, dir).withColumn("toks", toks))
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        min("quality").as("min_quality"),
        max("quality").as("max_quality"))
      .withColumn("avg_tokens",
        col("total_tokens").cast("double") / col("n_docs").cast("double"))
      .orderBy("lang", "source")

  /** The d3+d4+d12 gate signals in ONE projection over ONE scan of the
    * corpus — what the curation funnel consumes. Three independent gate
    * queries would scan the documents three times; at 100 TB this is the
    * difference between one pass and three. The funnel folds it into one
    * flag per gate and doc (quality NULL for empty-token docs — fails any
    * threshold, matching qualityScore's size>0 pre-filter). */
  def gateSignals(spark: SparkSession, dir: String): DataFrame =
    gateSignalsOf(curationFrame(spark, dir))

  private[graft] def gateSignalsOf(df: DataFrame): DataFrame =
    withLangScores(withQuality(df))
      .withColumn("bucket", sampleBucket)
      .select("doc_id", "lang", "n_tokens", "quality", "pred_lang", "bucket")

  /** Document fingerprint: md5 over whitespace-normalized lowercase text —
    * the canonical-content key for cross-corpus dedup. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")).as("fp"))
      .orderBy("doc_id")

  /** 2^40 — the (src_rank, doc_id) packing base for [[priorityDedupOf]].
    * doc ids stay far below it at any SF; rank * 2^40 + doc_id is exact in
    * a BIGINT on both engines (max rank 999,999 < 2^20 -> packed < 2^60). */
  private val PriorityPackBase = 1099511627776L

  /** d24 — cross-source priority dedup: when the same content appears in
    * several sources, keep the copy from the BEST-ranked source (the
    * standard CC-pipeline rule: a Wikipedia copy outranks a CommonCrawl
    * scrape of the same page), ties by smallest doc_id. Source rank here is
    * the numeric suffix of the source name (src3 -> 3, lower is better;
    * unrankable sources sort last at 999999) — a production deployment
    * swaps in its own rank expression without touching the plan.
    *
    * Shape is the repo keep-first rule: min over a packed (rank, doc_id)
    * BIGINT in ONE content-hash agg + a join-back — never a window over the
    * raw corpus (the mega-duplicate-class skew trap). Emits one row per doc
    * with its keep decision, so the op composes as a funnel gate. */
  def priorityDedup(spark: SparkSession, dir: String): DataFrame =
    priorityDedupOf(docs(spark, dir))

  private[graft] def priorityDedupOf(df: DataFrame): DataFrame = {
    // clamped at the 999999 sentinel: an unbounded numeric suffix (a
    // date-stamped source like 'crawl20240801' extracts 20240801) would
    // overflow the 2^40 packing under ANSI mode — any rank past the
    // sentinel just means "unranked, sort last", exactly the sentinel
    val rank = least(
      coalesce(
        expr("try_cast(regexp_extract(source, '([0-9]+)$', 1) as bigint)"),
        lit(999999L)),
      lit(999999L))
    val keyed = df
      .withColumn("h", md5(col("text")))
      .withColumn("src_rank", rank)
      .withColumn("packed", col("src_rank") * lit(PriorityPackBase) + col("doc_id"))
    val kept = keyed.groupBy("h")
      .agg(min("packed").as("kp"), count(lit(1)).as("n_copies"))
    keyed.join(kept, Seq("h"))
      .select(
        col("doc_id"), col("source"), col("src_rank"),
        (col("packed") === col("kp")).cast("bigint").as("kept"),
        (col("kp") % lit(PriorityPackBase)).as("kept_by"),
        col("n_copies"))
      .orderBy("doc_id")
  }

  /** d25 — adjacent-token-pair counts, the inner step of BPE/WordPiece
    * vocabulary induction (count all adjacent pairs, merge the most
    * frequent): global bigram frequencies, top `topK` by count then bigram.
    * Projection + explode + ONE partially-agg'd groupBy over the bigram
    * key + TakeOrdered — nothing corpus-global beyond the final top-K, so
    * the shape is d1's at any corpus size. A full BPE loop re-runs this
    * query per merge round over the re-tokenized corpus. */
  def bigramVocab(spark: SparkSession, dir: String, topK: Int = 50): DataFrame =
    bigramVocabOf(docs(spark, dir), topK)

  private[graft] def bigramVocabOf(df: DataFrame, topK: Int): DataFrame = {
    require(topK >= 1, s"bigramVocab needs topK >= 1, got $topK")
    val bigrams = expr(
      "transform(sequence(1, size(toks) - 1), " +
        "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i+1)))")
    df.withColumn("toks", toks)
      .filter(size(col("toks")) >= 2)
      .select(explode(bigrams).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(topK)
  }

  /** d27 — the BPE merge LOOP (Sennrich et al. 2016): d25 counts one
    * round's pair frequencies; this runs the actual vocabulary induction —
    * `nMerges` greedy rounds of count-adjacent-pairs → argmax →
    * merge-everywhere, over character symbols within words. Output: one
    * row per round (rank, pair, merged, n), the merge table a tokenizer
    * ships as model state.
    *
    * Working set: the DISTINCT-WORD frame with frequencies — the classic
    * BPE corpus compression. The corpus is scanned ONCE (the word-count
    * agg, d1's shape); every merge round then re-pairs |vocab| rows, not
    * corpus rows, and each round is one partial-agg'd groupBy over pair
    * keys plus a deterministic argmax (count DESC, pair ASC — total
    * order) collected as driver model state, the same distributed-
    * iteration discipline as Lloyd/BFS/power-iteration. Each round's
    * rewritten representation is persisted and the previous one released,
    * so lineage stays one round deep.
    *
    * Merge-apply convention (identical on both engines, which is what
    * makes the loop ORACLE-EXACT): words are spaced symbol strings
    * (' k e y '), a merge replaces the full-token-delimited ' l r ' with
    * ' lr ' via TWO passes of the engines' shared non-overlapping
    * left-to-right literal replace — pass 1 merges alternating occurrences
    * of a chain (consecutive occurrences share a delimiter space), pass 2
    * the now-isolated remainder, after which no occurrence can survive
    * (a merged token never re-creates the spaced pattern). Pair counts
    * are the standard overlapping adjacent counts. OpsSpec pins the whole
    * loop against an independent JDK implementation of the same spec. */
  def bpeMerges(spark: SparkSession, dir: String, nMerges: Int = 8): DataFrame =
    bpeMergesOf(docsWide(spark, dir), nMerges)

  /** Vocab-size cap for the DRIVER-LOCAL BPE loop: the distinct-word frame
    * is bounded (vocab ≪ corpus), so when it fits under the cap the merge
    * rounds run as an exact in-memory loop over the collected (word, freq)
    * rows — ONE distributed corpus scan (the word-count agg) instead of a
    * Spark job per merge round. 2M words ≈ tens of MB of driver state; a
    * corpus whose vocabulary exceeds the cap falls back LOUDLY to the
    * distributed per-round loop (which is capped at 64 merges). */
  private[graft] val bpeLocalVocabCap: Long =
    sys.env.getOrElse("SPARK_GRAFT_BPE_LOCAL_VOCAB_CAP", "2000000").toLong

  private[graft] def bpeMergesOf(df: DataFrame, nMerges: Int,
                                 localVocabCap: Long = bpeLocalVocabCap): DataFrame = {
    require(nMerges >= 1, s"bpeMerges needs nMerges >= 1, got $nMerges")
    import df.sparkSession.implicits._
    val merges = localWordFreqs(df, localVocabCap) match {
      case Some(words) => bpeLoopLocal(words, nMerges)._1
      case None =>
        val (ms, rep) = bpeLoop(df, nMerges)
        rep.unpersist()
        ms
    }
    merges.toDF("rank", "pair", "merged", "n").orderBy("rank")
  }

  /** The distributed word-count agg collected as driver model state when it
    * fits under the cap (None past it — the caller uses the distributed
    * loop). One corpus scan; the agg output is persisted so the guard count
    * and the collect share one computation. */
  private def localWordFreqs(df: DataFrame, cap: Long): Option[Array[(String, Long)]] = {
    val words = df.withColumn("toks", toks)
      .select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = words.count()
      if (n <= cap)
        Some(words.collect().map(r => (r.getString(0), r.getLong(1))))
      else {
        System.err.println(
          s"[graft] BPE vocabulary $n words exceeds the local cap $cap — " +
            "falling back to the distributed merge loop")
        None
      }
    } finally words.unpersist()
  }

  /** Spark's string ORDER BY is a bytewise comparison of the UTF-8 encoding
    * — the local argmax tiebreak must match it exactly (identical to
    * String.compareTo on ASCII; differs only past the BMP). */
  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The DRIVER-LOCAL twin of [[bpeLoop]] — the identical greedy spec
    * (overlapping adjacent pair counts over the distinct-word frame, argmax
    * by count DESC then bytewise pair ASC, two-pass non-overlapping literal
    * replace as the merge-apply; Java String.replace == both engines'
    * replace) run in memory. OpsSpec pins equality with the distributed
    * loop and with the independent JDK spec. Returns the merge table and
    * the final per-word (word, rep, freq) encoded vocabulary. */
  private[graft] def bpeLoopLocal(words: Array[(String, Long)], nMerges: Int)
      : (Seq[(Int, String, String, Long)], Array[(String, String, Long)]) = {
    require(nMerges >= 1, s"bpeMerges needs nMerges >= 1, got $nMerges")
    val n = words.length
    val reps = new Array[String](n)
    var wi = 0
    // " a b c " — concat(' ', regexp_replace(word, '(.)', '$1 ')), literally
    while (wi < n) { reps(wi) = " " + words(wi)._1.replaceAll("(.)", "$1 "); wi += 1 }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    var round = 1
    while (round <= nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      wi = 0
      while (wi < n) {
        val tk = reps(wi).split(" ")
        val f = words(wi)._2
        // split(" ") on " a b " yields ["", "a", "b"]: skip empties exactly
        // like the distributed filter(split(rep, ' '), x -> x != '')
        var prev: String = null
        var j = 0
        while (j < tk.length) {
          val t = tk(j)
          if (t.nonEmpty) {
            if (prev != null) {
              val p = prev + " " + t
              counts.update(p, counts.getOrElse(p, 0L) + f)
            }
            prev = t
          }
          j += 1
        }
        wi += 1
      }
      if (counts.isEmpty) exhausted = true // corpus fully merged before nMerges
      else {
        var bestPair: String = null
        var bestN = 0L
        counts.foreach { case (p, c) =>
          if (bestPair == null || c > bestN || (c == bestN && utf8Less(p, bestPair)))
            { bestPair = p; bestN = c }
        }
        merges += ((round, bestPair, bestPair.replace(" ", ""), bestN))
        val pat = " " + bestPair + " "
        val rpl = " " + bestPair.replace(" ", "") + " "
        wi = 0
        while (wi < n) { reps(wi) = reps(wi).replace(pat, rpl).replace(pat, rpl); wi += 1 }
        round += 1
      }
    }
    (merges.toSeq,
      Array.tabulate(n)(i => (words(i)._1, reps(i), words(i)._2)))
  }

  /** The shared d27/d28 induction loop: runs the greedy merge rounds and
    * returns both the merge list (driver model state, ≤ nMerges rows) and
    * the FINAL per-word representation frame (word, rep, freq) — the
    * encoded vocabulary — still persisted; the caller either consumes it
    * (d28) or unpersists it (d27). */
  private def bpeLoop(df: DataFrame, nMerges: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    require(nMerges >= 1 && nMerges <= 64,
      s"bpeMerges needs 1 <= nMerges <= 64, got $nMerges")
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val words = df.withColumn("toks", toks)
      .select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    var rep = words
      .select(col("word"),
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("rep"),
        col("freq"))
      .persist(disk)
    rep.count()
    val pairsCol = expr(
      "transform(sequence(1, size(tk) - 1), " +
        "i -> concat_ws(' ', element_at(tk, i), element_at(tk, i+1)))")
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    for (i <- 1 to nMerges if !exhausted) {
      val best = rep
        .select(expr("filter(split(rep, ' '), x -> x != '')").as("tk"), col("freq"))
        .filter(size(col("tk")) >= 2)
        .select(explode(pairsCol).as("pair"), col("freq"))
        .groupBy("pair").agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true // corpus fully merged before nMerges
      else {
        val (pair, n) = (best(0).getString(0), best(0).getLong(1))
        merges += ((i, pair, pair.replace(" ", ""), n))
        val pat = lit(s" $pair ")
        val rpl = lit(" " + pair.replace(" ", "") + " ")
        def apply1(c: Column) = call_function("replace", c, pat, rpl)
        val next = rep.select(col("word"), apply1(apply1(col("rep"))).as("rep"),
            col("freq"))
          .persist(disk)
        next.count()
        rep.unpersist()
        rep = next
      }
    }
    (merges.toSeq, rep)
  }

  /** d28 — BPE ENCODE: apply the d27-induced merge table to the corpus and
    * report per-document BPE token counts (doc_id, n_words, n_tokens) —
    * the token-budget accounting a training pipeline runs with the
    * tokenizer it just induced (sequence packing, mixture budgets and
    * per-doc cost all consume this number, not the whitespace count).
    *
    * Scale shape: the induction loop works on the distinct-word frame
    * (vocab-sized rounds, see [[bpeMerges]]); ENCODING never re-runs the
    * merges per token — the final per-word representation IS the encoded
    * vocabulary, so applying it is one (corpus-tokens ⋈ vocab) equi-join
    * on word plus a per-doc sum. The vocab side is usually broadcastable;
    * hot words ("the") are hot JOIN keys, which hash joins stream without
    * skew blowup — there is no groupBy on word at corpus grain. Docs with
    * zero tokens survive via the left join-back (0, 0). The final rep
    * frame stays persisted for the consuming action (Verify/Bench clear
    * caches per query). */
  def bpeEncode(spark: SparkSession, dir: String, nMerges: Int = 8): DataFrame =
    bpeEncodeOf(docsWide(spark, dir), nMerges)

  private[graft] def bpeEncodeOf(df: DataFrame, nMerges: Int,
                                 localVocabCap: Long = bpeLocalVocabCap): DataFrame = {
    require(nMerges >= 1, s"bpeEncode needs nMerges >= 1, got $nMerges")
    import df.sparkSession.implicits._
    // the encoded vocabulary: induced locally when the distinct-word frame
    // fits (one corpus scan + broadcast-sized model state), distributed
    // per-round loop past the cap. Either way the encode itself is ONE
    // (corpus-tokens ⋈ vocab) equi-join + per-doc sum.
    val wordTokens = localWordFreqs(df, localVocabCap) match {
      case Some(words) =>
        val (_, finalReps) = bpeLoopLocal(words, nMerges)
        broadcast(finalReps.toSeq
          .map { case (w, rep, _) => (w, rep.split(" ").count(_.nonEmpty).toLong) }
          .toDF("word", "w_tokens"))
      case None =>
        val (_, rep) = bpeLoop(df, nMerges)
        rep.select(col("word"),
          size(expr("filter(split(rep, ' '), x -> x != '')")).cast("long").as("w_tokens"))
    }
    val docWords = df.withColumn("toks", toks)
      .select(col("doc_id"), explode(col("toks")).as("word"))
    val agg = docWords.join(wordTokens, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_words"), sum("w_tokens").as("n_tokens"))
    df.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .orderBy("doc_id")
  }

  /** d26 — cluster-aware train/eval split: the holdout assignment is keyed
    * by each document's near-dup CLUSTER representative, not the document
    * itself, so near-duplicates can never straddle the split (the classic
    * leakage bug a doc-keyed split has: train and eval each get one copy
    * of a near-dup pair and the eval set silently overlaps the training
    * distribution). Clusters come from the d6→d9 pairs→components chain;
    * docs with no near-dup are their own singleton cluster. The bucket is
    * d12's stable md5 construction over a SALTED representative id
    * ('split:' prefix) — deterministic, RNG-free, identical at any cluster
    * size, and statistically independent of d12's unsalted sample key: an
    * unsalted split key degenerates downstream of stratified sampling
    * (every d12 survivor has md5-bucket < its keep cut, so it would land
    * entirely on the split's train side — the funnel hit exactly this).
    *
    * Scale shape: the cluster frame only holds docs that HAVE a near-dup
    * (typically a few % of a deduplicated corpus), the left join is a
    * plain doc_id equi-join, and everything after it is a projection —
    * nothing corpus-global beyond what d9 already paid. */
  def clusterSplit(spark: SparkSession, dir: String,
                   trainFrac: Double = 0.75): DataFrame =
    clusterSplitOf(docs(spark, dir).select("doc_id"),
      Components.dupClusters(spark, ngramJaccardPairs(spark, dir)), trainFrac)

  private[graft] def clusterSplitOf(docIds: DataFrame, clusters: DataFrame,
                                    trainFrac: Double): DataFrame = {
    require(trainFrac > 0.0 && trainFrac < 1.0,
      s"clusterSplit needs 0 < trainFrac < 1, got $trainFrac")
    val cut = (trainFrac * (1 << 24)).toLong
    docIds
      .join(clusters.select(col("doc_id"), col("representative")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("representative"), col("doc_id")).as("representative"))
      .withColumn("bucket", expr(
        "cast(conv(substring(md5(concat('split:', cast(representative as string))), 1, 6), 16, 10) as bigint)"))
      .select(col("doc_id"), col("representative"),
        when(col("bucket") < cut, "train").otherwise("eval").as("split"))
      .orderBy("doc_id")
  }
}
