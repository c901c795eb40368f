package graft.stages

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{KgPipeline, PipelineConfig}
import graft.dict.EnvoDict

/** Incremental KG construction — the d18 analog for the KG side: new
  * transcript batches land in an append-only triple store without
  * re-scoring the indexed corpus.
  *
  * Why it composes: every per-conversation family (annotated_with,
  * mentions) is a pure function of that conversation's turns — the scorer
  * is a groupBy over conv_id-prefixed keys — so batch-wise runs produce
  * byte-identical rows to a whole-corpus run. The one corpus-level family,
  * co-occurrence (n_convs per concept pair), is ADDITIVE over disjoint
  * conversation sets, so the store keeps a versioned pair-count state and
  * each append merges `old + delta` by summation.
  *
  * Store layout under `indexDir` (a poor man's snapshot commit — a
  * production deployment would sit these on Iceberg/Delta transactional
  * snapshots; the DATAFLOW is what this models):
  *  - `triples/batch=N/`  per-conv triples of batch N (overwrite-by-batch)
  *  - `convs/batch=N/`    conv_ids ingested by batch N
  *  - `cooc/v=N/`         merged pair counts AFTER batch N
  *  - `triples/snapshot=M/`, `convs/snapshot=M/` — COMPACTED state through
  *    batch M (see [[compact]]): after N appends every reader otherwise
  *    pays N-way read amplification (N parquet dir opens per consumer);
  *    compaction folds batches 1..M into one snapshot and readers open
  *    snapshot=M plus only the batches after it.
  *  - `index.manifest.json` committed LAST: {batch, configKey, compacted}.
  *    A crashed append leaves the manifest at N-1; the retry recomputes
  *    batch N and overwrites its own subdirectories, so partial output is
  *    never read (readers only open dirs the manifest has committed). A
  *    crashed COMPACTION leaves `compacted` at its old value — the
  *    half-written snapshot dir is unreferenced, readers keep using the
  *    batch dirs, and the retry overwrites it (idempotent).
  *
  * Ingest contract: the unit is a COMPLETE conversation. Conversations
  * already in the index are skipped (idempotent re-delivery); a
  * conversation split across two batches would have its second half
  * silently skipped, so close conversations before ingesting them.
  * Scale shape of the skip: `indexed ∩ batch` is at most the batch size,
  * so the billion-row conv manifest is first restricted by a BROADCAST
  * semi join on the (small) batch conv set, and only the survivors —
  * again at most the batch — broadcast into the anti join; the indexed
  * conv list is never shuffled.
  *
  * Config/dict lock: the manifest carries every knob that changes stage
  * output (ScoreConfig, dictionary content digest). An append
  * under a different configuration fails loudly — same invariant as the
  * checkpoint fingerprint and d18's frozen stop-shingle set: indexed
  * results must not drift as batches arrive.
  */
object IncrementalKg {

  final case class AppendStats(batch: Int, newConvs: Long, skippedConvs: Long,
                               newConvTriples: Long)

  private val disk = StorageLevel.MEMORY_AND_DISK

  private def manifestPath(dir: String) = Paths.get(dir, "index.manifest.json")

  private def configKey(cfg: PipelineConfig, dict: EnvoDict): String =
    s"${cfg.score}|dict:${dict.contentDigest}"

  /** (committed batch count, configKey, compacted-through batch) or None
    * for a fresh store. `compacted` defaults to 0 for pre-compaction
    * manifests (every batch dir still live). */
  private def readManifest(dir: String): Option[(Int, String, Int)] = {
    val p = manifestPath(dir)
    if (!Files.exists(p)) None
    else {
      val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      val batch = """"batch"\s*:\s*(\d+)""".r.findFirstMatchIn(s)
        .map(_.group(1).toInt)
        .getOrElse(throw new IllegalStateException(s"malformed manifest $p"))
      val key = """"configKey"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(s)
        .map(_.group(1))
        .getOrElse(throw new IllegalStateException(s"malformed manifest $p"))
      val compacted = """"compacted"\s*:\s*(\d+)""".r.findFirstMatchIn(s)
        .map(_.group(1).toInt).getOrElse(0)
      Some((batch, key, compacted))
    }
  }

  private def writeManifest(dir: String, batch: Int, key: String,
                            compacted: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    // write-then-atomic-rename: a crash mid-write must leave the OLD
    // manifest intact (the advertised readers-stay-at-N-1 contract), never
    // a truncated file readManifest would throw on (r7 fix). Same-directory
    // temp file so the move stays within one filesystem.
    val tmp = Paths.get(dir, s".index.manifest.json.tmp")
    Files.write(tmp,
      s"""{"batch":$batch,"configKey":"$key","compacted":$compacted}"""
        .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(dir),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** The live parquet dirs of a family: the snapshot (when one is
    * committed) plus every batch after it — what compaction buys is this
    * list staying O(appends since last compaction) instead of O(N). */
  private def liveDirs(dir: String, family: String, n: Int, compacted: Int): Seq[String] =
    (if (compacted > 0) Seq(s"$dir/$family/snapshot=$compacted") else Nil) ++
      (compacted + 1 to n).map(b => s"$dir/$family/batch=$b")

  /** Ingest one batch of turns; returns what was appended. */
  def append(spark: SparkSession, indexDir: String, turns: DataFrame,
             cfg: PipelineConfig = PipelineConfig(),
             dictOverride: Option[EnvoDict] = None): AppendStats = {
    val pipe = new KgPipeline(spark, cfg, dictOverride)
    val key = configKey(cfg, pipe.dict)
    val existing = readManifest(indexDir)
    existing.foreach { case (_, k, _) =>
      if (k != key) throw new IllegalStateException(
        s"index $indexDir was built under a different configuration/dictionary " +
          s"(indexed: $k, append: $key) — indexed scores must not drift across batches")
    }
    val batchNo = existing.map(_._1 + 1).getOrElse(1)
    val compacted = existing.map(_._3).getOrElse(0)

    val batchConvs = turns.select("conv_id").distinct().persist(disk)
    val nBatch = batchConvs.count()
    val fresh = existing match {
      case None => turns
      case Some((n, _, c)) =>
        val indexed = spark.read.parquet(liveDirs(indexDir, "convs", n, c): _*)
        val dup = indexed.join(broadcast(batchConvs), Seq("conv_id"), "left_semi")
        turns.join(broadcast(dup), Seq("conv_id"), "left_anti")
    }
    val freshConvs = fresh.select("conv_id").distinct().persist(disk)
    val nFresh = freshConvs.count()
    if (nFresh == 0L) {
      batchConvs.unpersist(); freshConvs.unpersist()
      return AppendStats(existing.map(_._1).getOrElse(0), 0L, nBatch, 0L)
    }

    val r = pipe.run(fresh)
    val convTriples = r.perConvTriples.persist(disk)
    val nTriples = convTriples.count()
    convTriples.write.mode("overwrite").parquet(s"$indexDir/triples/batch=$batchNo")

    // co-occurrence state: old + delta, summed. Bounded by |EnvO|² pairs,
    // tiny next to the corpus at any scale.
    val delta = r.coOccurrence.select("envo_a", "envo_b", "n_convs")
    val merged = existing match {
      case None => delta
      case Some((n, _, _)) =>
        spark.read.parquet(s"$indexDir/cooc/v=$n")
          .unionByName(delta)
          .groupBy("envo_a", "envo_b").agg(sum("n_convs").as("n_convs"))
    }
    merged.write.mode("overwrite").parquet(s"$indexDir/cooc/v=$batchNo")

    freshConvs.write.mode("overwrite").parquet(s"$indexDir/convs/batch=$batchNo")
    writeManifest(indexDir, batchNo, key, compacted)

    convTriples.unpersist(); batchConvs.unpersist(); freshConvs.unpersist()
    r.unpersist()
    AppendStats(batchNo, nFresh, nBatch - nFresh, nTriples)
  }

  /** The store's current canonical triple view — per-conv families read
    * straight off the committed batch dirs plus cooccurs_with derived from
    * the current merged pair state. Equals `KgResult.allTriples` of one
    * whole-corpus run over everything ingested. */
  def triples(spark: SparkSession, indexDir: String,
              dictOverride: Option[EnvoDict] = None): DataFrame = {
    val (n, key, compacted) = readManifest(indexDir).getOrElse(
      throw new IllegalStateException(s"no committed index at $indexDir"))
    val dict = dictOverride.getOrElse(KgPipeline.sharedDict)
    val digest = s"dict:${dict.contentDigest}"
    if (!key.endsWith(digest)) throw new IllegalStateException(
      s"index $indexDir was built under a different dictionary than the reader's")
    val perConv = spark.read.parquet(liveDirs(indexDir, "triples", n, compacted): _*)
    val cooc = spark.read.parquet(s"$indexDir/cooc/v=$n")
    perConv.unionByName(
      TripleEmit.coOccurrenceTriples(spark, cooc, dict)
        .select("subj", "pred", "obj", "weight", "evidence"))
  }

  final case class CompactStats(batch: Int, previouslyCompacted: Int,
                                triples: Long, convs: Long)

  /** Fold every live batch dir (plus the previous snapshot) into ONE
    * snapshot per family and commit it in the manifest — after N appends a
    * consumer otherwise opens N parquet dirs per read (N-way read
    * amplification); post-compaction it opens one snapshot plus only the
    * batches appended since. Rows are copied VERBATIM (one distributed
    * read → write per family, no recompute, no re-agg — the cooc state is
    * already a single merged dir per version), so reads before and after
    * compaction are byte-identical.
    *
    * Crash contract (the same commit-last discipline as append): the
    * snapshot dirs are written FIRST and the manifest's `compacted` field
    * LAST, so a compaction that dies mid-write leaves readers on the batch
    * dirs, untouched and consistent; the retry overwrites the
    * half-written snapshot (idempotent). Once committed, the folded batch
    * dirs and stale cooc versions are deleted best-effort — a crash
    * between commit and cleanup leaves unreferenced garbage, never a bad
    * read. */
  def compact(spark: SparkSession, indexDir: String): CompactStats = {
    val (n, key, c) = readManifest(indexDir).getOrElse(
      throw new IllegalStateException(s"no committed index at $indexDir"))
    if (c == n) return CompactStats(n, c, 0L, 0L) // nothing to fold
    // read the live set THROUGH the committed manifest, write the new
    // snapshot under the not-yet-referenced snapshot=n path
    val tri = spark.read.parquet(liveDirs(indexDir, "triples", n, c): _*)
    tri.write.mode("overwrite").parquet(s"$indexDir/triples/snapshot=$n")
    val cv = spark.read.parquet(liveDirs(indexDir, "convs", n, c): _*)
    cv.write.mode("overwrite").parquet(s"$indexDir/convs/snapshot=$n")
    val (nTri, nCv) = (
      spark.read.parquet(s"$indexDir/triples/snapshot=$n").count(),
      spark.read.parquet(s"$indexDir/convs/snapshot=$n").count())
    writeManifest(indexDir, n, key, compacted = n) // the commit point
    // best-effort cleanup of now-unreferenced dirs (batch dirs <= n, the
    // previous snapshot, stale cooc versions)
    def rmTree(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        Files.walk(p).iterator().asScala.toSeq.reverseIterator
          .foreach(f => Files.deleteIfExists(f))
      }
    (1 to n).foreach { b =>
      rmTree(Paths.get(indexDir, "triples", s"batch=$b"))
      rmTree(Paths.get(indexDir, "convs", s"batch=$b"))
    }
    if (c > 0) {
      rmTree(Paths.get(indexDir, "triples", s"snapshot=$c"))
      rmTree(Paths.get(indexDir, "convs", s"snapshot=$c"))
    }
    (1 until n).foreach(v => rmTree(Paths.get(indexDir, "cooc", s"v=$v")))
    CompactStats(n, c, nTri, nCv)
  }
}
