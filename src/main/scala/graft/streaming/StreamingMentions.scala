package graft.streaming

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.dict.AhoCorasick
import graft.model.Turn

/** One streaming mention occurrence (a turn×concept row with event time). */
final case class StreamMention(
    conv_id: String,
    turn_idx: Int,
    ts: java.sql.Timestamp,
    envo: Int)

/** Running per-conversation concept count emitted by the stateful scorer. */
final case class ConvConceptCount(conv_id: String, envo: Int, occurrences: Long)

/** One document arriving on the curation stream. `ts` is the event time:
  * `nearDupStream` matching is time-agnostic, but state AGEOUT can be
  * driven by it (eventTimeAgeout) instead of processing time. */
final case class StreamDoc(doc_id: Long, text: String, ts: java.sql.Timestamp)

/** One (bucket, doc) visit on the near-dup stream — the exploded 4-chunk
  * banding of a doc's simhash, carrying event time for the watermark. */
final case class BucketDoc(bucket: String, doc_id: Long, sh: Long, ts: java.sql.Timestamp)

/** A streaming near-dup match: `doc_id` arrived within `hamming` bits of
  * the earlier-seen `dup_of`. */
final case class NearDupHit(doc_id: Long, dup_of: Long, hamming: Int)

/** Per-bucket near-dup state: `seen` gives O(1) replay/membership checks,
  * `order` preserves arrival order so the cap evicts oldest-first (a Map
  * alone loses insertion order across the state encoder round-trip);
  * `maxTsMs` carries the newest event time the bucket has EVER seen, so an
  * out-of-order later batch cannot shorten the event-time ageout deadline
  * below "ageout past the newest event". */
final case class BucketState(seen: Map[Long, Long], order: Seq[Long],
                             maxTsMs: Long = Long.MinValue)

/**
 * Structured Streaming surface of the engine: the batch tagger applied to a
 * live transcript stream (readStream → transform → writeStream).
 *
 * The reference is strictly batch (SURVEY §2.9) — this is the capability a
 * production transcript pipeline adds on top: tagging at ingest, windowed
 * concept counts with watermarked late-data handling, and incremental
 * per-conversation link scores via mapGroupsWithState.
 *
 * Tagging is the batch tagger itself: the `tag_envo` expression in a
 * projection, whose per-task memo tags a text repeated within a
 * micro-batch task once (cross-batch dedup would need unbounded state).
 */
object StreamingMentions {

  /** turns stream → mention occurrence stream (one row per turn×concept,
    * in document order within a turn). */
  def mentionStream(spark: SparkSession, turns: Dataset[Turn],
                    ac: Broadcast[AhoCorasick]): Dataset[StreamMention] = {
    import spark.implicits._
    val mentions = graft.functions.GraftFunctions.tag_envo_with(spark, ac, col("text"))
    turns.select(col("conv_id"), col("turn_idx"), col("ts"),
        explode(flatten(mentions.getField("envos"))).as("envo"))
      .as[StreamMention]
  }

  /** Watermarked tumbling-window concept counts — the streaming analog of
    * the flat counting agg (A1), tolerating `lateness` of event-time skew. */
  def windowedConceptCounts(mentions: Dataset[StreamMention],
                            windowLen: String = "1 hour",
                            lateness: String = "10 minutes"): DataFrame =
    mentions.toDF()
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen), col("envo"))
      .agg(count(lit(1)).as("occurrences"))

  /** Streaming exact dedup at ingest — the streaming twin of the batch
    * exact-dedup operator (d1): drop rows whose content hash was already
    * seen. `dropDuplicatesWithinWatermark` bounds the hash state by event
    * time (a hash ages out once the watermark passes it), so state stays
    * constant at 10^12-turn scale where a plain `dropDuplicates` would
    * grow without bound. Keeps the first arrival per hash. */
  def dedupStream(turns: DataFrame, lateness: String = "10 minutes"): DataFrame =
    turns
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Curated streaming ingest — the training-pipeline curation projections
    * applied AT the stream boundary, in one readStream pipeline: watermark-
    * bounded exact dedup, then the quality gate (the SAME codegen'd
    * expression as the batch operator, `DocOps.qualityExpr` — Structured
    * Streaming runs projections unchanged), then tagging. Emits the mention
    * stream of the surviving turns. */
  def curatedIngest(spark: SparkSession, turns: Dataset[Turn],
                    ac: Broadcast[AhoCorasick],
                    minQuality: Double = 0.3,
                    lateness: String = "10 minutes"): Dataset[StreamMention] = {
    import spark.implicits._
    val gated = dedupStream(turns.toDF(), lateness)
      .filter(graft.ops.DocOps.qualityExpr(col("text")) >= minQuality)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .as[Turn]
    mentionStream(spark, gated, ac)
  }

  /** Streaming ingest INTO the committed KG store — the seam that closes
    * the loop between the streaming surface and [[graft.stages
    * .IncrementalKg]]: the curation gates run at the stream boundary
    * (watermark-bounded exact dedup + the quality projection, exactly
    * `curatedIngest`'s gates) and every micro-batch lands as ONE
    * `IncrementalKg.append` via foreachBatch — the streaming twin of
    * d18's batch flow. The store's commit-last manifest gives the sink
    * crash safety (a batch that dies mid-append is recomputed and
    * overwrites its own dirs on restart), and append's idempotent
    * conversation skip absorbs the source's at-least-once re-delivery —
    * a replayed micro-batch re-appends nothing.
    *
    * Ingest contract (inherited from the store): the unit is a COMPLETE
    * conversation — route a conversation's turns into one micro-batch
    * (close conversations before emitting them upstream); a conversation
    * split across micro-batches would have its later half skipped.
    *
    * `dedupe=false` disables the content-hash gate (exact duplicate TEXTS
    * across conversations are legitimate in transcript corpora; the
    * tagger's per-task memo already tags a text repeated within a task
    * only once) —
    * with it off, N streamed appends reproduce one whole-corpus batch run
    * byte-exactly (IncrementalKgSpec pins it against the o14 contract). */
  def ingestToStore(spark: SparkSession, turns: Dataset[Turn], indexDir: String,
                    cfg: graft.PipelineConfig = graft.PipelineConfig(),
                    dictOverride: Option[graft.dict.EnvoDict] = None,
                    dedupe: Boolean = false,
                    minQuality: Double = 0.0,
                    lateness: String = "10 minutes",
                    checkpointDir: Option[String] = None,
                    compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(compactEvery >= 0, s"compactEvery must be >= 0, got $compactEvery")
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val gated0 =
      if (dedupe) dedupStream(turns.toDF(), lateness).select(cols.map(col): _*)
      else turns.toDF()
    val gated =
      if (minQuality > 0.0)
        gated0.filter(graft.ops.DocOps.qualityExpr(col("text")) >= minQuality)
      else gated0
    val writer = gated.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val st = graft.stages.IncrementalKg.append(spark, indexDir, batch, cfg, dictOverride)
          // bound the store's read amplification under a long-lived
          // stream: every compactEvery committed appends, fold the batch
          // dirs into one snapshot (commit-last, so a crash mid-compaction
          // never disturbs readers — see IncrementalKg.compact). Runs
          // inside foreachBatch between micro-batches, where no reader of
          // THIS query races the manifest swap.
          if (compactEvery > 0 && st.batch > 0 && st.batch % compactEvery == 0)
            graft.stages.IncrementalKg.compact(spark, indexDir)
          ()
        }
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** Streaming NEAR-dup detection — the streaming twin of the batch SimHash
    * operator (d8): each arriving doc's 60-bit signature is computed
    * row-locally (the same spec the batch op's DuckDB oracle checks,
    * `DocOps.simhash60`), banded into the same 4×15-bit chunk keys, and
    * matched against per-bucket state via `flatMapGroupsWithState`. A doc
    * within `maxHamming` bits of a previously-seen doc in ANY shared bucket
    * emits one hit per shared bucket (consumers dedupe (doc_id, dup_of) per
    * micro-batch when exactly-once pairs matter); first arrivals emit
    * nothing and enter the bucket state.
    *
    * Scale shape: state per bucket = the (doc_id, simhash) scalars seen —
    * two longs per doc per bucket, aged out by the processing-time timeout
    * (finished topics go cold) AND hard-capped at `maxDocsPerBucket`: a
    * degenerate bucket (mass boilerplate sharing all 4 chunk keys) would
    * otherwise grow one entry per doc within the timeout and pay
    * O(|bucket|) comparisons per arrival. Past the cap the OLDEST doc is
    * evicted (newer docs are the likelier dup sources for a live stream)
    * and `overflow` counts every eviction loudly — hits are still emitted
    * against everything currently in state, never silently dropped; what
    * degrades is recall against evicted history, which the counter
    * quantifies. The banding bounds comparisons per arrival to the 4
    * visited buckets, never the corpus.
    *
    * Ageout mode: `stateTimeout` (processing time, the default) fits LIVE
    * topics, but replaying a historical backlog fast-forwards EVENT time
    * while processing time barely advances — a processing-time timeout then
    * holds the entire backlog in state regardless of the "1 hour" intent.
    * `eventTimeAgeout = Some(d)` switches to an event-time timeout: the
    * input is watermarked on `ts` (allowing `lateness` of skew, like
    * `dedupStream`) and a bucket expires once the watermark passes `d` past
    * the newest event it has seen — replay ageout then tracks the DATA's
    * clock. Takes precedence over `stateTimeout` when both are set.
    * Pass `stateTimeout = None` (and no eventTimeAgeout) in tests —
    * ProcessingTimeTimeout livelocks `processAllAvailable`. */
  def nearDupStream(spark: SparkSession, docs: Dataset[StreamDoc],
                    maxHamming: Int = 12,
                    stateTimeout: Option[String] = Some("1 hour"),
                    maxDocsPerBucket: Int = 100000,
                    overflow: Option[org.apache.spark.util.LongAccumulator] = None,
                    eventTimeAgeout: Option[String] = None,
                    lateness: String = "10 minutes"): Dataset[NearDupHit] = {
    import spark.implicits._
    // a cap of 0 would evict each doc immediately after insertion (state
    // thrashes one-in-one-out, overflow on every arrival) — reject loudly
    require(maxDocsPerBucket >= 1,
      s"maxDocsPerBucket must be >= 1 (got $maxDocsPerBucket)")
    val timeoutConf =
      if (eventTimeAgeout.isDefined) GroupStateTimeout.EventTimeTimeout()
      else stateTimeout
        .map(_ => GroupStateTimeout.ProcessingTimeTimeout())
        .getOrElse(GroupStateTimeout.NoTimeout())
    val keyed0: Dataset[BucketDoc] = docs.flatMap { d =>
      val toks = graft.ops.DocOps.tokenize(d.text)
      // batch parity: d8 explodes the token array, so a token-less doc
      // emits no rows and never enters the candidate space — mirror that
      // here (signature-0 docs would otherwise all match each other at
      // hamming 0 in every bucket)
      if (toks.isEmpty) Iterator.empty
      else {
        val sh = graft.ops.DocOps.simhash60Toks(toks)
        (0 until 4).iterator.map(c =>
          BucketDoc(s"$c:${(sh >> (c * 15)) & 32767L}", d.doc_id, sh, d.ts))
      }
    }
    // EventTimeTimeout requires a watermark; defining it on the exploded
    // bucket rows (not the raw docs) keeps the event-time column attribute
    // attached to the dataset the stateful operator actually consumes
    val keyed = eventTimeAgeout match {
      case Some(_) => keyed0.withWatermark("ts", lateness)
      case None => keyed0
    }
    keyed.groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, NearDupHit](
        OutputMode.Update(), timeoutConf) {
        (_, rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // id -> simhash map: O(1) replay/membership check (at-least-once
            // sources redeliver doc_ids), one linear pass for the hamming
            // comparisons; `order` carries arrival order for the cap
            val st = state.getOption.getOrElse(BucketState(Map.empty, Vector.empty))
            var seen = st.seen
            var order = st.order.toVector
            // seed with the bucket's historical max: a batch of only
            // out-of-order stragglers must never PULL the deadline earlier
            var maxTsMs = st.maxTsMs
            val out = List.newBuilder[NearDupHit]
            // deterministic within a batch: smaller doc_ids are "earlier"
            rows.toSeq.sortBy(_.doc_id).foreach { r =>
              val (id, sh) = (r.doc_id, r.sh)
              if (r.ts != null) maxTsMs = math.max(maxTsMs, r.ts.getTime)
              if (!seen.contains(id)) {
                seen.foreach { case (pid, psh) =>
                  val ham = java.lang.Long.bitCount(psh ^ sh)
                  if (ham <= maxHamming) out += NearDupHit(id, pid, ham)
                }
                seen = seen.updated(id, sh)
                order = order :+ id
                if (order.size > maxDocsPerBucket) {
                  seen -= order.head
                  order = order.tail
                  overflow.foreach(_.add(1L))
                }
              }
            }
            state.update(BucketState(seen, order, maxTsMs))
            eventTimeAgeout match {
              case Some(d) =>
                // expire `d` of EVENT time past the newest event seen by
                // this bucket; clamped above the current watermark (Spark
                // rejects a timeout at-or-before it) so a bucket touched
                // only by late stragglers still gets a valid ageout
                val base = math.max(maxTsMs, state.getCurrentWatermarkMs() + 1L)
                state.setTimeoutTimestamp(base, d)
              case None =>
                stateTimeout.foreach(state.setTimeoutDuration)
            }
            out.result().iterator
          }
      }
  }

  /** Incremental per-conversation concept counts: KeyValueGroupedDataset +
    * flatMapGroupsWithState. State = concept→count map per conv_id, with a
    * processing-time timeout so finished conversations age out (bounded
    * state at 10^12-turn scale). Emits the updated rows each batch. */
  def runningConvScores(spark: SparkSession, mentions: Dataset[StreamMention],
                        stateTimeout: Option[String] = Some("1 hour")): Dataset[ConvConceptCount] = {
    import spark.implicits._
    val timeoutConf = stateTimeout
      .map(_ => GroupStateTimeout.ProcessingTimeTimeout())
      .getOrElse(GroupStateTimeout.NoTimeout())
    mentions
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState[Map[Int, Long], ConvConceptCount](
        OutputMode.Update(), timeoutConf) {
        (conv: String, rows: Iterator[StreamMention], state: GroupState[Map[Int, Long]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val current = state.getOption.getOrElse(Map.empty[Int, Long])
            val updates = rows.foldLeft(Map.empty[Int, Long]) { (m, r) =>
              m.updated(r.envo, m.getOrElse(r.envo, 0L) + 1L)
            }
            val merged = updates.foldLeft(current) { case (m, (e, n)) =>
              m.updated(e, m.getOrElse(e, 0L) + n)
            }
            state.update(merged)
            stateTimeout.foreach(state.setTimeoutDuration)
            updates.keysIterator.map(e => ConvConceptCount(conv, e, merged(e)))
          }
      }
  }
}
