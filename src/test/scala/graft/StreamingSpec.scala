package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.model.Turn
import graft.streaming.StreamingMentions

class StreamingSpec extends CacheHygiene {
  import spark.implicits._

  private def turn(conv: String, idx: Int, text: String, tsMin: Int) =
    Turn(conv, idx, "user", text, None, new Timestamp(1735689600000L + tsMin * 60000L))

  test("streaming mention detection + watermarked windowed counts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val ac = spark.sparkContext.broadcast(KgPipeline.sharedAutomaton)
    val mentions = StreamingMentions.mentionStream(spark, input.toDS(), ac)
    val counts = StreamingMentions.windowedConceptCounts(mentions, "30 minutes", "5 minutes")

    val q = counts.writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      input.addData(
        turn("c1", 0, "the ocean was calm", 0),
        turn("c1", 1, "bacterioplankton sample from lake", 10),
        turn("c2", 0, "lake mud of the lake", 40), // next window
        turn("c2", 1, "no concepts here", 41))
      q.processAllAvailable()
      val rows = spark.sql("SELECT envo, occurrences FROM win_counts ORDER BY envo")
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      // window 1: ocean(15)=1, lake(20)=1; window 2: lake=2, mud=1
      assert(rows.toSet === Set((15, 1L), (20, 1L), (20, 2L), (1000001, 1L)))
    } finally q.stop()
  }

  test("file-source streaming == batch: same mention rows end to end") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val turns = (0L until 30L).flatMap(i => graft.synth.TranscriptGen.turnsFor(i, 5L, 5, 5))
    turns.toDS().write.mode("overwrite").parquet(s"$dir/in")

    val ac = spark.sparkContext.broadcast(KgPipeline.sharedAutomaton)
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema)
      .parquet(s"$dir/in").as[Turn]
    val q = StreamingMentions.mentionStream(spark, stream, ac)
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(s"$dir/out")
      .select("conv_id", "turn_idx", "envo").collect().map(_.toSeq).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    // the batch side is the KG pipeline's own mention stage
    val batch = graft.stages.MentionDetect.envoRows(graft.stages.MentionDetect.detect(
        spark, spark.read.parquet(s"$dir/in"), dict = Some(ac)))
      .select("conv_id", "turn_idx", "envo").collect().map(_.toSeq).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("streaming dedup drops repeated content within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val deduped = StreamingMentions.dedupStream(input.toDS().toDF(), lateness = "1 hour")

    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        turn("c1", 0, "the ocean was calm", 0),
        turn("c2", 0, "the ocean was calm", 1),   // same-batch duplicate
        turn("c3", 0, "lake mud sample", 2))
      q.processAllAvailable()
      input.addData(
        turn("c4", 0, "the ocean was calm", 5),   // cross-batch duplicate
        turn("c5", 0, "a brand new text", 6))
      q.processAllAvailable()
      val rows = spark.sql("SELECT conv_id FROM dedup_out ORDER BY conv_id")
        .collect().map(_.getString(0)).toSeq
      // first arrival per content hash survives; c2/c4 dropped
      assert(rows === Seq("c1", "c3", "c5"))
    } finally q.stop()
  }

  test("curated ingest: dedup + quality gate + tagging in one stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val ac = spark.sparkContext.broadcast(KgPipeline.sharedAutomaton)
    val mentions = StreamingMentions.curatedIngest(spark, input.toDS(), ac, minQuality = 0.3)

    val q = mentions.writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    try {
      input.addData(
        turn("good", 0, "the ocean was calm", 0),
        turn("dup", 0, "the ocean was calm", 1),     // dropped: duplicate text
        turn("junk", 0, "a a a a a", 2),             // dropped: quality 0.095 < 0.3
        turn("clean", 0, "nothing conceptual here", 3)) // survives gate, no mentions
      q.processAllAvailable()
      val convs = spark.sql("SELECT DISTINCT conv_id FROM curated")
        .collect().map(_.getString(0)).toSet
      assert(convs === Set("good"))
      val envos = spark.sql("SELECT envo FROM curated WHERE conv_id='good'")
        .collect().map(_.getInt(0)).toSet
      assert(envos.contains(15), "ocean concept must be tagged") // ENVO:...15 = ocean
    } finally q.stop()
  }

  test("streaming near-dup surfaces cross-batch simhash neighbors, ignores unrelated") {
    import graft.streaming.{NearDupHit, StreamDoc}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val hits = StreamingMentions.nearDupStream(spark, input.toDS(),
      maxHamming = 12, stateTimeout = None)
    val q = hits.writeStream.format("memory").queryName("neardup")
      .outputMode("update").start()
    try {
      def doc(id: Long, text: String, tsMin: Int) =
        StreamDoc(id, text, new Timestamp(1735689600000L + tsMin * 60000L))
      val base = "the quick brown fox jumps over the lazy dog near the quiet river bank every single morning"
      input.addData(
        doc(1, base, 0),
        doc(2, "an entirely different report about spark shuffle partitions and adaptive execution tuning knobs", 1))
      q.processAllAvailable()
      // batch 2: exact duplicate of doc 1 must match ACROSS batches via the
      // bucket state; another unrelated doc must stay silent
      input.addData(
        doc(3, base, 5),
        doc(4, "unrelated prose describing broadcast joins and codegen stage fusion in great detail today", 6))
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, dup_of, hamming FROM neardup")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // identical text -> identical signature -> hit in every shared bucket,
      // deduped here to the one logical pair (3 matched earlier-seen 1)
      assert(rows === Set((3L, 1L, 0)))
    } finally q.stop()
  }

  test("streaming near-dup skips token-less docs (batch d8 parity)") {
    import graft.streaming.StreamDoc
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val hits = StreamingMentions.nearDupStream(spark, input.toDS(),
      maxHamming = 12, stateTimeout = None)
    val q = hits.writeStream.format("memory").queryName("neardup_empty")
      .outputMode("update").start()
    try {
      def doc(id: Long, text: String, tsMin: Int) =
        StreamDoc(id, text, new Timestamp(1735689600000L + tsMin * 60000L))
      // batch d8 drops token-less docs (explode of an empty token array);
      // pre-fix, these all got signature 0 and matched each other at
      // hamming 0 in all 4 buckets
      input.addData(doc(1, "", 0), doc(2, "!!! ... ???", 1), doc(3, "   ", 2))
      q.processAllAvailable()
      input.addData(doc(4, "...", 3),
        doc(5, "a real document with words in it about rivers and lakes", 4))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM neardup_empty").collect().isEmpty,
        "token-less docs must never pair")
    } finally q.stop()
  }

  test("streaming near-dup caps per-bucket state: oldest evicted, overflow counted") {
    import graft.streaming.StreamDoc
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val overflow = spark.sparkContext.longAccumulator("neardup_bucket_overflow")
    val hits = StreamingMentions.nearDupStream(spark, input.toDS(),
      maxHamming = 12, stateTimeout = None, maxDocsPerBucket = 3,
      overflow = Some(overflow))
    val q = hits.writeStream.format("memory").queryName("neardup_cap")
      .outputMode("update").start()
    try {
      def doc(id: Long, tsMin: Int) = StreamDoc(id,
        "identical boilerplate text repeated across the whole degenerate bucket today",
        new Timestamp(1735689600000L + tsMin * 60000L))
      // 5 identical docs, one per batch, through a cap-3 bucket
      (1 to 5).foreach { i => input.addData(doc(i.toLong, i)); q.processAllAvailable() }
      // doc 6 must match ONLY the 3 docs still in state (3,4,5 — 1 and 2
      // evicted oldest-first), proving state stayed <= cap
      input.addData(doc(6L, 6)); q.processAllAvailable()
      val dupOf = spark.sql("SELECT DISTINCT dup_of FROM neardup_cap WHERE doc_id = 6")
        .collect().map(_.getLong(0)).toSet
      assert(dupOf === Set(3L, 4L, 5L), s"doc 6 matched $dupOf, state not capped at 3")
      // hits are never silently dropped: every arrival matched all docs then in state
      val hitsPerDoc = spark.sql(
        "SELECT doc_id, count(DISTINCT dup_of) FROM neardup_cap GROUP BY doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(hitsPerDoc(2L) === 1L && hitsPerDoc(3L) === 2L && hitsPerDoc(4L) === 3L)
      assert(hitsPerDoc(5L) === 3L, "doc 5 sees capped state of 3")
      // identical docs share all 4 chunk buckets: docs 4,5,6 each evict one
      // doc from each of the 4 buckets = 12 evictions
      assert(overflow.value === 12L, s"overflow counter ${overflow.value}")
    } finally q.stop()
  }

  test("streaming near-dup event-time ageout: backlog replay expires buckets by the DATA's clock") {
    import graft.streaming.StreamDoc
    implicit val sqlCtx = spark.sqlContext
    // Replaying a historical backlog fast-forwards EVENT time while
    // processing time barely advances — a processing-time timeout would
    // hold the whole backlog in state. With eventTimeAgeout, a bucket
    // expires once the watermark passes 1h beyond its newest event, so the
    // replay ages out state exactly as the live run would have.
    val input = MemoryStream[StreamDoc]
    val hits = StreamingMentions.nearDupStream(spark, input.toDS(),
      maxHamming = 12, stateTimeout = None,
      eventTimeAgeout = Some("1 hour"), lateness = "10 minutes")
    val q = hits.writeStream.format("memory").queryName("neardup_et")
      .outputMode("update").start()
    try {
      val t0 = 1735689600000L
      def doc(id: Long, text: String, tsMin: Long) =
        StreamDoc(id, text, new Timestamp(t0 + tsMin * 60000L))
      val x = "the shared boilerplate paragraph that would otherwise match across the entire replayed backlog"
      input.addData(doc(1, x, 0)) // enters state; ageout due at event time +1h
      q.processAllAvailable()
      // two filler batches push the watermark hours past doc 1's ageout
      input.addData(doc(2, "an unrelated progress report on shuffle partition tuning and adaptive planning", 180))
      q.processAllAvailable()
      input.addData(doc(3, "different filler prose about broadcast thresholds and codegen fusion spans", 360))
      q.processAllAvailable() // watermark ~5h50m > doc 1's 1h ageout -> bucket expired
      input.addData(doc(4, x, 370)) // same text as doc 1 — must NOT match aged-out state
      q.processAllAvailable()
      input.addData(doc(5, x, 375)) // within 1h of doc 4 — MUST still match
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, dup_of FROM neardup_et")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!rows.contains((4L, 1L)),
        s"doc 1 must have aged out by event time before doc 4 arrived: $rows")
      assert(rows.contains((5L, 4L)),
        s"doc 5 must still match doc 4 (inside the ageout window): $rows")
      assert(rows === Set((5L, 4L)), s"unexpected extra hits: $rows")
    } finally q.stop()
  }

  test("event-time ageout: an out-of-order straggler cannot shorten a bucket's deadline") {
    import graft.streaming.StreamDoc
    implicit val sqlCtx = spark.sqlContext
    // The deadline must track the newest event the bucket has EVER seen
    // (carried in BucketState.maxTsMs). Recomputing it from only the
    // current batch would let a late straggler pull the deadline EARLIER
    // and evict live state.
    val input = MemoryStream[StreamDoc]
    val hits = StreamingMentions.nearDupStream(spark, input.toDS(),
      maxHamming = 12, stateTimeout = None,
      eventTimeAgeout = Some("1 hour"), lateness = "10 minutes")
    val q = hits.writeStream.format("memory").queryName("neardup_straggler")
      .outputMode("update").start()
    try {
      val t0 = 1735689600000L
      def doc(id: Long, text: String, tsMin: Long) =
        StreamDoc(id, text, new Timestamp(t0 + tsMin * 60000L))
      val x = "one shared paragraph that keeps this bucket populated through the whole scenario"
      input.addData(doc(1, x, 0)); q.processAllAvailable()
      input.addData(doc(2, x, 55)); q.processAllAvailable()   // deadline -> 115
      input.addData(doc(3, x, 50)); q.processAllAvailable()   // STRAGGLER: must not pull it to 110
      input.addData(doc(4, "unrelated filler prose about shuffle partition tuning and planning", 123))
      q.processAllAvailable()                                  // watermark -> 113: inside (110, 115]
      input.addData(doc(5, x, 114)); q.processAllAvailable()   // bucket must still be alive
      val doc5 = spark.sql("SELECT dup_of FROM neardup_straggler WHERE doc_id = 5")
        .collect().map(_.getLong(0)).toSet
      assert(doc5 === Set(1L, 2L, 3L),
        s"straggler shortened the ageout deadline — doc 5 matched only $doc5")
    } finally q.stop()
  }

  test("streaming near-dup rejects a degenerate bucket cap") {
    import graft.streaming.StreamDoc
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    // cap 0 would thrash state one-in-one-out with an overflow per arrival
    intercept[IllegalArgumentException] {
      StreamingMentions.nearDupStream(spark, input.toDS(),
        stateTimeout = None, maxDocsPerBucket = 0)
    }
  }

  test("streaming near-dup bucket state survives a query RESTART with its eviction order") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamDoc
    import java.sql.Timestamp
    // BucketState carries the arrival-order vector precisely because a
    // bare Map loses insertion order across the state-store round-trip —
    // this pins that the order (and therefore WHICH doc the cap evicts)
    // is preserved when the query restarts from its checkpoint
    val dir = java.nio.file.Files.createTempDirectory("graft-ndrestart").toString
    val text = "the same boilerplate paragraph repeated in every document of this bucket today"
    def writeBatch(sub: String, ids: Seq[Long]): Unit =
      ids.map(i => StreamDoc(i, text, new Timestamp(1735689600000L + i * 60000L)))
        .toDS().write.mode("overwrite").parquet(s"$dir/in/$sub")
    writeBatch("b1", Seq(1L, 2L, 3L))

    val schema = spark.read.parquet(s"$dir/in/b1").schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .parquet(s"$dir/in/*").as[StreamDoc]
      val q = StreamingMentions.nearDupStream(spark, stream,
          maxHamming = 12, stateTimeout = None, maxDocsPerBucket = 2)
        .writeStream
        // flatMapGroupsWithState emits Update-mode output, which the
        // append-only parquet sink rejects — foreachBatch accepts it and
        // still checkpoints state
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.NearDupHit], _: Long) =>
          batch.write.mode("append").parquet(s"$dir/out")
        }
        .outputMode("update")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      val finished = q.awaitTermination(120000)
      if (!finished) {
        q.stop()
        fail("near-dup restart query did not finish within 120 s")
      }
    }
    runOnce() // batch 1: docs 1,2,3 — cap 2 evicts doc 1; state = {2,3}
    writeBatch("b2", Seq(10L))
    runOnce() // restart from checkpoint: doc 10 must match ONLY {2,3}
    val hits = spark.read.parquet(s"$dir/out")
      .select("doc_id", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val doc10 = hits.collect { case (10L, d) => d }
    assert(doc10 === Set(2L, 3L),
      s"restarted state must keep {2,3} with doc 1 evicted, got $doc10 (all hits: $hits)")
  }

  test("stateful running per-conversation scores accumulate across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val ac = spark.sparkContext.broadcast(KgPipeline.sharedAutomaton)
    val mentions = StreamingMentions.mentionStream(spark, input.toDS(), ac)
    val running = StreamingMentions.runningConvScores(spark, mentions, stateTimeout = None)

    val q = running.writeStream.format("memory").queryName("run_scores")
      .outputMode("update").start()
    try {
      input.addData(turn("c1", 0, "the ocean was calm", 0))
      q.processAllAvailable()
      input.addData(turn("c1", 1, "the ocean was calm again", 1))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT occurrences FROM run_scores WHERE conv_id='c1' AND envo=15 ORDER BY occurrences")
        .collect().map(_.getLong(0)).toSeq
      // first batch emits count 1, second emits accumulated count 2
      assert(rows === Seq(1L, 2L))
    } finally q.stop()
  }
}
