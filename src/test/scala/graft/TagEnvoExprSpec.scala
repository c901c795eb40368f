package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{GraftFunctions, TagEnvoMemo, TagEnvoMentions}

/** The native tag_envo Catalyst expression: Column API, SQL registration,
  * null safety, agreement with the automaton, and its per-task memo. */
class TagEnvoExprSpec extends CacheHygiene {
  import spark.implicits._

  private type Span = (Int, Int, String, Seq[Int])

  private lazy val formsByFirst: Map[Char, Seq[String]] =
    KgPipeline.sharedDict.formToSerials.keys.toSeq.groupBy(_.charAt(0))

  /** A plain substring tagger that shares no code with the automaton, to
    * the rules of perfbench's reference tagger: case-insensitive forms,
    * both span ends on a token boundary (the neighbour is not a letter or
    * digit), a span whose raw slice is in the case-sensitive stoplist is
    * dropped, longest-leftmost without overlap. */
  private def naiveTag(text: String): Seq[Span] = {
    val dict = KgPipeline.sharedDict
    def word(c: Char) = Character.isLetterOrDigit(c)
    val lower = text.map(Character.toLowerCase)
    val candidates = for {
      i <- text.indices if i == 0 || !word(text.charAt(i - 1))
      form <- formsByFirst.getOrElse(lower.charAt(i), Nil)
      end = i + form.length
      if lower.startsWith(form, i) && (end == text.length || !word(text.charAt(end)))
      if !dict.stoplist.contains(text.substring(i, end))
    } yield (i, end, form)
    var lastEnd = 0
    candidates.sortBy(c => (c._1, -c._2)).flatMap { case (start, end, form) =>
      if (start < lastEnd) None
      else {
        lastEnd = end
        val envos = dict.formToSerials(form).flatMap(dict.serialToEnvoInt.get).distinct.sorted
        Some((start, end, form, envos.toSeq))
      }
    }
  }

  /** idx -> spans of tag_envo over `text` (None for a NULL result). */
  private def tagged(df: DataFrame): Map[Int, Option[Seq[Span]]] =
    df.select(col("idx"), GraftFunctions.tag_envo(spark, col("text")).as("m"))
      .collect().map { r =>
        r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getSeq[Row](1).map(s =>
          (s.getInt(0), s.getInt(1), s.getString(2), s.getSeq[Int](4)))))
      }.toMap

  /** The spans of the un-memoized reference body, `TagEnvoMentions.evalWith`. */
  private def evalWithSpans(text: String): Seq[Span] = {
    val a = TagEnvoMentions.evalWith(KgPipeline.sharedAutomaton, UTF8String.fromString(text))
    (0 until a.numElements()).map { i =>
      val s = a.getStruct(i, 5)
      (s.getInt(0), s.getInt(1), s.getUTF8String(2).toString, s.getArray(4).toIntArray().toSeq)
    }
  }

  /** Random-case, stoplisted, non-ASCII, boundary-heavy and empty texts. */
  private def randomTexts(rng: scala.util.Random, n: Int): Seq[String] = {
    val dict = KgPipeline.sharedDict
    val vocab = dict.formToSerials.keys.toVector.sorted
    val stop = dict.stoplist.toVector.sorted
    val glue = Vector(" ", " ", " ", ", ", "-", "_", "/", "(", ")", ".", "é", "ß", "日本",
      "\uD83C\uDF0A", "1", "x", "\t", "\u00a0", "\u0130")
    def word(): String = rng.nextInt(6) match {
      case 0 | 1 => vocab(rng.nextInt(vocab.size))
      case 2 => vocab(rng.nextInt(vocab.size)).map(c => if (rng.nextBoolean()) c.toUpper else c)
      case 3 => stop(rng.nextInt(stop.size))
      case 4 => Vector("Ωmega", "naïve", "日本語", "straße", "ÉTÉ", "\u0130stanbul")(rng.nextInt(6))
      case _ => "zz" + rng.nextInt(50)
    }
    Seq.fill(n)((1 to rng.nextInt(8)).map(_ => word() + glue(rng.nextInt(glue.size))).mkString)
  }

  private val codegenModes = Seq(
    "whole-stage codegen" -> Map("spark.sql.codegen.wholeStage" -> "true"),
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConf[A](conf: Map[String, String])(f: => A): A = {
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally conf.keys.foreach(spark.conf.unset)
  }

  test("differential: memoized tag_envo, evalWith and a naive substring tagger agree") {
    val rng = new scala.util.Random(2024)
    val base = randomTexts(rng, 600) ++ Seq("", null, null)
    // case variants whose spans differ (a stoplisted raw form beside its
    // taggable lowercase), so a memo that confused them would hand one the
    // other's spans
    val dict = KgPipeline.sharedDict
    val variants = dict.stoplist.toSeq.sorted
      .filter(w => dict.formToSerials.contains(w.toLowerCase) && !dict.stoplist.contains(w.toLowerCase))
      .take(20).flatMap(w => Seq(s"the $w sample", s"the ${w.toLowerCase} sample"))
    assert(variants.nonEmpty)
    // heavy repeats: these texts recur dozens of times in every partition
    val repeated = (base.filter(t => t != null && t.nonEmpty).take(25) ++ variants)
      .flatMap(Seq.fill(40)(_))
    def frame(texts: Seq[String], partitions: Int) = spark.sparkContext
      .parallelize(texts.zipWithIndex.map { case (t, i) => (i, t) }, partitions)
      .toDF("idx", "text")
    val mixed = frame(rng.shuffle(base ++ repeated), 4)
    // one partition with more distinct texts than the memo holds, then
    // repeats of texts evicted by the clear and of texts still held
    val vocab = dict.formToSerials.keys.toVector.sorted
    val distinct = (0 until TagEnvoMemo.MaxEntries + 4000).map(i =>
      if (i % 3 == 0) s"${vocab(i % vocab.size).toUpperCase} $i" else s"${vocab(i % vocab.size)}-$i")
    val bigTexts = distinct ++ distinct.take(2000) ++ distinct.takeRight(2000)
    val big = frame(bigTexts, 1)

    for ((df, label) <- Seq(mixed -> "mixed", big -> "one oversized partition")) {
      val input = df.collect().map(r => r.getInt(0) -> Option(r.getString(1))).toMap
      val expected = input.view.mapValues(_.map(naiveTag)).toMap
      assert(expected.values.exists(_.exists(_.nonEmpty)), s"$label: nothing tagged")
      assert(expected.values.exists(_.isEmpty) == (label == "mixed"), s"$label: NULL rows")
      // the naive tagger and the un-memoized body agree before either
      // judges the memo
      val direct = input.view.mapValues(_.map(evalWithSpans)).toMap
      assert(direct === expected, s"$label: evalWith against the naive tagger")
      for ((mode, conf) <- codegenModes) withConf(conf) {
        val got = tagged(df)
        val wrong = expected.keys.toSeq.sorted.filter(k => !got.get(k).contains(expected(k)))
        assert(got.size == expected.size && wrong.isEmpty, s"$label, $mode: " +
          s"(idx, tag_envo, naive) ${wrong.take(3).map(k => (k, got.get(k), expected(k)))}")
        val fused = df.select(GraftFunctions.tag_envo(spark, col("text")))
          .queryExecution.executedPlan.collect {
            case w: org.apache.spark.sql.execution.WholeStageCodegenExec
              if w.toString.contains("tag_envo") => w
          }
        assert(fused.nonEmpty === (mode == "whole-stage codegen"), s"$label, $mode")
      }
    }
  }

  test("tag_envo memo: bounded, cleared when full, keys copied out of the row buffer") {
    val ac = KgPipeline.sharedAutomaton
    def spans(a: org.apache.spark.sql.catalyst.util.ArrayData): Seq[(Int, Int, String)] =
      (0 until a.numElements()).map { i =>
        val s = a.getStruct(i, 5)
        (s.getInt(0), s.getInt(1), s.getUTF8String(2).toString)
      }
    // the charge covers what an entry holds (its key copy and its tagged
    // spans), measured on plain and mention-dense texts
    val dense = Seq("the ocean", "x", "marine wetland soil and lake mud by the ocean",
      "forest soil, lake sediment, river water, sea ice, glacier, desert sand, hot spring")
    dense.foreach { t =>
      val u = UTF8String.fromString(t)
      val tagged = TagEnvoMentions.evalWith(ac, u)
      val held = org.apache.spark.util.SizeEstimator.estimate(Array[AnyRef](u.copy(), tagged))
      assert(TagEnvoMemo.cost(u, tagged) >= held, s"'$t' charged below its heap ($held bytes)")
    }
    val bound = 1500L
    val memo = new TagEnvoMemo(ac, maxEntries = 4, maxBytes = bound)
    var cleared = false
    val texts = Seq("the ocean", "lake mud", "the ocean", "marine wetland", "soil",
      "forest soil and lake", "the ocean", "x" * 1500, "OCEAN", "ocean", "lake mud")
    texts.foreach { t =>
      val u = UTF8String.fromString(t)
      val before = memo.entries
      assert(spans(memo.tag(u)) === spans(TagEnvoMentions.evalWith(ac, u)), t)
      assert(memo.entries <= 4 && memo.bytes <= bound, s"memo past its bound after '$t'")
      cleared ||= memo.entries < before
    }
    assert(cleared, "the memo never reached its bound")
    // a hit hands back the very array the miss computed
    val again = new TagEnvoMemo(ac)
    val first = again.tag(UTF8String.fromString("marine wetland"))
    assert(again.tag(UTF8String.fromString("marine wetland")) eq first)
    // the key is copied out of the caller's (reused) buffer: rewriting the
    // buffer neither hands "xcean" ocean's spans nor loses ocean's entry
    val buf = "ocean".getBytes("UTF-8")
    val ocean = again.tag(UTF8String.fromBytes(buf))
    assert(spans(ocean).map(_._3) === Seq("ocean"))
    buf(0) = 'x'.toByte
    assert(spans(again.tag(UTF8String.fromBytes(buf))).isEmpty)
    assert(again.tag(UTF8String.fromString("ocean")) eq ocean)
  }

  test("tag_envo via Column API matches the automaton") {
    val df = Seq("the ocean was calm", "no concepts", "marine wetland")
      .toDF("text")
      .select(col("text"), GraftFunctions.tag_envo(col("text")).as("m"))
    val rows = df.select(col("text"), expr("transform(m, x -> x.form)").as("forms"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(rows("the ocean was calm") === Seq("ocean"))
    assert(rows("no concepts").isEmpty)
    assert(rows("marine wetland") === Seq("marine", "wetland"))
  }

  test("tag_envo callable from SQL after registration") {
    GraftFunctions.register(spark)
    val out = spark.sql(
      "SELECT tag_envo('bacterioplankton sample from lake') AS m")
      .select(expr("m[0].envos[0]"), expr("m[0].start"), expr("m[0].end"))
      .collect().head
    assert(out.getInt(0) === 20)
    assert((out.getInt(1), out.getInt(2)) === (29, 33))
  }

  test("null text yields null, empty text yields empty array") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT tag_envo(CAST(NULL AS STRING)) AS a, tag_envo('') AS b").collect().head
    assert(r.isNullAt(0))
    assert(r.getSeq[Any](1).isEmpty)
  }

  test("multi-concept span carries both serials and envos") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT tag_envo('marine') AS m")
      .select(expr("m[0].serials"), expr("m[0].envos")).collect().head
    assert(r.getSeq[Long](0).length === 2)
    assert(r.getSeq[Int](1) === Seq(447, 569))
  }
}
