package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One input turn, as the benchmark read it back from the generated parquet. */
final case class RefTurn(convId: String, turnIdx: Int, text: String, tool: Option[String])

/**
 * A reference computation of mentions and annotated_with weights that shares
 * no code with the engine: it reads the dictionary TSVs itself and tags by a
 * plain substring scan instead of an automaton.
 *
 * Tagging rules: case-insensitive match of every surface form, both span ends
 * on a token boundary (neighbour is not a letter or digit), a span whose raw
 * slice is in the case-sensitive stoplist is dropped, and the surviving
 * candidates are chosen longest-leftmost without overlap. A span carries
 * every concept its form names.
 *
 * Scoring rules: flat keeps every tagged turn; upui keeps the first turn (by
 * turn_idx) of each distinct text, then among those the first turn of each
 * tool, keeping every tool-less turn; backtracking adds one occurrence of
 * every ancestor in envo_groups for each occurrence; proportional divides
 * each concept's occurrences by the conversation's total.
 */
final class Reference(dictDir: String) {
  private def lines(name: String): Seq[String] =
    Files.readAllLines(Paths.get(dictDir, name), UTF_8).asScala.toSeq

  private def envoInt(curie: String): Option[Int] = {
    val suffix = curie.stripPrefix("ENVO:")
    if (curie.startsWith("ENVO:") && suffix.nonEmpty && suffix.forall(_.isDigit)) Some(suffix.toInt)
    else None
  }

  private val serialCurie: Map[Long, String] = lines("envo_entities.tsv").flatMap { l =>
    val c = l.split("\t")
    if (c.length >= 3) Some(c(0).trim.toLong -> c(2).trim) else None
  }.toMap

  /** Every CURIE the entity table lists. */
  val curies: Set[String] = serialCurie.values.toSet

  /** envo int -> CURIE, for the concepts that have an int. */
  val curieOf: Map[Int, String] = curies.flatMap(c => envoInt(c).map(_ -> c)).toMap

  private def serialEnvo(s: Long): Option[Int] = serialCurie.get(s).flatMap(envoInt)

  private val stoplist: Set[String] = lines("envo_global.tsv").flatMap { l =>
    val i = l.lastIndexOf('\t')
    if (i > 0 && l.substring(i + 1).trim == "t") Some(l.substring(0, i)) else None
  }.toSet

  /** Lowercased form -> concepts it names; bucketed by first character so
    * that the scan only tries forms that can start at a position. */
  private val formsByFirst: Map[Char, Array[(String, Array[Int])]] = {
    val serials = mutable.HashMap.empty[String, mutable.Set[Long]]
    lines("envo_names.tsv").foreach { l =>
      val i = l.indexOf('\t')
      if (i > 0) {
        val form = l.substring(i + 1).trim
        if (form.nonEmpty)
          serials.getOrElseUpdate(form.toLowerCase(java.util.Locale.ROOT), mutable.Set.empty) +=
            l.substring(0, i).trim.toLong
      }
    }
    serials.toSeq
      .map { case (f, ss) => f -> ss.toSeq.flatMap(serialEnvo).distinct.sorted.toArray }
      .groupBy(_._1.charAt(0)).map { case (c, fs) => c -> fs.toArray }
  }

  private val ancestors: Map[Int, Array[Int]] = lines("envo_groups.tsv").flatMap { l =>
    val c = l.split("\t")
    if (c.length >= 2) for (a <- serialEnvo(c(0).trim.toLong); b <- serialEnvo(c(1).trim.toLong)) yield a -> b
    else None
  }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.toArray }

  private def isWord(c: Char) = Character.isLetterOrDigit(c)

  /** The concept ids of every chosen span of `text`, in span order
    * (one entry per span and concept, repeats kept). */
  def tag(text: String): Seq[Int] = {
    if (text == null || text.isEmpty) return Nil
    val n = text.length
    // per-character lowercasing keeps offsets aligned with the raw text
    val lower = new String(text.toCharArray.map(Character.toLowerCase))
    val cands = mutable.ArrayBuffer.empty[(Int, Int, Array[Int])]
    var i = 0
    while (i < n) {
      if (i == 0 || !isWord(text.charAt(i - 1))) {
        formsByFirst.get(lower.charAt(i)).foreach { forms =>
          forms.foreach { case (form, envos) =>
            val end = i + form.length
            if (end <= n && lower.startsWith(form, i) &&
                (end == n || !isWord(text.charAt(end))) &&
                !stoplist.contains(text.substring(i, end)))
              cands += ((i, end, envos))
          }
        }
      }
      i += 1
    }
    val out = mutable.ArrayBuffer.empty[Int]
    var lastEnd = 0
    cands.sortBy(c => (c._1, -c._2)).foreach { case (s, e, envos) =>
      if (s >= lastEnd) { out ++= envos; lastEnd = e }
    }
    out.toSeq
  }

  /** Expected annotated_with weights, (conv_id, CURIE) -> weight. */
  def annotated(turns: Seq[RefTurn], normalization: String, backtracking: Boolean)
      : Map[(String, String), Double] = {
    val tags = mutable.HashMap.empty[String, Seq[Int]]
    turns.groupBy(_.convId).toSeq.flatMap { case (conv, ts) =>
      val tagged = ts.sortBy(_.turnIdx)
        .map(t => t -> tags.getOrElseUpdate(t.text, tag(t.text)))
        .filter(_._2.nonEmpty)
      val kept = normalization match {
        case "flat" => tagged
        case "upui" =>
          val seenText = mutable.HashSet.empty[String]
          val seenTool = mutable.HashSet.empty[String]
          tagged.filter(x => seenText.add(x._1.text))
            .filter(x => x._1.tool.forall(seenTool.add))
        case other => throw new IllegalArgumentException(s"no reference for $other")
      }
      val occ = kept.flatMap(_._2)
      val all = if (backtracking) occ ++ occ.flatMap(e => ancestors.getOrElse(e, Array.empty[Int])) else occ
      val total = all.length.toDouble
      all.groupBy(identity).toSeq.map { case (e, es) => (conv, curieOf(e)) -> es.length / total }
    }.toMap
  }

  /** Expected mentions triples, (subj, CURIE) -> multiplicity. */
  def mentions(turns: Seq[RefTurn]): Map[(String, String), Int] =
    turns.flatMap(t => tag(t.text).map(e => (s"${t.convId}:${t.turnIdx}", curieOf(e))))
      .groupBy(identity).map { case (k, v) => k -> v.length }
}
