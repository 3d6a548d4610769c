package graft.extract

import java.util.regex.Pattern
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.Lexicon

/** An extracted (subj, pred, obj) triple.
  * Reference: ExtractedRelationship (models/relationships.py:70-99). */
final case class Triple(
    doc_id: String,
    pos: Int,
    passage_id: String,
    subject_text: String,
    subject_id: Option[String],
    subject_type: Option[String],
    predicate: String,
    predicate_raw: String,
    object_text: String,
    object_id: Option[String],
    object_type: Option[String],
    confidence: Double,
    extraction_method: String)

/** SVO triple extraction: ONE narrow mapPartitions over passages detects
  * mentions, links them through the [[LocalLinker]] cascade and extracts
  * triples ([[Triples.fromPassagesFused]] — the only extractor; the
  * queries, the materialization job and the bench all run it).
  * Deterministic re-expression of the reference's dependency-parse path
  * (extract/relationships.py:161-276) without spaCy:
  *
  *  - verb = token whose lowercase form is in the verb lexicon
  *    (lemma AND surface forms, Lexicon.VerbToRelationship)
  *  - subject = nearest noun phrase ending before the verb
  *  - object  = nearest noun phrase starting after the verb (preposition
  *    tokens in between are skipped naturally) — mirrors dobj|prep->pobj
  *  - noun phrases = detected mention spans plus article+commonnoun chunks
  *    ("the dragon"), mirroring spaCy noun_chunks (relationships.py:236-250)
  *  - a verb token directly preceded by a closing quote is speech
  *    attribution ("...," said X), which the dependency path would parse as
  *    an inverted nsubj with no dobj -> no triple; we skip it likewise
  *  - NPs inside a quoted region are not arguments of verbs outside it
  *    (spaCy parses quoted content as ccomp, never dobj)
  *  - triple emitted iff >=1 argument matches the passage's mention set
  *    (exact -> article-strip -> substring containment, T4
  *    relationships.py:252-276); confidence 0.7
  *  - per-passage dedup on lower(subj)|pred|lower(obj) keeping max
  *    confidence (T6, relationships.py:384-398)
  *  - self-loops (subject == object text) dropped: positional fallback for
  *    conjunction-shared subjects the dep parse would leave subject-less
  */
object Triples {

  private val WordToken: Pattern = Pattern.compile("""[A-Za-z][A-Za-z'-]*""")
  private val DetChunk: Pattern =
    Pattern.compile("""\b([Tt]he|[Aa]n?)\s+([a-z]+(?:\s+[a-z]+)?)\b""")
  /** T3 NP widening (relationships.py:236-250 compound/amod/det lefts):
    * a mention directly preceded by a determiner plus up to three
    * lowercase modifier words widens to one NP spanning from the
    * determiner — "the great dragon Smaug" binds as a single phrase whose
    * head keeps the mention's identity. Anchored at the prefix end so it
    * only fires on contiguous lefts; lexicon-verb words disqualify the
    * widening (a dependency parse would attach them as the predicate, not
    * a modifier).
    */
  private val DetPrefix: Pattern =
    Pattern.compile("""\b([Tt]he|[Aa]n?)\s+((?:[a-z]+(?:'[a-z]+)?\s+){0,3})$""")
  private[extract] val QuoteRegion: Pattern =
    Pattern.compile("\"[^\"]*\"|“[^”]*”")

  /** A linked mention span visible to the extractor. */
  final case class Arg(text: String, start: Int, end: Int,
      id: Option[String], etype: Option[String])

  private final case class Np(text: String, start: Int, end: Int,
      fromMention: Boolean)

  /** T4 argument->entity matching: exact, article-strip, then containment
    * either way. Returns the matching mention if any. Takes the
    * PRE-LOWERCASED (key, arg) list — building it here allocated a fresh
    * list of lowercased strings twice per verb occurrence in the
    * extraction hot loop (round-5 review; same allocation discipline as
    * the DetPrefix index walk above).
    */
  private def findEntity(
      text: String, byKey: Array[(String, Arg)]): Option[Arg] = {
    val t = text.toLowerCase(java.util.Locale.ROOT).trim
    // index walks, not Seq.find: a closure capturing `t` was allocated up
    // to 3x per findEntity call in the hot loop (round-5 JFR)
    var i = 0
    while (i < byKey.length) {
      if (byKey(i)._1 == t) return Some(byKey(i)._2)
      i += 1
    }
    // article-strip tier
    val s = LocalLinker.stripArticle(t)
    if (s != t) {
      i = 0
      while (i < byKey.length) {
        if (byKey(i)._1 == s) return Some(byKey(i)._2)
        i += 1
      }
    }
    i = 0
    while (i < byKey.length) {
      val k = byKey(i)._1
      if (k.contains(t) || t.contains(k)) return Some(byKey(i)._2)
      i += 1
    }
    None
  }

  private val NoQuotes = (Array.empty[Int], Array.empty[Int])

  /** [[QuoteRegion]] match (starts, ends). Every match opens with `"` or
    * `“`, so a passage holding neither skips the scan (TriplesSpec pins
    * this equal to the plain scan).
    */
  private[extract] def quoteRegions(text: String): (Array[Int], Array[Int]) =
    if (text.indexOf('"') < 0 && text.indexOf('“') < 0) NoQuotes
    else {
      val q = Hot.of(QuoteRegion, text)
      val s = scala.collection.mutable.ArrayBuffer.empty[Int]
      val e = scala.collection.mutable.ArrayBuffer.empty[Int]
      while (q.find()) { s += q.start; e += q.end }
      (s.toArray, e.toArray)
    }

  /** Pure per-passage extractor — unit-testable without Spark. */
  private[extract] def extract(
      text: String,
      mentions: Seq[Arg]): Seq[(String, String, Option[Arg], String, Option[Arg], String)] = {
    // quote regions (for argument/attribution scoping) — primitive arrays
    // + index-walk quoteOf: the indexWhere closure captured `p` and was
    // allocated once per lookup in the verb loop (round-5 JFR)
    val (qStarts, qEnds) = quoteRegions(text)
    def quoteOf(p: Int): Int = {
      var i = 0
      while (i < qStarts.length) {
        if (p >= qStarts(i) && p < qEnds(i)) return i
        i += 1
      }
      -1
    }

    // built once per passage, shared by every findEntity call
    val mentionsByKey = mentions.iterator
      .map(a => a.text.toLowerCase(java.util.Locale.ROOT) -> a).toArray

    // candidate noun phrases: (det-widened) mentions + det-chunks
    val nps = scala.collection.mutable.ArrayBuffer.empty[Np]
    // ONE reused matcher for every mention (a fresh Matcher per MENTION
    // was the single densest Matcher-churn site; round-5 JFR).
    // Matcher.region() clears match state before setting bounds, so each
    // mention sees exactly the state `DetPrefix.matcher(text).region(0,
    // m.start)` produced; anchoring bounds stay at their default (on), so
    // `$` matches at the region end and `\b` sees the region edge exactly
    // like a string boundary — identical semantics to the substring the
    // pre-round-5 code copied per mention.
    val pm = Hot.of(DetPrefix, text)
    val mentionNps = mentions.map { m =>
      pm.region(0, m.start)
      val widened =
        if (pm.find()) {
          // group(2) is (?:[a-z]+(?:'[a-z]+)?\s+){0,3} — words are
          // lowercase-ASCII by construction, so the lexicon probe needs no
          // toLowerCase; the former group(2).split("\\s+") recompiled a
          // Pattern and allocated a String[] per mention (round-5 JFR)
          var allMods = true
          var i = pm.start(2)
          val e2 = pm.end(2)
          while (allMods && i < e2) {
            while (i < e2 && Hot.isRegexWs(text.charAt(i))) i += 1
            var we = i
            while (we < e2 && !Hot.isRegexWs(text.charAt(we))) we += 1
            if (we > i &&
              Lexicon.VerbToRelationship.contains(text.substring(i, we)))
              allMods = false
            i = we
          }
          if (allMods)
            Some(Np(text.substring(pm.start, m.end), pm.start, m.end,
              fromMention = true))
          else None
        } else None
      widened.getOrElse(Np(m.text, m.start, m.end, fromMention = true))
    }
    mentionNps.foreach(nps += _)
    val dm = Hot.of(DetChunk, text)
    while (dm.find()) {
      // the greedy two-word group would swallow a following lexicon verb
      // into the NP ("The dragon attacked Smaug" -> chunk "The dragon
      // attacked", leaving no NP ending before the verb and dropping the
      // triple). Trim trailing lexicon-verb words — the same
      // disqualification DetPrefix applies (a dependency parse attaches
      // them as the predicate, not part of the noun chunk); round-5 review.
      // Index walk, not split(): this runs once per det-chunk in the
      // extraction hot loop, and a split("\\s+") here recompiled the
      // pattern and allocated a word array per chunk — measured as 16%
      // GC wall on the 16-core bench leg. The common no-trailing-verb
      // case now allocates one small substring (the set lookup key).
      // A chunk whose words are ALL lexicon verbs stays whole — "the
      // attacked Smaug" reads the verb as a participle modifier, the
      // documented widening-gate compromise (TriplesSpec).
      val g2s = dm.start(2)
      var end = dm.end
      var trimmedAny = false
      var done = false
      while (!done) {
        var we = end
        while (we > g2s && Character.isWhitespace(text.charAt(we - 1))) we -= 1
        if (we == g2s) { end = dm.end; done = true } // every word was a verb
        else {
          var ws = we
          while (ws > g2s && !Character.isWhitespace(text.charAt(ws - 1))) ws -= 1
          if (Lexicon.VerbToRelationship.contains(text.substring(ws, we).toLowerCase(java.util.Locale.ROOT))) {
            end = ws; trimmedAny = true
          } else {
            end = if (trimmedAny) we else dm.end
            done = true
          }
        }
      }
      val chunkEnd = end
      val overlapsMention = mentionNps.exists(m =>
        !(chunkEnd <= m.start || dm.start >= m.end))
      if (!overlapsMention)
        nps += Np(text.substring(dm.start, chunkEnd), dm.start, chunkEnd,
          fromMention = false)
    }
    // start-sorted NP array with each NP's quote region precomputed ONCE:
    // the former per-verb `sortedNps.filter(...).sortBy(...)` pair
    // allocated two buffers + a sort per verb token and re-derived
    // quoteOf(n.start) per (verb, NP) pair (round-5 JFR)
    val npArr = nps.sortBy(_.start).toArray
    val npQ = new Array[Int](npArr.length)
    var npI = 0
    while (npI < npArr.length) {
      npQ(npI) = quoteOf(npArr(npI).start)
      npI += 1
    }

    val out = scala.collection.mutable.LinkedHashMap
      .empty[String, (String, String, Option[Arg], String, Option[Arg], String)]

    val wm = Hot.of(WordToken, text)
    while (wm.find()) {
      val token = wm.group(0)
      val tLower = Hot.lowerAscii(token)
      Lexicon.VerbToRelationship.get(tLower).foreach { pred =>
        val vStart = wm.start
        val vEnd = wm.end
        // attribution skip: closing quote (optionally + comma) right
        // before — Hot.attributionBefore is the exact allocation-free walk
        // of the former `window.matches(".*[\"”],?\\s?")` (which compiled
        // a Pattern per VERB TOKEN; round-5 JFR)
        val isAttribution = Hot.attributionBefore(text, vStart)
        if (!isAttribution) {
          val vq = quoteOf(vStart)
          // subject: max n.end <= vStart (ties -> earliest in start
          // order, matching the stable sortBy(-n.end).headOption);
          // object: first in start order with n.start >= vEnd (matching
          // sortBy(n.start).headOption); both same-quote-region as vStart
          var subj: Np = null
          var obj: Np = null
          var i = 0
          while (i < npArr.length) {
            val n = npArr(i)
            if (npQ(i) == vq) {
              if (n.end <= vStart && (subj == null || n.end > subj.end))
                subj = n
              if (obj == null && n.start >= vEnd) obj = n
            }
            i += 1
          }
          if (subj != null && obj != null &&
            !subj.text.equalsIgnoreCase(obj.text)) {
            val s = subj
            val o = obj
            val se = findEntity(s.text, mentionsByKey)
            val oe = findEntity(o.text, mentionsByKey)
            if (se.isDefined || oe.isDefined) {
              val key = s"${s.text.toLowerCase(java.util.Locale.ROOT)}|$pred|${o.text.toLowerCase(java.util.Locale.ROOT)}"
              if (!out.contains(key))
                out(key) = (s.text, pred, se, o.text, oe, token)
            }
          }
        }
      }
    }
    out.values.toSeq
  }

  /** The triple extractor: detection + SVO extraction + broadcast-index
    * linking in ONE narrow mapPartitions over passages — zero shuffles
    * before the edge aggregate. This is the 100 TB shape: scan -> narrow
    * extract -> partial-agg. Linking is the [[LocalLinker]] cascade that
    * also backs the `linked` stage, so a mention's id and type here match
    * its Linker.link verdict (LinkerSpec).
    */
  def fromPassagesFused(
      spark: SparkSession,
      passages: DataFrame,
      seeds: Seq[graft.extract.SeedEntity] = Seeds.default): Dataset[Triple] = {
    import spark.implicits._
    val gaz = spark.sparkContext.broadcast(Mentions.gazetteer(seeds))
    val linker = spark.sparkContext.broadcast(new LocalLinker(seeds))
    passages
      .select("doc_id", "pos", "passage_id", "text")
      .as[(String, Int, String, String)]
      .mapPartitions { it =>
        val g = gaz.value
        val lk = linker.value
        it.flatMap { case (docId, pos, pid, text) =>
          val raw = Mentions.detect(text, g)
          if (raw.size < 2) Iterator.empty // T7 gate
          else {
            val args = raw.map { r =>
              lk.lookup(r.text) match {
                case Some(l) =>
                  Arg(r.text, r.start, r.end, Some(l.id), Some(l.entityType))
                // on a miss, infer the type as Linker.link's is_new rows do
                case None =>
                  Arg(r.text, r.start, r.end, None,
                    Some(LocalLinker.inferType(r.label, r.text)))
              }
            }
            extract(text, args).iterator.map {
              case (st, pred, se, ot, oe, rawVerb) =>
                Triple(docId, pos, pid,
                  st, se.flatMap(_.id), se.flatMap(_.etype),
                  pred, rawVerb,
                  ot, oe.flatMap(_.id), oe.flatMap(_.etype),
                  0.7, "svo")
            }
          }
        }
      }
  }
}
