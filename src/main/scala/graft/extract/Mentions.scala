package graft.extract

import java.util.regex.Pattern
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.Lexicon

/** A raw entity mention (reference ExtractedEntity, extract/ner.py:18-27). */
final case class Mention(
    doc_id: String,
    pos: Int,
    passage_id: String,
    text: String,
    start: Int,
    end: Int,
    label: String, // PERSON | PLACE | OBJECT | ORG | EVENT | UNKNOWN
    source: String, // heuristic | pattern | gazetteer
    confidence: Double)

/** Mention detection — the batched mapPartitions-vectorized stage of the
  * north rule. Deterministic equivalent of the reference NERPipeline
  * (extract/ner.py:78-290): capitalized-span heuristic replaces the spaCy
  * model, the title/epithet regexes are ported verbatim, and a broadcast
  * gazetteer scan replaces the LLM extractor (same information source as
  * the seeds). The patterns are JVM-level singletons, matched through
  * thread-local matchers ([[Hot.of]]); rows are processed in bulk with no
  * shuffle.
  */
object Mentions {

  /** Capitalized noun-span heuristic (stands in for ner.py:137-157's
    * proper-noun noun-chunk fallback): maximal runs of Capitalized words,
    * dropping single tokens from the reference's `non_names` stoplist
    * (voice/dialogue.py:279-298).
    */
  private val CapSpan: Pattern =
    Pattern.compile("""\b([A-Z][a-z]+(?:\s+[A-Z][a-z]+)*)\b""")

  /** TITLE_PATTERNS + EPITHET_PATTERNS, reference ner.py:34-44, conf 0.9. */
  private[extract] val NamedSources: IndexedSeq[String] = IndexedSeq(
    """\b(King|Queen|Lord|Lady|Prince|Princess|Chief|Captain|Steward)\s+(?:of\s+)?([A-Z][a-z]+(?:\s+[A-Z][a-z]+)*)""",
    """\b(the\s+)?(Grey|White|Dark|Black|High|Great)\s+(Wizard|King|Lord|Lady|Enemy|Rider)""",
    """\b(the\s+)?(Ring-?bearer|Halfling|Perian|Dwarf-friend|Elf-friend)""",
    """\b(the\s+)?(Necromancer|Enemy|Dark Lord|Shadow)""",
    """\b(Gandalf|Saruman|Radagast)\s+(the\s+)?(Grey|White|Brown)""")

  private[extract] val NamedPatterns: IndexedSeq[Pattern] =
    NamedSources.map(p => Pattern.compile(p, Pattern.CASE_INSENSITIVE))

  /** Literal gate of [[NamedPatterns]]: pattern i runs only on a passage
    * holding one of its title/epithet words. Four of the five rarely match
    * a passage, and each ungated CASE_INSENSITIVE `find()` scanned the
    * whole passage. MentionsSpec pins gated == ungated.
    */
  private val NamedGate = new LiteralGate(NamedSources)

  /** Label for a gazetteer hit, by seed entity type. */
  private def gazLabel(entityType: String): String = entityType match {
    case "character" => "PERSON"
    case "place" => "PLACE"
    case "object" => "OBJECT"
    case _ => "UNKNOWN"
  }

  private[extract] final case class Raw(text: String, start: Int, end: Int,
      label: String, source: String, confidence: Double)

  /** Seq-based convenience overload (unit tests): wraps the entries in a
    * one-off automaton. Spark stages build ONE [[Gazetteer]] and broadcast
    * it instead.
    */
  private[extract] def detectRaw(
      text: String,
      gazetteer: Seq[(String, String)]): Seq[Raw] =
    detectRaw(text, new Gazetteer(gazetteer.toIndexedSeq))

  /** Detect raw (pre-dedup) mentions in one passage text. Pure function —
    * unit-testable without Spark.
    */
  private[extract] def detectRaw(
      text: String,
      gazetteer: Gazetteer): Seq[Raw] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Raw]

    // 1. capitalized-span heuristic (label UNKNOWN, conf 0.7).
    // Leading stoplist tokens ("Then Tom Bombadil") are stripped — spaCy's
    // noun chunks never include a sentence-initial adverb/determiner.
    // Hot.of: thread-local Matcher reuse — a fresh Matcher (plus its int[]
    // group arrays) per passage per pattern was ~8% of the scaling leg's
    // sampled allocation (round-5 JFR)
    val m = Hot.of(CapSpan, text)
    while (m.find()) {
      var t = m.group(1)
      var start = m.start(1)
      var stripped = true
      while (stripped) {
        // the CapSpan separator is \s+ — advance past the WHOLE whitespace
        // run (a fixed `+ 1` on "Then  Tom" would leave a leading space in
        // the span and shift its start; round-5 review)
        val ws = t.indexWhere(Character.isWhitespace)
        if (ws > 0 && Lexicon.NonNames.contains(t.substring(0, ws).toLowerCase(java.util.Locale.ROOT))) {
          var adv = ws
          while (adv < t.length && Character.isWhitespace(t.charAt(adv))) adv += 1
          start += adv
          t = t.substring(adv)
        } else stripped = false
      }
      val single = !t.exists(Character.isWhitespace)
      if (!(single && Lexicon.NonNames.contains(t.toLowerCase(java.util.Locale.ROOT))))
        out += Raw(t, start, start + t.length, "UNKNOWN", "heuristic", 0.7)
    }

    // length-PRESERVING per-char lowercase, shared by the pattern gate and
    // the gazetteer scan: String.toLowerCase(java.util.Locale.ROOT) can
    // change the string length (e.g. U+0130 'İ' expands to two chars),
    // which would shift every subsequent hit offset relative to `text` and
    // can push endIdx past text.length (round-5 review). Character-level
    // lowercasing never changes length.
    val lower = {
      val cs = new Array[Char](text.length)
      var i = 0
      while (i < text.length) {
        cs(i) = Character.toLowerCase(text.charAt(i)); i += 1
      }
      new String(cs)
    }

    // 2. title/epithet patterns (PERSON, conf 0.9) — ner.py:160-177
    val gate = NamedGate.present(lower)
    var np = 0
    while (np < NamedPatterns.length) {
      if (NamedGate.open(gate, np)) {
        val pm = Hot.of(NamedPatterns(np), text)
        while (pm.find())
          out += Raw(pm.group(0), pm.start, pm.end, "PERSON", "pattern", 0.9)
      }
      np += 1
    }

    // 3. gazetteer scan (typed, conf 0.85) — deterministic substitute for
    //    the LLM extractor (ner.py:179-260); locate-by-find, like the
    //    reference does for LLM spans (ner.py:238-241), but all
    //    occurrences. One Aho-Corasick pass: linear in text length, NOT in
    //    the alias count — the per-alias indexOf loop was the one stage
    //    that degraded linearly with registry size (VERDICT r02 #3).
    gazetteer.hits(lower).foreach { case (pi, idx) =>
      val (name, etype) = gazetteer.entries(pi)
      val endIdx = idx + name.length
      val wordStart = idx == 0 || !Character.isLetter(lower.charAt(idx - 1))
      val wordEnd = endIdx == lower.length || !Character.isLetter(lower.charAt(endIdx))
      if (wordStart && wordEnd)
        out += Raw(text.substring(idx, endIdx), idx, endIdx,
          gazLabel(etype), "gazetteer", 0.85)
    }

    out.toSeq
  }

  /** Overlap dedup, ported exactly from ner.py:262-290: sort by
    * (start, -confidence); greedily keep non-overlapping; an overlapping
    * newcomer replaces the accepted span iff it has strictly higher
    * confidence AND text at least as long.
    */
  /** (start asc, confidence desc) without boxing a Tuple2 per comparison
    * (`sortBy(e => (e.start, -e.confidence))` was ~2.5% of the scaling
    * leg's sampled allocation); same stable sort, same ordering.
    */
  private val RawOrder: Ordering[Raw] = new Ordering[Raw] {
    def compare(a: Raw, b: Raw): Int = {
      val c = Integer.compare(a.start, b.start)
      if (c != 0) c
      else java.lang.Double.compare(b.confidence, a.confidence)
    }
  }

  private[extract] def dedup(entities: Seq[Raw]): Seq[Raw] = {
    val sorted = entities.sorted(RawOrder)
    val result = scala.collection.mutable.ArrayBuffer.empty[Raw]
    sorted.foreach { e =>
      val overlapping = result.indexWhere(a => !(e.end <= a.start || e.start >= a.end))
      if (overlapping >= 0) {
        val a = result(overlapping)
        if (e.confidence > a.confidence && e.text.length >= a.text.length) {
          result.remove(overlapping)
          result += e
        }
      } else result += e
    }
    result.sortBy(_.start).toSeq
  }

  /** Full per-passage detection (detect + dedup). */
  private[extract] def detect(
      text: String,
      gazetteer: Gazetteer): Seq[Raw] =
    dedup(detectRaw(text, gazetteer))

  /** Seq-based convenience overload (unit tests). */
  private[extract] def detect(
      text: String,
      gazetteer: Seq[(String, String)]): Seq[Raw] =
    detect(text, new Gazetteer(gazetteer.toIndexedSeq))

  /** The compiled seed gazetteer for a seed set. */
  def gazetteer(seeds: Seq[SeedEntity]): Gazetteer =
    new Gazetteer(Seeds.aliasRows(seeds).map(r => (r._1, r._3)).toIndexedSeq)

  /** Spark stage: textual passages -> Dataset[Mention]. Narrow
    * (mapPartitions), the compiled gazetteer automaton broadcast once.
    */
  def fromPassages(
      spark: SparkSession,
      passages: DataFrame,
      seeds: Seq[SeedEntity] = Seeds.default): Dataset[Mention] = {
    import spark.implicits._
    val gaz = spark.sparkContext.broadcast(gazetteer(seeds))
    passages
      .select("doc_id", "pos", "passage_id", "text")
      .as[(String, Int, String, String)]
      .mapPartitions { it =>
        val g = gaz.value
        it.flatMap { case (docId, pos, pid, text) =>
          detect(text, g).map(r =>
            Mention(docId, pos, pid, r.text, r.start, r.end,
              r.label, r.source, r.confidence))
        }
      }
  }
}
