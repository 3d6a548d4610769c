package graft.voice

import java.util.regex.Pattern
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import graft.Lexicon

/** One extracted dialogue line.
  * Reference: DialogueLine (voice/dialogue.py:79-99). */
final case class DialogueRow(
    doc_id: String,
    pos: Int,
    passage_id: String,
    quote: String,
    position: Int,
    speaker: Option[String],
    speech_verb: Option[String],
    attribution_confidence: Double,
    is_question: Boolean,
    is_exclamation: Boolean,
    is_statement: Boolean,
    quote_chars: Int,
    text_chars: Int)

/** Dialogue extraction + 4-tier speaker attribution, ported from
  * voice/dialogue.py:124-316. Straight + curly double quotes (the
  * reference compiles more patterns but only uses the first two,
  * dialogue.py:162). Runs as a narrow mapPartitions stage.
  */
object Dialogue {

  private val QuotePatterns: Seq[Pattern] = Seq(
    Pattern.compile("\"([^\"]+)\""),
    Pattern.compile("“([^”]+)”"))

  private val verbAlt: String = Lexicon.SpeechVerbs.mkString("|")

  // Tier 1: "..." said NAME       (conf 0.9, dialogue.py:239-249)
  private val AfterPat = Pattern.compile(
    s"""^[,.]?\\s*($verbAlt)\\s+([A-Z][a-z]+(?:\\s+[A-Z][a-z]+)?)""",
    Pattern.CASE_INSENSITIVE)
  // Tier 2: NAME said, "..."      (conf 0.9, dialogue.py:252-262)
  private val BeforePat = Pattern.compile(
    s"""([A-Z][a-z]+(?:\\s+[A-Z][a-z]+)?)\\s+($verbAlt)[,.]?\\s*$$""",
    Pattern.CASE_INSENSITIVE)
  // Tier 3: verb NAME anywhere after (conf 0.7, dialogue.py:265-273)
  private val AfterVerbPat = Pattern.compile(
    s"""($verbAlt)\\s+([A-Z][a-z]+)""", Pattern.CASE_INSENSITIVE)
  // Tier 4: any capitalized non-stopword name (conf 0.4 after / 0.3 before)
  private val NamePat = Pattern.compile("""\b([A-Z][a-z]+)\b""")

  /** (speaker, speech_verb, confidence) — the attribution cascade. */
  private[voice] def attributeSpeaker(
      contextBefore: String,
      contextAfter: String): (Option[String], Option[String], Double) = {
    val m1 = AfterPat.matcher(contextAfter)
    if (m1.find())
      return (Some(m1.group(2)), Some(m1.group(1).toLowerCase(java.util.Locale.ROOT)), 0.9)
    val m2 = BeforePat.matcher(contextBefore)
    if (m2.find())
      return (Some(m2.group(1)), Some(m2.group(2).toLowerCase(java.util.Locale.ROOT)), 0.9)
    val m3 = AfterVerbPat.matcher(contextAfter)
    if (m3.find())
      return (Some(m3.group(2)), Some(m3.group(1).toLowerCase(java.util.Locale.ROOT)), 0.7)

    def names(s: String): Seq[String] = {
      val m = NamePat.matcher(s)
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      while (m.find()) b += m.group(1)
      b.toSeq.filter(n =>
        !Lexicon.NonNames.contains(n.toLowerCase(java.util.Locale.ROOT)) && n.length > 1)
    }
    val after = names(contextAfter.take(30))
    if (after.nonEmpty) return (Some(after.head), None, 0.4)
    val before = names(contextBefore.takeRight(30))
    if (before.nonEmpty) return (Some(before.last), None, 0.3)
    (None, None, 0.0)
  }

  /** Pure per-passage extraction (dialogue.py:124-218). */
  private[voice] def extract(text: String)
      : Seq[(String, Int, Option[String], Option[String], Double, Boolean, Boolean)] = {
    val raw = QuotePatterns.flatMap { p =>
      val m = p.matcher(text)
      val b = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
      while (m.find()) {
        val q = m.group(1).trim
        if (q.length > 1) b += ((q, m.start, m.end))
      }
      b
    }.sortBy(_._2)

    // overlap dedup across quote styles: a straight-quoted region inside a
    // curly-quoted span (or vice versa) must not double-count as a second
    // dialogue line — keep the first span by start, drop overlaps
    // (mirrors the mention-dedup sweep; ADVICE r01)
    val quotes = raw.foldLeft(
      scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]) {
      case (acc, q @ (_, s, e)) =>
        if (!acc.exists(a => !(e <= a._2 || s >= a._3))) acc += q
        acc
    }.toSeq

    quotes.zipWithIndex.map { case ((q, start, end), i) =>
      val contextBefore = text.substring(math.max(0, start - 100), start).trim
      val contextAfter =
        text.substring(end, math.min(text.length, end + 100)).trim
      val (speaker, verb, conf) = attributeSpeaker(contextBefore, contextAfter)
      val isQ = q.stripTrailing().endsWith("?")
      val isE = q.stripTrailing().endsWith("!")
      (q, i, speaker, verb, conf, isQ, isE)
    }
  }

  /** Spark stage: textual passages -> Dataset[DialogueRow]. */
  def fromPassages(spark: SparkSession, passages: DataFrame): Dataset[DialogueRow] = {
    import spark.implicits._
    passages.select("doc_id", "pos", "passage_id", "text")
      .as[(String, Int, String, String)]
      .mapPartitions { it =>
        it.flatMap { case (docId, pos, pid, text) =>
          extract(text).map { case (q, i, sp, v, conf, isQ, isE) =>
            DialogueRow(docId, pos, pid, q, i, sp, v, conf,
              isQ, isE, !isQ && !isE, q.length, text.length)
          }
        }
      }
  }

  /** Per-speaker voice profile — the FULL V5 scalar set
    * (voice/profile.py:65-208): corpus counts, utterance-length stats,
    * type ratios, vocabulary (unique words, TTR, avg word length),
    * formality (contraction/1st/2nd-person ratios) and archaism counts.
    * Word semantics match the reference exactly: tokens =
    * lower(text).split() on whitespace; person checks strip `.,!?"'`
    * from both ends; archaism COUNTS use raw tokens (see below); word
    * lengths additionally strip `-`;
    * contractions are substring hits per word. Min 3 lines per profile
    * (V9, analyzer.py:141). Double columns rounded to 4dp for
    * cross-engine comparability.
    */
  def voiceProfiles(spark: SparkSession, dialogue: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val words = split(lower(trim(col("quote"))), "\\s+")
    val strip = (w: Column) =>
      regexp_replace(w, """^[.,!?"']+|[.,!?"']+$""", "")
    val stripLen = (w: Column) =>
      length(regexp_replace(w, """^[.,!?"'-]+|[.,!?"'-]+$""", ""))
    val contraction = (w: Column) =>
      Lexicon.ContractionPatterns.map(p => w.contains(p)).reduce(_ || _)

    val lines = dialogue
      .filter(col("speaker").isNotNull)
      .withColumn("ws", words)
      .withColumn("wc", size(col("ws")))
      .withColumn("contr", size(filter(col("ws"), contraction)))
      .withColumn("fp", size(filter(transform(col("ws"), strip),
        w => w.isin(Lexicon.FirstPersonWords: _*))))
      .withColumn("sp", size(filter(transform(col("ws"), strip),
        w => w.isin(Lexicon.SecondPersonWords: _*))))
      // archaism_count counts RAW tokens (profile.py:199: word_counts is
      // a Counter over unstripped tokens; the stripped-match found-set
      // reduces to exactly "raw token is an archaism", since any raw hit
      // also strip-matches) — "aye." contributes to archaisms_FOUND but
      // not to the count (round-5 review: we counted stripped hits)
      .withColumn("arch", size(filter(col("ws"),
        w => w.isin(Lexicon.VoiceArchaisms: _*))))
      .withColumn("wlen",
        aggregate(transform(col("ws"), stripLen), lit(0), (acc, x) => acc + x))

    val scalars = lines
      .groupBy(col("speaker"))
      .agg(
        count(lit(1)).as("total_lines"),
        sum(when(col("is_question"), 1L).otherwise(0L)).as("questions"),
        sum(when(col("is_exclamation"), 1L).otherwise(0L)).as("exclamations"),
        sum(when(col("is_statement"), 1L).otherwise(0L)).as("statements"),
        graft.style.Metrics.floor4(avg(col("wc"))).as("avg_words"),
        graft.style.Metrics.floor4(coalesce(stddev_samp(col("wc")), lit(0.0)))
          .as("utterance_std"),
        min(col("wc")).as("min_words"),
        max(col("wc")).as("max_words"),
        sum(col("wc").cast("long")).as("total_words"),
        sum(length(col("quote")).cast("long")).as("total_chars"),
        sum(col("contr").cast("long")).as("contractions"),
        sum(col("fp").cast("long")).as("first_person"),
        sum(col("sp").cast("long")).as("second_person"),
        sum(col("arch").cast("long")).as("archaism_count"),
        sum(col("wlen").cast("long")).as("wlen_sum"))
      .filter(col("total_lines") >= 3)

    val uniq = lines
      .select(col("speaker"), explode(col("ws")).as("w"))
      .groupBy("speaker")
      .agg(countDistinct(col("w")).as("unique_words"))

    // 4dp via Metrics.floor4, NOT Spark round(): round() goes through the
    // shortest-decimal double repr and can disagree with the oracle
    // engine's rounding on near-ties (ADVICE r02); the floor form is
    // bit-identical across engines.
    val f4 = graft.style.Metrics.floor4 _
    scalars.join(uniq, Seq("speaker"))
      .withColumn("type_token_ratio",
        f4(col("unique_words").cast("double") / col("total_words")))
      .withColumn("avg_word_len",
        f4(col("wlen_sum").cast("double") / col("total_words")))
      .withColumn("contraction_ratio",
        f4(col("contractions").cast("double") / col("total_words")))
      .withColumn("first_person_ratio",
        f4(col("first_person").cast("double") / col("total_words")))
      .withColumn("second_person_ratio",
        f4(col("second_person").cast("double") / col("total_words")))
      .drop("wlen_sum", "contractions", "first_person", "second_person")
  }

  /** V9 analyzer corpus stats (analyzer.py:120-150): one row with the
    * dialogue totals and the attribution rate; `profiles` is the
    * [[voiceProfiles]] table of `dialogue`.
    */
  def voiceStats(dialogue: DataFrame, profiles: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val characters = profiles.agg(count(lit(1)).as("total_characters"))
    dialogue.agg(
        count(lit(1)).as("total_dialogue_lines"),
        sum(when(col("speaker").isNull, 1L).otherwise(0L))
          .as("unattributed_lines"))
      .withColumn("attribution_rate",
        graft.style.Metrics.floor4(
          (col("total_dialogue_lines") - col("unattributed_lines"))
            .cast("double") / col("total_dialogue_lines")))
      .crossJoin(characters)
  }
}
