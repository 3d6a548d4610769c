package graft.voice

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** V5 top words, V8 signature phrases, V10 compare_voices, full-profile
  * scalar fixtures (voice/profile.py, analyzer.py:189-246).
  */
class ProfilesSpec extends SparkSpec {

  private def dlg(rows: (String, String, Boolean, Boolean)*) = {
    import spark.implicits._
    rows.map { case (sp, q, isQ, isE) =>
      ("d1", 0, "p1", q, 0, sp, "said", 0.9, isQ, isE, !isQ && !isE,
        q.length, 100)
    }.toDF("doc_id", "pos", "passage_id", "quote", "position", "speaker",
      "speech_verb", "attribution_confidence", "is_question",
      "is_exclamation", "is_statement", "quote_chars", "text_chars")
  }

  test("signature phrases: repeated n-grams minus the 11 common phrases") {
    val d = dlg(
      ("A", "my dear fellow indeed", false, false),
      ("A", "my dear fellow again", false, false),
      ("A", "i am here", false, false),
      ("A", "i am there", false, false))
    val phrases = Profiles.signaturePhrases(d)
      .collect().map(_.getString(2)).toSet
    assert(phrases.contains("my dear"))
    assert(phrases.contains("my dear fellow"))
    assert(!phrases.contains("i am")) // common phrase excluded
  }

  test("top words: stoplist and short words filtered, count-desc rank") {
    val d = dlg(
      ("A", "dragon dragon dragon gold gold the the of it", false, false),
      ("A", "dragon treasure", false, false),
      ("A", "gold", false, false))
    val top = Profiles.topWordsFromCounts(Profiles.wordCounts(d)).collect()
      .map(r => (r.getInt(1), r.getString(2), r.getLong(3)))
    assert(top.head == ((1, "dragon", 4L)))
    assert(top(1) == ((2, "gold", 3L)))
    assert(!top.exists(_._2 == "the")) // stoplist
    assert(!top.exists(_._2 == "it")) // len <= 2
  }

  test("top words from the shared count table == inline trim tokenization") {
    // quotes with leading/trailing/multiple whitespace: the shared
    // wordCounts table splits WITHOUT trim (empty tokens filtered by
    // length), the old inline form trimmed first — the word multisets
    // must be occurrence-identical either way
    val d = dlg(
      ("A", "  dragon gold  dragon   ", false, false),
      ("A", "\tgold treasure\t", false, false),
      ("B", " treasure ", false, false))
    val inline = d
      .filter(col("speaker").isNotNull)
      .select(col("speaker"),
        explode(split(lower(trim(col("quote"))), "\\s+")).as("word"))
      .filter(length(col("word")) > 2 &&
        !col("word").isin(graft.Lexicon.VoiceStopWords: _*))
      .groupBy("speaker", "word")
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    val shared = Profiles.wordCounts(d)
      .filter(length(col("word")) > 2 &&
        !col("word").isin(graft.Lexicon.VoiceStopWords: _*))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(shared == inline)
    assert(shared.contains(("A", "dragon", 2L)))
  }

  test("full profile scalars: TTR, contractions, persons, archaisms") {
    val d = dlg(
      ("A", "I'll tarry here, aye.", false, false),
      ("A", "you have my word.", false, false),
      ("A", "what say you?", true, false))
    val p = Dialogue.voiceProfiles(spark, d).collect().head
    val m = p.schema.fieldNames.zip(p.toSeq).toMap
    assert(m("total_lines") == 3L)
    assert(m("questions") == 1L)
    assert(m("total_words") == 11L)
    // words: i'll tarry here, aye. / you have my word. / what say you?
    assert(m("unique_words") == 11L) // all distinct incl punctuation forms
    assert(m("type_token_ratio") == 1.0)
    // tarry (raw token) only: "aye." matches the stripped found-set but
    // the reference counts RAW tokens (profile.py:199's Counter over
    // unstripped words never holds "aye.") — round-5 parity fix
    assert(m("archaism_count") == 1L)
    // contractions: i'll; first person: i'll + my; second: you + you?->you
    assert(m("contraction_ratio") == math.rint(1.0 / 11 * 10000) / 10000)
    assert(m("first_person_ratio") == math.rint(2.0 / 11 * 10000) / 10000)
    assert(m("second_person_ratio") == math.rint(2.0 / 11 * 10000) / 10000)
  }

  test("compare_voices: the reference's 4-diff blend; identical -> 1") {
    import spark.implicits._
    val profiles = Seq(
      ("A", 10.0, 4L, 1L, 0.5, 0.1),
      ("B", 10.0, 4L, 1L, 0.5, 0.1),
      ("C", 2.0, 4L, 4L, 0.9, 0.0))
      .toDF("speaker", "avg_words", "total_lines", "questions",
        "type_token_ratio", "contraction_ratio")
    val c = Profiles.compareVoices(profiles).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("similarity")).toMap
    assert(math.abs(c(("A", "B")) - 1.0) < 1e-9)
    // A vs C: diffs = 8/20, 0.75, 0.4, 0.1 -> 1 - mean = 0.5875
    assert(math.abs(c(("A", "C")) - 0.5875) < 1e-9)
  }
}
