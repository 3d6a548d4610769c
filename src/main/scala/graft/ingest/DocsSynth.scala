package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Lexicon._

/** Deterministic synthesis of the engine's input table
  * `docs(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)`
  * (BASELINE.json input_hint) from the driver's TPC-H-ish parquet.
  *
  * One doc per order; one span per lineitem, ordered by `l_linenumber`.
  * Every span is a pure arithmetic function of (l_orderkey, l_linenumber,
  * l_partkey, l_suppkey), so the identical derivation is expressible as
  * DuckDB SQL for the driver's oracle checks — see [[graft.Oracles.synCte]].
  *
  * Template selector m = (7*partkey + 13*linenumber + 3*suppkey) % 29:
  *   0..10  text: "<Char> <verb-phrase> <Char|Place>."          (triple)
  *   11     dialogue tier-1: "\"We must ride to <Place> at dawn,\" said <Char>."
  *   12     dialogue tier-1 question: "\"How do we get to <Place> at dawn?\" asked <Char>."
  *   13     dialogue tier-2: "<Char> said, \"All is well in <Place>.\""
  *   14     text, typo'd subject (fuzzy-linking exercise): "<Cha_> <verb> <obj>."
  *   15..16 text alias: "<Char> (also known as <Alias>) rested quietly."
  *   17     text temporal: "<Char> returned to <Place> in the year <Y> of the Third Age."
  *   18..19 media: text='', media_ref='m/<orderkey>/<linenumber>.png'
  *   20     birth (E12): "<Char> was born in the <EraB> Age."
  *   21     death (E12): "<Char> perished in the <EraD> Age."
  *   22     title adversarial (N3/N5): "<Char> welcomed the King of <Place>."
  *   23     attribution tiers + voice-profile fodder (V3/V5):
  *          v%4=0 -> "\"I'll tarry here, aye.\" <Char> turned away."
  *            (tier 4; plants a contraction, first-person and two
  *            archaisms for the voice-profile scalars)
  *          v%4=2 -> "\"Who goes there?\" The gate stayed shut."
  *            (unattributed — no speech verb and no capitalized
  *            non-stoplist word follow, so attribution_rate < 1)
  *          v odd -> "\"We shall see.\" And quietly said <Char>."  (tier 3)
  *   24     geography (W10): "<Place> lies in the valley of <Place2>."
  *   25     culture (W8): "The <People> honor their custom of gift giving."
  *   26     capability rules (W9/Q9): v even ->
  *            "Only the wizards of <Place> can weave such spells."
  *          v odd -> "<Char> cannot wield such magic openly."
  *   27     dated arrival (Q7 event-order): "<Char> arrived in <Place>
  *          in the year <YA> of the Third Age."  (YA = 2800 + 7*s, a pure
  *          function of the character so cross-character ordering is
  *          deterministic corpus-wide)
  *   28     multi-sentence span (P4/T2/T6): "<C1> met <C2>. <C2> helped
  *          <C3>."  (C3 = chars[(o+3)%20], provably distinct from C1/C2) —
  *          two triples from one span, a repeated mention, and a genuine
  *          two-sentence split in the q29 roundtrip
  */
object DocsSynth {

  /** Per-lineitem span rows: (doc_id, pos, kind, text, media_ref, offset).
    * This is the "source sequence" the span-sequence invariant (§1.4 of
    * SURVEY.md) validates the assembled docs table against.
    */
  def spanRows(spark: SparkSession, sfDir: String): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")

    val s = pmod(col("l_partkey"), lit(20L)).cast("int")
    val o0 = pmod(col("l_partkey") + lit(3L) * col("l_linenumber"), lit(20L)).cast("int")
    val o = when(o0 === s, (s + 1) % 20).otherwise(o0)
    val v = pmod(col("l_suppkey"), lit(8L)).cast("int")
    val p = pmod(col("l_partkey") + col("l_suppkey"), lit(12L)).cast("int")
    val m = pmod(lit(7L) * col("l_partkey") + lit(13L) * col("l_linenumber")
      + lit(3L) * col("l_suppkey"), lit(29L)).cast("int")
    val y = (lit(2900L) + pmod(col("l_partkey"), lit(60L))).cast("int")

    val charArr = array(Chars.map(lit): _*)
    val aliasArr = array(CharAliases.map(lit): _*)
    val placeArr = array(Places.map(lit): _*)
    val verbArr = array(Verbs.map(t => lit(t._1)): _*)
    val objKindArr = array(Verbs.map(t => lit(t._3)): _*)
    val birthEraArr = array(BirthEras.map(lit): _*)
    val deathEraArr = array(DeathEras.map(lit): _*)
    val peopleArr = array(Peoples.map(lit): _*)

    val subj = element_at(charArr, s + 1)
    val objChar = element_at(charArr, o + 1)
    val thirdChar = element_at(charArr, pmod(o + 3, lit(20)) + 1)
    val obj = when(element_at(objKindArr, v + 1) === 1, element_at(placeArr, p + 1))
      .otherwise(element_at(charArr, o + 1))
    val verbPhrase = element_at(verbArr, v + 1)
    val place = element_at(placeArr, p + 1)
    val place2 = element_at(placeArr, pmod(p + 5, lit(12)) + 1)
    val alias = element_at(aliasArr, s + 1)
    val typo = subj.substr(lit(1), length(subj) - 1)
    val eraB = element_at(birthEraArr, pmod(s, lit(2)) + 1)
    val eraD = element_at(deathEraArr, pmod(s, lit(2)) + 1)
    val people = element_at(peopleArr, pmod(p, lit(6)) + 1)
    val ya = (lit(2800) + s * 7).cast("int")

    val kind = when(m.between(11, 13) || m === 23, "dialogue")
      .when(m.between(18, 19), "media")
      .otherwise("text")

    val text = when(m <= 10, concat(subj, lit(" "), verbPhrase, lit(" "), obj, lit(".")))
      .when(m === 11,
        concat(lit("\"We must ride to "), place, lit(" at dawn,\" said "), subj, lit(".")))
      .when(m === 12,
        concat(lit("\"How do we get to "), place, lit(" at dawn?\" asked "), subj, lit(".")))
      .when(m === 13,
        concat(subj, lit(" said, \"All is well in "), place, lit(".\"")))
      .when(m === 14, concat(typo, lit(" "), verbPhrase, lit(" "), obj, lit(".")))
      .when(m.between(15, 16),
        concat(subj, lit(" (also known as "), alias, lit(") rested quietly.")))
      .when(m === 17,
        concat(subj, lit(" returned to "), place, lit(" in the year "),
          y.cast("string"), lit(" of the Third Age.")))
      .when(m === 20,
        concat(subj, lit(" was born in the "), eraB, lit(" Age.")))
      .when(m === 21,
        concat(subj, lit(" perished in the "), eraD, lit(" Age.")))
      .when(m === 22,
        concat(subj, lit(" welcomed the King of "), place, lit(".")))
      .when(m === 23 && pmod(v, lit(4)) === 0,
        concat(lit("\"I'll tarry here, aye.\" "), subj, lit(" turned away.")))
      .when(m === 23 && pmod(v, lit(4)) === 2,
        lit("\"Who goes there?\" The gate stayed shut."))
      .when(m === 23,
        concat(lit("\"We shall see.\" And quietly said "), subj, lit(".")))
      .when(m === 24,
        concat(place, lit(" lies in the valley of "), place2, lit(".")))
      .when(m === 25,
        concat(lit("The "), people, lit(" honor their custom of gift giving.")))
      .when(m === 26 && pmod(v, lit(2)) === 0,
        concat(lit("Only the wizards of "), place,
          lit(" can weave such spells.")))
      .when(m === 26,
        concat(subj, lit(" cannot wield such magic openly.")))
      .when(m === 27,
        concat(subj, lit(" arrived in "), place, lit(" in the year "),
          ya.cast("string"), lit(" of the Third Age.")))
      .when(m === 28,
        concat(subj, lit(" met "), objChar, lit(". "), objChar,
          lit(" helped "), thirdChar, lit(".")))
      .otherwise(lit(""))

    val mediaRef = when(m.between(18, 19),
      concat(lit("m/"), col("l_orderkey").cast("string"), lit("/"),
        col("l_linenumber").cast("string"), lit(".png"))).otherwise(lit(null))

    // (l_orderkey, l_linenumber) is NOT unique in the driver's synthetic
    // data — order by the full content key so pos→span is deterministic.
    // Only the four key ints and the span length cross the window
    // exchange (guide §2.3 project-before-the-exchange): the synthesized
    // text is a pure function of the keys, so it is re-derived AFTER the
    // shuffle+sort from the very same `text` Column expression — the
    // pre-shuffle side evaluates it just for length. Shuffle/sort bytes
    // drop ~3x; the q01/q29 oracle rows pin the re-derived text against
    // DuckDB's independent derivation.
    val w = Window.partitionBy("l_orderkey")
      .orderBy("l_linenumber", "l_partkey", "l_suppkey")
    li.select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        (length(text) + lit(1)).as("tlen1"))
      .withColumn("pos", (row_number().over(w) - 1).cast("int"))
      .withColumn("offset",
        coalesce(
          sum(col("tlen1")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).cast("int"))
      .select(
        concat(lit("doc_"), col("l_orderkey").cast("string")).as("doc_id"),
        col("pos"), kind.as("kind"), text.as("text"),
        mediaRef.as("media_ref"), col("offset"))
  }

  /** The assembled input table docs(doc_id, spans) over a [[spanRows]]
    * table. Spans are ordered by pos via array_sort on a (pos, ...) struct,
    * then projected down — fully deterministic, no driver-side collection.
    */
  def docsFromSpanRows(spanRows: DataFrame): DataFrame = {
    spanRows
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(
        col("pos"), col("kind"), col("text"), col("media_ref"), col("offset"))))
        .as("keyed"))
      .select(col("doc_id"),
        transform(col("keyed"),
          x => struct(x("kind").as("kind"), x("text").as("text"),
            x("media_ref").as("media_ref"), x("offset").as("offset")))
          .as("spans"))
  }
}
