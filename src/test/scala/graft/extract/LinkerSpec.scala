package graft.extract

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Ported from the reference's tests/test_extract.py (resolver half),
  * with the tiny fixture registry from tests/test_extract.py:66-96 /
  * FIXTURES.md §2.
  */
class LinkerSpec extends SparkSpec {

  private val fixtureSeeds = Seq(
    SeedEntity("gandalf", "Gandalf",
      Seq("Gandalf the Grey", "Mithrandir", "the Grey Pilgrim"), "character"),
    SeedEntity("bilbo_baggins", "Bilbo Baggins",
      Seq("Bilbo", "Mr. Baggins"), "character"),
    SeedEntity("gollum", "Gollum", Seq("Smeagol"), "character"),
    SeedEntity("the_shire", "The Shire", Seq("Shire"), "place"),
    SeedEntity("bag_end", "Bag End", Nil, "place"))

  private def resolve(texts: (String, String)*): Map[String, (Option[String], String, Double, Boolean)] = {
    import spark.implicits._
    val m = texts.zipWithIndex.map { case ((t, label), i) =>
      ("d1", 0, "p1", t, i * 100, i * 100 + t.length, label, "heuristic", 0.7)
    }.toDF("doc_id", "pos", "passage_id", "text", "start", "end",
      "label", "source", "confidence")
    Linker.link(spark, m, fixtureSeeds)
      .select("text", "canonical_id", "entity_type", "link_confidence", "is_new")
      .collect()
      .map(r => r.getString(0) -> ((Option(r.getString(1)), r.getString(2),
        r.getDouble(3), r.getBoolean(4))))
      .toMap
  }

  test("exact match: Gandalf -> gandalf conf 1.0 (test_extract.py)") {
    val r = resolve(("Gandalf", "PERSON"))("Gandalf")
    assert(r == ((Some("gandalf"), "character", 1.0, false)))
  }

  test("alias match: Mithrandir -> gandalf") {
    val r = resolve(("Mithrandir", "PERSON"))("Mithrandir")
    assert(r._1.contains("gandalf") && !r._4)
  }

  test("article strip: the Shire -> the_shire (test_extract.py:117-122)") {
    // 'the shire' is itself an alias key (canonical name lowered) -> exact
    val r = resolve(("the Shire", "PLACE"))("the Shire")
    assert(r._1.contains("the_shire") && r._3 == 1.0)
    // a true tier-2 case: article + alias not present with article
    val r2 = resolve(("the Mithrandir", "PERSON"))("the Mithrandir")
    assert(r2._1.contains("gandalf") && r2._3 == 0.95)
  }

  test("fuzzy: Gandaf -> gandalf with conf < 1.0 (ratio >= 0.85)") {
    val r = resolve(("Gandaf", "PERSON"))("Gandaf")
    assert(r._1.contains("gandalf"))
    assert(r._3 < 1.0 && r._3 >= 0.85)
  }

  test("unknown: Tom Bombadil -> is_new, no canonical id") {
    val r = resolve(("Tom Bombadil", "PERSON"))("Tom Bombadil")
    assert(r._1.isEmpty && r._4 && r._2 == "character")
  }

  test("type inference: 'the Great Forest' UNKNOWN -> place (resolver.py:241-247)") {
    val r = resolve(("the Great Forest", "UNKNOWN"))("the Great Forest")
    assert(r._1.isEmpty && r._2 == "place" && r._4)
  }

  test("possessive cleaning: Gandalf's -> gandalf (resolver.py:213-221)") {
    val r = resolve(("Gandalf's", "PERSON"))("Gandalf's")
    assert(r._1.contains("gandalf"))
  }

  test("indelRatio matches rapidfuzz fuzz.ratio semantics") {
    assert(math.abs(Linker.indelRatio("gandaf", "gandalf") - 2.0 * 6 / 13) < 1e-12)
    assert(Linker.indelRatio("abc", "abc") == 1.0)
    assert(Linker.indelRatio("abc", "xyz") == 0.0)
    // substitution costs 2 (indel semantics), unlike plain levenshtein
    assert(math.abs(Linker.indelRatio("abcd", "abxd") - 2.0 * 3 / 8) < 1e-12)
  }

  private def mentionRows(texts: Seq[String]) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) =>
      ("d", i, "p", t, i * 100, i * 100 + t.length, "PERSON", "heuristic", 0.7)
    }.toDF("doc_id", "pos", "passage_id", "text", "start", "end",
      "label", "source", "confidence")
  }

  test("Linker.link agrees with LocalLinker.lookup row for row") {
    val local = new LocalLinker(fixtureSeeds)
    val texts = Seq("Gandalf", "Mithrandir", "the Shire", "the Mithrandir",
      "Gandaf", "Tom Bombadil", "Gandalf's", "Bilbo", "Smeagol", "Bag End",
      "Gollum", "gOlLum", "Mr. Baggins", "Shire",
      // separated possessive: the 's strip leaves a trailing space that
      // the final trim must remove (round-5 review)
      "Gandalf 's",
      // non-space whitespace at either end and inside the key
      "Gandalf's\t", "\nMithrandir\n", "Bag\tEnd",
      // duplicates each keep their own row and verdict
      "Gandaf", "Zorro", "Zorro", "the Great Forest")
    val out = Linker.link(spark, mentionRows(texts), fixtureSeeds)
      .select("pos", "text", "canonical_id", "entity_type",
        "canonical_name", "link_confidence", "is_new")
      .collect()
    assert(out.map(_.getInt(0)).sorted.toSeq == texts.indices)
    out.foreach { r =>
      val t = r.getString(1)
      val want = local.lookup(t) match {
        case Some(l) => (l.id, l.entityType, l.name, l.confidence, false)
        case None => (null, LocalLinker.inferType("PERSON", t), null, 0.0, true)
      }
      val got = (r.getString(2), r.getString(3), r.getString(4),
        r.getDouble(5), r.getBoolean(6))
      assert(got == want, s"row ${r.getInt(0)} ($t)")
    }
  }

  test("Linker.link runs the cascade once per row: one verdict UDF in the " +
    "optimized plan, not one per output column") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    // a checkpointed input: a local relation would be folded into constants
    val input = mentionRows(Seq("Gandalf")).localCheckpoint(true)
    val plan = Linker.link(spark, input, fixtureSeeds)
      .queryExecution.optimizedPlan
    val verdictUdfs = plan.collect { case n => n.expressions }.flatten
      .flatMap(_.collect { case u: ScalaUDF if u.children.size == 3 => u })
    assert(verdictUdfs.size == 1, plan.toString)
  }

  test("trailing tab or newline: Linker.link and LocalLinker.lookup both " +
    "link Gandalf's at 1.0") {
    val local = new LocalLinker(fixtureSeeds)
    val texts = Seq("Gandalf's\t", "Gandalf's\n")
    val out = Linker.link(spark, mentionRows(texts), fixtureSeeds)
      .select("text", "canonical_id", "link_confidence").collect()
    assert(out.length == texts.size)
    out.foreach { r =>
      val t = r.getString(0)
      assert((r.getString(1), r.getDouble(2)) == (("gandalf", 1.0)),
        s"Linker.link(${t.toList.map(_.toInt)})")
      assert(local.lookup(t).map(l => (l.id, l.confidence))
        .contains(("gandalf", 1.0)), s"lookup(${t.toList.map(_.toInt)})")
    }
  }

  test("shared alias key: last registration wins, join emits ONE row (round-5 review)") {
    import spark.implicits._
    // reference semantics: the alias index is a dict built in registry
    // order (resolver.py:60-70), so a key shared by two seeds belongs to
    // the LATER seed. Seeds.aliasRows, which LocalLinker indexes, must
    // carry one row per key, and Linker.link must emit one row per mention.
    val colliding = Seq(
      SeedEntity("strider", "Strider", Seq("the Ranger"), "character"),
      SeedEntity("aragorn", "Aragorn", Seq("Strider", "the Ranger"), "character"))
    val rows = Seeds.aliasRows(colliding)
    assert(rows.map(_._1).distinct.size == rows.size, "one row per alias key")
    assert(rows.find(_._1 == "strider").get._2 == "aragorn")
    assert(rows.find(_._1 == "the ranger").get._2 == "aragorn")

    val m = Seq(("d", 0, "p", "Strider", 0, 7, "PERSON", "heuristic", 0.7))
      .toDF("doc_id", "pos", "passage_id", "text", "start", "end",
        "label", "source", "confidence")
    val linked = Linker.link(spark, m, colliding)
      .select("text", "canonical_id").collect()
    assert(linked.length == 1, "no row duplication on a colliding key")
    assert(linked(0).getString(1) == "aragorn")
    assert(new LocalLinker(colliding).lookup("Strider").map(_.id)
      .contains("aragorn"), "LocalLinker agrees")
  }

  test("synthetic lexicon is fuzzy-safe: unique best match for every typo") {
    val rows = Seeds.aliasRows(Seeds.default)
    graft.Lexicon.Chars.foreach { name =>
      val typo = name.toLowerCase.dropRight(1)
      val scored = rows.map { case (akey, id, _, _) =>
        (id, Linker.indelRatio(typo, akey))
      }.sortBy(-_._2)
      assert(scored.head._1 == name.toLowerCase, s"typo of $name")
      assert(scored.head._2 >= 0.85)
      val second = scored.find(_._1 != name.toLowerCase).get
      assert(second._2 < 0.85, s"ambiguous typo for $name: $second")
    }
    // and no two registry keys are fuzzy-confusable at the 0.9 CC threshold
    val keys = rows.map(_._1) :+ "third age"
    for (a <- keys; b <- keys if a < b)
      assert(Linker.indelRatio(a, b) < 0.9, s"$a ~ $b")
  }

  test("fused path type parity: unlinked mentions get inferred types too") {
    import spark.implicits._
    val passages = Seq(
      ("d1", 0, "p1", "Tom Bombadil met the Great Forest ring Gandalf."),
      ("d1", 1, "p2", "Gandaf spoke to Bilbo."))
      .toDF("doc_id", "pos", "passage_id", "text")
    val fused = Triples.fromPassagesFused(spark, passages)
      .select("subject_text", "subject_type", "object_text", "object_type")
      .collect()
    fused.foreach { r =>
      assert(r.getString(1) != null, s"fused subject_type null: $r")
      assert(r.getString(3) != null, s"fused object_type null: $r")
    }
  }

  test("distinct-key fuzzy tier == per-row verdicts (round-6 optimization " +
    "equivalence: duplicate unmatched keys, fuzzy hits and misses)") {
    import spark.implicits._
    // several mentions SHARING unmatched cleaned keys: the distinct-key
    // rewrite must hand every row the same verdict the per-row window
    // produced — fuzzy hit (Gandaf x3), fuzzy miss (Zorro x2), and a mix
    // of exact/alias rows interleaved
    val texts = Seq(
      "Gandaf", "Gandaf", "Gandaf's", "Zorro", "Zorro",
      "Gandalf", "Mithrandir", "Tom Bombadil", "Tom Bombadil", "Golum")
    val m = texts.zipWithIndex.map { case (t, i) =>
      (s"d${i % 3}", i, s"p$i", t, i * 10, i * 10 + t.length,
        "PERSON", "heuristic", 0.7)
    }.toDF("doc_id", "pos", "passage_id", "text", "start", "end",
      "label", "source", "confidence")
    val out = Linker.link(spark, m, fixtureSeeds)
      .select("doc_id", "pos", "text", "canonical_id", "link_confidence",
        "is_new")
      .collect()
    assert(out.length == texts.length) // one verdict row per mention row
    // per-row naive expectation: best (ratio desc, id asc) candidate over
    // the (first char, |len diff| <= 3) block, threshold 0.85
    val aliasRows = Seeds.aliasRows(fixtureSeeds)
    def expectId(text: String): Option[String] = {
      val key = text.toLowerCase(java.util.Locale.ROOT).trim
        .replaceAll("\\s+", " ").replaceAll("'s$", "").trim
      aliasRows.find(_._1 == key).map(_._2).orElse {
        val k2 = key.replaceFirst("^(the |a |an )", "")
        aliasRows.find(_._1 == k2).map(_._2)
      }.orElse {
        val cands = aliasRows.filter(a =>
          a._1.take(1) == key.take(1) &&
            math.abs(a._1.length - key.length) <= 3)
          .map(a => (Linker.indelRatio(key, a._1), a._2))
          .filter(_._1 >= 0.85)
        if (cands.isEmpty) None
        else Some(cands.minBy { case (r, id) => (-r, id) }._2)
      }
    }
    out.foreach { r =>
      val t = r.getString(2)
      assert(Option(r.getString(3)) == expectId(t),
        s"row ($t): got ${r.getString(3)}, want ${expectId(t)}")
    }
  }
}
