package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import Triples.Arg

/** Ported from the reference's tests/test_relationships.py. */
class TriplesSpec extends AnyFunSuite {

  private def arg(text: String, start: Int, id: Option[String],
      etype: String): Arg =
    Arg(text, start, start + text.length, id, Some(etype))

  test("'Gandalf spoke to Bilbo' -> SPOKE_TO|SPOKE_WITH (test_relationships.py:73-86)") {
    val out = Triples.extract(
      "Gandalf spoke to Bilbo about the adventure.",
      Seq(arg("Gandalf", 0, Some("gandalf"), "character"),
        arg("Bilbo", 17, Some("bilbo"), "character")))
    assert(out.exists(t => Set("SPOKE_TO", "SPOKE_WITH").contains(t._2)
      && t._3.flatMap(_.id).contains("gandalf")
      && t._5.flatMap(_.id).contains("bilbo")))
  }

  test("'Bilbo went to Bag End' -> TRAVELED_TO (test_relationships.py:88-100)") {
    val out = Triples.extract(
      "Bilbo went to Bag End.",
      Seq(arg("Bilbo", 0, Some("bilbo"), "character"),
        arg("Bag End", 14, Some("bag_end"), "place")))
    assert(out.exists(t => t._2 == "TRAVELED_TO"
      && t._5.flatMap(_.id).contains("bag_end")))
  }

  test("'The hero killed the dragon' -> KILLED, unresolved endpoints (test_relationships.py:102-114)") {
    val out = Triples.extract(
      "The hero killed the dragon.",
      Seq(arg("The hero", 0, None, "character"),
        arg("the dragon", 16, None, "character")))
    assert(out.exists(t => t._2 == "KILLED"))
    val killed = out.find(_._2 == "KILLED").get
    assert(killed._3.flatMap(_.id).isEmpty && killed._5.flatMap(_.id).isEmpty)
  }

  test("single entity -> no relationships from the pipeline gate") {
    // pipeline gates passages with <2 mentions before extraction (T7)
    val out = Triples.extract("Bilbo was happy.",
      Seq(arg("Bilbo", 0, Some("bilbo"), "character")))
    assert(out.isEmpty) // 'was' is not a lexicon verb
  }

  test("dedup: 'Gandalf met Bilbo and spoke with Bilbo' has no duplicate keys (test_relationships.py:129-144)") {
    val out = Triples.extract(
      "Gandalf met Bilbo and spoke with Bilbo.",
      Seq(arg("Gandalf", 0, Some("gandalf"), "character"),
        arg("Bilbo", 12, Some("bilbo"), "character"),
        arg("Bilbo", 33, Some("bilbo"), "character")))
    val keys = out.map(t => s"${t._1.toLowerCase}|${t._2}|${t._4.toLowerCase}")
    assert(keys.distinct.size == keys.size)
    assert(out.exists(t => t._2 == "MET"))
  }

  test("verb lexicon covers surface forms (test_relationships.py:150-160)") {
    val expected = Seq("said", "spoke", "went", "traveled", "fought",
      "killed", "gave", "took", "met", "helped", "lived")
    expected.foreach(v =>
      assert(graft.Lexicon.VerbToRelationship.contains(v), s"missing $v"))
  }

  test("attribution is not a triple: '\"...,\" said Gandalf.'") {
    val out = Triples.extract(
      "\"We must ride to Rivendell at dawn,\" said Gandalf.",
      Seq(arg("Rivendell", 17, Some("rivendell"), "place"),
        arg("Gandalf", 42, Some("gandalf"), "character")))
    assert(out.isEmpty)
  }

  test("quoted content is not an object of an outside verb") {
    val out = Triples.extract(
      "Gandalf said, \"All is well in Hobbiton.\"",
      Seq(arg("Gandalf", 0, Some("gandalf"), "character"),
        arg("Hobbiton", 30, Some("hobbiton"), "place")))
    assert(out.isEmpty)
  }

  test("T3 widening: 'The great dragon Smaug' binds as one NP (relationships.py:236-250)") {
    val out = Triples.extract(
      "The great dragon Smaug attacked Bilbo.",
      Seq(arg("Smaug", 17, Some("smaug"), "character"),
        arg("Bilbo", 32, Some("bilbo"), "character")))
    val fought = out.find(_._2 == "FOUGHT_AGAINST").get
    assert(fought._1 == "The great dragon Smaug") // widened subject text
    assert(fought._3.flatMap(_.id).contains("smaug")) // head keeps identity
    assert(fought._5.flatMap(_.id).contains("bilbo"))
  }

  test("T3 widening: object side 'the old wizard Gandalf'") {
    val out = Triples.extract(
      "Bilbo met the old wizard Gandalf.",
      Seq(arg("Bilbo", 0, Some("bilbo"), "character"),
        arg("Gandalf", 25, Some("gandalf"), "character")))
    val met = out.find(_._2 == "MET").get
    assert(met._4 == "the old wizard Gandalf")
    assert(met._5.flatMap(_.id).contains("gandalf"))
  }

  test("T3 widening does not cross a lexicon verb") {
    // the prefix 'the attacked ' contains a lexicon verb, so Smaug must
    // NOT widen to 'the attacked Smaug' (a dependency parse would attach
    // 'attacked' as a predicate, not a modifier)
    val out = Triples.extract(
      "Bilbo helped the attacked Smaug.",
      Seq(arg("Bilbo", 0, Some("bilbo"), "character"),
        arg("Smaug", 26, Some("smaug"), "character")))
    val helped = out.find(_._2 == "HELPED").get
    assert(helped._4 == "the attacked") // plain det-chunk, not widened NP
    assert(helped._5.isEmpty)
  }

  test("det-chunk does not swallow a following lexicon verb (round-5 review)") {
    // the greedy two-word group matched "The dragon attacked", leaving no
    // NP ending before the verb and silently dropping the triple; the
    // chunk must trim back to "The dragon" (mirroring the DetPrefix
    // lexicon-verb disqualification)
    val out = Triples.extract(
      "The dragon attacked Smaug.",
      Seq(arg("Smaug", 20, Some("smaug"), "character")))
    val fought = out.find(_._2 == "FOUGHT_AGAINST")
    assert(fought.isDefined, out.toString)
    assert(fought.get._1 == "The dragon")
    assert(fought.get._5.flatMap(_.id).contains("smaug"))
  }

  test("gated quote regions equal the plain QuoteRegion scan") {
    def plain(text: String): Seq[(Int, Int)] = {
      val m = Triples.QuoteRegion.matcher(text)
      val b = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      while (m.find()) b += ((m.start, m.end))
      b.toSeq
    }
    Seq(
      "\"Fly, you fools!\" cried Gandalf.",
      "“Fly,” he said, “you fools.”",
      "Straight \"then “curly” then\" mixed.",
      "An unbalanced \"quote never closes.",
      "An unbalanced “curly quote never closes.",
      "A stray closing ” and a stray ' apostrophe.",
      "No quotes at all in this passage.",
      "\"",
      "“",
      "").foreach { t =>
      val (s, e) = Triples.quoteRegions(t)
      assert(s.toSeq.zip(e.toSeq) === plain(t), t)
    }
  }
}
