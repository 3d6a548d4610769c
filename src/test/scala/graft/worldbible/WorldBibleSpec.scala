package graft.worldbible

import org.scalatest.funsuite.AnyFunSuite
import graft.extract.LiteralGate

class WorldBibleSpec extends AnyFunSuite {

  test("keyword scoring: x0.2 per hit, capped 1.0 (patterns.py:179-193)") {
    val s = WorldBible.classify("The wizard cast a spell of magic.").toMap
    // wizard + spell + magic = 3 hits x 0.2
    assert(math.abs(s("magic") - 0.6) < 1e-9)
    val capped = WorldBible.classify(
      "magic spell curse charm wizard sorcerer witch enchant").toMap
    assert(capped("magic") == 1.0)
  }

  test("rule boost: +0.3 when a rule pattern lands in a scored category") {
    val s = WorldBible.classify(
      "Only a wizard can break the curse of dark magic.").toMap
    // keywords wizard/curse/magic = 0.6, exclusivity + capability rules in
    // a magic-keyword context boost it
    assert(s("magic") > 0.6)
  }

  test("rule without category context -> themes at 0.5 (patterns.py:199-202)") {
    val s = WorldBible.classify("We must ride onward at once.").toMap
    assert(s == Map("themes" -> 0.5))
  }

  test("rule extraction names the pattern (W2)") {
    val r = WorldBible.rules("Only the king can wear it. If night falls then flee.")
    assert(r.exists(_._1 == "exclusivity"))
    assert(r.exists(_._1 == "conditional"))
  }

  test("lexicon tokens are keyword-free (oracle assumption)") {
    import graft.Lexicon
    (Lexicon.Chars ++ Lexicon.CharAliases ++ Lexicon.Places).foreach { t =>
      assert(WorldBible.classify(t).isEmpty, s"token $t hits a category")
    }
  }

  test("gated rule scans == ungated (round-6 optimization equivalence)") {
    import java.util.regex.Pattern
    // ungated re-run of ruleMatches exactly as it stood before the gates:
    // fresh case-insensitive patterns, no literal pre-checks
    val pats = WorldBible.RulePatterns.map { case (p, n) =>
      (Pattern.compile(p, Pattern.CASE_INSENSITIVE), n)
    }
    def naiveRuleSpans(text: String): Seq[(String, String, Int, Int)] =
      pats.flatMap { case (p, name) =>
        val m = p.matcher(text)
        val b = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int, Int)]
        while (m.find()) b += ((name, m.group(0), m.start, m.end))
        b.toSeq
      }
    val cases = Seq(
      "Elves cannot cross the sea without a ship.",
      "The dwarves are always greedy for gold.",
      "Only the wizards of Rivendell can weave such spells.",
      "No mortal may enter the Undying Lands.",
      "If the ring is destroyed then the shadow falls.",
      "It is said that dragons hoard gold.",
      "It was known that the king would return.",
      "IF shouting THEN capitals must also match case-insensitively.",
      "Men must never trust a balrog.",
      "Nothing definitional here whatsoever?",
      "Known and said and that appear but not in the lore shape.",
      "can may must shall will is are was were only no if then always never",
      "")
    cases.foreach { t =>
      val got = WorldBible.ruleMatches(t)
        .map(m => (m.patternName, m.text, m.start, m.end))
      assert(got == naiveRuleSpans(t), s"case: '$t'")
    }
  }

  test("single-pass cultures == six-leg union-of-filters (round-6 " +
    "optimization equivalence, keyword-group level)") {
    // pure keyword-level check (no Spark): for a set of passage texts the
    // per-people match sets must be identical between 'any keyword
    // contains' (the single-pass when()) and the per-people filter legs
    val texts = Seq(
      "The hobbit walked home.", "Elves and dwarves feasted.",
      "An orc and a goblin fought.", "The istari convened.",
      "mankind endures", "shire-folk are quiet", "eldar of old",
      "nothing relevant")
    WorldBible.PeoplesKeywords.foreach { case (people, kws) =>
      val viaFilter = texts.filter(t =>
        kws.exists(k => t.toLowerCase(java.util.Locale.ROOT).contains(k)))
      val viaWhen = texts.filter(t =>
        kws.map(k => t.toLowerCase(java.util.Locale.ROOT).contains(k))
          .reduce(_ || _))
      assert(viaFilter == viaWhen, s"people: $people")
    }
  }

  test("category-gate automaton == ungated scans (round-6 optimization " +
    "equivalence: classify + categoryMatches)") {
    import java.util.regex.Pattern
    // ungated naive re-run of the pre-optimization classify and
    // categoryMatches: every category regex over every text
    val pats = WorldBible.CategoryKeywords.map { case (c, ps) =>
      c -> ps.map(p => Pattern.compile(p, Pattern.CASE_INSENSITIVE))
    }
    def count(p: Pattern, t: String): Int = {
      val m = p.matcher(t); var n = 0; while (m.find()) n += 1; n
    }
    def naiveCategoryScores(text: String): Seq[(String, Double)] = {
      val scores = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      pats.foreach { case (c, ps) =>
        var s = 0.0
        ps.foreach(p => s += count(p, text) * 0.2)
        if (s > 0) scores(c) = math.min(s, 1.0)
      }
      // fold in the rule boost exactly like classify
      WorldBible.rules(text).foreach { case (_, _, cat) =>
        scores(cat) =
          if (scores.contains(cat)) math.min(scores(cat) + 0.3, 1.0) else 0.5
      }
      scores.toSeq
    }
    def naiveCategorySpans(text: String): Seq[(String, String, Int)] =
      pats.flatMap { case (c, ps) =>
        ps.flatMap { p =>
          val m = p.matcher(text)
          val b = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int)]
          while (m.find()) b += ((c, m.group(0), m.start))
          b.toSeq
        }
      }
    // one text per gate-relevant shape, plus optional-'s' and case folds
    val cases = Seq(
      "The wizard cast a spell of power near the ring of power.",
      "Their custom and tradition demand honor.",
      "It is two leagues east of the mountain, a days' journey by road to town.",
      "The smith will forge a sword of mithril and steel.",
      "The VALAR shaped the world before the stars.",
      "In the Third Age the war began. Kings rule.",
      "Elves always keep their word.",   // culture p5 + language p1
      "ELVES? dwarves, hobbits and orcs marched.",
      "A dragon and a warg fought an ent near the eagle.",
      "went mention argument — 'ent' substring without the creature",
      "The rune and inscription were written in elvish.",
      "Mortal men fear death; the immortal do not.",
      "Nothing from any category lexicon whatsoever.",
      "")
    cases.foreach { t =>
      assert(WorldBible.classify(t) == naiveCategoryScores(t), s"classify '$t'")
      assert(WorldBible.categoryMatches(t).map(m => (m.category, m.text, m.start))
        == naiveCategorySpans(t), s"spans '$t'")
    }
  }

  test("derived gate literals are sound mandatory substrings") {
    // every category pattern yields literals, and each literal is a
    // mandatory prefix of its alternative: re-matching the alternative's
    // own literal text against the full pattern must succeed AND contain
    // the derived literal (case-folded)
    WorldBible.CategoryKeywords.foreach { case (_, ps) =>
      ps.foreach { src =>
        val lits = LiteralGate.gateLiterals(src)
        assert(lits.nonEmpty && lits.get.nonEmpty, s"no gate for $src")
        lits.get.foreach(l => assert(l.nonEmpty && l == l.toLowerCase))
      }
    }
    // spot-check the metachar-truncation rules
    assert(LiteralGate.gateLiterals("""\b(elves?|men)""").get ==
      Seq("elve", "men"))
    assert(LiteralGate.gateLiterals("""\b(days?' journey|travel)""").get ==
      Seq("day", "travel"))
    assert(LiteralGate.gateLiterals("""(no_leading_group)""").isEmpty)
  }
}
