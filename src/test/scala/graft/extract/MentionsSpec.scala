package graft.extract

import org.scalatest.funsuite.AnyFunSuite

/** Ported from the reference's tests/test_extract.py (NER half). */
class MentionsSpec extends AnyFunSuite {

  private val emptyGaz = Seq.empty[(String, String)]

  test("title pattern captures 'King of Gondor' (test_extract.py:27-36)") {
    val found = Mentions.detect("The King of Gondor spoke to the Grey Wizard.", emptyGaz)
    assert(found.exists(m => m.text.contains("King of Gondor") && m.source == "pattern"))
    assert(found.exists(m => m.text.toLowerCase.contains("grey wizard")))
  }

  test("overlap dedup keeps longer higher-confidence span (test_extract.py:38-51)") {
    val raw = Seq(
      Mentions.Raw("Gandalf", 0, 7, "PERSON", "heuristic", 0.8),
      Mentions.Raw("Gandalf the Grey", 0, 16, "PERSON", "pattern", 0.9))
    val out = Mentions.dedup(raw)
    assert(out.size == 1)
    assert(out.head.text == "Gandalf the Grey")
  }

  test("epithet pattern fires on 'Gandalf the Grey'") {
    val found = Mentions.detect("Gandalf the Grey arrived.", emptyGaz)
    assert(found.exists(m => m.text == "Gandalf the Grey" && m.confidence == 0.9))
  }

  test("capitalized-span heuristic finds multi-word names, skips stoplist") {
    val found = Mentions.detect("Then Tom Bombadil sang to them.", emptyGaz)
    assert(found.exists(m => m.text == "Tom Bombadil" && m.label == "UNKNOWN"))
    assert(!found.exists(_.text == "Then"))
  }

  test("gazetteer scan types a known name and wins dedup over heuristic") {
    val gaz = Seq(("gandalf", "character"), ("rivendell", "place"))
    val found = Mentions.detect("Gandalf rode to Rivendell.", gaz)
    val g = found.find(_.text == "Gandalf").get
    assert(g.label == "PERSON" && g.source == "gazetteer" && g.confidence == 0.85)
    val r = found.find(_.text == "Rivendell").get
    assert(r.label == "PLACE")
  }

  test("gazetteer respects word boundaries") {
    val found = Mentions.detect("The bard sang of Bard.", Seq(("bard", "character")))
    // lowercase 'bard' inside 'The bard' is a whole word -> gazetteer hit;
    // capitalized Bard also hits. Both are standalone words.
    assert(found.count(_.source == "gazetteer") == 2)
    val none = Mentions.detect("Bombardier flew.", Seq(("bard", "character")))
    assert(!none.exists(_.source == "gazetteer"))
  }

  test("mentions sorted by start, non-overlapping after dedup") {
    val found = Mentions.detect(
      "Gandalf spoke to Bilbo. Bilbo answered Gandalf.",
      Seq(("gandalf", "character"), ("bilbo", "character")))
    val starts = found.map(_.start)
    assert(starts == starts.sorted)
    found.sliding(2).foreach {
      case Seq(a, b) => assert(a.end <= b.start)
      case _ =>
    }
  }

  test("stoplist strip advances past a multi-space separator (round-5 review)") {
    // a fixed `+ 1` advance on "Then  Tom" left a leading space in the
    // span and shifted start by one, letting the malformed heuristic span
    // beat the typed gazetteer hit in dedup
    val found = Mentions.detect("Then  Tom sang.", Seq(("tom", "character")))
    val tom = found.find(_.text == "Tom").get
    assert(tom.start == 6 && tom.end == 9)
    assert(tom.source == "gazetteer" && tom.label == "PERSON")
    assert(!found.exists(_.text.startsWith(" ")))
  }

  test("gazetteer offsets survive length-changing lowercase chars (round-5 review)") {
    // U+0130 ('İ') expands to two chars under String.toLowerCase; the scan
    // must use a length-preserving lowercase or every later offset shifts
    // (and a name at the end of the passage crashed on substring)
    val text = "İstanbul knew Gandalf"
    val found = Mentions.detect(text, Seq(("gandalf", "character")))
    val g = found.find(_.source == "gazetteer").get
    assert(g.text == "Gandalf")
    assert(text.substring(g.start, g.end) == "Gandalf")
    assert(g.end == text.length)
  }

  /** The ungated reference: every title/epithet regex over the text. */
  private def ungatedPatternScan(text: String): Seq[Mentions.Raw] =
    Mentions.NamedPatterns.flatMap { p =>
      val m = p.matcher(text)
      val b = scala.collection.mutable.ArrayBuffer.empty[Mentions.Raw]
      while (m.find())
        b += Mentions.Raw(m.group(0), m.start, m.end, "PERSON", "pattern", 0.9)
      b.toSeq
    }

  /** Per pattern, one phrase per alternative of its mandatory group. */
  private val phrases: Seq[Seq[String]] = Seq(
    Seq("King Elessar", "Queen Of Gondor", "Lord Elrond", "Lady Galadriel",
      "Prince Imrahil", "Princess Arwen", "Chief Lotho", "Captain Faramir",
      "Steward of Gondor"),
    Seq("the Grey Wizard", "White Rider", "the Dark Lord", "Black Rider",
      "High King", "the Great Enemy"),
    Seq("the Ring-bearer", "Ringbearer", "Halfling", "the Perian",
      "Dwarf-friend", "Elf-friend"),
    Seq("the Necromancer", "Enemy", "the Dark Lord", "Shadow"),
    Seq("Gandalf the Grey", "Saruman White", "Radagast the Brown"))

  private def mixCase(s: String, rnd: scala.util.Random): String =
    s.map(c => if (rnd.nextBoolean()) c.toUpper else c.toLower)

  test("title/epithet gate: gated detectRaw equals the ungated five-regex scan") {
    val rnd = new scala.util.Random(5)
    val all = phrases.flatten
    val texts = all ++ all.map(_.toUpperCase) ++ all.map(_.toLowerCase) ++
      all.map(mixCase(_, rnd)) ++
      all.map(p => if (p.startsWith("the ")) p.drop(4) else s"the $p") ++
      Seq(
        "Then the Ring-bearer and the Ringbearer met the ring bearer.",
        "Ring bearer, Ring--bearer, ring-Bearer, bearer of the Ring.",
        "The Dark Lord, the dark  lord, the Dark\tLord, the DarkLord.",
        "Darkness fell on the lordly hall; the dark was deep.",
        "Kingly Lords, a queenly lady, the stewardship of captains.",
        "Gandalf, the Grey Pilgrim; Saruman of Many Colours.",
        // case-fold traps: neither folds to ASCII under CASE_INSENSITIVE
        // without UNICODE_CASE, but both lowercase to ASCII letters
        "\u212Aing Elessar and the Dar\u212A Lord",
        "\u0130nterloper Lord Elrond and K\u0130ng Bard",
        "\u017Faruman the White and Halfling \u017Fhadow",
        "No titles here, only hobbits.",
        "")
    texts.foreach { t =>
      assert(Mentions.detectRaw(t, emptyGaz).filter(_.source == "pattern") ===
        ungatedPatternScan(t), t)
    }
  }

  test("every alternative of each title/epithet pattern contains a gate literal") {
    assert(phrases.size == Mentions.NamedSources.size)
    Mentions.NamedSources.zip(phrases).foreach { case (src, ps) =>
      val lits = LiteralGate.gateLiterals(src)
      assert(lits.isDefined, s"no gate for $src")
      assert(!lits.get.contains("the"), s"gate on the optional group: $src")
      // the mandatory group: the first one not followed by `?`
      val groups = "\\(([^()]*)\\)(\\??)".r.findAllMatchIn(src)
        .filter(_.group(2).isEmpty).map(_.group(1)).toSeq
      val alts = groups.head.split('|').toSeq
      val p = java.util.regex.Pattern.compile(src,
        java.util.regex.Pattern.CASE_INSENSITIVE)
      alts.foreach { alt =>
        val altP = java.util.regex.Pattern.compile(alt,
          java.util.regex.Pattern.CASE_INSENSITIVE)
        val covering = ps.filter(ph => altP.matcher(ph).find())
        assert(covering.nonEmpty, s"no phrase for alternative $alt of $src")
        covering.foreach { ph =>
          val m = p.matcher(ph)
          assert(m.find(), s"$ph does not match $src")
          assert(lits.get.exists(m.group(0).toLowerCase.contains(_)),
            s"match '${m.group(0)}' of $src holds none of ${lits.get}")
        }
      }
    }
  }
}
