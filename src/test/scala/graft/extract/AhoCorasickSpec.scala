package graft.extract

import org.scalatest.funsuite.AnyFunSuite

/** The Aho-Corasick gazetteer scan must be byte-for-byte equivalent to the
  * legacy per-alias indexOf loop it replaced (all occurrences, overlaps,
  * duplicates, ordering).
  */
class AhoCorasickSpec extends AnyFunSuite {

  /** The legacy scan: every occurrence of every pattern by indexOf. */
  private def naive(patterns: IndexedSeq[String], text: String): Seq[(Int, Int)] =
    patterns.zipWithIndex.flatMap { case (p, pi) =>
      val b = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var idx = text.indexOf(p)
      while (idx >= 0) { b += ((pi, idx)); idx = text.indexOf(p, idx + 1) }
      b.toSeq
    }

  /** find equals the naive scan, and present equals its pattern-id set. */
  private def check(patterns: IndexedSeq[String], text: String): Unit = {
    val ac = AhoCorasick(patterns)
    val expected = naive(patterns, text)
    assert(ac.find(text) === expected)
    assert(ac.present(text).stream().toArray.toSet === expected.map(_._1).toSet)
  }

  private def randomParity(seed: Int, alphabet: String, rounds: Int,
      maxPatterns: Int, maxLen: Int, textLen: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    def word(len: Int): String =
      (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    (1 to rounds).foreach { _ =>
      val patterns = Vector.fill(rnd.nextInt(maxPatterns) + 1)(
        word(rnd.nextInt(maxLen) + 1))
      check(patterns, word(textLen))
    }
  }

  test("basic multi-pattern matching equals the naive scan") {
    check(Vector("gandalf", "bilbo", "gan", "dal"),
      "gandalf met bilbo; gandalf laughed")
  }

  test("overlapping self-occurrences are all reported") {
    check(Vector("aa", "aaa"), "aaaaa")
  }

  test("patterns that are suffixes of each other") {
    check(Vector("shire", "ire", "e"), "the shire is near")
  }

  test("duplicate patterns each report their own hits") {
    check(Vector("moria", "moria"), "to moria, into moria")
  }

  test("no matches") {
    check(Vector("xyzzy"), "nothing here")
  }

  test("randomized parity against the naive scan") {
    randomParity(42, "abcd ", rounds = 50, maxPatterns = 8, maxLen = 4,
      textLen = 200)
  }

  test("randomized parity over a non-ASCII alphabet") {
    // chars beyond Latin-1 and the U+212A KELVIN SIGN exercise the full
    // 16-bit char range of the goto-table key
    randomParity(43, "aké“\u212AK ", rounds = 50, maxPatterns = 8,
      maxLen = 4, textLen = 200)
  }

  test("parity with 5,000 patterns (many goto-table collisions)") {
    val rnd = new scala.util.Random(44)
    val alphabet = "abcdefghé“\u212A "
    def word(len: Int): String =
      (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val patterns = Vector.fill(5000)(word(rnd.nextInt(6) + 1))
    (1 to 5).foreach(_ => check(patterns, word(2000)))
  }

  test("per-text cost stays ~flat when the alias count grows 10x") {
    // the point of the automaton: scan cost is O(|text| + hits), not
    // O(|aliases| x |text|). Non-matching aliases are free after the
    // one-time build. Timing bound is deliberately loose (shared,
    // co-tenanted box): a linear-in-aliases scan would cost ~10x, we
    // assert < 6x — min-of-3 of 2000-rep averages rejects load spikes.
    val rnd = new scala.util.Random(7)
    def aliases(n: Int): IndexedSeq[String] =
      (0 until n).map(i => s"zz${('a' + i % 26).toChar}${i}q") // never match
    val text = (1 to 400).map(_ => "abcdefgh "(rnd.nextInt(9))).mkString
    def perTextNanos(ac: AhoCorasick): Double = {
      (1 to 200).foreach(_ => ac.find(text)) // warm JIT
      val reps = 2000
      val t0 = System.nanoTime()
      (1 to reps).foreach(_ => ac.find(text))
      (System.nanoTime() - t0).toDouble / reps
    }
    val small = AhoCorasick(aliases(72))
    val big = AhoCorasick(aliases(720))
    val tSmall = (1 to 3).map(_ => perTextNanos(small)).min
    val tBig = (1 to 3).map(_ => perTextNanos(big)).min
    assert(tBig < tSmall * 6,
      f"10x aliases cost ${tBig / tSmall}%.1fx per text - scan is not alias-independent")
  }

  test("gazetteer scan inside Mentions matches the Seq path") {
    val gaz = Seq("gandalf" -> "character", "moria" -> "place",
      "mithrandir" -> "character")
    val text = "Gandalf, called Mithrandir, entered Moria. Moria was dark."
    val viaSeq = Mentions.detect(text, gaz)
    val viaAc = Mentions.detect(text, new Gazetteer(gaz.toIndexedSeq))
    assert(viaSeq === viaAc)
    assert(viaAc.count(_.source == "gazetteer") === 4)
  }

  test("gateLiterals skips an optional leading group and refuses unsound shapes") {
    import LiteralGate.gateLiterals
    assert(gateLiterals("""\b(the\s+)?(Ring-?bearer|Halfling)""").get ==
      Seq("ring", "halfling"))
    assert(gateLiterals("""\b(King|Lord)\s+(?:of\s+)?([A-Z][a-z]+)""").get ==
      Seq("king", "lord"))
    assert(gateLiterals("""\b(a|b)|c""").isEmpty) // top-level alternation
    assert(gateLiterals("""\b(ab(c|d)|e)""").isEmpty) // nested group
    assert(gateLiterals("""\b(the\s+)?(x)?y""").isEmpty) // optional gate group
    assert(gateLiterals("""\b(foo){0,1}bar""").isEmpty) // quantified group
    assert(gateLiterals("""\b(a\)|b)""").isEmpty) // escaped paren
  }
}
