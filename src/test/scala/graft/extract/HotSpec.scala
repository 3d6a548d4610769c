package graft.extract

import org.scalatest.funsuite.AnyFunSuite

/** Equivalence specs for the round-5 allocation-free hot-loop rewrites:
  * each helper must agree byte-for-byte with the `java.util.regex` /
  * `String` idiom it replaced, on adversarial inputs (control chars,
  * unicode whitespace, line terminators, curly quotes, İ/ß case oddities).
  */
class HotSpec extends AnyFunSuite {

  private val tricky: Array[Char] = Array(
    'a', 'b', 'z', 'A', 'Z', '0',
    ' ', '\t', '\n', '\r', '\f', 11.toChar, // java-regex \s
    ',', '\'', 's', '"', '”', '“',
    ' ', 0x85.toChar, 0x2028.toChar, 0x2029.toChar, //   NEL LS PS
    0x01.toChar, 'İ', 'ß', 'Σ')
  private def randStrings(seed: Int, n: Int, maxLen: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val len = rnd.nextInt(maxLen + 1)
      new String(Array.fill(len)(tricky(rnd.nextInt(tricky.length))))
    }
  }

  // the pre-round-5 implementations, verbatim
  private def cleanKeyRegex(text: String): String =
    text.trim.split("\\s+").mkString(" ")
      .replaceAll("'s$", "").trim.toLowerCase(java.util.Locale.ROOT)
  private def attributionRegex(text: String, vStart: Int): Boolean = {
    val before = text.substring(math.max(0, vStart - 3), vStart)
    before.matches(""".*["”],?\s?""")
  }

  test("cleanKey: allocation-free walk == trim/split/mkString/replaceAll " +
    "chain on adversarial inputs") {
    val directed = Seq("", "  ", "tom's", "TOM'S", "tom 's", "'s", " 's ",
      "ab", "a's", "a b", "tom\n's", "x  y\tz's",
      "İstanbul's", "Weiß's", "ΣΟΣ", "ab", "a  b's")
    (directed ++ randStrings(42, 4000, 12)).foreach { s =>
      assert(LocalLinker.cleanKey(s) === cleanKeyRegex(s),
        s"input=${s.toList.map(_.toInt)}")
    }
  }

  test("attributionBefore: walk == window.matches(\".*[\\\"”],?\\\\s?\") " +
    "at every offset of adversarial strings") {
    val directed = Seq("\" said", "\", said", "\" , said", "\",  said",
      "x\" said", "”, said", "\n\" said", "a\n\" said", "\"  said",
      "\"said", "said", ",\" said", "\"\", said", "\",,said", "\" x")
    (directed ++ randStrings(7, 2000, 8)).foreach { s =>
      (0 to s.length).foreach { v =>
        assert(Hot.attributionBefore(s, v) === attributionRegex(s, v),
          s"input=${s.toList.map(_.toInt)} vStart=$v")
      }
    }
  }

  test("lowerAscii == toLowerCase(ROOT) everywhere, identity on " +
    "lower-ASCII") {
    randStrings(11, 4000, 12).foreach { s =>
      assert(Hot.lowerAscii(s) === s.toLowerCase(java.util.Locale.ROOT))
    }
    val id = "already lower"
    assert(Hot.lowerAscii(id) eq id)
    assert(Hot.lowerAscii("İI") === "İI".toLowerCase(java.util.Locale.ROOT))
  }

  test("containsIgnoreCaseAscii == CASE_INSENSITIVE (no UNICODE_CASE) " +
    "quoted-literal regex find, incl. non-ASCII case oddities") {
    val needles = Seq("age", "born", "died", "before", "a", "")
    val refs = needles.map(n => n -> java.util.regex.Pattern
      .compile(java.util.regex.Pattern.quote(n),
        java.util.regex.Pattern.CASE_INSENSITIVE)).toMap
    val directed = Seq("AGE", "Age", "garbage", "the aged king", "AG", "",
      "İstanbul age", "ße", "bOrN", "BEFOREhand", "b e f o r e", "diedx")
    (directed ++ randStrings(23, 4000, 10)).foreach { s =>
      needles.foreach { n =>
        assert(Hot.containsIgnoreCaseAscii(s, n) === refs(n).matcher(s).find(),
          s"text=${s.toList.map(_.toInt)} needle=$n")
      }
    }
  }

  test("isRegexWs matches java-regex \\s exactly over the BMP") {
    val p = java.util.regex.Pattern.compile("\\s")
    (0 until 0x10000).foreach { i =>
      val c = i.toChar
      assert(Hot.isRegexWs(c) === p.matcher(c.toString).matches(),
        s"char=0x${i.toHexString}")
    }
  }

  test("isLineTerm matches java-regex default-mode `.` exclusions " +
    "exactly over the BMP") {
    val p = java.util.regex.Pattern.compile(".")
    // skip surrogate halves: a lone surrogate is not a well-formed input
    // to the regex engine (it sees one code point either way, but the
    // String round-trip may replace it)
    (0 until 0x10000).filterNot(i => i >= 0xD800 && i <= 0xDFFF)
      .foreach { i =>
        val c = i.toChar
        assert(Hot.isLineTerm(c) === !p.matcher(c.toString).matches(),
          s"char=0x${i.toHexString}")
      }
  }
}
