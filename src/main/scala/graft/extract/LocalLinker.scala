package graft.extract

/** A resolved registry entry: the entity's id, type and name, and the
  * cascade tier's confidence (1.0 exact, 0.95 article-stripped, the indel
  * ratio for a fuzzy match).
  */
final case class Link(
    id: String, entityType: String, name: String, confidence: Double)

/** The entity-key kernel: the ONE implementation of mention-key cleaning,
  * article stripping, the three-tier lookup cascade and type inference for
  * unlinked mentions (reference EntityDatabase.lookup / EntityResolver,
  * extract/resolver.py:72-257):
  *
  *   tier 1  exact key            — conf 1.0
  *   tier 2  article-stripped key — conf 0.95
  *   tier 3  fuzzy                — candidates blocked by (first char,
  *           |len diff| <= 3), similarity = rapidfuzz-exact indel ratio
  *           >= 0.85, best by (ratio desc, id asc), conf = ratio
  *           (resolver.py:91-105)
  *
  * The registry is held in memory and broadcast, so every caller probes
  * it per row inside a narrow stage: the fused extraction, [[Linker.link]]
  * (the `linked` stage), the D8 post-CC resolve ([[Canonicalize.resolve]])
  * and the speaker-id map of the graph writers. The probe side never
  * shuffles, so head-entity skew cannot concentrate on one reducer. For
  * the seed registry the build side is tiny; the D8 registry maps every
  * post-CC node to its cluster, so it grows with the distinct mention
  * keys, and so does each fuzzy probe's first-char block.
  */
final class LocalLinker(seeds: Seq[SeedEntity]) extends Serializable {

  // aliasRows is already one-row-per-key (last registration wins, the
  // reference's dict semantics), so no key is dropped here. Sorted by key
  // so the fuzzy tier visits candidates in a registry-order-free order.
  private val entries: Array[(String, Link)] =
    Seeds.aliasRows(seeds).sortBy(_._1)
      .map(r => r._1 -> Link(r._2, r._3, r._4, 1.0)).toArray
  // the exact and article tiers map to pre-built Some(link) values, so a
  // hit on either allocates nothing (this runs once per mention in the
  // fused hot loop)
  private val exact = new java.util.HashMap[String, Some[Link]]()
  private val article = new java.util.HashMap[String, Some[Link]]()
  /** Fuzzy blocking: first char -> indices into `entries`, ascending. */
  private val byFirst = new java.util.HashMap[Char, Array[Int]]()
  entries.foreach { case (k, l) =>
    exact.put(k, Some(l))
    article.put(k, Some(l.copy(confidence = 0.95)))
  }
  entries.indices.groupBy(i => entries(i)._1.charAt(0)).foreach {
    case (c, is) => byFirst.put(c, is.sorted.toArray)
  }

  /** Resolve raw mention text: [[LocalLinker.cleanKey]], then [[resolveKey]]. */
  def lookup(text: String): Option[Link] =
    if (text == null) None else resolveKey(LocalLinker.cleanKey(text))

  /** The three-tier cascade over an already-cleaned key (a stored `mkey`
    * column is passed as-is: cleanKey is not idempotent on a doubled
    * possessive, so re-cleaning could change the key).
    */
  def resolveKey(k: String): Option[Link] = {
    if (k == null || k.isEmpty) return None
    val e = exact.get(k)
    if (e != null) return e
    val s = LocalLinker.stripArticle(k)
    if (s != k) {
      val a = article.get(s)
      if (a != null) return a
    }
    fuzzy(k)
  }

  /** Best blocked candidate by (ratio desc, id asc); keys are visited in
    * ascending order, so equal (ratio, id) pairs resolve to the smallest
    * key — a pure function of the registry contents.
    */
  private def fuzzy(k: String): Option[Link] = {
    val block = byFirst.get(k.charAt(0))
    if (block == null) return None
    var best: Link = null
    var bestR = 0.0
    var i = 0
    while (i < block.length) {
      val e = entries(block(i))
      if (math.abs(e._1.length - k.length) <= 3) {
        val r = Linker.indelRatio(k, e._1)
        if (r >= 0.85 && (best == null || r > bestR ||
            (r == bestR && e._2.id < best.id))) {
          best = e._2
          bestR = r
        }
      }
      i += 1
    }
    if (best == null) None else Some(best.copy(confidence = bestR))
  }
}

object LocalLinker {

  /** Mention-text cleaning (resolver.py:213-221): exactly
    * `text.trim.split("\\s+").mkString(" ").replaceAll("'s$", "").trim
    * .toLowerCase(ROOT)` — collapse whitespace, strip one possessive 's,
    * trim again (so "Frodo 's" cleans to "frodo") — as one char-array pass
    * with no per-call Pattern compile. This runs once per mention inside
    * the fused extraction and was the single largest allocation site of
    * the 16-thread scaling leg (~19% of sampled bytes: two Pattern
    * compiles + split array + mkString per call; round-5 JFR).
    * Equivalence is property-tested in HotSpec.
    */
  def cleanKey(text: String): String = {
    // String.trim bounds (drops c <= ' ' both ends; regex \s is a subset)
    var from = 0
    var to = text.length
    while (from < to && text.charAt(from) <= ' ') from += 1
    while (to > from && text.charAt(to - 1) <= ' ') to -= 1
    if (from == to) return ""
    // collapse java-regex \s runs to single ' ' (split("\\s+")+mkString)
    val buf = new Array[Char](to - from)
    var n = 0
    var i = from
    while (i < to) {
      val c = text.charAt(i)
      if (Hot.isRegexWs(c)) {
        buf(n) = ' '
        n += 1
        i += 1
        while (i < to && Hot.isRegexWs(text.charAt(i))) i += 1
      } else {
        buf(n) = c
        n += 1
        i += 1
      }
    }
    // replaceAll("'s$", "") — drop one trailing "'s"
    if (n >= 2 && buf(n - 1) == 's' && buf(n - 2) == '\'') n -= 2
    // final .trim — dropping "'s" can expose trailing c <= ' '
    while (n > 0 && buf(n - 1) <= ' ') n -= 1
    if (n == 0) "" else new String(buf, 0, n).toLowerCase(java.util.Locale.ROOT)
  }

  /** Article strip (resolver.py:85-89): exactly
    * `k.replaceFirst("^(the |a |an )", "")` — the three prefixes are
    * mutually exclusive, so ordered startsWith checks are equivalent.
    * Returns `k` itself when no article leads.
    */
  def stripArticle(k: String): String =
    if (k.startsWith("the ")) k.substring(4)
    else if (k.startsWith("an ")) k.substring(3)
    else if (k.startsWith("a ")) k.substring(2)
    else k

  /** Type inference for unlinked mentions (resolver.py:223-257): the
    * detector's label when it names a type, else place/object indicator
    * words in the text, else "unknown".
    */
  def inferType(label: String, text: String): String = label match {
    case "PERSON" | "ORG" => "character"
    case "PLACE" => "place"
    case "OBJECT" => "object"
    case "EVENT" => "event"
    case _ if text == null => "unknown"
    case _ =>
      val l = text.toLowerCase(java.util.Locale.ROOT)
      if (graft.Lexicon.PlaceIndicators.exists(l.contains)) "place"
      else if (graft.Lexicon.ObjectIndicators.exists(l.contains)) "object"
      else "unknown"
  }
}
