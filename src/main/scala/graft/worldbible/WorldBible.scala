package graft.worldbible

import java.util.regex.Pattern
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** World-bible extraction (reference worldbible/patterns.py + extractor.py,
  * SURVEY.md §2.11): multi-label category scoring (W3) and rule-pattern
  * extraction (W2/W7). Constants ported verbatim; runs as a narrow
  * mapPartitions stage. The patterns are compiled once per JVM.
  */
object WorldBible {

  /** CATEGORY_KEYWORDS, patterns.py:35-87 (8 categories). */
  val CategoryKeywords: Seq[(String, Seq[String])] = Seq(
    "magic" -> Seq(
      """\b(magic|spell|enchant|curse|charm|wizard|sorcerer|witch)""",
      """\b(power|ring of power|staff|wand|incantation)""",
      """\b(invisible|vanish|appear|transform|heal)""",
      """\b(foresight|prophecy|vision|dream|foretold)"""),
    "culture" -> Seq(
      """\b(custom|tradition|ritual|ceremony|festival)""",
      """\b(honor|shame|duty|law|forbidden|taboo)""",
      """\b(marriage|death|birth|coming of age)""",
      """\b(greeting|farewell|hospitality|gift)""",
      """\b(elves?|dwarves?|hobbits?|men|orcs?)\s+(always|never|typically)"""),
    "geography" -> Seq(
      """\b(leagues?|miles?|days?' journey|travel)""",
      """\b(mountain|river|forest|sea|lake|valley|pass)""",
      """\b(east|west|north|south)\s+of""",
      """\b(road|path|way|route)\s+to""",
      """\b(border|frontier|realm|kingdom|land)"""),
    "technology" -> Seq(
      """\b(forge|smith|craft|make|build|construct)""",
      """\b(weapon|armor|sword|bow|shield)""",
      """\b(ship|boat|cart|wagon)""",
      """\b(mithril|steel|iron|gold|silver)"""),
    "cosmology" -> Seq(
      """\b(god|valar|maiar|eru|iluvatar)""",
      """\b(creation|beginning|end|world|earth)""",
      """\b(immortal|mortal|death|afterlife|fate)""",
      """\b(light|dark|shadow|void|flame)""",
      """\b(sun|moon|stars?|heaven|sky)"""),
    "history" -> Seq(
      """\b(age|year|era|time|long ago|ancient)""",
      """\b(war|battle|siege|victory|defeat)""",
      """\b(king|queen|lord|steward)\s+\w+\s+(reign|rule|fell)""",
      """\b(first|second|third)\s+age"""),
    "creatures" -> Seq(
      """\b(dragon|spider|wolf|warg|eagle|bear)""",
      """\b(troll|goblin|orc|balrog|nazgul|wraith)""",
      """\b(ent|eagle|raven|thrush)""",
      """\b(creature|beast|monster)"""),
    "language" -> Seq(
      """\b(tongue|language|speech|word|name)""",
      """\b(elvish|sindarin|quenya|dwarvish|khuzdul)""",
      """\b(rune|inscription|written|script)""",
      """\b(meaning|translate|call|named)"""))

  /** RULE_PATTERNS, patterns.py:90-105 (7 definitional shapes). */
  val RulePatterns: Seq[(String, String)] = Seq(
    ("""(\w+(?:\s+\w+)*)\s+(cannot|can|may|must|shall|will)\s+(not\s+)?([\w\s]+)""", "capability"),
    ("""(the\s+)?(\w+(?:\s+\w+)*)\s+(is|are|was|were)\s+(always|never|immortal|mortal|[\w\s]+)""", "definition"),
    ("""only\s+([\w\s]+)\s+(can|may|could)\s+([\w\s]+)""", "exclusivity"),
    ("""no\s+([\w\s]+)\s+(can|may|could)\s+([\w\s]+)""", "prohibition"),
    ("""if\s+([\w\s,]+)\s+then\s+([\w\s,]+)""", "conditional"),
    ("""(\w+(?:\s+\w+)*)\s+(always|never)\s+([\w\s]+)""", "always_never"),
    ("""it\s+(is|was)\s+(said|known|believed|written)\s+that\s+([\w\s,]+)""", "lore"))

  /** Per category, each compiled pattern with its index in the flattened
    * [[CategoryKeywords]] sources (its [[catGate]] index).
    */
  private lazy val categoryPatterns: Seq[(String, Seq[(Pattern, Int)])] = {
    val offsets = CategoryKeywords.map(_._2.size).scanLeft(0)(_ + _)
    CategoryKeywords.zip(offsets).map { case ((c, ps), off) =>
      c -> ps.zipWithIndex.map { case (p, i) =>
        (Pattern.compile(p, Pattern.CASE_INSENSITIVE), off + i)
      }
    }
  }

  /** One Aho-Corasick pass over the lowercased passage decides which of
    * the 38 category regexes can possibly match (graft.extract.LiteralGate:
    * every category pattern starts with a `\b(alt|...)` literal group).
    * Before the gate, classify/extractAll ran every category regex over
    * every passage — the bulk of the wb_categories/wb_rules stage
    * builds. WorldBibleSpec pins gated == ungated.
    */
  private lazy val catGate =
    new graft.extract.LiteralGate(CategoryKeywords.flatMap(_._2))

  private def catGateBits(text: String): java.util.BitSet =
    catGate.present(text.toLowerCase(java.util.Locale.ROOT))

  private lazy val rulePatterns: Seq[(Pattern, String)] =
    RulePatterns.map { case (p, n) =>
      (Pattern.compile(p, Pattern.CASE_INSENSITIVE), n)
    }

  /** Literal gates per rule pattern, index-aligned with [[RulePatterns]]:
    * outer Seq = conjunction, inner Seq = disjunction of lowercase-ASCII
    * literals. Every match of pattern i must contain (ASCII-case-folded)
    * at least one literal from EACH inner group — the patterns embed the
    * keywords verbatim and CASE_INSENSITIVE without UNICODE_CASE folds
    * ASCII only, which containsIgnoreCaseAscii reproduces exactly. A
    * passage failing a gate cannot match, so the expensive
    * nested-quantifier scan is skipped (the seven ungated scans per
    * passage were the bulk of the wb_rules/wb_categories stage builds;
    * WorldBibleSpec pins gated == ungated).
    */
  private val RuleGates: IndexedSeq[Seq[Seq[String]]] = IndexedSeq(
    Seq(Seq("can", "may", "must", "shall", "will")), // capability (can⊂cannot)
    Seq(Seq("is", "are", "was", "were")),            // definition
    Seq(Seq("only")),                                // exclusivity
    Seq(Seq("no")),                                  // prohibition
    Seq(Seq("if"), Seq("then")),                     // conditional
    Seq(Seq("always", "never")),                     // always_never
    Seq(Seq("it"), Seq("said", "known", "believed", "written"),
      Seq("that")))                                  // lore

  private def gatePasses(text: String, gate: Seq[Seq[String]]): Boolean =
    gate.forall(_.exists(graft.extract.Hot.containsIgnoreCaseAscii(text, _)))

  private def countMatches(p: Pattern, text: String): Int = {
    val m = graft.extract.Hot.of(p, text)
    var n = 0
    while (m.find()) n += 1
    n
  }

  /** Category of a rule from its ±50-char context: keyword-count argmax,
    * 'themes' fallback (patterns.py:162-177).
    */
  private def inferCategory(context: String): String = {
    val bits = catGateBits(context)
    val scores = categoryPatterns.map { case (c, ps) =>
      c -> ps.map { case (p, i) =>
        if (catGate.open(bits, i)) countMatches(p, context) else 0
      }.sum
    }.filter(_._2 > 0)
    if (scores.isEmpty) "themes" else scores.maxBy(_._2)._1
  }

  /** classify_passage (W3, patterns.py:179-203): keyword hits ×0.2 capped
    * 1.0; +0.3 boost (or 0.5 floor) when a rule pattern is present.
    */
  def classify(text: String): Seq[(String, Double)] = {
    val bits = catGateBits(text)
    val scores = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    categoryPatterns.foreach { case (c, ps) =>
      var s = 0.0
      ps.foreach { case (p, i) =>
        if (catGate.open(bits, i)) s += countMatches(p, text) * 0.2
      }
      if (s > 0) scores(c) = math.min(s, 1.0)
    }
    rules(text).foreach { case (_, _, cat) =>
      scores(cat) =
        if (scores.contains(cat)) math.min(scores(cat) + 0.3, 1.0) else 0.5
    }
    scores.toSeq
  }

  /** A pattern match with span, for the W4 overlap dedup. */
  final case class Match(patternName: String, text: String,
      start: Int, end: Int, category: String, confidence: Double)

  /** find_rule_matches (W2, patterns.py:141-162): rule matches with spans,
    * conf 0.85, category inferred from ±50-char context.
    */
  def ruleMatches(text: String): Seq[Match] = {
    rulePatterns.zipWithIndex.flatMap { case ((p, name), i) =>
      if (!gatePasses(text, RuleGates(i))) Nil
      else {
        val m = graft.extract.Hot.of(p, text)
        val b = scala.collection.mutable.ArrayBuffer.empty[Match]
        while (m.find()) {
          val ctx = text.substring(math.max(0, m.start - 50),
            math.min(text.length, m.end + 50))
          // inferCategory scans only CATEGORY patterns — disjoint from the
          // rule pattern whose thread-local matcher is live here
          b += Match(name, m.group(0), m.start, m.end, inferCategory(ctx), 0.85)
        }
        b.toSeq
      }
    }
  }

  /** find_rule_matches (W2): (pattern_name, matched text, category). */
  def rules(text: String): Seq[(String, String, String)] =
    ruleMatches(text).map(m => (m.patternName, m.text, m.category))

  /** find_category_matches (patterns.py:124-139): keyword hits as spans,
    * conf 0.7, pattern_name "keyword".
    */
  def categoryMatches(text: String): Seq[Match] = {
    val bits = catGateBits(text)
    categoryPatterns.flatMap { case (c, ps) =>
      ps.flatMap { case (p, i) =>
        if (!catGate.open(bits, i)) Nil
        else {
          val m = graft.extract.Hot.of(p, text)
          val b = scala.collection.mutable.ArrayBuffer.empty[Match]
          while (m.find()) b += Match("keyword", m.group(0), m.start, m.end, c, 0.7)
          b.toSeq
        }
      }
    }
  }

  /** extract_all + W4 overlap dedup (patterns.py:206-239): all matches
    * sorted by (start, -confidence), greedily keeping non-overlapping —
    * keyword matches and rule matches shadow each other by span.
    */
  def extractAll(text: String): Seq[Match] = {
    val sorted = (categoryMatches(text) ++ ruleMatches(text))
      .sortBy(m => (m.start, -m.confidence))
    val kept = scala.collection.mutable.ArrayBuffer.empty[Match]
    sorted.foreach { m =>
      val overlaps = kept.exists(a => !(m.end <= a.start || m.start >= a.end))
      if (!overlaps) kept += m
    }
    kept.toSeq
  }

  /** The pattern names that qualify as world rules
    * (extractor.py:279: _extract_rules_patterns filter).
    */
  val RuleNames: Set[String] = Set(
    "capability", "definition", "exclusivity", "prohibition", "always_never")

  /** Peoples keyword groups (W8, extractor.py:306-313). */
  val PeoplesKeywords: Seq[(String, Seq[String])] = Seq(
    "hobbits" -> Seq("hobbit", "halfling", "shire-folk"),
    "elves" -> Seq("elf", "elves", "elvish", "eldar"),
    "dwarves" -> Seq("dwarf", "dwarves", "dwarvish"),
    "men" -> Seq("men", "mankind", "mortal men"),
    "orcs" -> Seq("orc", "orcs", "goblin", "goblins"),
    "wizards" -> Seq("wizard", "wizards", "istari"))

  import org.apache.spark.sql.functions._

  /** Passages carrying a given world-bible category score — the
    * by_category grouping of the reference pipeline (extractor.py:127-133).
    * `cats` is the [[categories]] table of `passages` (the Pipeline stage
    * `wb_categories`, so the per-passage classify pass runs once per
    * session). The W-family functions below all take it.
    */
  private def categorized(
      passages: DataFrame, category: String, cats: DataFrame): DataFrame =
    passages.join(
      cats.filter(col("category") === category).select("doc_id", "pos"),
      Seq("doc_id", "pos"), "left_semi")

  /** W8 cultures (extractor.py:302-349): culture-categorized passages
    * bucketed by substring people-keyword groups; groups with >= 2
    * passages become cultural profiles (the reference's values/customs
    * extraction is a no-op). A passage may join several groups, exactly
    * like the reference's loop.
    */
  def cultures(passages: DataFrame, cats: DataFrame): DataFrame = {
    val cult = categorized(passages, "culture", cats)
      .withColumn("lw", lower(col("text")))
    // ONE scan instead of a six-leg union: per passage, emit the name of
    // every people whose keyword group matches (null when it does not),
    // explode, drop the nulls. Row-identical to the previous
    // union-of-filters — each (people, passage) pair appears exactly when
    // its keyword disjunction hits — with a single pass over the
    // culture-categorized passages (the union re-scanned them six times).
    val peopleMatches = PeoplesKeywords.map { case (people, kws) =>
      when(kws.map(k => col("lw").contains(k)).reduce(_ || _), lit(people))
    }
    cult.select(explode(array(peopleMatches: _*)).as("people"))
      .filter(col("people").isNotNull)
      .groupBy("people")
      .agg(count(lit(1)).as("passages"))
      .filter(col("passages") >= 2)
      .withColumn("name", initcap(col("people")))
  }

  /** W9 magic systems (extractor.py:351-381): magic-categorized passages
    * split into limitations (cannot/forbidden) vs abilities
    * (can/able/power); passages matching neither are source-only.
    * Per-row classification — the assembled single system is
    * [[magicSystem]].
    */
  def magicPassages(passages: DataFrame, cats: DataFrame): DataFrame =
    magicKinds(passages, cats)
      .filter(col("kind").isNotNull)
      .select("doc_id", "pos", "kind")

  /** Shared limitation/ability classification over magic-categorized
    * passages — single definition for [[magicPassages]] and
    * [[magicSystem]] (round-5 review: the when-chain was duplicated
    * verbatim and could silently diverge). Null kind = source-only row.
    */
  private def magicKinds(passages: DataFrame, cats: DataFrame): DataFrame =
    categorized(passages, "magic", cats)
      .withColumn("lw", lower(col("text")))
      .withColumn("kind",
        when(col("lw").contains("cannot") || col("lw").contains("forbidden"),
          "limitation")
          .when(Seq("can", "able", "power")
            .map(w => col("lw").contains(w)).reduce(_ || _), "ability"))

  /** The reference's single assembled MagicSystem row: first-5 ability and
    * limitation texts in (doc_id, pos) order, 100-char truncated
    * (extractor.py:368-381).
    */
  def magicSystem(passages: DataFrame, cats: DataFrame): DataFrame = {
    val rows = magicKinds(passages, cats)
      .withColumn("seen", concat(col("doc_id"), lit("#"),
        lpad(col("pos").cast("string"), 19, "0")))
      .withColumn("t", substring(col("text"), 1, 100))
    rows.agg(
        slice(array_sort(collect_list(when(col("kind") === "ability",
          struct(col("seen"), col("t"))))), 1, 5).as("a5"),
        slice(array_sort(collect_list(when(col("kind") === "limitation",
          struct(col("seen"), col("t"))))), 1, 5).as("l5"),
        count(lit(1)).as("source_passages"))
      .select(lit("general_magic").as("id"), lit("Magic").as("name"),
        expr("transform(a5, x -> x.t)").as("abilities"),
        expr("transform(l5, x -> x.t)").as("limitations"),
        col("source_passages"))
  }

  /** W10 geography (extractor.py:383-416): "X is/lies/stands in/near Y"
    * regex over geography-categorized passages; named entries (len > 2,
    * capitalized) grouped, top-20 by (passages desc, name asc) — the
    * deterministic stand-in for the reference's insertion-order [:20].
    */
  private val LocationPattern = Pattern.compile(
    """(the\s+)?([\w\s]+)\s+(is|was|lies|stands?)\s+(in|on|near|by|at)\s+""",
    Pattern.CASE_INSENSITIVE)

  def geography(spark: SparkSession, passages: DataFrame,
      cats: DataFrame): DataFrame = {
    import spark.implicits._
    val geo = categorized(passages, "geography", cats)
    val names = geo.select("doc_id", "pos", "text").as[(String, Int, String)]
      .mapPartitions(_.flatMap { case (d, p, t) =>
        val m = LocationPattern.matcher(t)
        val b = scala.collection.mutable.ArrayBuffer.empty[(String, Int, String)]
        while (m.find()) {
          val name = m.group(2).trim
          if (name.length > 2 && name.head.isUpper) b += ((d, p, name))
        }
        b
      }).toDF("doc_id", "pos", "name")
    names.groupBy("name")
      .agg(count(lit(1)).as("passages"))
      .orderBy(col("passages").desc, col("name").asc)
      .limit(20)
  }

  /** W11 search_rules (models.py:295-305): case-insensitive substring
    * search over the rules table's text and category.
    */
  def searchRules(rules: DataFrame, query: String): DataFrame = {
    val q = query.toLowerCase(java.util.Locale.ROOT)
    rules.filter(lower(col("rule_text")).contains(q) ||
      lower(col("category")).contains(q))
  }

  /** Spark stage: per-passage category scores. */
  def categories(spark: SparkSession, passages: DataFrame): DataFrame = {
    import spark.implicits._
    passages.select("doc_id", "pos", "text").as[(String, Int, String)]
      .mapPartitions(_.flatMap { case (d, p, t) =>
        classify(t).map { case (c, s) => (d, p, c, s) }
      }).toDF("doc_id", "pos", "category", "score")
  }

  /** Spark stage: extracted world rules — W4-deduped matches restricted to
    * the five qualifying pattern names (extractor.py:268-300), one row per
    * (passage, rule). Corpus-level text dedup is the rules-table aggregate
    * (see [[rulesTableFrom]]).
    */
  def worldRules(spark: SparkSession, passages: DataFrame): DataFrame = {
    import spark.implicits._
    passages.select("doc_id", "pos", "text").as[(String, Int, String)]
      .mapPartitions(_.flatMap { case (d, p, t) =>
        extractAll(t)
          .filter(m => RuleNames.contains(m.patternName))
          .map(m => (d, p, m.patternName, m.text, m.category))
      }).toDF("doc_id", "pos", "pattern_name", "rule_text", "category")
      .dropDuplicates("doc_id", "pos", "pattern_name", "rule_text")
  }

  /** Corpus-level rules table over a [[worldRules]] table — the lore
    * checker's rule cache (reference checker.py:221-235 over the bible's
    * per-category deduped rules): one row per distinct lower(rule text).
    */
  def rulesTableFrom(worldRules: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    worldRules
      .groupBy(lower(col("rule_text")).as("rule_text"))
      .agg(org.apache.spark.sql.functions.min(col("category")).as("category"))
  }
}
