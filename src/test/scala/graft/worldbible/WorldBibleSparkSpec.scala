package graft.worldbible

import graft.SparkSpec

/** W8-W11 Spark stages (worldbible/extractor.py:302-416, models.py:295-305). */
class WorldBibleSparkSpec extends SparkSpec {

  private def cats(passages: org.apache.spark.sql.DataFrame) =
    WorldBible.categories(spark, passages)

  test("W8 cultures: people substring groups, >=2 passage threshold") {
    import spark.implicits._
    val passages = Seq(
      ("d1", 0, "The hobbits honor their custom of gift giving."),
      ("d1", 1, "The hobbits honor their custom of gift giving."),
      ("d1", 2, "The elves honor their custom of gift giving."))
      .toDF("doc_id", "pos", "text")
    val c = WorldBible.cultures(passages, cats(passages)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(c == Map("hobbits" -> 2L)) // elves only once -> dropped
  }

  test("W9 magic: cannot/forbidden -> limitation, can/able/power -> ability") {
    import spark.implicits._
    val passages = Seq(
      ("d1", 0, "Only the wizards of Moria can weave such spells."),
      ("d1", 1, "Gandalf cannot wield such magic openly."),
      ("d1", 2, "The wizards honor their magic custom."))
      .toDF("doc_id", "pos", "text")
    val m = WorldBible.magicPassages(passages, cats(passages)).collect()
      .map(r => r.getInt(1) -> r.getString(2)).toMap
    assert(m == Map(0 -> "ability", 1 -> "limitation")) // pos 2: neither
    val sys = WorldBible.magicSystem(passages, cats(passages)).collect().head
    assert(sys.getString(0) == "general_magic")
    assert(sys.getSeq[String](2).size == 1 && sys.getSeq[String](3).size == 1)
  }

  test("W10 geography: location regex, named entries only") {
    import spark.implicits._
    val passages = Seq(
      ("d1", 0, "Rivendell lies in the valley of Lorien."),
      ("d1", 1, "Rivendell lies in the valley of Moria."),
      ("d1", 2, "the road is in poor shape near the river"))
      .toDF("doc_id", "pos", "text")
    val g = WorldBible.geography(spark, passages, cats(passages)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(g("Rivendell") == 2L)
    assert(!g.keys.exists(_.head.isLower)) // lowercase names filtered
  }

  test("W11 search_rules: substring over text and category") {
    import spark.implicits._
    val rules = Seq(
      ("only the wizards of moria can weave such spells", "magic"),
      ("all is well in bree", "themes"))
      .toDF("rule_text", "category")
    assert(WorldBible.searchRules(rules, "Moria").count() == 1)
    assert(WorldBible.searchRules(rules, "themes").count() == 1)
    assert(WorldBible.searchRules(rules, "dragon").count() == 0)
  }
}
