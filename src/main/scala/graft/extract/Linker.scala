package graft.extract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Seeded entity linking (reference EntityDatabase.lookup / EntityResolver,
  * extract/resolver.py:72-257) as DataFrame adapters over [[LocalLinker]],
  * which holds the only implementation of key cleaning, article stripping,
  * the exact -> article-stripped -> fuzzy cascade and type inference. The
  * seed registry is broadcast and probed per row inside one projection —
  * the probe side never shuffles, so head-entity skew (one protagonist
  * dominating mention counts) cannot concentrate on a single reducer.
  */
object Linker {

  /** rapidfuzz `fuzz.ratio` semantics, exactly: indel distance (Levenshtein
    * with substitution cost 2) normalized — ratio = 2*LCS/(|a|+|b|).
    * SURVEY.md §7.4 risk 3: `1 - levenshtein/max(len)` differs on
    * substitutions, so we implement the real thing.
    */
  def indelRatio(a: String, b: String): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val (s, t) = (a, b)
    // LCS length, two-row DP
    var prev = new Array[Int](t.length + 1)
    var cur = new Array[Int](t.length + 1)
    var i = 0
    while (i < s.length) {
      var j = 0
      while (j < t.length) {
        cur(j + 1) =
          if (s.charAt(i) == t.charAt(j)) prev(j) + 1
          else math.max(prev(j + 1), cur(j))
        j += 1
      }
      val tmp = prev; prev = cur; cur = tmp
      java.util.Arrays.fill(cur, 0)
      i += 1
    }
    2.0 * prev(t.length) / (s.length + t.length)
  }

  /** [[LocalLinker.cleanKey]] as a column function (null stays null). */
  val cleanKey: UserDefinedFunction =
    udf((s: String) => if (s == null) null else LocalLinker.cleanKey(s))

  /** [[LocalLinker.stripArticle]] as a column function (null stays null). */
  val stripArticle: UserDefinedFunction =
    udf((s: String) => if (s == null) null else LocalLinker.stripArticle(s))

  /** Link mentions against a seed registry. Adds columns:
    * canonical_id, canonical_name, entity_type, link_confidence, is_new.
    *
    * Each row's cleaned key (the stored `mkey` column when the input
    * carries one — Pipeline.mentions stores it with the stage — else
    * cleanKey(text)) is resolved by a broadcast [[LocalLinker]] inside ONE
    * projection: one scan of the mention table, no shuffle and no join.
    * mkey is kept in the output: downstream consumers of the linked stage
    * (the cross-book resolver) reuse it as the node key.
    */
  def link(
      spark: SparkSession,
      mentions: DataFrame,
      seeds: Seq[SeedEntity] = Seeds.default): DataFrame = {
    val lk = spark.sparkContext.broadcast(new LocalLinker(seeds))
    // an unresolved key gets the inferred type and confidence 0.0
    val verdict = udf { (key: String, label: String, text: String) =>
      lk.value.resolveKey(key) match {
        case Some(l) => (l.id, l.entityType, l.name, l.confidence)
        case None =>
          (null: String, LocalLinker.inferType(label, text), null: String, 0.0)
      }
    }.asNonNullable()
    val m =
      if (mentions.columns.contains("mkey")) mentions
      else mentions.withColumn("mkey", cleanKey(col("text")))
    // the verdict struct is computed once per row: Catalyst does not
    // collapse a non-cheap UDF into each of the field extractions below
    // (LinkerSpec pins one verdict UDF in the optimized plan)
    m.withColumn("verdict__", verdict(col("mkey"), col("label"), col("text")))
      .select(Seq(col("mkey")) ++ m.columns.filter(_ != "mkey").map(col) ++
        Seq(
          col("verdict__._1").as("canonical_id"),
          col("verdict__._2").as("entity_type"),
          col("verdict__._3").as("canonical_name"),
          col("verdict__._4").as("link_confidence"),
          col("verdict__._1").isNull.as("is_new")): _*)
  }
}
