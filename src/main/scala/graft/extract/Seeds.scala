package graft.extract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.Lexicon

/** Canonical entity registry (the reference's seed JSON databases).
  * Reference: extract/resolver.py:133-163 (loader),
  * models/entities.py:6-63 (Character/Place/Object).
  */
final case class SeedEntity(
    id: String,
    canonicalName: String,
    aliases: Seq[String],
    entityType: String) // character | place | object

object Seeds {

  /** Default synthetic-corpus registry: every planted character (with its
    * alias) and place. id = lowercase(canonical_name) — single tokens by
    * construction (Lexicon).
    */
  val default: Seq[SeedEntity] = {
    val chars = Lexicon.Chars.zip(Lexicon.CharAliases).map { case (n, a) =>
      SeedEntity(n.toLowerCase(java.util.Locale.ROOT), n, Seq(a), "character")
    }
    val places = Lexicon.Places.map(p => SeedEntity(p.toLowerCase(java.util.Locale.ROOT), p, Nil, "place"))
    chars ++ places
  }

  /** Exploded lookup rows: (akey = lowercase name-or-alias, id, type, name).
    * This is the registry both lookup surfaces build from: the
    * [[LocalLinker]] index (behind every linking entry point) and the
    * mention Gazetteer.
    *
    * ONE row per alias key, last registration wins — the reference's alias
    * index is a dict built in registry order (resolver.py:60-70:
    * `_alias_to_id[alias_lower] = entity.id` overwrites), so when two
    * seeds share an alias the later seed owns the key. Deduping HERE keeps
    * the two surfaces on identical semantics (round-5 review).
    */
  def aliasRows(seeds: Seq[SeedEntity]): Seq[(String, String, String, String)] = {
    val rows = seeds.flatMap { e =>
      // null/blank guard (round-5 review): a seed JSON row with a missing
      // canonical_name or an empty alias would NPE here or register an
      // empty Aho-Corasick pattern that fires a zero-width mention at
      // every text position — skip such keys instead
      (e.canonicalName +: e.aliases)
        .filter(n => n != null && n.trim.nonEmpty)
        .map(n =>
          (n.toLowerCase(java.util.Locale.ROOT), e.id, e.entityType, e.canonicalName))
    }
    rows.reverse.distinctBy(_._1).reverse
  }

  /** Schema of the reference seed JSON files (characters/places/objects.json,
    * /root/reference/data/seeds). Only the fields the resolver uses.
    */
  val seedJsonSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("canonical_name", StringType),
    StructField("aliases", ArrayType(StringType))))

  /** S4: load a reference-format seed JSON array into SeedEntity rows. */
  def fromJson(spark: SparkSession, path: String, entityType: String): Seq[SeedEntity] = {
    spark.read.schema(seedJsonSchema)
      .option("multiLine", "true").json(path)
      .collect()
      // rows missing id or canonical_name are unusable as lookup entries
      // (round-5 review: they NPE'd later in aliasRows) — drop them
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => SeedEntity(
        r.getString(0), r.getString(1),
        Option(r.getSeq[String](2)).getOrElse(Nil), entityType))
      .toSeq
  }

  /** D10/S6: export a cluster registry back to the reference's seed-JSON
    * shape, one file per entity type (extract/resolver.py:297-344,
    * dynamic_resolver.py:418-443). Input rows:
    * (cluster, canonical_name, entity_type, aliases).
    */
  def exportSeedJson(registry: DataFrame, outDir: String): Unit = {
    import org.apache.spark.sql.functions._
    registry
      .select(
        col("entity_type"),
        to_json(struct(
          col("cluster").as("id"),
          col("canonical_name"),
          col("aliases"))).as("j"))
      .write.mode("overwrite")
      .partitionBy("entity_type")
      .text(outDir)
  }
}
