package graft.corpus

import graft.SparkSpec
import graft.extract.Canonicalize
import org.apache.spark.sql.functions._

/** X4 conflicts/book_clusters, X7 totals, S8 catalog persist. */
class CorpusSpec extends SparkSpec {

  test("X4: type conflicts counted per cluster; book_clusters map built") {
    import spark.implicits._
    val passages = Seq(("d1", 0, "x")).toDF("doc_id", "pos", "text")
    val mentions = Seq(
      // cluster {gondor} seen as place in book 0 and character in book 1
      ("d0", 0, "Gondor", "place"),
      ("d1", 0, "Gondor", "character"),
      ("d2", 0, "Bree", "place"))
      .toDF("doc_id", "pos", "text", "entity_type")
    val (entities, assignment) = CrossBook.resolveAll(spark, mentions,
      pmod(substring(col("doc_id"), 2, 9).cast("long"), lit(4L)),
      Canonicalize.aliasPairs(spark, passages),
      Canonicalize.coocMergeEdges(mentions))
    val e = entities.collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("books_appeared"), r.getAs[Long]("type_conflicts"))))
      .toMap
    assert(e("gondor") == ((2L, 1L))) // 2 books, 1 type conflict
    assert(e("bree") == ((1L, 0L)))

    val bc = CrossBook.bookClusters(
      mentions.withColumn("book",
        pmod(substring(col("doc_id"), 2, 9).cast("long"), lit(4L))),
      assignment)
      .collect().map(r => r.getString(0) -> r.getMap[Long, String](1)).toMap
    assert(bc("gondor").size == 2)
  }

  /** The X4 fixture mentions behind a lazy plan (an explode, like q51's
    * synthesized mentions), and their (books_appeared, type_conflicts). */
  private def lazyMentions = {
    import spark.implicits._
    Seq(("d0", 0, "Gondor", "place"), ("d1", 0, "Gondor", "character"),
      ("d2", 0, "Bree", "place"))
      .toDF("doc_id", "pos", "t", "et")
      .select(col("doc_id"), col("pos"),
        explode(array(struct(col("t").as("text"), col("et").as("entity_type"))))
          .as("mn"))
      .select(col("doc_id"), col("pos"), col("mn.text").as("text"),
        col("mn.entity_type").as("entity_type"))
  }

  private def crossBookEntities(mentions: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val passages = Seq(("d1", 0, "x")).toDF("doc_id", "pos", "text")
    CrossBook.resolveAll(spark, mentions,
      pmod(substring(col("doc_id"), 2, 9).cast("long"), lit(4L)),
      Canonicalize.aliasPairs(spark, passages),
      Canonicalize.coocMergeEdges(mentions))
      ._1.collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("books_appeared"), r.getAs[Long]("type_conflicts"))))
      .toMap
  }

  private val crossBookExpected = Map("gondor" -> ((2L, 1L)), "bree" -> ((1L, 0L)))

  test("X4 resolveAll, materialized mention input: re-read, not pinned again") {
    val checkpointed = lazyMentions.localCheckpoint(true)
    assert(CrossBook.isMaterialized(checkpointed))
    assert(CrossBook.isMaterialized(
      checkpointed.withColumn("book", lit(0L)).filter(col("pos") >= 0)))
    assert(crossBookEntities(checkpointed) == crossBookExpected)
  }

  test("X4 resolveAll, lazy mention input: pinned once, same entities") {
    assert(!CrossBook.isMaterialized(lazyMentions))
    assert(crossBookEntities(lazyMentions) == crossBookExpected)
  }

  test("X7/S8: per-book stats, corpus totals, catalog round-trip") {
    import spark.implicits._
    val passages = Seq(
      ("d0", 0, "Gandalf met Bilbo today."),
      ("d1", 0, "Bree sat quiet."))
      .toDF("doc_id", "pos", "text")
    val linked = Seq(
      ("d0", 0, "Gandalf", "gandalf"), ("d0", 0, "Bilbo", "bilbo"),
      ("d1", 0, "Bree", "bree"))
      .toDF("doc_id", "pos", "text", "canonical_id")
    val triples = Seq(("d0", 0, "gandalf", "MET", "bilbo"))
      .toDF("doc_id", "pos", "subject_id", "predicate", "object_id")
    val book = pmod(substring(col("doc_id"), 2, 9).cast("long"), lit(2L))
    val books = Catalog.bookStats(passages, linked, triples, book)
    val m = books.collect().map(r =>
      r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(m(0L) == ((4L, 2L, 1L))) // 4 words, 2 entities, 1 relationship
    assert(m(1L) == ((3L, 1L, 0L)))
    val totals = Catalog.corpusTotals(books).collect().head
    assert(totals.getLong(0) == 7L && totals.getLong(1) == 3L &&
      totals.getLong(2) == 1L && totals.getLong(3) == 2L)

    val dir = java.nio.file.Files.createTempDirectory("graft_cat").toString
    Catalog.save(books, s"$dir/catalog")
    assert(Catalog.load(spark, s"$dir/catalog").count() == 2)
  }

  test("D8 resolve: exact, article-strip, fuzzy tiers against a registry") {
    import spark.implicits._
    val assignment = Seq(
      ("gandalf", "gandalf"), ("mithrandir", "gandalf"), ("bree", "bree"))
      .toDF("node", "cluster")
    val texts = Seq("Gandalf", "the Mithrandir", "Gandaf", "Zorro")
      .toDF("text")
    val out = graft.extract.Canonicalize.resolve(spark, texts, assignment)
      .collect()
      .map(r => r.getAs[String]("text") ->
        ((Option(r.getAs[String]("cluster")),
          Option(r.getAs[Any]("resolve_confidence")).map(_.toString.toDouble))))
      .toMap
    assert(out("Gandalf") == ((Some("gandalf"), Some(1.0))))
    assert(out("the Mithrandir") == ((Some("gandalf"), Some(0.95))))
    val g = out("Gandaf")
    assert(g._1.contains("gandalf") && g._2.exists(c => c >= 0.85 && c < 1.0))
    assert(out("Zorro") == ((None, None)))
  }

  test("D8 resolve: duplicate input texts each keep their own row") {
    import spark.implicits._
    val assignment = Seq(
      ("gandalf", "gandalf"), ("mithrandir", "gandalf"), ("bree", "bree"))
      .toDF("node", "cluster")
    val texts = Seq(("Gandalf", 1), ("Gandalf", 2), ("Gandaf", 3),
      ("Gandaf", 4), ("Zorro", 5), ("Zorro", 6)).toDF("text", "id")
    val out = graft.extract.Canonicalize.resolve(spark, texts, assignment)
      .collect()
      .map(r => r.getAs[Int]("id") -> Option(r.getAs[String]("cluster")))
      .sortBy(_._1).toSeq
    assert(out.map(_._1) == (1 to 6))
    assert(out.map(_._2) == Seq(Some("gandalf"), Some("gandalf"),
      Some("gandalf"), Some("gandalf"), None, None))
  }
}
