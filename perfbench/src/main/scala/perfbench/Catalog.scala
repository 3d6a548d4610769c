package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the benchmark knows about the engine's surface: the queries it
  * times, the module each query belongs to, and how to find the session
  * stages of `graft.Pipeline`. */
object Catalog {

  /** The queries workload: one query per module family (q10 stands for
    * extract, as it builds the mention, alias, co-occurrence, cluster and
    * registry stages), 15 of the 19 Pipeline stages between them; q51 is
    * the slowest query on a 4-core host. A full 56-query cold pass does
    * not fit the per-run time budget. */
  val Queries: Seq[String] = Seq(
    "q02_span_invariant", "q10_cluster_registry", "q46_mentioned_in",
    "q51_consolidation", "q42_top_words", "q15_events", "q34_classifier",
    "q43_cultures", "q26_minhash_dups", "q24_ann_topk", "q17_media_meta",
    "q54_event_windows")

  /** Module family of every query, by query number. */
  val Families: Seq[(String, Seq[Int])] = Seq(
    "ingest" -> Seq(1, 2, 29),
    "extract" -> Seq(3, 4, 5, 6, 7, 8, 9, 10, 38),
    "graph" -> Seq(46, 47, 48),
    "corpus" -> Seq(37, 51),
    "voice" -> Seq(11, 12, 33, 35, 39, 41, 42, 56),
    "lore" -> Seq(15, 16, 32, 40, 52),
    "style" -> Seq(13, 14, 34, 36, 49, 50),
    "worldbible" -> Seq(30, 31, 43, 44, 45),
    "text" -> Seq(18, 19, 20, 21, 22, 23, 26, 27),
    "ml" -> Seq(24, 25, 28, 53),
    "media" -> Seq(17),
    "streaming" -> Seq(54, 55))

  def family(query: String): String = {
    val n = query.drop(1).takeWhile(_.isDigit).toInt
    Families.collectFirst { case (f, qs) if qs.contains(n) => f }
      .getOrElse("unmapped")
  }

  /** Pipeline stages in dependency order, so that building them in this
    * order charges each build only its own incremental cost. */
  val StageOrder: Seq[String] = Seq(
    "spanRows", "docs", "textual", "mentions", "linked", "aliasPairs",
    "coocEdges", "clusterAssignment", "registryNodes", "vertices",
    "dialogue", "voiceProfiles", "dialogueWordCounts", "events",
    "timeline", "classified", "shingles", "wbCategories", "wbRules")

  final case class StageBuild(name: String, seconds: Double)
  final case class StageReport(built: Seq[StageBuild], missing: Seq[String],
      appended: Seq[String])

  /** Build every session-cached Pipeline stage. Candidates are Pipeline's
    * `(SparkSession, String) => DataFrame` methods; a candidate is a stage
    * when a second call returns the very same DataFrame. Listed stages
    * that no longer exist are reported as missing, and cached stages not
    * in [[StageOrder]] are built last and reported as appended. */
  def buildStages(spark: SparkSession, dir: String,
      tracer: Tracer): StageReport = {
    val pipeline = graft.Pipeline
    val methods = pipeline.getClass.getMethods.filter { m =>
      !m.isSynthetic && !m.getName.contains("$") &&
        m.getParameterTypes.toSeq == Seq(classOf[SparkSession], classOf[String]) &&
        m.getReturnType == classOf[DataFrame]
    }.map(m => m.getName -> m).toMap
    def call(name: String) =
      methods(name).invoke(pipeline, spark, dir).asInstanceOf[DataFrame]
    val unlisted = methods.keys.filterNot(StageOrder.contains).toSeq.sorted
    val built = (StageOrder.filter(methods.contains) ++ unlisted).flatMap { n =>
      val t0 = System.nanoTime()
      val first = tracer.span(s"stage.$n")(call(n))
      val t = (System.nanoTime() - t0) / 1e9
      if (first eq call(n)) Some(StageBuild(n, t)) else None
    }
    StageReport(built, StageOrder.filterNot(methods.contains),
      built.map(_.name).filter(unlisted.contains))
  }
}
