package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.{DocsSynth, Passages}
import graft.extract.{Canonicalize, Linker, Mentions, Triples}
import graft.graph.{Materialize, Stage, StageGraph, StageStore}

/** End-to-end KG-construction dataflow (SURVEY.md §3.1/§3.2), assembled
  * from the stage modules as one declared stage graph ([[Stages]]). A
  * stage lookup pins its node on first call; everything else here is lazy
  * plan construction.
  */
object Pipeline {

  /** Session-scoped materialized-stage reuse: the driver contract runs all
    * fifty queries in ONE SparkSession over the same sf dir, and nearly
    * every query starts from the same textual-passage / mention stages.
    * At 100 TB the docs table is STORED and ingest is a narrow posexplode;
    * in the sandbox the table is synthesized per query, so sharing the
    * materialized stage is the faithful simulation of the stored table
    * (and plain shared-scan reuse, not result caching — each query's own
    * operators still execute). Keyed by (session, stage, input
    * fingerprint); localCheckpoint pins a few MB per entry. Entries whose
    * session has stopped are purged on the next access (their checkpointed
    * blocks die with the session's executors, so holding the references
    * only pins dead plans), and regenerated testdata at the same path gets
    * a fresh entry via the fingerprint (ADVICE r02). See [[SessionStore]].
    */
  private val stageCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (SparkSession, DataFrame)]()

  private def inputFingerprint(sfDir: String): String = {
    // all four driver input tables, not just lineitem: the shingle stage
    // derives from documents.parquet, and a regenerated dir must
    // invalidate every cached stage regardless of which file it reads
    val names = Seq("lineitem.parquet", "documents.parquet",
      "embeddings.parquet", "events.parquet")
    names.map { n =>
      val f = new java.io.File(s"$sfDir/$n")
      s"${f.length}#${f.lastModified}"
    }.mkString(s"$sfDir#", "#", "")
  }

  /** The session store: stage `name` is built once per (application,
    * stage, input fingerprint) and pinned with an eager localCheckpoint;
    * a node's intermediates are pinned locally and never memoized by name.
    */
  private final class SessionStore(spark: SparkSession, sfDir: String)
      extends StageStore {
    def stage(name: String)(build: => DataFrame): DataFrame = {
      Tuning.ensure(spark)
      val it = stageCache.entrySet().iterator()
      while (it.hasNext)
        if (it.next().getValue._1.sparkContext.isStopped) it.remove()
      val key =
        (spark.sparkContext.applicationId + "#" + name, inputFingerprint(sfDir))
      // get-then-putIfAbsent, NOT computeIfAbsent: building a stage may
      // recursively build its upstream stages through this same cache, and
      // a nested computeIfAbsent on one ConcurrentHashMap throws "Recursive
      // update". A racy duplicate build is benign (one extra checkpoint,
      // first insert wins).
      val hit = stageCache.get(key)
      if (hit != null) hit._2
      else {
        val df = build.localCheckpoint(true)
        val prev = stageCache.putIfAbsent(key, (spark, df))
        if (prev != null) prev._2 else df
      }
    }
    def intermediates: StageStore = StageStore.Local
    def recordMetric(stage: String, partitionId: Int, rowsOut: Long,
        status: String): Unit = ()
  }

  /** The shared stages, declared once, in dependency order. The query
    * path evaluates them over the session store ([[stage]]); the
    * materialization job (`Materialize.runAllFrom`) evaluates them over
    * its durable [[graft.graph.Checkpoints]] with `textual` given. Each
    * node is built once per store and read by several consumers.
    */
  val Stages: Seq[Stage] = Seq(
    // per-lineitem span rows; the span-sequence validation reads them as
    // the source sequence
    Stage("spanRows")(in => DocsSynth.spanRows(in.spark, in.sfDir)),
    // the docs(doc_id, spans) input table. In production this is a stored
    // table; pinning the synthesis is the sandbox equivalent of reading it
    Stage("docs", "spanRows")(in => DocsSynth.docsFromSpanRows(in("spanRows"))),
    // textual passages, explicitly spread across all cores: AQE coalesces
    // the tiny upstream shuffles to 1-2 partitions by byte size, which
    // would serialize every downstream CPU-heavy narrow stage (mention /
    // triple / dialogue extraction). The shuffled data is a few MB
    Stage("textual", "docs")(in =>
      Passages.textual(Passages.fromDocs(in("docs")))
        .repartition(in.spark.sparkContext.defaultParallelism)),
    // detected + overlap-deduped mentions, with the cleaned key `mkey`
    // (LocalLinker.cleanKey, one pass over the text's chars behind a UDF)
    // stored once for the linker, clusters, registry and cross-book reads
    Stage("mentions", "textual")(in =>
      Mentions.fromPassages(in.spark, in("textual")).toDF()
        .withColumn("mkey", Linker.cleanKey(col("text")))),
    // mentions linked against the seed registry, with the vertex id `vid`
    // (canonical id or the new_<slug> regex) stored for the
    // MENTIONED_IN edges and the vertex table
    Stage("linked", "mentions")(in =>
      Linker.link(in.spark, in("mentions"))
        .withColumn("vid", Materialize.vertexId)),
    // explicit alias pairs: one gated-regex corpus scan, read by the
    // clusters stage and the two CrossBook queries (q37/q51)
    Stage("alias_pairs", "textual")(in =>
      Canonicalize.aliasPairs(in.spark, in("textual"))),
    // co-occurrence merge edges over the real mention table, read by the
    // clusters stage and q37 (the same (doc_id, pos, mkey) rows); q51
    // builds its own over its synthesized mentions
    Stage("cooc_edges", "mentions")(in =>
      Canonicalize.coocMergeEdges(in("mentions"))),
    // node -> cluster assignment: one CC run, read by the cluster,
    // registry and top-entity queries
    Stage("clusters", "mentions", "alias_pairs", "cooc_edges")(in =>
      Canonicalize.clusters(in.spark, in("mentions"), in("alias_pairs"),
        in("cooc_edges"), in.store)._1),
    // first-level registry aggregate, one row per (cluster, node), read
    // by q10 and q38
    Stage("registry_nodes", "mentions", "clusters")(in =>
      Canonicalize.registryNodes(in("mentions"), in("clusters"))),
    // the vertex table (Materialize.vertexDelta: one definition of a
    // vertex for both paths), read by q32, q48 and the job's vertex stages
    Stage("vertices", "linked")(in => Materialize.vertexDelta(in("linked"))),
    // dialogue lines: one quote-extraction + attribution pass, read by
    // the ten-query voice family
    Stage("dialogue", "textual")(in =>
      graft.voice.Dialogue.fromPassages(in.spark, in("textual")).toDF()),
    // per-speaker voice profiles, read by q12, q41, q56 and character_voice
    Stage("voice_profiles", "dialogue")(in =>
      graft.voice.Dialogue.voiceProfiles(in.spark, in("dialogue"))),
    // per-(speaker, word) dialogue word counts, read by q33 and q42
    Stage("dialogue_word_counts", "dialogue")(in =>
      graft.voice.Profiles.wordCounts(in("dialogue"))),
    // events: one per-verb-gated regex pass, read by q15/q16/q32/q48
    Stage("events", "textual")(in =>
      graft.lore.Events.fromPassages(in.spark, in("textual")).toDF()),
    // BIRTH/DEATH/LIVED timeline facts, read by q40 and the q32 checker
    Stage("timeline", "textual")(in =>
      graft.lore.Temporal.timeline(in.spark, in("textual"))),
    // per-passage style classification, read by q34, q49 and passage_style
    Stage("classified", "textual")(in =>
      graft.style.Classifier.classifyPassages(in.spark, in("textual"))),
    // distinct word-trigram shingles of the document table, read by q19
    // and q26. documents.parquet is ONE file, one split at small SF, so
    // without the spread the shingling and every downstream per-partition
    // kernel run on a single core (measured 5.6-12.7 s for 1.5 MB)
    Stage("shingles")(in =>
      graft.text.Dedup.shingleTable(
        in.spark.read.parquet(s"${in.sfDir}/documents.parquet")
          .repartition(in.spark.sparkContext.defaultParallelism))),
    // per-passage world-bible category scores, read by q30/q43/q44/q45
    Stage("wb_categories", "textual")(in =>
      graft.worldbible.WorldBible.categories(in.spark, in("textual"))),
    // W4-deduped world rules, read by q31 and the q32 lore checker
    Stage("wb_rules", "textual")(in =>
      graft.worldbible.WorldBible.worldRules(in.spark, in("textual"))))

  /** [[Stages]] evaluated over `store`; nodes in `sources` come from outside. */
  def graph(spark: SparkSession, sfDir: String, store: StageStore,
      sources: Map[String, DataFrame]): StageGraph =
    new StageGraph(spark, sfDir, store, Stages, sources)

  /** Stage `name` over the session store of (`spark`, `sfDir`). */
  def stage(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graph(spark, sfDir, new SessionStore(spark, sfDir), Map.empty)(name)

  // One lookup per stage: SparkEntry calls them, and the benchmark finds
  // them by reflection as Pipeline's (SparkSession, String) => DataFrame
  // methods whose second call returns the same DataFrame.
  def spanRows(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "spanRows")
  def docs(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "docs")
  def textual(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "textual")
  def mentions(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "mentions")
  def linked(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "linked")
  def aliasPairs(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "alias_pairs")
  def coocEdges(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "cooc_edges")
  def clusterAssignment(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "clusters")
  def registryNodes(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "registry_nodes")
  def vertices(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "vertices")
  def dialogue(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "dialogue")
  def voiceProfiles(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "voice_profiles")
  def dialogueWordCounts(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "dialogue_word_counts")
  def events(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "events")
  def timeline(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "timeline")
  def classified(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "classified")
  def shingles(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "shingles")
  def wbCategories(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "wb_categories")
  def wbRules(spark: SparkSession, sfDir: String): DataFrame =
    stage(spark, sfDir, "wb_rules")

  def passages(spark: SparkSession, sfDir: String): DataFrame =
    Passages.fromDocs(docs(spark, sfDir))

  /** Extracted SVO triples — fused single-stage hot path (detection +
    * extraction + broadcast-index linking in one mapPartitions; no shuffle
    * before the edge aggregate).
    */
  def triples(spark: SparkSession, sfDir: String): DataFrame =
    Triples.fromPassagesFused(spark, textual(spark, sfDir)).toDF()

  /** Edge table: fully-resolved triples aggregated per (src, dst, type) —
    * the reference's MERGE-with-aggregate semantics (graph/writer.py:135-222)
    * expressed as one hash aggregate with map-side partial aggregation.
    */
  def edges(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.Materialize.edgeGroups(triples(spark, sfDir))
      .agg(
        count(lit(1)).as("mention_count"),
        countDistinct(col("passage_id")).as("num_passages"))

  /** Replicated triple pipeline for scaling measurements: the textual
    * passages are replicated `rep` times (doc ids suffixed), producing
    * rep x the extraction work with the same statistical shape — the
    * sandbox stand-in for a larger corpus so the N-vs-4N throughput
    * measurement is compute-bound rather than fixed-overhead-bound.
    */
  def triplesReplicated(spark: SparkSession, sfDir: String, rep: Int): DataFrame =
    Triples.fromPassagesFused(
      spark, textualReplicated(spark, sfDir, rep)).toDF()

  /** The textual passages replicated `rep` times — shared by the scaling
    * bench and the rep-N materialization run. BOTH identity columns are
    * suffixed per replica: passage_id embeds the ORIGINAL doc_id
    * (p_<doc>_s<pos>, built before replication), so suffixing doc_id
    * alone would leave rep-fold duplicate passage_ids — the replicated
    * corpus would violate the materialization job's own
    * passage_id_unique invariant and collapse passage-keyed group-bys
    * across replicas (round-5 self-review finding #1).
    */
  def textualReplicated(spark: SparkSession, sfDir: String, rep: Int): DataFrame = {
    val reps = spark.range(rep).select(col("id").as("rep__"))
    val sfx = concat(lit("#"), col("rep__").cast("string"))
    textual(spark, sfDir)
      .crossJoin(broadcast(reps))
      .withColumn("doc_id", concat(col("doc_id"), sfx))
      .withColumn("passage_id", concat(col("passage_id"), sfx))
      .drop("rep__")
  }

  /** Flagship: who spoke with whom, ranked (SURVEY.md §7.2, T10). */
  def charGraph(spark: SparkSession, sfDir: String): DataFrame =
    edges(spark, sfDir)
      .filter(col("type").isin("SPOKE_TO", "SPOKE_WITH"))
      .groupBy("src", "dst")
      .agg(sum(col("mention_count")).as("conversations"))
}
