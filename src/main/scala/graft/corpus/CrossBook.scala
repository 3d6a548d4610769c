package graft.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, Project, SubqueryAlias}
import org.apache.spark.sql.execution.LogicalRDD
import graft.extract.{Canonicalize, Linker}
import graft.cc.ConnectedComponents
import graft.graph.StageStore

/** Cross-book entity resolution (X1-X6, corpus/resolver.py): per-book
  * mention clusters merged corpus-wide via exact-name / alias / fuzzy>=0.85
  * edges — the same connected-components machinery as the within-book
  * canonicalization (SURVEY.md §2.12), at the corpus level. Exact-name
  * merges are free (nodes are mention keys); alias-statement and
  * fuzzy-ratio (0.85, X3 corpus/resolver.py:236-244) edges feed the CC.
  */
object CrossBook {

  /** Global entity table across books:
    * (entity, canonical_name, books_appeared, total_mentions, member_count).
    * `bookExpr` assigns each mention to a book; `aliasPairs` and
    * `coocEdges` are the [[Canonicalize.aliasPairs]] table of the corpus
    * and the [[Canonicalize.coocMergeEdges]] table of these mentions.
    */
  def resolveAll(
      spark: SparkSession,
      mentions: DataFrame,
      bookExpr: org.apache.spark.sql.Column,
      aliasPairs: DataFrame,
      coocEdges: DataFrame): (DataFrame, DataFrame) = {
    graft.Tuning.ensure(spark)
    val ratioUdf = udf((a: String, b: String) => Linker.indelRatio(a, b))
    // project BEFORE anything heavy: every consumer below needs only
    // (doc_id, pos, book, node, entity_type) — node is the stored cleaned
    // key that every later step reads, so text is never needed again
    // downstream (guide §2.3 project-early)
    val mAll = mentions
      .withColumn("book", bookExpr)
      .withColumn("node", Canonicalize.keyOf(mentions))
    val mProj = mAll
      .select(Seq(col("doc_id"), col("pos"), col("book"), col("node")) ++
        (if (mAll.columns.contains("entity_type"))
           Seq(col("entity_type")) else Nil): _*)
    // pin only a lazy mention input. An already-materialized input (q37
    // passes the checkpointed linked stage, q51 its pinned synthesized
    // mentions) is re-read, not recomputed, and an eager checkpoint of the
    // full table costs more than the scans it saves (measured round-6: the
    // q37 pin was 0.5-1 s of pure overhead)
    val m = if (isMaterialized(mentions)) mProj else mProj.localCheckpoint(true)
    val typed =
      if (m.columns.contains("entity_type")) m
      else m.withColumn("entity_type", lit("unknown"))
    // ONE aggregated pass over the mention table serves every per-node
    // consumer below (guide §2.3 aggregate-before-shuffle): the node set,
    // the majority-type table and the final entity aggregate all depend
    // only on row counts per (book, node, entity_type) — a table bounded
    // by |distinct keys| x |books| x |types| (tiny; map-side partial
    // aggregation collapses the shuffle). Before, each of the three ran
    // its own full scan + shuffle of the mention table.
    val grouped = typed
      .groupBy("book", "node", "entity_type")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    // consumed by the fuzzy join, two alias semi-joins, the X5 families,
    // and the CC node set — all tiny derivations of the pinned `grouped`
    val nodes = grouped.select("node").distinct().localCheckpoint(true)

    // fuzzy edges at the cross-book 0.85 threshold (X3); blocked
    // equi-join on (first char, length) — see Canonicalize.fuzzyEdges
    val eFuzzy = Canonicalize.fuzzyEdges(nodes, 0.85, ratioUdf)
    val eAlias = aliasPairs
      .join(nodes.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
      .join(nodes.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")

    // X5 consolidation edges (resolver.py:341-387): the within-book
    // canonicalizer's name-set connections — article-strip equality and
    // co-occurrence>=3 passing the containment merge heuristic — that the
    // 0.85 fuzzy tier alone misses (e.g. "bilbo" <-> "bilbo baggins",
    // ratio 0.67). The reference consolidates only within an entity type
    // (by_type grouping, resolver.py:345-350), so each edge is constrained
    // to endpoints whose majority mention types are compatible (equal, or
    // either unknown). Majority type per node = most frequent non-unknown
    // entity_type, ties to the lexicographically smaller. No broadcast
    // hint: nodeTypes is O(distinct mention keys) — large at corpus scale —
    // while the edge side is small; the equi-join lets AQE pick the build
    // side per actual sizes.
    // derived from `grouped` (sum(cnt) over books == the per-(node, type)
    // row count over the full table), not from another full mention scan
    val nodeTypes = grouped
      .filter(col("entity_type") =!= "unknown")
      .groupBy("node", "entity_type").agg(sum(col("cnt")).as("cnt"))
      .groupBy("node")
      .agg(min_by(col("entity_type"),
        struct((col("cnt") * -1).as("nc"), col("entity_type"))).as("ntype"))
    def typeOf(end: String) = nodeTypes
      .select(col("node").as(end), col("ntype").as(s"${end}_t"))
    val eConsolidate = Canonicalize.articleEdges(nodes)
      .union(coocEdges)
      .join(typeOf("src"), Seq("src"), "left")
      .join(typeOf("dst"), Seq("dst"), "left")
      .filter(col("src_t").isNull || col("dst_t").isNull ||
        col("src_t") === col("dst_t"))
      .select("src", "dst")

    val (assignment, _) = ConnectedComponents.run(spark, nodes,
      eFuzzy.union(eAlias).union(eConsolidate).distinct(), StageStore.Local)

    // X4 type-conflict tracking (resolver.py:329-339): clusters whose
    // member mentions carry more than one known entity type. Batch
    // re-expression of the reference's per-merge conflict rows:
    // conflicts = (# distinct non-unknown types) - 1, floored at 0.
    // Requires the input mentions to carry entity_type (linked mentions);
    // raw mentions degrade gracefully to 0 conflicts.
    // computed from `grouped`, which IS the (book, node, entity_type)
    // pre-aggregate this two-level plan needs (cluster is a function of
    // node, so joining the assignment onto the pre-grouped rows yields
    // exactly the first-level groups): countDistinct over the pre-grouped
    // keys and sum(cnt) == count(*) are exact by construction, and the
    // planner's 4x Expand runs over the tiny grouped table instead of
    // every mention row.
    val entities = grouped.join(assignment, Seq("node"))
      .groupBy(col("cluster").as("entity"))
      .agg(
        countDistinct(col("book")).as("books_appeared"),
        sum(col("cnt")).as("total_mentions"),
        countDistinct(col("node")).as("member_count"),
        greatest(
          countDistinct(when(col("entity_type") =!= "unknown",
            col("entity_type"))) - 1,
          lit(0L)).as("type_conflicts"))
    (entities, assignment)
  }

  /** Whether `df` is already materialized: its plan reads only
    * checkpointed or local rows through projections and filters, so a
    * second scan re-reads those rows instead of recomputing a lineage.
    */
  private[corpus] def isMaterialized(df: DataFrame): Boolean =
    df.queryExecution.analyzed.find {
      case _: LogicalRDD | _: LocalRelation | _: Project | _: Filter |
          _: SubqueryAlias => false
      case _ => true
    }.isEmpty

  /** X4 book_clusters map (resolver.py:22-66): per cross-book entity, the
    * per-book representative member (min node key within the book — the
    * deterministic stand-in for the reference's per-book cluster ids).
    */
  def bookClusters(
      mentionsWithBook: DataFrame,
      assignment: DataFrame): DataFrame =
    mentionsWithBook
      .withColumn("node", Canonicalize.keyOf(mentionsWithBook))
      .join(assignment, Seq("node"))
      .groupBy(col("cluster").as("entity"), col("book"))
      .agg(min(col("node")).as("book_cluster"))
      .groupBy("entity")
      .agg(map_from_entries(array_sort(collect_list(
        struct(col("book"), col("book_cluster"))))).as("book_clusters"))

  /** X6: entities appearing in more than one book. */
  def multiBookEntities(entities: DataFrame): DataFrame =
    entities.filter(col("books_appeared") > 1)
}
