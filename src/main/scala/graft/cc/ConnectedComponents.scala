package graft.cc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.StageStore

/** Iterative min-label-propagation connected components over a string-keyed
  * undirected edge Dataset — the canonicalization engine prescribed by the
  * north rule ("connected-components over an alias-similarity edge Dataset
  * with iterative DataFrame joins checkpointed per superstep").
  *
  * Each superstep: every node takes the min label among itself and its
  * neighbors, then labels shortcut through themselves (path halving —
  * l(v) := l(l(v))). The frontier DataFrame is checkpointed each superstep
  * (localCheckpoint — lineage truncation so plan depth stays O(1) instead
  * of O(supersteps)), and a (superstep, changed) metrics row is recorded
  * through the supplied store for the lineage/metrics table.
  * Converges in O(log diameter) supersteps (CanonicalizeSpec pins a
  * 1025-node chain at 11 = log2 n plus the no-change detection step);
  * alias graphs are near-star-shaped so this is 2-3 in practice. maxIter
  * caps runaway graphs.
  *
  * Reference semantics replaced: the order-dependent incremental cluster
  * merging of dynamic_resolver.py:93-309 (SURVEY.md §2.5 D7, §7.4 risk 1) —
  * re-expressed as an order-independent fixpoint.
  */
object ConnectedComponents {

  final case class Superstep(superstep: Int, changed: Long, active: Long)

  /** @param edges  DataFrame with string columns (src, dst)
    * @param nodes  DataFrame with string column (node); superset of edge
    *               endpoints (singletons allowed)
    * @param store  the symmetric edge set and every superstep's label
    *               table are pinned through `store.intermediates` (stages
    *               `cc_sym`, `cc_labels_<k>`). On
    *               [[graft.graph.Checkpoints]] a run killed mid-CC resumes
    *               from the last completed superstep and survives executor
    *               loss; [[graft.graph.StageStore.Local]] only truncates
    *               lineage, which is right for the ephemeral query paths.
    * @return (assignment DataFrame (node, cluster), superstep metrics)
    */
  def run(
      spark: SparkSession,
      nodes: DataFrame,
      edges: DataFrame,
      store: StageStore,
      maxIter: Int = 20): (DataFrame, Seq[Superstep]) = {
    val pin = store.intermediates

    // symmetric edge set, self-contained column names; materialized once —
    // otherwise every superstep would recompute the (expensive) upstream
    // edge derivation (fuzzy self-join, alias regex scan)
    val sym = pin.stage("cc_sym") {
      edges.select(col("src").as("a"), col("dst").as("b"))
        .union(edges.select(col("dst").as("a"), col("src").as("b")))
        .distinct()
    }

    var labels = pin.stage("cc_labels_0") {
      nodes.select(col("node"), col("node").as("cluster"))
    }
    val metrics = scala.collection.mutable.ArrayBuffer.empty[Superstep]

    var converged = false
    var step = 0
    while (!converged && step < maxIter) {
      step += 1
      val prev = labels
      // neighbor-min then POINTER JUMPING: after every node takes the min
      // label among itself and its neighbors, each label is shortcut
      // through its own current label (l(v) := l(l(v)) — path halving).
      // Labels double their reach per superstep, so a diameter-d chain
      // converges in O(log d) supersteps instead of O(d); on the
      // near-star alias graphs of this workload the extra join is one
      // label-table-sized hash join per superstep and the superstep count
      // is unchanged (2-3). Invariant used by the inner join: every
      // cluster label IS a node name (init cluster = node; mins preserve
      // membership), so the label table always resolves itself —
      // coalesce guards it regardless.
      // The PREVIOUS label rides through the superstep as an `old` column
      // (prev contributes exactly one row per node to the union, so
      // max(old) over the group recovers it; neighbor rows carry null,
      // which max ignores), so the metrics below aggregate the already-
      // checkpointed table directly — no per-superstep join of two label
      // tables, one fewer Spark job per superstep (round-6 guide §2.4:
      // remove the shuffle outright; the label tables are small, so the
      // saving is the job/stage scheduling latency times the 2-3
      // supersteps of every CC run in the bench).
      val next = pin.stage(s"cc_labels_$step") {
        val neighborLabels = sym
          .join(prev.select(col("node").as("b"), col("cluster")), Seq("b"))
          .select(col("a").as("node"), col("cluster"),
            lit(null).cast("string").as("old"))
        val minned = prev
          .select(col("node"), col("cluster"), col("cluster").as("old"))
          .union(neighborLabels)
          .groupBy("node")
          .agg(min(col("cluster")).as("cluster"), max(col("old")).as("old"))
        minned
          .join(
            minned.select(col("node").as("cluster"),
              col("cluster").as("cluster2")),
            Seq("cluster"), "left")
          .select(col("node"),
            coalesce(col("cluster2"), col("cluster")).as("cluster"),
            col("old"))
      }
      // one action for both superstep metrics (changed + active), a plain
      // aggregate over the checkpointed superstep output
      val row = next
        .agg(
          // coalesce: sum() is NULL on an empty node set — converge, not NPE
          coalesce(sum(when(col("cluster") =!= col("old"), 1L).otherwise(0L)),
            lit(0L)).as("changed"),
          count(lit(1)).as("active"))
        .collect()(0)
      val changed = row.getLong(0)
      metrics += Superstep(step, changed, row.getLong(1))
      store.recordMetric("cc_superstep", step, changed, "superstep")
      labels = next
      converged = changed == 0
    }
    // Surface non-convergence instead of silently returning split clusters
    // (an alias chain with diameter > maxIter would otherwise produce wrong
    // components with no indication — ADVICE r01).
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIter supersteps " +
          // headOption-style guard: maxIter <= 0 reaches here with an empty
          // metrics buffer, and metrics.last would mask this message with a
          // NoSuchElementException (round-5 review)
          metrics.lastOption.fold("")(m => s"(last changed=${m.changed}) ") +
          "; raise maxIter")
    // drop the metrics-only `old` column — consumers see (node, cluster)
    (labels.select("node", "cluster"), metrics.toSeq)
  }
}
