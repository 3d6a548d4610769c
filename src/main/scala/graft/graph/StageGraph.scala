package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Where the nodes of a [[StageGraph]] are pinned. There are two stores:
  * the session store of `graft.Pipeline` (an eager localCheckpoint,
  * memoized by application, stage and input fingerprint) and the durable
  * [[Checkpoints]] of the materialization job (resume plus per-partition
  * lineage).
  */
trait StageStore {

  /** Stage `name`: the stored copy when the store holds one, else `build`,
    * pinned. */
  def stage(name: String)(build: => DataFrame): DataFrame

  /** The store for a node's own intermediates (the CC edge set and
    * supersteps). */
  def intermediates: StageStore

  /** Record one metrics row (a CC superstep); a store without a metrics
    * table drops it. */
  def recordMetric(stage: String, partitionId: Int, rowsOut: Long,
      status: String): Unit
}

object StageStore {

  /** An eager localCheckpoint per call, memoized nowhere: the
    * intermediates of the query path. Their names (`cc_sym`,
    * `cc_labels_<k>`) repeat across the CC runs of one session, so they
    * must never be looked up by name. */
  object Local extends StageStore {
    def stage(name: String)(build: => DataFrame): DataFrame =
      build.localCheckpoint(true)
    def intermediates: StageStore = this
    def recordMetric(stage: String, partitionId: Int, rowsOut: Long,
        status: String): Unit = ()
  }
}

/** One declared node of the stage graph: its name, the nodes it reads and
  * its build over them. */
final case class Stage(name: String, deps: String*)(
    val build: Stage.Inputs => DataFrame)

object Stage {

  /** What a build sees: the session, the input dir, the graph's store and
    * the upstream nodes it declared. */
  final class Inputs private[graph] (graph: StageGraph, stage: Stage) {
    def spark: SparkSession = graph.spark
    def sfDir: String = graph.sfDir
    def store: StageStore = graph.store
    def apply(dep: String): DataFrame = {
      require(stage.deps.contains(dep),
        s"stage ${stage.name} reads undeclared upstream $dep")
      graph(dep)
    }
  }
}

/** The declared `stages` evaluated over one `store`: each node is built
  * once through the store, upstream first, on first request. Nodes in
  * `sources` come from outside and bypass both their build and the store.
  */
final class StageGraph(val spark: SparkSession, val sfDir: String,
    val store: StageStore, stages: Seq[Stage],
    sources: Map[String, DataFrame]) {

  private val declared = stages.map(s => s.name -> s).toMap
  private val nodes = scala.collection.mutable.HashMap.empty[String, DataFrame]

  def apply(name: String): DataFrame =
    nodes.getOrElseUpdate(name, sources.getOrElse(name, {
      val s = declared(name)
      store.stage(name)(s.build(new Stage.Inputs(this, s)))
    }))
}
