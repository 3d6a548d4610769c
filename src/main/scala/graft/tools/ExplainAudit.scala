package graft.tools

import graft.SparkEntry

/** Diagnostic main: print the formatted physical plan of named queries
  * (the per-round plan-audit tool). Usage:
  *   runMain graft.tools.ExplainAudit <sfDir> <query> [query...]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: ExplainAudit <sfDir> <query> [query...]\n" +
          s"known queries: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    args.drop(1).filterNot(SparkEntry.queries.contains).foreach { q =>
      System.err.println(s"unknown query: $q")
      sys.exit(2)
    }
    val sfDir = args(0)
    val spark = ToolSession("graft-explain-audit", 4)
    args.drop(1).foreach { q =>
      println(s"========== $q ==========")
      SparkEntry.queries(q)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
