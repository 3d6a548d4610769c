package graft.tools

import org.apache.spark.sql.SparkSession
import graft.{Pipeline, SparkEntry}

/** Supplementary measurement main (guide §1.4) — NOT part of the frozen
  * driver contract (`graft.Bench` is; this tool exists so optimization
  * evidence can be collected without touching it).
  *
  * Differences from Bench's query loop:
  *  - each query is materialized through the built-in `noop` sink, which
  *    computes EVERY column of every row (Bench uses .count(), which lets
  *    the optimizer prune columns) — this times the computation, not the
  *    sink, and prevents a column-pruning artifact from flattering a query;
  *  - jobs are labeled via setJobDescription for UI-based stage attribution;
  *  - per-query passes and the per-stage first-touch builds are both
  *    emitted, with all passes retained (not just the min).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.tools.BenchExtra [query ...]"
  * With no args, all declared queries run. Output: one JSON line
  * {"queries_noop":{name:[passes...]},"stage_build_sec":{...},"sf":...}.
  */
object BenchExtra {

  private def timed[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_EXTRA_PASSES", "2").toInt
    val spark = ToolSession("graft-bench-extra", cpus)

    // first-touch stage builds, in dependency order (superset of Bench's
    // frozen list: includes the stages added by the optimization rounds)
    val stages = Seq[(String, (SparkSession, String) => Any)](
      "spanRows" -> ((s, d) => Pipeline.spanRows(s, d)),
      "docs" -> ((s, d) => Pipeline.docs(s, d)),
      "textual" -> ((s, d) => Pipeline.textual(s, d)),
      "mentions" -> ((s, d) => Pipeline.mentions(s, d)),
      "linked" -> ((s, d) => Pipeline.linked(s, d)),
      "alias_pairs" -> ((s, d) => Pipeline.aliasPairs(s, d)),
      "clusters" -> ((s, d) => Pipeline.clusterAssignment(s, d)),
      "wb_categories" -> ((s, d) => Pipeline.wbCategories(s, d)),
      "wb_rules" -> ((s, d) => Pipeline.wbRules(s, d)),
      "dialogue" -> ((s, d) => Pipeline.dialogue(s, d)),
      "events" -> ((s, d) => Pipeline.events(s, d)),
      "timeline" -> ((s, d) => Pipeline.timeline(s, d)),
      "classified" -> ((s, d) => Pipeline.classified(s, d)),
      "cooc_edges" -> ((s, d) => Pipeline.coocEdges(s, d)),
      "vertices" -> ((s, d) => Pipeline.vertices(s, d)),
      "shingles" -> ((s, d) => Pipeline.shingles(s, d)),
      "voice_profiles" -> ((s, d) => Pipeline.voiceProfiles(s, d)),
      "dialogue_word_counts" -> ((s, d) => Pipeline.dialogueWordCounts(s, d)),
      "registry_nodes" -> ((s, d) => Pipeline.registryNodes(s, d)))
    val stageJson = stages.map { case (name, f) =>
      spark.sparkContext.setJobDescription(s"stage: $name")
      val t = timed(f(spark, sfDir))
      "\"" + name + f"\":$t%.3f"
    }.mkString("{", ",", "}")

    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val bad = names.filterNot(SparkEntry.queries.contains)
    require(bad.isEmpty, s"unknown queries: ${bad.mkString(", ")}")

    // pass-major order (pass 1 over all queries, then pass 2) — same
    // load-spike isolation rationale as Bench's query loop
    val results = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[Double]]()
    (1 to passes).foreach { p =>
      names.foreach { name =>
        spark.sparkContext.setJobDescription(s"$name pass $p (noop)")
        val t = timed {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        }
        results.getOrElseUpdate(name,
          scala.collection.mutable.ArrayBuffer.empty) += t
      }
    }
    val qJson = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")

    println(s"""{"queries_noop":$qJson,"stage_build_sec":$stageJson,"sf":"$sfDir","passes":$passes}""")
    spark.stop()
  }
}
