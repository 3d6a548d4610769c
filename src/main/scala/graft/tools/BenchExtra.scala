package graft.tools

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
  * Usage: SPARK_GRAFT_SF_DIR=... [SPARK_GRAFT_CPUS=n] \
  *   sbt "runMain graft.tools.BenchExtra [query ...]"
  * SPARK_GRAFT_CPUS defaults to the host's cores.
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
    val passes = sys.env.getOrElse("SPARK_GRAFT_EXTRA_PASSES", "2").toInt
    val spark = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(ToolSession("graft-bench-extra"))(
        c => ToolSession("graft-bench-extra", c.toInt))

    // first-touch builds of every declared stage, in dependency order
    val stageJson = Pipeline.Stages.map(_.name).map { name =>
      spark.sparkContext.setJobDescription(s"stage: $name")
      val t = timed(Pipeline.stage(spark, sfDir, name))
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
