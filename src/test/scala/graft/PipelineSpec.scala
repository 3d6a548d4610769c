package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The declared stage graph and its session lookups. */
class PipelineSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** The stages the benchmark times (perfbench's `Catalog.StageOrder`). It
    * finds them by reflection and silently skips a stage that is missing
    * or not memoized, so a rename would drop its `stage.*.build_s` key. */
  private val StageOrder = Seq(
    "spanRows", "docs", "textual", "mentions", "linked", "aliasPairs",
    "coocEdges", "clusterAssignment", "registryNodes", "vertices",
    "dialogue", "voiceProfiles", "dialogueWordCounts", "events",
    "timeline", "classified", "shingles", "wbCategories", "wbRules")

  test("every benchmark stage is a memoized Pipeline (SparkSession, String) => DataFrame") {
    val methods = Pipeline.getClass.getMethods.filter { m =>
      m.getParameterTypes.toSeq == Seq(classOf[SparkSession], classOf[String]) &&
        m.getReturnType == classOf[DataFrame]
    }.map(m => m.getName -> m).toMap
    StageOrder.foreach { name =>
      assert(methods.contains(name), s"$name is not a Pipeline stage method")
      def call() = methods(name).invoke(Pipeline, spark, sf)
      assert(call() eq call(), s"a second $name call built a new DataFrame")
    }
  }

  test("Pipeline.Stages: unique names, each declared after its upstream") {
    val names = Pipeline.Stages.map(_.name)
    assert(names.distinct == names)
    Pipeline.Stages.zipWithIndex.foreach { case (s, i) =>
      s.deps.foreach(d => assert(names.take(i).contains(d),
        s"${s.name} is declared before its upstream $d"))
    }
  }
}
