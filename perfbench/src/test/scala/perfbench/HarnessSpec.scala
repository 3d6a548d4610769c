package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def digest(rows: Seq[(String, java.lang.Double)],
      cols: Seq[String] = Seq("k", "v")): Canon.Digest = {
    import spark.implicits._
    Canon.digest(rows.toDF("k", "v").select(cols.map(org.apache.spark.sql.functions.col): _*))
  }

  test("canonical hash ignores row order, column order and partitioning") {
    val rows = Seq(("a", 1.0: java.lang.Double), ("b", 2.5: java.lang.Double),
      ("a", 1.0: java.lang.Double))
    val base = digest(rows)
    assert(digest(rows.reverse) == base)
    assert(digest(rows, Seq("v", "k")) == base)
    import spark.implicits._
    assert(Canon.digest(rows.toDF("k", "v").repartition(3)) == base)
    assert(base.rows == 3)
    // a multiset: dropping a duplicate row changes the hash
    assert(digest(rows.distinct) != base)
  }

  test("canonical hash rounds doubles to 9 places") {
    val sum = 0.1 + 0.2
    assert(sum != 0.3)
    assert(digest(Seq(("x", sum))) == digest(Seq(("x", 0.3))))
    assert(digest(Seq(("x", 0.3000000001))) == digest(Seq(("x", 0.3))))
    assert(digest(Seq(("x", 0.300000001))) != digest(Seq(("x", 0.3))))
  }

  test("canonical hash keeps NULL and NaN apart and equal to themselves") {
    val nan = digest(Seq(("x", Double.NaN)))
    val nul = digest(Seq(("x", null)))
    assert(nan == digest(Seq(("x", Double.NaN))))
    assert(nul == digest(Seq(("x", null))))
    assert(nan != nul)
    assert(digest(Seq((null, 1.0: java.lang.Double))) != digest(Seq(("x", 1.0: java.lang.Double))))
    import spark.implicits._
    val arrays = Seq(Seq(1.0, Double.NaN), Seq(0.1 + 0.2)).toDF("a")
    val same = Seq(Seq(0.3), Seq(1.0, Double.NaN)).toDF("a")
    assert(Canon.digest(arrays) == Canon.digest(same))
  }

  test("tail percentile is the highest with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs).contains((90.0, 90.0)))
    assert(Stats.tail((1 to 1000).map(_.toDouble)).contains((99.0, 990.0)))
    assert(Stats.tail((1 to 20).map(_.toDouble)).contains((50.0, 10.0)))
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)).isEmpty)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("driver time is wall minus task time spread over the cores") {
    assert(Stats.driverSeconds(10.0, 16.0, 4) == 6.0)
    assert(Stats.driverSeconds(2.0, 0.0, 4) == 2.0)
    // tasks that kept every core busy leave no driver time
    assert(Stats.driverSeconds(3.0, 12.0, 4) == 0.0)
    assert(Stats.skew(Seq(1.0, 1.0, 3.0)) == 3.0)
  }

  test("a throwing operation counts as failed and yields no timing") {
    val ops = new Ops
    val ok = ops.timed("ok")(42)
    val bad = ops.timed("bad")(throw new IllegalStateException("boom"))
    assert(ok.map(_._1).contains(42))
    assert(ok.exists(_._2 >= 0))
    assert(bad.isEmpty)
    assert(ops.attempted == 2 && ops.failed == 1)
    assert(ops.failures == Seq("bad"))
    assert(!ops.check("check", ok = false))
    assert(ops.attempted == 3 && ops.failed == 2)
  }

  test("stage call sites map to the innermost engine module") {
    val details =
      """org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:1)
        |graft.cc.ConnectedComponents$.run(ConnectedComponents.scala:97)
        |graft.corpus.CrossBook$.resolveAll(CrossBook.scala:88)""".stripMargin
    assert(Recorder.module(details) == "cc")
    assert(Recorder.module("graft.Pipeline$.cached(Pipeline.scala:54)") == "pipeline")
    assert(Recorder.module("perfbench.Main$.run(Main.scala:1)") == "output")
  }

  test("self time is a span's duration minus its children, and jobs land in the innermost span") {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val tracer = new Tracer(true, () => spark.sparkContext)
    try {
      tracer.span("outer") {
        Thread.sleep(50)
        tracer.span("inner")(spark.range(1000).selectExpr("sum(id)").collect())
      }
    } finally {
      Recorder.settle(spark.sparkContext)
      spark.sparkContext.removeSparkListener(rec)
    }
    val Seq(inner, outer) = tracer.spans
    assert(inner.parent == outer.id)
    assert(math.abs(tracer.selfSeconds(outer) - (outer.seconds - inner.seconds)) < 1e-9)
    assert(tracer.selfSeconds(outer) >= 0.05)
    assert(rec.group(inner.id.toString).jobs >= 1)
    assert(rec.group(outer.id.toString).jobs == 0)
    // spans off: the body runs and nothing is recorded
    assert(tracer.paused(tracer.span("x")(7)) == 7)
    assert(tracer.spans.size == 2)
  }
}
