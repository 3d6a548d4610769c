package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task metrics summed over the Spark jobs one span launched itself. */
final class TaskAgg {
  var jobs = 0
  var runS, cpuS, gcS = 0.0
  var shuffleWrite, shuffleRead, spill = 0L
  val taskS = mutable.ArrayBuffer.empty[Double]

  /** Every figure times `f` (a mean over passes); counts round. */
  def scaled(f: Double): TaskAgg = {
    val a = new TaskAgg
    a.jobs = math.round(jobs * f).toInt
    a.runS = runS * f; a.cpuS = cpuS * f; a.gcS = gcS * f
    a.shuffleWrite = math.round(shuffleWrite * f)
    a.shuffleRead = math.round(shuffleRead * f)
    a.spill = math.round(spill * f)
    a.taskS ++= taskS
    a
  }

  def add(o: TaskAgg): TaskAgg = {
    jobs += o.jobs; runS += o.runS; cpuS += o.cpuS; gcS += o.gcS
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; taskS ++= o.taskS
    this
  }
}

/** One completed Spark stage, attributed to the engine module whose code
  * submitted it ("output" when the benchmark's own action did). */
final case class StageRec(group: String, name: String, module: String,
    taskS: Double)

/** SparkListener that sums task run time, CPU, GC, shuffle bytes, spill
  * and job counts per job group. Events are delivered on the listener bus
  * thread; readers call [[Recorder.settle]] first. */
final class Recorder extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageTaskS = mutable.Map.empty[Int, Double]
  private val aggs = mutable.Map.empty[String, TaskAgg]
  private val stageRecs = mutable.ArrayBuffer.empty[StageRec]

  private def agg(g: String) = aggs.getOrElseUpdate(g, new TaskAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.GroupKey)))
      .foreach { g =>
        agg(g).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = agg(g)
      val run = m.executorRunTime / 1e3
      a.runS += run
      a.cpuS += m.executorCpuTime / 1e9
      a.gcS += m.jvmGCTime / 1e3
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.taskS += run
      stageTaskS(e.stageId) = stageTaskS.getOrElse(e.stageId, 0.0) + run
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      stageGroup.get(si.stageId).foreach { g =>
        stageRecs += StageRec(g, si.name, Recorder.module(si.details),
          stageTaskS.getOrElse(si.stageId, 0.0))
      }
    }

  def group(g: String): TaskAgg = synchronized {
    aggs.get(g).map(new TaskAgg().add(_)).getOrElse(new TaskAgg)
  }

  def stages(g: String): Seq[StageRec] = synchronized {
    stageRecs.filter(_.group == g).toSeq
  }
}

object Recorder {
  val GroupKey = "spark.jobGroup.id"
  private val PkgFrame = """graft\.([a-z]\w*)\.""".r
  private val TopFrame = """graft\.([A-Z]\w*)[$.]""".r

  /** Engine module of the first engine frame in a stage's call site. */
  def module(details: String): String =
    details.linesIterator.map(_.trim).collectFirst {
      case l if PkgFrame.findFirstIn(l).isDefined =>
        PkgFrame.findFirstMatchIn(l).get.group(1)
      case l if TopFrame.findFirstIn(l).isDefined =>
        TopFrame.findFirstMatchIn(l).get.group(1).toLowerCase
    }.getOrElse("output")

  def settle(sc: SparkContext): Unit =
    org.apache.spark.perfbench.Bus.drain(sc)
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around each call into a layer, kept in memory and written at the
  * end of the run. While a span is innermost its id is the Spark job
  * group, so the recorder attributes every job to exactly one span. With
  * tracing off a span is only its body. */
final class Tracer(enabled: Boolean, sc: () => SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long)]
  private var nextId = 0
  private var on = enabled

  def spans: Seq[Span] = done.toSeq

  def enabledNow: Boolean = on

  /** The most recently completed span. */
  def last: Span = done.last

  /** Run `body` with span recording off (for the untraced comparison). */
  def paused[A](body: => A): A = {
    val was = on
    on = false
    try body finally on = was
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack ::= ((id, name, System.nanoTime()))
      sc().setJobGroup(id.toString, name)
      try body
      finally {
        val (_, _, t0) = stack.head
        stack = stack.tail
        done += Span(id, name, parent, t0, System.nanoTime())
        stack.headOption match {
          case Some((pid, pname, _)) => sc().setJobGroup(pid.toString, pname)
          case None => sc().clearJobGroup()
        }
      }
    }

  /** Duration minus the part of it covered by direct children. Children
    * of one span run one after another on the driver thread. */
  def selfSeconds(s: Span): Double =
    s.seconds - done.filter(_.parent == s.id).map(_.seconds).sum

  def jsonLines(runId: String): Seq[String] = done.map { s =>
    Json.write(Map("run" -> runId, "id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_s" -> selfSeconds(s)))
  }.toSeq
}
