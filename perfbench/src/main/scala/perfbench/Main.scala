package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.extract.{Linker, Mentions, Triples}

/** Command line, as passed by run.py. */
final case class Conf(mode: String, workload: String, seed: Long,
    seconds: Int, trace: Boolean, cores: Int, data: String, out: String,
    staged: String, pins: String, commit: String) {
  def extractSf: String = s"$data/extract"
  def queriesSf: String = s"$data/queries"
  def corpus: String = s"$data/corpus"
}

object Conf {
  def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(kv("mode"), kv.getOrElse("workload", ""), kv.getOrElse("seed", "0").toLong,
      kv.getOrElse("seconds", "10").toInt, kv.getOrElse("trace", "0") == "1",
      kv("cores").toInt, kv("data"), kv.getOrElse("out", ""),
      kv.getOrElse("staged", ""), kv.getOrElse("pins", ""),
      kv.getOrElse("commit", "unknown"))
  }
}

/** Pinned outputs (rows, canonical hash) recorded at the seed commit. */
final case class Pins(extract: Canon.Digest, queries: Map[String, Canon.Digest])

object Pins {
  def load(path: String): Pins = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    def digest(n: com.fasterxml.jackson.databind.JsonNode) =
      Canon.Digest(n.get("rows").asLong, n.get("hash").asText)
    import scala.jdk.CollectionConverters._
    Pins(digest(root.get("extract")),
      root.get("queries").fields().asScala
        .map(e => e.getKey -> digest(e.getValue)).toMap)
  }
}

/** The Spark session of a run, with the recorder attached when tracing. */
final class Session(conf: Conf) {
  var spark: SparkSession = _
  val recorder = new Recorder
  val tracer = new Tracer(conf.trace, () => spark.sparkContext)

  def start(): Unit = {
    if (spark != null) spark.stop()
    spark = SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", conf.cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // one scan task per stored corpus file: the extract corpus is 64
      // small files, which the default split sizing packs into one task
      // per core and so one wave with no room to balance
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  /** Attach the recorder; called once set-up is over, so its stage ids
    * all belong to the final SparkContext. */
  def traceOn(): Unit =
    if (conf.trace) spark.sparkContext.addSparkListener(recorder)

  def untraced[A](body: => A): A =
    if (!conf.trace) body
    else {
      spark.sparkContext.removeSparkListener(recorder)
      try tracer.paused(body)
      finally spark.sparkContext.addSparkListener(recorder)
    }

  def settle(): Unit = Recorder.settle(spark.sparkContext)

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Metrics, check verdicts and notes a workload produced. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val record = mutable.LinkedHashMap.empty[String, Any]
  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
}

object Main {
  private def log(msg: String): Unit = println(s"[perfbench] $msg")

  private def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val conf = Conf.parse(args)
    val nproc = Runtime.getRuntime.availableProcessors
    require(conf.cores >= 1 && conf.cores <= nproc,
      s"refusing local[${conf.cores}] on a host with $nproc cores")
    conf.mode match {
      case "prepare" => prepare(conf)
      case "pin" => pin(conf)
      case "run" => run(conf)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  /** Store the extract corpus: the engine's textual passages over the
    * extract workload's generated tables. Content never depends on a
    * workload seed. */
  private def prepare(conf: Conf): Unit = {
    val s = new Session(conf)
    s.start()
    graft.Pipeline.textual(s.spark, conf.extractSf)
      .select("doc_id", "pos", "passage_id", "text")
      .write.mode("overwrite").parquet(conf.corpus)
    s.spark.stop()
  }

  /** Print the pins for the current engine (run at the seed commit). */
  private def pin(conf: Conf): Unit = {
    val s = new Session(conf)
    s.start()
    def entry(d: Canon.Digest) = Map("rows" -> d.rows, "hash" -> d.hash)
    val extract = Canon.digest(
      Triples.fromPassagesFused(s.spark, s.spark.read.parquet(conf.corpus)).toDF())
    val digests = Canon.digestAll(
      Catalog.Queries.map(q => q -> SparkEntry.queries(q)(s.spark, conf.queriesSf)))
    val queries = Catalog.Queries.map(q => q -> entry(digests(q)))
    println(Json.write(Map("extract" -> entry(extract),
      "queries" -> mutable.LinkedHashMap(queries: _*))))
    s.spark.stop()
  }

  private def run(conf: Conf): Unit = {
    val loadStart = RunContext.loadavg()
    val pins = Pins.load(conf.pins)
    val s = new Session(conf)
    val ops = new Ops
    val res = new Result
    new java.io.File(conf.out).mkdirs()
    val w: Workload = conf.workload match {
      case "extract" => new ExtractWorkload(conf, s, ops, pins, res)
      case "queries" => new QueriesWorkload(conf, s, ops, pins, res)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set up several times and report the median: the first set-up in a
    // JVM also pays class loading
    val setups = (1 to 3).map(_ => seconds { s.start(); w.setup() }._2)
    s.traceOn()
    if (conf.trace) w.traced() else w.measure()
    res.put("setup_s", Stats.median(setups), "s")
    if (!conf.trace) res.put("peak_rss_mb", RunContext.peakRssMb(), "MB")
    val loadEnd = RunContext.loadavg()
    val runId = s"${conf.workload}-seed${conf.seed}-trace${if (conf.trace) 1 else 0}"

    if (conf.trace) {
      s.settle()
      val spans = s.tracer.spans
      res.record("top_self_s") = spans.map(sp => sp.name -> s.tracer.selfSeconds(sp))
        .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).sum }
        .toSeq.sortBy(-_._2).take(20)
        .map { case (n, t) => mutable.LinkedHashMap("layer" -> n, "self_s" -> t) }
      java.nio.file.Files.write(java.nio.file.Paths.get(s"${conf.out}/spans.jsonl"),
        s.tracer.jsonLines(runId).mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    s.spark.stop()

    val metrics = if (conf.trace) res.metrics.filterNot(_._1 == "setup_s") else res.metrics
    metrics.foreach { case (n, (v, u)) => log(f"metric $n = $v%.6g $u") }
    val failedFrac = ops.failed.toDouble / math.max(1, ops.attempted)
    log(f"ops attempted=${ops.attempted} failed=${ops.failed} ops_failed_frac=$failedFrac%.4f")
    val record = mutable.LinkedHashMap[String, Any](
      "run" -> runId, "workload" -> conf.workload, "seed" -> conf.seed,
      "seconds" -> conf.seconds, "trace" -> conf.trace,
      "context" -> mutable.LinkedHashMap(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "cores" -> conf.cores, "loadavg_start" -> loadStart,
        "loadavg_end" -> loadEnd, "jvm_flags" -> RunContext.jvmFlags(),
        "spark_version" -> org.apache.spark.SPARK_VERSION,
        "commit" -> conf.commit),
      "setup_samples_s" -> setups,
      "attempted" -> ops.attempted, "failed" -> ops.failed,
      "ops_failed_frac" -> failedFrac, "failures" -> ops.failures,
      "metrics" -> metrics.map { case (n, (v, u)) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }) ++ res.record
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${conf.out}/record.json"),
      Json.write(record).getBytes("UTF-8"))
    println("RESULT " + Json.write(mutable.LinkedHashMap(
      "correct" -> (ops.failed == 0), "attempted" -> ops.attempted,
      "failed" -> ops.failed,
      "metrics" -> metrics.map { case (n, (v, u)) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) })))
  }

  // ---------------------------------------------------------------------

  trait Workload {
    def setup(): Unit
    /** End-to-end metrics, tracing off. */
    def measure(): Unit
    /** Per-layer metrics: the workload's own operation traced and
      * untraced (for the overhead), then the layer sweep over both the
      * extraction layers and the query layers. */
    def traced(): Unit
  }

  /** Tracing overhead from untraced and traced runs of one operation in
    * the order untraced, traced, traced, untraced, so that a steady
    * warm-up drift cancels. */
  private def traceOverhead(s: Session, res: Result)(op: => Double): Unit = {
    val u1 = s.untraced(op)
    val t = op + op
    val u = u1 + s.untraced(op)
    res.put("trace_overhead_frac", (t - u) / u, "ratio")
  }

  final class ExtractWorkload(conf: Conf, s: Session, ops: Ops, pins: Pins,
      res: Result) extends Workload {
    /** The seed-staged copy of the corpus (see run.py). */
    private val corpus = conf.staged

    /** A fresh session that has opened the staged corpus. */
    def setup(): Unit = s.spark.read.parquet(corpus).count()

    private def pass(label: String): Option[Double] =
      ops.timed(label) {
        s.tracer.span("extract.pass") {
          Triples.fromPassagesFused(s.spark, s.spark.read.parquet(corpus)).count()
        }
      }.flatMap { case (n, t) =>
        if (n == pins.extract.rows) Some(t)
        else {
          log(s"check $label triples=$n expected=${pins.extract.rows} FAIL")
          ops.fail(label)
          None
        }
      }

    private def checkHash(): Unit = {
      val d = Canon.digest(Triples.fromPassagesFused(
        s.spark, s.spark.read.parquet(corpus)).toDF())
      val ok = ops.check("extract:hash", d == pins.extract)
      log(s"check extract triples=${d.rows} hash=${d.hash} ${if (ok) "PASS" else "FAIL"}")
    }

    def measure(): Unit = {
      val cold = pass("cold")
      val warm = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      var n = 0
      while (n < 3 || ((System.nanoTime() - t0) / 1e9 < conf.seconds && n < 50)) {
        pass(s"warm$n").foreach(warm += _)
        n += 1
      }
      checkHash()
      cold.foreach(res.put("cold_s", _, "s"))
      if (warm.nonEmpty) {
        val med = Stats.median(warm.toSeq)
        res.put("warm_s", med, "s")
        res.put("rows_per_s", pins.extract.rows / med, "1/s")
        res.record("pass_s") = warm.toSeq
      }
    }

    def traced(): Unit = {
      s.untraced(pass("cold"))
      traceOverhead(s, res)(pass("overhead").getOrElse(Double.NaN))
      checkHash()
      Layers.extract(conf, s, ops, res, corpus)
      Layers.queries(conf, s, ops, res)
    }
  }

  final class QueriesWorkload(conf: Conf, s: Session, ops: Ops, pins: Pins,
      res: Result) extends Workload {

    /** A fresh session that has read every input table once. */
    def setup(): Unit =
      Seq("lineitem", "documents", "embeddings", "events")
        .foreach(t => s.spark.read.parquet(s"${conf.queriesSf}/$t.parquet").count())

    /** Queries whose output failed its check: their times are dropped. */
    private val bad = mutable.Set.empty[String]

    private def check(): Unit = {
      def output(q: String) = SparkEntry.queries(q)(s.spark, conf.queriesSf)
      // all outputs in one job; if any query fails, check each on its own
      // so that only the failing one is charged
      val digests: Map[String, scala.util.Try[Canon.Digest]] =
        scala.util.Try(Canon.digestAll(Catalog.Queries.map(q => q -> output(q))))
          .map(_.map { case (q, d) => q -> scala.util.Success(d) })
          .getOrElse(Catalog.Queries.map(q => q -> scala.util.Try(Canon.digest(output(q)))).toMap)
      Catalog.Queries.foreach { q =>
        val d = digests(q)
        val ok = ops.check(s"check:$q", d.toOption == pins.queries.get(q))
        if (!ok) bad += q
        log(s"check $q ${d.map(x => s"rows=${x.rows} hash=${x.hash}").getOrElse(d.toString)} " +
          (if (ok) "PASS" else "FAIL"))
      }
    }

    def measure(): Unit = {
      val cold = Layers.queryPass(conf, s, ops, 0, "cold")
      check()
      val warm = mutable.ArrayBuffer.empty[Double]
      val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
      val t0 = System.nanoTime()
      var p = 1
      while (p <= 2 || ((System.nanoTime() - t0) / 1e9 < conf.seconds && p <= 30)) {
        val times = Layers.queryPass(conf, s, ops, p, s"warm$p").filter { case (q, _) => !bad(q) }
        warm += times.values.map(_._1).sum
        times.foreach { case (q, (t, _)) => perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += t }
        p += 1
      }
      res.put("cold_s", cold.filter { case (q, _) => !bad(q) }.map(_._2._1).sum, "s")
      val med = Stats.median(warm.toSeq)
      res.put("warm_s", med, "s")
      val rows = Catalog.Queries.filterNot(bad).flatMap(pins.queries.get).map(_.rows).sum
      res.put("rows_per_s", rows / med, "1/s")
      res.record("warm_pass_s") = warm.toSeq
      res.record("cold_query_s") = cold.map { case (q, (t, _)) => q -> t }
      res.record("warm_query_median_s") = perQuery.map { case (q, ts) => q -> Stats.median(ts.toSeq) }
    }

    def traced(): Unit = {
      Layers.stageMetrics(res, Catalog.buildStages(s.spark, conf.queriesSf, s.tracer))
      check()
      val traced = mutable.ArrayBuffer.empty[Map[String, (Double, Int)]]
      var pass = 0
      traceOverhead(s, res) {
        pass += 1
        val times = Layers.queryPass(conf, s, ops, pass, s"overhead$pass")
        if (s.tracer.enabledNow) traced += times
        times.values.map(_._1).sum
      }
      Layers.queryMetrics(conf, s, res, traced.toSeq)
      Layers.extract(conf, s, ops, res, conf.staged)
    }
  }

  /** The layer sweep shared by every traced run. */
  object Layers {

    /** One pass over the queries in a seed-shuffled order, each query's
      * every column computed into a noop sink. Returns, per query that
      * ran, (seconds, span id or -1). */
    def queryPass(conf: Conf, s: Session, ops: Ops, pass: Int,
        label: String): Map[String, (Double, Int)] = {
      val order = new scala.util.Random(conf.seed * 1000003L + pass)
        .shuffle(Catalog.Queries)
      order.flatMap { q =>
        ops.timed(s"$label:$q") {
          s.tracer.span(s"query.$q") {
            s.noop(SparkEntry.queries(q)(s.spark, conf.queriesSf))
          }
        }.map { case (_, t) => q -> (t, if (conf.trace) s.tracer.last.id else -1) }
      }.toMap
    }

    def stageMetrics(res: Result, report: Catalog.StageReport): Unit = {
      report.built.foreach(b => res.put(s"stage.${b.name}.build_s", b.seconds, "s"))
      res.record("stages_missing") = report.missing
      res.record("stages_appended") = report.appended
      if (report.missing.nonEmpty) log(s"stages no longer in Pipeline: ${report.missing.mkString(", ")}")
      if (report.appended.nonEmpty) log(s"stages appended to the list: ${report.appended.mkString(", ")}")
    }

    /** Per-query, per-family and loop-wide metrics of traced passes: a
      * query's wall time is its median over the passes, its task figures
      * their mean. */
    def queryMetrics(conf: Conf, s: Session, res: Result,
        passes: Seq[Map[String, (Double, Int)]]): Unit = {
      s.settle()
      val aggs = Catalog.Queries.flatMap { q =>
        val runs = passes.flatMap(_.get(q))
        if (runs.isEmpty) None
        else {
          val sum = runs.map(r => s.recorder.group(r._2.toString)).foldLeft(new TaskAgg)(_.add(_))
          Some(q -> (Stats.median(runs.map(_._1)), sum.scaled(1.0 / runs.size)))
        }
      }.toMap
      Catalog.Queries.foreach(q => aggs.get(q).foreach { case (t, _) =>
        res.put(s"query.$q.s", t, "s")
      })
      Catalog.Families.map(_._1).foreach { f =>
        val members = aggs.filter { case (q, _) => Catalog.family(q) == f }
        if (members.nonEmpty) {
          res.put(s"$f.queries.task_cpu_s", members.values.map(_._2.cpuS).sum, "s")
          res.put(s"$f.queries.driver_s", members.values.map { case (t, a) =>
            Stats.driverSeconds(t, a.runS, conf.cores) }.sum, "s")
        }
      }
      val all = aggs.values.map(_._2).foldLeft(new TaskAgg)(_.add(_))
      res.put("queries.jobs", all.jobs.toDouble, "count")
      res.put("queries.gc_s", all.gcS, "s")
      res.put("queries.shuffle_write_bytes", all.shuffleWrite.toDouble, "bytes")
      res.put("queries.spill_bytes", all.spill.toDouble, "bytes")
      res.record("query_layers") = aggs.toSeq.sortBy(-_._2._1).map { case (q, (t, a)) =>
        mutable.LinkedHashMap("query" -> q, "family" -> Catalog.family(q),
          "wall_s" -> t, "task_run_s" -> a.runS, "task_cpu_s" -> a.cpuS,
          "gc_s" -> a.gcS, "driver_s" -> Stats.driverSeconds(t, a.runS, conf.cores),
          "jobs" -> a.jobs, "shuffle_write_bytes" -> a.shuffleWrite,
          "shuffle_read_bytes" -> a.shuffleRead,
          "spill_bytes" -> a.spill,
          "task_s_by_module" -> passes.flatMap(_.get(q))
            .flatMap(r => s.recorder.stages(r._2.toString))
            .groupBy(_.module).map { case (m, xs) => m -> xs.map(_.taskS).sum / passes.size })
      }
    }

    /** Stage builds, then two traced query passes for the per-query
      * figures. */
    def queries(conf: Conf, s: Session, ops: Ops, res: Result): Unit = {
      stageMetrics(res, Catalog.buildStages(s.spark, conf.queriesSf, s.tracer))
      queryMetrics(conf, s, res, (1 to 2).map(p => queryPass(conf, s, ops, p, s"layers$p")))
    }

    /** Scan, mention detection, linking over the materialized mentions,
      * and the fused extraction, each as its own traced layer call. */
    def extract(conf: Conf, s: Session, ops: Ops, res: Result,
        corpus: String): Unit = {
      val spark = s.spark
      val passages = spark.read.parquet(corpus)
      def layer[A](name: String)(body: => A): Option[A] =
        ops.timed(name)(s.tracer.span(name)(body)).map { case (a, t) =>
          res.put(s"${name}_s", t, "s")
          a
        }
      layer("ingest.scan")(s.noop(passages))
      val mentions = layer("extract.mentions") {
        Mentions.fromPassages(spark, passages).toDF().localCheckpoint(true)
      }
      val linked = mentions.flatMap(m =>
        layer("extract.link")(Linker.link(spark, m).localCheckpoint(true)))
      layer("extract.fused")(Triples.fromPassagesFused(spark, passages).count())
        .foreach { _ =>
          val span = s.tracer.last
          s.settle()
          val a = s.recorder.group(span.id.toString)
          res.put("extract.fused.task_cpu_s", a.cpuS, "s")
          res.put("extract.fused.gc_s", a.gcS, "s")
          res.put("extract.fused.driver_s",
            Stats.driverSeconds(span.seconds, a.runS, conf.cores), "s")
          res.put("extract.fused.task_skew", Stats.skew(a.taskS.toSeq), "ratio")
          if (a.taskS.nonEmpty)
            res.record("extract_fused_task_s") = mutable.LinkedHashMap(
              "tasks" -> a.taskS.size, "median" -> Stats.median(a.taskS.toSeq),
              "tail" -> Stats.tail(a.taskS.toSeq))
        }
      for (m <- mentions; l <- linked) {
        val hits = l.filter(col("canonical_id").isNotNull).count()
        res.put("extract.link_ratio", hits.toDouble / math.max(1L, m.count()), "ratio")
      }
    }
  }
}
