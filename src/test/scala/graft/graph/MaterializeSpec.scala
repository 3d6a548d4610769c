package graft.graph

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._

class MaterializeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("edge MERGE semantics: counts add, passage_ids set-union (writer.py:200-216)") {
    import spark.implicits._
    val existing = Seq(("a", "b", "MET", 2L, Seq("p1", "p2"), "p1"))
      .toDF("src", "dst", "type", "mention_count", "passage_ids", "first_passage")
    val delta = Seq(
      ("a", "b", "MET", 1L, Seq("p2", "p3"), "p2"),
      ("a", "c", "KILLED", 1L, Seq("p4"), "p4"))
      .toDF("src", "dst", "type", "mention_count", "passage_ids", "first_passage")
    val merged = Materialize.mergeEdges(existing, delta)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getSeq[String](4), r.getString(5)))).toMap
    assert(merged(("a", "b", "MET")) == ((3L, Seq("p1", "p2", "p3"), "p1")))
    assert(merged(("a", "c", "KILLED")) == ((1L, Seq("p4"), "p4")))
  }

  test("textualReplicated: doc AND passage ids unique across replicas (round-5 finding #1)") {
    // passage_id embeds the ORIGINAL doc_id (p_<doc>_s<pos>, built before
    // replication) — suffixing doc_id alone left rep-fold duplicate
    // passage_ids, so the rep-N materialization violated its own
    // passage_id_unique invariant and passage-keyed group-bys collapsed
    // across replicas. Both ids must now be replica-unique, and each
    // replica must reproduce the base corpus row-for-row.
    val base = graft.Pipeline.textual(spark, sf)
    val rep = graft.Pipeline.textualReplicated(spark, sf, 3)
    val n = base.count()
    assert(rep.count() == 3 * n)
    assert(rep.select("doc_id", "pos").distinct().count() == 3 * n)
    assert(rep.select("passage_id").distinct().count() ==
      3 * base.select("passage_id").distinct().count())
    // replica 0 equals the base corpus modulo the "#0" suffix
    val rep0 = rep.filter(col("doc_id").endsWith("#0"))
      .withColumn("doc_id", regexp_replace(col("doc_id"), "#0$", ""))
      .withColumn("passage_id", regexp_replace(col("passage_id"), "#0$", ""))
      .select(base.columns.map(col).toIndexedSeq: _*)
    assert(rep0.exceptAll(base).isEmpty && base.exceptAll(rep0).isEmpty)
  }

  test("pipeline resume: completed stages are loaded, restart is identical") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val edges1 = Materialize.runAll(spark, sf, wh)
    val snapshot = edges1.orderBy("src", "dst", "type").collect().toSeq
    assert(snapshot.nonEmpty)

    // capture stage output mtime, then rerun — stages must be skipped
    val passagesFile = new java.io.File(s"$wh/passages/_SUCCESS")
    val mtime = passagesFile.lastModified()
    val edges2 = Materialize.runAll(spark, sf, wh)
    val snapshot2 = edges2.orderBy("src", "dst", "type").collect().toSeq
    assert(snapshot2 == snapshot)
    assert(passagesFile.lastModified() == mtime, "stage was recomputed on resume")

    // simulate a mid-run kill: later stage output lost; earlier stages reused
    val edgesDir = new java.io.File(s"$wh/edges")
    edgesDir.listFiles().foreach(_.delete())
    edgesDir.delete()
    val edges3 = Materialize.runAll(spark, sf, wh)
    assert(edges3.orderBy("src", "dst", "type").collect().toSeq == snapshot)
    assert(passagesFile.lastModified() == mtime, "early stage recomputed after kill")
  }

  /** One completed runAll warehouse shared by the specs that only read it. */
  private lazy val completedRun: String = {
    val wh = Files.createTempDirectory("graft_wh2").toString
    Materialize.runAll(spark, sf, wh)
    wh
  }

  test("checkpoint table carries per-partition lineage and CC supersteps") {
    val wh = completedRun
    val ck = new Checkpoints(spark, wh).checkpointTable()
    val stages = ck.select("stage").distinct().collect().map(_.getString(0)).toSet
    assert(Set("passages", "mentions", "linked", "triples", "clusters",
      "vertices", "edges", "cc_superstep").subsetOf(stages))
    // lineage rows_out sums to the stage's row count
    val passRows = spark.read.parquet(s"$wh/passages").count()
    val ckSum = ck.filter(col("stage") === "passages")
      .agg(sum("rows_out")).collect()(0).getLong(0)
    assert(ckSum == passRows)
    // CC converged: last superstep has changed = 0
    val last = ck.filter(col("stage") === "cc_superstep")
      .orderBy(col("partition_id").desc).limit(1)
      .select("rows_out").collect()(0).getLong(0)
    assert(last == 0L)
    // lineage partition ids are REAL write-task ids: one per part file
    val partFiles = new java.io.File(s"$wh/passages").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val ckParts = ck.filter(col("stage") === "passages")
      .select("partition_id").distinct().count()
    assert(ckParts == partFiles.toLong,
      s"lineage partitions $ckParts != part files $partFiles")
  }

  test("every stage runAll shares with the query path == its Pipeline stage") {
    import graft.Pipeline
    // (warehouse stage, query-path stage); each must hold the same rows as
    // a multiset over every column
    val shared = Seq(
      "passages" -> Pipeline.textual(spark, sf),
      "mentions" -> Pipeline.mentions(spark, sf),
      "linked" -> Pipeline.linked(spark, sf),
      "alias_pairs" -> Pipeline.aliasPairs(spark, sf),
      "cooc_edges" -> Pipeline.coocEdges(spark, sf),
      "clusters" -> Pipeline.clusterAssignment(spark, sf),
      "vertices" -> Pipeline.vertices(spark, sf),
      "dialogue" -> Pipeline.dialogue(spark, sf),
      "voice_profiles" -> Pipeline.voiceProfiles(spark, sf),
      "events" -> Pipeline.events(spark, sf),
      "classified" -> Pipeline.classified(spark, sf),
      "triples" -> Pipeline.triples(spark, sf))
    shared.foreach { case (stage, query) =>
      val stored = spark.read.parquet(s"$completedRun/$stage")
        .drop("__graft_pid")
      assert(stored.columns.sorted.toSeq == query.columns.sorted.toSeq, stage)
      val rows = stored.select(query.columns.map(col).toIndexedSeq: _*)
      // the synthetic corpus plants no containment merges among
      // co-occurring keys (a CanonicalizeSpec oracle assumption), so
      // cooc_edges is empty on both paths
      assert(rows.count() > 0 || stage == "cooc_edges", s"$stage is empty")
      assert(rows.exceptAll(query).isEmpty,
        s"stored $stage rows missing from the query path")
      assert(query.exceptAll(rows).isEmpty,
        s"query-path $stage rows missing from the stored stage")
    }
  }

  test("a warehouse written in the previous layout is recomputed, not loaded") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_wh5").toString
    // the previous layout's fingerprint: input only, no layout version
    val li = new java.io.File(s"$sf/lineitem.parquet")
    val previous = new Checkpoints(spark, wh, s"$sf#${li.length}#${li.lastModified}")
    val shared = Seq("passages", "mentions", "linked", "alias_pairs",
      "cooc_edges", "clusters", "vertices", "dialogue", "voice_profiles",
      "events", "classified")
    shared.foreach(n => previous.stage(n) { Seq(1).toDF("x") })
    def mtime(n: String) = new java.io.File(s"$wh/$n/_SUCCESS").lastModified()
    val before = shared.map(n => n -> mtime(n)).toMap
    Materialize.runAll(spark, sf, wh)
    shared.foreach(n =>
      assert(mtime(n) != before(n), s"$n was loaded from the previous layout"))
    assert(spark.read.parquet(s"$wh/mentions").columns.contains("mkey"))
    assert(spark.read.parquet(s"$wh/linked").columns.contains("vid"))
  }

  test("mid-CC kill: completed supersteps are reused, clusters byte-identical") {
    val wh = Files.createTempDirectory("graft_whcc").toString
    Materialize.runAll(spark, sf, wh)
    val baseline = spark.read.parquet(s"$wh/clusters")
      .orderBy("node", "cluster").collect().toSeq
    assert(baseline.nonEmpty)

    // simulate a crash between superstep 1 and the rest: the final
    // clusters output and supersteps > 1 are lost, cc_edges/cc_sym/
    // cc_labels_{0,1} survive
    def rmStage(name: String): Unit = {
      val d = new java.io.File(s"$wh/$name")
      if (d.isDirectory) { d.listFiles().foreach(_.delete()); d.delete() }
    }
    rmStage("clusters")
    new java.io.File(wh).listFiles()
      .filter(f => f.getName.startsWith("cc_labels_") &&
        f.getName.stripPrefix("cc_labels_").toInt > 1)
      .foreach(f => rmStage(f.getName))

    val survivor = new java.io.File(s"$wh/cc_labels_1/_SUCCESS")
    assert(survivor.exists())
    val mtime = survivor.lastModified()

    val resumed = Materialize.runAll(spark, sf, wh)
    assert(resumed.count() > 0)
    val clusters2 = spark.read.parquet(s"$wh/clusters")
      .orderBy("node", "cluster").collect().toSeq
    assert(clusters2 == baseline, "resumed clusters differ from baseline")
    assert(survivor.lastModified() == mtime,
      "completed superstep was recomputed on resume")
  }

  test("fingerprint mismatch: stages recompute instead of loading stale output") {
    val wh = Files.createTempDirectory("graft_wh3").toString
    import spark.implicits._
    val ck1 = new Checkpoints(spark, wh, "input_v1")
    ck1.stage("s") { Seq(1, 2, 3).toDF("x") }
    val f = new java.io.File(s"$wh/s/_SUCCESS")
    val mtime = f.lastModified()
    // same fingerprint -> loaded, not recomputed
    val ck1b = new Checkpoints(spark, wh, "input_v1")
    assert(ck1b.stage("s") { Seq(9).toDF("x") }.count() == 3)
    assert(f.lastModified() == mtime)
    // different fingerprint -> recomputed
    val ck2 = new Checkpoints(spark, wh, "input_v2")
    assert(ck2.stage("s") { Seq(9).toDF("x") }.count() == 1)
    // A -> B -> A: v1's old completion rows survive in the append-only
    // table, but the stage OUTPUT now holds v2's data — returning to v1
    // must recompute (latest-completion fingerprint check, round-5
    // review), not load v2's parquet as v1's result
    val ck1c = new Checkpoints(spark, wh, "input_v1")
    assert(ck1c.stage("s") { Seq(4, 5, 6).toDF("x") }.count() == 3)
    assert(spark.read.parquet(s"$wh/s").drop("__graft_pid")
      .as[Int].collect().sorted.toSeq == Seq(4, 5, 6))
  }

  test("empty stage output is still checkpointed complete (round-5 review)") {
    val wh = Files.createTempDirectory("graft_wh4").toString
    import spark.implicits._
    val ck = new Checkpoints(spark, wh, "fp")
    assert(ck.stage("empty") { Seq.empty[Int].toDF("x") }.count() == 0)
    val f = new java.io.File(s"$wh/empty/_SUCCESS")
    val mtime = f.lastModified()
    // resume must LOAD the empty stage, not recompute it every run
    val ck2 = new Checkpoints(spark, wh, "fp")
    assert(ck2.stage("empty") { Seq(1).toDF("x") }.count() == 0)
    assert(f.lastModified() == mtime, "empty stage was recomputed on resume")
  }

  test("event links match canonical names, not slugged ids (writer.py:771-772)") {
    import spark.implicits._
    // a two-word agent can never be contained in a slugged id
    // ("new_bilbo_baggins"); the reference's Cypher matches canonical_name
    val events = Seq(
      ("d1", 1, "p1", "ev_a", "Bilbo Baggins", "found", "the Ring", null
        .asInstanceOf[String], null.asInstanceOf[Integer], 0.6),
      ("d1", 2, "p2", "ev_b", "Gandalf", "entered", "Moria Gate", null
        .asInstanceOf[String], null.asInstanceOf[Integer], 0.6))
      .toDF("doc_id", "pos", "passage_id", "event_id", "agent", "action",
        "patient", "era", "year", "confidence")
    val vertices = Seq(
      ("new_bilbo_baggins", "character", "Bilbo Baggins"),
      ("gandalf", "character", "Gandalf"),
      ("new_moria_gate", "place", "Moria Gate"))
      .toDF("id", "label", "canonical_name")
    val links = Materialize.eventEntityLinks(events, vertices)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(3)))
      .toSet
    assert(links.contains(("new_bilbo_baggins", "ev_a", "agent")))
    assert(links.contains(("gandalf", "ev_b", "agent")))
    assert(links.contains(("new_moria_gate", "ev_b", "patient")))
  }

  test("character voice: one profile row per resolved id (alias collapse)") {
    import spark.implicits._
    // "Gandalf" and his registered alias resolve to the same canonical id;
    // the join must not duplicate the vertex row (round-5 review)
    val alias = graft.Lexicon.CharAliases(graft.Lexicon.Chars.indexOf("Gandalf"))
    val vertices = Seq(("gandalf", "character", 5L, "Gandalf"))
      .toDF("id", "label", "mention_count", "canonical_name")
    val profiles = Seq(
      ("Gandalf", 10L, 2L, 8.0),
      (alias, 4L, 1L, 6.0))
      .toDF("speaker", "total_lines", "questions", "avg_words")
    val out = Materialize.characterVoice(spark, vertices, profiles)
    assert(out.count() == 1, "alias profile duplicated the vertex row")
    // deterministic pick: min speaker ("Gandalf" < alias or vice versa —
    // fixed by byte order, stable across runs)
    val picked = Seq(("Gandalf", 10L), (alias, 4L)).minBy(_._1)._2
    assert(out.select("total_lines").collect()(0).getLong(0) == picked)
  }
}
