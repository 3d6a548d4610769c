package graft.extract

import graft.{Lexicon, SparkSpec}
import graft.cc.ConnectedComponents
import graft.graph.StageStore
import org.apache.spark.sql.functions._

class CanonicalizeSpec extends SparkSpec {

  /** Every distinct mention key the synthetic corpus can produce — keep in
    * sync with DocsSynth templates; the cluster oracle CTEs assume the ONLY
    * fuzzy edges among these are typo(c)~c.
    */
  private def nodeUniverse: Seq[String] = {
    val names = Lexicon.Chars.map(_.toLowerCase) ++
      Lexicon.CharAliases.map(_.toLowerCase) ++
      Lexicon.Places.map(_.toLowerCase) ++
      Seq("third age", "second age", "fourth age", "who") ++
      Lexicon.Places.map(p => s"king of ${p.toLowerCase}")
    val typos = Lexicon.Chars.map(_.toLowerCase.dropRight(1))
    (names ++ typos).distinct
  }

  test("oracle assumption: 0.90 fuzzy edges are exactly typo(c)~c with len(c)>=6") {
    val keys = nodeUniverse
    for (a <- keys; b <- keys if a < b) {
      val r = Linker.indelRatio(a, b)
      val isTypoEdge = Lexicon.Chars.map(_.toLowerCase).exists(c =>
        c.length >= 6 && Set(a, b) == Set(c, c.dropRight(1)))
      if (r >= 0.90) assert(isTypoEdge, s"unexpected fuzzy edge $a ~ $b ($r)")
      if (isTypoEdge) assert(r >= 0.90, s"expected fuzzy edge missing $a ~ $b ($r)")
    }
  }

  test("oracle assumption (cross-book, 0.85): fuzzy edges are exactly typo(c)~c") {
    val keys = nodeUniverse
    for (a <- keys; b <- keys if a < b) {
      val r = Linker.indelRatio(a, b)
      val isTypoEdge = Lexicon.Chars.map(_.toLowerCase).exists(c =>
        Set(a, b) == Set(c, c.dropRight(1)))
      if (r >= 0.85) assert(isTypoEdge, s"unexpected 0.85 edge $a ~ $b ($r)")
      if (isTypoEdge) assert(r >= 0.85, s"missing 0.85 edge $a ~ $b ($r)")
    }
  }

  test("oracle assumption: no containment merges among co-occurring keys") {
    // containment matters only for pairs that can co-occur >= 3 times in a
    // passage (D3/D4); "king of X" contains X but they never co-occur as
    // mentions (the N5 dedup removes the inner place span on m=22 rows).
    // typos are excluded too: typo(c) ⊂ c is an intended same-cluster pair
    // (the 0.90/0.85 fuzzy edge merges them regardless).
    val typos = Lexicon.Chars.map(_.toLowerCase.dropRight(1)).toSet
    val keys = nodeUniverse
      .filterNot(_.startsWith("king of ")).filterNot(typos.contains)
    for (a <- keys; b <- keys if a != b)
      assert(!a.contains(b) && b != s"the $a",
        s"containment merge hazard: $a vs $b")
  }

  test("alias regexes capture the reference's four statement shapes (D6)") {
    import spark.implicits._
    val texts = Seq(
      "Aragorn, whose real name was Elessar, rode on.",
      "Gandalf (also known as Mithrandir) rested.",
      "Strider, or Aragorn as he was called, stood up.",
      "Gollum, whom they called Smeagol, crept away.").toDF("text")
    val pairs = Canonicalize.aliasPairs(spark, texts)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(
      ("aragorn", "elessar"), ("gandalf", "mithrandir"),
      ("strider", "aragorn"), ("gollum", "smeagol")))
  }

  test("alias keyword gate: gated scan == ungated 4-regex scan on " +
    "adversarial variants (round-5 literal-prefilter)") {
    import spark.implicits._
    // the raw, ungated reference scan (the pre-gate implementation)
    def ungated(text: String): Seq[(String, String)] = {
      val ps = Seq(
        """([A-Z][a-z]+(?:\s+[A-Z][a-z]+)*),?\s+whose\s+(?:real\s+)?name\s+was\s+([A-Z][a-z]+(?:\s+[A-Z][a-z]+)*)""",
        """([A-Z][a-z]+(?:\s+[A-Z][a-z]+)*)\s*\((?:also\s+)?(?:known|called)\s+(?:as\s+)?([A-Z][a-z]+(?:\s+[A-Z][a-z]+)*)\)""",
        """([A-Z][a-z]+(?:\s+[A-Z][a-z]+)*),?\s+or\s+([A-Z][a-z]+(?:\s+[A-Z][a-z]+)*)\s+as\s+(?:he|she|they)\s+(?:was|were)\s+(?:called|known)""",
        """([A-Z][a-z]+(?:\s+[A-Z][a-z]+)*),?\s+(?:whom|who)\s+(?:they|we|people)\s+(?:called|named)\s+([A-Z][a-z]+(?:\s+[A-Z][a-z]+)*)""")
      ps.flatMap { src =>
        val m = java.util.regex.Pattern.compile(src).matcher(text)
        val b = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        while (m.find()) b += ((m.group(1).toLowerCase(java.util.Locale.ROOT),
          m.group(2).toLowerCase(java.util.Locale.ROOT)))
        b
      }
    }
    // matching, near-miss, separator, and case variants around the gate
    // literals — a gate that over-filters drops a row here
    val texts = Seq(
      "Aragorn, whose real name was Elessar, rode on.",
      "Aragorn, whose\tname\twas Elessar, rode on.",
      "Aragorn whose name  was Elessar.",
      "Aragorn, whose NAME was Elessar.", // regex is case-sensitive: no match
      "Gandalf (also known as Mithrandir) rested.",
      "Gandalf (called Mithrandir) rested.",
      "Gandalf (KNOWN as Mithrandir).",
      "Strider, or Aragorn as he was called, stood up.",
      "Strider, or Aragorn as they were known, stood up.",
      "Gollum, whom they called Smeagol, crept away.",
      "Gollum, who people named Smeagol, crept away.",
      "He renamed the town.", "A well-known fact.", "So-called experts.",
      "no keywords here at all", "")
    texts.foreach { t =>
      val gated = Canonicalize.aliasPairs(spark, Seq(t).toDF("text"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(gated === ungated(t).toSet, s"text=$t")
    }
  }

  test("connected components: transitive closure, order-independent") {
    import spark.implicits._
    val nodes = Seq("a", "b", "c", "d", "e", "f").toDF("node")
    val edges = Seq(("c", "b"), ("b", "a"), ("e", "d")).toDF("src", "dst")
    val (assign, steps) =
      ConnectedComponents.run(spark, nodes, edges, StageStore.Local)
    val m = assign.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "d", "e" -> "d", "f" -> "f"))
    assert(steps.last.changed == 0)
    // reversed edge orientation must give the same result
    val edges2 = Seq(("a", "b"), ("b", "c"), ("d", "e")).toDF("src", "dst")
    val (assign2, _) =
      ConnectedComponents.run(spark, nodes, edges2, StageStore.Local)
    val m2 = assign2.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m2 == m)
  }

  test("connected components: adversarial chain converges in O(log n) supersteps") {
    import spark.implicits._
    // 1025-node path graph — worst case for plain min-label propagation
    // (O(n) supersteps, would blow the maxIter=20 cap); path halving
    // bounds it at O(log n). Node names zero-padded so lexicographic min
    // equals numeric min.
    val names = (0 to 1024).map(i => f"n$i%05d")
    val nodes = names.toDF("node")
    val edges = names.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("src", "dst")
    val (assign, steps) =
      ConnectedComponents.run(spark, nodes, edges, StageStore.Local)
    // log2(1024) halving steps + one final no-change detection step
    assert(steps.size <= 12, s"took ${steps.size} supersteps")
    val clusters = assign.select("cluster").distinct().as[String].collect()
    assert(clusters.toSeq == Seq("n00000"))
  }

  test("connected components: random graphs match union-find (property)") {
    import spark.implicits._
    // seeded pseudo-random graphs (mixed density, self-loops filtered)
    // cross-checked against an in-memory union-find with min-label
    // normalization — guards the path-halving rewrite against subtle
    // label-leak bugs on shapes the star/chain tests don't cover
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      val n = 20 + rnd.nextInt(60)
      val nodes = (0 until n).map(i => f"v$i%03d")
      val edges = Seq.fill(rnd.nextInt(2 * n))(
        (nodes(rnd.nextInt(n)), nodes(rnd.nextInt(n))))
        .filter(e => e._1 != e._2)
      val parent = scala.collection.mutable.Map(nodes.map(x => x -> x): _*)
      def find(x: String): String = {
        var r = x; while (parent(r) != r) r = parent(r); r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
      }
      val expected = nodes.groupBy(find).values
        .flatMap(g => g.map(_ -> g.min)).toMap
      val (assign, _) = ConnectedComponents.run(spark,
        nodes.toDF("node"), edges.toDF("src", "dst"), StageStore.Local)
      val got = assign.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == expected, s"trial $trial (n=$n, e=${edges.size})")
    }
  }

  test("connected components: maxIter <= 0 raises the diagnostic, not NoSuchElement (round-5 review)") {
    import spark.implicits._
    val nodes = Seq("a", "b").toDF("node")
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.run(spark, nodes, edges, StageStore.Local,
        maxIter = 0)
    }
    assert(e.getMessage.contains("raise maxIter"))
  }

  test("connected components: empty node set converges to empty assignment") {
    import spark.implicits._
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    val (assign, steps) = ConnectedComponents.run(spark,
      Seq.empty[String].toDF("node"), empty, StageStore.Local)
    assert(assign.count() == 0)
    assert(steps.head.changed == 0) // fused metrics must not NPE on NULL sum
  }

  test("cooccurrence counts pairs per passage without self-join") {
    import spark.implicits._
    val mentions = Seq(
      ("d1", 0, "Gandalf"), ("d1", 0, "Bilbo"), ("d1", 0, "Thorin"),
      ("d1", 1, "Gandalf"), ("d1", 1, "Bilbo"),
      ("d2", 0, "Bilbo"), ("d2", 0, "Gandalf"))
      .toDF("doc_id", "pos", "text")
    val c = Canonicalize.cooccurrence(mentions)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(c(("bilbo", "gandalf")) == 3)
    assert(c(("bilbo", "thorin")) == 1)
    assert(c(("gandalf", "thorin")) == 1)
  }

  test("cooccurrence caps the per-passage pair expansion (VERDICT r04 #5)") {
    import spark.implicits._
    // a pathological mention-dense passage: 300 distinct mentions in ONE
    // passage would expand to C(300,2) = 44,850 local pairs uncapped; the
    // cap admits the first 64 keys in canonical order -> C(64,2) = 2,016
    val dense = (0 until 300).map(i => ("d1", 0, f"Name$i%03d"))
      .toDF("doc_id", "pos", "text")
    assert(Canonicalize.cooccurrence(dense).count() == 64L * 63 / 2)
    // below the cap the result is identical to an effectively-uncapped run
    val small = Seq(
      ("d1", 0, "Gandalf"), ("d1", 0, "Bilbo"), ("d1", 0, "Thorin"))
      .toDF("doc_id", "pos", "text")
    val capped = Canonicalize.cooccurrence(small).collect().toSet
    val uncapped = Canonicalize
      .cooccurrence(small, maxKeysPerPassage = 1 << 20).collect().toSet
    assert(capped == uncapped && capped.size == 3)
  }

  test("coocMergeEdges filter-before-count == count-then-filter (round-6 " +
    "optimization equivalence)") {
    import spark.implicits._
    // pairs crossing the cnt>=3 threshold on both sides of the
    // containment predicate: (aaron, aaron took) contains, 3x -> edge;
    // (aaron, aaron took) only 2x in docB -> no edge; (aaron, belba)
    // no containment even at 5x -> no edge; "the x" == x form included
    val rows =
      (1 to 3).flatMap(i => Seq(("a", i, "Aaron"), ("a", i, "Aaron Took"))) ++
      (1 to 2).flatMap(i => Seq(("b", i, "Belba"), ("b", i, "Belba Field"))) ++
      (1 to 5).flatMap(i => Seq(("c", i, "Aaron"), ("c", i, "Belba"))) ++
      (1 to 4).flatMap(i => Seq(("d", i, "Mirkwood"), ("d", i, "the Mirkwood")))
    val m = rows.toDF("doc_id", "pos", "text")
    val got = Canonicalize.coocMergeEdges(m)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // the pre-optimization order of operations: full pair counts, THEN
    // the cnt>=3 and containment filters
    def contains(a: String, b: String) =
      a.contains(b) || b.contains(a) || a == s"the $b" || b == s"the $a"
    val naive = Canonicalize.cooccurrence(m)
      .collect()
      .filter(_.getLong(2) >= 3)
      .map(r => (r.getString(0), r.getString(1)))
      .filter { case (a, b) => contains(a, b) }
      .toSet
    assert(got == naive)
    assert(got == Set(("aaron", "aaron took"), ("mirkwood", "the mirkwood")))
  }

  test("clusters over inline alias and cooc edges == Pipeline.clusterAssignment") {
    val sf = "/root/testdata/sf0.001"
    val txt = graft.Pipeline.textual(spark, sf)
    // raw detected mentions, without the stage's stored key: the node keys
    // and the co-occurrence pairs derive from the text
    val m = Mentions.fromPassages(spark, txt).toDF()
    val (got, steps) = Canonicalize.clusters(spark, m,
      Canonicalize.aliasPairs(spark, txt), Canonicalize.coocMergeEdges(m),
      StageStore.Local)
    val want = graft.Pipeline.clusterAssignment(spark, sf)
    assert(got.count() > 0 && steps.last.changed == 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("two-level registry aggregate == single-level (round-6 optimization " +
    "equivalence)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val mentions = Seq(
      ("d1", 0, "Frodo", 3), ("d1", 0, "Frodo Baggins", 10),
      ("d2", 1, "frodo", 0), ("d2", 1, "Frodo", 7),
      ("d1", 5, "Sam", 0), ("d3", 2, "Sam", 4), ("d3", 2, "Samwise", 9))
      .toDF("doc_id", "pos", "text", "start")
    val assignment = Seq(
      ("frodo", "c1"), ("frodo baggins", "c1"),
      ("sam", "c2"), ("samwise", "c2")).toDF("node", "cluster")
    val got = Canonicalize.registryFromNodes(
      Canonicalize.registryNodes(mentions, assignment))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    // naive single-level form (the pre-optimization aggregate)
    val keyed = mentions
      .withColumn("node", graft.extract.Linker.cleanKey(col("text")))
      .withColumn("seen_key",
        concat(col("doc_id"), lit("#"),
          lpad(col("pos").cast("string"), 19, "0"), lit("#"),
          lpad(col("start").cast("string"), 19, "0")))
    val naive = keyed.join(assignment, Seq("node"))
      .groupBy(col("cluster"))
      .agg(min_by(col("text"), col("seen_key")).as("canonical_name"),
        countDistinct(col("node")).as("member_count"),
        count(lit(1)).as("mention_count"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(got == naive)
    assert(got.map(t => t._1 -> t._2).toMap ==
      Map("c1" -> "Frodo", "c2" -> "Sam"))
  }
}
