package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline: exact
  * (hash-groupBy), n-gram Jaccard, MinHash+LSH banding, SimHash.
  *
  * All four variants are fully oracle-checked: the MinHash/SimHash hash
  * family is a SQL-expressible polynomial family (base hash = left fold
  * `h*mult + char mod p`, permutations = `(a_i*x + b_i) mod p`) chosen so
  * the driver's DuckDB oracle can re-derive signatures bit-for-bit —
  * MurmurHash3 (the previous family) has no DuckDB twin, which forced
  * rows-only checks on q26/q27.
  */
object Dedup {

  /** 2^31 - 1 (Mersenne prime). Permutation arithmetic bound: a < p and
    * the md5 base hash x < 2^32, so a*x + b peaks just UNDER 2^63 (about
    * 8.6e9 of headroom, not a full factor of two) — it fits a signed
    * 64-bit value in both engines (DuckDB BIGINT overflow throws rather
    * than wraps), but do NOT add further terms before the mod.
    */
  val HashPrime = 2147483647L

  private val md5Digest =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** First 32 bits of md5, big-endian — the DuckDB twin is
    * `('0x' || substring(md5(s), 1, 8))::BIGINT`. md5 (not a custom
    * polynomial) because the oracle must re-derive hashes with DuckDB
    * scalar functions only: DuckDB 1.0's list_reduce (the obvious fold
    * vehicle) returns wrong results in parallel pipelines under memory
    * pressure.
    */
  private[graft] def md5Hash32(s: String): Long = {
    val d = md5Digest.get().digest(s.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** First 60 bits of md5 (15 hex chars) — stays under 2^63 so the DuckDB
    * twin `('0x' || substring(md5(s), 1, 15))::BIGINT` never overflows.
    */
  private[graft] def md5Hash60(s: String): Long = {
    val d = md5Digest.get().digest(s.getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) >> 4) & 0xfL)
  }

  /** Exact duplicate groups by content hash (md5). */
  def exactGroups(df: DataFrame, text: Column): DataFrame =
    df.groupBy(md5(text).as("text_hash"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)

  /** Distinct word-trigram shingles of a text column. */
  def shingles(text: Column): Column = {
    val words = split(text, " ")
    array_distinct(
      when(size(words) < 3, array(concat_ws(" ", words)))
        .otherwise(transform(
          sequence(lit(0), size(words) - 3),
          i => concat_ws(" ",
            element_at(words, i + 1),
            element_at(words, i + 2),
            element_at(words, i + 3)))))
  }

  /** The shingle table (doc_id: long, sh: distinct trigram shingles) of a
    * (doc_id, text) document table — the input of [[consecutiveJaccard]]
    * and [[minhashNearDups]].
    */
  def shingleTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
      shingles(col("text")).as("sh"))

  /** Trigram-Jaccard similarity of each doc vs its successor (equi-join on
    * id+1 — co-partitioned, no window over a global sort) over a
    * [[shingleTable]]. Both sides of the join read the table, so pass a
    * pinned one (Pipeline.shingles).
    */
  def consecutiveJaccard(sh: DataFrame): DataFrame = {
    val a = sh.select(col("doc_id"), col("sh").as("sh_a"))
    val b = sh.select((col("doc_id") - 1).as("doc_id"), col("doc_id").as("next_doc_id"),
      col("sh").as("sh_b"))
    a.join(b, Seq("doc_id"))
      .select(col("doc_id"), col("next_doc_id"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
  }

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  val NumHashes = 32
  val Bands = 8 // 4 rows per band

  /** The i-th permutation's multiplier/offset (1-based i), reduced mod p.
    * Constants are arbitrary fixed odd mixers; the oracle embeds the same
    * values as literals.
    */
  private[graft] val PermA: IndexedSeq[Long] =
    (1 to NumHashes).map(i => (i * 2654435761L) % HashPrime)
  private[graft] val PermB: IndexedSeq[Long] =
    (1 to NumHashes).map(i => (i * 1099511628211L) % HashPrime)

  private def minhashSig(shingleSet: Seq[String]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    shingleSet.foreach { s =>
      val x = md5Hash32(s)
      var i = 0
      while (i < NumHashes) {
        val h = (PermA(i) * x + PermB(i)) % HashPrime
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** MinHash+LSH near-duplicate candidate pairs, verified by exact
    * shingle Jaccard >= `threshold`, over a [[shingleTable]]. Pipeline
    * shape: minhash signature (mapPartitions) -> explode bands ->
    * groupBy (band, band-signature) bucket join -> exact verify. The
    * table feeds the banding pass AND both sides of the exact-verify
    * join — left lazy, the shingling runs three times (profiled ~2/3 of
    * q26's wall) — so pass a pinned one (Pipeline.shingles).
    */
  def minhashNearDups(
      spark: SparkSession,
      sh: DataFrame,
      threshold: Double = 0.7): DataFrame = {
    import spark.implicits._

    val banded = sh.as[(Long, Seq[String])].mapPartitions { it =>
      it.flatMap { case (id, shingleSet) =>
        val sig = minhashSig(shingleSet)
        (0 until Bands).map { b =>
          val rows = sig.slice(b * NumHashes / Bands, (b + 1) * NumHashes / Bands)
          (id, b, rows.mkString(","))
        }
      }
    }.toDF("doc_id", "band", "band_sig")

    // bucket join: pairs sharing any band signature
    val l = banded.select(col("band"), col("band_sig"), col("doc_id").as("a"))
    val r = banded.select(col("band"), col("band_sig"), col("doc_id").as("b"))
    val candidates = l.join(r, Seq("band", "band_sig"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()

    // exact verification join
    val shA = sh.select(col("doc_id").as("a"), col("sh").as("sh_a"))
    val shB = sh.select(col("doc_id").as("b"), col("sh").as("sh_b"))
    // floor-based 4dp (not round()): cross-engine-safe with the oracle
    candidates.join(shA, Seq("a")).join(shB, Seq("b"))
      .select(col("a"), col("b"),
        (floor(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b"))) * 10000 + 0.5) / 10000.0)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** Per-word 60-bit hash ([[md5Hash60]]); bits 60-63 are constant zero —
    * the hamming metric is unaffected (documented effective width 60).
    */
  private[text] def wordHash(w: String): Long = md5Hash60(w)

  /** SimHash over word hashes (60 effective bits — see [[wordHash]]). */
  def simhash(words: Seq[String]): Long = {
    val v = new Array[Int](64)
    words.foreach { w =>
      val h = wordHash(w)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) v(i) += 1 else v(i) -= 1
        i += 1
      }
    }
    v.zipWithIndex.foldLeft(0L) { case (acc, (cnt, i)) =>
      if (cnt > 0) acc | (1L << i) else acc
    }
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming, blocked
    * by bit chunks: with maxHamming+1 chunks, a pair within distance d <=
    * maxHamming must share at least one chunk exactly (pigeonhole), so the
    * bucket join loses no true pair.
    */
  def simhashNearDups(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    import spark.implicits._
    // Pin the signature table: it feeds BOTH sides of the chunk-bucket
    // self-join below — left lazy, the per-word md5 signature pass over
    // the full document table runs twice per evaluation (the same shape
    // q26's shingle table had before its pin).
    val sigs = docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        // limit -1: keep trailing empty tokens — Java's default split drops
        // them, DuckDB's string_split (the oracle) does not
        (id, simhash(t.split(" ", -1).toSeq))
      }).toDF("doc_id", "sig")
      .localCheckpoint(true)

    val chunks = maxHamming + 1
    val bounds = (0 to chunks).map(i => i * 64 / chunks)
    val chunked = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until chunks).map { i =>
        val lo = bounds(i)
        val width = bounds(i + 1) - lo
        val mask = if (width >= 64) -1L else (1L << width) - 1
        struct(lit(i).as("chunk"),
          shiftright(col("sig"), lo).bitwiseAND(lit(mask)).as("ckey"))
      }: _*)).as("c"))
      .select(col("doc_id"), col("sig"), col("c.chunk"), col("c.ckey"))

    val l = chunked.select(col("chunk"), col("ckey"),
      col("doc_id").as("a"), col("sig").as("sig_a"))
    val r = chunked.select(col("chunk"), col("ckey"),
      col("doc_id").as("b"), col("sig").as("sig_b"))
    l.join(r, Seq("chunk", "ckey"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
