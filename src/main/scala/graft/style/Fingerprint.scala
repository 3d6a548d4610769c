package graft.style

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Author style fingerprint (Y8-Y11, style/fingerprint.py):
  * function-word frequencies with self-normalized z-scores, Burrows'
  * delta between two fingerprints, and a blended similarity score.
  */
object Fingerprint {

  /** The reference's FUNCTION_WORDS list (metrics.py:19-31, first 100). */
  val FunctionWords: Seq[String] = Seq(
    "the", "of", "and", "a", "to", "in", "is", "was", "that", "it",
    "he", "she", "for", "on", "with", "as", "his", "her", "they", "at",
    "be", "this", "have", "from", "or", "had", "by", "not", "word", "but",
    "what", "some", "we", "can", "out", "other", "were", "all", "there", "when",
    "up", "use", "your", "how", "said", "an", "each", "which", "do", "their",
    "time", "if", "will", "way", "about", "many", "then", "them", "would", "so",
    "these", "no", "him", "could", "has", "more", "two", "like", "who", "did",
    "now", "get", "come", "made", "may", "part", "over", "new", "sound", "take",
    "only", "little", "work", "know", "place", "year", "live", "me", "back", "give",
    "most", "very", "after", "thing", "our", "just", "name", "good", "sentence", "man")

  /** Corpus word tokens (the engine's spaCy-token stand-in): lowercase
    * [a-z'] runs. */
  private def tokens(sentences: DataFrame, corpusCol: String, textCol: String) =
    sentences.select(col(corpusCol).as("corpus"),
      explode(split(lower(col(textCol)), "[^a-z']+")).as("word"))
      .filter(length(col("word")) > 0)

  /** Y4 per-corpus vocabulary profile (metrics.py:233-308): totals, TTR,
    * average word length, hapax stats, archaism count and invented-word
    * candidates. Invented words use a deterministic OOV stand-in for the
    * spaCy vocab + PROPN checks: length > 2, corpus count <= 2, outside the
    * function-word and archaism lexicons, and never seen capitalized in the
    * raw text (the proper-noun proxy).
    */
  def vocabularyBy(
      spark: SparkSession, sentences: DataFrame,
      corpusCol: String, textCol: String = "text"): DataFrame = {
    val toks = tokens(sentences, corpusCol, textCol)
    // counts feeds both the invented-word filter and the vocabulary
    // aggregate; deliberately NOT pinned — an eager checkpoint here forces
    // the full table even when the consumer's action (e.g. a count) lets
    // the optimizer prune most of the tree (measured: q49 0.76 -> 1.20 s
    // with a pin)
    val counts = toks.groupBy("corpus", "word").agg(count(lit(1)).as("cnt"))
    val caps = sentences.select(col(corpusCol).as("corpus"),
        explode(split(col(textCol), "[^A-Za-z']+")).as("w"))
      .filter(length(col("w")) > 0 && col("w").substr(1, 1).rlike("[A-Z]"))
      .select(col("corpus"), lower(col("w")).as("word"))
      .distinct()
    val invented = counts
      .filter(col("cnt") <= 2 && length(col("word")) > 2 &&
        !col("word").isin(FunctionWords: _*) &&
        !col("word").isin(graft.Lexicon.StyleArchaisms: _*))
      .join(caps, Seq("corpus", "word"), "left_anti")
      .groupBy("corpus").agg(count(lit(1)).as("invented_count"))
    counts.groupBy("corpus")
      .agg(
        sum(col("cnt")).as("total_words"),
        count(lit(1)).as("unique_words"),
        graft.style.Metrics.floor4(
          count(lit(1)).cast("double") / sum(col("cnt"))).as("ttr"),
        graft.style.Metrics.floor4(
          sum(length(col("word")) * col("cnt")).cast("double")
            / sum(col("cnt"))).as("avg_word_length"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax_count"),
        graft.style.Metrics.floor4(
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).cast("double")
            / count(lit(1))).as("hapax_ratio"),
        sum(when(col("word").isin(graft.Lexicon.StyleArchaisms: _*),
          col("cnt")).otherwise(0L)).as("archaism_count"))
      .join(invented, Seq("corpus"), "left")
      .na.fill(0L, Seq("invented_count"))
  }

  /** Y4 word-length distribution rows (corpus, length, cnt). */
  def wordLengthDistribution(
      sentences: DataFrame, corpusCol: String,
      textCol: String = "text"): DataFrame =
    tokens(sentences, corpusCol, textCol)
      .groupBy(col("corpus"), length(col("word")).as("length"))
      .agg(count(lit(1)).as("cnt"))

  /** Y8 AuthorStyleFingerprint assembly (fingerprint.py:74-174): one row
    * per corpus with sentence-level distribution means, style ratios,
    * vocabulary scalars, readability, archaism/invented densities per 1000
    * words and the passage-type distribution. POS ratios are omitted (no
    * POS tagger in the deterministic engine — documented in SURVEY Y1);
    * clause depth is the subordinator-count proxy.
    */
  def assemble(
      spark: SparkSession, passages: DataFrame,
      corpusCol: String,
      classified: DataFrame): DataFrame = {
    import graft.style.Metrics.floor4
    val p = passages.withColumn("corpus", col(corpusCol))
    // ONE per-corpus metric pass (guide §2.4 share-one-exchange): the
    // sentence-metric aggregate and the readability aggregate group by
    // the same key over the same rows, so the readability sums ride the
    // sentence-metric aggregate (per-row syllable columns computed in the
    // same scan; `words` == sum(word_count) — both sides of the old
    // sm-join-read derive it from the same wordCount(text)) and the
    // formula columns are applied after the single shuffle. Exact: the
    // aggregate functions and floor4 forms are unchanged, only the
    // duplicate full scan + join on corpus are gone.
    val smRows = graft.style.Metrics.withSyllables(
      graft.style.Metrics.sentenceMetrics(p, col("text")))
    val sm = graft.style.Metrics.readabilityFinish(
      smRows.groupBy("corpus")
        .agg(
          count(lit(1)).as("sentences"),
          sum(col("word_count").cast("long")).as("word_count"),
          floor4(avg(col("word_count"))).as("sentence_len_mean"),
          floor4(coalesce(stddev_samp(col("word_count")), lit(0.0)))
            .as("sentence_len_std"),
          floor4(avg(col("avg_word_len"))).as("word_len_mean"),
          floor4(avg(col("punct_count").cast("double")
            / greatest(col("char_count"), lit(1)))).as("punct_density_mean"),
          floor4(avg(col("subordinators"))).as("clause_depth_mean"),
          floor4(avg(when(col("has_dialogue"), 1.0).otherwise(0.0)))
            .as("dialogue_ratio"),
          floor4(avg(when(col("is_passive"), 1.0).otherwise(0.0)))
            .as("passive_voice_ratio"),
          floor4(avg(when(col("is_question"), 1.0).otherwise(0.0)))
            .as("question_ratio"),
          floor4(avg(when(col("is_exclamation"), 1.0).otherwise(0.0)))
            .as("exclamation_ratio"),
          sum(col("syll")).as("syllables"),
          sum(col("complex_words")).as("complex_words"))
        // readabilityFinish reads `words`; it IS the word_count sum —
        // one aggregate buffer, aliased, not accumulated twice
        .withColumn("words", col("word_count"))
    ).drop("words", "syllables", "complex_words", "asl", "asw")
    val vocab = vocabularyBy(spark, p, "corpus")
      .select(col("corpus"), col("ttr"), col("hapax_ratio"),
        floor4(col("archaism_count").cast("double")
          / col("total_words") * 1000).as("archaism_density"),
        floor4(col("invented_count").cast("double")
          / col("total_words") * 1000).as("invented_word_density"))
    val types = Seq("dialogue", "action", "description", "travel",
      "battle", "reflection", "unknown")
    // `classified` is Classifier.classifyPassages over the same passages
    // (Pipeline.classified), keyed by (doc_id, pos)
    val cls = classified
      .join(p.select("doc_id", "pos", "corpus"), Seq("doc_id", "pos"))
      .groupBy("corpus")
      .agg(
        floor4(avg(when(col("primary_type") === types.head, 1.0)
          .otherwise(0.0))).as(s"share_${types.head}"),
        types.tail.map(t =>
          floor4(avg(when(col("primary_type") === t, 1.0).otherwise(0.0)))
            .as(s"share_$t")): _*)
    sm.join(vocab, Seq("corpus"))
      .join(cls, Seq("corpus"))
  }

  /** Per-corpus function-word frequency table with z-scores normalized
    * against the author's own 100 frequencies (Y9, fingerprint.py:139-153).
    * Input: sentences with a text column and a corpus-id column.
    */
  def functionWordZScores(
      sentences: DataFrame, corpusCol: String, textCol: String): DataFrame = {
    val words = sentences.select(col(corpusCol).as("corpus"),
      explode(split(lower(col(textCol)), "[^a-z']+")).as("word"))
      .filter(length(col("word")) > 0)
    val totals = words.groupBy("corpus").agg(count(lit(1)).as("total"))
    val fwDf = words.sparkSession.createDataFrame(
      FunctionWords.map(Tuple1(_))).toDF("word")
    // count per (corpus, function word), zero-filled via cross of corpora x words
    val counts = words.join(broadcast(fwDf), Seq("word"), "left_semi")
      .groupBy("corpus", "word").agg(count(lit(1)).as("cnt"))
    val grid = totals.select("corpus", "total").crossJoin(broadcast(fwDf))
    val freqs = grid.join(counts, Seq("corpus", "word"), "left")
      .withColumn("freq",
        coalesce(col("cnt"), lit(0L)).cast("double") / col("total"))
    val w = Window.partitionBy("corpus")
    freqs
      .withColumn("mu", avg(col("freq")).over(w))
      .withColumn("sigma", stddev_samp(col("freq")).over(w))
      .withColumn("z",
        when(col("sigma") > 0, (col("freq") - col("mu")) / col("sigma"))
          .otherwise(lit(0.0)))
      .select("corpus", "word", "freq", "z")
  }

  /** Burrows' delta between every pair of corpora: mean |z1 - z2| over the
    * shared function words (Y10, fingerprint.py:176-203).
    */
  def burrowsDelta(zscores: DataFrame): DataFrame = {
    val a = zscores.select(col("corpus").as("corpus_a"), col("word"),
      col("z").as("z_a"))
    val b = zscores.select(col("corpus").as("corpus_b"), col("word"),
      col("z").as("z_b"))
    a.join(b, Seq("word"))
      .filter(col("corpus_a") < col("corpus_b"))
      .groupBy("corpus_a", "corpus_b")
      .agg(avg(abs(col("z_a") - col("z_b"))).as("delta"))
  }

  /** Y11 similarity blend between two fingerprint rows:
    * delta-sim x2 + sentence-length sim + FK sim (fingerprint.py:205-246,
    * the passage-type dot product is carried by the classifier mix).
    */
  def similarityScore(delta: Double, meanLen1: Double, meanLen2: Double,
      fk1: Double, fk2: Double): Double = {
    val deltaSim = 1.0 / (1.0 + delta)
    val lenSim = 1.0 - math.min(1.0,
      math.abs(meanLen1 - meanLen2) / math.max(math.max(meanLen1, meanLen2), 1.0))
    val fkSim = 1.0 - math.min(1.0, math.abs(fk1 - fk2) / 12.0)
    (deltaSim * 2.0 + lenSim + fkSim) / 4.0
  }
}
