package graft

import org.apache.spark.sql.SparkSession

/** Engine runtime defaults applied lazily by library code (the session
  * builders live in frozen harness mains, so session-independent tuning
  * belongs here). Every setting must be scale-generic — nothing here may
  * encode the sandbox core count or data size.
  */
object Tuning {

  private val FallbackKey =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** Raise the ObjectHashAggregate sort-fallback threshold from its
    * ultra-conservative default of 128 in-memory groups per partition.
    * Spark falls back so early because aggregation buffers can be huge
    * (e.g. percentile sketches). This engine's object aggregates are
    * per-group key and span lists: Canonicalize.pairRows' collect_set
    * holds EVERY distinct mention key of a passage (its 64-key cap is a
    * `slice` applied after the aggregate, so it does not bound the
    * buffer), and per-doc span lists. On the measured corpora these stay
    * short, so hash aggregation fits, and the fallback's per-partition
    * SORT of the full input was measurably slower (per-passage
    * collect_set over 1.1M mentions: 0.7-1.3 s sort-based vs 0.5-0.6 s
    * hash). Nothing here bounds a mention-dense passage's buffer (ROADMAP
    * item 4). Respects an explicit user override:
    * only the untouched default is raised. Scale-independent: the
    * threshold counts distinct groups per partition, not cores or bytes.
    */
  def ensure(spark: SparkSession): Unit =
    if (spark.conf.get(FallbackKey, "128") == "128")
      spark.conf.set(FallbackKey, (4 * 1024 * 1024).toString)
}
