package graft.graph

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Resumable stage execution with a per-partition lineage + metrics
  * checkpoint table — the engine's equivalent of the reference's
  * chunk checkpoint files (lore/events.py:397-431, SURVEY.md S7/E4).
  *
  * Layout under a warehouse dir:
  *   <wh>/<stage>/            stage output parquet
  *   <wh>/_checkpoints/       checkpoint table parquet (atomic appends)
  *
  * Checkpoint rows: (stage, partition_id, rows_out, status, fingerprint,
  * updated_at).
  *
  *  - Lineage is REAL: each stage output is written with a
  *    `spark_partition_id()` column, so the recorded per-partition counts
  *    are the write tasks' actual row counts (round-1 review: the previous
  *    file-hash ids were synthetic). The column is stripped on load.
  *  - Checkpoint rows commit ATOMICALLY: the delta is written to a temp
  *    dir and its part file moved into the table directory with an atomic
  *    rename — a crash between the stage write and the checkpoint write
  *    leaves the stage merely "incomplete" (it reruns), never torn.
  *  - Every row carries the run's input FINGERPRINT; a stage checkpointed
  *    under a different input (or config) is NOT treated as complete, so a
  *    resumed run pointed at a different sf dir recomputes instead of
  *    silently loading stale output (ADVICE r01).
  *
  * In a real deployment this table is an Iceberg table and the write is a
  * snapshot commit; parquet + atomic file move is the sandbox stand-in
  * (no Iceberg jars in /opt/spark/jars).
  */
final class Checkpoints(
    spark: SparkSession,
    warehouse: String,
    fingerprint: String = "") extends StageStore {

  private val ckDir = s"$warehouse/_checkpoints"
  private val PidCol = "__graft_pid"

  def checkpointTable(): DataFrame = {
    if (Files.exists(Paths.get(ckDir))) readTable()
    else spark.emptyDataFrame
  }

  /** Read the checkpoint table, quarantining unreadable files. A crash
    * mid-move on a filesystem without atomic rename (see [[commit]]) can
    * leave a torn parquet file; without this, every subsequent read of the
    * table would throw and the warehouse could never be used again —
    * neither resumed nor recomputed (round-5 review). Torn files move to
    * `_ck_quarantine` (losing at worst the rows of that one commit, which
    * only un-marks stages as complete — they recompute).
    */
  private def readTable(): DataFrame =
    try spark.read.parquet(ckDir)
    catch {
      case _: Throwable =>
        val q = Paths.get(s"$warehouse/_ck_quarantine")
        Files.createDirectories(q)
        val listing = Files.list(Paths.get(ckDir))
        val files =
          try listing.toArray.map(_.toString).filter(_.endsWith(".parquet"))
          finally listing.close()
        files.foreach { f =>
          val ok =
            try { spark.read.parquet(f).schema; true }
            catch { case _: Throwable => false }
          if (!ok)
            Files.move(Paths.get(f), q.resolve(Paths.get(f).getFileName),
              StandardCopyOption.REPLACE_EXISTING)
        }
        spark.read.parquet(ckDir)
    }

  private def isComplete(stage: String): Boolean = {
    Files.exists(Paths.get(ckDir)) &&
      Files.exists(Paths.get(s"$warehouse/$stage/_SUCCESS")) && {
        val t = readTable()
        // warehouses written by the pre-fingerprint format have no
        // fingerprint column: treat their rows as incomplete (recompute)
        // rather than throwing on the missing column (ADVICE r02)
        t.columns.contains("fingerprint") && {
          // the LATEST completion must carry THIS run's fingerprint: a
          // warehouse reused across inputs (A -> B -> A) overwrites the
          // stage OUTPUT under B while A's older completion rows survive
          // in the append-only table — matching on any-row fingerprint
          // would load B's parquet as A's result (round-5 review)
          val latest = t
            .filter(col("stage") === stage && col("status") === "complete")
            .orderBy(col("updated_at").desc)
            .select("fingerprint")
            .head(1)
          latest.nonEmpty && latest(0).getString(0) == fingerprint
        }
      }
  }

  /** Atomic checkpoint append: write the delta to a temp dir, then move
    * its single part file into the table directory with an atomic rename.
    */
  private def commit(rows: DataFrame): Unit = {
    val tmp = s"$warehouse/.ck_tmp_${java.util.UUID.randomUUID}"
    rows.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    Files.createDirectories(Paths.get(ckDir))
    val listing = Files.list(Paths.get(tmp))
    val part =
      try listing.toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      finally listing.close()
    part.foreach { p =>
      val dst = Paths.get(ckDir, s"ck_${java.util.UUID.randomUUID}.parquet")
      try Files.move(Paths.get(p), dst, StandardCopyOption.ATOMIC_MOVE)
      catch {
        // filesystems without atomic rename (some network mounts): fall
        // back to a plain move — the commit loses atomicity but not data,
        // and a torn file fails the parquet read, which reruns the stage
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          Files.move(Paths.get(p), dst)
      }
    }
    // best-effort temp cleanup (non-atomic, content already committed)
    val walk = Files.walk(Paths.get(tmp))
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  private def record(stage: String, partCounts: DataFrame, status: String): Unit =
    commit(partCounts
      .select(
        lit(stage).as("stage"),
        col("partition_id").cast("int").as("partition_id"),
        col("rows_out").cast("long").as("rows_out"),
        lit(status).as("status"),
        lit(fingerprint).as("fingerprint"),
        current_timestamp().as("updated_at")))

  /** Intermediates (CC supersteps) persist here too, so a run killed
    * mid-CC resumes from the last completed superstep. */
  def intermediates: StageStore = this

  /** Record an arbitrary metrics row (e.g. CC superstep convergence). */
  def recordMetric(stage: String, partitionId: Int, rowsOut: Long,
      status: String): Unit = {
    import spark.implicits._
    commit(Seq((stage, partitionId, rowsOut, status))
      .toDF("stage", "partition_id", "rows_out", "status")
      .withColumn("fingerprint", lit(fingerprint))
      .withColumn("updated_at", current_timestamp()))
  }

  /** Run (or resume) a stage: if checkpointed complete UNDER THE SAME
    * FINGERPRINT, load its output; otherwise compute, persist (with the
    * real write-task partition ids embedded), and record per-partition
    * lineage from the written data.
    */
  def stage(name: String)(compute: => DataFrame): DataFrame = {
    val out = s"$warehouse/$name"
    if (isComplete(name)) {
      println(s"[ck] stage=$name resumed (checkpoint hit)")
      spark.read.parquet(out).drop(PidCol)
    } else {
      val t0 = System.nanoTime()
      compute.withColumn(PidCol, spark_partition_id())
        .write.mode(SaveMode.Overwrite).parquet(out)
      val written = spark.read.parquet(out)
      val partCounts = written
        .groupBy(col(PidCol).as("partition_id"))
        .agg(count(lit(1)).as("rows_out"))
      // an empty stage output has no partition rows — record a synthetic
      // (-1, 0) lineage row so the stage is still marked complete and a
      // resume loads the empty parquet instead of recomputing the stage
      // on every run (round-5 review: e.g. a corpus with no dialogue)
      val lineage =
        if (partCounts.isEmpty) {
          import spark.implicits._
          Seq((-1, 0L)).toDF("partition_id", "rows_out")
        } else partCounts
      record(name, lineage, "complete")
      println(f"[ck] stage=$name sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      written.drop(PidCol)
    }
  }
}
