package graft.ckpt

import graft.tableio.TableIO
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-stage checkpoint/commit log with per-partition lineage + counter
  * metrics (north rule: "resumable from checkpoint with per-partition
  * lineage + metrics"; reference analogs: interval model checkpointing
  * relembed.py:745-757 and the GOOD/BAD `_records` audit counters
  * wiki_and_semeval2sdp.py:391-449,470-472).
  *
  * A stage = a named DataFrame computation materialized as a TableIO
  * snapshot under `<runDir>/<stage>`. `runStage` skips recomputation when the
  * stage already has a committed snapshot — so a killed job rerun resumes
  * after the last committed stage, idempotently (TableIO commits are atomic).
  * Each committed stage also writes `<runDir>/<stage>__lineage` rows
  * (stage, part_id, rows) — the per-partition audit trail, where `part_id`
  * is the write task (`spark_partition_id()` of the task that wrote those
  * rows, the `part-NNNNN` number of its files) — and a metrics row
  * (stage, rows, version) under `<runDir>/__metrics/<stage>`. Both come from
  * the counts the data commit observed and recorded in its manifest: the
  * committed table is never scanned again for bookkeeping.
  */
class StageLog(spark: SparkSession, runDir: String) {

  def stagePath(stage: String) = s"$runDir/$stage"
  private def lineagePath(stage: String) = s"${stagePath(stage)}__lineage"
  private def metricsPath(stage: String) = s"$runDir/__metrics/$stage"

  def isCommitted(stage: String): Boolean =
    TableIO.currentVersion(stagePath(stage)).isDefined

  /** Row count of a committed stage, from its manifest (no Spark job). */
  def rows(stage: String): Long = TableIO.current(stagePath(stage)).rows

  /** Run (or resume) a stage. Returns the stage output read back from its
    * committed snapshot, so downstream stages always consume the durable
    * artifact — lineage is truncated at every stage boundary, the iterative-
    * job killer at scale.
    *
    * A committed stage whose lineage or metrics table is missing (a kill
    * between the data commit and the bookkeeping commits) gets them rebuilt
    * from its manifest.
    */
  def runStage(stage: String, partitionBy: Seq[String] = Nil)(compute: => DataFrame): DataFrame = {
    val path = stagePath(stage)
    val snap = if (isCommitted(stage)) TableIO.current(path) else TableIO.commit(compute, path, partitionBy)
    if (TableIO.currentVersion(lineagePath(stage)).isEmpty) {
      val parts = snap.partRows.getOrElse(TableIO.countFileParts(spark, snap.dataDir, snap.schema))
      val rows = parts.toSeq.sorted.map { case (p, n) => (stage, p, n) }
      // one task and one file, however many write tasks the stage had
      TableIO.commit(spark.createDataFrame(rows).toDF("stage", "part_id", "rows").coalesce(1),
        lineagePath(stage))
    }
    if (TableIO.currentVersion(metricsPath(stage)).isEmpty)
      TableIO.commit(spark.createDataFrame(Seq((stage, snap.rows, snap.version)))
        .toDF("stage", "rows", "version"), metricsPath(stage))
    TableIO.read(spark, path)
  }

  /** All per-partition lineage rows of the run. */
  def lineage(stages: Seq[String]): DataFrame =
    stages.map(s => TableIO.read(spark, lineagePath(s)))
      .reduce(_ unionByName _)

  /** Stage-level metrics (rows per committed stage). */
  def metrics(stages: Seq[String]): DataFrame =
    stages.map(s => TableIO.read(spark, metricsPath(s)))
      .reduce(_ unionByName _)
}
