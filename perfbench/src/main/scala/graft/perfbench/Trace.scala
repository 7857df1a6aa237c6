package graft.perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spans recorded by the traced run, one per Spark job and stage. */
final case class ExecRec(id: Long, issuer: Option[String], writeTarget: Option[String],
                         ccRound: Boolean)

final case class JobRec(id: Int, start: Long, end: Long, execId: Option[Long],
                        issuer: Option[String], stageIds: Seq[Int])

final case class StageRec(id: Int, submit: Long, complete: Long, tasks: Int,
                          inputRecords: Long, shuffleWriteRecords: Long,
                          shuffleWriteBytes: Long, shuffleReadBytes: Long,
                          outputRecords: Long, cpuNs: Long, gcMs: Long, runMs: Long,
                          spillBytes: Long, taskRunMs: IndexedSeq[Long])

/** A SparkListener that keeps job, stage and SQL-execution records in memory.
  * Nothing is written until the run ends.
  */
final class Tracer extends SparkListener {
  private val execs = mutable.Map.empty[Long, ExecRec]
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stages = mutable.Map.empty[Int, StageRec]
  private val taskRuns = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      val plan = e.physicalPlanDescription
      synchronized {
        execs(e.executionId) = ExecRec(e.executionId, Attribution.issuer(e.details),
          Attribution.writeTarget(plan), plan.contains("__chg"))
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val issuer = e.stageInfos.iterator.map(s => Attribution.issuer(s.details)).collectFirst {
      case Some(f) => f
    }
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, exec, issuer, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      taskRuns.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskMetrics.executorRunTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    if (s.submissionTime.isDefined && m != null)
      stages(s.stageId) = StageRec(s.stageId, s.submissionTime.get,
        s.completionTime.getOrElse(s.submissionTime.get), s.numTasks,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.outputMetrics.recordsWritten, m.executorCpuTime, m.jvmGCTime, m.executorRunTime,
        m.diskBytesSpilled, taskRuns.remove(s.stageId).map(_.toIndexedSeq).getOrElse(IndexedSeq.empty))
  }

  /** Records of the jobs that started inside [t0, t1], and their stages. */
  def window(t0: Long, t1: Long): Attribution.Window = synchronized {
    val js = jobs.values.filter(j => j.start >= t0 && j.start <= t1).toSeq.sortBy(_.id)
    val ss = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
    Attribution.Window(t0, t1, js, ss, execs.toMap)
  }

  def clear(): Unit = synchronized {
    execs.clear(); jobs.clear(); stages.clear(); taskRuns.clear()
  }
}

/** Charges Spark time to graft's layers. Pure functions over the records, so
  * the rules are unit-tested without Spark.
  *
  * Job rule: a job is charged to the layer whose graft module issued its
  * action, read from the innermost `graft.` frame of the job's call site (or
  * of its SQL execution, for jobs run on helper threads such as broadcast
  * builds). A job that commits a `KgPipeline` stage through `TableIO` is
  * charged to the layer that computes that stage; the lineage, metrics and
  * CC label commits are `tableio`, and so are reads issued by `TableIO` or
  * `StageLog` themselves. A job with no graft frame (the
  * benchmark's own result action) is charged to `link`: it runs the output
  * pass, whose joins are the link layer.
  *
  * Stage rule: a stage that reads every corpus document is a corpus scan. If
  * it only redistributes the documents (shuffle-write records == documents)
  * it is `corpus`; otherwise the scan is fused with extraction and its time
  * is split in order: `corpus` up to the standalone scan time, `extract` up
  * to the standalone kernel time (only when the job itself belongs to
  * another layer, i.e. the fused output pass), the rest to the job's layer.
  */
object Attribution {

  /** Layers that own time. `tableio` is split into its stage-commit
    * bookkeeping (metrics and CC label commits), lineage commits and reads.
    */
  val layers: Seq[String] =
    Seq("corpus", "extract", "link", "canon", "tableio.commit", "tableio.lineage", "tableio.read")

  final case class Window(t0: Long, t1: Long, jobs: Seq[JobRec], stages: Seq[StageRec],
                          execs: Map[Long, ExecRec])

  /** Innermost graft source file named in a long-form call site. */
  def issuer(callSite: String): Option[String] =
    if (callSite == null) None
    else callSite.linesIterator.map(_.trim)
      .filter(l => l.startsWith("graft.") && !l.startsWith("graft.perfbench."))
      .map(l => l.substring(l.lastIndexOf('(') + 1).takeWhile(c => c != ':' && c != ')'))
      .find(_.endsWith(".scala"))

  private val writeRe =
    """\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?Arguments: (?:file:)?([^,\s]+)""".r

  /** Output path of a write, from its formatted physical plan. */
  def writeTarget(plan: String): Option[String] =
    if (plan == null) None else writeRe.findFirstMatchIn(plan).map(_.group(1))

  def fileLayer(file: String): String = file match {
    case "Extract.scala" | "FusedKernel.scala" | "Annotator.scala" | "Sdp.scala" |
         "SignatureScorer.scala" => "extract"
    case "ConnectedComponents.scala" => "canon"
    case "TableIO.scala" | "StageLog.scala" => "tableio.read"
    case "Corpus.scala" => "corpus"
    case _ => "link" // Linking, Ranks, KgPipeline's dictionary actions
  }

  def stageLayer(stage: String): String = stage match {
    case "candidates" | "triples" => "extract"
    case "entity_canon" => "canon"
    case _ => "link"
  }

  /** Layer a write charges. A `KgPipeline` stage commit writes
    * `<run>/<stage>/data/...` and is charged to the layer computing it.
    */
  def writeLayer(target: String): String = {
    val parts = target.split('/')
    val i = parts.lastIndexOf("data")
    if (target.contains("__lineage")) "tableio.lineage"
    else if (target.contains("/__metrics/") || target.contains("/cc_labels/") || i <= 0) "tableio.commit"
    else stageLayer(parts(i - 1))
  }

  def jobLayer(j: JobRec, execs: Map[Long, ExecRec]): String = {
    val e = j.execId.flatMap(execs.get)
    e.flatMap(_.writeTarget) match {
      case Some(t) => writeLayer(t)
      case None => j.issuer.orElse(e.flatMap(_.issuer)).map(fileLayer).getOrElse("link")
    }
  }

  /** Stage time shares as (layer, fraction) pairs. */
  def stageShares(s: StageRec, jobLayerName: String, docs: Long, scanS: Double,
                  kernelS: Double): Seq[(String, Double)] = {
    val t = (s.complete - s.submit) / 1000.0
    if (docs <= 0 || s.inputRecords != docs || t <= 0) Seq(jobLayerName -> 1.0)
    else if (s.shuffleWriteRecords == docs) Seq("corpus" -> 1.0)
    else {
      val corpus = math.min(t, scanS)
      val extract =
        if (jobLayerName == "extract") t - corpus
        else math.min(t - corpus, math.max(kernelS - scanS, 0.0))
      Seq("corpus" -> corpus / t, "extract" -> extract / t,
        jobLayerName -> (t - corpus - extract) / t).filter(_._2 > 0)
    }
  }

  final case class Charge(selfS: Map[String, Double], gapS: Double,
                          share: Map[Int, Seq[(String, Double)]], jobLayer: Map[Int, String])

  /** Sweep the window: each instant goes to the layers of the stages running
    * then (split evenly among them), to the running jobs' layers when no
    * stage runs, or to the driver gap when no job runs. Self times plus the
    * gap therefore cover the window exactly, up to clock granularity.
    */
  def charge(w: Window, docs: Long, scanS: Double, kernelS: Double): Charge = {
    val jl = w.jobs.map(j => j.id -> jobLayer(j, w.execs)).toMap
    val stageJob = w.jobs.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
    val shares = w.stages.map { s =>
      s.id -> stageShares(s, jl(stageJob(s.id)), docs, scanS, kernelS)
    }.toMap
    def clip(t: Long) = math.max(w.t0, math.min(w.t1, t))
    val jobIv = w.jobs.filter(_.end >= 0).map(j => (clip(j.start), clip(j.end), Seq(jl(j.id) -> 1.0)))
    val stIv = w.stages.map(s => (clip(s.submit), clip(s.complete), shares(s.id)))
    val cuts = (Seq(w.t0, w.t1) ++ jobIv.flatMap(i => Seq(i._1, i._2)) ++
      stIv.flatMap(i => Seq(i._1, i._2))).distinct.sorted
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var gap = 0.0
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val d = (b - a) / 1000.0
      val mid = (a + b) / 2.0
      def active(iv: Seq[(Long, Long, Seq[(String, Double)])]) =
        iv.filter(i => i._1 <= mid && mid < i._2)
      val st = active(stIv)
      val on = if (st.nonEmpty) st else active(jobIv)
      if (on.isEmpty) gap += d
      else on.foreach(i => i._3.foreach { case (l, f) => self(l) += d * f / on.size })
    }
    Charge(self.toMap, gap, shares, jl)
  }
}
