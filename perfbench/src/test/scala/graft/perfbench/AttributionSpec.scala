package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {
  import Attribution._

  private def site(frames: String*) = frames.mkString("\n")

  test("the issuer is the innermost graft frame, skipping the benchmark's own") {
    val cs = site(
      "org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:700)",
      "graft.canon.ConnectedComponents$.run(ConnectedComponents.scala:92)",
      "graft.pipeline.KgPipeline$.canonicalTriplesInMemory(KgPipeline.scala:281)",
      "graft.perfbench.Runner$.runRep(Runner.scala:200)")
    assert(issuer(cs).contains("ConnectedComponents.scala"))
    assert(issuer(site("graft.perfbench.Runner$.checksum(Runner.scala:131)")).isEmpty)
    assert(issuer(null).isEmpty)
  }

  test("call-site files map to layers") {
    assert(fileLayer("FusedKernel.scala") == "extract")
    assert(fileLayer("Extract.scala") == "extract")
    assert(fileLayer("Linking.scala") == "link")
    assert(fileLayer("Ranks.scala") == "link")
    assert(fileLayer("KgPipeline.scala") == "link")
    assert(fileLayer("ConnectedComponents.scala") == "canon")
    assert(fileLayer("TableIO.scala") == "tableio.read")
    assert(fileLayer("StageLog.scala") == "tableio.read")
    assert(fileLayer("Corpus.scala") == "corpus")
  }

  test("write targets: stage commits charge the computing layer, bookkeeping charges tableio") {
    val plan = Seq("== Physical Plan ==", "Execute InsertIntoHadoopFsRelationCommand (5)",
      "+- WriteFiles (4)", "", "(5) Execute InsertIntoHadoopFsRelationCommand",
      "Input [3]: [entity_id#1L, canonical_id#2L, entity_bucket#3]",
      "Arguments: file:/w/run-full/entity_canon/data/snap-0, false, [entity_bucket#3], Parquet").mkString("\n")
    assert(writeTarget(plan).contains("/w/run-full/entity_canon/data/snap-0"))
    assert(writeTarget("Scan parquet").isEmpty)
    assert(writeLayer("/w/run/candidates/data/snap-0") == "extract")
    assert(writeLayer("/w/run/triples/data/snap-0") == "extract")
    assert(writeLayer("/w/run/alias_dict/data/snap-0") == "link")
    assert(writeLayer("/w/run/linked_triples/data/snap-0") == "link")
    assert(writeLayer("/w/run/entity_canon/data/snap-0") == "canon")
    assert(writeLayer("/w/run/canonical_triples/data/snap-0") == "link")
    assert(writeLayer("/w/run/triples__lineage/data/snap-0") == "tableio.lineage")
    assert(writeLayer("/w/run/__metrics/triples/data/snap-0") == "tableio.commit")
    assert(writeLayer("/w/run/cc/cc_labels/data/snap-4") == "tableio.commit")
  }

  test("a job's layer comes from its write target, else its issuer, else its SQL execution") {
    val execs = Map(
      1L -> ExecRec(1, Some("KgPipeline.scala"), Some("/r/alias_dict/data/snap-0"), false),
      2L -> ExecRec(2, Some("ConnectedComponents.scala"), None, true),
      3L -> ExecRec(3, None, None, false))
    def job(exec: Option[Long], iss: Option[String]) = JobRec(0, 0, 1, exec, iss, Nil)
    assert(jobLayer(job(Some(1), Some("TableIO.scala")), execs) == "link")
    assert(jobLayer(job(Some(2), None), execs) == "canon")
    assert(jobLayer(job(Some(2), Some("Ranks.scala")), execs) == "link")
    assert(jobLayer(job(Some(3), None), execs) == "link")
    assert(jobLayer(job(None, None), execs) == "link")
  }

  private def stage(id: Int, t0: Long, t1: Long, input: Long = 0, shuffleOut: Long = 0) =
    StageRec(id, t0, t1, 4, input, shuffleOut, 0, 0, 0, 0, 0, 0, 0, IndexedSeq.empty)

  test("corpus scan stages: pure redistribution is corpus, fused stages split in order") {
    assert(stageShares(stage(0, 0, 1000, input = 10, shuffleOut = 10), "extract", 10, 0.2, 0.5) ==
      Seq("corpus" -> 1.0))
    // pass 1 of the in-memory path: scan + kernel + partial aggregation
    val p1 = stageShares(stage(0, 0, 1000, input = 10, shuffleOut = 3), "link", 10, 0.2, 0.5).toMap
    assert(math.abs(p1("corpus") - 0.2) < 1e-9)
    assert(math.abs(p1("extract") - 0.3) < 1e-9)
    assert(math.abs(p1("link") - 0.5) < 1e-9)
    // a job charged to extract keeps the whole non-scan part
    val ex = stageShares(stage(0, 0, 1000, input = 10), "extract", 10, 0.2, 0.5).toMap
    assert(math.abs(ex("extract") - 0.8) < 1e-9 && !ex.contains("link"))
    // a stage shorter than the standalone scan is all corpus
    assert(stageShares(stage(0, 0, 100, input = 10), "link", 10, 0.2, 0.5) == Seq("corpus" -> 1.0))
    // any other stage belongs to its job's layer
    assert(stageShares(stage(0, 0, 1000, input = 9), "canon", 10, 0.2, 0.5) == Seq("canon" -> 1.0))
  }

  test("self times plus the driver gap cover the window exactly") {
    val execs = Map(
      1L -> ExecRec(1, Some("ConnectedComponents.scala"), None, true),
      2L -> ExecRec(2, Some("Linking.scala"), None, false))
    val jobs = Seq(
      JobRec(1, 100, 400, Some(1), None, Seq(10, 11)),
      JobRec(2, 300, 700, Some(2), None, Seq(20)),
      JobRec(3, 800, 950, None, None, Seq(30)))
    val stages = Seq(
      stage(10, 110, 250), stage(11, 250, 390), stage(20, 320, 690),
      stage(30, 820, 940, input = 50))
    val w = Window(0, 1000, jobs, stages, execs)
    val ch = charge(w, docs = 50, scanS = 0.05, kernelS = 0.1)
    val total = ch.selfS.values.sum + ch.gapS
    assert(math.abs(total - 1.0) < 1e-9, s"covered $total s of 1.0 s")
    // no job runs in [0,100), [700,800) and [950,1000)
    assert(math.abs(ch.gapS - 0.25) < 1e-9)
    // stage 30 scans the corpus inside a link job: 50 ms corpus, 50 ms extract
    assert(math.abs(ch.selfS("corpus") - 0.05) < 1e-9)
    assert(math.abs(ch.selfS("extract") - 0.05) < 1e-9)
    // canon and link overlap in [320, 390): the overlap is split evenly
    assert(math.abs(ch.selfS("canon") - (0.010 + 0.140 + 0.070 + 0.035)) < 1e-9)
  }

  test("spans outside the window are clipped") {
    val jobs = Seq(JobRec(1, 50, 2000, None, Some("Linking.scala"), Seq(1)))
    val w = Window(100, 1100, jobs, Seq(stage(1, 60, 1900)), Map.empty)
    val ch = charge(w, 0, 0, 0)
    assert(math.abs(ch.selfS("link") - 1.0) < 1e-9 && ch.gapS == 0.0)
  }
}
