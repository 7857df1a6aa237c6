package graft.perfbench

import graft.pipeline.KgPipeline
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Traced reps on tiny corpora: the spans must account for the rep's wall
  * time, and the durable run's commits must be recognised.
  */
class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val dir = Files.createTempDirectory("perfbench-trace")
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Runner.deleteTree(dir)
  }

  private def traced(f: => Unit): Attribution.Window = {
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    val t0 = System.currentTimeMillis()
    f
    val t1 = System.currentTimeMillis()
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tracer)
    tracer.window(t0, t1)
  }

  private def accounted(w: Attribution.Window, docs: Long) = {
    val ch = Attribution.charge(w, docs, scanS = 0.01, kernelS = 0.02)
    (ch, ch.selfS.values.sum + ch.gapS, (w.t1 - w.t0) / 1000.0)
  }

  test("in-memory rep: layer self times plus the driver gap equal the rep wall time") {
    val corpus = dir.resolve("replica").toString
    Gen.write(spark, 1L, Gen.Replica(base = 40, copies = 4), corpus)
    val w = traced(Runner.checksum(KgPipeline.canonicalTriplesInMemory(Runner.docs(spark, corpus))))
    val (ch, total, wall) = accounted(w, 160)
    assert(math.abs(total - wall) <= Runner.accountingTolerance * wall + 0.005)
    assert(Set("extract", "link", "canon").subsetOf(ch.selfS.keySet), ch.selfS)
    // both corpus passes are seen as scans of every document
    assert(w.stages.count(_.inputRecords == 160) == 2)
    assert(w.jobs.exists(j => j.execId.flatMap(w.execs.get).exists(_.ccRound)))
  }

  test("durable rep: every stage commit is recognised and charged") {
    val corpus = dir.resolve("zipf").toString
    Gen.write(spark, 1L, Gen.Zipf(n = 200), corpus)
    val run = dir.resolve("run").toString
    val w = traced(KgPipeline.run(spark, corpus, run))
    val targets = w.jobs.flatMap(_.execId.flatMap(w.execs.get)).flatMap(_.writeTarget)
    KgPipeline.stages.foreach { s =>
      assert(targets.exists(_.contains(s"/$s/data/")), s"no commit of $s in $targets")
      assert(targets.exists(_.contains(s"/${s}__lineage/")), s"no lineage commit of $s")
    }
    val (ch, total, wall) = accounted(w, 200)
    assert(math.abs(total - wall) <= Runner.accountingTolerance * wall + 0.005)
    assert(Set("extract", "link", "canon", "tableio.lineage", "tableio.commit")
      .subsetOf(ch.selfS.keySet), ch.selfS)
  }
}
