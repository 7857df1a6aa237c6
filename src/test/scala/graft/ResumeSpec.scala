package graft

import graft.ckpt.StageLog
import graft.pipeline.KgPipeline
import graft.tableio.TableIO
import java.nio.file.Files
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** TableIO snapshot semantics + checkpointed resumability (north rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  */
class ResumeSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(prefix: String) =
    Files.createTempDirectory(prefix).toString

  /** Spark jobs launched by `f` on this thread (tagged by a job group). */
  private def jobsOf(f: => Unit): Int = {
    val group = s"resume-spec-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, group)
    try f finally {
      spark.sparkContext.clearJobGroup()
      ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get
  }

  private def fields(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => (f.name, f.dataType))

  test("TableIO: a manifest-schema read matches an inferred read (plain, int and string partitions)") {
    val df = Seq((1L, "a", 3, "p1", 0.5), (2L, "b", 7, "p2", 0.25), (3L, "c", 3, "p1", 1.0))
      .toDF("id", "v", "entity_bucket", "pred", "score")
    for (partitionBy <- Seq(Nil, Seq("entity_bucket"), Seq("pred"))) {
      val table = tmpDir("graft-schema")
      val snap = TableIO.commit(df.repartition(2), table, partitionBy)
      val viaManifest = TableIO.read(spark, table)
      val inferred = spark.read.parquet(snap.dataDir)
      assert(fields(viaManifest) == fields(inferred), s"partitionBy=$partitionBy")
      assert(viaManifest.collect().toSet == inferred.collect().toSet)
      assert(fields(TableIO.readVersion(spark, table, snap.version)) == fields(inferred))
    }
  }

  test("TableIO: observed per-task counts equal the counts taken from the committed files") {
    // the speculation fallback (countFileParts) and the observed counts must
    // agree task for task, partitioned or not
    val df = spark.range(0, 1000).select($"id", ($"id" % 5).cast("int").as("entity_bucket"))
    for (partitionBy <- Seq(Nil, Seq("entity_bucket"))) {
      val table = tmpDir("graft-parts")
      val snap = TableIO.commit(df.repartition(3, $"id"), table, partitionBy)
      val observed = snap.partRows.get
      assert(observed.keySet == Set(0, 1, 2) && snap.rows == 1000L)
      assert(TableIO.countFileParts(spark, snap.dataDir, snap.schema) == observed)
      assert(TableIO.current(table).partRows.contains(observed), "manifest round trip")
    }
  }

  test("StageLog: TableIO.read launches no job and a fresh runStage exactly three") {
    val runDir = tmpDir("graft-jobs")
    val log = new StageLog(spark, runDir)
    // data write + lineage commit + metrics commit; the read-back is free
    assert(jobsOf(log.runStage("s1")(Seq((1L, "x"), (2L, "y")).toDF("id", "v"))) == 3)
    assert(jobsOf(TableIO.read(spark, log.stagePath("s1"))) == 0)
    assert(jobsOf(log.runStage("s1")(sys.error("committed stage must not recompute"))) == 0)
  }

  test("pipeline: lineage sums to the manifest rows, and a kill before bookkeeping is repaired") {
    val runDir = tmpDir("graft-bookkeeping")
    val out = KgPipeline.run(spark, sfDir, runDir).collect().toSet
    val log = new StageLog(spark, runDir)
    def counts(s: String) =
      (log.lineage(Seq(s)).collect().toSet, log.metrics(Seq(s)).collect().toSet)
    val fresh = KgPipeline.stages.map(s => s -> counts(s)).toMap
    for (s <- KgPipeline.stages) {
      val manifestRows = log.rows(s)
      assert(log.lineage(Seq(s)).agg(sum("rows")).first().getLong(0) == manifestRows, s)
      assert(TableIO.read(spark, log.stagePath(s)).count() == manifestRows, s)
    }
    // a kill after each stage's data commit but before its lineage and
    // metrics commits: the rerun recomputes nothing and rebuilds both; the
    // triples manifest predates per-task counts, so its lineage is rebuilt
    // by counting the committed files
    val manifest = java.nio.file.Paths.get(log.stagePath("triples"), "snapshots",
      s"v${TableIO.currentVersion(log.stagePath("triples")).get}.json")
    Files.writeString(manifest, Files.readString(manifest).replaceAll(""", "partRows": \{[^}]*\}""", ""))
    assert(TableIO.current(log.stagePath("triples")).partRows.isEmpty)
    for (s <- KgPipeline.stages) {
      new scala.reflect.io.Directory(new java.io.File(s"$runDir/${s}__lineage")).deleteRecursively()
      new scala.reflect.io.Directory(new java.io.File(s"$runDir/__metrics/$s")).deleteRecursively()
    }
    assert(KgPipeline.run(spark, sfDir, runDir).collect().toSet == out)
    KgPipeline.stages.foreach(s => assert(counts(s) == fresh(s), s))
  }

  test("TableIO: atomic snapshot commit, read-back, versioning, time travel") {
    val table = tmpDir("graft-table")
    val s0 = TableIO.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), table)
    assert(s0.version == 0 && s0.rows == 2)
    val s1 = TableIO.commit(Seq((3L, "c")).toDF("id", "v"), table)
    assert(s1.version == 1 && TableIO.currentVersion(table).contains(1L))
    assert(TableIO.read(spark, table).collect().map(_.getLong(0)).toSet == Set(3L))
    assert(TableIO.readVersion(spark, table, 0).count() == 2)
    assert(TableIO.versions(table) == Seq(0L, 1L))
  }

  test("TableIO: partitioned commit prunes partitions at scan") {
    val table = tmpDir("graft-part")
    val df = Seq(("p1", 1L), ("p1", 2L), ("p2", 3L)).toDF("pred", "x")
    TableIO.commit(df, table, partitionBy = Seq("pred"))
    val scan = TableIO.read(spark, table).filter($"pred" === "p1")
    assert(scan.count() == 2)
    // partition pruning visible in the physical plan
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || scan.inputFiles.forall(_.contains("pred=p1")),
      s"expected pruned scan, got:\n$plan")
  }

  test("StageLog: stage skips recomputation once committed") {
    val runDir = tmpDir("graft-run")
    val log = new StageLog(spark, runDir)
    var computeCount = 0
    def runOnce() = log.runStage("s1") {
      computeCount += 1
      Seq((1L, "x")).toDF("id", "v")
    }
    runOnce(); runOnce(); runOnce()
    assert(computeCount == 1, "committed stage must not recompute")
    // lineage + metrics exist
    assert(log.lineage(Seq("s1")).agg(sum("rows")).first().getLong(0) == 1L)
    assert(log.metrics(Seq("s1")).select("rows").first().getLong(0) == 1L)
  }

  test("connected components: mid-run kill resumes from durable labels exactly") {
    import graft.canon.ConnectedComponents
    // a path graph (diameter > checkpoint interval) so convergence takes
    // several rounds and a mid-run kill leaves genuinely partial labels
    val n = 12L
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val clean = ConnectedComponents.run(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clean.forall(_._2 == 0L), "path graph collapses to component 0")

    // "kill" after 3 rounds (one durable checkpoint at round 2 with
    // checkpointEvery=2), then resume with the same ckptDir
    val ckpt = tmpDir("graft-cc")
    ConnectedComponents.run(edges, maxIter = 3, checkpointEvery = 2,
      ckptDir = Some(ckpt))
    assert(TableIO.currentVersion(s"$ckpt/cc_labels").isDefined,
      "durable label snapshot must exist after the partial run")
    val partial = TableIO.read(spark, s"$ckpt/cc_labels").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(partial.exists(_._2 != 0L), "partial run must not be converged yet")
    val resumed = ConnectedComponents.run(edges, checkpointEvery = 2,
      ckptDir = Some(ckpt)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(resumed == clean, "resumed CC must equal the clean run")
  }

  test("pipeline: kill-and-resume reproduces the fresh-run result exactly") {
    val freshDir = tmpDir("graft-fresh")
    val resumeDir = tmpDir("graft-resume")

    val fresh = KgPipeline.run(spark, sfDir, freshDir).collect().toSet

    // simulate a kill after the 2nd stage: run only candidates+triples by
    // running the full pipeline into resumeDir, then deleting the downstream
    // stage commits (as if the job died before committing them)
    KgPipeline.run(spark, sfDir, resumeDir)
    import scala.reflect.io.Directory
    for (stage <- Seq("alias_dict", "linked_triples", "entity_canon", "canonical_triples")) {
      new Directory(new java.io.File(s"$resumeDir/$stage")).deleteRecursively()
      new Directory(new java.io.File(s"$resumeDir/${stage}__lineage")).deleteRecursively()
      new Directory(new java.io.File(s"$resumeDir/__metrics/$stage")).deleteRecursively()
    }
    val resumed = KgPipeline.run(spark, sfDir, resumeDir).collect().toSet
    assert(resumed == fresh, "resumed run must equal fresh run")

    // all stages recorded lineage + metrics
    val log = new StageLog(spark, resumeDir)
    assert(KgPipeline.stages.forall(log.isCommitted))
    assert(log.metrics(KgPipeline.stages).count() == KgPipeline.stages.size)
    assert(log.lineage(KgPipeline.stages).count() >= KgPipeline.stages.size)
  }

  test("staged pipeline: salted-join degradation is row-equal to broadcast") {
    // forcing broadcastMaxDictRows = 0 sends BOTH entity joins (link +
    // canonicalize) down the Linking.saltedLeftJoin path — the committed
    // canonical triples must equal the broadcast configuration's exactly
    val bDir = tmpDir("graft-salt-b")
    val sDir = tmpDir("graft-salt-s")
    val viaBroadcast = KgPipeline.run(spark, sfDir, bDir).collect().toSet
    val viaSalted = KgPipeline.run(spark, sfDir, sDir, broadcastMaxDictRows = 0L)
      .collect().toSet
    assert(viaSalted == viaBroadcast)
    assert(viaBroadcast.nonEmpty)
  }

  test("pipeline emits canonicalized entities (plural variants merged)") {
    val runDir = tmpDir("graft-canon")
    KgPipeline.run(spark, sfDir, runDir)
    val entities = KgPipeline.entityTable(spark, runDir).cache()
    assert(entities.count() > 0)
    // stems with both singular+plural present must share a canonical id
    val byStem = entities
      .withColumn("stem", KgPipeline.stem(col("alias")))
      .groupBy("stem")
      .agg(countDistinct("canonical_id").as("n_canon"), count(lit(1)).as("n"))
    val broken = byStem.filter($"n" > 1 && $"n_canon" =!= 1).count()
    assert(broken == 0, "plural/singular alias pairs must canonicalize together")

    // north-star layout: the entity table materializes partitioned by the
    // entity-id hash bucket (Iceberg bucket-transform analog) — the data
    // directory must carry entity_bucket= partition dirs, and a one-bucket
    // read must prune to that partition
    val canonTable = graft.tableio.TableIO.read(spark, s"$runDir/entity_canon")
    assert(canonTable.columns.contains("entity_bucket"))
    val bucketDirs = new java.io.File(s"$runDir/entity_canon/data")
      .listFiles().filter(_.getName.startsWith("snap-"))
      .flatMap(_.listFiles()).map(_.getName)
      .filter(_.startsWith("entity_bucket="))
    assert(bucketDirs.nonEmpty, "entity table must lay out bucket partition dirs")
    assert(canonTable.filter($"entity_bucket" === 0).count() < canonTable.count())
  }
}
