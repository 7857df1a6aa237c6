package graft.perfbench

import graft.ckpt.StageLog
import graft.extract.Extract
import graft.pipeline.KgPipeline
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** One benchmark run: set-up, a closed loop of reps for `--seconds`, output
  * checks, and either the end-to-end metrics (`--trace 0`) or the per-layer
  * metrics (`--trace 1`). Prints one JSON result as its last stdout line and
  * archives the run, with host facts, under its own file name.
  */
object Runner {

  final case class Workload(name: String, shape: Gen.Shape, durable: Boolean)

  val workloads: Map[String, Workload] = Seq(
    Workload("stream_fused", Gen.Replica(base = 5000, copies = 6), durable = false),
    Workload("durable_run", Gen.Zipf(n = 4000), durable = true)
  ).map(w => w.name -> w).toMap

  /** Seed whose output checksums are recorded in `expected.tsv`. */
  val defaultSeed = 1L
  val setupTimes = 3
  /** Reps per run at least: one, and three in a traced run (an untraced
    * first rep, then traced and untraced reps of the same warmth to compare).
    * `--seconds` adds more when reps are short.
    */
  def minReps(trace: Boolean): Int = if (trace) 3 else 1
  val ccMaxIter = 50 // ConnectedComponents.run's default, used by both KgPipeline paths
  /** Traced-rep accounting tolerance: |self times + gap - rep wall| / rep wall. */
  val accountingTolerance = 0.02

  val perLayer: Seq[(String, String)] = Seq(
    "corpus.scan_s" -> "s", "corpus.docs" -> "count",
    "extract.wall_s" -> "s", "extract.kernel_s" -> "s", "extract.cpu_s" -> "s",
    "extract.gc_s" -> "s", "extract.passes" -> "count", "extract.triples_out" -> "count",
    "extract.triples_per_cpu_s" -> "1/s", "extract.gate_keep_ratio" -> "ratio",
    "link.wall_s" -> "s", "link.jobs" -> "count", "link.dict_rows" -> "count",
    "link.shuffle_write_mb" -> "MB", "link.task_skew" -> "ratio", "link.oov_frac" -> "ratio",
    "canon.wall_s" -> "s", "canon.rounds" -> "count", "canon.vertices" -> "count",
    "canon.edges" -> "count", "canon.components_multi" -> "count",
    "canon.shuffle_write_mb" -> "MB", "canon.converged" -> "bool",
    "tableio.commit_s" -> "s", "tableio.commits" -> "count", "tableio.write_mb" -> "MB",
    "tableio.read_s" -> "s", "tableio.lineage_s" -> "s",
    "pipeline.jobs" -> "count", "pipeline.driver_gap_s" -> "s", "pipeline.gc_s" -> "s",
    "pipeline.shuffle_write_mb" -> "MB", "pipeline.spill_mb" -> "MB",
    "pipeline.live_heap_peak_mb" -> "MB",
    "pipeline.trace_overhead_frac" -> "ratio",
    "funnel.candidates" -> "count", "funnel.triples" -> "count", "funnel.alias_dict" -> "count",
    "funnel.linked_triples" -> "count", "funnel.entity_canon" -> "count",
    "funnel.canonical_triples" -> "count")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, archive: String, expected: String, facts: Map[String, String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("archive"), need("expected"),
      kv.collect { case (k, v) if k.startsWith("fact.") => k.stripPrefix("fact.") -> v })
  }

  // ---------------------------------------------------------------- JVM probes

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
  /** Host-wide CPU jiffies (all, stolen) from /proc/stat; zeros where absent. */
  def cpuJiffies(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.exists(f)) (0L, 0L)
    else {
      val v = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (v.sum, if (v.length > 7) v(7) else 0L)
    }
  }

  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0

  /** Largest heap occupancy right after a GC, from GC notifications. */
  object LiveHeap {
    private val peak = new AtomicLong(0L)
    private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (p, u) if heapPools(p) => u.getUsed }.sum
            peak.accumulateAndGet(used, (a, b) => math.max(a, b))
          }
        }, null, null)
      case _ =>
    }
    def reset(): Unit = peak.set(0L)
    def peakMb: Double = peak.get / (1024.0 * 1024.0)
  }

  // ---------------------------------------------------------------- Spark

  /** One fixed configuration for every workload. AQE is off and shuffle
    * partitions equal the cores: with AQE on, re-planning makes seconds-long
    * reps unsteady. 2 MB input splits give every core several scan tasks.
    */
  def session(a: Args): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder().master(s"local[$cores]").appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (2L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def docs(spark: SparkSession, corpusDir: String): Dataset[(Long, String)] = {
    import spark.implicits._
    spark.read.parquet(s"$corpusDir/documents.parquet").select("doc_id", "text").as[(Long, String)]
  }

  /** Row count plus an order-independent checksum over every column. */
  def checksum(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.columns.sorted.map(col).toSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xffffffffL))),
      sum(shiftrightunsigned(h, 32))).first()
    val n = r.getLong(0)
    (n, s"$n:${r.get(1)}:${r.get(2)}")
  }

  /** Between-rep fence, outside every timed window: drop cached and
    * checkpointed blocks so each rep recomputes, and collect now so GC debt
    * is not carried into the next rep.
    */
  def fence(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.delete)
  }

  def copyTree(from: Path, to: Path): Unit = {
    deleteTree(to)
    Files.walk(from).iterator().asScala.foreach { src =>
      Files.copy(src, to.resolve(from.relativize(src)))
    }
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** The state a kill right after the `linked_triples` commit leaves: the
    * `entity_canon` and `canonical_triples` commits and the CC label
    * checkpoint are gone.
    */
  def cutAfterLinked(runDir: Path): Unit =
    Seq("entity_canon", "entity_canon__lineage", "__metrics/entity_canon",
      "canonical_triples", "canonical_triples__lineage", "__metrics/canonical_triples", "cc")
      .foreach(s => deleteTree(runDir.resolve(s)))

  // ---------------------------------------------------------------- reps

  final case class Rep(wallS: Double, resumeS: Double, cpuS: Double, heapMb: Double,
                       gcS: Double, stealFrac: Double, rows: Long, checksum: String, error: Option[String],
                       windows: Seq[(Long, Long)])

  final class Env(val a: Args, val w: Workload, var spark: SparkSession) {
    val work: Path = Paths.get(a.work)
    val corpusDir: String = work.resolve("corpus").toString
    val fullRun: Path = work.resolve("run-full")
    val resumeRun: Path = work.resolve("run-resume")
  }

  def runRep(env: Env): Rep = {
    val spark = env.spark
    LiveHeap.reset()
    val cpu0 = cpuS
    val gc0 = gcS
    val j0 = cpuJiffies()
    def steal() = {
      val j1 = cpuJiffies()
      (j1._2 - j0._2).toDouble / math.max(j1._1 - j0._1, 1L)
    }
    try {
      if (!env.w.durable) {
        val m0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val (n, sum) = checksum(KgPipeline.canonicalTriplesInMemory(docs(spark, env.corpusDir)))
        val wall = (System.nanoTime() - t0) / 1e9
        val m1 = System.currentTimeMillis()
        Rep(wall, wall, cpuS - cpu0, LiveHeap.peakMb, gcS - gc0, steal(), n, sum, None, Seq(m0 -> m1))
      } else {
        deleteTree(env.fullRun)
        val m0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val out = KgPipeline.run(spark, env.corpusDir, env.fullRun.toString)
        val wall = (System.nanoTime() - t0) / 1e9
        val m1 = System.currentTimeMillis()
        val cpu = cpuS - cpu0
        val gc = gcS - gc0
        val heap = LiveHeap.peakMb
        val (n, sum) = checksum(out)
        copyTree(env.fullRun, env.resumeRun)
        cutAfterLinked(env.resumeRun)
        val m2 = System.currentTimeMillis()
        val t2 = System.nanoTime()
        val resumed = KgPipeline.run(spark, env.corpusDir, env.resumeRun.toString)
        val resume = (System.nanoTime() - t2) / 1e9
        val m3 = System.currentTimeMillis()
        val (_, sum2) = checksum(resumed)
        val err = if (sum2 != sum) Some(s"resumed output $sum2 != full run $sum") else None
        Rep(wall, resume, cpu, heap, gc, steal(), n, sum, err, Seq(m0 -> m1, m2 -> m3))
      }
    } catch {
      case e: Exception =>
        Rep(0, 0, 0, 0, 0, 0, 0, "", Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"), Nil)
    } finally fence(spark)
  }

  /** The warm-up: the in-memory call over the corpus, which compiles the
    * extraction, dictionary and CC code every rep runs. It runs twice for the
    * in-memory workload (after one pass the next rep is still about 20%
    * slower while the JIT catches up); the durable workload runs it once plus
    * the composed extraction its stages use. Returns the in-memory output
    * checksum, which the durable output must match.
    */
  def warmUp(env: Env): String = {
    val spark = env.spark
    val passes = if (env.w.durable) 1 else 2
    val sum = (1 to passes).map { _ =>
      val (_, s) = checksum(KgPipeline.canonicalTriplesInMemory(docs(spark, env.corpusDir)))
      fence(spark)
      s
    }.last
    if (env.w.durable) {
      import spark.implicits._
      Extract.triples(Extract.candidates(Extract.docsToSentences(
        docs(spark, env.corpusDir).map { case (id, text) => graft.corpus.Corpus.buildDoc(id, text) })))
        .count()
      fence(spark)
    }
    sum
  }

  // ---------------------------------------------------------------- checks

  def expected(path: String, workload: String, seed: Long): Option[String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) None
    else Files.readAllLines(p).asScala.map(_.trim.split("\t")).collectFirst {
      case Array(w, s, c) if w == workload && s == seed.toString => c
    }
  }

  /** (alias, canonical id) map and CC graph facts of one run's output. For
    * the in-memory path the gated alias dictionary is exactly the set of
    * surfaces in the output, each with its canonical id.
    */
  final case class Audit(closureErrors: Long, dictRows: Long, vertices: Long, edges: Long,
                         componentsMulti: Long, funnel: Map[String, Long], oovFrac: Double,
                         hotShare: Double, crossDiff: Option[(Long, Long)])

  /** Share of the triple endpoints (mentions) carried by the most frequent surface. */
  def hotShare(triples: DataFrame): Double = {
    val ends = triples.select(explode(array(col("subj"), col("obj"))).as("s"))
    val top = ends.groupBy("s").count().agg(max("count"), sum("count")).first()
    if (top.isNullAt(0)) 0.0 else top.getLong(0).toDouble / top.getLong(1)
  }

  private def variantPairs(amap: DataFrame): DataFrame = {
    val a = amap.select(col("alias").as("a"), col("id").as("a_id"))
    val b = amap.select(col("alias").as("b"), col("id").as("b_id"))
    a.join(b, KgPipeline.stem(col("a")) === col("b") && col("a") =!= col("b"))
  }

  private def graphFacts(amap: DataFrame): (Long, Long, Long, Long) = {
    val amapCk = amap.localCheckpoint(eager = true)
    val pairs = variantPairs(amapCk).localCheckpoint(eager = true)
    // converged CC gives both ends of every variant edge the same label, and
    // each alias has exactly one label
    val split = pairs.filter(col("a_id") =!= col("b_id")).count() +
      amapCk.groupBy("alias").count().filter(col("count") > 1).count()
    val verts = pairs.select(col("a").as("v"), col("a_id").as("c"))
      .union(pairs.select(col("b"), col("b_id"))).distinct()
    val multi = verts.groupBy("c").count().filter(col("count") > 1).count()
    (split, verts.count(), pairs.count(), multi)
  }

  /** @param memSum checksum of the in-memory output on this corpus
    * @param durableSum checksum of the committed durable output
    */
  def audit(env: Env, traced: Boolean, memSum: String, durableSum: Option[String]): Audit = {
    val spark = env.spark
    if (!env.w.durable) {
      val out = KgPipeline.canonicalTriplesInMemory(docs(spark, env.corpusDir))
        .localCheckpoint(eager = true)
      val amap = out.select(col("subj").as("alias"), col("subj_id").as("id"))
        .union(out.select(col("obj"), col("obj_id"))).distinct().localCheckpoint(eager = true)
      val (split, verts, edges, multi) = graphFacts(amap)
      val dictRows = amap.count()
      val (cands, oov) =
        if (!traced) (0L, 0.0)
        else {
          val stream = Extract.triplesFused(docs(spark, env.corpusDir)).toDF()
          val ends = stream.select(explode(array(col("subj"), col("obj"))).as("s"))
          val r = ends.join(amap, col("s") === col("alias"), "left")
            .agg(count(lit(1)), count(when(col("alias").isNull, 1))).first()
          (r.getLong(0) / 2, r.getLong(1).toDouble / math.max(r.getLong(0), 1L))
        }
      val rows = out.count()
      val funnel = ListMap("candidates" -> cands, "triples" -> rows, "alias_dict" -> dictRows,
        "linked_triples" -> rows, "entity_canon" -> verts, "canonical_triples" -> rows)
      val hot = hotShare(out)
      fence(spark)
      Audit(split, dictRows, verts, edges, multi, funnel, oov, hot, None)
    } else {
      val run = env.fullRun.toString
      val log = new StageLog(spark, run)
      val dict = log.runStage("alias_dict")(sys.error("alias_dict is not committed"))
      val canon = log.runStage("entity_canon")(sys.error("entity_canon is not committed"))
      val amap = dict.join(canon, Seq("entity_id"), "left")
        .select(col("alias"), coalesce(col("canonical_id"), col("entity_id")).as("id"))
      val (split, _, edges, _) = graphFacts(amap)
      val dictRows = dict.count()
      val multi = canon.groupBy("canonical_id").count().filter(col("count") > 1).count()
      val funnel = ListMap.from(log.metrics(KgPipeline.stages).collect()
        .map(r => r.getString(0) -> r.getLong(1)).sortBy(p => KgPipeline.stages.indexOf(p._1)))
      val linked = log.runStage("linked_triples")(sys.error("linked_triples is not committed"))
      val o = linked.agg(count(lit(1)),
        sum(when(col("subj_id") === -1L, 1L).otherwise(0L) + when(col("obj_id") === -1L, 1L).otherwise(0L)))
        .first()
      val oov = o.getLong(1).toDouble / math.max(2 * o.getLong(0), 1L)
      // the shipped durable run and the in-memory path must emit the same
      // canonical triples on the same corpus; rows are compared only when
      // the checksums differ, to report how many differ
      val durable = log.runStage("canonical_triples")(sys.error("canonical_triples is not committed"))
      val diff = if (durableSum.contains(memSum)) (0L, 0L) else {
        val cols = Seq("subj_id", "pred", "obj_id", "subj", "obj", "doc_id", "span_idx", "score")
        val m = KgPipeline.canonicalTriplesInMemory(docs(spark, env.corpusDir)).select(cols.map(col): _*)
          .localCheckpoint(eager = true)
        val d = durable.select(cols.map(col): _*)
        (d.exceptAll(m).count(), m.exceptAll(d).count())
      }
      val hot = hotShare(durable)
      fence(spark)
      // durable CC runs over variant edges plus one self edge per entity
      Audit(split, dictRows, canon.count(), edges + dictRows, multi, funnel, oov, hot, Some(diff))
    }
  }

  // ---------------------------------------------------------------- traced metrics

  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-layer metrics of one traced rep from its span windows. */
  def layerMetrics(ws: Seq[Attribution.Window], rep: Rep, docsN: Long, scanS: Double, kernelS: Double,
                   au: Audit, durable: Boolean, work: Path): (ListMap[String, Double], Double) = {
    val charges = ws.map(w => Attribution.charge(w, docsN, scanS, kernelS))
    def self(l: String) = charges.map(_.selfS.getOrElse(l, 0.0)).sum
    val staged = ws.zip(charges).flatMap { case (w, ch) =>
      w.stages.flatMap(s => ch.share.get(s.id).map(s -> _))
    }
    def byLayer(l: String)(f: StageRec => Double) =
      staged.map { case (s, sh) => f(s) * sh.collect { case (`l`, x) => x }.sum }.sum
    def layerJobs(l: String) = charges.map(_.jobLayer.values.count(_ == l)).sum
    val mb = 1024.0 * 1024.0
    val linkStages = staged.filter(_._2.exists(_._1 == "link")).map(_._1).filter(_.taskRunMs.size >= 2)
    val skew = if (linkStages.isEmpty) 1.0 else {
      val s = linkStages.maxBy(_.taskRunMs.sum)
      s.taskRunMs.max.toDouble / math.max(median(s.taskRunMs.map(_.toDouble)), 1.0)
    }
    val jobs = ws.map(_.jobs.size).sum
    def execOf(w: Attribution.Window, j: JobRec) = j.execId.flatMap(w.execs.get)
    // rounds of one CC run (the durable rep runs CC twice: full run and resume)
    val rounds = ws.map(w => w.jobs.count(j => execOf(w, j).exists(e => e.ccRound && e.writeTarget.isEmpty))).max
    val writes = ws.map(w => w.jobs.count(j => execOf(w, j).exists(_.writeTarget.isDefined))).sum
    val passes = ws.map(_.stages.count(s => s.inputRecords == docsN)).sum
    val extractCpu = byLayer("extract")(_.cpuNs / 1e9)
    val triplesOut = if (durable) au.funnel.getOrElse("triples", 0L) else au.funnel("candidates")
    val gap = charges.map(_.gapS).sum
    val accounted = Attribution.layers.map(self).sum + gap
    val wall = rep.wallS + (if (durable) rep.resumeS else 0.0)
    val m = ListMap(
      "corpus.scan_s" -> self("corpus"),
      "corpus.docs" -> docsN.toDouble,
      "extract.wall_s" -> self("extract"),
      "extract.kernel_s" -> kernelS,
      "extract.cpu_s" -> extractCpu,
      "extract.gc_s" -> byLayer("extract")(_.gcMs / 1000.0),
      "extract.passes" -> passes.toDouble,
      "extract.triples_out" -> triplesOut.toDouble,
      "extract.triples_per_cpu_s" -> (if (extractCpu > 0) passes * triplesOut / extractCpu else 0.0),
      "extract.gate_keep_ratio" -> au.funnel("canonical_triples").toDouble /
        math.max(au.funnel("candidates"), 1L),
      "link.wall_s" -> self("link"),
      "link.jobs" -> layerJobs("link").toDouble,
      "link.dict_rows" -> au.dictRows.toDouble,
      "link.shuffle_write_mb" -> byLayer("link")(_.shuffleWriteBytes / mb),
      "link.task_skew" -> skew,
      "link.oov_frac" -> au.oovFrac,
      "canon.wall_s" -> self("canon"),
      "canon.rounds" -> rounds.toDouble,
      "canon.vertices" -> au.vertices.toDouble,
      "canon.edges" -> au.edges.toDouble,
      "canon.components_multi" -> au.componentsMulti.toDouble,
      "canon.shuffle_write_mb" -> byLayer("canon")(_.shuffleWriteBytes / mb),
      "canon.converged" -> (if (rounds >= ccMaxIter) 0.0 else 1.0),
      "tableio.commit_s" -> self("tableio.commit"),
      "tableio.commits" -> (if (durable) writes.toDouble else 0.0),
      "tableio.write_mb" -> (if (durable) (treeBytes(work.resolve("run-full")) +
        treeBytes(work.resolve("run-resume"))) / mb else 0.0),
      "tableio.read_s" -> self("tableio.read"),
      "tableio.lineage_s" -> self("tableio.lineage"),
      "pipeline.jobs" -> jobs.toDouble,
      "pipeline.driver_gap_s" -> gap,
      "pipeline.gc_s" -> rep.gcS,
      "pipeline.shuffle_write_mb" -> staged.map(_._1.shuffleWriteBytes / mb).sum,
      "pipeline.spill_mb" -> staged.map(_._1.spillBytes / mb).sum,
      "pipeline.live_heap_peak_mb" -> rep.heapMb)
    (m, accounted - wall)
  }

  // ---------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}; one of ${workloads.keys.mkString(", ")}"))
    LiveHeap.install()
    Files.createDirectories(Paths.get(a.work))
    Files.createDirectories(Paths.get(a.archive))

    // set-up: session start and corpus generation, several times, then one
    // warm-up. setup_s = median(session + corpus) + warm-up: JIT compilation
    // happens once per process, so a repeated warm-up would time a warm rep,
    // not set-up work
    var env: Env = null
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val setupRounds = (1 to setupTimes).map { _ =>
      if (env != null) env.spark.stop()
      val t0 = System.nanoTime()
      val spark = session(a)
      if (env == null) env = new Env(a, w, spark) else env.spark = spark
      val t1 = System.nanoTime()
      Gen.write(spark, a.seed, w.shape, env.corpusDir)
      ListMap("session_s" -> (t1 - t0) / 1e9, "corpus_s" -> since(t1), "total_s" -> since(t0))
    }
    val tw = System.nanoTime()
    val memSum = warmUp(env)
    val warmupS = since(tw)
    val setupS = median(setupRounds.map(_("total_s"))) + warmupS
    val spark = env.spark
    val docsN = spark.read.parquet(s"${env.corpusDir}/documents.parquet").count()

    // standalone layer timings used to split fused stages (traced run only)
    def timeIt(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    val (scanS, kernelS) =
      if (!a.trace) (0.0, 0.0)
      else {
        val scan = median((1 to 3).map(_ => timeIt(docs(spark, env.corpusDir)
          .select(sum(length(col("text")))).first())))
        val kernel = median((1 to 3).map(_ => timeIt(Extract.triplesFused(docs(spark, env.corpusDir)).count())))
        fence(spark)
        (scan, kernel)
      }

    val tracer = new Tracer
    val want = if (a.seed == defaultSeed) expected(a.expected, w.name, a.seed) else None
    val reps = scala.collection.mutable.ArrayBuffer.empty[(Rep, Option[Seq[Attribution.Window]])]
    val t0 = System.nanoTime()
    while (reps.size < minReps(a.trace) || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      // traced runs alternate reps with and without the listener, so the
      // tracing overhead is measured in the same process; the first rep is
      // untraced and left out of that comparison, because the JIT still
      // speeds up the rep after it (by a third for the first durable run)
      val traced = a.trace && reps.size % 2 == 1
      if (traced) { tracer.clear(); spark.sparkContext.addSparkListener(tracer) }
      val r0 = runRep(env)
      val first = reps.headOption.map(_._1.checksum)
      val err = r0.error
        .orElse(first.filter(_ != r0.checksum).map(f => s"checksum ${r0.checksum} != first rep $f"))
        .orElse(want.filter(_ != r0.checksum).map(x => s"checksum ${r0.checksum} != recorded $x"))
      val spans = if (!traced) None else {
        org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
        Some(r0.windows.map { case (m0, m1) => tracer.window(m0, m1) })
      }
      reps += ((r0.copy(error = err), spans))
    }
    val measuredS = (System.nanoTime() - t0) / 1e9

    // untimed checks, once per run, on the state the last rep left: the
    // durable run is compared with the in-memory path every time; the
    // in-memory audit (CC closure, layer counts) runs with the trace
    val au = if (a.trace || w.durable)
        audit(env, a.trace, memSum, reps.map(_._1).find(_.error.isEmpty).map(_.checksum))
      else Audit(0, 0, 0, 0, 0, Map.empty, 0.0, 0.0, None)
    val findings = Seq(
      if (au.closureErrors > 0) Some(s"CC labels split ${au.closureErrors} variant edges or aliases") else None,
      au.crossDiff.collect { case (x, y) if x + y > 0 =>
        s"durable canonical_triples differ from canonicalTriplesInMemory: $x rows only in durable, $y only in memory" }
    ).flatten

    // per-layer metrics of each traced rep; a rep whose CC did not converge
    // or whose spans do not account for its wall time counts as failed
    val layered = scala.collection.mutable.ArrayBuffer.empty[(ListMap[String, Double], Double)]
    reps.indices.foreach { i =>
      val (r, spans) = reps(i)
      spans.filter(_ => r.error.isEmpty).foreach { ws =>
        val (m, diff) = layerMetrics(ws, r, docsN, scanS, kernelS, au, w.durable, env.work)
        val wall = r.wallS + (if (w.durable) r.resumeS else 0.0)
        val err =
          if (m("canon.converged") == 0.0) Some(s"CC reached maxIter=$ccMaxIter rounds without converging")
          else if (math.abs(diff) > accountingTolerance * wall + 0.005)
            Some(f"layer self times + driver gap miss the rep wall time by $diff%.3f s")
          else None
        if (err.isDefined) reps(i) = (r.copy(error = err), spans)
        layered += ((m, diff))
      }
    }

    // timings come from every rep that ran to the end, so a run whose output
    // check failed still reports them (with correct = false)
    val timed = reps.filter(_._1.wallS > 0)
    val untraced = timed.filter(_._2.isEmpty).map(_._1)
    val tracedOk = timed.filter(_._2.isDefined).map(_._1)
    val errors = (reps.flatMap(_._1.error) ++ findings).distinct
    val failed = reps.count(_._1.error.isDefined)
    val errorRate = failed.toDouble / reps.size

    val metrics: ListMap[String, (Double, String)] =
      if (!a.trace) {
        def med(f: Rep => Double) = median(untraced.map(f))
        ListMap(
          "triples_per_s" -> (med(r => r.rows / r.wallS), "1/s"),
          "wall_s" -> (med(_.wallS), "s"),
          "resume_s" -> (med(_.resumeS), "s"),
          "cpu_s" -> (med(_.cpuS), "s"),
          "setup_s" -> (setupS, "s"))
      } else {
        val warmUntraced = reps.drop(1).filter(r => r._1.wallS > 0 && r._2.isEmpty).map(_._1)
        val overhead = median(tracedOk.map(_.wallS)) / median(warmUntraced.map(_.wallS)) - 1.0
        ListMap.from(perLayer.map { case (k, u) =>
          val v =
            if (k == "pipeline.trace_overhead_frac") overhead
            else k.stripPrefix("funnel.") match {
              case f if k.startsWith("funnel.") => au.funnel.getOrElse(f, 0L).toDouble
              case _ => median(layered.map(_._1(k)).toSeq)
            }
          k -> (v, u)
        })
      }
    val correct = errors.isEmpty && metrics.values.forall(m => !m._1.isNaN)

    val facts = ListMap(
      "workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "measured_s" -> measuredS, "shape" -> w.shape.toString, "docs" -> docsN,
      "cpus_available" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jdk" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "spark_conf" -> ListMap.from(spark.conf.getAll.toSeq.sortBy(_._1)
        .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
        .filterNot(_.startsWith("--add-opens"))) ++ a.facts
    val repRecords = reps.map { case (r, spans) =>
      ListMap("traced" -> spans.isDefined, "wall_s" -> r.wallS, "resume_s" -> r.resumeS, "cpu_s" -> r.cpuS,
        "live_heap_peak_mb" -> r.heapMb, "gc_s" -> r.gcS, "steal_frac" -> r.stealFrac, "rows" -> r.rows,
        "checksum" -> r.checksum, "error" -> r.error)
    }
    val result = ListMap(
      "correct" -> correct, "attempted" -> reps.size, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })
    val archive = ListMap("result" -> result, "host" -> facts, "setup_rounds" -> setupRounds, "warmup_s" -> warmupS,
      "error_rate" -> errorRate, "errors" -> errors, "reps" -> repRecords,
      "layers" -> layered.map(_._1), "accounting_error_s" -> layered.map(_._2),
      "spans" -> reps.flatMap(_._2),
      "accounting_tolerance" -> accountingTolerance, "scan_s" -> scanS, "kernel_s" -> kernelS,
      "audit" -> ListMap("closure_errors" -> au.closureErrors, "funnel" -> au.funnel,
        "alias_dict" -> au.dictRows, "hot_surface_share" -> au.hotShare,
        "cross_diff" -> au.crossDiff.map(d => Seq(d._1, d._2))))
    val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss.SSS")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
    val archiveFile = Paths.get(a.archive, s"$stamp-${w.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json")
    Files.writeString(archiveFile, Json(archive) + "\n")
    spark.stop()

    metrics.foreach { case (k, (v, u)) => println(f"$k%-30s $v%14.4f $u") }
    println(f"${"error_rate"}%-30s $errorRate%14.4f ratio  ($failed of ${reps.size} reps)")
    errors.foreach(e => println(s"error: $e"))
    println(s"archived: $archiveFile")
    println(Json(result))
  }
}
