package graft.tableio

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, regexp_extract, spark_partition_id, udaf}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** Iceberg-style table layer: partitioned Parquet data files + a JSON
  * snapshot commit log with atomic-rename commits (SURVEY.md §7.0 — no
  * Iceberg runtime jar ships offline, so this emulates the snapshot/manifest
  * behavior behind a small API that a real Iceberg catalog could replace).
  *
  * Layout:
  *   table/
  *     data/snap-<v>/...          partitioned parquet for snapshot v
  *     snapshots/v<v>.json        manifest: data dir, row count, schema,
  *                                rows per write task
  *     snapshots/CURRENT          file containing the committed version
  *
  * Commit protocol: data is written fully, the manifest is written to a temp
  * file, then CURRENT is replaced by atomic move — readers see either the old
  * or the new snapshot, never a partial one. Re-running a failed job never
  * corrupts a committed snapshot (idempotent writes, north-star
  * resumability).
  *
  * The manifest carries everything a reader or auditor needs without touching
  * the data: the row count and the rows written by each write task are
  * observed during the write itself, and reads pass the manifest's schema to
  * the parquet scan, so neither a commit nor a read runs a second job.
  */
object TableIO {

  /** @param partRows rows written per write task (`spark_partition_id()` of
    *   the task, which is also the `part-NNNNN` number of its files); tasks
    *   that wrote no rows are absent. None for a manifest written before the
    *   field existed.
    */
  case class Snapshot(version: Long, dataDir: String, rows: Long, schemaJson: String,
                      partRows: Option[Map[Int, Long]]) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  private def snapDir(table: String): Path = Paths.get(table, "snapshots")

  def currentVersion(table: String): Option[Long] = {
    val cur = snapDir(table).resolve("CURRENT")
    if (Files.exists(cur)) Some(Files.readString(cur).trim.toLong) else None
  }

  /** The manifest of the committed snapshot (no data is read). */
  def current(table: String): Snapshot =
    readSnapshot(table, currentVersion(table).getOrElse(sys.error(s"no committed snapshot in $table")))

  def readSnapshot(table: String, version: Long): Snapshot = {
    val txt = Files.readString(snapDir(table).resolve(s"v$version.json"))
    // minimal JSON codec (fields are under our control, no nesting beyond
    // the flat partRows object)
    def field(name: String): String = {
      val m = ("\"" + name + "\"\\s*:\\s*(\"(?:[^\"\\\\]|\\\\.)*\"|\\d+)").r
        .findFirstMatchIn(txt).getOrElse(sys.error(s"manifest field $name missing"))
      val v = m.group(1)
      if (v.startsWith("\"")) v.substring(1, v.length - 1).replace("\\\"", "\"").replace("\\\\", "\\")
      else v
    }
    val partRows = "\"partRows\"\\s*:\\s*\\{([^}]*)\\}".r.findFirstMatchIn(txt).map { m =>
      "\"(\\d+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(m.group(1))
        .map(p => p.group(1).toInt -> p.group(2).toLong).toMap
    }
    Snapshot(field("version").toLong, field("dataDir"), field("rows").toLong, field("schema"), partRows)
  }

  /** Rows per write task, keyed by `spark_partition_id()`. */
  private object TaskRows extends Aggregator[Int, Map[Int, Long], Map[Int, Long]] {
    def zero: Map[Int, Long] = Map.empty
    def reduce(b: Map[Int, Long], part: Int): Map[Int, Long] = b.updated(part, b.getOrElse(part, 0L) + 1)
    def merge(a: Map[Int, Long], b: Map[Int, Long]): Map[Int, Long] =
      b.foldLeft(a) { case (m, (part, n)) => m.updated(part, m.getOrElse(part, 0L) + n) }
    def finish(b: Map[Int, Long]): Map[Int, Long] = b
    def bufferEncoder = ExpressionEncoder[Map[Int, Long]]()
    def outputEncoder = bufferEncoder
  }

  /** Rows per write task counted from the committed files: a write task's
    * files are named `part-<its partition id>-…`. The speculation-safe
    * replacement for the observed counts (one scan of the snapshot).
    */
  def countFileParts(spark: SparkSession, dataDir: String, schema: StructType): Map[Int, Long] =
    spark.read.schema(schema).parquet(dataDir)
      .groupBy(regexp_extract(col("_metadata.file_name"), "^part-(\\d+)", 1).cast("int").as("part"))
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Commit `df` as the next snapshot of `table`. Returns the snapshot.
    *
    * Crash-idempotency: a job that died after writing v<N>.json but before
    * updating CURRENT leaves an orphaned manifest; the next version is
    * therefore max(all manifests, CURRENT) + 1 so a rerun skips the orphan
    * instead of colliding with it, and the manifest move itself is
    * REPLACE_EXISTING (contents are regenerated deterministically) so even a
    * same-version retry can never wedge the table (ADVICE.md round 1).
    */
  def commit(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Snapshot = {
    val version =
      (currentVersion(table).toSeq ++ versions(table)).reduceOption(_ max _).map(_ + 1).getOrElse(0L)
    val dataDir = s"$table/data/snap-$version"
    // rows per write task observed during the write itself (one pass over
    // the data) — re-reading the freshly written parquet just to count would
    // double the I/O of every stage commit. Observation metrics can
    // over-count under speculative execution (both task attempts feed the
    // accumulator), so the cheap path is only valid with speculation off —
    // with it on, fall back to counting the committed files (ADVICE round 2).
    val speculative = df.sparkSession.sparkContext.getConf
      .getBoolean("spark.speculation", defaultValue = false)
    val obs = Observation(s"tableio-rows-$version")
    // the partition id is projected BELOW the observation: evaluated inside
    // the observed aggregate itself it is never initialized and reads 0
    val part = "__tableio_part"
    val writer = df.withColumn(part, spark_partition_id())
      .observe(obs, udaf(TaskRows, Encoders.scalaInt)(col(part)).as("parts"))
      .drop(part)
      .write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer).parquet(dataDir)
    val partRows =
      if (speculative) countFileParts(df.sparkSession, dataDir, df.schema)
      else obs.get("parts").asInstanceOf[scala.collection.Map[Int, Long]].toMap
    val rows = partRows.values.sum
    Files.createDirectories(snapDir(table))
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val parts = partRows.toSeq.sorted.map { case (p, n) => s""""$p": $n""" }.mkString("{", ", ", "}")
    val manifest =
      s"""{"version": $version, "dataDir": "${esc(dataDir)}", "rows": $rows, "schema": "${esc(df.schema.json)}", "partRows": $parts}"""
    val tmp = Files.createTempFile(snapDir(table), "manifest", ".tmp")
    Files.writeString(tmp, manifest)
    Files.move(tmp, snapDir(table).resolve(s"v$version.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val curTmp = Files.createTempFile(snapDir(table), "current", ".tmp")
    Files.writeString(curTmp, version.toString)
    Files.move(curTmp, snapDir(table).resolve("CURRENT"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    Snapshot(version, dataDir, rows, df.schema.json, Some(partRows))
  }

  /** S9: prediction TSV sink — the reference emits its prediction files as
    * tab-separated text (test_pred_* outputs, relembed.py:616-625 era
    * tooling); distributed writers emit one shard per partition like any
    * text sink.
    */
  def writeTsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("sep", "\t").option("header", "true")
      .csv(path)

  /** Read the current committed snapshot (partition pruning + pushdown apply
    * as with any parquet scan; partition columns come back from dir layout,
    * typed by the manifest schema).
    */
  def read(spark: SparkSession, table: String): DataFrame = scan(spark, current(table))

  /** List all snapshot versions (time travel). */
  def versions(table: String): Seq[Long] =
    if (!Files.exists(snapDir(table))) Nil
    else Files.list(snapDir(table)).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toLong }
      .toSeq.sorted

  def readVersion(spark: SparkSession, table: String, version: Long): DataFrame =
    scan(spark, readSnapshot(table, version))

  // the manifest's schema replaces parquet footer inference, which would
  // launch a Spark job per read
  private def scan(spark: SparkSession, snap: Snapshot): DataFrame =
    spark.read.schema(snap.schema).parquet(snap.dataDir)
}
