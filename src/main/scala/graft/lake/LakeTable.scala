package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets

/** Iceberg-shaped lake layer over Parquet (SURVEY.md §7.4 — no Iceberg jar in
  * /opt/spark/jars, so the north_rule's "Iceberg table" behaviors are
  * implemented against public Spark/Hadoop APIs only):
  *
  *  - hash-bucket/time partitioned Parquet data dirs,
  *  - one JSON manifest per partition with row counts, lineage and metrics,
  *  - atomic commit (manifest written to a temp path, then rename — the
  *    semantic heir of the disk-buffer ledger's writer/reader record ids,
  *    /root/reference/lib/buffer/src/disk/ledger.rs:36-47),
  *  - resume: a rerun skips partitions whose manifest is committed and
  *    recomputes only the missing ones (torn uncommitted data dirs are wiped
  *    before rewrite, so the result is idempotent),
  *  - a schema pinned at the first commit (`_schema.json`, written by the
  *    same tmp + rename), so read() plans without a schema-inference job and
  *    append() refuses a frame of another shape,
  *  - retention: partition-level expire deletes data + manifest
  *    (exporter TTL GC analog, /root/reference/src/sinks/prometheus_exporter.rs:457-482).
  *
  * Uses the Hadoop FileSystem API throughout, so the same code addresses
  * HDFS/S3A on a real cluster and local files here.
  */
final class LakeTable(spark: SparkSession, basePath: String, tier: String, partCol: String) {
  private val dataDir = s"$basePath/$tier/data"
  private val manifestDir = s"$basePath/$tier/_manifests"
  private val schemaPath = new Path(s"$basePath/$tier/_schema.json")
  private def fs: FileSystem = new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Driver-side parallel map over partition-granular FS work (rename /
    * footer read / manifest write). The round-1 serial loop was fine at 10²
    * partitions and a commit-latency wall at 10⁵ — commit cost must stay
    * O(partitions / threads). Hadoop FileSystem instances are cached and
    * thread-safe for local/HDFS/S3A.
    */
  private def parMap[A, B](items: Seq[A], parallelism: Int = 32)(f: A => B): Seq[B] =
    if (items.lengthCompare(2) < 0) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, items.size))
      try items.map(a => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(a)
      })).map(_.get())
      finally pool.shutdown()
    }

  /** Partition values with a committed manifest. */
  def committedPartitions(): Set[String] = {
    val dir = new Path(manifestDir)
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).iterator
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(_.stripSuffix(".json"))
      .toSet
  }

  /** Write `df` partitioned by `partCol`, skipping already-committed
    * partitions, and commit one manifest per newly written partition.
    * Returns the newly committed partition values. `df` must be
    * deterministic for resume to be byte-stable, and its field names and
    * types (nullability aside) must be the table's pinned schema: a
    * mismatch throws before anything is written.
    */
  def append(df: DataFrame, lineage: String): Seq[String] = {
    val appendStart = System.nanoTime()
    val pinned = pinnedSchema()
    require(pinned.forall(DataTypeUtils.equalsIgnoreNullability(_, df.schema)),
      s"$tier's schema is pinned to ${pinned.get.simpleString}; refusing ${df.schema.simpleString}")
    val committed = committedPartitions()
    // Single pipeline pass: stage everything uncommitted, then promote staged
    // partition dirs by rename. (A distinct() pre-pass to discover partition
    // values would run the whole upstream pipeline a second time.)
    val staging = new Path(s"$basePath/$tier/_staging_${java.util.UUID.randomUUID().toString.take(8)}")
    // the staging dir is deleted whether the write, the promote or neither
    // throws, so a failed append leaves nothing behind under the tier
    val todo = try {
      resumeFilter(df, committed).write.mode("overwrite").partitionBy(partCol).parquet(staging.toString)
      val stagedDirs = fs.listStatus(staging).iterator
        .map(_.getPath).filter(_.getName.startsWith(s"$partCol=")).toSeq
      // promote: wipe torn target dirs, rename staged dirs into place —
      // parallel across partitions (renames are copies on object stores; a
      // serial loop over 10⁵ of them is a commit wall)
      if (stagedDirs.nonEmpty) fs.mkdirs(new Path(dataDir))
      parMap(stagedDirs) { d =>
        val dst = new Path(s"$dataDir/${d.getName}")
        if (fs.exists(dst)) fs.delete(dst, true)
        if (!fs.rename(d, dst)) throw new IllegalStateException(s"promote failed: $d -> $dst")
      }
      stagedDirs.map(_.getName.stripPrefix(s"$partCol=")).sorted
    } finally fs.delete(staging, true)
    if (todo.isEmpty) return Nil
    // pin the schema before the table's first manifest makes any row visible
    if (pinned.isEmpty && committed.isEmpty)
      atomicWrite(schemaPath, df.schema.json)

    // per-partition manifest: file census and row counts straight from the
    // parquet footers on the driver — a Spark job here would add a whole
    // scheduling round-trip per append (measured ~1s each; 7 appends per
    // cascade made it the scaling floor); footer reads are I/O-bound and run
    // on the parallel pool
    parMap(todo) { p =>
      val files = fs.listStatus(new Path(s"$dataDir/$partCol=$p"))
        .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName).toSeq
      val rows = files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(f.getPath, spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
      // per-append METRICS committed beside the data (the internal_metrics /
      // selfstat analog, /root/reference/src/sources/internal_metrics.rs):
      // rows, bytes, file census and append wall time, queryable via
      // internalMetrics()
      val wallMs = (System.nanoTime() - appendStart) / 1000000L
      val manifest =
        s"""{"table":"$tier","partition":"$partCol=$p","rows":$rows,
           |"bytes":${files.map(_.getLen).sum},"n_files":${files.size},"wall_ms":$wallMs,
           |"files":[${files.map(f => "\"" + f.getPath.getName + "\"").mkString(",")}],
           |"lineage":"${lineage.replace("\"", "'")}",
           |"committed_at":"${java.time.Instant.now()}"}""".stripMargin.replace("\n", "")
      commitManifest(p, manifest)
    }
    todo
  }

  /** The pipeline's own telemetry as a DataFrame — one row per committed
    * partition with rows/bytes/files/wall-ms and lineage, read straight from
    * the manifest JSONs (the queryable internal_metrics surface; uncommitted
    * tmp manifests are dot-files and invisible to the reader).
    */
  def internalMetrics(): DataFrame =
    spark.read.schema(LakeTable.ManifestSchema).json(manifestDir)
      .select(col("table").as("table_name"), col("partition").as("part"),
        col("rows").as("n_rows"), col("bytes").as("n_bytes"), col("n_files"),
        col("wall_ms"), col("lineage"), col("committed_at"))

  /** Resume filter as a broadcast LEFT ANTI join against the (small)
    * committed-partitions frame: at 10⁵ committed partitions an isin(...)
    * predicate is a 10⁵-element In the planner must carry and codegen; the
    * anti join is one broadcast hash probe per row. `committed` holds
    * directory names, which the writer escapes (`a:0` is committed as
    * `a%3A0`), so they are unescaped before they meet the column's values.
    */
  private[graft] def resumeFilter(df: DataFrame, committed: Set[String]): DataFrame =
    if (committed.isEmpty) df
    else {
      val values = committed.toSeq.map(ExternalCatalogUtils.unescapePathName).sorted
      val committedDf = spark.createDataFrame(
        java.util.Arrays.asList(values.map(org.apache.spark.sql.Row(_)): _*),
        new org.apache.spark.sql.types.StructType()
          .add("_committed_part", org.apache.spark.sql.types.StringType))
      df.join(broadcast(committedDf),
        col(partCol).cast("string") === col("_committed_part"), "left_anti")
    }

  private def commitManifest(partition: String, json: String): Unit =
    atomicWrite(new Path(s"$manifestDir/$partition.json"), json)

  /** Write `text` to a dot-prefixed temp file beside `dst`, then rename it
    * into place: readers see the old file or the whole new one, never a torn
    * write. */
  private def atomicWrite(dst: Path, text: String): Unit = {
    fs.mkdirs(dst.getParent)
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) throw new IllegalStateException(s"commit failed: $dst")
  }

  /** The schema pinned by the table's first commit; None for a table not yet
    * committed, or one written before schemas were pinned. */
  private def pinnedSchema(): Option[StructType] =
    if (!fs.exists(schemaPath)) None
    else Some(DataType.fromJson(readText(schemaPath)).asInstanceOf[StructType])

  private def readText(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** Read only committed partitions (uncommitted/torn data is invisible) by
    * enumerating their directory paths directly — planning cost is
    * O(committed dirs listed), with no giant In-predicate for the optimizer
    * to carry (a 10⁵-element isin was the round-1 planner cost) and no
    * listing of uncommitted siblings at all. basePath keeps the partition
    * column in the schema. With a pinned schema no footer is read to plan
    * the scan (schema inference is a Spark job per read), and a table with
    * nothing committed reads as an empty frame of that schema.
    */
  def read(): DataFrame = {
    val committed = committedPartitions().toSeq.sorted
    val unpinned = spark.read.option("basePath", dataDir)
    // the partition column goes last, where partition discovery puts it, so
    // an empty read has the same column order as a non-empty one
    val reader = pinnedSchema().fold(unpinned)(s =>
      unpinned.schema(StructType(s.filterNot(_.name == partCol) :+ s(partCol))))
    if (committed.isEmpty) reader.parquet(dataDir).filter(lit(false))
    else reader.parquet(committed.map(p => s"$dataDir/$partCol=$p"): _*)
  }

  /** Retention: drop partitions for which `expired` holds. Partition-predicate
    * delete + manifest removal; returns dropped partition values.
    */
  def expire(expired: String => Boolean): Seq[String] = {
    val dropped = committedPartitions().filter(expired).toSeq.sorted
    parMap(dropped) { p =>
      // manifest first: a partition without a manifest is invisible to read()
      fs.delete(new Path(s"$manifestDir/$p.json"), false)
      val d = new Path(s"$dataDir/$partCol=$p")
      if (fs.exists(d)) fs.delete(d, true)
    }
    dropped
  }

  def manifestJson(partition: String): Option[String] = {
    val p = new Path(s"$manifestDir/$partition.json")
    if (!fs.exists(p)) None else Some(readText(p))
  }
}

object LakeTable {

  /** The keys `append` writes into every manifest. */
  private val ManifestSchema = new StructType()
    .add("table", StringType).add("partition", StringType)
    .add("rows", LongType).add("bytes", LongType).add("n_files", LongType)
    .add("wall_ms", LongType).add("files", ArrayType(StringType))
    .add("lineage", StringType).add("committed_at", StringType)

  /** A fresh local temp directory `prefix…` for a lake that must outlive the
    * code that builds it (frames read it back lazily), so it is deleted
    * recursively when the JVM's Hadoop FileSystems close at exit.
    */
  def tempBase(spark: SparkSession, prefix: String): String = {
    val base = java.nio.file.Files.createTempDirectory(prefix).toString
    val path = new Path(base)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).deleteOnExit(path)
    base
  }
}
