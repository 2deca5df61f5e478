package graft

import graft.lake.LakeTable
import graft.obs.JobGroupListener
import graft.sources.TokenFixture
import graft.tiers.{TierCascade, TierRollup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Lake-layer resume semantics (FIXTURES.md §5): partition-level idempotence,
  * kill-and-rerun recomputing only uncommitted partitions, retention expire.
  */
class LakeSpec extends AnyFunSuite with SparkSuite {

  private def tmpDir(): String = tempDir("lake")

  private def obs(n: Long) =
    TokenFixture.deriveObs(TokenFixture.tokenTable(spark, n, withTokens = false))
      .select("series", "ts", "seq", "value")

  test("append commits one manifest per partition; rerun recomputes nothing") {
    val base = tmpDir()
    val results = TierCascade.run(spark, obs(5000), base)
    assert(results.forall(_.newPartitions.nonEmpty))
    val rows1m = results.head.table.read().count()
    assert(rows1m > 0)
    // rerun: everything committed, nothing new
    val again = TierCascade.run(spark, obs(5000), base)
    assert(again.forall(_.newPartitions.isEmpty))
    assert(again.head.table.read().count() == rows1m)
  }

  test("full cascade with concurrent chains: all 7 tiers commit, rerun recomputes nothing") {
    val base = tmpDir()
    val results = TierCascade.run(spark, obs(5000), base, seriesBuckets = 4, salts = 2,
      withHistograms = true, withPages = true)
    assert(results.map(_.name) ==
      Seq("1m", "1h", "1d", "hist_1m", "hist_1h", "hist_1d", "pages_1h"))
    assert(results.forall(_.newPartitions.nonEmpty))
    val counts = results.map(r => r.name -> r.table.read().count()).toMap
    assert(counts.values.forall(_ > 0))
    // rerun: every chain resumes with nothing to recompute, byte-stable reads
    val again = TierCascade.run(spark, obs(5000), base, seriesBuckets = 4, salts = 2,
      withHistograms = true, withPages = true)
    assert(again.forall(_.newPartitions.isEmpty))
    assert(again.map(r => r.name -> r.table.read().count()).toMap == counts)
  }

  test("a failing chain: cascade rethrows, releases its persists, clean rerun commits all 7") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    def cascade(base: String) = TierCascade.run(spark, obs(5000), base, seriesBuckets = 4,
      salts = 1, withHistograms = true, withPages = true)
    // a regular file where the pages chain's table directory should be: only
    // that chain fails, while the sum and histogram chains (and the fused 1m
    // persist they read) run to completion
    val broken = tmpDir()
    Files.write(java.nio.file.Paths.get(broken, "pages_1h"), "not a directory".getBytes)
    intercept[java.util.concurrent.ExecutionException](cascade(broken))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"persists left behind: ${spark.sparkContext.getPersistentRDDs.keys}")
    val results = cascade(tmpDir())
    assert(results.map(_.name) ==
      Seq("1m", "1h", "1d", "hist_1m", "hist_1h", "hist_1d", "pages_1h"))
    assert(results.forall(_.newPartitions.nonEmpty))
  }

  test("1000-partition append commits in seconds; resume and read stay exact") {
    import spark.implicits._
    val base = tmpDir()
    val lake = new LakeTable(spark, base, "wide", "pk")
    val df = spark.range(10000).select(
      (col("id") % 1000).cast("string").as("pk"), col("id").as("v"))
    // Same-filesystem I/O control: the commit path is ~2 sequential file ops
    // per partition (dir rename + manifest write) on /tmp's single virtual
    // disk, whose latency drifts several-fold with machine weather. Bound
    // the commit against a sequentially-measured 1000× (write + rename)
    // control on the same filesystem rather than an absolute wall, so a
    // slow-I/O window inflates both sides together.
    val ctlDir = java.nio.file.Paths.get(tempDir("lakectl"))
    val c0 = System.nanoTime()
    (0 until 1000).foreach { i =>
      val f = ctlDir.resolve(s"c$i.tmp")
      Files.write(f, "control".getBytes)
      Files.move(f, ctlDir.resolve(s"c$i.json"))
    }
    val ctlSecs = (System.nanoTime() - c0) / 1e9
    val t0 = System.nanoTime()
    val committed = lake.append(df, lineage = "wide test")
    val secs = (System.nanoTime() - t0) / 1e9
    assert(committed.size == 1000)
    // Floor 150 s: a serialized per-partition commit (one Spark job each, the
    // shape this test exists to forbid) measures 10+ minutes here, so the
    // bound keeps its discriminative power even at the floor.
    val bound = math.max(150.0, 40.0 * ctlSecs)
    assert(secs < bound,
      f"1000-partition commit took $secs%.1f s (control $ctlSecs%.2f s, bound $bound%.1f s)")
    assert(lake.read().count() == 10000)
    // resume skips everything
    assert(lake.append(df, lineage = "again").isEmpty)
    // path-enumeration read sees exactly the committed data
    assert(lake.read().groupBy("pk").count().filter(col("count") =!= 10).count() == 0)
    // expire half; the rest stays readable
    val dropped = lake.expire(p => p.toLong < 500)
    assert(dropped.size == 500 && lake.read().count() == 5000)
  }

  test("resume filter at 10k committed partitions is an anti join, not a 10k-element In") {
    import spark.implicits._
    val lake = new LakeTable(spark, tmpDir(), "wide", "pk")
    val committed = (0 until 10000).map(_.toString).toSet
    val df = spark.range(20000).select(col("id").cast("string").as("pk"), col("id").as("v"))
    val filtered = lake.resumeFilter(df, committed)
    val plan = filtered.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected anti join, got:\n$plan")
    assert(!plan.contains(" IN ("), "plan still carries a giant In predicate")
    assert(filtered.count() == 10000)
    assert(filtered.agg(min(col("pk").cast("long"))).as[Long].head() == 10000L)
  }

  test("resume skips committed partitions whose directory names Hadoop escapes") {
    val base = tmpDir()
    val lake = new LakeTable(spark, base, "escaped", "pk")
    val df = spark.range(20).select(
      concat(lit("a:"), (col("id") % 4).cast("string")).as("pk"), col("id").as("v"))
    val committed = lake.append(df, "first")
    assert(committed.size == 4)
    def manifests() = committed.map(p => p -> lake.manifestJson(p)).toMap
    val before = manifests()
    assert(before.values.forall(_.isDefined))
    assert(lake.append(df, "second").isEmpty)
    assert(manifests() == before)
    assert(lake.read().count() == 20)
  }

  test("kill-and-rerun: missing manifests are recomputed, committed ones skipped") {
    val base = tmpDir()
    val lake = new LakeTable(spark, base, "tier_1m", "pk")
    val t1m = graft.tiers.TierRollup.fromObs(obs(5000), 60L)
      .withColumn("pk", TierCascade.partKey(8))
    val committed = lake.append(t1m, "raw->1m")
    assert(committed.size > 1)
    val full = lake.read().orderBy("series", "bucket").collect()

    // simulate a crash that lost 3 partition commits (manifest deleted, torn data left)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val lost = committed.take(3)
    lost.foreach { p =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/tier_1m/_manifests/$p.json"), false)
    }
    assert(lake.committedPartitions().size == committed.size - 3)

    val recomputed = lake.append(t1m, "raw->1m")
    assert(recomputed.toSet == lost.toSet, s"recomputed $recomputed, expected $lost")
    val after = lake.read().orderBy("series", "bucket").collect()
    assert(after.sameElements(full), "resume must be byte-identical")
  }

  test("uncommitted (torn) partitions are invisible to read()") {
    val base = tmpDir()
    val lake = new LakeTable(spark, base, "tier_1m", "pk")
    val t1m = graft.tiers.TierRollup.fromObs(obs(2000), 60L)
      .withColumn("pk", TierCascade.partKey(4))
    val committed = lake.append(t1m, "raw->1m")
    val n = lake.read().count()
    // drop one manifest: its rows disappear from read() without touching data
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/tier_1m/_manifests/${committed.head}.json"), false)
    assert(lake.read().count() < n)
  }

  test("expire drops partitions and their manifests") {
    val base = tmpDir()
    val lake = new LakeTable(spark, base, "tier_1m", "pk")
    val t1m = graft.tiers.TierRollup.fromObs(obs(2000), 60L)
      .withColumn("pk", TierCascade.partKey(4))
    val committed = lake.append(t1m, "raw->1m")
    val victim = committed.head
    val dropped = lake.expire(_ == victim)
    assert(dropped == Seq(victim))
    assert(!lake.committedPartitions().contains(victim))
    assert(lake.read().filter(col("pk") === victim).count() == 0)
    // expire everything: read() is an empty frame of the pinned schema
    val schema = lake.read().schema
    assert(lake.expire(_ => true).toSet == committed.toSet - victim)
    val empty = lake.read()
    assert(empty.schema == schema && empty.count() == 0)
  }

  /** Spark jobs started while `body` runs on this thread, counted by the
    * shared listener in a job group of their own once the bus has drained. */
  private def jobsStartedBy(body: => Unit): Long = {
    val listener = JobGroupListener.attach(spark.sparkContext)
    try {
      val group = s"jobs-${java.util.UUID.randomUUID()}"
      listener.inGroup(group)(body)
      listener.drain()
      listener.group(group).jobs
    } finally listener.detach()
  }

  test("read() plans from the schema pinned at the first commit, with no Spark job") {
    val base = tmpDir()
    val lake = new LakeTable(spark, base, "tier_1m", "pk")
    val t1m = TierRollup.fromObs(obs(2000), 60L).withColumn("pk", TierCascade.partKey(4))
    lake.append(t1m, "raw->1m")
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsStartedBy { df = lake.read(); df.queryExecution.analyzed } == 0)
    assert(df.schema.map(f => f.name -> f.dataType) == t1m.schema.map(f => f.name -> f.dataType))
    val rows = df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // a lake written before schemas were pinned has no _schema.json: read()
    // infers the schema from the footers and sees the same rows
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$base/tier_1m/_schema.json"), false))
    val inferred = lake.read()
    assert(inferred.schema == df.schema)
    assert(inferred.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq == rows)
  }

  test("append refuses a frame whose schema differs from the pinned one, before writing") {
    val base = tmpDir()
    val lake = new LakeTable(spark, base, "tier_1m", "pk")
    val t1m = TierRollup.fromObs(obs(2000), 60L).withColumn("pk", TierCascade.partKey(4))
    val committed = lake.append(t1m, "raw->1m")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def files(): Set[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(base), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSet
    }
    val before = files()
    // new partition values, so only the guard stands between them and a commit
    val renamed = t1m.withColumn("pk", concat(lit("new-"), col("pk")))
    intercept[IllegalArgumentException](lake.append(renamed.withColumn("cnt", col("cnt").cast("int")), "int cnt"))
    intercept[IllegalArgumentException](lake.append(renamed.drop("last_seq"), "fewer columns"))
    intercept[IllegalArgumentException](lake.append(renamed.withColumnRenamed("sum_v", "total"), "renamed"))
    assert(files() == before)
    assert(lake.committedPartitions() == committed.toSet)
    // nullability is not part of the guard: the lake's own all-nullable read
    // appends (nothing new to commit)
    assert(lake.read().schema != t1m.schema)
    assert(lake.append(lake.read(), "reread").isEmpty)
  }

  test("a failed append leaves no staging directory and changes no committed state") {
    val base = tmpDir()
    val lake = new LakeTable(spark, base, "tier_1m", "pk")
    val t1m = TierRollup.fromObs(obs(2000), 60L).withColumn("pk", TierCascade.partKey(4))
    val committed = lake.append(t1m, "raw->1m")
    def rows() = lake.read().collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val before = rows()
    // new partition values written by one task; one row's evaluation throws
    // mid-write
    val boom = t1m.agg(max(col("last_seq"))).head().getLong(0)
    val failing = t1m.withColumn("pk", concat(lit("new-"), col("pk")))
      .withColumn("sum_v", when(col("last_seq") === boom, raise_error(lit("boom")))
        .otherwise(col("sum_v")))
      .coalesce(1)
    val e = intercept[Exception](lake.append(failing, "failing"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")), e)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/tier_1m"))
      .map(_.getPath.getName).filter(_.startsWith("_staging_"))
    assert(left.isEmpty, s"staging left behind: ${left.mkString(", ")}")
    assert(lake.committedPartitions() == committed.toSet)
    assert(rows() == before)
  }

  test("internalMetrics: per-partition commit telemetry queryable as a DataFrame") {
    import spark.implicits._
    val base = tmpDir()
    val lake = new LakeTable(spark, base, "im", "pk")
    val df = spark.range(1000).select((col("id") % 4).cast("string").as("pk"), col("id").as("v"))
    lake.append(df, "im test")
    val m = lake.internalMetrics()
      .select($"table_name", $"part", $"n_rows", $"n_bytes", $"n_files", $"wall_ms")
      .as[(String, String, Long, Long, Long, Long)].collect().sortBy(_._2)
    assert(m.length == 4)
    assert(m.forall(_._1 == "im"))
    assert(m.map(_._2).toSeq == Seq("pk=0", "pk=1", "pk=2", "pk=3"))
    assert(m.forall(_._3 == 250L)) // exact rows from parquet footers
    assert(m.forall(r => r._4 > 0 && r._5 >= 1 && r._6 >= 0)) // bytes/files/wall
  }

  test("manifests carry rows, files, lineage") {
    val base = tmpDir()
    val lake = new LakeTable(spark, base, "tier_1m", "pk")
    val t1m = graft.tiers.TierRollup.fromObs(obs(1000), 60L)
      .withColumn("pk", TierCascade.partKey(2))
    val committed = lake.append(t1m, "raw->1m rollup")
    val m = lake.manifestJson(committed.head).get
    assert(m.contains("\"rows\":") && m.contains(".parquet") && m.contains("raw->1m rollup"))
  }
}
