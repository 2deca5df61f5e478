package perfbench

import graft.tiers.TierCascade
import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Runs one workload for a number of seconds and writes every raw sample,
  * span and counter as JSON. Usage:
  *
  * {{{
  * perfbench.Main --workload cascade|incremental --seed N --seconds S
  *     --trace 0|1 --cores N --run-dir DIR --out FILE
  * }}}
  *
  * All files (inputs, lakes, Spark local dirs) live under DIR.
  */
object Main {
  def session(cores: Int, runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val runDir = opts("run-dir")
    val out = opts("out")

    val (spark, sessionS) = timed(session(cores, runDir))
    val tracer = new Tracer(spark.sparkContext)
    val counters = new SparkCounters(tracer)
    // the session's execution listener bus first, so that on the shared
    // listener queue it sees each SQL execution end before the counters do
    spark.listenerManager.register(counters)
    spark.sparkContext.addSparkListener(counters)
    val b = new Bench(spark, runDir, seed, cores, trace, tracer)
    val w: Workload = workloadName match {
      case "cascade" => new CascadeWorkload(b, seqs = 450000)
      case "incremental" => new IncrementalWorkload(b, perDay = 40000, days = 3)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    b.info("cores") = cores
    b.info("session_s") = sessionS

    // set-up: session, input generation (three times; the median counts) and
    // the workload's warm-up on a scratch lake; the expectations are computed
    // between the engine's warm-up and the checked reads, and are not set-up
    for (_ <- 0 until 3) b.sample("gen_s", timed(w.generate())._2)
    val (_, warmEngineS) = timed(w.warmUp())
    b.info("prepare_s") = timed(w.prepare())._2
    val (_, warmReadsS) = timed(w.warmUpReads())
    b.measuring = true
    b.info("warmup_s") = warmEngineS + warmReadsS
    b.samples.filter(_._1 != "gen_s").foreach(_._2.clear())
    b.layer.clear()

    // the closed loop: one client, whole iterations until the seconds are
    // used; lakes are deleted with the run directory, not during the loop
    val t0 = System.nanoTime()
    var i = 0
    while (i < w.minIterations ||
        (System.nanoTime() - t0) / 1e9 < seconds) {
      w.iteration(i)
      i += 1
    }
    tracer.enabled = false
    b.info("iterations") = i
    b.info("measured_s") = (System.nanoTime() - t0) / 1e9
    b.info("persisted_rdds_end") = spark.sparkContext.getPersistentRDDs.size
    b.info("heap_live_mb") = heapLiveMb()
    b.info("finish_s") = timed(w.finish())._2

    var baselineSeqPerS = 0.0
    if (trace) {
      tracer.enabled = true
      w.decompose()
      tracer.enabled = false
    }
    // stopping the session drains the listener bus, so every event of the
    // traced spans has been counted before the counters are read
    spark.stop()
    if (trace) baselineSeqPerS = baseline(w, runDir)
    val decomposition = {
      val spans = tracer.all
      val roots = spans.filter(_.name == "decomposition").map(_.id).toSet
      val parent = spans.map(s => s.id -> s.parent).toMap
      def under(id: Long): Boolean = id != 0 && (roots(id) || under(parent.getOrElse(id, 0L)))
      spans.map(_.id).filter(under).toSet
    }
    val sparkTimed = counters.totals(span => !decomposition(span))

    val json = Json.obj(
      "attempted" -> b.attempted, "failed" -> b.failed, "failures" -> b.failures.toSeq,
      "info" -> b.info.toMap, "samples" -> b.samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "layer" -> (b.layer.toMap ++ Map("baseline.cascade_seq_per_s_1t" -> baselineSeqPerS)),
      "spark" -> sparkTimed, "per_op" -> b.perOp.toSeq,
      "spans" -> tracer.all.map(s => Seq(s.id, s.name, s.parent, s.startNs, s.endNs)))
    Files.write(new File(out).toPath, json.getBytes(StandardCharsets.UTF_8))
  }

  /** The same cascade on one batch at local[1], in a fresh session. */
  private def baseline(w: Workload, runDir: String): Double = {
    val spark = session(1, runDir)
    try {
      val lake = s"$runDir/baseline-lake"
      val (_, wall) = timed(TierCascade.run(spark, w.baselineObs(spark), lake,
        seriesBuckets = w.b.SeriesBuckets, salts = 1, withHistograms = true, withPages = true))
      Lake.delete(lake)
      w.batchSeqs / wall
    } finally spark.stop()
  }

  /** Live heap after full collections, with pauses between them so that
    * Spark's context cleaner can release what the first one unreferenced.
    */
  private def heapLiveMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    for (_ <- 0 until 2) { mx.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def obj(kv: (String, Any)*): String = render(kv.toMap)

  def render(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
