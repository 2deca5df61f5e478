package graft

/** Round-6 optimization harness (guide §1: measure first; Bench.scala is
  * frozen, so the extra measurements live here). Runs on the query pass's
  * own session (`Bench.session`) with its noop-sink methodology, but over a
  * selectable query subset with optional repeats and plan dumps, for fast
  * iteration:
  *
  *   sbt "runMain graft.BenchExtra time q39,q64 3"   — time queries, N reps
  *   sbt "runMain graft.BenchExtra time all 2"       — whole pass, 2 reps
  *   sbt "runMain graft.BenchExtra explain q39 plans/r06 before" — dump plans
  *
  * Timing methodology is the frozen pass's: one full-width session
  * (local[$SPARK_GRAFT_CPUS], AQE on, lz4, cpus*4 shuffle partitions, tmpfs
  * local dir), each query materialized through the noop sink, wall measured
  * around build+execute. Queries run in sorted-name order like the pass.
  */
object BenchExtra {

  /** Per-query job/stage attribution: counts + wall of every stage between
    * resets, so a query's fixed cost decomposes into (#jobs, #stages,
    * per-stage walls) — the §7.1 stage view without the UI.
    */
  private final class StageListener extends org.apache.spark.scheduler.SparkListener {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Double, Int)]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      val wall = (for { s <- i.submissionTime; c <- i.completionTime }
        yield (c - s) / 1e3).getOrElse(-1.0)
      stages.add((i.stageId, i.name.takeWhile(_ != '\n').take(60), wall, i.numTasks))
    }
    def reset(): Unit = { stages.clear(); jobs.set(0) }
    def report(): String = {
      import scala.jdk.CollectionConverters._
      val ss = stages.asScala.toSeq.sortBy(-_._3)
      val total = ss.map(_._3).sum
      val top = ss.take(8).map { case (id, n, w, t) =>
        f"    stage $id%4d $w%6.2fs tasks=$t%-4d $n" }.mkString("\n")
      f"  jobs=${jobs.get}%d stages=${ss.size}%d stageWallSum=$total%.2fs\n$top"
    }
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val mode = if (args.nonEmpty) args(0) else "time"
    val filter = if (args.length > 1) args(1) else "all"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val names = filter.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      filter == "all" || names.exists(f => n.startsWith(f))
    }
    require(selected.nonEmpty, s"no queries match '$filter'")
    val s = Bench.session(cpus)
    try {
      mode match {
        case "time" =>
          val reps = if (args.length > 2) args(2).toInt else 1
          val detail = sys.env.get("GRAFT_EXTRA_DETAIL").contains("1")
          val listener = new StageListener
          if (detail) s.sparkContext.addSparkListener(listener)
          for (r <- 1 to reps) {
            selected.foreach { case (name, fn) =>
              s.sparkContext.setJobDescription(s"$name rep$r")
              if (detail) listener.reset()
              val t0 = System.nanoTime()
              fn(s, sfDir).write.mode("overwrite").format("noop").save()
              val sec = (System.nanoTime() - t0) / 1e9
              println(f"QTIME rep=$r $name%-28s $sec%8.3f s")
              if (detail) { Thread.sleep(120); println(listener.report()) }
              System.out.flush()
            }
          }
        case "hash" =>
          // results-identity guard for the optimization round: md5 over the
          // full ordered row rendering of every query's collected output.
          // Dumped before the first change and re-checked after each one —
          // any hash move = the optimization changed what a query computes.
          selected.foreach { case (name, fn) =>
            val rows = fn(s, sfDir).collect()
            val md = java.security.MessageDigest.getInstance("MD5")
            rows.foreach(r => md.update(r.toString.getBytes("UTF-8")))
            val h = md.digest().map("%02x".format(_)).mkString
            println(s"QHASH $name rows=${rows.length} $h")
            System.out.flush()
          }
        case "explain" =>
          val outDir = if (args.length > 2) args(2) else "plans/r06"
          val suffix = if (args.length > 3) args(3) else "before"
          new java.io.File(outDir).mkdirs()
          selected.foreach { case (name, fn) =>
            val plan = fn(s, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            val f = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
            try f.write(plan) finally f.close()
            println(s"wrote $outDir/${name}_$suffix.txt")
          }
        case other => sys.error(s"unknown mode $other")
      }
    } finally s.stop()
  }
}
