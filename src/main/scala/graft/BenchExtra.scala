package graft

import graft.obs.JobGroupListener

/** The dev harness: the query pass's session (`Bench.session`) and timing
  * (`Bench.timeLeaf`) over a selectable query subset, with repeats, result
  * hashes and plan dumps, for fast iteration:
  *
  *   sbt "runMain graft.BenchExtra time q39,q64 3"   — time queries, N reps
  *   sbt "runMain graft.BenchExtra time all 2"       — whole pass, 2 reps
  *   sbt "runMain graft.BenchExtra hash q02,q49"     — md5 of each result
  *   sbt "runMain graft.BenchExtra explain q39 plans/r06 before" — dump plans
  *
  * The session is the pass's: local[$SPARK_GRAFT_CPUS], cpus*4 shuffle
  * partitions, tmpfs local dir, AQE on and lz4 unless `SPARK_GRAFT_AQE` or
  * `SPARK_GRAFT_CODEC` say otherwise; the data is `SPARK_GRAFT_SF_DIR`.
  * `time` runs each query in sorted-name order like the pass, in a job group
  * of its own, and after each `QTIME` line prints that group's stage report
  * from the shared listener, read once the bus has drained: job and stage
  * counts, the stage-wall sum and the eight slowest stages.
  */
object BenchExtra {

  /** A leaf's fixed cost decomposed into (#jobs, #stages, per-stage walls)
    * without the UI. */
  private def stageReport(c: JobGroupListener.Counts): String = {
    val ss = c.stages.sortBy(-_.wallSec)
    val top = ss.take(8).map { st =>
      f"    stage ${st.id}%4d ${st.wallSec}%6.2fs tasks=${st.tasks}%-4d ${st.name}" }
    f"  jobs=${c.jobs}%d stages=${ss.size}%d stageWallSum=${ss.map(_.wallSec).sum}%.2fs\n${top.mkString("\n")}"
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
          val listener = JobGroupListener.attach(s.sparkContext)
          for (r <- 1 to reps) {
            selected.foreach { case (name, fn) =>
              val group = s"$name rep$r"
              val sec = listener.inGroup(group)(Bench.timeLeaf(s, sfDir, fn))
              println(f"QTIME rep=$r $name%-28s $sec%8.3f s")
              listener.drain()
              println(stageReport(listener.group(group)))
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
