package perfbench

import graft.lake.LakeTable
import graft.tiers.TierCascade
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Run state shared by the workloads: the session, the tracer and every raw
  * sample. The summary statistics are computed from these samples by
  * `perfbench/stats.py`.
  */
final class Bench(val spark: SparkSession, val runDir: String, val seed: Long,
    val cores: Int, val trace: Boolean, val tracer: Tracer) {
  val SeriesBuckets = 8
  /** Per-tier TTLs in seconds behind the newest day. The fine tiers keep one
    * day, so the third day of a lake already drops the first; coarser tiers
    * live longer, so no merge ever recomputes an expired coarser partition.
    */
  val Ttls: Map[String, Long] = Map("1m" -> Inputs.DaySec, "hist_1m" -> Inputs.DaySec,
    "pages_1h" -> Inputs.DaySec, "1h" -> 3 * Inputs.DaySec, "hist_1h" -> 3 * Inputs.DaySec)

  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val perOp: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  private var batches = 0
  /** Set once the warm-up is done; only measured batches are ever traced. */
  var measuring = false

  /** Starts the next batch. A traced run traces batches 0, 3, 4, 7, 8, ...
    * (ABBA order, so drift over the run hits both halves alike); the batches
    * left untraced give the tracing overhead.
    */
  def beginBatch(): Unit = if (measuring) {
    val on = trace && (batches % 4 == 0 || batches % 4 == 3)
    tracer.enabled = on
    batches += 1
  }

  def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  def addLayer(k: String, v: Double): Unit = layer(k) = layer.getOrElse(k, 0.0) + v
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  def clock[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One closed-loop operation: counted as attempted; a throw or a failed
    * output check counts as failed, and a throwing operation records no timing.
    */
  def operation(what: String)(body: => Seq[String]): Unit = {
    attempted += 1
    val problems =
      try body
      catch { case t: Throwable => Seq(s"$what threw ${t.getClass.getSimpleName}: ${t.getMessage}") }
    if (problems.nonEmpty) { failed += 1; failures ++= problems.take(3) }
  }

  def table(lakeDir: String, t: String) = new LakeTable(spark, lakeDir, t, "pk")

  /** The cascade every workload runs: histograms and Gorilla pages on. */
  def cascade(obs: DataFrame, lakeDir: String): Seq[TierCascade.TierResult] =
    TierCascade.run(spark, obs, lakeDir, seriesBuckets = SeriesBuckets, salts = 1,
      withHistograms = true, withPages = true)

  /** Hand one batch of observations to `TierCascade.run` and check that every
    * table committed exactly the partitions the batch implies. Returns the
    * failures; records commit wall, sequences and committed bytes.
    */
  def commit(lakeDir: String, obs: DataFrame, day: Int, expect: DayExpect): Seq[String] = {
    val before = Lake.snapshot(lakeDir)
    val (results, wall) = clock(span("tiers.cascade_run")(cascade(obs, lakeDir)))
    val after = Lake.snapshot(lakeDir)
    val dayStr = Inputs.dayStr(day)
    val byName = results.map(r => r.name -> r).toMap
    val problems = Lake.Tables.flatMap { t =>
      val fresh = byName.get(Lake.ResultName(t)).map(_.newPartitions.toSet).getOrElse(Set.empty)
      val committed = after(t).keySet.filter(p => Lake.dayOf(p) == dayStr)
      if (fresh != expect.parts || committed != expect.parts)
        Seq(s"$t day $day: committed ${committed.size} new ${fresh.size} of ${expect.parts.size} partitions")
      else Nil
    }
    val bytes = Lake.Tables.map(t => expect.parts.toSeq.flatMap(after(t).get).map(_.bytes).sum).sum
    if (problems.isEmpty) {
      sample("commit_s", wall)
      if (trace) sample(if (tracer.enabled) "commit_s_traced" else "commit_s_untraced", wall)
      sample("commit_seqs", expect.seqs.toDouble)
      sample("bytes_per_seq", bytes.toDouble / expect.seqs)
    }
    if (trace && measuring) mergeStats(before, after, dayStr, wall)
    val (dropped, expireS) = clock(span("lake.expire")(TierCascade.retention(results, Ttls)))
    sample("expire_s", expireS)
    info("expired_partitions") = info.getOrElse("expired_partitions", 0).asInstanceOf[Int] +
      dropped.values.map(_.size).sum
    problems
  }

  /** Rows each finer → coarser merge read, and how many of them fed a
    * partition that was not yet committed (the rest are recomputed and then
    * dropped by the resume filter).
    */
  private def mergeStats(before: Lake.Snapshot, after: Lake.Snapshot, dayStr: String,
      wall: Double): Unit = {
    var in = 0L; var useful = 0L; var discarded = 0L
    Lake.Merges.foreach { case (src, dst) =>
      val srcParts = after(src)
      in += srcParts.values.map(_.rows).sum
      useful += srcParts.collect { case (p, s) if Lake.dayOf(p) == dayStr => s.rows }.sum
      discarded += before(dst).collect { case (p, s) if srcParts.contains(p) => s.rows }.sum
    }
    addLayer("tiers.merge_rows_in", in.toDouble)
    addLayer("tiers.merge_useful_rows", useful.toDouble)
    addLayer("lake.resume_discard_rows", discarded.toDouble)
    perOp += Map("day" -> dayStr, "commit_s" -> wall, "merge_rows_in" -> in,
      "merge_useful_ratio" -> (if (in == 0) 1.0 else useful.toDouble / in))
  }
}
