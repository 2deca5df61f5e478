package graft.streaming

import graft.tiers.TierRollup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming forms of the rollup pipeline (SURVEY.md §2.8).
  *
  * The reference flushes aggregation state on a processing-time interval
  * (metricalize tick, /root/reference/src/transforms/metricalize.rs:161-190)
  * and bounds lateness only via the exporter TTL. Here the same semantics are
  * event-time native: tumbling windows + watermark, so results are
  * deterministic and replayable — late data within the watermark merges into
  * its window; later data is dropped (the TTL analog).
  *
  * Input obs stream: (series: string, ts: long epoch-sec, seq: long, value: double).
  */
object StreamRollup {

  /** Streaming 1-tier rollup: observations enter as one-point tier cells and
    * go through the batch tiers' one merge ([[graft.tiers.TierRollup]]), with
    * the tumbling event-time window over `last_ts` as an extra key — so it
    * plans as HashAggregate at every streaming aggregate level. Append-mode
    * compatible (the watermark closes windows).
    */
  def rollupStream(obs: DataFrame, bucketSec: Long, watermark: String = "10 minutes"): DataFrame = {
    val cells = TierRollup.cells(obs)
      .withColumn("_ts", timestamp_seconds(col("last_ts")))
      .withWatermark("_ts", watermark)
    TierRollup.merge(cells, bucketSec, keys = Seq(window(col("_ts"), s"$bucketSec seconds").as("_w")))
      .drop("_w")
  }

  /** Streaming dedup (SURVEY §2.6 dedup transform): first occurrence per key
    * passes. State really IS bounded here: dropDuplicatesWithinWatermark
    * evicts a key's state once the watermark passes its event time — plain
    * dropDuplicates(keys) without the event-time column in the key set never
    * evicts and grows without bound on a long-running stream. (The reference
    * bounds its state with an LRU of 4096 entries instead —
    * /root/reference/src/transforms/dedup.rs:54-56.)
    */
  def dedupStream(events: DataFrame, keys: Seq[String], tsCol: String,
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming GCRA throttle — the reference transform's native form
    * (/root/reference/src/transforms/throttle/mod.rs:84-174: one TAT state
    * per key across the whole stream): per-key theoretical-arrival-time
    * carried across micro-batches in `GroupState[Long]`, events replayed in
    * (t, seq) order within each batch (exact integer-µs math, same rule as
    * the batch `ops.Throttle.gcraAdmit`). State is ONE long per key —
    * bounded by key cardinality, no timeout needed (an idle key's stale tat
    * behaves exactly like a fresh state, the same reason the reference's
    * `retain_recent` GC is semantics-free).
    *
    * Input stream: (key: string, t: long µs, seq: long). Output: admitted
    * rows only (the reference drops excess events), append-mode compatible.
    */
  def throttleGcraStream(events: DataFrame, threshold: Int, windowMicros: Long): DataFrame = {
    require(threshold > 0 && windowMicros >= threshold, "bad GCRA quota")
    val tau = windowMicros / threshold
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.select(col("key").cast("string"), col("t").cast("long"), col("seq").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[(String, Long, Long)], state: GroupState[Long]) =>
          var tat = state.getOption.getOrElse(Long.MinValue)
          val admitted = it.toArray.sortBy(e => (e._2, e._3)).iterator.filter { e =>
            val t = e._2
            val tat0 = if (tat == Long.MinValue) t else math.max(tat, t)
            val newTat = tat0 + tau
            val ok = newTat - windowMicros <= t
            if (ok) tat = newTat
            ok
          }.toVector
          state.update(tat)
          admitted.iterator
      }
      .toDF("key", "t", "seq")
  }

  /** Checkpointed streaming delivery into the lake (the reference's
    * acknowledged, resumable sink path: disk-buffer ledger + finalizers,
    * /root/reference/lib/buffer/src/disk/ledger.rs:36-47 + lib/finalize/):
    * each micro-batch is appended through LakeTable — atomic per-partition
    * manifest commit — under a Structured Streaming checkpoint, so delivery
    * is exactly-once at partition granularity (a replayed batch's partitions
    * are already committed and skipped).
    *
    * CONTRACT: `partKeyCol` must be unique per emitted window (e.g. include
    * the window bucket) — each lake partition commits exactly once, so two
    * windows sharing a partition key would drop the later one.
    */
  def sinkToLake(
      rolled: DataFrame,
      lake: graft.lake.LakeTable,
      partKeyCol: org.apache.spark.sql.Column,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    rolled.writeStream
      .option("checkpointLocation", checkpointDir)
      // append mode: a window is emitted exactly once, when the watermark
      // closes it — an "update"-mode re-emit would be skipped by the lake's
      // committed-partition check and silently dropped
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        lake.append(batch.withColumn("pk", partKeyCol), lineage = s"stream batch=$batchId")
        ()
      }
      .start()

  /** Streaming sequence packing — the stateful counterpart of
    * [[graft.ops.Pack.packSequences]]: per group, token arrays concatenate
    * in (arrival-batch, ord) order into fixed-budget sequences; the partial
    * tail rides GroupState between micro-batches, so sequence boundaries
    * come out identical to a batch run over the same arrival order. State
    * per key stays under `budget` tokens after every batch.
    *
    * Input stream: (group: string, ord: long, toks: array<string>). Output:
    * (group, seq_id, tokens) — COMPLETED sequences only; the final partial
    * stays in state, like an open packing shard awaiting more documents.
    */
  def packStream(docs: DataFrame, budget: Int): DataFrame = {
    require(budget > 0, s"budget=$budget must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    docs.select(col("group").cast("string"), col("ord").cast("long"),
        col("toks").cast("array<string>"))
      .as[(String, Long, Seq[String])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Seq[String]), (String, Long, Seq[String])](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[(String, Long, Seq[String])],
            state: GroupState[(Long, Seq[String])]) =>
          val (seq0, carry) = state.getOption.getOrElse((0L, Seq.empty[String]))
          val buf = scala.collection.mutable.ArrayBuffer[String](carry: _*)
          it.toArray.sortBy(_._2).foreach(buf ++= _._3)
          var nextSeq = seq0
          var idx = 0
          val out = Vector.newBuilder[(String, Long, Seq[String])]
          while (buf.length - idx >= budget) {
            out += ((key, nextSeq, buf.slice(idx, idx + budget).toSeq))
            nextSeq += 1
            idx += budget
          }
          state.update((nextSeq, buf.drop(idx).toSeq))
          out.result().iterator
      }
      .toDF("group", "seq_id", "tokens")
  }
}
