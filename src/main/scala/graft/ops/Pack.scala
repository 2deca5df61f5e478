package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Sequence packing — laying pre-tokenized documents end-to-end into
  * fixed-budget training sequences (the concat-and-chunk layout the
  * north-star's own input table is made of: BASELINE.json input_hint's
  * `(doc_id, tokens, n_tok, source)` rows ARE packed sequences). The core
  * primitive is a cumulative token offset per document within its group — a
  * grouped PREFIX SUM, which Spark's window functions compute in ONE TASK PER
  * GROUP (`Window.partitionBy(source)` puts every row of a source on one
  * executor — the classic 100 TB scale-killer for few-group corpora). This
  * implements the textbook two-phase distributed scan instead:
  *
  *  phase 0  assign each row a DETERMINISTIC bucket, monotone in `orderCol`
  *           (affine stretch of the order value over its [min,max] span — NOT
  *           `repartitionByRange`, whose sampled bounds are seeded per-RDD-id
  *           and may differ between the two jobs below, silently misaligning
  *           the offsets), and hash-repartition on the bucket so each bucket
  *           lands wholly in one task;
  *  phase 1  per-(bucket, group) totals — a tiny aggregate (buckets ×
  *           groups-touched rows) turned into exclusive carry-in offsets per
  *           group in bucket order (a ≤-nBuckets-rows-per-group window);
  *  phase 2  one streaming pass per partition (sortWithinPartitions +
  *           mapPartitions): the running sum resets to the cell's carry-in
  *           at each (bucket, group) boundary. The carry-in is looked up in a
  *           driver broadcast of the offsets while they fit
  *           `driverCarryLimit` rows, and read off a distributed left join
  *           of them past it — the only branch; the scan is the same.
  *
  * Parallelism is the bucket count at every step and no task ever holds more
  * than its partition slice; the only driver materialization is the
  * offsets frame, and only while it fits `driverCarryLimit`. Both phases
  * recompute the bucket as a pure function of the row, so they can never
  * disagree about the layout.
  */
object Pack {

  /** Group keys cross a driver map and JVM equality at the (bucket, group)
    * boundary; Array[Byte] (BinaryType) has identity equals, so normalize it
    * to a Seq — the same class of fix as asofBroadcast's Row-key toSeq.
    */
  private def normKey(a: Any): Any = a match {
    case b: Array[Byte] => b.toSeq
    case x => x
  }

  /** SCALE-ADAPTIVE partition count for the phase-2 repartitions (round 6,
    * guide §2: "size partitions from the input, not a constant"): the
    * shuffle-partitions conf is a cluster-wide constant (cpus×4 in the
    * bench session) that hash-repartitioned 500-row local frames into 128
    * near-empty tasks — pure scheduling overhead the AQE coalescer never
    * sees (these are RDD-boundary repartitions, below AQE's reach). The
    * input scan's own partition count IS the size-derived signal (parquet
    * splits are bytes-bounded by `spark.sql.files.maxPartitionBytes`), so
    * cap the constant by it: a 100 TB scan still gets the full
    * shuffle-partitions fan-out, a one-split local table gets one task.
    * Callers whose input is already shuffle-shaped (its partition count is
    * the conf value) see exactly the old behavior; callers with exotic
    * inputs can always pin `numParts`.
    */
  private def derivedParts(df: DataFrame, numParts: Int): Int =
    if (numParts > 0) numParts
    else {
      val conf = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      math.max(1, math.min(conf, df.queryExecution.toRdd.getNumPartitions))
    }

  /** Deterministic 60-bit rank from the md5 hex prefix — the shared shuffle/
    * mixing order key. Every Spark site must stay bit-identical to its
    * DuckDB twin `('0x' || substr(md5(x), 1, 15))::BIGINT`; keep the idiom
    * in ONE place so the prefix length and cast cannot drift per call site.
    */
  def md5Rank60(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Adds `outCol` = exclusive prefix sum of `valueCol` (LONG, non-null)
    * over rows of the same `groupCol`, ordered by `orderCol` (LONG,
    * non-null, unique per group for a deterministic layout). Two-phase
    * distributed scan; see object doc. `numParts` defaults to
    * spark.sql.shuffle.partitions.
    * `orderBounds` (min, max of `orderCol`, may be a superset) skips the
    * one tiny bounds job — same contract as AsOfJoin.tsBounds. When
    * `orderCol` may collide within a group (e.g. a truncated hash rank),
    * `tieCol` names a unique column that fixes the order among equals.
    * `driverCarryLimit` bounds the DRIVER-side carry-in: the per-(bucket,
    * group) offsets are collected and broadcast only while they fit this
    * many rows; past it they are left-joined onto the input instead, so
    * group cardinality is unbounded at the price of one extra shuffle of
    * the input and a second run of phase 1.
    */
  def groupedPrefixSum(df: DataFrame, groupCol: String, orderCol: String,
      valueCol: String, outCol: String = "ex_cum", numParts: Int = 0,
      orderBounds: Option[(Long, Long)] = None,
      tieCol: Option[String] = None,
      driverCarryLimit: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    require(df.schema(df.schema.fieldIndex(valueCol)).dataType == LongType,
      s"$valueCol must be LONG (cast before calling)")
    require(df.schema(df.schema.fieldIndex(orderCol)).dataType == LongType,
      s"$orderCol must be LONG (cast before calling)")
    require(driverCarryLimit > 0, "driverCarryLimit must be positive")
    val reserved = Seq("_pk_bucket", "_pk_off", "_pk_b", "_pk_g", outCol)
    require(!reserved.exists(df.columns.contains),
      s"input must not already carry any of ${reserved.mkString("/")}")
    val parts = derivedParts(df, numParts)
    // ~4 buckets per partition smooths the hash→partition collision spread
    val nBuckets = parts * 4

    val (lo, hi) = orderBounds.getOrElse {
      val r = df.agg(min(col(orderCol)), max(col(orderCol))).head()
      if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
    }
    // monotone in order by construction; clamp keeps rows outside a caller-
    // supplied narrower bound monotone at the edges. All arithmetic in
    // double space: long→double is monotone (all bucketing needs) and
    // immune to (hi-lo) overflow at extreme ranges
    val span = (hi.toDouble - lo.toDouble + 1).max(1.0)
    // least/greatest skip nulls, which would silently send a null order to
    // the last bucket — propagate the null instead so phase 1 fails fast
    val bucketExpr = when(col(orderCol).isNull, lit(null).cast("long"))
      .otherwise(greatest(lit(0L), least(lit(nBuckets - 1L),
        floor((col(orderCol).cast("double") - lit(lo.toDouble)) / lit(span) * lit(nBuckets))
          .cast("long"))))

    // phase 1: per-(bucket, group) totals (buckets × groups-TOUCHED rows),
    // then the exclusive per-group running total in bucket order = the
    // carry-in offset. The window partitions by group with ≤ nBuckets rows
    // per group — bounded per-task memory regardless of group cardinality,
    // never a straggler wall.
    val totalsDf = df
      .groupBy(bucketExpr.as("_pk_b"), col(groupCol).as("_pk_g"))
      .agg(sum(col(valueCol)).as("_t"))
    val offWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pk_g")).orderBy(col("_pk_b"))
    val offsetsDf = totalsDf.select(col("_pk_b"), col("_pk_g"),
      (sum(col("_t")).over(offWin) - col("_t")).as("_pk_off"))

    // DRIVER-BOUNDED delivery (round 5): the offsets land on the driver only
    // while they fit `driverCarryLimit` rows. The probe collects limit+1
    // rows; getting ≤ limit back proves it got ALL of them, so the broadcast
    // map is exact. Past the limit (≳10⁶ (bucket, group) cells — e.g. 10⁵
    // groups smeared over every bucket) the carry-in is joined in
    // DISTRIBUTED form instead: zero driver materialization, and phase 1
    // runs again inside the final plan (the limit cannot push below the
    // window, so the probe is no cheaper than that recompute).
    val probe = offsetsDf.limit(driverCarryLimit + 1).collect()
    val bucketed = df.withColumn("_pk_bucket", bucketExpr)
    // carry-in offset of the (bucket, group) cell a row opens
    val (input, carryIn) = if (probe.length <= driverCarryLimit) {
      probe.foreach { r =>
        require(!r.isNullAt(0), s"$orderCol must be non-null in prefix-sum input")
        require(!r.isNullAt(2), s"$valueCol must be non-null in prefix-sum input")
      }
      val bc = spark.sparkContext.broadcast(
        probe.map(r => ((r.getLong(0), normKey(r.get(1))), r.getLong(2))).toMap)
      (bucketed, (_: Row, key: (Long, Any)) => bc.value.getOrElse(key, 0L))
    } else {
      // equi-join on (bucket, group) with NULL-SAFE group equality (<=>): a
      // null group key is a legal group in the broadcast map's (bucket, null)
      // key, and a plain === would silently miss it here — the two
      // deliveries must agree on every input
      val joined = bucketed
        .join(offsetsDf,
          col("_pk_bucket") === col("_pk_b") && col(groupCol) <=> col("_pk_g"),
          "left")
        .drop("_pk_b", "_pk_g")
      val oi = joined.schema.fieldIndex("_pk_off")
      (joined, (r: Row, key: (Long, Any)) => {
        // every (bucket, group) of the input exists in the offsets frame by
        // construction — a missing/null carry-in is a join bug or a null
        // $valueCol somewhere in the group, never a legitimate zero
        if (r.isNullAt(oi))
          throw new IllegalStateException(
            s"prefix-sum carry-in missing or null for (bucket=${key._1}, " +
              s"$groupCol=${key._2}) — join miss or null $valueCol in the group")
        r.getLong(oi)
      })
    }

    // phase 2: streaming pass, running sum reset at each (bucket, group)
    // boundary to the cell's carry-in
    val parted = input
      .repartition(parts, col("_pk_bucket"))
      .sortWithinPartitions((Seq(col("_pk_bucket"), col(groupCol), col(orderCol)) ++
        tieCol.map(col)): _*)
    val bi = parted.schema.fieldIndex("_pk_bucket")
    val gi = parted.schema.fieldIndex(groupCol)
    val vi = parted.schema.fieldIndex(valueCol)
    val outSchema = parted.schema.add(outCol, LongType, nullable = false)
    parted.mapPartitions { it =>
      var curKey: (Long, Any) = null
      var run = 0L
      it.map { r =>
        if (r.isNullAt(vi))
          throw new IllegalArgumentException(s"null $valueCol in prefix-sum input")
        if (r.isNullAt(bi))
          throw new IllegalArgumentException(s"null $orderCol in prefix-sum input")
        val key = (r.getLong(bi), normKey(r.get(gi)))
        if (curKey == null || key != curKey) {
          curKey = key
          run = carryIn(r, key)
        }
        val out = Row.fromSeq(r.toSeq :+ run)
        run += r.getLong(vi)
        out
      }
    }(Encoders.row(outSchema)).drop("_pk_bucket", "_pk_off")
  }

  /** Concat-and-chunk packing census: documents (one row each, `nTokCol`
    * tokens, LONG) are laid end-to-end per `groupCol` in `orderCol` order and
    * split into sequences of exactly `budget` tokens (documents may straddle
    * a boundary — the GPT-style packed-dataset layout). Returns one row per
    * (group, seq_id): documents touching the sequence, tokens landing in it,
    * and how many entered mid-document (carried across the left boundary).
    * Everything after the prefix sum is narrow per-row arithmetic + one
    * census shuffle.
    */
  def packCensus(docs: DataFrame, groupCol: String, orderCol: String,
      nTokCol: String, budget: Long, numParts: Int = 0,
      orderBounds: Option[(Long, Long)] = None): DataFrame = {
    require(budget > 0, s"budget=$budget must be positive")
    val b = lit(budget)
    // seq spans via integer `div`, not floor(double /): doubles lose
    // exactness past 2^53 cumulative tokens per group (bucketing math may be
    // double — it only needs monotonicity; these quotients must be exact)
    groupedPrefixSum(docs, groupCol, orderCol, nTokCol,
        numParts = numParts, orderBounds = orderBounds)
      .filter(col(nTokCol) > 0)
      .withColumn("seq_id", explode(sequence(
        expr(s"ex_cum div $budget"),
        expr(s"(ex_cum + `$nTokCol` - 1) div $budget"))))
      .withColumn("_tok_in",
        least(col("ex_cum") + col(nTokCol), (col("seq_id") + 1) * b) -
          greatest(col("ex_cum"), col("seq_id") * b))
      .withColumn("_carried", when(col("ex_cum") < col("seq_id") * b, 1L).otherwise(0L))
      .groupBy(col(groupCol), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_tok_in")).as("n_tok"),
        sum(col("_carried")).as("n_carried"))
  }

  /** Materialized sequence packing: the training-data layout emitter. Token
    * arrays (`toksCol`) are laid end-to-end per `groupCol` in `orderCol`
    * order and re-cut into sequences of exactly `budget` tokens (the last
    * sequence per group may be short). Returns (group, seq_id, tokens).
    *
    * Shape at scale: the prefix sum is the two-phase scan above; each doc
    * then slices out the portion landing in each sequence it touches (narrow
    * per-row work — a straddling doc appears in two rows), and sequences
    * assemble in a streaming mapPartitions pass after one hash repartition on
    * (group, seq_id) — memory per task is ONE sequence (`budget` tokens).
    * `collect_list` assembly would demote the aggregate to SortAggregate and
    * buffer GC-heavy rows (the Pages lesson, BENCH.md).
    */
  def packSequences(docs: DataFrame, groupCol: String, orderCol: String,
      toksCol: String, budget: Long, numParts: Int = 0,
      orderBounds: Option[(Long, Long)] = None,
      tieCol: Option[String] = None): DataFrame = {
    require(budget > 0, s"budget=$budget must be positive")
    val b = lit(budget)
    val parts = derivedParts(docs, numParts)

    // working names (_pk_ntok/seq_id/_s0/_s1/_part) may collide with input
    // PASSENGER columns: withColumn replaces them and the fixed output
    // projection drops every input extra. A ROLE column (group/order/toks/
    // tie) named like a working column WOULD be clobbered mid-pipeline —
    // reject that; groupedPrefixSum guards _pk_bucket/ex_cum itself.
    val working = Set("_pk_ntok", "seq_id", "_s0", "_s1", "_part")
    val roles = Seq(groupCol, orderCol, toksCol) ++ tieCol
    require(roles.forall(!working.contains(_)),
      s"group/order/toks/tie columns may not use reserved working names $working")
    val sliced = groupedPrefixSum(
        docs.withColumn("_pk_ntok", size(col(toksCol)).cast("long")),
        groupCol, orderCol, "_pk_ntok",
        numParts = numParts, orderBounds = orderBounds, tieCol = tieCol)
      .filter(col("_pk_ntok") > 0)
      .withColumn("seq_id", explode(sequence(
        expr(s"ex_cum div $budget"),
        expr(s"(ex_cum + _pk_ntok - 1) div $budget"))))
      .withColumn("_s0", greatest(lit(0L), col("seq_id") * b - col("ex_cum")))
      .withColumn("_s1",
        least(col("_pk_ntok"), (col("seq_id") + 1) * b - col("ex_cum")))
      .select(col(groupCol), col("seq_id"), col("ex_cum"),
        slice(col(toksCol), (col("_s0") + 1).cast("int"),
          (col("_s1") - col("_s0")).cast("int")).as("_part"))

    val parted = sliced
      .repartition(parts, col(groupCol), col("seq_id"))
      .sortWithinPartitions(col(groupCol), col("seq_id"), col("ex_cum"))
    val gi = parted.schema.fieldIndex(groupCol)
    val si = parted.schema.fieldIndex("seq_id")
    val pi = parted.schema.fieldIndex("_part")
    val elemType = parted.schema(pi).dataType
    val outSchema = new org.apache.spark.sql.types.StructType()
      .add(parted.schema(gi).copy(name = groupCol))
      .add("seq_id", LongType, nullable = false)
      .add("tokens", elemType, nullable = false)
    parted.mapPartitions { it =>
      new Iterator[Row] {
        private var pending: Row = if (it.hasNext) it.next() else null
        def hasNext: Boolean = pending != null
        def next(): Row = {
          val gRaw = pending.get(gi)
          val g = normKey(gRaw) // value equality for BinaryType group keys
          val s = pending.getLong(si)
          val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
          while (pending != null && normKey(pending.get(gi)) == g &&
              pending.getLong(si) == s) {
            buf ++= pending.getSeq[Any](pi)
            pending = if (it.hasNext) it.next() else null
          }
          Row(gRaw, s, buf.toSeq)
        }
      }
    }(Encoders.row(outSchema))
  }
}
