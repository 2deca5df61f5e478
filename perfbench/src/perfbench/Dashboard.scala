package perfbench

import graft.functions.Pages
import graft.lake.LakeTable
import graft.model.Schemas
import graft.tiers.TierRollup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** One dashboard refresh: four panels read, one after the other, from the
  * tiers committed for `day`. Each panel reduces to one row that carries its
  * row count, which is checked against what the inputs imply.
  */
final class Dashboard(b: Bench, lakeDir: String, watched: Seq[String]) {
  private val spark = b.spark
  private def table(t: String) = new LakeTable(spark, lakeDir, t, "pk")

  private final case class Panel(name: String, table: String,
      build: (DataFrame, String) => DataFrame, expected: (DayExpect, Int) => Long)

  private val panels = Seq(
    // p99 of every (series, hour) cell of the day
    Panel("hist_p99", "hist_1h", (df, day) => df.filter(col("pk").endsWith(day))
      .select(TierRollup.histogramQuantile(Schemas.bucketLadder, 0.99).as("p99"))
      .agg(count(lit(1)), max("p99")),
      (e, _) => e.cells1h),
    // gap-filled per-minute rate of the watched series over the day
    Panel("rate_1m", "tier_1m", (df, day) => TierRollup.deltaRate(
        TierRollup.gapFill(df.filter(col("pk").endsWith(day) && col("series").isin(watched: _*))
          .drop("pk"), 60L), "last_v_filled")
      .agg(count(lit(1)), sum(col("is_gap").cast("int")), sum("rate")),
      (e, _) => e.spine),
    // daily history of the watched series
    Panel("history_1d", "tier_1d", (df, _) => df.filter(col("series").isin(watched: _*))
      .agg(count(lit(1)), sum("cnt"), max("last_v")),
      (_, history) => history.toLong),
    // decode every Gorilla page of the day
    Panel("pages_census", "pages_1h", (df, day) => Pages.pageCensus(
        df.filter(col("pk").endsWith(day)).drop("pk"))
      .agg(count(lit(1)), sum("n_points"), min(col("roundtrip_ok").cast("int"))),
      (e, _) => e.cells1h))

  val panelNames: Seq[String] = panels.map(_.name)

  /** Runs every panel; returns the failures (empty when all checks pass).
    * `history` is the number of (watched series, day) cells committed so far.
    */
  def refresh(day: Int, expect: DayExpect, history: Int): Seq[String] = {
    val dayStr = Inputs.dayStr(day)
    panels.flatMap { p =>
      b.tracer.span(s"read.${p.name}") {
        val t = table(p.table)
        if (b.tracer.enabled) b.span("lake.list")(t.committedPartitions())
        val src = b.span("lake.read_plan") { val d = t.read(); d.queryExecution.analyzed; d }
        val q = b.span("dashboard.build")(p.build(src, dayStr))
        b.span("spark.plan")(q.queryExecution.executedPlan)
        val row: Row = b.span("dashboard.exec")(q.collect().head)
        val got = row.getLong(0)
        val want = p.expected(expect, history)
        if (b.tracer.enabled) {
          b.addLayer("read.rows_scanned", scanRows(q.queryExecution.executedPlan).toDouble)
          b.addLayer("read.rows", got.toDouble)
        }
        val pagesOk = p.name != "pages_census" ||
          (row.getLong(1) == expect.seqs && row.getInt(2) == 1)
        if (got != want) Seq(s"${p.name} day $day: $got rows, expected $want")
        else if (!pagesOk) Seq(s"${p.name} day $day: points ${row.get(1)} of ${expect.seqs}, roundtrip ${row.get(2)}")
        else Nil
      }
    }
  }

  private def scanRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
    case s: QueryStageExec => scanRows(s.plan)
    case f: FileSourceScanExec => f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case other => other.children.map(scanRows).sum
  }
}
