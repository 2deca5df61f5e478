package graft

import org.apache.spark.sql.SparkSession

/** The local session every Spark spec runs on: local[4], 4 shuffle
  * partitions, UTC, no UI. `getOrCreate` hands the same session to every
  * suite in the test JVM.
  */
trait SparkSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A fresh temp directory `prefix…`, removed at JVM exit. */
  def tempDir(prefix: String): String = graft.lake.LakeTable.tempBase(spark, prefix)
}
