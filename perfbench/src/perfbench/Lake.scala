package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Read-only views of a lake directory written by `TierCascade`, taken from
  * its committed manifests with plain file IO (no Spark job).
  */
object Lake {
  val Tables: Seq[String] =
    Seq("tier_1m", "tier_1h", "tier_1d", "hist_1m", "hist_1h", "hist_1d", "pages_1h")
  /** `TierCascade.TierResult.name` of each table. */
  val ResultName: Map[String, String] = Map("tier_1m" -> "1m", "tier_1h" -> "1h",
    "tier_1d" -> "1d", "hist_1m" -> "hist_1m", "hist_1h" -> "hist_1h",
    "hist_1d" -> "hist_1d", "pages_1h" -> "pages_1h")
  /** (source, target) of every finer → coarser merge the cascade runs. */
  val Merges: Seq[(String, String)] = Seq("tier_1m" -> "tier_1h", "tier_1h" -> "tier_1d",
    "hist_1m" -> "hist_1h", "hist_1h" -> "hist_1d")

  final case class Part(rows: Long, bytes: Long, files: Long)
  /** table -> partition -> committed manifest figures */
  type Snapshot = Map[String, Map[String, Part]]

  private val Num = "\"(rows|bytes|n_files)\":(\\d+)".r

  def snapshot(base: String): Snapshot = Tables.map { t =>
    val dir = new File(s"$base/$t/_manifests")
    val files = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(".json") && !f.getName.startsWith("."))
    t -> files.map { f =>
      val kv = Num.findAllMatchIn(new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
        .map(m => m.group(1) -> m.group(2).toLong).toMap
      f.getName.stripSuffix(".json") -> Part(kv("rows"), kv("bytes"), kv("n_files"))
    }.toMap
  }.toMap

  def dayOf(part: String): String = part.substring(part.indexOf('-') + 1)

  /** Order-independent digest of a rollup tier's value columns. */
  def digest(tier: DataFrame): String = {
    val rows = tier.select(col("series"), col("bucket"), col("sum_v"), col("cnt"),
      col("min_v"), col("max_v"), col("last_v")).collect().map(_.mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }
}
