package graft.tools

/** Dev tool: pre-generate the bench raw token table (Bench.ensureRaw) so
  * probe shots don't each pay datagen:
  *   sbt "Test/runMain graft.tools.DataGenProbe [n]"
  */
object DataGenProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 48000000L
    println(s"DATAGEN ${graft.Bench.ensureRaw(n)}")
  }
}
