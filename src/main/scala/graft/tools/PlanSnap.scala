package graft.tools
import graft._

/** Dump `.explain("formatted")` for a query list into a directory —
  * the before/after plan evidence an optimization round commits
  * (plans/rNN/<query>_<tag>.txt), as FormattedMode files that can
  * be diffed. */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanSnap <sfDir> <outDir> <tag> [q1 q2 ...|ALL]")
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names =
      if (args.length == 4 && args(3) == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else args.drop(3).toSeq
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val txt =
        try SparkEntry.queries(n)(spark, sfDir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        catch { case t: Throwable => s"PLAN FAILED: $t" }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plansnap] $n -> $outDir/${n}_$tag.txt")
    }
    spark.stop()
  }
}
