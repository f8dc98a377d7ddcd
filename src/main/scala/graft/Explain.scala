package graft

import java.nio.file.{Files, Paths}

/** Dump formatted physical plans. Used to review: broadcast vs shuffle
  * joins, PushedFilters/ReadSchema on the parquet scans, WholeStageCodegen
  * span coverage, shuffle counts.
  *
  * Run: sbt "runMain graft.Explain [sfDir]" — every query → PLANS.md
  *      sbt "runMain graft.Explain <sfDir> <outDir> <tag> q1 q2 ..." — the
  *      named queries → <outDir>/<query>_<tag>.txt, the per-round
  *      before/after plan evidence (plans/rNN/)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length <= 1 || args.length >= 4,
      "usage: Explain [<sfDir>] | Explain <sfDir> <outDir> <tag> <query>...")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val named = args.length >= 4
    // every registered query — PlanSpec pins that PLANS.md stays complete
    val names = if (named) args.drop(3).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans (auto-generated by graft.Explain)\n\n"
    sb ++= s"Scale dir: `$sfDir`. Things to check per plan: broadcast joins for dims,\n"
    sb ++= "PushedFilters/ReadSchema on scans, WholeStageCodegen coverage, shuffle count.\n"
    if (named) Files.createDirectories(Paths.get(args(1)))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val plan = try fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      catch { case e: Throwable => s"FAILED: $e" }
      if (named) {
        val out = Paths.get(args(1), s"${name}_${args(2)}.txt")
        Files.writeString(out, plan + "\n")
        println(s"wrote $out")
      } else sb ++= s"\n## $name\n\n```\n$plan\n```\n"
    }
    if (!named) {
      Files.writeString(Paths.get("PLANS.md"), sb.toString)
      println(s"wrote PLANS.md (${names.size} plans)")
    }
    spark.stop()
  }
}
