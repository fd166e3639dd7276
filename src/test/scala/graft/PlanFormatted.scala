package graft

/** Dump `.explain("formatted")` for named SparkEntry queries into files —
  * the optimization-round evidence artifact (plans/rNN/<name>_<tag>.txt).
  * One session for all names so 20 dumps don't pay 20 sbt/session boots.
  * Run: Test/runMain graft.PlanFormatted OUTDIR TAG [sfDir] name1 name2 ...
  *      (no names → the Bench headline set)
  */
object PlanFormatted {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else Bench.headline
    val spark = Engine.session(32)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      System.err.println(s"[plan-formatted] $name")
      val txt =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          // queryExecution.explainString is what df.explain("formatted")
          // prints; capturing it instead keeps stdout clean for files.
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"FAILED TO PLAN: ${e}" }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
        txt.getBytes("UTF-8"))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
