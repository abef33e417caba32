package graft.tools

/** Plan-audit utility: `runMain graft.tools.Explain [sfDir] [query...]`
  * prints the formatted physical plan of each named SparkEntry query
  * (all of them by default). Used to check the properties the engine
  * promises at scale: filters pushed into the scan, pruned ReadSchema,
  * broadcast joins where a side is small, TakeOrderedAndProject instead
  * of global sorts, no CartesianProduct anywhere.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.GraftSession.local()
    names.foreach { name =>
      println(s"\n===================== $name =====================")
      graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
