package graft.tools

/** Print the formatted physical plan of one or more gate queries:
  * `Test/runMain graft.tools.ExplainQ q_seasonal_anomaly [sfDir]`. */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ExplainQ q_name[,q_name...] [sfDir]")
    val names = args(0).split(",").toSeq
    val sf = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = graft.Harness.session(defaultCpus = 4)
    graft.functions.FinancialFunctions.registerAll(spark)
    names.foreach { name =>
      println(s"===== $name =====")
      graft.SparkEntry.queries(name)(spark, sf).explain("formatted")
    }
    spark.stop()
  }
}
