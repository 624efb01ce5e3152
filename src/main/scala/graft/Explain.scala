package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    for (name <- args) {
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
