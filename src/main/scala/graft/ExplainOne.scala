// plan-audit main: ExplainOne <query-name> prints the formatted
// physical plan of one SparkEntry query at sf0.01.
package graft
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Graft.register(spark)
    val df = SparkEntry.queries(args(0))(spark, "/root/testdata/sf0.01")
    df.explain("formatted")
    spark.stop()
  }
}
