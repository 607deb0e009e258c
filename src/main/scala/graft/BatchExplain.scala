// plan-audit main (r14): BatchExplain <outDir> <q1,q2,...> [suffix]
// writes one formatted-physical-plan file (`explain("formatted")`) per
// named query, all in a single JVM session.
// Data dir comes from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01),
// the Verify/Bench contract (r14 ADVICE #4). Pinned-query caveat: see
// PlanAudit's header — localCheckpoint is eager, so plans of pinned
// queries render the pinned subtree as `Scan ExistingRDD`.
package graft
import org.apache.spark.sql.execution.ExplainMode

object BatchExplain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names = args(1).split(",")
    val suffix = if (args.length > 2) args(2) else ""
    val spark = GraftSession.builder("8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Graft.register(spark)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark,
          sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
        val plan =
          df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$name$suffix.txt"),
          plan.getBytes("UTF-8"))
      } catch {
        case e: Throwable =>
          System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
