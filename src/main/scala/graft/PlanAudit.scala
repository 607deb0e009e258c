// plan-audit main (r14 optimization evidence): dumps, for EVERY query in
// SparkEntry.queries, a one-line physical-plan shape summary — operator
// counts that matter for the optimization playbook (Exchange, Sort,
// join strategies, codegen spans). One JVM session for all 400+
// queries, so the before/after sweep of an optimization is cheap to
// regenerate. Full formatted plans come from BatchExplain.
//
//   PlanAudit <out.tsv>                 — shape manifest for all queries
//   PlanAudit <out.tsv> q1,q2,...       — manifest restricted to names
//
// Data dir comes from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01),
// the Verify/Bench contract (r14 ADVICE #4).
//
// Caveat for pinned queries (r14 ADVICE #2): localCheckpoint() is EAGER,
// so building a pinned query's DataFrame executes the pinned subtree, and
// the dumped plan renders it as `Scan ExistingRDD` — the manifest's
// operator counts EXCLUDE the checkpoint-producer operators that still
// run once at build time. Compare pinned queries by wall-clock (which
// charges those jobs), not by scan counts alone.
package graft
import org.apache.spark.sql.execution.ExplainMode

object PlanAudit {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val spark = GraftSession.builder("8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Graft.register(spark)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    def count(plan: String, token: String): Int =
      token.r.findAllMatchIn(plan).size
    val sb = new StringBuilder
    sb.append("query\texchange\tsort\tsmj\tbhj\tshj\tbnlj\tcartesian\twindow\tcodegen\tscans\n")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, dir)
          val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          // count only the numbered-operator list (before "details")
          val head = plan.split("\n\n")(0)
          sb.append(Seq(name,
            count(head, "\\bExchange\\b"),
            count(head, "\\bSort\\b"),
            count(head, "SortMergeJoin"),
            count(head, "BroadcastHashJoin"),
            count(head, "ShuffledHashJoin"),
            count(head, "BroadcastNestedLoopJoin"),
            count(head, "CartesianProduct"),
            count(head, "\\bWindow\\b"),
            count(head, "WholeStageCodegen"),
            count(head, "Scan parquet")).mkString("\t") + "\n")
        } catch {
          case e: Throwable =>
            // ERR rows padded to the header's column count so a partial
            // audit can't silently mis-parse downstream (r14 ADVICE #4)
            sb.append((Seq(name, s"ERR ${e.getClass.getSimpleName}") ++
              Seq.fill(9)("ERR")).mkString("\t") + "\n")
        }
      }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    spark.stop()
  }
}
