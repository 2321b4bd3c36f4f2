package graft

/** Dev tool: dump formatted physical plans for selected queries so the
  * scale posture is reviewable (pushdown reaching the scan, broadcast
  * joins on dims, partial aggregation, codegen spans).
  * Usage: runMain graft.Explain [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // default stays the cheap local[4]; SPARK_GRAFT_CPUS lets a plan
    // dump match the bench session's exact config (r14: the committed
    // plans/r14/ files are dumped at the bench's 32/32)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.localSession(cpus)
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "q2_filter_project", "q3_join_agg", "q4_topk",
        "word_freq", "ann_topk")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
