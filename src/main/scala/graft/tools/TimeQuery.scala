package graft.tools

import graft.SparkEntry

/** Dev profiling CLI: time declared queries and print each one's physical
  * plan; `runs` = 0 prints the plans only.
  * Usage: sbt "runMain graft.tools.TimeQuery q52_embedding_near_dup[,q2,...] /root/testdata/sf0.1 [runs]"
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq // one or many (comma-separated)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = graft.Session.local(32)
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      for (i <- 1 to runs) {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tPlan = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val tExec = System.nanoTime()
        // Bench's between-run sweep: without it repeated runs measure the
        // compounding checkpoint-block leak, not the query
        graft.plans.Checkpoints.freeAll(spark)
        println(f"[$name run $i] plan-build ${(tPlan - t0) / 1e9}%.3f s, execute ${(tExec - tPlan) / 1e9}%.3f s")
      }
      println(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode))
    }
    spark.stop()
  }
}
