package graft.tools

import graft.{Bench, SparkEntry}
import graft.engine.GraftSession

/** Dev tool (optimization round): materialize a query and print the FINAL
  * adaptive plan (after AQE re-optimization and stage reuse), which is the
  * plan that actually ran — `explain` before execution only shows the
  * initial plan and hides runtime exchange/stage reuse.
  */
object FinalPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.local(cores = cpus, appName = "graft-finalplan")
    args.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      Bench.materialize(df)
      println(s"\n===== $n (final) =====")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
