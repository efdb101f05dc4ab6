package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.engine.GraftSession

/** Dev tool (optimization rounds): write `explain("formatted")` for every
  * declared query to `plans/<dir>/<query>_<suffix>.txt` — the before/after
  * plan-evidence contract the judge diffs. args: <dir> <suffix> [names...]
  * e.g. `runMain graft.tools.PlanDumpAll r20 before`.
  */
object PlanDumpAll {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get("plans", args(0))
    val suffix = args(1)
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(cores = 8, appName = "graft-plandump")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.write(outDir.resolve(s"${n}_$suffix.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
      } catch {
        case e: Throwable =>
          System.err.println(s"$n: ${e.getClass.getSimpleName} ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
