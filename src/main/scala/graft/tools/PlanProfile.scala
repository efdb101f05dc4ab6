package graft.tools

import graft.{Bench, SparkEntry}
import graft.engine.GraftSession

/** Dev tool (optimization round): split a query's per-pass wall time into
  * PLANNING (analysis + optimization + physical planning, forced via
  * `queryExecution.executedPlan` on a fresh DataFrame) and EXECUTION
  * (a fresh-DataFrame materialize, same methodology as [[graft.Bench]],
  * minus the planning figure). Prepared queries profile their SEARCH
  * phase (artifact built once up front), mirroring the bench split.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.PlanProfile q_a q_b …
  */
object PlanProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cores = cpus, appName = "graft-planprof")
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val prep = SparkEntry.prepared
    val artifacts = names.flatMap(n => prep.get(n).map { p =>
      n -> p.build(spark, sfDir) }).toMap
    def body(n: String) = artifacts.get(n) match {
      case Some(a) => prep(n).search(spark, sfDir, a)
      case None => SparkEntry.queries(n)(spark, sfDir)
    }
    println(f"${"query"}%-34s ${"plan_s"}%8s ${"total_s"}%8s ${"exec_s"}%8s")
    names.foreach { n =>
      try {
        // warm pass (codegen caches, file listing), as the bench does
        Bench.materialize(body(n))
        // planning only, fresh DF
        val tp0 = System.nanoTime()
        body(n).queryExecution.executedPlan
        val tPlan = (System.nanoTime() - tp0) / 1e9
        // full pass, fresh DF (min of 2, as the bench does)
        val tTotal = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          Bench.materialize(body(n))
          (System.nanoTime() - t0) / 1e9
        }.min
        println(f"$n%-34s $tPlan%8.3f $tTotal%8.3f ${tTotal - tPlan}%8.3f")
      } catch { case e: Throwable =>
        println(s"$n ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
