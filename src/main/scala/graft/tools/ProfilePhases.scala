package graft.tools

import graft.{Bench, SparkEntry}
import graft.engine.GraftSession

/** Scratch profiler: split a query's construction+planning into phases —
  * DataFrame construction (includes any driver round trips), analysis,
  * optimization, physical planning, execution. Fresh frames per pass.
  */
object ProfilePhases {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cores = cpus, appName = "graft-phases")
    val prep = SparkEntry.prepared
    val artifacts = args.toSeq.flatMap(n => prep.get(n).map { p =>
      n -> p.build(spark, sfDir) }).toMap
    def body(n: String) = artifacts.get(n) match {
      case Some(a) => prep(n).search(spark, sfDir, a)
      case None => SparkEntry.queries(n)(spark, sfDir)
    }
    println(f"${"query"}%-26s ${"construct"}%9s ${"analyze"}%8s ${"optimize"}%9s ${"physical"}%9s ${"execute"}%8s")
    args.foreach { n =>
      Bench.materialize(body(n)) // warm
      (1 to 2).foreach { _ =>
        val t0 = System.nanoTime()
        val df = body(n)
        val t1 = System.nanoTime()
        val qe = df.queryExecution
        qe.analyzed
        val t2 = System.nanoTime()
        qe.optimizedPlan
        val t3 = System.nanoTime()
        qe.executedPlan
        val t4 = System.nanoTime()
        Bench.materialize(df)
        val t5 = System.nanoTime()
        def s(a: Long, b: Long) = f"${(b - a) / 1e9}%8.3f"
        println(f"$n%-26s ${s(t0, t1)}%9s ${s(t1, t2)}%8s ${s(t2, t3)}%9s ${s(t3, t4)}%9s ${s(t4, t5)}%8s  nodes=${qe.optimizedPlan.collect { case p => p }.size}")
      }
    }
    spark.stop()
  }
}
