package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Spans around calls into the engine's public entry points, each with the
  * Spark work its calls launched. The calling thread tags its jobs with the
  * span id (a local property, inherited by the jobs it submits); a listener
  * charges jobs, stages and task metrics to the span. Spans stay in memory
  * until [[write]].
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext

  final class Work {
    val jobs, stages, tasks, jobWallMs, taskMs, shuffleBytes, spillBytes,
      inputBytes, inputRecords = new AtomicLong
  }
  /** One call: `op` is shared by the spans of one operation; `startMs`
    * counts from the tracer's creation.
    */
  final case class Span(id: Long, op: String, layer: String, call: String,
                        startMs: Double, ms: Double, work: Work)

  private val origin = System.nanoTime()
  private val ids = new AtomicLong
  private val open = new ConcurrentHashMap[String, Work]()
  private val jobOf = new ConcurrentHashMap[Int, (Work, Long)]()
  private val stageOf = new ConcurrentHashMap[Int, Work]()
  val spans = new ConcurrentLinkedQueue[Span]()

  sc.addSparkListener(this)

  private def workOf(props: java.util.Properties): Option[Work] =
    Option(props).flatMap(p => Option(p.getProperty(Key))).flatMap(id =>
      Option(open.get(id)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    workOf(e.properties).foreach { w =>
      w.jobs.incrementAndGet()
      jobOf.put(e.jobId, (w, e.time))
      e.stageIds.foreach(s => stageOf.put(s, w))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageOf.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOf.remove(e.jobId)).foreach { case (w, t0) =>
      w.jobWallMs.addAndGet(e.time - t0)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOf.get(e.stageId)).foreach { w =>
      w.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        w.taskMs.addAndGet(m.executorRunTime)
        w.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        w.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        w.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        w.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      }
    }

  /** Time `body` as one call of `layer` within operation `op`. */
  def span[T](op: String, layer: String, call: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val w = new Work
    open.put(id.toString, w)
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val ms = (System.nanoTime() - t0) / 1e6
      sc.setLocalProperty(Key, prev)
      spans.add(Span(id, op, layer, call, (t0 - origin) / 1e6, ms, w))
      ()
    }
  }

  /** Deliver pending listener events so span work counts are complete. */
  def settle(): Unit = org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)

  def close(): Unit = sc.removeSparkListener(this)

  /** One JSON line per span. */
  def write(path: String): Unit = {
    settle()
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      val w = s.work
      s"""{"id":${s.id},"op":"${s.op}","layer":"${s.layer}","call":"${s.call}","start_ms":${s.startMs},"ms":${s.ms},""" +
        s""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},"job_wall_ms":${w.jobWallMs},""" +
        s""""task_ms":${w.taskMs},"shuffle_bytes":${w.shuffleBytes},"spill_bytes":${w.spillBytes},""" +
        s""""input_bytes":${w.inputBytes},"input_records":${w.inputRecords}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }
}

/** Scan accounting of an executed plan, through AQE query stages. */
object PlanScans extends AdaptiveSparkPlanHelper {
  final case class Scan(files: Long, bytes: Long, rows: Long)

  def of(df: DataFrame): Scan = {
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    def metric(s: FileSourceScanExec, k: String): Long =
      s.metrics.get(k).map(_.value).getOrElse(0L)
    Scan(scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "filesSize")).sum,
      scans.map(metric(_, "numOutputRows")).sum)
  }
}
