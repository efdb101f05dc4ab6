package graft.catalog

import java.time.LocalDate

import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Data-lifecycle retention for date-partitioned streams — the reference's
  * retention config and delete task (`src/storage/retention.rs:98-180`
  * config validation, `:205-253` date-partition delete): a stream's
  * retention is a list of tasks (`{"description", "action": "delete",
  * "duration": "Nd"}`), and enforcement removes every `date=…` partition
  * strictly older than `today − days`, plus its rows from the stream's
  * stats catalog when one exists (the reference's
  * remove-manifest-before-delete ordering: metadata first, so a crash
  * between the two steps leaves only unreferenced files, never dangling
  * manifest entries).
  *
  * All partition work goes through the Hadoop `FileSystem` API — the same
  * abstraction Spark's own writers use — so retention behaves identically
  * on local disk and object stores. Deleting a date partition is O(1)
  * directory removes, never a row-level rewrite: at 100 TB the unit of
  * expiry must be the partition, not the row.
  */
object Retention {

  /** One retention task (reference `Task`; `action` is `delete` — the only
    * action the reference ships).
    */
  final case class Task(description: String, days: Int)

  private val mapper = new ObjectMapper()
  private val MaxDays = 36500

  /** Parse + validate the reference's JSON shape: an array of
    * `{"description", "action", "duration": "Nd"}`. Mirrors retention.rs
    * validation: `d` suffix required, ≤ 36500 days, no duplicate action,
    * zero days falls back to 7.
    */
  def parse(json: String): Either[String, Seq[Task]] = {
    val node = Try(mapper.readTree(json)).toOption
      .getOrElse(return Left("malformed JSON"))
    if (!node.isArray) return Left("retention must be a JSON array of tasks")
    var seenDelete = false
    val out = Seq.newBuilder[Task]
    val it = node.elements()
    while (it.hasNext) {
      val t = it.next()
      val action = Option(t.get("action")).map(_.asText()).getOrElse("delete")
      if (action != "delete") return Left(s"unsupported action: $action")
      if (seenDelete)
        return Left("configuration contains two tasks of action \"delete\"")
      seenDelete = true
      val duration = Option(t.get("duration")).map(_.asText())
        .getOrElse(return Left("task missing duration"))
      if (!duration.endsWith("d"))
        return Left("missing 'd' suffix for duration value")
      val days = Try(duration.dropRight(1).trim.toInt).toOption
        .getOrElse(return Left(
          "could not convert duration to an unsigned number"))
      if (days < 0)
        return Left("could not convert duration to an unsigned number")
      if (days > MaxDays)
        return Left(
          "retention cannot be greater than 36500 days (approx 100 years)")
      val effective = if (days == 0) 7 else days // reference 0 → 7 fallback
      out += Task(
        Option(t.get("description")).map(_.asText()).getOrElse(""),
        effective)
    }
    Right(out.result())
  }

  /** Render tasks back to the reference's JSON view (`TaskView`). */
  def render(tasks: Seq[Task]): String = {
    val arr = mapper.createArrayNode()
    tasks.foreach { t =>
      arr.addObject().put("description", t.description)
        .put("action", "delete").put("duration", s"${t.days}d")
    }
    mapper.writeValueAsString(arr)
  }

  /** `date=…` partitions of `tableRoot` strictly older than
    * `today − days` (reference `get_retain_until` + date filter).
    */
  def expiredDates(spark: SparkSession, tableRoot: String, days: Int,
                   today: LocalDate): Seq[String] = {
    val cutoff = today.minusDays(days.toLong)
    val root = new Path(tableRoot)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("date="))
      .filter { d =>
        Try(LocalDate.parse(d.stripPrefix("date=")))
          .toOption.exists(_.isBefore(cutoff))
      }
      .sorted
  }

  /** Enforce a delete task: drop expired rows from the stream's
    * [[TxnCatalog]] FIRST, as one atomic version (metadata before data, the
    * reference's ordering; readers pinned to older versions stay
    * consistent), then remove each expired `date=…` directory. A catalog
    * with no committed version has no rows to drop. Returns the removed
    * partition names.
    */
  def enforce(spark: SparkSession, tableRoot: String, days: Int,
              today: LocalDate,
              catalogPath: Option[String] = None): Seq[String] = {
    val dates = expiredDates(spark, tableRoot, days, today)
    if (dates.isEmpty) return Seq.empty
    catalogPath.filter(TxnCatalog.latestVersion(_).nonEmpty).foreach { cp =>
      // keep only catalog rows whose file sits in a surviving partition;
      // the current version is present (vacuum always keeps the latest)
      val doomed = dates.map(d => col("file_path").contains(s"/$d/"))
        .reduce(_ || _)
      TxnCatalog.commit(spark, cp)(cur => cur.get.filter(!doomed))
    }
    val fs = new Path(tableRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    dates.foreach(d => fs.delete(new Path(tableRoot, d), true))
    dates
  }
}
