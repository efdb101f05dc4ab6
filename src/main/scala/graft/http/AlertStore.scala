package graft.http

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.engine.SmallFiles
import graft.query.{Alerts, AlertTargets, QueryService}

/** Persisted alert + notification-target definitions behind the HTTP
  * surface (reference `src/handlers/http/alerts.rs` + `targets.rs`;
  * storage as in `src/alerts/target.rs` `TargetConfigs` — one JSON object
  * per id, tenant-scoped).
  *
  * Layout mirrors [[UserConfigs]]: `<root>/.alerts/<tenant>/targets/<id>
  * .json` and `.../alerts/<id>.json` on the shared storage root, so every
  * node of a cluster sees the same definitions and a restart loses
  * nothing.
  *
  * The store owns the runtime side too: one [[Alerts.StateMachine]] whose
  * `notify` fans out through a per-alert [[AlertTargets.Dispatcher]]
  * (suppression/repeat state), rebuilt whenever the alert or any target
  * definition changes. [[evaluate]] is the reference's `evaluate_alert`
  * handler: one aggregation over the alert's stream windowed to
  * `eval_window_millis`, fed through the state machine.
  *
  * JSON shapes (validated on write, stored verbatim plus stamps):
  * {{{
  * target: {"name": "...", "type": "slack|webhook|alertManager",
  *          "endpoint": "http://...", "headers": {..}?,
  *          "username": "u"?, "password": "p"?,
  *          "repeat": {"interval_millis": 60000, "times": 1}?,
  *          "delivery": {"attempts": 3, "timeout_millis": 10000,
  *                       "backoff_millis": 200}?}
  * alert:  {"title": "...", "severity": "critical|high|medium|low"?,
  *          "stream": "s", "agg": "avg|count|count_distinct|min|max|sum",
  *          "column": "c", "operator": "above|below|equal" (or >,<,=),
  *          "threshold": 1.5, "group_by": ["g"]?,
  *          "where": {"column": "c", "op": ">=", "value": "v"}
  *                 | {"and"|"or": [<where>, ...]}?,
  *          "eval_window_millis": 300000?, "targets": [<target-id>]?,
  *          "tags": ["t"]?}
  * }}}
  */
final class AlertStore(root: String) extends AutoCloseable {

  import AlertStore._

  private val mapper = new ObjectMapper()
  private val machine = new Alerts.StateMachine(dispatchFor)
  // SSE fan-out: (tenant, sink) pairs fed on alert TRIGGER transitions
  // (reference `src/sse/mod.rs` broadcast + `alerts/mod.rs:735-748`)
  private val sseListeners = java.util.concurrent.ConcurrentHashMap
    .newKeySet[(String, String => Unit)]()

  /** Subscribe a tenant-scoped sink to alert trigger events; close to
    * unsubscribe.
    */
  def addSseListener(tenant: String,
                     sink: String => Unit): AutoCloseable = {
    val entry = (tenant, sink)
    sseListeners.add(entry)
    () => { sseListeners.remove(entry); () }
  }

  /** Reference `SSEEvent` JSON shape (`src/sse/mod.rs`). */
  private def broadcastTrigger(tenant: String, id: String,
                               title: String): Unit = {
    val o = mapper.createObjectNode()
    o.put("criticality", "error")
    val alertEvent = o.putObject("message").putObject("alertEvent")
    alertEvent.put("id", id)
    alertEvent.put("state", "triggered")
    alertEvent.put("name", title)
    val json = mapper.writeValueAsString(o)
    sseListeners.forEach { case (t, sink) =>
      if (t == tenant) {
        try sink(json)
        catch { case _: Exception => () } // dead client; reaped on close
      }
    }
  }
  // alert key (tenant + id) → live dispatcher over its parsed targets;
  // invalidated on any alert/target mutation in that tenant
  private val dispatchers =
    new java.util.concurrent.ConcurrentHashMap[String, AlertTargets.Dispatcher]()

  private def dir(tenant: String, kind: String): Path =
    Paths.get(root, ".alerts", tenant, kind)

  private def file(tenant: String, kind: String, id: String): Path =
    dir(tenant, kind).resolve(s"$id.json")

  private def validId(id: String): Boolean =
    id.nonEmpty && id.forall(c => c.isLetterOrDigit || c == '-')

  private def readAll(tenant: String, kind: String): Seq[ObjectNode] = {
    val d = dir(tenant, kind)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val stream = Files.list(d)
      try stream.iterator().asScala
        .filter(_.toString.endsWith(".json"))
        .map(p => mapper.readTree(Files.readAllBytes(p)).asInstanceOf[ObjectNode])
        .toSeq.sortBy(n => n.path("id").asText())
      finally stream.close()
    }
  }

  private def readOne(tenant: String, kind: String,
                      id: String): Option[ObjectNode] = {
    val f = file(tenant, kind, id)
    if (validId(id) && Files.isRegularFile(f))
      Some(mapper.readTree(Files.readAllBytes(f)).asInstanceOf[ObjectNode])
    else None
  }

  private def write(tenant: String, kind: String, id: String,
                    node: ObjectNode): Unit =
    SmallFiles.publishLocal(file(tenant, kind, id),
      mapper.writeValueAsString(node))

  // ---------------------------------------------------------------- targets

  def createTarget(tenant: String,
                   body: ObjectNode): Either[String, JsonNode] =
    parseTarget(body).map { _ =>
      val id = java.util.UUID.randomUUID().toString
      val stamped = body.deepCopy().put("id", id)
      write(tenant, "targets", id, stamped)
      stamped
    }

  def listTargets(tenant: String): Seq[JsonNode] = readAll(tenant, "targets")

  def getTarget(tenant: String, id: String): Option[JsonNode] =
    readOne(tenant, "targets", id)

  def updateTarget(tenant: String, id: String,
                   body: ObjectNode): Either[String, Option[JsonNode]] =
    parseTarget(body).map { _ =>
      readOne(tenant, "targets", id).map { _ =>
        val stamped = body.deepCopy().put("id", id)
        write(tenant, "targets", id, stamped)
        invalidateDispatchers(tenant)
        stamped: JsonNode
      }
    }

  /** Refused while an alert references the target (the reference checks
    * usage in `targets.rs` delete).
    */
  def deleteTarget(tenant: String, id: String): Either[String, Boolean] = {
    if (!validId(id) || !Files.isRegularFile(file(tenant, "targets", id)))
      return Right(false)
    val holders = readAll(tenant, "alerts").filter(a =>
      a.path("targets").elements().asScala.exists(_.asText() == id))
    if (holders.nonEmpty)
      Left(s"target '$id' is in use by alerts: " +
        holders.map(_.path("id").asText()).sorted.mkString(", "))
    else {
      Files.deleteIfExists(file(tenant, "targets", id))
      invalidateDispatchers(tenant)
      Right(true)
    }
  }

  // ----------------------------------------------------------------- alerts

  def createAlert(tenant: String,
                  body: ObjectNode): Either[String, JsonNode] =
    parseAlert(tenant, body).map { _ =>
      val id = java.util.UUID.randomUUID().toString
      val stamped = body.deepCopy().put("id", id)
        .put("created", java.time.Instant.now().toString)
      write(tenant, "alerts", id, stamped)
      stamped
    }

  def listAlerts(tenant: String): Seq[ObjectNode] = readAll(tenant, "alerts")

  def getAlert(tenant: String, id: String): Option[ObjectNode] =
    readOne(tenant, "alerts", id)

  def updateAlert(tenant: String, id: String,
                  body: ObjectNode): Either[String, Option[JsonNode]] =
    parseAlert(tenant, body).map { _ =>
      readOne(tenant, "alerts", id).map { existing =>
        val stamped = body.deepCopy().put("id", id)
        Option(existing.get("created"))
          .foreach(c => stamped.set[ObjectNode]("created", c))
        if (existing.path("disabled").asBoolean(false))
          stamped.put("disabled", true)
        write(tenant, "alerts", id, stamped)
        dispatchers.remove(alertKey(tenant, id))
        stamped: JsonNode
      }
    }

  def deleteAlert(tenant: String, id: String): Boolean = {
    val existed = validId(id) && Files.deleteIfExists(file(tenant, "alerts", id))
    if (existed) {
      Option(dispatchers.remove(alertKey(tenant, id))).foreach(_.close())
      machine.enable(alertKey(tenant, id)) // reset runtime state
    }
    existed
  }

  /** Disabled alerts never evaluate or notify (reference
    * `update_notification_state` / disable handler).
    */
  def setDisabled(tenant: String, id: String,
                  disabled: Boolean): Option[JsonNode] =
    readOne(tenant, "alerts", id).map { node =>
      node.put("disabled", disabled)
      write(tenant, "alerts", id, node)
      if (disabled) machine.disable(alertKey(tenant, id))
      else machine.enable(alertKey(tenant, id))
      node
    }

  /** Current state string for the API: the persisted `disabled` flag wins
    * (it survives restarts), else the live machine state.
    */
  def stateOf(tenant: String, node: ObjectNode): String =
    if (node.path("disabled").asBoolean(false)) "disabled"
    else machine.state(alertKey(tenant, node.path("id").asText())) match {
      case Alerts.Triggered => "triggered"
      case Alerts.Disabled  => "disabled"
      case _                => "not-triggered"
    }

  /** Reference list summary (`AlertConfig::to_summary`). */
  def summary(tenant: String, node: ObjectNode): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("id", node.path("id").asText())
    o.put("title", node.path("title").asText())
    o.put("severity", node.path("severity").asText("medium"))
    o.put("stream", node.path("stream").asText())
    o.put("state", stateOf(tenant, node))
    Option(node.get("tags")).foreach(t => o.set[ObjectNode]("tags", t))
    Option(node.get("created")).foreach(c => o.set[ObjectNode]("created", c))
    o
  }

  /** One evaluation round NOW (reference `evaluate_alert` handler): the
    * alert's aggregate over its stream windowed to `eval_window_millis`,
    * fed through the state machine (which notifies the alert's targets on
    * Triggered / first resolve). Returns the new state plus each group's
    * aggregate and verdict.
    */
  def evaluate(spark: SparkSession, tenant: String, id: String,
               resolve: String => Option[QueryService.Stream])
      : Either[String, ObjectNode] = {
    val node = readOne(tenant, "alerts", id) match {
      case Some(n) => n
      case None    => return Left(s"alert '$id' not found")
    }
    if (node.path("disabled").asBoolean(false)) {
      machine.disable(alertKey(tenant, id))
      val o = mapper.createObjectNode().put("id", id).put("state", "disabled")
      o.putArray("results")
      return Right(o)
    }
    val parsed = parseAlert(tenant, node) match {
      case Right(p)  => p
      case Left(msg) => return Left(msg)
    }
    val stream = resolve(parsed.stream) match {
      case Some(s) => s
      case None    => return Left(s"stream '${parsed.stream}' not found")
    }
    val now = java.time.Instant.now()
    val since = now.minusMillis(parsed.evalWindowMillis)
    // the same catalog-pruned windowed scan the query path uses; the hour
    // of forward slack admits ingest clock skew (the old unbounded read
    // did too)
    val df =
      try graft.query.QueryService.windowedRead(spark, parsed.stream, stream,
        graft.query.TimeRange(since, now.plusSeconds(3600)))
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          return Left(s"stream '${parsed.stream}' has no data: ${e.getMessage}")
      }
    val results = Alerts.evaluate(df, parsed.cfg)
    // make sure the notify path sees CURRENT definitions
    ensureDispatcher(tenant, id, parsed)
    val state = machine.observe(alertKey(tenant, id), parsed.cfg, results)
    if (state == Alerts.Triggered)
      broadcastTrigger(tenant, id, node.path("title").asText())
    val o = mapper.createObjectNode().put("id", id).put("state",
      state match {
        case Alerts.Triggered => "triggered"
        case Alerts.Disabled  => "disabled"
        case _                => "not-triggered"
      })
    val arr = o.putArray("results")
    results.foreach { r =>
      val ro = arr.addObject()
      val go = ro.putObject("group")
      r.groupValues.toSeq.sortBy(_._1).foreach { case (k, v) => go.put(k, v) }
      ro.put("value", r.aggregate)
      ro.put("triggered", Alerts.triggered(r, parsed.cfg))
    }
    Right(o)
  }

  override def close(): Unit = {
    dispatchers.values().asScala.foreach(_.close())
    dispatchers.clear()
  }

  // ---------------------------------------------------------------- runtime

  private def alertKey(tenant: String, id: String): String = s"$tenant/$id"

  private def invalidateDispatchers(tenant: String): Unit = {
    val prefix = s"$tenant/"
    dispatchers.keys().asScala.filter(_.startsWith(prefix)).toSeq.foreach {
      k => Option(dispatchers.remove(k)).foreach(_.close())
    }
  }

  private def ensureDispatcher(tenant: String, id: String,
                               parsed: ParsedAlert): Unit = {
    dispatchers.computeIfAbsent(alertKey(tenant, id), _ => {
      val targets = parsed.targetIds.flatMap(tid =>
        readOne(tenant, "targets", tid).flatMap(n =>
          parseTarget(n).toOption))
      new AlertTargets.Dispatcher(targets)
    })
    ()
  }

  /** The state machine's notify: route through the alert's dispatcher.
    * The key IS `tenant/alertId` ([[alertKey]]); an alert with no targets
    * (or deleted mid-flight) notifies nobody — the reference's behavior
    * for an empty target list.
    */
  private def dispatchFor(n: Alerts.Notification): Unit =
    Option(dispatchers.get(n.alertId)).foreach(_.apply(n))

  // ---------------------------------------------------------------- parsing

  private[http] def parseTarget(
      node: ObjectNode): Either[String, AlertTargets.Target] = {
    val name = node.path("name").asText("")
    if (name.isEmpty) return Left("target needs a 'name'")
    val endpoint = node.path("endpoint").asText("")
    if (endpoint.isEmpty) return Left("target needs an 'endpoint'")
    if (!endpoint.startsWith("http://") && !endpoint.startsWith("https://"))
      return Left(s"unsupported endpoint scheme in '$endpoint'")
    val kind = node.path("type").asText("") match {
      case "slack" => Right(AlertTargets.Slack(endpoint))
      case "webhook" =>
        val headers = Option(node.get("headers")).map(h =>
          h.properties().asScala.map(e => e.getKey -> e.getValue.asText())
            .toMap).getOrElse(Map.empty[String, String])
        Right(AlertTargets.Webhook(endpoint, headers))
      case "alertManager" =>
        val auth = for {
          u <- Option(node.get("username")).map(_.asText())
          p <- Option(node.get("password")).map(_.asText())
        } yield (u, p)
        Right(AlertTargets.AlertManager(endpoint, auth))
      case other => Left(s"unknown target type '$other' " +
        "(want slack|webhook|alertManager)")
    }
    kind.map { k =>
      val repeat = Option(node.get("repeat")).map { r =>
        val times = r.path("times").asInt(1)
        AlertTargets.NotificationConfig(
          intervalMillis = r.path("interval_millis").asLong(60 * 1000L),
          times = if (times <= 0) None else Some(times))
      }.getOrElse(AlertTargets.NotificationConfig())
      val delivery = Option(node.get("delivery")).map { d =>
        AlertTargets.DeliveryPolicy(
          attempts = d.path("attempts").asInt(3),
          timeoutMillis = d.path("timeout_millis").asLong(10 * 1000L),
          backoffMillis = d.path("backoff_millis").asLong(200L))
      }.getOrElse(AlertTargets.DeliveryPolicy())
      AlertTargets.Target(name, k, repeat, delivery)
    }
  }

  private[http] def parseAlert(tenant: String,
                               node: ObjectNode): Either[String, ParsedAlert] = {
    if (node.path("title").asText("").isEmpty)
      return Left("alert needs a 'title'")
    val stream = node.path("stream").asText("")
    if (stream.isEmpty) return Left("alert needs a 'stream'")
    val severity = node.path("severity").asText("medium")
    if (!Severities.contains(severity))
      return Left(s"unknown severity '$severity'")
    val agg = node.path("agg").asText("") match {
      case "avg"            => Alerts.AggAvg
      case "count"          => Alerts.AggCount
      case "count_distinct" => Alerts.AggCountDistinct
      case "min"            => Alerts.AggMin
      case "max"            => Alerts.AggMax
      case "sum"            => Alerts.AggSum
      case other =>
        return Left(s"unknown agg '$other' " +
          "(want avg|count|count_distinct|min|max|sum)")
    }
    val column = node.path("column").asText("")
    if (column.isEmpty) return Left("alert needs a 'column'")
    val cmp = node.path("operator").asText("") match {
      case "above" | ">" => Alerts.Above
      case "below" | "<" => Alerts.Below
      case "equal" | "=" => Alerts.EqualTo
      case other => return Left(s"unknown operator '$other' " +
        "(want above|below|equal)")
    }
    if (!node.path("threshold").isNumber)
      return Left("alert needs a numeric 'threshold'")
    val where = Option(node.get("where")) match {
      case None => Right(None)
      case Some(w) => parseCondition(w).map(Some(_))
    }
    where.flatMap { w =>
      val groupBy = Option(node.get("group_by")).toSeq
        .flatMap(_.elements().asScala).map(_.asText())
      val targetIds = Option(node.get("targets")).toSeq
        .flatMap(_.elements().asScala).map(_.asText())
      targetIds.find(getTarget(tenant, _).isEmpty) match {
        case Some(missing) => Left(s"target '$missing' does not exist")
        case None =>
          Right(ParsedAlert(stream,
            Alerts.AlertConfig(agg, column, w, groupBy, cmp,
              node.path("threshold").asDouble()),
            node.path("eval_window_millis").asLong(5 * 60 * 1000L),
            targetIds))
      }
    }
  }

  /** Condition tree JSON → [[Alerts.ConditionNode]]; operator strings are
    * the reference's serde renames (`alert_enums.rs:171-200`).
    */
  private[http] def parseCondition(
      node: JsonNode): Either[String, Alerts.ConditionNode] = {
    def group(and: Boolean, arr: JsonNode) = {
      val parsed = arr.elements().asScala.toSeq.map(parseCondition)
      parsed.collectFirst { case Left(msg) => Left(msg) }.getOrElse(
        Right(Alerts.Group(and, parsed.collect { case Right(c) => c })))
    }
    if (node.has("and")) group(and = true, node.get("and"))
    else if (node.has("or")) group(and = false, node.get("or"))
    else {
      val column = node.path("column").asText("")
      if (column.isEmpty) return Left("condition needs a 'column'")
      WhereOps.get(node.path("op").asText("")) match {
        case None =>
          Left(s"unknown condition op '${node.path("op").asText("")}'")
        case Some(op) =>
          val value = Option(node.get("value")).map(_.asText())
          val needsValue = op != Alerts.IsNull && op != Alerts.IsNotNull
          if (needsValue && value.isEmpty)
            Left(s"condition op '${node.path("op").asText("")}' needs a 'value'")
          else Right(Alerts.Leaf(column, op, value))
      }
    }
  }
}

object AlertStore {
  val Severities: Set[String] = Set("critical", "high", "medium", "low")

  private[http] final case class ParsedAlert(
      stream: String,
      cfg: Alerts.AlertConfig,
      evalWindowMillis: Long,
      targetIds: Seq[String])

  /** Reference `WhereConfigOperator` serde renames. */
  val WhereOps: Map[String, Alerts.WhereOp] = Map(
    "=" -> Alerts.Eq, "!=" -> Alerts.NotEq,
    "<" -> Alerts.Lt, ">" -> Alerts.Gt,
    "<=" -> Alerts.LtEq, ">=" -> Alerts.GtEq,
    "is null" -> Alerts.IsNull, "is not null" -> Alerts.IsNotNull,
    "ilike" -> Alerts.ILike, "contains" -> Alerts.Contains,
    "begins with" -> Alerts.BeginsWith, "ends with" -> Alerts.EndsWith,
    "does not contain" -> Alerts.DoesNotContain,
    "does not begin with" -> Alerts.DoesNotBeginWith,
    "does not end with" -> Alerts.DoesNotEndWith)
}
