package graft.http

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.databind.ObjectMapper

import graft.engine.SmallFiles

/** Per-user persisted console objects — saved filters and dashboards
  * (reference `src/users/filters.rs:38-116`, `src/users/dashboards.rs:59-181`).
  *
  * Storage layout mirrors the reference's object-store paths: one JSON file
  * per object under `<root>/.users/<tenant>/<user>/<kind>/<id>.json`, so a
  * shared filesystem (or object store mount) IS the metastore — no extra
  * service. Objects are scoped to their owner: another user's ids simply do
  * not resolve, which is the reference's access rule for these objects.
  *
  * Metadata stamping follows the reference: filters get `version`,
  * `user_id` and `filter_id`; dashboards get `version`, `author`,
  * `dashboardId`, `created`/`modified` timestamps, and defaulted
  * `isFavorite`/`tiles`. All other body fields pass through untouched
  * (the reference's `other_fields` flatten).
  */
final class UserConfigs(root: String) {

  import UserConfigs._

  private val mapper = new ObjectMapper()

  private def dir(tenant: String, user: String, kind: Kind): Path =
    Paths.get(root, ".users", tenant, user, kind.name)

  private def file(tenant: String, user: String, kind: Kind, id: String): Path =
    dir(tenant, user, kind).resolve(s"$id.json")

  /** ids are server-assigned and path-safe; reject anything else before it
    * touches the filesystem (no traversal via crafted ids)
    */
  private def validId(id: String): Boolean =
    id.nonEmpty && id.forall(c => c.isLetterOrDigit || c == '-')

  def create(tenant: String, user: String, kind: Kind,
             body: ObjectNode): JsonNode = {
    val id = java.util.UUID.randomUUID().toString
    val stamped = stamp(kind, body, user, id, created = true)
    SmallFiles.publishLocal(file(tenant, user, kind, id),
      mapper.writeValueAsString(stamped))
    stamped
  }

  def list(tenant: String, user: String, kind: Kind): Seq[JsonNode] = {
    val d = dir(tenant, user, kind)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val stream = Files.list(d)
      try stream.iterator().asScala
        .filter(_.toString.endsWith(".json"))
        .map(p => mapper.readTree(Files.readAllBytes(p)))
        .toSeq
        .sortBy(n => Option(n.get(kind.idField)).map(_.asText()).getOrElse(""))
      finally stream.close()
    }
  }

  /** All of a tenant's objects of `kind` ACROSS users — tenant-wide
    * inventories (reference `DASHBOARDS.list_tags` walks the whole
    * tenant's dashboards, not just the caller's).
    */
  def listTenant(tenant: String, kind: Kind): Seq[JsonNode] = {
    val base = Paths.get(root, ".users", tenant)
    if (!Files.isDirectory(base)) Seq.empty
    else {
      val users = Files.list(base)
      try users.iterator().asScala.flatMap { u =>
        val d = u.resolve(kind.name)
        if (!Files.isDirectory(d)) Nil
        else {
          val s = Files.list(d)
          try s.iterator().asScala
            .filter(_.toString.endsWith(".json"))
            .map(p => mapper.readTree(Files.readAllBytes(p)))
            .toList
          finally s.close()
        }
      }.toSeq
      finally users.close()
    }
  }

  def get(tenant: String, user: String, kind: Kind,
          id: String): Option[JsonNode] = {
    val f = file(tenant, user, kind, id)
    if (validId(id) && Files.isRegularFile(f))
      Some(mapper.readTree(Files.readAllBytes(f)))
    else None
  }

  /** Full-body replace, keeping the object's id and creation metadata. */
  def update(tenant: String, user: String, kind: Kind, id: String,
             body: ObjectNode): Option[JsonNode] =
    get(tenant, user, kind, id).map { existing =>
      val stamped = stamp(kind, body, user, id, created = false)
      Option(existing.get("created"))
        .foreach(c => stamped.set[ObjectNode]("created", c))
      SmallFiles.publishLocal(file(tenant, user, kind, id),
        mapper.writeValueAsString(stamped))
      stamped
    }

  def delete(tenant: String, user: String, kind: Kind, id: String): Boolean =
    validId(id) && Files.deleteIfExists(file(tenant, user, kind, id))

  private def stamp(kind: Kind, body: ObjectNode, user: String, id: String,
                    created: Boolean): ObjectNode = {
    val node = body.deepCopy()
    kind match {
      case Filters =>
        node.put("version", CurrentFilterVersion)
        node.put("user_id", user)
        node.put("filter_id", id)
      case Dashboards =>
        node.put("version", CurrentDashboardVersion)
        node.put("author", user)
        node.put("dashboardId", id)
        val now = java.time.Instant.now().toString
        if (created) node.put("created", now)
        node.put("modified", now)
        if (!node.hasNonNull("isFavorite")) node.put("isFavorite", false)
        if (!node.hasNonNull("tiles")) node.putArray("tiles")
      case Correlations =>
        node.put("version", CurrentCorrelationVersion)
        node.put("user_id", user)
        node.put("id", id)
    }
    node
  }
}

object UserConfigs {
  /** Same version tags the reference writes. */
  val CurrentFilterVersion = "v2"
  val CurrentDashboardVersion = "v3"
  val CurrentCorrelationVersion = "v1"

  sealed abstract class Kind(val name: String, val idField: String)
  case object Filters extends Kind("filters", "filter_id")
  case object Dashboards extends Kind("dashboards", "dashboardId")
  case object Correlations extends Kind("correlation", "id")
}
