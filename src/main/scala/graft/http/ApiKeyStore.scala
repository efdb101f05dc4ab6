package graft.http

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.SecureRandom
import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.engine.SmallFiles
import graft.query.Rbac

/** Dynamic API keys (reference `src/handlers/http/apikeys.rs`): each key
  * is its own principal — created with a name and role set, authenticated
  * via `x-api-key`, authorized through the RBAC role assignments made at
  * creation. Key values are UUIDs (the reference's format); key ids are
  * time-sortable unique strings the management endpoints address keys by,
  * so list/delete never handle the secret itself (list masks to the last
  * four characters, like the reference).
  */
final class ApiKeyStore(root: String) {

  private val mapper = new ObjectMapper()
  private val rng = new SecureRandom()
  private val lock = new Object
  private val file: Path = Paths.get(root, ".users", "apikeys.json")

  final case class Key(keyId: String, apiKey: String, keyName: String,
                       roles: Seq[String], createdBy: String, tenant: String,
                       createdAt: Long, modifiedAt: Long)

  // ------------------------------------------------------------- store

  private def load(): Map[String, Key] =
    if (!Files.isRegularFile(file)) Map.empty
    else {
      val node = mapper.readTree(Files.readString(file, UTF_8))
      node.properties().asScala.map { e =>
        val v = e.getValue
        e.getKey -> Key(e.getKey,
          v.path("apiKey").asText(""),
          v.path("keyName").asText(""),
          Option(v.get("roles")).toSeq
            .flatMap(_.elements().asScala.map(_.asText())),
          v.path("createdBy").asText(""),
          v.path("tenant").asText(""),
          v.path("createdAt").asLong(0L),
          v.path("modifiedAt").asLong(0L))
      }.toMap
    }

  private def save(m: Map[String, Key]): Unit = {
    val o = mapper.createObjectNode()
    m.foreach { case (id, k) =>
      val e = o.putObject(id)
      e.put("apiKey", k.apiKey).put("keyName", k.keyName)
        .put("createdBy", k.createdBy).put("tenant", k.tenant)
        .put("createdAt", k.createdAt).put("modifiedAt", k.modifiedAt)
      val arr = e.putArray("roles"); k.roles.foreach(arr.add)
    }
    SmallFiles.publishLocal(file, mapper.writeValueAsString(o))
  }

  /** Time-sortable unique id (the reference uses a ULID). */
  private def newKeyId(): String = {
    val b = new Array[Byte](8)
    rng.nextBytes(b)
    f"${System.currentTimeMillis()}%013d-" +
      b.map(x => f"${x & 0xff}%02x").mkString
  }

  // ------------------------------------------------------------ surface

  def create(keyName: String, roles: Seq[String], createdBy: String,
             tenant: String): Key = lock.synchronized {
    val now = System.currentTimeMillis()
    val key = Key(newKeyId(), UUID.randomUUID().toString, keyName, roles,
      createdBy, tenant, now, now)
    save(load() + (key.keyId -> key))
    // the key principal authorizes through its assigned roles
    val _ = Rbac.assignRoles(principal(key.keyId), roles)
    key
  }

  def get(tenant: String, keyId: String): Option[Key] =
    lock.synchronized(load().get(keyId).filter(_.tenant == tenant))

  def list(tenant: String): Seq[Key] =
    lock.synchronized(load().values.filter(_.tenant == tenant)
      .toSeq.sortBy(_.keyId))

  def delete(tenant: String, keyId: String): Option[Key] =
    lock.synchronized {
      val m = load()
      m.get(keyId).filter(_.tenant == tenant).map { k =>
        save(m - keyId)
        Rbac.revoke(principal(k.keyId))
        val _ = Rbac.assignRoles(principal(k.keyId), Seq.empty)
        k
      }
    }

  /** Token → principal (the key's own identity), for `x-api-key` auth. */
  def authenticate(token: String): Option[(String, String)] =
    lock.synchronized(load().values.find(_.apiKey == token)
      .map(k => (principal(k.keyId), k.tenant)))

  def validInTenant(token: String, tenant: String): Boolean =
    lock.synchronized(
      load().values.exists(k => k.apiKey == token && k.tenant == tenant))

  def tenantOfPrincipal(user: String): Option[String] =
    if (!user.startsWith("apikey:")) None
    else lock.synchronized(
      load().get(user.stripPrefix("apikey:")).map(_.tenant))

  def principal(keyId: String): String = s"apikey:$keyId"

  def masked(k: Key): String =
    if (k.apiKey.length >= 4) "****" + k.apiKey.takeRight(4) else "****"

  def toJson(k: Key, mask: Boolean): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("keyId", k.keyId)
      .put("apiKey", if (mask) masked(k) else k.apiKey)
      .put("keyName", k.keyName)
      .put("createdBy", k.createdBy)
      .put("createdAt", java.time.Instant.ofEpochMilli(k.createdAt).toString)
      .put("modifiedAt", java.time.Instant.ofEpochMilli(k.modifiedAt).toString)
    val arr = o.putArray("roles"); k.roles.foreach(arr.add)
    o
  }
}
