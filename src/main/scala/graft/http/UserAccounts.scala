package graft.http

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.SecureRandom
import java.util.Base64

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.engine.SmallFiles
import graft.query.Rbac

/** Dynamic native-user accounts (reference `src/handlers/http/rbac.rs` +
  * `src/rbac/user.rs`): users created over HTTP with a server-generated
  * password, PBKDF2-hashed at rest, tenant-stamped at creation. These
  * merge with the statically-configured `users` map for Basic auth; the
  * static users are the "root"-provisioned ones — protected from
  * delete / password reset / role mutation over this surface, exactly as
  * the reference's `DisAllowRootUser` middleware shields its root user.
  */
final class UserAccounts(root: String) {

  private val mapper = new ObjectMapper()
  private val rng = new SecureRandom()
  private val lock = new Object
  private val file: Path = Paths.get(root, ".users", "accounts.json")

  private final case class Account(tenant: String, hash: String)

  // ---------------------------------------------------------- store I/O

  private def load(): Map[String, Account] =
    if (!Files.isRegularFile(file)) Map.empty
    else {
      val node = mapper.readTree(Files.readString(file, UTF_8))
      node.properties().asScala.map { e =>
        e.getKey -> Account(
          e.getValue.path("tenant").asText(""),
          e.getValue.path("hash").asText(""))
      }.toMap
    }

  private def save(m: Map[String, Account]): Unit = {
    val o = mapper.createObjectNode()
    m.foreach { case (u, a) =>
      o.putObject(u).put("tenant", a.tenant).put("hash", a.hash)
    }
    SmallFiles.publishLocal(file, mapper.writeValueAsString(o))
  }

  // ----------------------------------------------------------- passwords

  private val Iterations = 20000

  private def pbkdf2(password: String, salt: Array[Byte],
                     iters: Int): Array[Byte] = {
    val spec = new javax.crypto.spec.PBEKeySpec(
      password.toCharArray, salt, iters, 256)
    javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
      .generateSecret(spec).getEncoded
  }

  private def hashPassword(password: String): String = {
    val salt = new Array[Byte](16)
    rng.nextBytes(salt)
    val dk = pbkdf2(password, salt, Iterations)
    val b64 = Base64.getEncoder
    s"pbkdf2$$$Iterations$$${b64.encodeToString(salt)}$$${b64.encodeToString(dk)}"
  }

  private def verifyHash(password: String, stored: String): Boolean =
    stored.split("\\$") match {
      case Array("pbkdf2", iters, saltB64, dkB64) =>
        try {
          val salt = Base64.getDecoder.decode(saltB64)
          val expect = Base64.getDecoder.decode(dkB64)
          java.security.MessageDigest.isEqual( // constant-time
            pbkdf2(password, salt, iters.toInt), expect)
        } catch { case _: Exception => false }
      case _ => false
    }

  private def genPassword(): String = {
    val b = new Array[Byte](16)
    rng.nextBytes(b)
    Base64.getUrlEncoder.withoutPadding.encodeToString(b)
  }

  // ------------------------------------------------------------- surface

  /** Create a user in a tenant; returns the generated password (shown
    * once, like the reference — only the hash is stored).
    */
  def create(user: String, tenant: String): Either[String, String] =
    lock.synchronized {
      val m = load()
      if (m.contains(user)) Left(s"user '$user' already exists")
      else {
        val password = genPassword()
        save(m + (user -> Account(tenant, hashPassword(password))))
        Right(password)
      }
    }

  /** Reset to a fresh generated password; returns it. */
  def resetPassword(user: String): Either[String, String] =
    lock.synchronized {
      val m = load()
      m.get(user) match {
        case None => Left(s"user '$user' does not exist")
        case Some(a) =>
          val password = genPassword()
          save(m + (user -> a.copy(hash = hashPassword(password))))
          Right(password)
      }
    }

  def delete(user: String): Boolean = lock.synchronized {
    val m = load()
    if (!m.contains(user)) false
    else {
      save(m - user)
      Rbac.revoke(user)
      val _ = Rbac.assignRoles(user, Seq.empty)
      true
    }
  }

  def exists(user: String): Boolean = lock.synchronized(load().contains(user))

  def verify(user: String, password: String): Boolean = lock.synchronized {
    load().get(user).exists(a => verifyHash(password, a.hash))
  }

  def tenantOfUser(user: String): Option[String] =
    lock.synchronized(load().get(user).map(_.tenant))

  def list(tenant: String): Seq[String] = lock.synchronized {
    load().collect { case (u, a) if a.tenant == tenant => u }.toSeq.sorted
  }
}
